package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-17 optimization evidence dumper: runs ONE bench phase under
  * Bench's session and writes `explain("formatted")` output for EVERY
  * SQL action the phase executes (collects, counts, and — the part a
  * final-frame explain cannot show — each per-hop/per-layer
  * `localCheckpoint` job, which all route through `Dataset.withAction`
  * and hence fire the QueryExecutionListener). The committed
  * before/after files under plans/r17/ come from this tool.
  *
  * {{{ sbt "runMain graft.tools.PlanDump s22_layered_search /root/testdata/sf0.1 plans/r17/s22_layered_search_after.txt" }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: PlanDump <phaseName> [sfDir] [outFile]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(2).getOrElse(s"plans/r17/$name.txt")
    val spark = graft.Bench.session()
    graft.Bench.warmUp(spark, sfDir)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var recording = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (recording)
          plans.add(s"==== action: $funcName (${durationNs / 1000000} ms) ====\n" +
            qe.explainString(
              org.apache.spark.sql.execution.FormattedMode) + "\n")
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    val declared = graft.SparkEntry.queries.get(name)
      .orElse(graft.Queries.benchOnly.get(name))
      .map(fn => () => { graft.Bench.materialize(fn(spark, sfDir)); () })
    val buildPhase = if (declared.isDefined) None
      else graft.Bench.artifactPhases(spark, sfDir).toMap.get(name)
        .map(fn => () => { fn(); () })
    val run: () => Unit = declared.orElse(buildPhase)
      .getOrElse(sys.error(s"unknown phase '$name'"))

    // Untimed prerequisite pass (memoized artifacts build here), then
    // the recorded pass — so the dump shows the phase's OWN plan work,
    // not its prerequisites' (the TimeQuery discipline).
    run()
    graft.Bench.evictArtifacts(spark, sfDir, name)
    recording = true
    run()
    recording = false
    // Listener callbacks are asynchronous; drain the bus before reading
    // the plans. A drain that times out throws rather than writing a
    // truncated plan set.
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

    import scala.jdk.CollectionConverters._
    val body = plans.asScala.toSeq.mkString("\n")
    val header = s"# $name @ $sfDir — ${plans.size()} SQL actions\n\n"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outFile).toAbsolutePath.getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (header + body).getBytes("UTF-8"))
    println(s"[plandump] wrote ${plans.size()} plans to $outFile")
    spark.stop()
  }
}
