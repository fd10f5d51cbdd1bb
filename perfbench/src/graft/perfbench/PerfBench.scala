package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.nnd.NND
import graft.ops.GraphSearch

/** The NND graph benchmark. One run = one workload at one seed:
  *
  *  - `build`:  `NND.buildGraph` over the generated corpus;
  *  - `update`: `NND.updateGraph` absorbing a 2% batch into a prior graph
  *              built during set-up.
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` reports the
  * per-layer metrics from spans the benchmark opens around its calls
  * (see README.md). Every output passes the correctness gate, and the
  * build and update graphs must hash to the same digest on every call
  * and every run with the same seed.
  *
  * Usage (normally through run.py): PerfBench --workload W --seed S
  *   --seconds T --trace 0|1 --cores C --tmp DIR --state DIR
  */
object PerfBench {

  // Sizing on 4 cores (README.md, "Sizing and noise"). At 4000 vectors
  // a build's tasks, not the driver, carry most of its wall; a larger
  // corpus would not fit a traced run in the time one run may take.
  // Update, whose set-up builds a prior graph three times, stays at 1000.
  val BuildN = 4000
  val UpdateN = 1000
  val K = 10
  val BuildParams = NND.Params(k = K, maxIterations = 5)
  val UpdateParams = NND.Params(k = K, maxIterations = 2)
  val UpperParams = NND.Params(k = 8, maxIterations = 3)
  val BatchShare = 50
  val QueryBatch = 16
  val QueryBatches = 2
  val SetupReps = 3
  /** Untimed calls before timing. After one, the measured calls still
    * got faster call by call, by up to 25% (JIT); after two they level. */
  val WarmUps = 2
  val MinCalls = 2
  val RecallSample = 200
  /** Recall floors of the gate. Over the fixed sample, lists measured
    * 0.998-1.0 while sizing. For update, the batch's rows measured
    * 0.98-0.99 and the old rows the batch must change 0.990-0.999. A call
    * that kept the prior lists scores at most 0.9 on those old rows, since
    * each misses at least one batch id. */
  val MinGraphRecall = 0.95
  val MinBatchRecall = 0.95
  val MinOldRecall = 0.95

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, tmp: String, state: String)

  /** Result of checking one output: violations (a recall below its
    * floor included), the reported recall, each named recall, and the
    * graph digest. */
  final case class Check(errors: Seq[String], recall: Double, parts: Seq[(String, Double)],
      digest: Option[String])

  /** One workload over `n` vectors: set-up builds its inputs and
    * artifacts, `call()` is the measured call (materialized on the
    * driver), `check` gates its graph. */
  abstract class Workload(val spark: SparkSession, val seed: Long, val tel: Telemetry, val n: Int) {
    import spark.implicits._

    def frame(ids: Seq[Long]): DataFrame =
      ids.map(id => (id, Gen.vector(seed, id))).toDF("id", "features")

    /** Benchmark-side copy of the corpus, for the gate and for truth. */
    val feats: Array[Array[Float]] = Gen.vectors(seed, 0L, n.toLong)
    def feat(id: Long): Array[Float] = feats(id.toInt)
    val ids: Seq[Long] = 0L until n.toLong
    val sample: Seq[Long] = ids.filter(_ % (n / RecallSample) == 0)

    /** Input of the workload's full `buildGraph`, for the nnd probes. */
    def buildInput: DataFrame
    def setup(): Unit
    def call(): Array[Row]
    /** Rows whose recall the gate measures, with their exact top-k, each
      * set with its floor. The first set is reported as `recall_at_10`. */
    def recallSets: Seq[(String, Map[Long, Array[Long]], Double)]
    protected lazy val sampleTruth = Gate.truthL2(feat, ids, sample, K)

    /** Checkpointed artifacts of the current set-up. */
    private var artifacts: Seq[DataFrame] = Nil
    private def keep(df: DataFrame): DataFrame = synchronized { artifacts :+= df; df }
    def release(): Unit = {
      artifacts.foreach(graft.core.Checkpoints.release)
      artifacts = Nil
    }

    def check(rows: Array[Row]): Check = {
      val g = Gate.lists(rows)
      val parts = recallSets.map { case (name, truth, floor) => (name, Gate.graphRecall(g, truth), floor) }
      val low = parts.collect { case (name, r, floor) if r < floor =>
        f"recall@$K of the $name rows $r%.4f below $floor" }
      Check(Gate.checkGraph(g, ids, feat, K) ++ low, parts.head._2,
        parts.map { case (name, r, _) => (name, r) }, Some(Gate.digest(g)))
    }

    def graph(in: DataFrame, p: NND.Params): DataFrame =
      tel.span("nnd.buildGraph") {
        keep(NND.buildGraph(in, p).filter(col("neighbors").isNotNull)
          .select("id", "neighbors").localCheckpoint())
      }

    /** HNSW-style layer stack over `corpus`, as the engine's serving
      * phases build it: the base graph plus a k=8 graph over each
      * `assignLayers` level, log4(n/16) levels. The layer builds are
      * independent, so they run as concurrent job chains. */
    def stack(corpus: DataFrame): Seq[DataFrame] = {
      val maxLevel = math.max(1, (math.log(n / 16.0) / math.log(4.0)).toInt)
      val levels = GraphSearch.assignLayers(corpus, maxLevel)
      graft.core.Par.map(0 to maxLevel, maxLevel + 1) { l =>
        if (l == 0) graph(corpus, BuildParams)
        else graph(corpus.join(levels.filter(col("level") >= l).select("id"), "id"), UpperParams)
      }
    }

    lazy val queryIds: Seq[Seq[Long]] =
      (0 until QueryBatches).map(b => (0 until QueryBatch).map(j => n.toLong + b * QueryBatch + j))
    lazy val queryFeats: Map[Long, Array[Float]] =
      queryIds.flatten.map(q => q -> Gen.vector(seed, q)).toMap
    lazy val queryTruth = Gate.truthCos(feat, ids, queryFeats, K)

    def search(stk: Seq[DataFrame], corpus: DataFrame, q: DataFrame, flat: Boolean): Array[Row] =
      if (flat)
        tel.span("gs.searchGraph") {
          GraphSearch.searchGraph(stk.head, corpus, q, k = K, beam = 8, hops = 2, seeds = 4)
            .collect()
        }
      else
        tel.span("gs.searchHierarchical") {
          GraphSearch.searchHierarchical(stk, corpus, q, k = K, beam = 8, hops = 2,
            entries = 4, upperBeam = 8, upperHops = 3, seeds = 4).collect()
        }

    /** Gate of a probe search over query batch `i`. Its recall is not
      * floored: it is reported as `gs.recall_at_10`. */
    def checkSearch(i: Int, rows: Array[Row]): Check = {
      val qs = queryIds(i).map(q => q -> queryFeats(q)).toMap
      val (errs, r) = Gate.checkSearch(rows, qs, feat, n.toLong, K,
        queryTruth.filter { case (q, _) => qs.contains(q) })
      Check(errs, r, Seq("queries" -> r), None)
    }
  }

  final class Build(spark: SparkSession, seed: Long, tel: Telemetry)
      extends Workload(spark, seed, tel, BuildN) {
    private var input: DataFrame = _
    def buildInput: DataFrame = input
    def setup(): Unit = input = frame(ids)
    def call(): Array[Row] = tel.span("nnd.buildGraph") {
      NND.buildGraph(input, BuildParams).select("id", "neighbors").collect()
    }
    lazy val recallSets = Seq(("sample", sampleTruth, MinGraphRecall))
  }

  final class Update(spark: SparkSession, seed: Long, tel: Telemetry)
      extends Workload(spark, seed, tel, UpdateN) {
    val batch: Set[Long] = Gen.pick(seed, n, n / BatchShare, 29L).toSet
    private var input: DataFrame = _
    private var old: DataFrame = _
    private var prior: DataFrame = _
    def buildInput: DataFrame = old
    def setup(): Unit = {
      input = frame(ids)
      old = frame(ids.filterNot(batch))
      prior = graph(old, BuildParams)
    }
    def call(): Array[Row] = tel.span("nnd.updateGraph") {
      NND.updateGraph(input, prior, UpdateParams).select("id", "neighbors").collect()
    }
    /** The rows the update must change: the batch's own, and the old rows
      * whose exact top-k holds a batch id. A call that kept the prior
      * lists would fail the `old` floor. The fixed sample checks the rest
      * of the graph. */
    lazy val recallSets = {
      val truth = Gate.truthL2(feat, ids, ids, K)
      val batchT = truth.filter { case (id, _) => batch(id) }
      val oldT = truth.filter { case (id, t) => !batch(id) && t.exists(batch) }
      Seq(("touched", batchT ++ oldT, math.min(MinBatchRecall, MinOldRecall)),
        ("batch", batchT, MinBatchRecall), ("old", oldT, MinOldRecall),
        ("sample", sampleTruth, MinGraphRecall))
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def say(msg: String): Unit = println(s"[perfbench] $msg")

  final case class Metric(name: String, value: Double, unit: String, n: Long)

  /** Everything a run produced, whatever the mode. */
  final class Run(val a: Args, val w: Workload, val tel: Telemetry) {
    /** Every output of the run, labelled, with the gate check that applies to it. */
    val outputs = mutable.ArrayBuffer[(String, () => Check)]()
    val probes = mutable.ArrayBuffer[Long]()
    val metrics = mutable.ArrayBuffer[Metric]()
    def metric(name: String, value: Double, unit: String, n: Long): Unit =
      metrics += Metric(name, value, unit, n)

    /** One workload call, with the host probe recorded next to it and
      * the bus drained on both sides. Returns the call's wall seconds. */
    def timedCall(label: String): Double = {
      val probe = graft.Bench.hostProbeMillis()
      probes += probe
      BusAccess.drain(w.spark.sparkContext)
      tel.reset()
      val t0 = System.nanoTime()
      val rows = w.call()
      val dt = secs(t0)
      BusAccess.drain(w.spark.sparkContext)
      outputs += ((label, () => w.check(rows)))
      val (sh, mx, pk) = tel.totals
      say(f"$label%-8s wall=$dt%.3f s shuffle=${sh / 1e6}%.3f MB max_stage=${mx / 1e6}%.3f MB " +
        f"peak_task_mem=${pk / 1e6}%.3f MB host_probe=$probe ms")
      dt
    }

    /** One set-up: generate the inputs and build the workload's artifacts. */
    def setupRep(r: Int): Double = {
      w.release()
      val t0 = System.nanoTime()
      w.tel.span("setup")(w.setup())
      val dt = secs(t0)
      say(f"setup rep $r: $dt%.3f s (inputs and artifacts)")
      dt
    }

    /** The untimed warm-up calls (JIT, codegen), charged to set-up. */
    def warmUp(): Double = (1 to WarmUps).map { r =>
      val t0 = System.nanoTime()
      val rows = w.tel.span("warmup")(w.call())
      val dt = secs(t0)
      outputs += ((s"warmup$r", () => w.check(rows)))
      say(f"warm-up call $r: $dt%.3f s")
      dt
    }.sum
  }

  /** The end-to-end run: set-up repeated, then calls for `seconds`. */
  def timed(run: Run): Unit = {
    import run._
    val setupS = median((1 to SetupReps).map(setupRep)) + warmUp()
    val walls = mutable.ArrayBuffer[Double]()
    val totals = mutable.ArrayBuffer[(Long, Long, Long)]()
    val t0 = System.nanoTime()
    while (walls.size < MinCalls || secs(t0) < a.seconds) {
      walls += timedCall(s"call${walls.size + 1}")
      totals += tel.totals
    }
    val n = walls.size.toLong
    metric("setup_s", setupS, "s", SetupReps)
    metric("wall_s", median(walls.toSeq), "s", n)
    metric("shuffle_mb", median(totals.map(_._1 / 1e6).toSeq), "MB", n)
    metric("max_stage_shuffle_mb", median(totals.map(_._2 / 1e6).toSeq), "MB", n)
    metric("peak_task_mem_mb", median(totals.map(_._3 / 1e6).toSeq), "MB", n)
  }

  /** The traced run: untraced and traced calls alternate in ABBA order,
    * so a JVM still warming up does not favour either side (their median
    * difference is the tracing overhead); then each layer is probed
    * inside its own span. */
  def traced(run: Run): Unit = {
    import run._
    val sc = w.spark.sparkContext
    tel.tracing = true
    setupRep(1)
    warmUp()
    val plain = mutable.ArrayBuffer[Double]()
    val spanned = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def one(traced: Boolean): Unit = {
      tel.tracing = traced
      if (traced) spanned += timedCall(s"traced${spanned.size + 1}")
      else plain += timedCall(s"untraced${plain.size + 1}")
    }
    while (spanned.size < 2 || secs(t0) < a.seconds) {
      val tracedFirst = spanned.size % 2 == 1
      one(tracedFirst)
      one(!tracedFirst)
    }
    tel.tracing = true
    val callName = w match {
      case _: Build => "nnd.buildGraph"
      case _: Update => "nnd.updateGraph"
    }
    val callSpans = tel.spans.filter(s => s.name == callName && s.parent == -1).toSeq

    // nnd: init alone (no refinement iterations), then refine = full - init.
    def probe[A](reps: Int)(f: => A): Seq[Double] = (1 to reps).map { _ =>
      val t = System.nanoTime(); f; secs(t)
    }
    val init = tel.span("probe.nnd") {
      probe(2)(tel.span("nnd.buildGraph.init") {
        NND.buildGraph(w.buildInput, BuildParams.copy(maxIterations = 0))
          .select("id", "neighbors").collect()
      })
    }
    val full = w match {
      case _: Build => callSpans.map(_.wallS)
      case _: Update => tel.span("probe.nnd")(probe(1)(w.graph(w.buildInput, BuildParams)))
    }
    metric("nnd.init_s", median(init), "s", init.size)
    metric("nnd.refine_s", median(full) - median(init), "s", full.size)

    // gs: over a layer stack of the workload's corpus, the base layer
    // searched alone, and the descent above it. Every search is gated.
    val corpus = w.frame(w.ids)
    val layers = tel.span("probe.stack")(w.stack(corpus))
    val queries = w.queryIds.map(w.frame)
    def searches(flat: Boolean, batches: Int): Seq[(Double, Check)] = tel.span("probe.gs") {
      (0 until batches).map { i =>
        val t = System.nanoTime()
        val rows = w.search(layers, corpus, queries(i), flat)
        val dt = secs(t)
        val c = w.checkSearch(i, rows)
        outputs += ((s"probe.${if (flat) "searchGraph" else "searchHierarchical"}${i + 1}", () => c))
        (dt, c)
      }
    }
    val base = searches(flat = true, QueryBatches)
    val hier = searches(flat = false, 1)
    metric("gs.base_ms", median(base.map(_._1)) * 1e3, "ms", base.size)
    metric("gs.descent_ms", (median(hier.map(_._1)) - median(base.map(_._1))) * 1e3, "ms", hier.size)
    metric("gs.recall_at_10", hier.map(_._2.recall).sum / hier.size, "ratio", hier.size * QueryBatch)

    val (sim, (reduce, merge)) = tel.span("probe.kernels")((Micro.l2Sim(a.seed), Micro.topK(a.seed)))
    metric("similarity.l2sim_ns", sim._1, "ns", sim._2)
    metric("topk.reduce_ns", reduce._1, "ns", reduce._2)
    metric("topk.merge_ns", merge._1, "ns", merge._2)

    // Engine and layer counters of the workload's own call.
    BusAccess.drain(sc)
    val st = callSpans.map(s => (s, tel.statsOf(s)))
    val n = st.size.toLong
    def med(name: String, unit: String)(f: (Span, SpanStats) => Double): Unit =
      metric(name, median(st.map { case (s, x) => f(s, x) }), unit, n)
    med("par.job_overlap", "ratio")((_, x) => x.jobMs.toDouble / math.max(1L, x.busyMs))
    med("ckpt.mb", "MB")((_, x) => x.blockBytes / 1e6)
    med("spark.jobs", "count")((_, x) => x.jobs)
    med("spark.stages", "count")((_, x) => x.stages)
    med("spark.tasks", "count")((_, x) => x.tasks.toDouble)
    med("spark.driver_gap_s", "s")((s, x) => s.wallS - x.busyMs / 1e3)
    med("spark.sched_delay_s", "s")((_, x) => x.schedMs / 1e3)
    med("spark.deser_s", "s")((_, x) => x.deserMs / 1e3)
    med("spark.task_run_s", "s")((_, x) => x.runMs / 1e3)
    med("spark.task_cpu_s", "s")((_, x) => x.cpuNs / 1e9)
    med("spark.core_util", "ratio")((s, x) => x.runMs / 1e3 / (s.wallS * a.cores))
    med("spark.shuffle_write_mb", "MB")((_, x) => x.shuffleWrite / 1e6)
    med("spark.shuffle_read_mb", "MB")((_, x) => x.shuffleRead / 1e6)
    med("spark.fetch_wait_s", "s")((_, x) => x.fetchWaitMs / 1e3)
    med("spark.gc_s", "s")((_, x) => x.gcMs / 1e3)
    med("spark.spill_mb", "MB")((_, x) => x.spill / 1e6)
    metric("trace.overhead_s", median(spanned.toSeq) - median(plain.toSeq), "s",
      math.min(plain.size, spanned.size).toLong)
  }

  private def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not a number")
    x.toString
  }

  /** Spans with their attributed counters, and the per-layer table with
    * base counts, written once when the run ends. */
  private def writeTrace(run: Run, path: java.nio.file.Path): Unit = {
    val t0 = run.tel.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = run.tel.spans.map { s =>
      val x = run.tel.statsOf(s)
      s"""{"id":${s.id},"name":${json(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${num((s.startNs - t0) / 1e6)},"end_ms":${num((s.endNs - t0) / 1e6)},""" +
        s""""jobs":${x.jobs},"stages":${x.stages},"tasks":${x.tasks},"task_run_ms":${x.runMs},""" +
        s""""shuffle_write_bytes":${x.shuffleWrite},"block_bytes":${x.blockBytes}}"""
    }
    val layers = run.metrics.map(m =>
      s"""${json(m.name)}:{"value":${num(m.value)},"unit":${json(m.unit)},"n":${m.n}}""")
    val body = s"""{"workload":${json(run.a.workload)},"seed":${run.a.seed},"n":${run.w.n},""" +
      s""""cores":${run.a.cores},"host_probe_ms":${run.probes.mkString("[", ",", "]")},""" +
      s""""per_layer":${layers.mkString("{", ",", "}")},"spans":${spans.mkString("[\n", ",\n", "]")}}"""
    java.nio.file.Files.write(path, (body + "\n").getBytes("UTF-8"))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val need = Seq("workload", "seed", "seconds", "trace", "cores", "tmp", "state")
    require(argv.length == 2 * need.size && need.forall(m.contains),
      s"usage: PerfBench ${need.map(k => s"--$k V").mkString(" ")}")
    require(Set("build", "update")(m("workload")), s"unknown workload ${m("workload")}")
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("tmp"), m("state"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.tmp)
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tel = new Telemetry(spark.sparkContext)
    spark.sparkContext.addSparkListener(tel)
    val w = a.workload match {
      case "build" => new Build(spark, a.seed, tel)
      case _ => new Update(spark, a.seed, tel)
    }
    say(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"n=${w.n} dim=${Gen.Dim} clusters=${Gen.Clusters} k=$K master=local[${a.cores}] " +
      s"shuffle_partitions=${a.cores} heap=${Runtime.getRuntime.maxMemory >> 20} MiB")
    val run = new Run(a, w, tel)
    val crash =
      try { if (a.trace) traced(run) else timed(run); None }
      catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }

    // Gate every output, then the determinism check over graph digests.
    val checks = run.outputs.map { case (label, check) => (label, check()) }
    val failed = checks.count { case (label, c) =>
      c.errors.foreach(e => say(s"GATE FAIL $label: $e"))
      say(s"gate $label: ${if (c.errors.isEmpty) "pass" else "FAIL"}, recall@$K " +
        c.parts.map { case (name, r) => f"$name=$r%.4f" }.mkString(" "))
      c.errors.nonEmpty
    } + crash.size
    val digests = checks.flatMap(_._2.digest).distinct
    val digestFile = java.nio.file.Paths.get(a.state, s"${a.workload}-seed${a.seed}.digest")
    val deterministic = digests.size <= 1 && digests.headOption.forall { d =>
      if (java.nio.file.Files.exists(digestFile))
        new String(java.nio.file.Files.readAllBytes(digestFile), "UTF-8").trim == d
      else { java.nio.file.Files.write(digestFile, d.getBytes("UTF-8")); true }
    }
    if (digests.nonEmpty)
      say(s"graph digest ${digests.mkString(", ")} " +
        (if (deterministic) "(identical on every call and every run with this seed)"
         else s"DIFFERS from other calls or from $digestFile"))
    val measured = checks.filter(_._1.startsWith("call"))
    if (measured.nonEmpty)
      run.metric("recall_at_10", measured.map(_._2.recall).sum / measured.size, "ratio",
        measured.size.toLong)
    val attempted = run.outputs.size + crash.size
    say(s"failed_ratio=$failed/$attempted")
    if (a.trace) {
      val path = java.nio.file.Paths.get(a.state, s"trace-${a.workload}-seed${a.seed}.json")
      writeTrace(run, path)
      run.metrics.foreach(m => say(f"${m.name}%-22s ${m.value}%14.6f ${m.unit}%-6s n=${m.n}"))
      say(s"spans written to $path")
    }
    spark.stop()
    val correct = failed == 0 && deterministic && crash.isEmpty
    val metrics = if (crash.isDefined) Nil else run.metrics.toSeq
    val entries = metrics.map(m =>
      s"""${json(m.name)}:{"value":${num(m.value)},"unit":${json(m.unit)}}""")
    println(s"""{"correct":$correct,"attempted":${math.max(1, attempted)},"failed":$failed,""" +
      s""""metrics":${entries.mkString("{", ",", "}")}}""")
    sys.exit(if (correct) 0 else 1)
  }
}
