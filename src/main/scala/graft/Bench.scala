package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall time plus shuffle telemetry
  * (total + max single-stage shuffle-write bytes — the reference's
  * headline metric, `/root/reference/README.md:74-77`). */
object Bench {

  /** Cumulative JVM GC milliseconds — the telemetry that ATTRIBUTES a
    * wall-time outlier (round 12: n02 samples spread 9.4-40.8 s in one
    * run with code and shuffle constant; whether that is GC pressure
    * from the session's accumulated artifacts or scheduler/JIT swing
    * is exactly what per-sample gc deltas decide). */
  private[graft] def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Sink defeating dead-code elimination of the probe loops; the xor
    * of per-thread LCG states is never read for its value (atomic only
    * so the concurrent accumulate is well-defined). */
  private val probeSink = new AtomicLong(0L)

  /** Fixed-work host-health probe (round-15 directive): a deterministic
    * parallel CPU spin — `threads` dependent-chain LCG loops of `iters`
    * steps each, no allocation, no Spark — whose wall time measures the
    * HOST's sustained-parallel throughput and nothing else (~25-40 ms
    * nominal here). Recorded next to gc_ms per phase and per rerun
    * sample, it makes a wall-time flag machine-adjudicable: a flagged
    * phase whose probe readings are inflated too is the host degrading
    * (the r15 q20/t46/d12s/d13s/d18s class — the builder measured the
    * session host's parallel throughput collapsing 2-4x late-session on
    * byte-identical code), not the code. */
  private[graft] def hostProbeMillis(threads: Int = 8,
      iters: Long = 20000000L): Long = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < iters) {
          x = x * 6364136223846793005L + 1442695040888963407L
          i += 1
        }
        probeSink.getAndAccumulate(x, _ ^ _): Unit
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1000000
  }

  /** THE measurement session config, shared with
    * [[graft.tools.TimeQuery]] so a per-query diagnostic sample is
    * comparable to a driver bench reading BY CONSTRUCTION — a config
    * line added here reaches both surfaces (the round-12 review found
    * the two copies already one drift away from diverging).
    *
    * Defaults to the documented driver environment (local[32]); override
    * with SPARK_GRAFT_CPUS for constrained local runs. Shuffle
    * parallelism is decoupled: at bench scale (sf0.1) stages are small,
    * so fewer, fuller shuffle tasks beat one-per-core scheduling
    * overhead — while scans/maps still use every core. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the JIT/codegen paths so the first measured query isn't
    * charged session bring-up — once for the relational path, once for
    * the NND iteration machinery (whose generated code dominates the
    * run-to-run variance of n01/s03 when cold). A directory without
    * `lineitem.parquet` (a ScaleGen tier holds embeddings only) skips the
    * relational half. Shared with TimeQuery, like [[session]]. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val lineitem = new org.apache.hadoop.fs.Path(sfDir, "lineitem.parquet")
    if (!lineitem.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lineitem))
      System.err.println(s"[bench] warm-up: no $lineitem, skipping the q01 half")
    else try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: $e")
    }
    try {
      import org.apache.spark.sql.functions.col
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("features"))
        .limit(256)
      graft.nnd.NND.buildGraph(e, graft.nnd.NND.Params(k = 5, maxIterations = 2)).count()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: $e")
    }
  }

  /** Parse a prior bench artifact's per-phase medians. Accepts both
    * shapes in the repo: the raw bench line (top-level `queries` of
    * plain numbers) and the driver's per-round wrapper, whose reliable
    * machine part is the compact line under `parsed.queries` (the
    * wrapper's `tail` holds a truncated stdout copy of the full line).
    * Any read/parse failure degrades to an empty map, never a crashed
    * bench. */
  private[graft] def loadPriorQueries(p: java.nio.file.Path): Map[String, Double] =
    try {
      import org.json4s._
      val j = jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))
      val q = (j \ "queries") match {
        case JObject(f) if f.nonEmpty => JObject(f)
        case _ => j \ "parsed" \ "queries"
      }
      def num: PartialFunction[JValue, Double] = {
        case JDouble(v) => v
        case JInt(v) => v.toDouble
        case JLong(v) => v.toDouble
        case JDecimal(v) => v.toDouble
      }
      q match {
        case JObject(fields) => fields.collect {
          case (k, v) if num.isDefinedAt(v) => k -> num(v)
        }.toMap
        case _ => Map.empty
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] prior-bench parse failed ($p): $e")
      Map.empty
    }

  /** The newest driver-written `BENCH_r<N>.json` in `dir`, with its
    * round number — the source of the compact line's carried keys. */
  private[graft] def newestDriverBench(dir: java.nio.file.Path):
      Option[(Int, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    val re = "BENCH_r(\\d+)\\.json".r
    try java.nio.file.Files.list(dir).iterator().asScala
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
        .map(m => (m.group(1).toInt, p)))
      .toSeq.sortBy(-_._1).headOption
    catch { case _: Throwable => None }
  }

  /** Prior per-phase medians for the regression guard, with the name
    * of the file they came from: the path in SPARK_GRAFT_BENCH_PREV
    * when set, else the committed full bench line
    * `bench_baseline.json` in `dir`. Nothing writes that file at run
    * time; re-baselining commits a new one. Crashed medians (-1) are
    * not priors. A missing, unreadable or empty prior is None, said
    * on stderr with the path. */
  private[graft] def priorMedians(
      explicit: Option[String],
      dir: java.nio.file.Path = java.nio.file.Paths.get(".")):
      Option[(String, Map[String, Double])] = {
    val p = explicit.map(java.nio.file.Paths.get(_))
      .getOrElse(dir.resolve("bench_baseline.json"))
    val m =
      if (!java.nio.file.Files.isRegularFile(p)) Map.empty[String, Double]
      else loadPriorQueries(p).filter(_._2 >= 0)
    if (m.nonEmpty) Some(p.getFileName.toString -> m)
    else {
      System.err.println(s"[bench] NO regression prior: $p is missing, " +
        "unreadable or holds no phase medians")
      None
    }
  }

  /** The regression rule: a phase flags when its current median
    * exceeds 1.5x its prior one and the prior is >= 0.5 s (below
    * that, scheduler noise dominates and ratios are meaningless). A
    * phase that CRASHED (median -1) against ANY valid prior flags
    * unconditionally with verdict "failed" — working-to-failing is the
    * one regression a ratio can never show (round-15 ADVICE finding),
    * and the noise floor gates only RATIO flags: a crash is a crash
    * whether the phase took 0.2 s or 20 (round-16 ADVICE finding).
    *
    * Adjudication is mechanical, in two stages. First the
    * min-of-samples statistic (round-15 directive): when the phase's
    * FASTEST sample still ran at prior speed (min <= 1.25x prev), the
    * code still reaches its prior performance and the median is
    * reporting the host — verdict "host-swing" (the r15 d13_skewed
    * exhibit: samples [2.77..40.36] with the first reps AT the r14
    * level). Second — the round-16 judge finding that min-of-samples
    * alone fails under SUSTAINED session degradation, where every
    * sample's wall is inflated (the r16 n10 exhibit: min 3.18 = 1.28x
    * against reruns whose paired probes read 159/88/284 ms vs the
    * 33 ms session nominal; the written adjudication rule closed the
    * flag, but the verdict field never applied it) — the verdict
    * CONSUMES the per-sample host probes it records: each run-order
    * (wall, probe_ms) sample whose probe exceeds 1.5x the session
    * nominal is probe-NORMALIZED (wall x nominal/probe — the
    * fixed-work spin measures the host's parallel-throughput loss,
    * which the Spark stages share), and the min/median are recomputed
    * over the adjusted samples. A phase whose adjusted min reaches
    * 1.25x prior or adjusted median falls back inside 1.5x closes as
    * "host-swing"; only a phase degraded on healthy-probe samples too
    * is "code-suspect". Single-sample phases carry one (wall, probe)
    * pair, so a genuine flag there stays code-suspect unless its own
    * probe says otherwise.
    *
    * Input: (phase, median, min-of-samples) plus the run-order
    * (wall_s, probe_ms) samples per phase (crashed walls -1 are
    * skipped) and the session-nominal probe wall (median of every
    * probe this session; <= 0 disables normalization). Returns
    * (phase, prev, cur, min, verdict), current-order. */
  private[graft] def flagRegressions(
      current: Seq[(String, Double, Double)],
      prior: Map[String, Double],
      probed: Map[String, Seq[(Double, Long)]] = Map.empty,
      nominalProbeMs: Long = -1L):
      Seq[(String, Double, Double, Double, String)] =
    current.flatMap { case (name, med, mn) =>
      prior.get(name).collect {
        case prev if med < 0 =>
          (name, prev, med, mn, "failed")
        case prev if prev >= 0.5 && med > 1.5 * prev =>
          val verdict =
            if (mn <= 1.25 * prev) "host-swing"
            else {
              val adj = probed.getOrElse(name, Seq.empty)
                .collect { case (w, p) if w >= 0 =>
                  if (nominalProbeMs > 0 && p > 1.5 * nominalProbeMs)
                    w * nominalProbeMs.toDouble / p
                  else w
                }.sorted
              val aMed =
                if (adj.isEmpty) med
                else if (adj.size % 2 == 1) adj(adj.size / 2)
                else (adj(adj.size / 2 - 1) + adj(adj.size / 2)) / 2.0
              if (adj.nonEmpty &&
                  (adj.head <= 1.25 * prev || aMed <= 1.5 * prev))
                "host-swing"
              else "code-suspect"
            }
          (name, prev, med, mn, verdict)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    warmUp(spark, sfDir)
    val gcBase = gcMillis()

    // Prebuilt-artifact phases are timed as their own entries so the
    // declared queries measure what they claim: n02 measures the UPDATE
    // phase (its 80%-corpus prior graph is a deployment artifact, built
    // once), and s03 measures SEARCH (it reuses n01's graph, which n01
    // itself builds inside the timed loop — alphabetical order puts n01
    // before s03).
    // Full-materialization sink: `.count()` lets Catalyst PRUNE work
    // whose output the count doesn't need — a count over a window query
    // drops the whole Window operator (same row count without it), so
    // q11/q36-class queries were benching their scan, not their plan
    // (q36 shuffled 59 bytes at sf0.1 under count). The noop datasource
    // is the standard Spark benchmarking sink: every row is fully
    // materialized and discarded, nothing is pruned, nothing is
    // collected. (Switched in round 8 — per-query numbers for pruned
    // query classes step up accordingly; SURVEY §6 documents it.)
    val phases: Seq[(String, () => Long)] =
      artifactPhases(spark, sfDir) ++
        SparkEntry.queries.toSeq.sortBy(_._1)
          .map { case (name, fn) => name -> (() => materialize(fn(spark, sfDir))) } ++
        // Skew-inversion exhibits: df-capped exact join vs PPJoin prefix
        // filter on a hot-shingle corpus (shuffle bytes are the metric).
        Queries.benchOnly.toSeq.sortBy(_._1)
          .map { case (name, fn) => name -> (() => materialize(fn(spark, sfDir))) }
    runBench(spark, sfDir, phases, gcBase)
  }

  /** The prebuilt-artifact `*_build` phases, factored out of [[main]]
    * so [[graft.tools.TimeQuery]] can time them under the identical
    * definition (the round-16 judge had to write a throwaway main to
    * adjudicate n10/s14 because the diagnostic tool covered only
    * declared queries — the adjudication tooling now covers the phase
    * namespace the guard flags). Each phase prices ONE deployment
    * artifact's construction; the declared query of the same family
    * then measures the serve/verify over the memoized artifact. */
  private[graft] def artifactPhases(spark: SparkSession, sfDir: String):
      Seq[(String, () => Long)] =
      Seq(
        // The BASELINE-comparable K-NN construction number (the declared
        // n01 query is the pinned recall VERIFIER over this artifact).
        // count() here: the artifact is materialized (localCheckpoint)
        // inside buildGraph, so the measured work is the build itself.
        "n01_graph_build" -> (() => Queries.knnGraph(spark, sfDir).count()),
        "n02_prior_build" -> (() => Queries.n02Prior(spark, sfDir).count()),
        // The pruned-serving-artifact write (declared n09 serves from
        // the reloaded artifact; the prune itself is priced here, over
        // the memoized n01 graph).
        "n09_prune_build" -> (() => { Queries.prunedGraphPath(spark, sfDir); 0L }),
        // The partitioned-graph build (declared n10 measures the
        // partition-gated SEARCH over it).
        "n10_part_build" -> (() => Queries.partitionedGraph(spark, sfDir).count()),
        // The in-loop-pruned build (Vamana construction shape; the
        // declared n11 verifies recall + census over the artifact).
        // Directly comparable to n01_graph_build: same corpus, same
        // k/iterations, plus the per-iteration occlusion prune.
        "n11_inloop_build" -> (() => Queries.inLoopPrunedGraph(spark, sfDir).count()),
        // The on-disk IVF index write (declared s14 then measures the
        // pruned SERVE against the artifact, not construction).
        "s14_index_build" -> (() => { Queries.ivfIndexPath(spark, sfDir); 0L }),
        // The on-disk MinHash dedup-index write (declared d15 then
        // measures the batch SERVE against the artifact).
        "d15_index_build" -> (() => { Queries.minhashIndexPath(spark, sfDir); 0L }),
        // The on-disk line-inventory write (declared d26 then measures
        // the batch SERVE against the artifact).
        "d26_index_build" -> (() => { Queries.lineIndexPath(spark, sfDir); 0L }),
        // The IRLS training + model-artifact write (declared t31 then
        // VERIFIES the loaded model's scores; st20 serves it).
        "t31_model_build" -> (() => { Queries.qualityModelPath(spark, sfDir); 0L }),
        // The n18 PRIOR layer stack (the 80%-corpus hierarchy the
        // day's append arrives against — n02_prior as its base plus
        // the upper-layer NND builds), priced as its own phase so the
        // append phase below never times prior construction.
        "n18_prior_build" -> (() => { Queries.n18PriorBuild(spark, sfDir); 0L }),
        // The hierarchical-insert append (declared n18 then serves
        // THROUGH the memoized appended stack, the s03/n01 convention;
        // n19 reads its health card). Prices appendToGraphStack alone:
        // one beam search per (new point, layer) + per-layer
        // reverse-edge patches, over the prebuilt n18 prior stack.
        "n18_append_build" -> (() => { Queries.n18AppendBuild(spark, sfDir); 0L }),
        // The stack-consolidation refinement (declared n20 then serves
        // THROUGH the memoized consolidated stack — the s03/n01
        // convention). Prices consolidateStack alone: NN-descent over
        // the prebuilt n18 appended stack's lists with batch-incident
        // edges flagged fresh.
        "n20_cons_build" -> (() => { Queries.n20ConsBuild(spark, sfDir); 0L }),
        // The unigram-LM tokenizer training (declared t35 summarizes
        // the memoized vocabulary; t36/p03 encode with it — without
        // this phase the alphabetically-first consumer pays the train
        // and t35 times a memo hit).
        "t35_vocab_build" -> (() => { Queries.unigramVocabBuild(spark, sfDir); 0L }))

  /** The noop-datasource full-materialization sink (see the round-8
    * rationale at the [[main]] phase list). */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Long = {
    df.write.mode("overwrite").format("noop").save(); 0L
  }

  /** The session-artifact tag prefixes each memoizing phase builds —
    * evicted before each rerun sample so a median is over real builds,
    * not one build and cache hits. Shared with [[graft.tools.TimeQuery]]
    * and [[graft.tools.PlanDump]] (which must evict between their runs
    * for the same reason) through [[evictArtifacts]]. (The rebuilt
    * artifact re-memoizes, so later reruns of n01/n02/s03 still search
    * the prebuilt graph — the declared shape.) */
  private[graft] val artifactEvict: Map[String, Seq[String]] = Map(
    "n01_graph_build" -> Seq("n01_graph"),
    "n02_prior_build" -> Seq("n02_prior"),
    "n09_prune_build" -> Seq("pruned_graph"),
    "n10_part_build" -> Seq("n10_graph"),
    "n11_inloop_build" -> Seq("n11_graph"),
    "s14_index_build" -> Seq("ivf_index"),
    "d15_index_build" -> Seq("minhash_index"),
    "d26_index_build" -> Seq("line_index"),
    "j01_bucket_build" -> Seq("bucketed"),
    "n18_prior_build" -> Seq("n18_layer_", "n18_levels"),
    "n18_append_build" -> Seq("n18_app_layer_"),
    "n20_cons_build" -> Seq("n20_cons_layer_"),
    "t31_model_build" -> Seq("quality_model"),
    "t35_vocab_build" -> Seq("unigram_vocab"))

  /** Evict (and release) the session artifacts `phase` builds, so its
    * next run is a real build; a no-op for every other phase. */
  private[graft] def evictArtifacts(spark: SparkSession, sfDir: String,
      phase: String): Unit =
    artifactEvict.getOrElse(phase, Nil).foreach(prefix =>
      graft.core.SessionCache.evict(spark.sparkContext.applicationId,
        Queries.artifactTag(sfDir, prefix)))

  private def runBench(spark: SparkSession, sfDir: String,
      phases: Seq[(String, () => Long)], gcBase: Long): Unit = {
    // Per-phase host-health readings (pass 1) — the fixed-work CPU spin
    // recorded like gc_ms, destined for the durable bench.json.
    val probeLog = scala.collection.mutable.LinkedHashMap[String, Long]()
    val pass1 = phases.map { case (name, run) =>
      probeLog(name) = hostProbeMillis()
      // A crashed phase must record -1, never its time-to-failure: st28
      // broke at sf0.1 for half of round 15 and its "0.28 s" wall read
      // as a speedup instead of a failure (the silent-swallow hole).
      // The failure is caught inside the metered thunk, so the bytes
      // the phase shuffled before it failed are still recorded.
      val m = graft.core.StageMeter.measure(spark) {
        val t0 = System.nanoTime()
        try { run(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] PHASE FAILED $name: $e"); -1.0
        }
      }
      (name, m.value, m.shuffleBytes, m.maxStageShuffleBytes)
    }

    // Median-of-3 on the heaviest phases: in a shared JVM per-query wall
    // times swing 3–6× between identical-code runs (round 4: d04 27.3s →
    // 4.4s, d08 4.6s → 15.4s with zero code change), which makes
    // single-run per-query grading meaningless exactly where it matters.
    // The cheap majority stays single-pass; the top-10 by pass-1 time get
    // two more timed runs and report the median. Shuffle bytes are
    // plan-deterministic, so pass-1 values stand.
    val heavy = pass1.sortBy(-_._2).take(10).map(_._1).toSet
    val runFn = phases.toMap
    // Forced median-of-5 (with per-sample telemetry): the historical
    // diagnosis pair (st18: 32.9 s in r7, then 3.45 <-> 4.71 s across
    // r8/r9 with its code untouched; n02: 5.70 s in r9 -> 9.41 s in
    // r11, adjudicated as shared-JVM swing by overlapping 7-sample
    // A/B distributions) PLUS every phase whose pass-1 wall exceeds
    // 5 s. Round 13 made the case for the dynamic rule: the number of
    // record for t32_multiclass whipsawed 7.69 -> 17.17 s on
    // byte-untouched code because one median-of-3 rerun ate a
    // co-tenant burst (samples [9.44, 17.17, 68.78] with 38 ms GC) —
    // a median of 5 with durable samples absorbs one such burst and
    // leaves the outlier attributable instead of headline.
    val forcedStatic = Set("st18_stream_join_outer", "n02_knn_incremental")
    val forced = forcedStatic ++
      pass1.filter(_._2 > 5.0).map(_._1)
    // Per-sample telemetry destined for the DURABLE bench.json (round-1
    // lesson: stderr interleaves with Spark logging and may not survive
    // a round) — wall samples and per-rerun GC deltas per rerun query.
    val sampleLog = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val gcLog = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    // Per-rerun host-probe readings: one spin before each sample, so a
    // wall outlier within a sample array is attributable to the host
    // at THAT moment, not just to the session on average.
    val rerunProbeLog = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    // Run-order (wall, gc) per attempted rerun, index-aligned with
    // rerunProbeLog (crashed rerun: wall -1).
    val rerunDetailLog =
      scala.collection.mutable.LinkedHashMap[String, Seq[(Double, Long)]]()
    val results = pass1.map { case r @ (name, t1, sh, mx) =>
      if (!heavy(name) && !artifactEvict.contains(name) && !forced(name)) r
      else {
        // Median-of-3 for heavy queries; median-of-5 for the build
        // phases (the BASELINE-comparable numbers), whose iterative
        // JIT/GC profile still swung ~2× between median-of-3 runs, and
        // for the forced-telemetry set.
        val extra = if (artifactEvict.contains(name) || forced(name)) 4 else 2
        // A crashed rerun contributes NO sample (its time-to-crash is
        // not a build time); if every rerun fails, pass 1 stands.
        // Each sample carries its GC delta so a wall outlier is
        // attributable (collection pause vs scheduler/JIT swing).
        val probes = scala.collection.mutable.ArrayBuffer[Long]()
        // RUN-ORDER (wall, gc) per attempted rerun — aligned index-for-
        // index with `probes`, a crashed rerun holding wall -1 — so a
        // wall outlier in the durable record is attributable to the
        // probe reading taken at THAT moment (the sorted `samples`
        // array alone cannot be re-aligned with chronological probes).
        val runOrder = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
        val reruns = (1 to extra).flatMap { _ =>
          // Build phases memoize their artifact; evict it first.
          evictArtifacts(spark, sfDir, name)
          probes += hostProbeMillis()
          val g0 = gcMillis()
          val t0 = System.nanoTime()
          try {
            runFn(name)()
            val r = ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
            runOrder += r
            Some(r)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] rerun of $name failed: $e")
            runOrder += ((-1.0, gcMillis() - g0))
            None
          }
        }
        rerunProbeLog(name) = probes.toSeq
        rerunDetailLog(name) = runOrder.toSeq
        val gcs = reruns.map(_._2)
        if (gcs.nonEmpty) {
          System.err.println(s"[bench] $name rerun gc_ms=" +
            gcs.mkString("[", ",", "]"))
          gcLog(name) = gcs
        }
        // A crashed pass-1 run contributes NO sample either (its -1
        // marker is not a wall time and would drag the median/min).
        val ts = ((if (t1 >= 0) Seq(t1) else Seq.empty) ++
          reruns.map(_._1)).sorted
        sampleLog(name) = ts
        // True median: with an even surviving-sample count (a rerun
        // crashed), average the two middle values instead of always
        // taking the upper one — ts(n/2) alone is a systematic
        // slow-side bias. Every sample failing = the phase failed.
        val med =
          if (ts.isEmpty) -1.0
          else if (ts.size % 2 == 1) ts(ts.size / 2)
          else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
        // Per-sample telemetry (stderr, not the JSON line): the build
        // phases have swung 2-5x across rounds with the code untouched;
        // the individual samples make that variance diagnosable from
        // the round artifact instead of shrugged at.
        System.err.println(s"[bench] $name samples=" +
          ts.map(t => math.round(t * 100) / 100.0).mkString("[", ",", "]") +
          s" median=${math.round(med * 100) / 100.0}")
        (name, med, sh, mx)
      }
    }

    // --- Per-phase regression guard (round-15 directive) ---
    // The bench total has crept round-over-round while per-phase stayed
    // flat, and proving "nothing regressed" required hand-diffing two
    // top-10 lists. Self-attribute instead: load the committed
    // per-phase medians (`bench_baseline.json`, a full 32-core sf0.1
    // bench line; overridable via SPARK_GRAFT_BENCH_PREV), and flag
    // any phase whose current median exceeds 1.5x its prior one in a
    // durable `regressions` section carrying both values. Phases under
    // 0.5 s prior are exempt (scheduler noise dominates them); a flagged
    // phase still needs human adjudication (code change vs co-tenancy —
    // the per-sample arrays attribute that), but the DETECTION is now
    // mechanical. Any parse/read failure degrades to "no prior", never
    // to a crashed bench.
    val prevBench = priorMedians(sys.env.get("SPARK_GRAFT_BENCH_PREV"))
    val prevMedians = prevBench.map(_._2).getOrElse(Map.empty[String, Double])
    // Session-nominal probe (median of every reading, pass 1 + reruns)
    // and the run-order (wall, probe) samples per phase — pass 1's
    // single timed run paired with its pre-phase probe, then each
    // rerun paired with the probe taken at THAT moment — so the
    // verdict can probe-normalize a sustained-degradation session
    // instead of minting false code-suspect labels from it.
    val probeVals = (probeLog.values ++ rerunProbeLog.values.flatten).toSeq.sorted
    val probeMedian = if (probeVals.isEmpty) -1L else probeVals(probeVals.size / 2)
    val probedSamples: Map[String, Seq[(Double, Long)]] =
      pass1.map { case (name, t1, _, _) =>
        name -> (Seq(t1 -> probeLog.getOrElse(name, -1L)) ++
          rerunDetailLog.getOrElse(name, Seq.empty).map(_._1)
            .zip(rerunProbeLog.getOrElse(name, Seq.empty)))
      }.toMap
    val regressions = flagRegressions(
      results.map { case (name, med, _, _) =>
        // min-of-samples secondary statistic: the fastest surviving
        // sample (single-pass phases have exactly one).
        (name, med, sampleLog.get(name).flatMap(_.headOption).getOrElse(med))
      }, prevMedians, probedSamples, probeMedian)
    val regressionsJson = regressions.map {
      case (name, prev, cur, mn, verdict) =>
        val ratio =
          if (cur < 0) "\"failed\""
          else (math.round(cur / prev * 100) / 100.0).toString
        "\"" + name + "\":{\"prev\":" + (math.round(prev * 1000) / 1000.0) +
          ",\"cur\":" + (math.round(cur * 1000) / 1000.0) +
          ",\"ratio\":" + ratio +
          ",\"min\":" + (math.round(mn * 1000) / 1000.0) +
          ",\"verdict\":\"" + verdict + "\"}"
    }.mkString("{", ",", "}")
    regressions.foreach { case (name, prev, cur, mn, verdict) =>
      System.err.println(
        f"[bench] REGRESSION $name: $prev%.2f -> $cur%.2f s " +
          f"(min $mn%.2f, $verdict)")
    }

    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, b, _) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val mx = results.map { case (k, _, _, m) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalShuffle = results.map(_._3).sum
    // Whole-MEASUREMENT GC total, baselined after warm-up (gcBase):
    // collection time across pass 1 AND all reruns — a process-level
    // diagnostic, deliberately NOT a fraction of `total` (which sums
    // one median per phase while rerun-heavy phases execute up to 5x,
    // so gc_ms/total would overstate the share ~2x). Large absolute
    // values say the heap (SPARK_DRIVER_MEM, default 8g) is tight for
    // the session's accumulated artifacts; the per-sample deltas in
    // the stderr telemetry attribute any individual outlier.
    val gcTotal = gcMillis() - gcBase
    // Durable per-sample attribution (sorted wall samples and per-rerun
    // GC deltas for every rerun query): the stderr lines above are a
    // convenience, THIS is the record a later round diagnoses from.
    val samplesJson = sampleLog.map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => math.round(t * 1000) / 1000.0)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val rerunGcJson = gcLog.map { case (k, v) =>
      "\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Host-health record: per-phase pass-1 probe walls, per-rerun probe
    // arrays, and the session summary (median + max) a later round's
    // adjudication reads first — probe medians near the nominal ~25-40
    // ms with a flagged phase mean the host was healthy (code-suspect
    // stands); an inflated probe next to the inflated wall closes the
    // flag as host degradation, mechanically.
    val probeJson = probeLog.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rerunProbeJson = rerunProbeLog.map { case (k, v) =>
      "\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // The adjudication record: per rerun IN RUN ORDER, the aligned
    // [wall_s, gc_ms, probe_ms] triple (wall -1 = crashed rerun).
    val rerunDetailJson = rerunDetailLog.map { case (k, v) =>
      val probes = rerunProbeLog.getOrElse(k, Seq.empty)
      "\"" + k + "\":" + v.zipWithIndex.map { case ((w, g), i) =>
        s"[${math.round(w * 1000) / 1000.0},$g,${probes.lift(i).getOrElse(-1L)}]"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val probeMax = if (probeVals.isEmpty) -1L else probeVals.last
    val prevName = prevBench.map(_._1).getOrElse("none")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""shuffle_bytes":$sh,"max_stage_shuffle_bytes":$mx,""" +
      s""""total_shuffle_bytes":$totalShuffle,"gc_ms":$gcTotal,""" +
      s""""samples":$samplesJson,"rerun_gc_ms":$rerunGcJson,""" +
      s""""host_probe_ms":$probeJson,"rerun_probe_ms":$rerunProbeJson,""" +
      s""""rerun_detail":$rerunDetailJson,""" +
      s""""host_probe_median_ms":$probeMedian,"host_probe_max_ms":$probeMax,""" +
      s""""regressions":$regressionsJson,"prev_bench":"$prevName",""" +
      s""""sf":"$sfDir"}"""
    // Durable copy first: round 1 lost the stdout line to interleaved
    // logging, so the driver's parser got only a tail. The file is the
    // source of truth; stdout is printed after spark.stop() so no
    // executor/shutdown logging can splice into the line.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json"))
    java.nio.file.Files.write(outPath, (line + "\n").getBytes("UTF-8"))
    // The driver captures only a bounded stdout tail (~4 KB) and the full
    // line above grew past it two rounds running (69 queries x 3 maps ~8 KB,
    // so the tail started mid-line -> parsed:null). Emit the full line
    // first, then a compact (<1 KB) summary LAST so the machine-readable
    // line always fits the capture window: totals + the 10 slowest queries.
    //
    // Phantom-drop fix (round-17 VERDICT next-round #2): the driver's
    // PERF diff compares THIS compact map against the previous round's,
    // so a query that IMPROVES out of the top-10 used to vanish from the
    // map and get reported as "dropped_from_bench" (5 false drops in
    // r17, every one actually faster). Additions-only repair: the map
    // now carries the top-10 slowest PLUS every phase present in the
    // newest driver artifact's parsed map — a key, once emitted, never
    // leaves, so the cross-round diff is total over its own domain. The
    // carried-forward set is the compact top-10 lineage (~10-20 keys),
    // far under the capture window; timing methodology is untouched.
    val carried = newestDriverBench(java.nio.file.Paths.get("."))
      .map(n => loadPriorQueries(n._2).keySet).getOrElse(Set.empty[String])
    val keep = results.sortBy(-_._2).take(10).map(_._1).toSet ++ carried
    val slow = results.filter(r => keep.contains(r._1)).sortBy(-_._2)
    // Locale-independent 2-decimal rounding: the f-interpolator formats
    // with the JVM default locale (comma decimals on e.g. de_DE) and
    // its .toDouble would then throw before either line prints.
    val slowQs = slow.map { case (k, v, _, _) =>
      "\"" + k + "\":" + (math.round(v * 100) / 100.0)
    }.mkString("{", ",", "}")
    val maxStage = results.map(_._4).max
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$slowQs,"total_shuffle_bytes":$totalShuffle,""" +
      s""""max_stage_shuffle_bytes":$maxStage,"gc_ms":$gcTotal,""" +
      s""""n_queries":${SparkEntry.queries.size},"n_phases":${results.size},""" +
      s""""n_failed":${results.count(_._2 < 0)},""" +
      s""""n_regressions":${regressions.size},""" +
      s""""n_code_suspect":${regressions.count(_._5 != "host-swing")},""" +
      s""""host_probe_median_ms":$probeMedian,""" +
      s""""prev_bench":"$prevName",""" +
      s""""sf":"$sfDir","detail":"bench.json"}"""
    spark.stop()
    System.out.println(line)
    System.out.println(compact)
    System.out.flush()
  }
}
