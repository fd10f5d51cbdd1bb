package graft

/** Physical-plan audits: the optimizations we rely on for scale must
  * actually appear in the executed plans (SURVEY.md §4). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = Queries.all(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The final plan of a plan string, with every `+- == Initial Plan ==`
    * section cut out. AQE prints the final and the initial plan, and so
    * does each cached table's plan nested in it: cutting the string at
    * its first marker, a nested table's, would drop the rest of the
    * outer final plan, and keeping a nested initial section would count
    * its operators twice. A section ends at the first tree edge (`+- `
    * or `:- `) that is not indented past its marker; lines that are not
    * edges, such as a multi-line literal's, end nothing. */
  private def finalPlan(p: String): String = {
    val edge = "^[ :]*?[+:]- ".r
    p.split("\n").foldLeft((Vector.empty[String], -1)) { case ((kept, cut), l) =>
      val at = edge.findPrefixOf(l).map(_.length - 3)
      if (cut >= 0 && at.forall(_ > cut)) (kept, cut)
      else if (at.exists(l.startsWith("+- == Initial Plan ==", _))) (kept, at.get)
      else (kept :+ l, -1)
    }._1.mkString("\n")
  }

  /** Runs `body` with a QueryExecutionListener attached and returns
    * every executed plan it produced. The listener rides the async
    * shared bus, so after `body` returns we drain the bus via
    * `waitUntilEmpty` — a fixed-interval quiescence poll can declare
    * the stream quiet while events are still queued, making the
    * assertions pass vacuously. */
  private def capturedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      plans.toArray(Array.empty[String]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("q02: filter and projection push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)")
      || p.contains("GreaterThanOrEqual(l_quantity"), s"no pushed filters:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"),
      s"scan reads more columns than the projection needs:\n$p")
  }

  test("q08: dimension joins broadcast") {
    val p = plan("q08_star_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to sort-merge:\n$p")
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation:\n$p")
  }

  test("q04: semi join stays a join (no subquery materialization)") {
    val p = plan("q04_semi_join")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
  }

  test("q27: range join plans as a hash join, not a nested loop") {
    val p = plan("q27_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
  }

  test("d05: LSH embedding pairs plan as a bucket equi-join — no cartesian, no nested loop") {
    val p = plan("d05_embedding_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate join degenerated to an all-pairs plan:\n$p")
  }

  test("d02: the df-capped shingle join keeps partial aggregation on the df count") {
    val p = plan("d02_jaccard_pairs")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"df computation lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"shingle join degenerated:\n$p")
  }

  test("NND rho<1: no per-iteration window sort (count-conditioned hash filter instead)") {
    // Capture every executed plan during a rho<1 build; the reverse
    // sample must never plan a WindowExec (the old row_number form's
    // full shuffle+sort).
    import org.apache.spark.sql.functions.col
    val plans = capturedPlans {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("features"))
      graft.nnd.NND.buildGraph(emb,
        graft.nnd.NND.Params(k = 5, maxIterations = 2, sampleRate = 0.5)).count()
    }
    val windowed = plans.filter(_.contains("Window"))
    assert(windowed.isEmpty,
      s"rho-sampling still plans a window sort:\n${windowed.headOption.getOrElse("")}")
  }

  test("NND gather: narrow rows exchange once by src, features join in after it " +
      "with no exchange or sort before the local join") {
    import org.apache.spark.sql.functions.col
    val plans = capturedPlans {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("features"))
      graft.nnd.NND.buildGraph(emb, graft.nnd.NND.Params(k = 5, maxIterations = 1)).count()
    }
    val fin = plans.map(finalPlan)
    val localJoin = fin.filter(p => p.contains("MapGroups") && p.contains("isNew") &&
      p.contains("hashpartitioning(src"))
    assert(localJoin.nonEmpty, s"no local-join plan captured:\n${fin.mkString("\n---\n")}")
    localJoin.foreach { p =>
      assert("Exchange hashpartitioning\\(src".r.findAllIn(p).size == 1,
        s"the adjacency rows must be exchanged by src exactly once:\n$p")
      val (groups, join) = (p.indexOf("MapGroups"), p.indexOf("BroadcastHashJoin"))
      assert(join > groups, s"the features join is not a broadcast join below the groups:\n$p")
      val between = p.substring(groups, join)
      assert(!between.contains("Exchange") && !between.contains("Sort"),
        s"an exchange or sort sits between the features join and the local join:\n$p")
      // The per-task top-k fold sits directly on the group function, with
      // no (de)serialization between them: candidates are never encoded.
      val lines = p.split("\n")
      val g = lines.indexWhere(_.contains("MapGroups"))
      assert(g > 0 && lines(g - 1).contains("MapPartitions"),
        s"the local join's candidates do not pass straight into MapPartitions:\n$p")
    }
  }

  test("NND merge: per-task buffers exchange by source into the slot fold, " +
      "with no aggregate or sort") {
    import org.apache.spark.sql.functions.col
    val plans = capturedPlans {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("features"))
      graft.nnd.NND.buildGraph(emb, graft.nnd.NND.Params(k = 5, maxIterations = 1)).count()
    }
    // A merge plan exchanges (src, buffer) rows by source; the merge is
    // everything above that exchange, and its input everything below.
    // Top-k folds, the merge's own and the per-task ones, emit those
    // rows as tuples.
    val exchange = "Exchange hashpartitioning(_1"
    val fold = "MapPartitions .*obj#\\d+: scala\\.Tuple2".r
    val merges = plans.map(finalPlan(_).split("\n"))
      .filter(_.exists(_.contains(exchange)))
      .map(_.span(!_.contains(exchange)))
    // One merge for the init draws, one for iteration 1.
    assert(merges.size == 2, s"expected 2 merge plans, got:\n" +
      merges.map { case (m, in) => (m ++ in).mkString("\n") }.mkString("\n---\n"))
    merges.foreach { case (above, below) =>
      val m = (above :+ below.head).mkString("\n")
      Seq("ObjectHashAggregate", "SortAggregate", "Sort [").foreach { op =>
        assert(!m.contains(op), s"the merge plans $op:\n$m")
      }
      assert(m.contains(exchange) && fold.findFirstIn(m).isDefined,
        s"the merge does not exchange the buffers by source into the slot fold:\n$m")
      // Old lists enter as they are: the fold below the exchange is the
      // fresh candidates' only (the init draws', or the local join's).
      val in = below.mkString("\n")
      assert(fold.findAllIn(in).size == 1,
        s"expected exactly one top-k fold below the merge's exchange:\n$in")
    }
  }

  test("bucketed tables co-locate the join: no exchange before the sort-merge") {
    import org.apache.spark.sql.functions._
    val o = Queries.t(spark, sf0001, "orders")
    val l = Queries.t(spark, sf0001, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      // No exchange on the JOIN keys (the later groupBy exchange on
      // o_orderpriority is expected and unrelated).
      assert(!p.contains("Exchange hashpartitioning(l_orderkey")
        && !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles on the join keys:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucketed features store: the per-hop fetch keeps the corpus side " +
      "exchange-free in the shuffle-join regime (the 384-d flip answer)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ft = Queries.featuresTableName(spark, sf0001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // -1 = the regime every dimension hits at 100 TB: the corpus
      // NEVER broadcasts, so the per-hop candidates-to-features join
      // is always a shuffle join — the question is which SIDES
      // exchange. With the id-bucketed store, the features scan
      // carries HashPartitioning(id) through searchGraph's
      // alias-preserving projections, so only the candidate sliver
      // shuffles; the raw-parquet corpus pays one more exchange on
      // the same key.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Trivial adjacency: at hops = 0 searchGraph's plan is exactly
      // one seed draw + one per-hop fetch join (the graph subtree is
      // never referenced), which isolates the join under audit.
      val g = Seq((0L, Seq((0L, 1.0)))).toDF("id", "neighbors")
        .withColumn("neighbors", transform(col("neighbors"),
          x => struct(x("_1").as("id"), x("_2").as("similarity"))))
      val q = spark.table(ft).limit(2)
      def searchPlan(corpus: org.apache.spark.sql.DataFrame): String = {
        val r = graft.ops.GraphSearch.searchGraph(g, corpus, q, k = 3,
          beam = 4, hops = 0, seeds = 4)
        r.collect()
        r.queryExecution.executedPlan.toString
      }
      val bucketed = searchPlan(spark.table(ft))
      val raw = searchPlan(
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("features")))
      def nNodeExchanges(p: String): Int =
        "Exchange hashpartitioning\\(node".r.findAllIn(finalPlan(p)).size
      assert(bucketed.contains("Bucketed: true"),
        s"features scan not bucket-aware:\n$bucketed")
      assert(nNodeExchanges(bucketed) == nNodeExchanges(raw) - 1,
        "the bucketed corpus side must skip exactly its features " +
          s"exchange (bucketed=${nNodeExchanges(bucketed)}, " +
          s"raw=${nNodeExchanges(raw)}):\n$bucketed")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q32/hashSample: the md5 split predicate is a pure scan-side filter (no shuffle, no UDF)") {
    val df = graft.ops.Sampling.hashSample(
      spark.read.parquet(s"$sf0001/orders.parquet"), "o_orderkey", 0.2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"hashSample must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"hashSample must be codegen'd, not a UDF:\n$p")
  }

  test("s05: quantized candidate scoring broadcasts the query side") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("features"))
    val df = graft.ops.SimilaritySearch.quantizedTopK(
      e, e.filter("id < 5"), 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"candidate scan fell back to sort-merge:\n$p")
  }

  test("d09: benchmark gram set broadcasts — corpus gram join never sort-merges") {
    val p = plan("d09_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus gram stream shuffled for the overlap join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc counts lost map-side combine:\n$p")
  }

  test("t11/packChunks: no global window sort — the prefix sum is a distributed scan") {
    // Capture every plan executed inside packChunks; none may contain a
    // WindowExec (the single-task Window.orderBy running-total shape).
    import org.apache.spark.sql.functions._
    val plans = capturedPlans {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .withColumn("n_tokens", size(split(col("text"), " ")))
      graft.ops.Packing.packChunks(docs, "doc_id", "n_tokens", 256).collect()
    }
    val windowed = plans.filter(_.contains("Window"))
    assert(windowed.isEmpty,
      s"packChunks planned a window sort:\n${windowed.headOption.getOrElse("")}")
  }

  test("m05: phash banding plans as an equi-join — no cartesian, no nested loop") {
    val p = plan("m05_phash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phash block join degenerated to an all-pairs plan:\n$p")
  }

  test("t17: mixture stats aggregate with map-side combine and a broadcast target join") {
    // mixturePlan aggregates the corpus EAGERLY (driver-collected
    // stats; the returned plan frame is local), so the audit captures
    // the plans executed during the call rather than the returned
    // frame's plan.
    val plans = capturedPlans {
      Queries.all("t17_mixture_plan")(spark, sf0001).collect()
    }
    assert(plans.exists(p => p.contains("partial_count") || p.contains("partial_sum")),
      s"stratum stats lost map-side combine:\n${plans.mkString("\n---\n")}")
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      s"target table not broadcast:\n${plans.mkString("\n---\n")}")
  }

  test("d10: survivor selection keeps partial aggregation on the max_by") {
    val p = plan("d10_dedup_survivors")
    assert(p.contains("partial_max_by"),
      s"survivor max_by lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"survivor join degenerated:\n$p")
  }

  test("whole-stage codegen spans cover the scan-filter-project pipelines") {
    val p = plan("q02_filter_project")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      s"filter not inside a codegen span:\n$p")
  }

  test("t20: the chunker is a pure projection — zero exchanges") {
    val p = plan("t20_chunk_windows")
    assert(!p.contains("Exchange"), s"chunkWindows shuffled:\n$p")
  }

  test("t46: HTML extraction is a pure projection — zero exchanges, no UDF") {
    val p = plan("t46_html_extract")
    assert(!p.contains("Exchange"), s"extractMainContent shuffled:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"extraction fell out of codegen'd built-ins:\n$p")
  }

  test("t48/t49: URL curation is a pure projection — zero exchanges, no UDF") {
    for (name <- Seq("t48_url_normalize", "t49_domain_gate")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffled:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$name fell out of codegen'd built-ins:\n$p")
    }
  }

  test("d22: per-URL dedup shuffles once, on the canonical URL key") {
    val p = plan("d22_url_dedup")
    val fin = finalPlan(p)
    assert(fin.contains("Exchange hashpartitioning(norm_url"),
      s"d22 must group on norm_url:\n$p")
    assert(fin.split("Exchange hashpartitioning").length - 1 == 1,
      s"d22 must shuffle exactly once:\n$p")
    assert(fin.contains("partial_min"),
      s"d22 lost map-side combine:\n$p")
  }

  test("d23: probed benchmark broadcasts — the corpus never shuffles by content, " +
      "one exchange for the per-doc agg") {
    import org.apache.spark.sql.functions.col
    val e = Queries.augEmb(spark, sf0001)
    val bench = e.filter(col("id") < 1000000L && col("id") % 20 === 0)
    val corpus = e.filter(col("id") >= 1000000L || col("id") % 20 =!= 0)
    val df = graft.ops.Decontaminate
      .semanticOverlap(corpus, bench, "id", "features", 0.9)
    df.collect()
    val fin = finalPlan(df.queryExecution.executedPlan.toString)
    assert(fin.contains("BroadcastHashJoin"),
      s"bench probes must broadcast-join:\n$fin")
    assert(!fin.contains("SortMergeJoin") && !fin.contains("CartesianProduct"),
      s"corpus must not shuffle into the join:\n$fin")
    assert(fin.split("Exchange hashpartitioning").length - 1 == 1,
      s"exactly one content shuffle (the per-doc agg):\n$fin")
    assert(fin.contains("partial_max") || fin.contains("partial_count"),
      s"per-doc agg lost map-side combine:\n$fin")
  }

  test("t50: rank-table lookups stay codegen'd — no UDF, no cartesian, " +
      "map-side combine on the per-query aggs") {
    val fin = finalPlan(plan("t50_ranked_eval"))
    assert(!fin.contains("ScalaUDF") && !fin.contains("BatchEvalPython"),
      s"t50 fell out of codegen'd built-ins:\n$fin")
    assert(!fin.contains("CartesianProduct"), s"t50 planned a cartesian:\n$fin")
    assert(fin.contains("partial_min") || fin.contains("partial_count"),
      s"t50 lost map-side combine:\n$fin")
  }

  test("m08: WARC serialize+parse+census shuffles once, on the segment key") {
    val fin = finalPlan(plan("m08_warc_census"))
    // The parse itself is a mapPartitions projection — the only
    // content shuffles are buildFiles' per-segment groupBy and the
    // census's count_distinct rewrite (Expand + one record-stream
    // shuffle — the standard exact-distinct price; the census is a
    // diagnostic, the p10 PIPELINE consumes the parse without it).
    assert(fin.contains("Exchange hashpartitioning(path"),
      s"m08 must group on the segment key:\n$fin")
    assert(fin.split("Exchange hashpartitioning").length - 1 == 2,
      s"m08 must shuffle exactly twice (segment groupBy + distinct rewrite):\n$fin")
    assert(!fin.contains("ScalaUDF") && !fin.contains("BatchEvalPython"),
      s"m08 fell out of codegen'd built-ins:\n$fin")
  }

  test("p06/p07: selection pipelines carry no cartesian product, no UDF") {
    // Both compose iterative/checkpointed stages, so the single
    // executedPlan string covers only the FINAL job — the pin is the
    // absence of the two unconditional scale-breakers in what it does
    // cover (the summary joins; the 1-row crossJoins must plan as
    // broadcast nested-loop over one row, never CartesianProduct).
    for (name <- Seq("p06_central_select", "p07_web_assembly")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$name uses a UDF:\n$p")
    }
  }

  test("t19: the vocabulary table broadcasts — the token stream never shuffles by content") {
    // The frequency-table AGGREGATION shuffles on term (vocab-bounded,
    // fine); the score JOIN must not — it broadcasts the vocab side.
    val p = plan("t19_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), s"vocab table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"token stream shuffled for the score join:\n$p")
    assert(p.contains("partial_sum"), s"per-doc sums lost map-side combine:\n$p")
  }

  test("t25: the bigram model table broadcasts — the bigram stream never shuffles by content") {
    // Same contract as t19 one order up: model-table aggregations may
    // shuffle (bigram-vocabulary-bounded), the scoring join must not.
    val p = plan("t25_bigram_logprob")
    assert(p.contains("BroadcastHashJoin"), s"bigram model not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"per-doc sums lost map-side combine:\n$p")
  }

  test("t27: one exchange by group — threshold extraction adds no self-join or second shuffle") {
    val p = plan("t27_quantile_filter")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"quantile threshold planned as a join instead of a window:\n$p")
    // One shuffle on source for the window family; the rank and both
    // window aggregates share it.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan(p)).size
    assert(exchanges == 1, s"expected exactly 1 group exchange, got $exchanges:\n$p")
  }

  test("d12: span df and per-doc counts keep map-side combine; no all-pairs plan") {
    val p = plan("d12_dupspan_stats")
    assert(p.contains("partial_count"), s"span df lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup-span join degenerated:\n$p")
  }

  test("t21: BM25 top-k is TakeOrdered, the df table broadcasts") {
    val p = plan("t21_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"BM25 top-k is not a bounded per-partition heap:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df table not broadcast:\n$p")
  }

  test("t23: RRF fusion keeps map-side combine and a TakeOrdered top-k") {
    val p = plan("t23_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"fused top-k is not a bounded per-partition heap:\n$p")
    assert(p.contains("partial_sum"), s"fusion sum lost map-side combine:\n$p")
  }

  test("j01: pre-bucketed join runs with no join-side exchange; raw twin shuffles both") {
    val bucketed = Queries.benchOnly("j01_bucketed_join")(spark, sf0001)
    bucketed.collect()
    val p = bucketed.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still exchanges a join side:\n$p")
    val shuffled = Queries.benchOnly("j01_shuffled_join")(spark, sf0001)
    shuffled.collect()
    val p2 = shuffled.queryExecution.executedPlan.toString
    assert(p2.contains("Exchange hashpartitioning(l_orderkey")
      && p2.contains("Exchange hashpartitioning(o_orderkey"),
      s"raw twin did not shuffle both sides (exhibit vacuous):\n$p2")
  }

  test("partitionBy-written dataset prunes partitions at the scan") {
    // The other classic scan lever next to j01's bucketing: a dataset
    // written partitionBy(event_type) must answer a type-filtered query
    // by LISTING only the matching directory — PartitionFilters in the
    // scan, non-matching partitions never opened.
    val dir = java.nio.file.Files.createTempDirectory("graft_partby")
    try {
      spark.read.parquet(s"$sf0001/events.parquet")
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(dir.toString)
      val q = spark.read.parquet(dir.toString)
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .groupBy(org.apache.spark.sql.functions.col("user_id")).count()
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(event_type")
        || p.contains("PartitionFilters: [(event_type"),
        s"no partition filter at the scan:\n$p")
      // The pruned scan must touch only the one matching directory.
      val scanned = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
        .mkString
      assert(!scanned.contains("event_type=click"),
        s"non-matching partition listed in the scan:\n$scanned")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("t24: DSIR log-ratio table broadcasts; top-n is TakeOrdered") {
    val p = plan("t24_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"log-ratio table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"token stream shuffled for the weight join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection is not a bounded per-partition heap:\n$p")
  }

  test("t31: classifier featurization is a pure projection — zero exchanges") {
    // The documented trade: per-doc RLE over the hashed bucket array
    // instead of the corpus-wide explode+groupBy shuffle. The claim
    // must hold in the physical plan, not just the scaladoc.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.ops.Classifier.hashedDocFeatures(
      docs, org.apache.spark.sql.functions.col("lang") === "en",
      "doc_id", "text", 64)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"featurization shuffled:\n$p")
  }

  test("t31: the IRLS statistics pass keeps map-side partial aggregation") {
    // The per-iteration stats shuffle is dim-bounded ONLY because the
    // (dim+1)(dim+4)/2-key aggregation combines map-side; a plan
    // without partial_sum would shuffle one row per doc-pair-contrib.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plans = capturedPlans {
      graft.ops.Classifier.trainQuality(docs,
        org.apache.spark.sql.functions.col("lang") === "en",
        dim = 32, iters = 1)
    }
    val statsPlans = plans.filter(_.contains("partial_sum"))
    assert(statsPlans.nonEmpty,
      s"no stats aggregation with map-side combine found in:\n${plans.mkString("\n---\n")}")
  }

  test("t33: the blocklist gate is a pure projection — zero exchanges") {
    // The bounded dictionary folds into the projection as a literal
    // array; a plan with a join or exchange would mean the corpus
    // moved for a hundred-term list.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.ops.TextAnalysis.blocklistFlags(
      docs, Seq("spark", "vector", "scan"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"blocklist gate shuffled or joined:\n$p")
  }

  test("t37: the Gopher rule gate is a pure projection — zero exchanges") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.ops.TextAnalysis.gopherRules(docs,
      stopWords = Seq("the", "a", "of", "and", "in"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"rule gate shuffled or joined:\n$p")
  }

  test("t42/t43: both Gopher repetition halves are pure projections — zero exchanges") {
    // Repetition (n-gram or structural) is a within-document property;
    // a plan with an exchange or join would mean the token/line stream
    // moved across the wire to answer a per-row question.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for (df <- Seq(graft.ops.TextAnalysis.repetitionRules(docs),
        graft.ops.TextAnalysis.lineDupRules(docs))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"repetition gate shuffled or joined:\n$p")
    }
  }

  test("t53: the fertility census shuffles once, on the language key only") {
    // One scan computing per-doc integers inside the projection, then
    // ONE partial-agg'd groupBy on lang: a second exchange or any join
    // would mean per-doc rows moved for a languages-sized answer.
    val p = finalPlan(plan("t53_fertility"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"fertility census joined:\n$p")
    assert(p.contains("partial_count"),
      s"no partial aggregation before the exchange:\n$p")
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"),
      s"scan must prune to exactly (text, lang):\n$p")
  }

  test("d25: the benchmark line set is broadcast — the corpus is never sort-merge-joined") {
    // The d09/d19 carrier contract at line granularity: the scrub
    // decision must be a broadcast semi-join probing corpus lines in
    // place. A SortMergeJoin anywhere in the scrub would mean the
    // corpus line stream shuffled by content for an eval-suite-sized
    // membership test.
    val plans = capturedPlans {
      Queries.all("d25_line_decontaminate")(spark, sf0001).collect()
    }
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      "no broadcast join appeared in the d25 scrub")
    val smjOnLine = plans.filter(p =>
      p.contains("SortMergeJoin") && p.contains("line"))
    assert(smjOnLine.isEmpty,
      s"corpus lines were sort-merge-joined:\n${smjOnLine.headOption.getOrElse("")}")
  }

  test("t38: weighted sampling is a bounded TakeOrdered, not a window or full sort") {
    val df = Queries.all("t38_weighted_sample")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"selection is not a bounded per-partition heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("SortExec"),
      s"selection fell back to a window/full sort:\n$p")
  }

  test("q38: unpivot is a pure Expand projection — zero exchanges") {
    val df = Queries.all("q38_unpivot")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), s"no Expand in the melt plan:\n$p")
    assert(!p.contains("Exchange"), s"melt shuffled:\n$p")
  }

  test("d16: the snapshot diff joins manifests, not documents") {
    // Both sides must project to (doc_id, md5) BEFORE the full-outer
    // join: no raw `text` attribute may cross an exchange.
    val df = Queries.all("d16_corpus_diff")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"document text crossed an exchange: $cols")
    }
  }

  test("d15: the index serve never re-shingles the corpus side") {
    // The serve plan's leaves must read the on-disk artifact (shingles/
    // buckets parquet) for the corpus side — the whole point of the
    // persisted index; only the incoming batch flows through the
    // shingle/minhash projection.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val p = java.nio.file.Files.createTempDirectory("minhash_idx_plan").toString
    graft.ops.Dedup.saveMinhashIndex(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      p, "doc_id", "text")
    val served = graft.ops.Dedup.minhashPairsFromIndex(
      spark, p, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      "doc_id", "text", 0.7)
    served.collect()
    val leaves = served.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(leaves.contains("shingles") && leaves.contains("buckets"),
      s"serve plan does not scan the persisted artifact:\n$leaves")
  }

  test("q43: the stats branch reads the checkpointed hour counts, not the corpus") {
    // The per-hour count table is localCheckpoint'd so BOTH join sides
    // are ExistingRDD scans of the few-KB materialized counts — the
    // flagged output and its 3-scalar baseline cost ONE corpus scan
    // total (inside the checkpoint job). Without the checkpoint the
    // stats branch re-derives its lineage: a second full events scan.
    val df = Queries.all("q43_rate_anomaly")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"q43's flagging join re-scanned the corpus:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats frame should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"unexpected heavyweight operator in the flagging join:\n$p")
  }
}
