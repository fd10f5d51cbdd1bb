package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.nnd.NND

/** Degenerate-input robustness for the library entry points. */
class EdgeCasesSpec extends SparkSpec {

  import spark.implicits._

  private def mkNodes(n: Int) = {
    val rows = (0 until n).map(i => (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f)))
    rows.toDF("id", "features")
  }

  test("NND: fewer nodes than K still produces a complete graph") {
    val out = NND.buildGraph(mkNodes(3), NND.Params(k = 10, maxIterations = 2))
    val got = out.select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(_.getLong(0)).toSet))
      .toMap
    assert(got.size == 3)
    // every node should know both others (only 2 candidates exist)
    got.foreach { case (id, nbrs) =>
      assert(nbrs.exists(_.nonEmpty), s"node $id has no neighbors")
      assert(!nbrs.get.contains(id))
    }
  }

  test("NND: single node yields null neighbors, not a crash") {
    val out = NND.buildGraph(mkNodes(1), NND.Params(k = 5, maxIterations = 2))
    assert(out.count() == 1)
  }

  test("NND: all rows finished passes everything through") {
    val out = NND.buildGraph(mkNodes(5).withColumn("finished", lit(true)),
      NND.Params(k = 3, maxIterations = 2))
    assert(out.count() == 5)
    assert(out.filter(col("neighbors").isNotNull).count() == 0)
  }

  test("NND: two logical partitions build disjoint graphs") {
    val parted = mkNodes(40).withColumn("partition", col("id") % 2)
    val out = NND.buildGraph(parted, NND.Params(k = 3, maxIterations = 2))
    val part = out.select("id", "partition").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.select("id", "neighbors").collect().foreach { r =>
      Option(r.getSeq[Row](1)).getOrElse(Seq.empty).foreach { nb =>
        assert(part(nb.getLong(0)) == part(r.getLong(0)))
      }
    }
  }

  test("buildGraph rejects malformed inputs with clear messages") {
    val noFeatures = mkNodes(5).drop("features")
    val e1 = intercept[IllegalArgumentException] {
      NND.buildGraph(noFeatures)
    }
    assert(e1.getMessage.contains("features"))
    val e2 = intercept[IllegalArgumentException] {
      NND.buildGraph(mkNodes(5), NND.Params(k = 0))
    }
    assert(e2.getMessage.contains("k must be positive"))
  }

  test("approximate aggregates land within tolerance of exact") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val (approx, exact) = (
      li.agg(approx_count_distinct("l_partkey").as("a")).head().getLong(0),
      li.select("l_partkey").distinct().count())
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx_count_distinct $approx vs exact $exact")
    val (p50a, p50e) = (
      li.agg(percentile_approx(col("l_quantity"), lit(0.5), lit(1000))).head().getDouble(0),
      li.selectExpr("percentile(l_quantity, 0.5)").head().getDouble(0))
    assert(math.abs(p50a - p50e) <= 1.0, s"approx p50 $p50a vs exact $p50e")
  }

  test("connected components: empty edge set, empty node set, self-loops") {
    import graft.ops.Components
    val noEdges = Components.connectedComponents(
      Seq(1L, 2L).toDF("id"), spark.emptyDataFrame.select(lit(0L).as("u"), lit(0L).as("v")).limit(0))
      .as[(Long, Long)].collect().toMap
    assert(noEdges == Map(1L -> 1L, 2L -> 2L))
    val empty = Components.connectedComponents(
      Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(empty.count() == 0)
    val selfLoop = Components.connectedComponents(
      Seq(5L).toDF("id"), Seq((5L, 5L)).toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    assert(selfLoop == Map(5L -> 5L))
  }

  test("quantizedTopK rejects an all-zero sampled corpus; sampling rejects bad fractions") {
    val zeros = Seq((0L, Array(0f, 0f)), (1L, Array(0f, 0f))).toDF("id", "features")
    val err = intercept[IllegalArgumentException] {
      graft.ops.SimilaritySearch.quantizedTopK(zeros, zeros, 1)
    }
    assert(err.getMessage.contains("degenerate"), err.getMessage)
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.hashSample(Seq(1L).toDF("id"), "id", 1.5)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.splitByHash(Seq(1L).toDF("id"), "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("dedup and text ops handle short/empty-ish texts") {
    val df = Seq((1L, "one"), (2L, "two words"), (3L, "three word text"),
      (4L, "three word text")).toDF("doc_id", "text")
    val ex = graft.ops.Dedup.exact(df, "doc_id", "text").collect()
    assert(ex.length == 3)
    val pairs = graft.ops.Dedup.jaccardPairs(df, "doc_id", "text", 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
    val stats = graft.ops.TextAnalysis.tokenStats(df).select("n_tokens").as[Int].collect()
    assert(stats.sorted.toSeq == Seq(1, 2, 3, 3))
  }

  test("banded embedding pairs: empty input, single row, and invalid thresholds") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "features")
    assert(graft.ops.Dedup.embeddingPairsBanded(empty, "id", "features", 0.9).count() == 0)
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "features")
    assert(graft.ops.Dedup.embeddingPairsBanded(one, "id", "features", 0.5).count() == 0)
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.embeddingPairsBanded(one, "id", "features", 1.5)
    }
    // Identical vectors pair at a near-1 threshold (cosine computes as
    // dot/(sqrt(d)*sqrt(d)) = 1 - 1ulp, so exactly-1.0 is degenerate
    // for the unbanded scan too — parity is what matters).
    val twins = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f)))
      .toDF("id", "features")
    def pairsAt(t: Double) =
      graft.ops.Dedup.embeddingPairsBanded(twins, "id", "features", t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(0.999) == Set((1L, 2L)), s"exact twins lost: ${pairsAt(0.999)}")
    val unbandedAt1 = graft.ops.Dedup.embeddingPairs(twins, "id", "features", 1.0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(1.0) == unbandedAt1, "banded must match unbanded at the degenerate threshold")
  }

  test("packing family: empty input, single doc, and over-wide budgets") {
    import graft.ops.Packing
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(Packing.packChunks(empty, "doc_id", "n_tokens", 256).count() == 0)
    assert(Packing.chunkManifest(
      Packing.packChunks(empty, "doc_id", "n_tokens", 256), "doc_id", 256).count() == 0)
    assert(Packing.globalRank(empty, Seq(col("doc_id"))).count() == 0)
    // One doc smaller than the budget: one chunk holding it entirely.
    val one = Seq((7L, 10L)).toDF("doc_id", "n_tokens")
    val m = Packing.chunkManifest(
        Packing.packChunks(one, "doc_id", "n_tokens", 256), "doc_id", 256)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(m == Seq((0L, 1L, 7L, 7L, 10L)))
    intercept[IllegalArgumentException] {
      Packing.packChunks(one, "doc_id", "n_tokens", 0)
    }
  }

  test("mixture family: empty targets and zero-weight targets are rejected") {
    import graft.ops.Sampling
    val df = Seq((1L, "en", 5L)).toDF("doc_id", "lang", "n")
    intercept[IllegalArgumentException] {
      Sampling.mixturePlan(df, "lang", col("n"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Sampling.executeMixture(df, "lang", "doc_id", col("n"), Seq("en" -> 0.0))
    }
  }

  test("phash family: empty blobs hash to zero; hamming bound validated") {
    import graft.ops.Multimodal
    assert(Multimodal.phashKernel(Array.emptyByteArray) == 0L)
    val media = Seq((1L, Array.emptyByteArray)).toDF("doc_id", "media")
    assert(Multimodal.perceptualHash(media).collect()(0).getLong(1) == 0L)
    intercept[IllegalArgumentException] {
      Multimodal.phashPairs(media, 4)
    }
  }

  test("heavy hitters: capacity below the guarantee line is rejected") {
    import graft.ops.HeavyHitters
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      HeavyHitters.frequentTerms(df, split(col("text"), " "), 1L, 100L, capacity = 50)
    }
  }

  test("clusterSurvivors: members missing from the score frame still count and never win") {
    import graft.ops.Dedup
    // Two exact-duplicate docs (one near-dup cluster) + one singleton;
    // only doc 2 and the singleton carry scores.
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (9L, "omega")).toDF("doc_id", "text")
    val scores = Seq((2L, 0.1), (9L, 0.9)).toDF("doc_id", "score")
    val got = Dedup.clusterSurvivors(docs, "doc_id", "text", 0.7, scores)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3))))
      .toMap
    // Cluster {1,2}: the unscored doc 1 ranks at -inf, so scored doc 2
    // wins despite its low score — and n_members still counts both.
    assert(got(1L) == ((2L, Some(0.1), 2L)), s"got ${got(1L)}")
    assert(got(9L) == ((9L, Some(0.9), 1L)))
    // An entirely unscored cluster keeps its lowest id with null score.
    val none = Dedup.clusterSurvivors(docs, "doc_id", "text", 0.7,
        Seq.empty[(Long, Double)].toDF("doc_id", "score"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.isNullAt(2), r.getLong(3)))).toMap
    assert(none(1L) == ((1L, true, 2L)) && none(9L) == ((9L, true, 1L)))
  }

  test("updateGraph validates inputs and handles an all-finished increment") {
    val built = graft.nnd.NND.buildGraph(
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f)))
        .toDF("id", "features"),
      graft.nnd.NND.Params(k = 2, maxIterations = 2))
    intercept[IllegalArgumentException] {
      graft.nnd.NND.updateGraph(Seq(1).toDF("nope"), built)
    }
    intercept[IllegalArgumentException] {
      graft.nnd.NND.updateGraph(built.select("id", "features"), built.select("id"))
    }
    // Everything finished: null neighbors across the board, no crash.
    val fin = Seq((1L, Array(1.0f, 0.0f), true)).toDF("id", "features", "finished")
    val out = graft.nnd.NND.updateGraph(fin, built.select("id", "neighbors"))
    assert(out.count() == 1 && out.filter(col("neighbors").isNull).count() == 1)
  }

  test("updateGraph purges a point finished between build and update from every list") {
    // 20 points on a line; point 7 is retired (finished=true) in the
    // update input. Its own row must come back with null neighbors AND
    // no other node's list may still reference it — the round-8 defect
    // was exactly that stable lists carried it through verbatim and
    // the merge re-admitted it as an old candidate.
    val pts = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f)))
    val built = NND.buildGraph(pts.toDF("id", "features"),
      NND.Params(k = 4, maxIterations = 3))
    assert(built.select("id", "neighbors")
      .select(explode(col("neighbors")).as("nb"))
      .filter(col("nb.id") === 7L).count() > 0,
      "fixture must reference point 7 before retirement for the purge to mean anything")
    val updated = NND.updateGraph(
      pts.toDF("id", "features")
        .withColumn("finished", col("id") === 7L),
      built.select("id", "neighbors"),
      NND.Params(k = 4, maxIterations = 2))
    assert(updated.filter(col("id") === 7L)
      .filter(col("neighbors").isNull).count() == 1,
      "retired point's own row must carry null neighbors")
    val stale = updated.filter(col("neighbors").isNotNull)
      .select(explode(col("neighbors")).as("nb"))
      .filter(col("nb.id") === 7L).count()
    assert(stale == 0, s"$stale lists still reference the retired point")
    // No point is new, so nothing refines: every list is exactly its
    // prior list minus point 7, in the prior (similarity desc, id asc)
    // order — ties included, since the points lie on a line.
    def lists(df: org.apache.spark.sql.DataFrame) = df.select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val (prior, purged) = (lists(built), lists(updated))
    (0L until 20L).filter(_ != 7L).foreach { id =>
      assert(purged(id) == prior(id).map(_.filterNot(_._1 == 7L)),
        s"list of $id: prior ${prior(id)}, purged ${purged(id)}")
    }
    // A list holding only point 7 is emptied by the purge: point 0
    // re-enters as a new point and gets a fresh, non-empty list.
    val onlySeven = built.select("id", "neighbors").filter(col("id") =!= 0L).unionByName(
      Seq((0L, Seq((7L, 1.0 / (1 + 7))))).toDF("id", "neighbors") // 1/(1 + L2)
        .select(col("id"), transform(col("neighbors"),
          x => struct(x("_1").as("id"), x("_2").as("similarity"))).as("neighbors")))
    val refilled = lists(NND.updateGraph(
      pts.toDF("id", "features").withColumn("finished", col("id") === 7L),
      onlySeven, NND.Params(k = 4, maxIterations = 2)))
    assert(refilled(0L).exists(l => l.nonEmpty && !l.exists(_._1 == 7L)),
      s"an emptied list must come back as a new point's non-empty list, got ${refilled(0L)}")
    assert(refilled.values.flatten.forall(!_.exists(_._1 == 7L)),
      "no list may still reference the retired point")
  }

  test("unigramLogProb: empty corpus yields an empty frame, not a crash") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.unigramLogProb(empty)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_tokens", "logprob_fp", "mean_lp_fp"))
  }

  test("temperatureMixturePlan and corpusDrift: empty and degenerate corpora") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(graft.ops.Sampling.temperatureMixturePlan(
      empty, "lang", size(split(col("text"), " "))).count() == 0)
    // Zero-token stratum (empty text still splits to one empty token,
    // so force the degenerate case through a 0 literal) must be
    // rejected, not divided by.
    val zero = Seq((1L, "a", "x")).toDF("doc_id", "lang", "text")
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.temperatureMixturePlan(zero, "lang", lit(0L))
    }
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val d = graft.ops.TextAnalysis.corpusDrift(emptyDocs, emptyDocs)
    assert(d.count() == 0)
    assert(d.columns.toSeq == Seq("n_terms", "jdiv_fp"))
  }

  test("quantileFilter: degenerate quantiles, singleton groups, bad q rejected") {
    val d = Seq((1L, "g", 5.0), (2L, "g", 7.0), (3L, "h", 1.0))
      .toDF("doc_id", "source", "quality")
    // q = 1.0: threshold is the group max; only max-valued rows keep.
    val q1 = graft.ops.Sampling.quantileFilter(d, "doc_id", "source", "quality", 1.0)
      .select("doc_id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(q1 == Map(1L -> false, 2L -> true, 3L -> true))
    // Singleton group: k = 1, thr = the value, row keeps.
    val tiny = graft.ops.Sampling.quantileFilter(
      d.filter(col("doc_id") === 3L), "doc_id", "source", "quality", 0.25)
      .select("keep").collect()
    assert(tiny.length == 1 && tiny(0).getBoolean(0))
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.quantileFilter(d, "doc_id", "source", "quality", 0.0)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.quantileFilter(d, "doc_id", "source", "quality", 1.5)
    }
  }

  test("bigramLogProb: empty and sub-bigram corpora yield empty frames, schema intact") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.bigramLogProb(empty).count() == 0)
    // Single-token docs have no bigrams and drop out (the documented
    // contract; the oracle's inner join agrees).
    val single = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bigramLogProb(single)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_bigrams", "logprob_fp", "mean_lp_fp"))
  }

  test("dupSpanRemove: empty corpus yields empty frame; untouched docs round-trip verbatim") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out0 = graft.ops.Dedup.dupSpanRemove(empty, "doc_id", "text")
    assert(out0.count() == 0)
    assert(out0.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_removed", "clean_text"))
    // Consecutive spaces make empty tokens; with nothing removed the
    // split-then-rejoin reassembly must be the identity, empties and all.
    val d = Seq((1L, "a  b c"), (2L, "x y z")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSpanRemove(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "a  b c" && out(2L) == "x y z")
  }

  test("dupSpanStats: sub-trigram docs fall back to whole-text spans") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSpanStats(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Two-token twins share their single whole-text span; the
    // singleton shares nothing.
    assert(out(1L) == ((1L, 1L)) && out(2L) == ((1L, 1L)))
    assert(out(3L) == ((1L, 0L)))
  }

  test("chunkWindows: empty text yields one empty window (contract, not a crash)") {
    val d = Seq((1L, "")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.chunkWindows(d).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 0L && out(0).getString(4) == "")
  }

  test("retrieval family: empty corpora, degenerate params rejected") {
    import graft.ops.{Retrieval, Sampling, TextAnalysis}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // Empty corpus: empty result, not a crash (the scalar collects
    // guard n=0 and every downstream join is empty).
    assert(TextAnalysis.bm25TopK(empty, Seq("x")).count() == 0)
    assert(TextAnalysis.bm25Impacts(empty).count() == 0)
    val emptyLang = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(Sampling.dsirSelect(emptyLang, col("lang") === "en").count() == 0)
    // A query with no term anywhere in the corpus scores nothing.
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(TextAnalysis.bm25TopK(d, Seq("zz")).count() == 0)
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(d, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Impacts(d, maxPostings = 0)
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Sampling.dsirSelect(d.withColumn("lang", lit("en")),
        col("lang") === "en", n = 0)
    }
  }

  test("round-8 text/dedup ops survive empty and degenerate corpora") {
    import graft.ops.{Dedup, Sampling, TextAnalysis, UnigramTokenizer}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // Empty corpus: every op returns an empty frame with its schema,
    // no NPE/divide-by-zero on the driver-side scalars.
    assert(TextAnalysis.blocklistFlags(empty, Seq("x")).count() == 0)
    assert(TextAnalysis.gopherRules(empty).count() == 0)
    assert(TextAnalysis.backoffTrigramLogProb(empty).count() == 0)
    assert(UnigramTokenizer.train(empty).count() == 0)
    assert(UnigramTokenizer.encode(empty, Seq(("a", -1L))).count() == 0)
    assert(Dedup.corpusDiff(empty, empty).count() == 0)
    assert(Dedup.editVerifiedPairs(empty, "doc_id", "text", 0.7).count() == 0)
    assert(Sampling.weightedSample(
      empty.withColumn("w", lit(1L)), "doc_id", "w", 5).count() == 0)
    // Degenerate: docs too short for any trigram are absent from the
    // LM output; a one-sided diff classifies everything added/removed.
    val short = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    assert(TextAnalysis.backoffTrigramLogProb(short).count() == 0)
    val one = Seq((1L, "a")).toDF("doc_id", "text")
    val d1 = Dedup.corpusDiff(one, empty).collect()
    val d2 = Dedup.corpusDiff(empty, one).collect()
    assert(d1.map(_.getString(1)).toSeq == Seq("removed"))
    assert(d2.map(_.getString(1)).toSeq == Seq("added"))
    // Unknown single chars at encode time take the UnkFp fallback and
    // still reassemble the word.
    val enc = UnigramTokenizer.encode(one, Seq(("z", -1048576L)))
      .collect()(0)
    assert(enc.getSeq[String](3) == Seq("a"))
  }

  test("review-fix contracts: zero-evidence langid reads 'und', corpusDiff " +
      "distinguishes null text from absence, uncovered chunk strides and " +
      "out-of-guarantee simhash radii fail fast") {
    import graft.ops.{Dedup, TextAnalysis}
    // No marker word of any profile: 'und', not the first profile.
    val gibberish = Seq((1L, "xyzzy qqq zzz")).toDF("doc_id", "text")
    val lang = TextAnalysis.languageId(gibberish)
      .select("pred_lang").collect()(0).getString(0)
    assert(lang == "und", s"zero-evidence doc labeled '$lang'")
    // Shared id with a null text on one side is CHANGED (the id was
    // present); both-null is unchanged; true absence is added/removed.
    val v1 = Seq((7L, null: String), (8L, "same"), (9L, "gone"))
      .toDF("doc_id", "text")
    val v2 = Seq((7L, "hello"), (8L, "same"), (10L, "new"))
      .toDF("doc_id", "text")
    val st = Dedup.corpusDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(7L -> "changed", 8L -> "unchanged",
      9L -> "removed", 10L -> "added"), s"diff statuses wrong: $st")
    val bothNull = Dedup.corpusDiff(
      Seq((1L, null: String)).toDF("doc_id", "text"),
      Seq((1L, null: String)).toDF("doc_id", "text")).collect()(0).getString(1)
    assert(bothNull == "unchanged", s"both-null text read '$bothNull'")
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWindows(d, size = 64, stride = 128)
    }
    // Beyond the pigeonhole guarantee (h <= 3) the banding is a
    // DOCUMENTED approximate candidate generator (d04 runs there), but
    // a radius outside the 64-bit signature is always a caller bug.
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 64)
    }
  }

  test("quantileFilter: null values are unrankable — excluded from the " +
      "order statistic, kept=false, and an all-null group drops cleanly") {
    import graft.ops.Sampling
    val df = Seq(
      (1L, "g", Some(10.0)), (2L, "g", Some(20.0)), (3L, "g", Some(30.0)),
      (4L, "g", Some(40.0)), (5L, "g", None), (6L, "g", None),
      (7L, "h", None), (8L, "h", None))
      .toDF("doc_id", "source", "quality")
    val out = Sampling.quantileFilter(df, "doc_id", "source", "quality", 0.5)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(r.fieldIndex("thr"))), r.getBoolean(r.fieldIndex("keep")))))
      .toMap
    // Group g: 4 non-null values, q=0.5 -> k=2 -> threshold 20.0 (the
    // 2nd order statistic of the NON-NULL values, not shifted by nulls).
    assert(out(1L) == ((Some(20.0), false)) && out(2L) == ((Some(20.0), true)) &&
      out(3L) == ((Some(20.0), true)) && out(4L) == ((Some(20.0), true)),
      s"non-null ranking wrong: $out")
    assert(!out(5L)._2 && !out(6L)._2, "null-quality rows must not keep")
    assert(!out(7L)._2 && !out(8L)._2, "all-null group must drop cleanly")
  }

  test("zero-norm corpus vectors rank LAST, not first: the NaN cosine " +
      "guard on the ranking paths") {
    import graft.ops.SimilaritySearch
    // Without the guard, cosine(q, 0-vector) = 0/0 = NaN, and Spark
    // orders NaN ABOVE every real value under desc — the degenerate
    // row would be the #1 neighbor of every query.
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.5f, 0.5f)),
      (99L, Array(0f, 0f))).toDF("id", "features")
    val q = Seq((1L, Array(1f, 0f))).toDF("id", "features")
    val top = SimilaritySearch.bruteForceTopK(corpus, q, 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(top == Seq(2L, 3L), s"zero vector poisoned the top-k: $top")
    // With k exceeding the real candidates it may appear — but as the
    // visibly-degenerate tail (cosine -2), never above a real hit.
    val last = SimilaritySearch.bruteForceTopK(corpus, q, 3)
      .orderBy(desc("rank")).collect()(0)
    assert(last.getLong(2) == 99L && last.getDouble(3) == -2.0,
      s"degenerate row not at the tail: $last")
  }

  test("graphHealth: empty and zero-edge graphs yield the zeroed census; " +
      "isolated nodes count toward n_nodes and min_deg") {
    import graft.ops.GraphSearch
    val nbrSchema = "array<struct<id:bigint,similarity:double>>"
    val empty = Seq.empty[Long].toDF("id")
      .withColumn("neighbors", lit(null).cast(nbrSchema))
    val e = GraphSearch.graphHealth(empty).collect()(0)
    assert((0 until 6).map(e.getLong) == Seq(0L, 0L, 0L, 0L, 0L, 0L),
      s"empty graph census not zeroed: $e")
    // All-null neighbor lists: nodes exist, edges do not — the census
    // must report them (pre-fix this path crashed unboxing null aggs).
    val isolated = Seq(1L, 2L).toDF("id")
      .withColumn("neighbors", lit(null).cast(nbrSchema))
    val i = GraphSearch.graphHealth(isolated).collect()(0)
    assert((0 until 6).map(i.getLong) == Seq(2L, 0L, 0L, 0L, 0L, 0L),
      s"zero-edge census wrong: $i")
    // A mixed graph: the isolated node drags min_deg to 0 and still
    // counts as a node — the degenerating-append signature the health
    // audit exists to catch.
    val mixed = spark.sql(
      """SELECT 1L AS id,
        |  array(named_struct('id', 2L, 'similarity', 0.5d)) AS neighbors
        |UNION ALL SELECT 2L, array(named_struct('id', 1L, 'similarity', 0.5d))
        |UNION ALL SELECT 3L, CAST(NULL AS
        |  array<struct<id:bigint,similarity:double>>)""".stripMargin)
    val m = GraphSearch.graphHealth(mixed).collect()(0)
    assert((0 until 5).map(m.getLong) == Seq(3L, 2L, 0L, 1L, 2L),
      s"mixed census wrong: $m")
  }

  test("classifier model loading rejects an empty artifact; multiclass " +
      "training requires at least one in-class document") {
    import graft.ops.Classifier
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_model")
    try {
      Seq.empty[(Int, Long)].toDF("idx", "w_fp")
        .write.mode("overwrite").parquet(dir.toString)
      val ex = intercept[IllegalArgumentException] {
        Classifier.loadModel(spark, dir.toString)
      }
      assert(ex.getMessage.contains("corrupt model"),
        s"wrong failure for empty artifact: ${ex.getMessage}")
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    val docs = Seq((1L, "de", "aa bb"), (2L, "fr", "cc dd"))
      .toDF("doc_id", "lang", "text")
    val ex2 = intercept[IllegalArgumentException] {
      Classifier.trainMulticlass(docs, col("lang"), Seq("en", "ja"), dim = 8)
    }
    assert(ex2.getMessage.contains("labeled"),
      s"wrong failure for label-free corpus: ${ex2.getMessage}")
  }

  test("semanticOverlap: an empty benchmark is a no-op scrub, not a crash; " +
      "an empty corpus yields an empty frame") {
    import spark.implicits._
    import graft.ops.Decontaminate
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "features")
    val emptyV = spark.emptyDataset[(Long, Array[Float])]
      .toDF("id", "features")
    val noBench = Decontaminate
      .semanticOverlap(corpus, emptyV, "id", "features", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.isNullAt(3))).sortBy(_._1)
    assert(noBench.toSeq == Seq((1L, 0L, 0L, true), (2L, 0L, 0L, true)),
      s"empty bench must return every doc unflagged: ${noBench.toSeq}")
    assert(Decontaminate
      .semanticOverlap(emptyV, corpus, "id", "features", 0.9).isEmpty)
  }

  test("rankedEval: empty qrels zero every metric; empty run is an empty frame; " +
      "k < 1 rejected") {
    import spark.implicits._
    import graft.ops.Retrieval
    val run = Seq(("A", 1L, 1), ("A", 2L, 2)).toDF("query_id", "doc_id", "rank")
    val noRel = spark.emptyDataset[(String, Long)].toDF("query_id", "doc_id")
    val got = Retrieval.rankedEval(run, noRel, 10).collect()
    assert(got.length == 1 && (1 to 7).forall(got.head.getLong(_) == 0L),
      "empty qrels must evaluate the query to all-zero metrics")
    assert(Retrieval.rankedEval(noRel.limit(0).toDF("query_id", "doc_id")
      .withColumn("rank", lit(1)), run.select("query_id", "doc_id"), 10).isEmpty)
    intercept[IllegalArgumentException] {
      Retrieval.rankedEval(run, noRel, 0)
    }
  }
}
