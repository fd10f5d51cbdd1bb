package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, SimilaritySearch}

/** Correctness of the non-oracle ops: LSH/SimHash candidate quality vs
  * exact ground truth, ANN recall vs brute force, multimodal plumbing. */
class OpsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")
  private def emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("features"))

  test("minhash LSH pairs == exact jaccard pairs at threshold 0.7") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "ground truth should be non-empty")
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("hot-shingle df-cap keeps the near-dup pairs while shrinking the join") {
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7, maxDocFraction = Some(0.5))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    assert(full.subsetOf(capped) || capped.subsetOf(full) || (full == capped),
      s"cap changed the pair set unexpectedly: only-full=${full -- capped} only-capped=${capped -- full}")
    assert(capped.intersect(full).size.toDouble / full.size >= 0.9,
      "df-cap lost too many true near-dup pairs")
  }

  test("capped LSH pairs equal the capped exact join (df-cap threads through the scale path)") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7, maxDocFraction = Some(0.1))
      .select("doc_a", "doc_b", "inter", "union_sz").collect().map(key).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7, maxDocFraction = Some(0.1))
      .select("doc_a", "doc_b", "inter", "union_sz").collect().map(key).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"capped LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("LSH band parameters are validated") {
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7, numHashes = 32, bands = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7, numHashes = 8, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsAcross(docs, docs, "doc_id", "text", 0.7, numHashes = 32, bands = 3)
    }
  }

  test("banded embedding pairs equal the full pair scan (recall 1 by construction)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Dedup.embeddingPairs(emb, "id", "features", 0.5))
    val banded = pairs(Dedup.embeddingPairsBanded(emb, "id", "features", 0.5))
    assert(full.nonEmpty, "fixture should have at least one qualifying pair")
    assert(banded == full, s"banding missed ${full -- banded}, extra ${banded -- full}")
    // And at a weaker threshold where MANY pairs qualify, so equality is
    // exercised across band boundaries, not just on one planted pair.
    val full2 = pairs(Dedup.embeddingPairs(emb, "id", "features", 0.2))
    val banded2 = pairs(Dedup.embeddingPairsBanded(emb, "id", "features", 0.2))
    assert(full2.size > 100)
    assert(banded2 == full2)
  }

  test("banded == unbanded embedding pairs across random corpora and thresholds (property sweep)") {
    import spark.implicits._
    // Exactness must hold for ANY data and threshold, not just the
    // fixture: sweep seeds x dims x thresholds, including clustered
    // vectors (planted near-dups) and threshold-straddling pairs.
    for (seed <- Seq(1, 2); dim <- Seq(4, 16); t <- Seq(0.3, 0.7, 0.9, 0.98)) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 30).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val near = base.take(10).map { case (i, v) =>
        (i + 100L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      }
      val df = (base ++ near).toDF("id", "features")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = pairs(Dedup.embeddingPairs(df, "id", "features", t))
      val banded = pairs(Dedup.embeddingPairsBanded(df, "id", "features", t))
      assert(banded == full,
        s"seed=$seed dim=$dim t=$t: missing ${full -- banded}, extra ${banded -- full}")
    }
  }

  test("scrubPii is idempotent (placeholders never re-match)") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "a@b.co and 10.0.0.1 and +44 20 7946 0958"),
      (2L, "clean")).toDF("doc_id", "text")
    val once = graft.ops.TextAnalysis.scrubPii(dirty)
      .withColumnRenamed("scrubbed", "text")
    val twice = graft.ops.TextAnalysis.scrubPii(once)
    val got = once.join(twice.withColumnRenamed("scrubbed", "again"), "doc_id")
      .collect().map(r => (r.getString(1), r.getString(2)))
    got.foreach { case (a, b) => assert(a == b, s"not idempotent: $a vs $b") }
  }

  test("banding prunes the candidate join at near-dup thresholds") {
    import spark.implicits._
    // Synthetic near-dup corpus: 40 base vectors, each with a jittered
    // copy (cosine ~0.999); plus the fixture's random vectors as noise.
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("id", "features")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Dedup.embeddingPairs(df, "id", "features", 0.98))
    val banded = pairs(Dedup.embeddingPairsBanded(df, "id", "features", 0.98))
    assert(full.size >= 40, "every jittered copy should pair with its base")
    assert(banded == full)
  }

  test("sign-LSH embedding pairs: exact output on the d05 fixture, candidates far below N²/2") {
    // Replica of the declared d05 shape: fixture + perturbed copies
    // (planted near-dups at cosine ~0.993), threshold 0.9.
    val d = size(col("features"))
    val pert = emb.select((col("id") + lit(1000000L)).as("id"),
      transform(col("features"), (x, j) =>
        x + lit(0.12f) * element_at(col("features"), pmod(j + 1, d) + 1))
        .as("features"))
    val aug = emb.unionByName(pert)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Dedup.embeddingPairs(aug, "id", "features", 0.9))
    val lsh = pairs(Dedup.embeddingPairsLsh(aug, "id", "features", 0.9))
    assert(full.size >= 500, s"expected every planted pair to qualify, got ${full.size}")
    assert(lsh == full, s"LSH missed ${full -- lsh}, extra ${lsh -- full}")
    // The point of the LSH path: candidate generation must prune, not
    // disguise an N² scan (VERDICT r2 flagged the banded path's t=0.5
    // declaration for exactly this). Require >=10x below the full cross
    // product; measured ~100x on this fixture.
    val n = aug.count()
    val cands = Dedup.embeddingLshCandidates(aug, "id", "features").count()
    val crossPairs = n * (n - 1) / 2
    assert(cands * 10 < crossPairs,
      s"LSH candidates $cands not << N(N-1)/2 = $crossPairs")
  }

  test("on a hot-shingle corpus, prefix filtering and df-cap beat the naive join on shuffle bytes") {
    import spark.implicits._
    // Synthetic stop-phrase skew: every doc opens with the same 6 words
    // (4 hot 3-gram shingles, df = 400), then 10 unique words; 10
    // planted near-dup pairs differing in one trailing word (J ~ 0.83).
    // The naive shingle self-join fans out df² on the hot shingles; the
    // prefix join's candidates come from the RARE end, and the df-cap
    // drops the hot shingles outright.
    val rnd = new scala.util.Random(11)
    val hot = "the quick brown fox jumps over"
    def uniq(i: Long, n: Int) = (0 until n).map(j => s"w${i}_$j").mkString(" ")
    val base = (0L until 400L).map(i => (i, s"$hot ${uniq(i, 10)}"))
    val dups = (0L until 10L).map { i =>
      val (id, text) = base(i.toInt)
      (id + 10000L, text.split(" ").dropRight(1).mkString(" ") + " zz" + i)
    }
    val corpus = (base ++ dups).toDF("doc_id", "text")
      .repartition(8).cache()
    corpus.count()

    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val (naive, naiveBytes) =
        shuffleMeasured(pairsOf(Dedup.jaccardPairs(corpus, "doc_id", "text", 0.7)))
      val (prefix, prefixBytes) =
        shuffleMeasured(pairsOf(Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", 0.7)))
      val (capped, cappedBytes) =
        shuffleMeasured(pairsOf(Dedup.jaccardPairs(corpus, "doc_id", "text", 0.7,
          maxDocFraction = Some(0.1))))

      val planted = (0L until 10L).map(i => (i, i + 10000L)).toSet
      assert(planted.subsetOf(naive), s"ground truth missing planted pairs: ${planted -- naive}")
      assert(prefix == naive, "prefix join must be exact")
      assert(planted.subsetOf(capped), "df-cap lost planted near-dup pairs")
      info(s"shuffle bytes — naive: $naiveBytes, prefix: $prefixBytes, capped: $cappedBytes")
      assert(prefixBytes < naiveBytes * 7 / 10,
        s"prefix join did not beat naive on shuffle: $prefixBytes vs $naiveBytes")
      assert(cappedBytes < naiveBytes * 7 / 10,
        s"df-cap did not beat naive on shuffle: $cappedBytes vs $naiveBytes")
    } finally corpus.unpersist()
  }

  test("dup-span removal stays linear when one span is white-hot") {
    // Every document opens with the same phrase, so its 3-gram spans
    // are corpus-wide hot (df = N). dupSpanRemove has no pairwise
    // stage anywhere — span df partial-aggs map-side, the scrub
    // sliver is one occurrence per (doc, span), coverage fans out <= n
    // per occurrence — so 10x the document mass must cost ~10x the
    // shuffle (linear), never the df² of a pairs-by-shared-span join
    // (which would be 100x here). The bench twin is d13_skewed_removal.
    import spark.implicits._
    val hot = "the quick brown fox jumps over"
    def corpus(nDocs: Int) = (0L until nDocs.toLong).map(i =>
        (i, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e"))
      .toDF("doc_id", "text").repartition(8).cache()
    val light = corpus(400)
    val heavy = corpus(4000)
    light.count(); heavy.count()
    try {
      val (lightRows, lightBytes) = shuffleMeasured {
        Dedup.dupSpanRemove(light, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      val (heavyRows, heavyBytes) = shuffleMeasured {
        Dedup.dupSpanRemove(heavy, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      // Correctness on the hot corpus: exactly the shared phrase is
      // scrubbed from every document, unique tails survive.
      assert(lightRows.length == 400 && heavyRows.length == 4000)
      lightRows.foreach { case (id, nRemoved, clean) =>
        assert(nRemoved == 6L, s"doc $id removed $nRemoved tokens, want the 6 hot ones")
        assert(clean == s"u${id}a u${id}b u${id}c u${id}d u${id}e",
          s"doc $id tail corrupted: '$clean'")
      }
      info(s"shuffle bytes — 400 docs: $lightBytes, 4000 docs: $heavyBytes")
      assert(heavyBytes < lightBytes * 15,
        s"dup-span removal went super-linear on the hot span: $heavyBytes vs $lightBytes")
    } finally {
      light.unpersist(); heavy.unpersist()
    }
  }

  test("exact-substring removal stays linear when one long substring is white-hot") {
    // Every document opens with the same 24-token passage, so at
    // W = 20 five window keys per document are corpus-hot (count = N
    // each) and EVERY document is a scrub target. Like d13, no
    // pairwise stage exists: key counts partial-agg map-side, the
    // verify join re-derives window text once per candidate anchor,
    // coverage fans out <= W positions per occurrence — so 10x the
    // document mass must cost ~10x the shuffle, never the count² of a
    // windows-by-shared-key self-join. Bench twin: d18_skewed_substr.
    import spark.implicits._
    val hot = Seq.fill(4)("the quick brown fox jumps over").mkString(" ") // 24 tokens
    def corpus(nDocs: Int) = (0L until nDocs.toLong).map(i =>
        (i, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e"))
      .toDF("doc_id", "text").repartition(8).cache()
    val light = corpus(400)
    val heavy = corpus(4000)
    light.count(); heavy.count()
    try {
      val (lightRows, lightBytes) = shuffleMeasured {
        Dedup.exactSubstrRemove(light, "doc_id", "text", minLen = 20)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      val (heavyRows, heavyBytes) = shuffleMeasured {
        Dedup.exactSubstrRemove(heavy, "doc_id", "text", minLen = 20)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      assert(lightRows.length == 400 && heavyRows.length == 4000)
      lightRows.foreach { case (id, nRemoved, clean) =>
        assert(nRemoved == 24L, s"doc $id removed $nRemoved tokens, want the 24 hot ones")
        assert(clean == s"u${id}a u${id}b u${id}c u${id}d u${id}e",
          s"doc $id tail corrupted: '$clean'")
      }
      info(s"shuffle bytes — 400 docs: $lightBytes, 4000 docs: $heavyBytes")
      assert(heavyBytes < lightBytes * 15,
        s"exact-substring removal went super-linear on the hot passage: $heavyBytes vs $lightBytes")
    } finally {
      light.unpersist(); heavy.unpersist()
    }
  }

  test("hash-keyed exact dedup equals the text-keyed form") {
    val byText = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byHash = Dedup.exactByHash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byHash == byText)
  }

  test("LSH-sourced clustering equals exact-join clustering") {
    def clusters(useLsh: Boolean) =
      Dedup.clusterNearDups(docs, "doc_id", "text", 0.7, useLsh = useLsh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters(useLsh = true) == clusters(useLsh = false))
  }

  test("prefix-filtered jaccard join equals the full self-join exactly") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b", "inter", "union_sz").collect().map(key).toSet
    val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b", "inter", "union_sz").collect().map(key).toSet
    assert(full.nonEmpty)
    assert(pref == full)
  }

  test("incremental cross-corpus LSH dedup equals the cross subset of the union join") {
    // split the fixture: evens are the "existing corpus", odds "incoming"
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val got = Dedup.minhashLshPairsAcross(corpus, incoming, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2 == 0) != (b % 2 == 0) }
      // jaccardPairs orders by id; across orders (existing, incoming)
      .map { case (a, b) => if (a % 2 == 0) (a, b) else (b, a) }
      .toSet
    assert(cross.nonEmpty, "fixture split produced no cross near-dup pairs")
    assert(got == cross)
  }

  test("label audit reads ~1.0 on cluster-labeled points and ~chance on shuffled labels") {
    import spark.implicits._
    // 10 tight clusters, label = cluster id: neighborhood votes must
    // recover the label almost everywhere. Then destroy the signal by
    // reassigning labels by a hash — the audit must drop to ~1/10.
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val pts = (0 until 400).map { i =>
      val c = i % 10
      (i.toLong, centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq, c)
    }
    val corpus = pts.map { case (id, v, _) => (id, v) }.toDF("id", "features")
      .repartition(8)
    val graph = graft.nnd.NND.buildGraph(corpus,
      graft.nnd.NND.Params(k = 10, maxIterations = 5))
    val goodLabels = pts.map { case (id, _, c) => (id, c) }.toDF("id", "lab")
    val good = graft.ops.GraphSearch.labelConsistency(graph, goodLabels)
    val goodFrac = good.filter(col("consistent")).count().toDouble / good.count()
    assert(goodFrac >= 0.95, s"cluster-labeled audit only $goodFrac")
    // (id/10) % 10 varies WITHIN each geometric cluster (cluster =
    // id % 10), so it is label noise w.r.t. the geometry.
    val noise = pts.map { case (id, _, _) => (id, ((id / 10) % 10).toInt) }
      .toDF("id", "lab")
    val bad = graft.ops.GraphSearch.labelConsistency(graph, noise)
    val badFrac = bad.filter(col("consistent")).count().toDouble / bad.count()
    assert(badFrac <= 0.3, s"shuffled-label audit did not collapse: $badFrac")
  }

  test("appendToGraph leaves old lists byte-identical and builds valid new lists") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    val old = emb.filter(col("id") % 5 =!= 0)
    val nw = emb.filter(col("id") % 5 === 0).limit(40)
    val prior = graft.nnd.NND.buildGraph(old,
      graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .select("id", "neighbors").localCheckpoint()
    val appended = graft.ops.GraphSearch.appendToGraph(prior, old, nw, 10)
    // Old side untouched — exact row equality with the prior graph.
    val before = prior.collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    val after = appended.join(nw.select(col("id")), Seq("id"), "left_anti")
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(after == before, "append must not touch existing lists")
    // New lists: <= k entries, neighbors drawn from the OLD corpus
    // only (the documented staleness), similarity strictly ordered.
    val oldIds = old.select("id").as[Long].collect().toSet
    val newLists = appended.join(nw.select(col("id")), Seq("id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(newLists.keySet == nw.select("id").as[Long].collect().toSet)
    newLists.foreach { case (id, nbrs) =>
      assert(nbrs.nonEmpty && nbrs.size <= 10, s"node $id has ${nbrs.size}")
      val ids = nbrs.map(_.getLong(0))
      assert(ids.forall(oldIds.contains), s"node $id links outside the prior corpus")
      assert(!ids.contains(id))
      val sims = nbrs.map(_.getDouble(1))
      assert(sims == sims.sorted(Ordering[Double].reverse), s"node $id unsorted")
    }
  }

  test("streaming graph-append serving emits the batch append's exact new lists") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    val old = emb.filter(col("id") % 5 =!= 0)
    val prior = graft.nnd.NND.buildGraph(old,
      graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .select("id", "neighbors").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), explode(col("neighbors")).as("nb"))
      .select(col("id"), col("nb.id").as("nbr"), col("nb.similarity"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = rows(graft.streaming.AnnServe.graphAppendServe(
      spark, sf001, prior, old, k = 10, beam = 20, hops = 3, seeds = 8))
    val nw = emb.filter(col("id") % 5 === 0)
    val batch = rows(graft.ops.GraphSearch
      .appendToGraph(prior, old, nw, 10, beam = 20, hops = 3, seeds = 8)
      .join(nw.select(col("id")), Seq("id"), "left_semi"))
    assert(streamed == batch, s"streamed append diverged from batch: " +
      s"${(streamed -- batch).take(3)} vs ${(batch -- streamed).take(3)}")
  }

  test("graphHealth measures the reciprocity decay appends cause") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    val old = emb.filter(col("id") % 5 =!= 0)
    val nw = emb.filter(col("id") % 5 === 0).limit(60)
    val prior = graft.nnd.NND.buildGraph(old,
      graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .select("id", "neighbors").localCheckpoint()
    def health(g: org.apache.spark.sql.DataFrame) = {
      val r = graft.ops.GraphSearch.graphHealth(g).collect()(0)
      (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("reciprocity_fp"))
    }
    val (n0, e0, rec0) = health(prior)
    assert(rec0 > 700000L, s"converged graph should be highly reciprocal: $rec0")
    val appended = graft.ops.GraphSearch.appendToGraph(prior, old, nw, 10)
    val (n1, e1, rec1) = health(appended)
    assert(n1 == n0 + 60 && e1 > e0)
    // Appended edges are one-directional by construction, so the
    // audit must read strictly lower — the rebuild-trigger signal.
    assert(rec1 < rec0, s"append did not decay reciprocity: $rec0 -> $rec1")
  }

  test("label propagation recovers cluster labels from a 10% seed set") {
    import spark.implicits._
    // Same 10-tight-cluster fixture as the audit exhibit: seeding one
    // node in ten and spreading over the K-NN graph must label nearly
    // everything correctly; seeds stay clamped; rounds are monotone.
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val pts = (0 until 400).map { i =>
      val c = i % 10
      (i.toLong, centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq, c)
    }
    val corpus = pts.map { case (id, v, _) => (id, v) }.toDF("id", "features")
      .repartition(8)
    val graph = graft.nnd.NND.buildGraph(corpus,
      graft.nnd.NND.Params(k = 10, maxIterations = 5))
    // Seeds = the first 40 points: 4 per cluster (cluster = i % 10) —
    // NOT id % 10 == 0, which would be exactly cluster 0 and leave no
    // unlabeled frontier to spread the other nine labels into.
    val seeds = pts.collect { case (id, _, c) if id < 40 => (id, c) }
      .toDF("id", "lab")
    val out = graft.ops.GraphSearch.labelPropagation(graph, seeds, iters = 8)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // Seeds clamped at round 0 with their own label.
    pts.filter(_._1 < 40).foreach { case (id, _, c) =>
      assert(out(id) == ((c, 0)), s"seed $id moved: ${out(id)}")
    }
    val prop = pts.filter(_._1 >= 40).flatMap { case (id, _, c) =>
      out.get(id).map(v => (v._1 == c, v._2))
    }
    assert(prop.nonEmpty && prop.size >= 350,
      s"propagation covered only ${prop.size} of 360 non-seeds")
    val acc = prop.count(_._1).toDouble / prop.size
    assert(acc >= 0.95, s"cluster-labeled propagation accuracy only $acc")
    assert(prop.forall(_._2 >= 1), "non-seeds must carry round >= 1")
  }

  test("label audit vote tie-break is count desc then label asc") {
    import spark.implicits._
    // node 1: neighbors labeled [2, 2, 5, 5, 7] -> tie (2,5) -> vote 2.
    val graph = Seq((1L, Seq(10L, 11L, 12L, 13L, 14L))).toDF("id", "nbrs")
      .select(col("id"), transform(col("nbrs"), n => struct(n.as("id"))).as("neighbors"))
    val labels = Seq((1L, 9), (10L, 2), (11L, 2), (12L, 5), (13L, 5), (14L, 7))
      .toDF("id", "lab")
    val got = graft.ops.GraphSearch.labelConsistency(graph, labels).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Int]("vote_lab") == 2 && !got(0).getAs[Boolean]("consistent"))
  }

  test("the persisted MinHash index serves the online across-path's exact rows") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val p = java.nio.file.Files.createTempDirectory("minhash_idx_spec").toString
    Dedup.saveMinhashIndex(corpus, p, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    val got = rows(Dedup.minhashPairsFromIndex(spark, p, incoming, "doc_id", "text", 0.7))
    val want = rows(Dedup.minhashLshPairsAcross(corpus, incoming, "doc_id", "text", 0.7))
    assert(want.nonEmpty && got.sameElements(want),
      s"index path diverged from online path: got ${got.length}, want ${want.length}")
  }

  test("appending a batch to the MinHash index equals a scratch build over the union") {
    val partA = docs.filter(col("doc_id") % 3 === 0)
    val partB = docs.filter(col("doc_id") % 3 === 1)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val grown = java.nio.file.Files.createTempDirectory("minhash_idx_grown").toString
    Dedup.saveMinhashIndex(partA, grown, "doc_id", "text")
    Dedup.appendToMinhashIndex(partB, grown, "doc_id", "text")
    val scratch = java.nio.file.Files.createTempDirectory("minhash_idx_scratch").toString
    Dedup.saveMinhashIndex(partA.unionByName(partB), scratch, "doc_id", "text")
    def rows(path: String) =
      Dedup.minhashPairsFromIndex(spark, path, batch, "doc_id", "text", 0.7)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2))
    val g = rows(grown); val s = rows(scratch)
    assert(g.nonEmpty && g.sameElements(s),
      s"grown index diverged from scratch build: got ${g.length}, want ${s.length}")
  }

  test("clusterSurvivors keeps the max-quality member of every cluster") {
    val quality = graft.ops.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val got = Dedup.clusterSurvivors(docs, "doc_id", "text", 0.7, quality)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // Local recompute from the cluster assignment + scores.
    val comp = Dedup.clusterNearDups(docs, "doc_id", "text", 0.7)
      .select("id", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val score = quality.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = comp.groupBy(_._2).map { case (c, members) =>
      val ids = members.map(_._1)
      val best = ids.minBy(id => (-score(id), id))
      (c, best, score(best), ids.length.toLong)
    }.toSet
    assert(got.toSet == want)
    assert(got.length == comp.map(_._2).distinct.length)
    // The LSH candidate path must pick the same survivors as exact.
    assert(want == Dedup.clusterSurvivors(docs, "doc_id", "text", 0.7,
      quality, useLsh = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet)
  }

  test("dedupCorpus drops every transitive duplicate and keeps everything else") {
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", 0.7)
    val clusters = Dedup.clusterNearDups(docs, "doc_id", "text", 0.7)
    assert(kept.count() == clusters.select("component").distinct().count())
    // no two kept docs are near-dups of each other
    val residual = Dedup.jaccardPairs(kept, "doc_id", "text", 0.7).count()
    assert(residual == 0, s"$residual near-dup pairs survive dedup")
  }

  test("simhash candidates cover the jaccard near-dup pairs") {
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val covered = truth.intersect(sim).size.toDouble / truth.size
    info(s"simhash recall of J>=0.8 pairs = $covered (|cand| = ${sim.size})")
    assert(covered >= 0.9, s"recall $covered too low")
  }

  test("hardNegatives: label exclusion, planted ordering, over-retrieve recipe equality") {
    import spark.implicits._
    // Anchor label 0 at the origin-axis; its NEAREST point shares the
    // label (must be excluded), the next two differ (must rank 1, 2 by
    // cosine then id).
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.01f), 0),  // closest — same label, excluded
      (3L, Array(0.9f, 0.1f), 1),
      (4L, Array(0.5f, 0.5f), 2),
      (5L, Array(0.0f, 1.0f), 1)).toDF("id", "features", "label")
    val got = SimilaritySearch.hardNegatives(corpus, corpus.filter($"id" === 1L), 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(got.map(_._2).toSeq == Seq(3L, 4L, 5L), got.mkString(","))
    assert(got.forall(_._3 != 0), s"a same-label negative leaked: ${got.mkString(",")}")
    // Degenerate corpus — every point shares the anchor's label: the
    // mine returns zero rows (no negatives exist), never errors. The
    // query row must come from the RELABELED frame (anchors carry
    // their own label; drawing it pre-relabel keeps label 0 on the
    // anchor and 3 cross-label negatives legitimately exist).
    val relabeled = corpus.withColumn("label", lit(7))
    assert(SimilaritySearch.hardNegatives(
      relabeled, relabeled.filter($"id" === 1L), 3)
      .count() == 0L)

    // Fixture-scale: every mined negative differs in label from its
    // anchor, and the documented 100 TB recipe — over-retrieve with
    // the plain top-k, drop same-label, keep k — equals the fused
    // exact form at full retrieval depth (the equivalence that makes
    // an ANN front a drop-in).
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"), col("label"))
    val queries = e.filter(col("id") < 20)
    val mined = SimilaritySearch.hardNegatives(e, queries, 5)
    val labels = e.select(col("id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val minedRows = mined.select("query_id", "rank", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(minedRows.nonEmpty)
    minedRows.foreach { case (qid, _, nid) =>
      assert(labels(qid) != labels(nid), s"same-label pair $qid-$nid")
    }
    val n = e.count().toInt
    val recipe = SimilaritySearch.bruteForceTopK(e, queries, n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter { case (qid, _, nid) => labels(qid) != labels(nid) }
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(_._2).take(5).zipWithIndex
          .map { case ((_, _, nid), i) => (qid, i + 1, nid) }
      }.toSet
    assert(minedRows.toSet == recipe,
      "over-retrieve-and-filter diverged from the fused exact form")
  }

  test("MIPS ranks by raw inner product, not angle") {
    import spark.implicits._
    // Item 2 is item 1 doubled: identical angle to the query, twice the
    // inner product — MIPS must rank 2 first; cosine would tie them.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("id", "features")
    val q = Seq((100L, Array(1.0f, 0.1f))).toDF("id", "features")
    val got = SimilaritySearch.mipsTopK(corpus, q, 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._2).toSeq == Seq(2L, 1L, 3L), got.mkString(","))
    assert(got(0)._3 == 2.0 && got(1)._3 == 1.0, got.mkString(","))
  }

  // Floors sit just under the tuned operating point (recorded in the
  // lshTopK and ivfTopK scaladocs, sf0.1 isotropic fixture:
  // planes=8/tables=24/radius=1 ≈ 0.95 recall; ivf 32/16 ≈ 0.85) so
  // a quality collapse can't pass the floor and be silently
  // re-pinned as the new "correct" value (VERDICT r4 #3).
  test("LSH ANN recall@10 vs brute force >= 0.9") {
    val queries = emb.filter(col("id") < 50)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val lsh = SimilaritySearch.lshTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"LSH ANN mean recall@10 = $mean")
    assert(mean >= 0.9,
      s"recall $mean below tuned operating point (planes=8, tables=24, radius=1)")
  }

  test("IVF ANN recall@10 vs brute force >= 0.8") {
    val queries = emb.filter(col("id") < 50)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivf = SimilaritySearch.ivfTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF ANN mean recall@10 = $mean (32 cells, 16 probes)")
    assert(mean >= 0.8,
      s"recall $mean below tuned operating point (nCells=32, nProbe=16)")
  }

  // The 100 TB pruning claim the isotropic fixture can't demonstrate
  // (VERDICT r4 #5): on a clustered corpus — the shape of real embedding
  // data — the same constructions prune hard at high recall. Planted
  // 50-Gaussian-cluster corpus (within-cluster cosine ≈ 0.83,
  // cross-cluster ≈ 0); params cluster-tuned the way a deployment would
  // tune them (LSH: more planes / fewer tables; IVF: more cells / fewer
  // probes). Scanned fractions are MEASURED from the operators' own
  // candidate streams, not quoted from the nominal formulas.
  test("clustered corpus: LSH and IVF reach recall >= 0.9 scanning < 15% of it") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 32
    val nClusters = 50
    val n = 4000
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val pts = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + 0.08f * rnd.nextGaussian().toFloat))
    }
    val corpus = pts.toDF("id", "features").repartition(8).cache()
    val queries = corpus.filter(col("id") < 50) // one per cluster
    val brute = SimilaritySearch.bruteForceTopK(corpus, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val got = approx.select("query_id", "nbr_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = brute.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val nPairs = 50.0 * (n - 1)

    val lshRecall = recallOf(SimilaritySearch.lshTopK(corpus, queries, 10,
      numPlanes = 10, numTables = 8, probeRadius = 1))
    val lshFrac = SimilaritySearch.lshCandidatePairs(corpus, queries,
      numPlanes = 10, numTables = 8, probeRadius = 1).count() / nPairs
    info(f"clustered LSH (10 planes x 8 tables, radius 1): recall=$lshRecall%.3f scannedFrac=$lshFrac%.3f")
    assert(lshRecall >= 0.9, s"clustered LSH recall $lshRecall")
    assert(lshFrac < 0.15, s"clustered LSH scanned fraction $lshFrac")

    val ivfRecall = recallOf(SimilaritySearch.ivfTopK(corpus, queries, 10,
      nCells = 64, nProbe = 8))
    val ivfFrac = SimilaritySearch.ivfCandidatePairs(corpus, queries,
      nCells = 64, nProbe = 8).count() / nPairs
    info(f"clustered IVF (64 cells, 8 probes): recall=$ivfRecall%.3f scannedFrac=$ivfFrac%.3f")
    assert(ivfRecall >= 0.9, s"clustered IVF recall $ivfRecall")
    assert(ivfFrac < 0.15, s"clustered IVF scanned fraction $ivfFrac")
    corpus.unpersist()
  }

  // Random projection's planted exhibit. On a clustered corpus the
  // near-equidistance of same-cluster points makes exact top-10
  // IDENTITY unstable under any distance-preserving reduction (the
  // true neighbors are separated by less than one distortion sigma of
  // each other) — the meaningful preserved property, and the one the
  // downstream consumers (dedup blocking, k-means, filtered ANN) rely
  // on, is that retrieved neighbors stay in the query's semantic
  // neighborhood. So the assertion is cluster agreement of the
  // projected-space top-10 at HALF the dimension, vs the cross-cluster
  // background at cosine ~ 0.
  test("clustered corpus: halving dims by random projection keeps neighbors in-cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 64
    val nClusters = 50
    val n = 4000
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val pts = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + 0.08f * rnd.nextGaussian().toFloat))
    }
    val corpus = pts.toDF("id", "features").repartition(8).cache()
    val queries = corpus.filter(col("id") < 50) // one per cluster
    val reduced = SimilaritySearch.rpReduce(corpus, "features", 32)
    val reducedQ = SimilaritySearch.rpReduce(queries, "features", 32)
    val inCluster = SimilaritySearch.bruteForceTopK(reduced, reducedQ, 10)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0) % nClusters) == (r.getLong(1) % nClusters))
    val agree = inCluster.count(identity).toDouble / inCluster.length
    info(f"projected-space (64->32) top-10 cluster agreement = $agree%.3f")
    assert(inCluster.length == 500, "expected 50 queries x top-10")
    assert(agree >= 0.95, s"projection scattered neighbors across clusters: $agree")

    // The documented 100 TB path — project once, index the REDUCED
    // column — measured, not claimed: IVF built over the projected
    // vectors keeps the same in-cluster retention while scanning a
    // bounded fraction, at half the scan width.
    val ivfReduced = SimilaritySearch.ivfTopK(reduced, reducedQ, 10,
        nCells = 64, nProbe = 8)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0) % nClusters) == (r.getLong(1) % nClusters))
    val ivfAgree = ivfReduced.count(identity).toDouble / ivfReduced.length
    val scanned = SimilaritySearch.ivfCandidatePairs(reduced, reducedQ,
      nCells = 64, nProbe = 8).count() / (50.0 * (n - 1))
    info(f"IVF-over-projected: cluster agreement = $ivfAgree%.3f scannedFrac=$scanned%.3f")
    assert(ivfAgree >= 0.95, s"IVF over the reduced column lost the neighborhood: $ivfAgree")
    assert(scanned < 0.15, s"IVF over the reduced column scanned too much: $scanned")
    corpus.unpersist()
  }

  test("quantized ANN recall@10 vs brute force >= 0.95") {
    val queries = emb.filter(col("id") < 50)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val qz = SimilaritySearch.quantizedTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      qz.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"quantized ANN mean recall@10 = $mean (int8, refine=4)")
    assert(mean >= 0.95, s"recall $mean too low for int8 + 4x refine")
  }

  test("clustered corpus: IVF-PQ keeps recall at a bounded scan fraction") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 64
    val nClusters = 50
    val n = 4000
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val pts = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq)
    }
    val corpus = pts.toDF("id", "features").repartition(8).cache()
    try {
      val queries = corpus.filter(col("id") < 50)
      val brute = SimilaritySearch.bruteForceTopK(corpus, queries, 10)
        .select("query_id", "nbr_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val got = SimilaritySearch.pqTopKIvf(corpus, queries, 10,
          nCells = 64, nProbe = 8)
        .select("query_id", "nbr_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = brute.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      val recall = rs.sum / rs.size
      // Scan fraction is the IVF cell geometry (PQ changes bytes per
      // candidate, not the candidate set).
      val scanned = SimilaritySearch.ivfCandidatePairs(corpus, queries,
        nCells = 64, nProbe = 8).count() / (50.0 * (n - 1))
      info(f"clustered IVF-PQ (64 cells, 8 probes, PQ8x256): recall=$recall%.3f scannedFrac=$scanned%.3f")
      assert(recall >= 0.9, s"clustered IVF-PQ recall $recall")
      assert(scanned < 0.15, s"clustered IVF-PQ scanned fraction $scanned")
    } finally corpus.unpersist()
  }

  test("PQ ANN recall@10 vs brute force >= 0.9") {
    // Floor sits just under the pinned operating point (s11 pins at
    // sf0.001/0.01 — the collapse guard, same scheme as LSH/IVF/int8).
    val queries = emb.filter(col("id") < 50)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val pq = SimilaritySearch.pqTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"PQ ANN mean recall@10 = $mean (PQ8x256, refine=16)")
    assert(mean >= 0.9, s"recall $mean too low for PQ8x256 + 16x refine")
  }

  test("streaming decontamination equals batch d09 bit-for-bit") {
    val got = graft.streaming.EventsStream.decontaminateCounts(spark, sf001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val want = Queries.all("d09_decontaminate")(spark, sf001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want)
    assert(got.values.exists(_._2 > 0), "fixture has no contaminated docs — vacuous")
  }

  test("stream-stream interval join equals the batch range join") {
    val got = graft.streaming.EventsStream.purchaseAttribution(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want = Queries.all("q27_range_join")(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want)
  }

  test("left-outer stream-stream join equals the batch left join, including zero-match purchases") {
    val got = graft.streaming.EventsStream.purchaseAttributionOuter(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val inner = graft.streaming.EventsStream.purchaseAttribution(spark, sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // The outer result is the inner result plus zero rows for every
    // other purchase.
    inner.foreach { case (k, v) => assert(got(k) == v, s"matched row $k diverged") }
    val zeros = got.filter(_._2 == 0L)
    assert(zeros.nonEmpty, "fixture has no zero-match purchases — vacuous outer join")
    assert(got.size == inner.size + zeros.size)
    val purchases = Queries.events(spark, sf001)
      .filter(col("event_type") === "purchase").count()
    assert(got.size == purchases, "one output row per purchase, matched or not")
  }

  test("semantic (k-means-blocked) pairs are a subset of exact pairs with recall >= 0.95") {
    // Floor sits just under the pinned operating point (d11 pins:
    // 492/500 = 0.984 at sf0.001) — the standard collapse guard.
    val e = Queries.augEmb(spark, sf001)
    val sem = Dedup.semanticPairs(e, "id", "features", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.embeddingPairs(e, "id", "features", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(sem.subsetOf(truth), "semantic pairs must be exact-verified (no false positives)")
    val recall = sem.size.toDouble / truth.size
    info(s"semantic blocking recall at k=8: $recall (${sem.size}/${truth.size})")
    assert(recall >= 0.95, s"recall $recall below the d11 operating point")
  }

  test("semanticOverlap: planted paraphrases flagged per a local double reference; " +
      "blocked hits subset of exact; full probing equals the exact scan") {
    import spark.implicits._
    import graft.ops.Decontaminate
    val rnd = new scala.util.Random(7)
    val dim = 16
    def gauss() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val benchVecs = (0L until 10L).map(i => (i, gauss()))
    // Planted paraphrases: a small deterministic perturbation of six
    // benchmark vectors (cosine ~0.999 to the original) — the
    // embedding-space shape of a reworded benchmark item, which the
    // n-gram scrub cannot see.
    val para = benchVecs.take(6).map { case (i, v) =>
      (1000L + i, v.zipWithIndex.map { case (x, j) =>
        x + 0.02f * v((j.toInt + 1) % dim) })
    }
    val noise = (0L until 30L).map(i => (2000L + i, gauss()))
    val corpus = (para ++ noise).toDF("id", "features")
    val bench = benchVecs.toDF("id", "features")
    val tau = 0.9
    // Independent reference: plain double cosine over the local arrays.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectMax = (para ++ noise).map { case (id, v) =>
      id -> benchVecs.map { case (_, b) => cos(v, b) }.max
    }.toMap
    val expectFlag = expectMax.filter(_._2 >= tau).keySet
    assert(para.map(_._1).toSet.subsetOf(expectFlag),
      "fixture check: every planted paraphrase must exceed tau")
    assert(noise.map(_._1).forall(!expectFlag(_)),
      "fixture check: no noise doc reaches tau")

    def run(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    }.toMap
    val exact = run(Decontaminate
      .semanticOverlapExact(corpus, bench, "id", "features", tau))
    assert(exact.keySet == expectMax.keySet,
      "every corpus doc appears exactly once, flagged or not")
    exact.foreach { case (id, (nc, nh, mx)) =>
      assert(nc == benchVecs.size.toLong, s"$id: exact scan sees all of bench")
      assert((nh > 0) == expectFlag(id), s"$id: flag diverged from reference")
      assert(math.abs(mx - expectMax(id)) < 1e-9,
        s"$id: max cosine $mx != reference ${expectMax(id)}")
    }
    // Blocked: no false positives by construction (candidates subset +
    // identical cosine tree); recall on this clustered fixture is 6/6.
    val blocked = run(Decontaminate
      .semanticOverlap(corpus, bench, "id", "features", tau,
        nCells = 4, nProbe = 2))
    assert(blocked.keySet == expectMax.keySet)
    blocked.foreach { case (id, (nc, nh, _)) =>
      assert(nc <= benchVecs.size.toLong)
      assert(nh == 0 || exact(id)._2 > 0, s"$id: blocked flagged a clean doc")
    }
    val blockedFlags = blocked.filter(_._2._2 > 0).keySet
    assert(blockedFlags == expectFlag,
      s"blocked recall on the clustered fixture: $blockedFlags != $expectFlag")
    // Full probing (nProbe = nCells) degenerates to the exact scan —
    // same rows, same counts, same doubles (identical expression tree).
    val full = run(Decontaminate
      .semanticOverlap(corpus, bench, "id", "features", tau,
        nCells = 4, nProbe = 4))
    assert(full.keySet == exact.keySet)
    full.foreach { case (id, (nc, nh, mx)) =>
      val (enc, enh, emx) = exact(id)
      assert(nc == enc && nh == enh &&
        (mx == emx || (mx.isNaN && emx.isNaN)),
        s"$id: full-probe blocked != exact: ($nc,$nh,$mx) vs ($enc,$enh,$emx)")
    }
  }

  test("st25: drained streaming semantic decontamination equals batch d23 row-for-row") {
    import graft.ops.Decontaminate
    val aug = Queries.augEmb(spark, sf001)
    val bench = Queries.d23Bench(aug)
    val batch = Decontaminate.semanticOverlap(
      Queries.d23Corpus(aug), bench, "id", "features", 0.9)
    val streamed = graft.streaming.EventsStream.semanticDeconServe(
      spark, sf001, bench,
      b => Queries.d23Corpus(Queries.augmentEmb(b)), 0.9)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "drained per-doc frame must equal the batch scrub exactly")
  }

  test("st26: drained streaming line decontamination equals batch d25 row-for-row") {
    val batch = Queries.all("d25_line_decontaminate")(spark, sf001)
    val streamed = Queries.all("st26_line_decon_serve")(spark, sf001)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "drained per-doc frame must equal the batch scrub exactly")
    val removed = batch.agg(sum(col("n_removed"))).head().getLong(0)
    assert(removed > 0L, "the sf0.001 split must actually leak lines")
  }

  test("st28: drained streaming WARC ingest parses the identical record set") {
    val files = graft.ops.Warc.buildFiles(Queries.warcRecs(spark, sf001))
    val batch = graft.ops.Warc.parseRecords(files).toDF()
      .drop("path") // the stream's paths are real file URIs, not seg names
    val streamed = graft.streaming.EventsStream
      .warcIngestServe(spark, files, filesPerTrigger = 2).drop("path")
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "drained records must equal the batch parse byte-for-byte")
    // And the file-count census field survives the path renaming.
    val nf = Queries.warcCensus(graft.streaming.EventsStream
      .warcIngestServe(spark, files)).head().getLong(1)
    assert(nf == files.count(), "every segment file must arrive")
  }

  test("st27: drained streaming fertility census equals batch t53 row-for-row") {
    val batch = Queries.all("t53_fertility")(spark, sf001)
    val streamed = Queries.all("st27_fertility_serve")(spark, sf001)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "re-merged drained partials must equal the batch census exactly")
  }

  test("st31: drained streaming CCNet card equals batch t56 row-for-row") {
    val batch = Queries.all("t56_ccnet_buckets")(spark, sf001)
    val streamed = Queries.all("st31_ccnet_serve")(spark, sf001)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "stateless scoring against the frozen LM + one post-drain card " +
        "must equal the batch card exactly (no OOV under the corpus-fit LM)")
  }

  test("p13: the Dolma card's attrition is monotone and the mixture " +
      "budget conserves the surviving token mass") {
    val rows = Queries.all("p13_dolma_card")(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stages = Seq("0_corpus", "1_gopher", "2_neardup", "3_decon")
    assert(stages.forall(rows.contains), s"missing stages: ${rows.keySet}")
    val seq = stages.map(rows)
    assert(seq.zip(seq.tail).forall { case ((d0, t0), (d1, t1)) =>
      d1 <= d0 && t1 <= t0 }, s"attrition must be monotone: $seq")
    assert(seq.last._1 > 0, "the fixture pipeline must not drain to empty")
    val mix = rows.filter(_._1.startsWith("4_mix_"))
    assert(mix.nonEmpty, "mixture rows missing")
    assert(mix.values.map(_._1).sum == seq.last._1,
      "mixture strata must partition the surviving docs")
    val budget = mix.values.map(_._2).sum
    val survTok = seq.last._2
    // Σ round(w_i·T) vs T: off by at most one rounding step per stratum.
    assert(math.abs(budget - survTok) <= mix.size.toLong,
      s"budget conservation: $budget vs $survTok (${mix.size} strata)")
  }

  test("p11: the dedup-policy card's masses are mutually consistent") {
    val rows = Queries.all("p11_dedup_policy_card")(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet ==
      Set("baseline", "hard_neardup", "soft_neardup", "line_dedup"))
    val (bn, bm) = rows("baseline")
    val (hn, hm) = rows("hard_neardup")
    val (sn, sm) = rows("soft_neardup")
    val (ln, lm) = rows("line_dedup")
    assert(hn < bn && hm < bm,
      s"hard dedup must drop docs AND mass: ($hn,$hm) vs ($bn,$bm)")
    assert(sn == bn, "soft dedup never drops a document")
    assert(sm < bm, "multi-member clusters must downweight soft mass")
    assert(ln == bn, "line dedup keeps every document row")
    assert(lm < bm, "duplicated lines must remove line-dedup mass")
    // NOTE deliberately no hard-vs-soft mass ordering: soft keeps each
    // cluster's AVERAGE member mass while hard keeps its min-id
    // member's — either can be larger (at sf0.001 they differ by
    // <0.01%, hard slightly ahead).
  }

  test("MIPS-to-cosine reduction is exact under full probing on norm-skewed data") {
    import spark.implicits._
    // Norms vary 20x, so MIPS and cosine rankings genuinely differ —
    // the regime the reduction exists for. With nProbe = nCells every
    // cell is scanned, and the augmented-space dot is exactly v·q
    // (tail · 0 adds +0.0), so ranking by augmented cosine must equal
    // exact MIPS ranking id-for-id.
    val rnd = new scala.util.Random(17)
    val data = (0L until 300L).map { i =>
      val scale = 0.1f + (i % 20) * 0.1f
      (i, Array.fill(16)(rnd.nextGaussian().toFloat * scale))
    }.toDF("id", "features")
    val queries = data.filter(col("id") < 10)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = ranked(SimilaritySearch.mipsTopK(data, queries, 10))
    val reduced = ranked(SimilaritySearch.mipsTopKIvf(data, queries, 10,
      nCells = 8, nProbe = 8))
    assert(reduced == exact, "full-probe reduction diverged from exact MIPS")
    // Sanity: plain cosine ranking differs on this corpus (MIPS is not
    // cosine here — the reduction is doing real work).
    val cosine = ranked(SimilaritySearch.bruteForceTopK(data, queries, 10))
    assert(cosine != exact, "fixture failed to separate MIPS from cosine")
  }

  test("filtered IVF recall vs the filtered brute scan >= 0.75") {
    // Floor sits just under the pinned operating point (s08 pins:
    // 158/200 = 0.79 at sf0.001) — the same collapse guard as the
    // LSH/IVF/graph-search floors.
    val pred = col("id") % 3 === 0
    val queries = emb.filter(col("id") < 50)
    val truth = SimilaritySearch.bruteForceTopK(emb.filter(pred), queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = SimilaritySearch.ivfTopKFiltered(emb, queries, 10, pred)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // Every returned neighbor must satisfy the predicate (pre-filter,
    // not post-filter, semantics).
    got.values.flatten.foreach(id => assert(id % 3 == 0, s"unfiltered id $id"))
    val recalls = truth.map { case (qid, t) =>
      got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(s"filtered IVF mean recall@10 = $mean")
    assert(mean >= 0.75, s"recall $mean below the s08 operating point")
  }

  test("streaming heavy terms equal the batch Misra-Gries frequentTerms") {
    import org.apache.spark.sql.functions.split
    val got = graft.streaming.EventsStream.heavyTerms(spark, sf001, 1L, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.ops.HeavyHitters.frequentTerms(
        Queries.t(spark, sf001, "documents"), split(col("text"), " "), 1L, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture should have heavy terms at 1%")
  }

  test("streaming dedup counts equal the batch DISTINCT") {
    val got = graft.streaming.EventsStream.dedupCounts(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Queries.events(spark, sf001)
      .select("user_id", "event_type").distinct()
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("graph search recall@10 vs brute force >= 0.9") {
    val g = graft.nnd.NND.buildGraph(emb, graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val queries = emb.filter(col("id") < 50)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val gs = graft.ops.GraphSearch.searchGraph(g, emb, queries, 10)
      .select("query_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (qid, truth) =>
      gs.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(s"graph-search mean recall@10 = $mean")
    // Floor sits just under the pinned operating point (s03 at sf0.1:
    // 193/200 = 0.965 in Queries.pinnedValues; sf0.001 fixtures measure
    // ~0.995) so a beam-search quality collapse fails HERE, not at the
    // driver gate after a silent re-pin — same policy as the LSH (>=0.9)
    // and IVF (>=0.8) floors above.
    assert(mean >= 0.9, s"recall $mean below the s03 operating point")
  }

  test("graph append beams by L2: a far-L2/high-cosine decoy cannot displace a true neighbor") {
    // The round-8 metric-mix counterexample: the query is (1, 0); n1 at
    // (1, 0.1) is its true L2 neighbor (d ~ 0.1); six decoys sit exactly
    // ON the query's ray at 10x the radius (cosine = 1.0, L2 distance
    // >= 9). A cosine-ranked beam puts every decoy above n1 and the
    // beam bound evicts it BEFORE any re-score; the unified L2 beam
    // must keep n1 at rank 1 of the appended list.
    import spark.implicits._
    val corpusRows =
      (1L, Array(1f, 0.1f)) +: (2L to 7L).map(i => (i, Array(i * 10f, 0f)))
    val corpus = corpusRows.toDF("id", "features")
    // Fully connected hand graph so reachability can't mask the ranking.
    val ids = corpusRows.map(_._1)
    val graph = ids.map(i =>
        (i, ids.filter(_ != i).map(j => (j, 0.5)).toArray))
      .toDF("id", "neighbors")
      .select(col("id"),
        expr("transform(neighbors, x -> struct(x._1 as id, x._2 as similarity))")
          .as("neighbors"))
    val newPoint = Seq((100L, Array(1f, 0f))).toDF("id", "features")
    val appended = graft.ops.GraphSearch.appendToGraph(
        graph, corpus, newPoint, k = 1, beam = 1, hops = 1, seeds = 2)
      .filter(col("id") === 100L)
      .select(explode(col("neighbors")).as("nb"))
      .select(col("nb.id"), col("nb.similarity"))
      .collect()
    assert(appended.length == 1)
    assert(appended(0).getLong(0) == 1L,
      s"decoy displaced the true L2 neighbor: got ${appended(0)}")
    val sim = appended(0).getDouble(1)
    val want = graft.core.Similarity.l2Sim(Array(1f, 0f), Array(1f, 0.1f))
    assert(java.lang.Double.doubleToLongBits(sim) ==
      java.lang.Double.doubleToLongBits(want),
      s"appended sim $sim not bit-equal to the JVM kernel's $want")
  }

  test("graph append honors the logical-partition gate") {
    // The NND contract: similarity across partition values is -Inf, so
    // lists never cross partitions. The appended point sits at (5, 0)
    // in partition 0; its nearest overall neighbor is (5.1, 0) in
    // partition 1, but its list may only draw from partition 0 — and
    // an ungated beam (the round-9 review defect) would store the
    // partition-1 neighbor with a finite sim that a later updateGraph
    // preserves as an old candidate.
    import spark.implicits._
    val p0 = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f), 0L))
    val p1 = (0 until 20).map(i => (100L + i, Array(i / 10f + 4.6f, 0f), 1L))
    val corpus = (p0 ++ p1).toDF("id", "features", "partition")
    val graph = graft.nnd.NND.buildGraph(corpus,
        graft.nnd.NND.Params(k = 4, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val newPoint = Seq((500L, Array(5f, 0f), 0L))
      .toDF("id", "features", "partition")
    val appended = graft.ops.GraphSearch.appendToGraph(
        graph, corpus, newPoint, k = 4, beam = 8, hops = 2, seeds = 4)
      .filter(col("id") === 500L)
      .select(explode(col("neighbors")).as("nb"))
      .select(col("nb.id")).collect().map(_.getLong(0)).toSet
    assert(appended.nonEmpty, "appended point got no neighbors")
    assert(appended.forall(_ < 100L),
      s"appended list crossed the logical partition: $appended")
    // Queries without a partition column are rejected up front.
    intercept[IllegalArgumentException] {
      graft.ops.GraphSearch.appendToGraph(
        graph, corpus, Seq((501L, Array(5f, 0f))).toDF("id", "features"),
        k = 4, beam = 8, hops = 2, seeds = 4)
    }
  }

  test("pruneGraph drops the occluded neighbor and keeps the diverse one (α-RNG rule)") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    // v = 0 at the origin; c1 = (1,0) at d 1; c2 = (2,0) at d 2 —
    // collinear behind c1, occluded at α = 1.2 (1.2·d(c1,c2) = 1.2 <= 2);
    // c3 = (0,1.5) at d 1.5 — a different direction, kept
    // (1.2·d(c1,c3) = 1.2·1.803 = 2.16 > 1.5).
    val corpus = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(2f, 0f)), (3L, Array(0f, 1.5f))).toDF("id", "features")
    val g = Seq(NeighborList(0L,
      Seq(Neighbor(1L, 1.0 / 2.0), Neighbor(3L, 1.0 / 2.5), Neighbor(2L, 1.0 / 3.0))))
      .toDS().toDF()
    val got = graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = 1.2)
      .as[NeighborList].collect().head
    assert(got.id == 0L)
    assert(got.neighbors.map(_.id) == Seq(1L, 3L),
      s"expected the collinear far neighbor pruned: ${got.neighbors}")
    assert(got.neighbors.map(_.similarity) == Seq(1.0 / 2.0, 1.0 / 2.5),
      "stored similarities must pass through byte-untouched")
  }

  test("pruneGraph: huge α keeps every list bit-identical; maxDegree caps in distance order") {
    import spark.implicits._
    import graft.core.NeighborList
    val corpus = emb
    val g = graft.nnd.NND.buildGraph(corpus,
        graft.nnd.NND.Params(k = 5, maxIterations = 2))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    def lists(df: org.apache.spark.sql.DataFrame) =
      df.as[NeighborList].collect()
        .map(nl => nl.id -> nl.neighbors.map(n => (n.id, n.similarity)))
        .toMap
    val orig = lists(g)
    // α → ∞: the occlusion test never fires, every list survives whole
    // (lists are already in (sim desc, id asc) order, the kernel's sort).
    val loose = lists(graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = 1e12))
    assert(loose == orig, "α=1e12 must be the identity prune")
    // maxDegree alone = top-2 prefix of each list.
    val capped = lists(graft.ops.GraphSearch.pruneGraph(
      g, corpus, alpha = 1e12, maxDegree = 2))
    assert(capped == orig.map { case (id, ns) => id -> ns.take(2) },
      "maxDegree must keep the closest-2 prefix")
    intercept[IllegalArgumentException] {
      graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = 0.9)
    }
  }

  test("pruneGraph matches an independent in-memory greedy and preserves search recall") {
    import spark.implicits._
    import graft.core.NeighborList
    val corpus = emb
    val g = graft.nnd.NND.buildGraph(corpus,
        graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    val feats = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // α = 1.0 (strict RNG): the declared operating point — the
    // isotropic fixture's neighbor-neighbor distances concentrate just
    // above node-neighbor distances, so the slack rules barely fire.
    val alpha = 1.0
    val expected = g.as[NeighborList].collect().map { nl =>
      val sorted = nl.neighbors.sortBy(n => (-n.similarity, n.id))
      val kept = scala.collection.mutable.ArrayBuffer.empty[graft.core.Neighbor]
      for (c <- sorted) {
        val dC = 1.0 / c.similarity - 1.0
        if (!kept.exists(p =>
            alpha * graft.core.Similarity.l2(feats(p.id), feats(c.id)) <= dC))
          kept += c
      }
      nl.id -> kept.toSeq.map(n => (n.id, n.similarity))
    }.toMap
    val prunedDf = graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = alpha)
      .localCheckpoint()
    val got = prunedDf.as[NeighborList].collect()
      .map(nl => nl.id -> nl.neighbors.map(n => (n.id, n.similarity))).toMap
    assert(got == expected, "distributed prune diverged from the in-memory greedy")
    // The strict rule must actually bite (~18% of this fixture's
    // edges sit behind a closer kept neighbor)...
    val before = g.as[NeighborList].collect().map(_.neighbors.size).sum
    val after = got.values.map(_.size).sum
    assert(after <= before * 0.95, s"strict RNG prune removed almost nothing ($before -> $after)")
    // ...while the kept DIVERSE edges preserve navigability: beam
    // search over the pruned graph recovers nearly the unpruned
    // graph's recall at the same serving parameters.
    val q = corpus.filter(col("id") < 20)
    val truth = SimilaritySearch.bruteForceTopK(corpus, q, 10)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(graph: org.apache.spark.sql.DataFrame) =
      graft.ops.GraphSearch.searchGraph(graph, corpus, q, k = 10,
          beam = 32, hops = 4, seeds = 16)
        .select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(truth).size
    val hFull = hits(g)
    val hPruned = hits(prunedDf)
    info(s"recall@10 over 20 queries: unpruned $hFull/${truth.size}, pruned $hPruned/${truth.size}, edges $before -> $after")
    assert(hPruned >= hFull - truth.size / 20,
      s"pruned graph lost navigability: $hPruned vs $hFull of ${truth.size}")
  }

  test("pruneGraph keeps one row per input node even when every candidate drops") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    // Node 0's only neighbor is absent from the corpus (the inner
    // features join drops the candidate — pruning cannot certify what
    // it cannot measure); node 1's list is already empty; node 2 is a
    // finished passthrough. All three must come back: 0 and 1 with
    // EMPTY lists (not vanished — downstream unions/audits expect one
    // row per node), 2 with its null untouched.
    val corpus = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)))
      .toDF("id", "features")
    val g = Seq(
        NeighborList(0L, Seq(Neighbor(99L, 0.5))),
        NeighborList(1L, Seq.empty))
      .toDS().toDF()
      .unionByName(Seq(2L).toDF("id")
        .withColumn("neighbors",
          lit(null).cast("array<struct<id:bigint,similarity:double>>")))
    val got = graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = 1.0)
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[org.apache.spark.sql.Row](1)).map(_.size)).toMap
    assert(got == Map(0L -> Some(0), 1L -> Some(0), 2L -> None),
      s"row preservation broken: $got")
  }

  test("pruned serving artifact round-trips row-identically and cuts search shuffle") {
    import spark.implicits._
    import graft.core.NeighborList
    // The n09 lifecycle: prune -> parquet -> reload must reproduce the
    // in-memory prune row for row (doubles/ids round-trip parquet
    // exactly), and serving from the pruned artifact must move LESS
    // shuffle per search than the unpruned graph — the DiskANN payoff
    // (fewer edges fetched per beam hop) measured, not asserted on
    // faith.
    val corpus = emb
    val g = graft.nnd.NND.buildGraph(corpus,
        graft.nnd.NND.Params(k = 10, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    val pruned = graft.ops.GraphSearch.pruneGraph(g, corpus, alpha = 1.0)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_rt").toString
    try {
      pruned.write.mode("overwrite").parquet(s"$dir/graph")
      val reloaded = spark.read.parquet(s"$dir/graph")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[NeighborList].collect()
          .map(nl => nl.id -> nl.neighbors.map(n => (n.id, n.similarity)))
          .toMap
      assert(rows(reloaded) == rows(pruned),
        "pruned artifact did not round-trip parquet row-identically")
      val q = corpus.filter(col("id") < 20)
      def searchBytes(graph: org.apache.spark.sql.DataFrame): Long =
        shuffleMeasured {
          graft.ops.GraphSearch.searchGraph(graph, corpus, q, k = 10,
            beam = 32, hops = 4, seeds = 16).collect()
        }._2
      val fullBytes = searchBytes(g)
      val prunedBytes = searchBytes(reloaded)
      info(s"search shuffle bytes: unpruned $fullBytes, pruned artifact $prunedBytes")
      assert(prunedBytes < fullBytes,
        s"pruned serve must shuffle less than unpruned: $prunedBytes vs $fullBytes")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("cross-set substring decontamination stays linear on a white-hot leak") {
    // d19's scale witness (the d18 tiling exhibit in cross-set form):
    // every corpus document opens with a passage the single benchmark
    // document contains, so every document is a scrub target. The
    // corpus side is never shuffled by content (benchmark carriers
    // broadcast; candidates partial-agg map-side), so 10x the
    // document mass must cost ~10x the shuffle. Bench twin:
    // d19_skewed_decon.
    import spark.implicits._
    val hot = Seq.fill(4)("the quick brown fox jumps over").mkString(" ") // 24 tokens
    val bench = Seq((0L, s"leak $hot end")).toDF("doc_id", "text")
    def corpus(nDocs: Int) = (0L until nDocs.toLong).map(i =>
        (i, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e"))
      .toDF("doc_id", "text").repartition(8).cache()
    val light = corpus(400)
    val heavy = corpus(4000)
    light.count(); heavy.count()
    try {
      val (lightRows, lightBytes) = shuffleMeasured {
        Dedup.substrDecontaminate(light, bench, "doc_id", "text", minLen = 20)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      val (heavyRows, heavyBytes) = shuffleMeasured {
        Dedup.substrDecontaminate(heavy, bench, "doc_id", "text", minLen = 20)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      }
      assert(lightRows.length == 400 && heavyRows.length == 4000)
      lightRows.foreach { case (id, nRemoved, clean) =>
        assert(nRemoved == 24L, s"doc $id removed $nRemoved tokens, want the 24 leaked ones")
        assert(clean == s"u${id}a u${id}b u${id}c u${id}d u${id}e",
          s"doc $id tail corrupted: '$clean'")
      }
      info(s"shuffle bytes — 400 docs: $lightBytes, 4000 docs: $heavyBytes")
      assert(heavyBytes < lightBytes * 15,
        s"cross-set substring scrub went super-linear on the hot leak: $heavyBytes vs $lightBytes")
    } finally {
      light.unpersist(); heavy.unpersist()
    }
  }

  test("embedding near-dup threshold has a safe float margin") {
    val cos = Dedup.embeddingPairs(emb, "id", "features", 0.0)
      .select("cosine").collect().map(_.getDouble(0))
    val margin = cos.map(c => math.abs(c - 0.5)).min
    info(s"closest cosine to the 0.5 threshold: margin $margin")
    assert(margin > 1e-4, "threshold too close to a data point for float parity")
  }

  test("salted aggregation and salted join match their unsalted results") {
    val ev = Queries.events(spark, sf001)
    val unsalted = ev.groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = graft.ops.Skew.saltedCounts(ev, col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == unsalted)

    val dim = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")))
    val plain = ev.join(dim, "event_type").agg(sum("weight")).head().getLong(0)
    val viaSalt = graft.ops.Skew.saltedJoin(ev, dim, "event_type")
      .agg(sum("weight")).head().getLong(0)
    assert(viaSalt == plain)
  }

  test("batched feature extraction delivers bounded batches and is batch-size invariant") {
    val media = Multimodal.asMedia(docs)
    val total = media.count()
    // instrumented kernel: record every batch size it was handed
    val batchCount = spark.sparkContext.longAccumulator("batches")
    val oversize = spark.sparkContext.longAccumulator("oversize")
    val counting = (batch: Array[Array[Byte]]) => {
      batchCount.add(1)
      if (batch.length > 16) oversize.add(1)
      Multimodal.featureKernelStub(batch)
    }
    val got = Multimodal.extractFeatures(media, batchSize = 16, kernel = counting)
      .collect().map(m => m.doc_id -> m.features.toSeq).toMap
    assert(got.size.toLong == total)
    assert(oversize.value == 0, "a batch exceeded batchSize")
    assert(batchCount.value >= total / 16,
      s"too few kernel calls (${batchCount.value}) for $total rows at batch 16")
    // same results at a different batch size and partitioning
    val again = Multimodal.extractFeatures(media.repartition(11), batchSize = 5)
      .collect().map(m => m.doc_id -> m.features.toSeq).toMap
    assert(again == got)
  }

  test("real image decode: in-test PNGs get true dimensions, channels, and luminance features") {
    import spark.implicits._
    // Generate PNGs of known shape/content: a 20x40 mid-gray image and
    // a 32x8 black/white split (top half black, bottom half white).
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val gray = png(20, 40, (_, _) => 0x808080)
    val split = png(32, 8, (_, y) => if (y < 4) 0x000000 else 0xffffff)

    val direct = graft.ops.Multimodal.decodeImage(gray)
    assert(direct.nonEmpty, "PNG not decoded by ImageIO")
    val (w, h, c, feats) = direct.get
    assert(w == 20 && h == 40 && c == 3)
    assert(feats.forall(f => math.abs(f - 0x80 / 255.0f) < 1e-3), feats.mkString(","))

    // Text bytes are claimed by no codec and fall back to the stub.
    assert(graft.ops.Multimodal.decodeImage("not an image at all".getBytes).isEmpty)

    // Full distributed path: PNG rows decode for real, text rows stub.
    val media = Seq(
      (1L, gray, "image/png"),
      (2L, split, "image/png"),
      (3L, "plain text blob".getBytes, "application/octet-stream"))
      .toDF("doc_id", "media", "media_type")
    val decoded = graft.ops.Multimodal.decode(media)
      .collect().map(m => m.doc_id -> m).toMap
    assert(decoded(1L).width == 20 && decoded(1L).height == 40 && decoded(1L).channels == 3)
    assert(decoded(2L).width == 32 && decoded(2L).height == 8)
    // split image: first 4 strips black (0), last 4 white (1)
    assert(decoded(2L).feature8.take(4).forall(_ < 0.01f))
    assert(decoded(2L).feature8.drop(4).forall(_ > 0.99f))
    // text row falls back to the stub's byte-derived metadata
    val stub = graft.ops.Multimodal.decodeStub("plain text blob".getBytes)
    assert(decoded(3L).width == stub._1 && decoded(3L).height == stub._2)

    // Batched extraction with the image kernel delivers the same features.
    val feat = graft.ops.Multimodal.extractFeatures(media, batchSize = 2,
        kernel = graft.ops.Multimodal.imageFeatureKernel)
      .collect().map(m => m.doc_id -> m.features).toMap
    assert(feat(2L).take(4).forall(_ < 0.01f) && feat(2L).drop(4).forall(_ > 0.99f))

    // Aspect-preserving resize on the real dimensions.
    val resized = graft.ops.Multimodal.resize(
        graft.ops.Multimodal.decode(media).toDF(), targetW = 64)
      .select("doc_id", "new_w", "new_h")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(resized(1L) == ((64, 128)), s"20x40 -> ${resized(1L)}") // 40*64/20
    assert(resized(2L) == ((64, 16)), s"32x8 -> ${resized(2L)}")   // 8*64/32
  }

  test("extractMainContent: tags, entities, script/style, line rules — hand-computed") {
    import spark.implicits._
    val rows = Seq(
      // Nested tags: inline markup strips, block closers break lines.
      1L -> "<div><p>alpha <b>bold</b> beta gamma delta</p></div>",
      // Entities decode in kept output; double-encoded &amp;lt; must
      // come out as the LITERAL '&lt;' (amp decodes last), never '<'.
      2L -> ("<p>alpha beta gamma delta epsilon &amp; zeta " +
        "&lt;eta&gt; &amp;lt;</p>"),
      // Script payload (with a bare '<' inside) and style vanish WITH
      // their content before any tag stripping can mangle them.
      3L -> ("<script type=\"text/javascript\">if (a < b) { alert(1); }" +
        "</script><style>.a { color: red; }</style>" +
        "<p>content words one two three</p>"),
      // Token rule: 4-token line drops, 5-token line survives.
      4L -> "<p>one two three four</p><p>five six seven eight nine</p>",
      // Alpha rule: six tokens of pure symbols drop.
      5L -> "<p>== == == == == ==</p>",
      // No markup at all: a plain line passes through untouched.
      6L -> "just plain prose with six tokens",
      // Whitespace runs collapse before scoring and in the output.
      7L -> "<p>a  b   c    d     e</p>",
      // Link density (jusText's core rule): an 8-link nav bar PASSES
      // the token rule (8 tokens) and must drop on anchor mass alone.
      8L -> ("<nav><a href=\"/\">home</a> <a href=\"/a\">docs</a> " +
        "<a href=\"/b\">api</a> <a href=\"/c\">blog</a> " +
        "<a href=\"/d\">about</a> <a href=\"/e\">careers</a> " +
        "<a href=\"/f\">contact</a> <a href=\"/g\">legal</a></nav>"),
      // Prose with one inline link survives: 10/37 nonspace chars of
      // anchor mass is under the 33% bar.
      9L -> ("<p>read the <a href=\"/docs\">spark guide</a> when " +
        "things break badly</p>"),
      // Unterminated anchor: the rest of the line counts as link text
      // (the documented conservative contract) — 25/30 drops it.
      10L -> "<p>alpha <a href=\"/x\">beta gamma delta epsilon zeta</p>",
      // Case-insensitivity: uppercase script must vanish WITH payload
      // and uppercase anchors must still mark (else the nav evades the
      // link rule) — crawled markup mixes cases freely.
      11L -> ("<SCRIPT>if (a < b) { alert(1); }</SCRIPT>" +
        "<P>one two three four five six</P>" +
        "<NAV><A HREF=\"/\">home</A> <A HREF=\"/b\">docs</A> " +
        "<A HREF=\"/c\">api</A> <A HREF=\"/d\">blog</A> " +
        "<A HREF=\"/e\">about</A> <A HREF=\"/f\">careers</A> " +
        "<A HREF=\"/g\">contact</A> <A HREF=\"/h\">legal</A></NAV>"),
      // Comments are inert markup: their payload (tags included) must
      // vanish whole — the generic strip would eat only to the first
      // '>' and leak "commented out words -->" into the text.
      12L -> ("<!-- <p>commented out words here</p> -->" +
        "<p>real words one two three</p><!-- trailing note -->"),
      // A '<!--' INSIDE a script payload (the legacy hiding idiom)
      // must not open a comment that swallows the following prose —
      // script blocks remove before comment stripping.
      13L -> ("<script>document.write(\"<!--\");</script>" +
        "<p>prose that must survive the idiom</p><!-- real note -->"),
      // NULL markup = the empty document (row preserved, non-null
      // outputs — a crawl's null payload must not poison downstream).
      14L -> (null: String),
      // Stray U+0001/U+0002 control bytes in crawled markup must not
      // be mistaken for anchor sentinels: left in place they would
      // inflate the line's link mass (everything after U+0001 counts
      // as anchor text) and drop genuine prose. They strip on input.
      15L -> "<p>raw \u0001control\u0002 bytes survive scoring fine</p>")
      .toDF("doc_id", "html")
    val got = graft.ops.TextAnalysis.extractMainContent(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 1L, "alpha bold beta gamma delta")), got(1L))
    assert(got(2L) == ((2L, 1L,
      "alpha beta gamma delta epsilon & zeta <eta> &lt;")), got(2L))
    assert(got(3L) == ((2L, 1L, "content words one two three")), got(3L))
    assert(got(4L) == ((3L, 1L, "five six seven eight nine")), got(4L))
    assert(got(5L) == ((2L, 0L, "")), got(5L))
    assert(got(6L) == ((1L, 1L, "just plain prose with six tokens")), got(6L))
    assert(got(7L) == ((2L, 1L, "a b c d e")), got(7L))
    assert(got(8L) == ((2L, 0L, "")), got(8L))
    assert(got(9L) == ((2L, 1L,
      "read the spark guide when things break badly")), got(9L))
    assert(got(10L) == ((2L, 0L, "")), got(10L))
    assert(got(11L) == ((3L, 1L, "one two three four five six")), got(11L))
    assert(got(12L) == ((2L, 1L, "real words one two three")), got(12L))
    assert(got(13L) == ((2L, 1L, "prose that must survive the idiom")),
      got(13L))
    assert(got(14L) == ((1L, 0L, "")), got(14L))
    assert(got(15L) == ((2L, 1L, "raw control bytes survive scoring fine")),
      got(15L))
  }

  test("winnowFingerprints: SWA03 semantics vs an independent reference") {
    import spark.implicits._
    val M = 1000000007L
    val A = 1000003L
    // Independent driver-side reference: same published algorithm,
    // written directly (character fold, gram fold, sliding rightmost
    // min), no shared code with the HOF kernel.
    def ref(text: String, k: Int, w: Int): (Long, Long, Long) = {
      val th = text.split(" ").map(_.foldLeft(0L)((h, c) => (h * 31 + c) % M))
      if (th.length < k) return (0L, 0L, 0L)
      val g = (0 to th.length - k).map(p =>
        (p until p + k).foldLeft(0L)((a, i) => (a * A + th(i)) % M)).toArray
      val sels = (0 to math.max(g.length - w, 0)).map { q =>
        val e = math.min(q + w, g.length)
        (q until e).foldLeft(-1) { (best, i) =>
          if (best < 0 || g(i) <= g(best)) i else best
        }
      }.distinct
      (g.length.toLong, sels.length.toLong,
        sels.map(p => g(p) + p).sum)
    }
    val docs = Seq(
      (1L, "a b a b a b a b"),            // periodic: heavy dedup of picks
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "x y"),                        // fewer than k tokens: no grams
      (4L, "one two three"),              // exactly k: one gram, one window
      (5L, "p q r s"),                    // m=2 < w: single spanning window
      (6L, "z z z z z z z z z z"))        // all-equal hashes: tie rule bites
    val got = graft.ops.TextAnalysis
      .winnowFingerprints(docs.toDF("doc_id", "text").repartition(3))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    docs.foreach { case (id, tx) =>
      assert(got(id) == ref(tx, 3, 4), s"doc $id: ${got(id)} vs ${ref(tx, 3, 4)}")
    }
    // The winnowing guarantee on a planted clone: two documents
    // sharing a >= w+k-1 = 6-token run share at least one identical
    // gram hash among their SELECTED fingerprints.
    val shared = "alpha beta gamma delta epsilon zeta"
    def selectedHashes(text: String): Set[Long] = {
      val th = text.split(" ").map(_.foldLeft(0L)((h, c) => (h * 31 + c) % M))
      val g = (0 to th.length - 3).map(p =>
        (p until p + 3).foldLeft(0L)((a, i) => (a * A + th(i)) % M)).toArray
      (0 to math.max(g.length - 4, 0)).map { q =>
        val e = math.min(q + 4, g.length)
        (q until e).foldLeft(-1)((b, i) => if (b < 0 || g(i) <= g(b)) i else b)
      }.distinct.map(g(_)).toSet
    }
    val a = selectedHashes(s"prefix words here $shared")
    val b = selectedHashes(s"$shared and a different tail entirely")
    assert(a.intersect(b).nonEmpty, "winnowing guarantee violated")
    // Zero exchanges: a pure projection.
    val plan = graft.ops.TextAnalysis
      .winnowFingerprints(docs.toDF("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"t44 plan shuffles:\n$plan")
  }

  test("winnowPairs: planted clone surfaces; df-cap drops boilerplate") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"prefix words here $shared"),
      (2L, s"$shared and a different tail entirely"),
      (3L, "totally unrelated content with nothing in common at all"),
      (4L, "another disjoint document about other various things"))
      .toDF("doc_id", "text")
    val pairs = graft.ops.TextAnalysis.winnowPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // The winnowing guarantee: the 6-token (= w+k-1) shared run MUST
    // surface the (1,2) pair; the disjoint docs must not pair with
    // anything (distinct vocabularies -> disjoint gram hashes).
    assert(pairs.contains((1L, 2L)), s"planted clone missed: $pairs")
    assert(pairs.keySet == Set((1L, 2L)), s"false pairs: $pairs")
    // minShared thresholds exactly on the intersection size.
    val n = pairs((1L, 2L))
    assert(graft.ops.TextAnalysis.winnowPairs(docs, minShared = n.toInt)
      .count() == 1L)
    assert(graft.ops.TextAnalysis.winnowPairs(docs, minShared = n.toInt + 1)
      .count() == 0L)
    // df-cap: a fingerprint present in >= 3 docs is boilerplate; with
    // maxDf = 2 a three-way clone stops pairing through it.
    val boiler = Seq(
      (1L, s"$shared one"), (2L, s"$shared two"), (3L, s"$shared three"),
      (4L, "disjoint text entirely unrelated to the rest here"))
      .toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.winnowPairs(boiler).count() >= 3L,
      "uncapped three-way clone must pair all three")
    assert(graft.ops.TextAnalysis
      .winnowPairs(boiler, maxDf = Some(2)).count() == 0L,
      "df-capped boilerplate must not pair")
  }

  test("animationFrames: real 3-frame GIF decodes per-frame pixels; stub is exact") {
    import spark.implicits._
    // Write a genuine ANIMATED gif with the JVM's bundled writer:
    // three 10x8 solid frames — black, mid-gray (0x808080), white.
    def animatedGif(colors: Seq[Int], w: Int, h: Int): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, c)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      baos.toByteArray
    }
    val gif = animatedGif(Seq(0x000000, 0x808080, 0xffffff), 10, 8)
    val media = Seq(
      (1L, gif, "image/gif"),
      (2L, "abcd".getBytes("UTF-8"), "application/octet-stream"))
      .toDF("doc_id", "media", "media_type")
    val rows = graft.ops.Multimodal.animationFrames(media)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getInt(1), r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    // Real path: 3 frames found, frames 0 and 2 sampled at stride 2,
    // true 10x8 dims, luminance exact at the palette extremes (GIF
    // stores solid black/white losslessly): 0 and 2^20.
    assert(rows((1L, 0)) == ((3, 10, 8, 0L)), s"frame 0: ${rows((1L, 0))}")
    assert(rows((1L, 2)) == ((3, 10, 8, 1048576L)), s"frame 2: ${rows((1L, 2))}")
    assert(!rows.contains((1L, 1)), "stride must skip frame 1")
    // Mid-gray sanity on the unsampled frame via stride 1: strictly
    // between the extremes and near 0x80/255.
    val all = graft.ops.Multimodal.animationFrames(media, stride = 1)
      .filter(col("doc_id") === 1L).collect()
      .map(r => r.getInt(2) -> r.getLong(5)).toMap
    assert(all(1) > 400000L && all(1) < 650000L, s"gray luma: ${all(1)}")
    // Stub path, hand-computed: "abcd" = one 4-byte frame; w = 16+4,
    // h = 16+'a'(97), luma = (97+98+99+100)·2^20 / (255·4).
    assert(rows((2L, 0)) ==
      ((1, 20, 113, 394L * 1048576L / 1020L)), s"stub: ${rows((2L, 0))}")
    // Zero exchanges: a projection + bounded explode, never a shuffle.
    val plan = graft.ops.Multimodal.animationFrames(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"m07 plan shuffles:\n$plan")
  }

  test("real pixel resize: in-test PNGs are resampled, non-images keep stub dims") {
    import spark.implicits._
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val gray = png(20, 40, (_, _) => 0x808080)
    val media = Seq(
      (1L, gray, "image/png"),
      (2L, "plain text blob".getBytes, "application/octet-stream"))
      .toDF("doc_id", "media", "media_type")

    val out = graft.ops.Multimodal.resizeMedia(media, targetW = 64)
      .collect().map(r => r.doc_id -> r).toMap
    // Image row: true dims in, aspect-preserved target dims out, and the
    // payload is a real PNG of exactly those pixel dimensions.
    assert(out(1L).width == 20 && out(1L).height == 40)
    assert(out(1L).new_w == 64 && out(1L).new_h == 128)
    val reread = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).resized))
    assert(reread != null, "resized payload is not a decodable PNG")
    assert(reread.getWidth == 64 && reread.getHeight == 128)
    // Uniform mid-gray must survive bilinear resampling.
    val rgb = reread.getRGB(32, 64)
    assert(((rgb >> 16) & 0xff) == 0x80 && ((rgb >> 8) & 0xff) == 0x80 &&
      (rgb & 0xff) == 0x80, f"center pixel $rgb%08x")
    // Non-image row: stub dims, no payload.
    val stub = graft.ops.Multimodal.decodeStub("plain text blob".getBytes)
    assert(out(2L).width == stub._1 && out(2L).height == stub._2)
    assert(out(2L).new_w == 64 && out(2L).resized == null)
  }

  test("perceptual hash: re-encoded/resized images collide, different images diverge") {
    import spark.implicits._
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // Structured scene: left half dark, right half bright — aHash bits
    // split cleanly. Same scene at 3 resolutions must collide within a
    // couple of bits; the inverted scene must be far away.
    def scene(w: Int, h: Int) = png(w, h, (x, _) => if (x < w / 2) 0x101010 else 0xF0F0F0)
    val inverted = png(64, 64, (x, _) => if (x < 32) 0xF0F0F0 else 0x101010)
    val media = Seq(
      (1L, scene(64, 64)), (2L, scene(128, 96)), (3L, scene(16, 16)),
      (4L, inverted), (5L, "plain text blob".getBytes))
      .toDF("doc_id", "media").withColumn("media_type", lit("x"))
    val h = graft.ops.Multimodal.perceptualHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 2, s"same scene, different res: ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) <= 2, s"same scene, tiny res: ${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(4L)) >= 32, s"inverted scene too close: ${ham(h(1L), h(4L))}")
    // Stub path: the JVM recount of the documented first-64-bytes rule.
    val bytes = "plain text blob".getBytes
    val cells = Array.tabulate(64)(i => if (bytes.length > i) bytes(i) & 0xff else 0)
    val tot = cells.map(_.toLong).sum
    val want = cells.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
      if (64L * c > tot) acc | (1L << i) else acc
    }
    assert(h(5L) == want)
  }

  test("phashPairs banding finds exactly the all-pairs hamming<=3 set") {
    import spark.implicits._
    val media = Queries.t(spark, sf001, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val got = graft.ops.Multimodal.phashPairs(media, 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h = graft.ops.Multimodal.perceptualHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, ha) <- h; (b, hb) <- h
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture has no near-dup phashes")
    assert(got == want)
  }

  test("real audio decode: in-test WAVs get sample rate, frames, channels, and RMS profile") {
    import spark.implicits._
    // 16-bit stereo WAV at 8 kHz, 8000 frames: first half a 440 Hz sine
    // at amplitude 0.5 (RMS 0.5/sqrt(2) ~ 0.354), second half silence.
    def wav(frames: Int, rate: Float, channels: Int)(sample: Int => Double): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16, channels,
        2 * channels, rate, false)
      val data = new Array[Byte](frames * 2 * channels)
      for (f <- 0 until frames; c <- 0 until channels) {
        val v = (sample(f) * 32767).toInt
        val off = (f * channels + c) * 2
        data(off) = (v & 0xff).toByte
        data(off + 1) = ((v >> 8) & 0xff).toByte
      }
      val in = new AudioInputStream(new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val halfSine = wav(8000, 8000f, 2)(f =>
      if (f < 4000) 0.5 * math.sin(2 * math.Pi * 440 * f / 8000) else 0.0)

    val direct = Multimodal.decodeAudio(halfSine)
    assert(direct.nonEmpty, "WAV not decoded by javax.sound.sampled")
    val (rate, frames, channels, rms) = direct.get
    assert(rate == 8000 && frames == 8000 && channels == 2)
    assert(rms.take(4).forall(r => math.abs(r - 0.5 / math.sqrt(2)) < 0.01),
      s"sine half RMS off: ${rms.mkString(",")}")
    assert(rms.drop(4).forall(_ < 1e-6), s"silent half not silent: ${rms.mkString(",")}")

    // Non-audio bytes are rejected by the gate; images keep decoding as
    // images (the kernel chain tries image codecs first).
    assert(Multimodal.decodeAudio("definitely not audio bytes".getBytes).isEmpty)

    // Full distributed path: WAV rows decode for real (w = rate,
    // h = frames), text rows stub.
    val media = Seq(
      (1L, halfSine, "audio/wav"),
      (2L, "plain text blob".getBytes, "application/octet-stream"))
      .toDF("doc_id", "media", "media_type")
    val decoded = Multimodal.decode(media).collect().map(m => m.doc_id -> m).toMap
    assert(decoded(1L).width == 8000 && decoded(1L).height == 8000 && decoded(1L).channels == 2)
    val stub = Multimodal.decodeStub("plain text blob".getBytes)
    assert(decoded(2L).width == stub._1 && decoded(2L).height == stub._2)
  }

  test("real video container metadata: in-test MP4 gets dimensions, duration, tracks") {
    import spark.implicits._
    def box(tpe: String, content: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + content.length)
      bb.putInt(8 + content.length).put(tpe.getBytes("ISO-8859-1")).put(content)
      bb.array()
    }
    def mvhd(timescale: Int, duration: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(100) // v0 layout, zero-filled tail
      bb.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
      bb.array()
    }
    def tkhd(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76)
      bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      bb.array()
    }
    // Two tracks; the dimensionless first one plays the audio-track role,
    // so the walker must take dims from the first VISUAL track.
    val mp4 = box("ftyp", "isom    ".getBytes("ISO-8859-1")) ++
      box("moov",
        box("mvhd", mvhd(600, 3000)) ++
          box("trak", box("tkhd", tkhd(0, 0))) ++
          box("trak", box("tkhd", tkhd(640, 360))))

    val got = graft.ops.Multimodal.decodeVideoMeta(mp4)
    assert(got.nonEmpty, "MP4 box walk failed")
    val (w, h, tracks, feats) = got.get
    assert(w == 640 && h == 360 && tracks == 2)
    assert(math.abs(feats(0) - 5.0f) < 1e-6, s"duration ${feats(0)} != 5s") // 3000/600
    assert(feats(1) == 600f && feats(2) == 2f)

    // Non-MP4 bytes rejected by the ftyp gate.
    assert(graft.ops.Multimodal.decodeVideoMeta("RIFFxxxxWAVEnot mp4".getBytes).isEmpty)

    // Distributed kernel chain picks the video parser for MP4 rows.
    val media = Seq((1L, mp4, "video/mp4")).toDF("doc_id", "media", "media_type")
    val m = graft.ops.Multimodal.decode(media).collect().head
    assert(m.width == 640 && m.height == 360 && m.channels == 2)
  }

  test("multimodal decode is deterministic and partition-shaped") {
    val media = Multimodal.asMedia(docs)
    val out = Multimodal.decode(media).collect()
    assert(out.length == docs.count())
    assert(out.forall(m => m.channels == 3 && m.feature8.length == 8))
    val again = Multimodal.decode(media.repartition(7)).collect()
    assert(out.sortBy(_.doc_id).map(_.width).toSeq == again.sortBy(_.doc_id).map(_.width).toSeq)
  }

  test("stateful streaming under the RocksDB state store matches the default backend") {
    // RocksDB is the production state backend at scale (state lives off
    // the executor heap, checkpoint-incremental); the stateful surfaces
    // must be backend-portable. Runs the custom-state sessionizer
    // (flatMapGroupsWithState) and the watermark-bounded dedup under
    // RocksDBStateStoreProvider and requires identical results.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def sessions() = graft.streaming.EventsStream.sessionCountsStateful(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def dedupWm() = graft.streaming.EventsStream.dedupCountsWithinWatermark(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def sessWin() = graft.streaming.EventsStream.sessionWindows(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (expSessions, expDedup, expSessWin) = (sessions(), dedupWm(), sessWin())
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val gotSessions = sessions()
      val gotDedup = dedupWm()
      val gotSessWin = sessWin()
      assert(gotSessions == expSessions,
        s"RocksDB sessionization diverged: ${gotSessions.diff(expSessions)} vs ${expSessions.diff(gotSessions)}")
      assert(gotDedup == expDedup,
        s"RocksDB watermark dedup diverged: $gotDedup vs $expDedup")
      assert(gotSessWin == expSessWin,
        s"RocksDB native session windows diverged: ${gotSessWin.diff(expSessWin)} vs ${expSessWin.diff(gotSessWin)}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stateful streaming sessionization equals the batch computation") {
    val streamed = graft.streaming.EventsStream.sessionCountsStateful(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Queries.events(spark, sf001)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("temperatureMixturePlan: hand-computed sqrt weights, mass conservation") {
    import spark.implicits._
    // Strata token masses 100 / 400: sqrt weights 10 / 20 -> 1/3, 2/3.
    val d = ((1L to 10L).map(i => (i, "a", Seq.fill(10)("w").mkString(" "))) ++
      (11L to 20L).map(i => (i, "b", Seq.fill(40)("w").mkString(" "))))
      .toDF("doc_id", "lang", "text")
    val got = graft.ops.Sampling
      .temperatureMixturePlan(d, "lang", size(split(col("text"), " ")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val sq1 = math.round(math.sqrt(100.0) * 1048576)
    val sq2 = math.round(math.sqrt(400.0) * 1048576)
    val z = (sq1 + sq2).toDouble
    assert(got("a") == ((100L, sq1 / z, math.round(sq1 / z * 500))))
    assert(got("b") == ((400L, sq2 / z, math.round(sq2 / z * 500))))
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("corpusDrift: zero on identical corpora, positive and symmetric on disjoint ones") {
    import spark.implicits._
    val a = Seq((1L, "x y z"), (2L, "x x")).toDF("doc_id", "text")
    val same = graft.ops.TextAnalysis.corpusDrift(a, a).collect()(0)
    assert(same.getLong(1) == 0L, "identical distributions must score 0")
    val b = Seq((3L, "p q"), (4L, "p p r")).toDF("doc_id", "text")
    val ab = graft.ops.TextAnalysis.corpusDrift(a, b).collect()(0)
    val ba = graft.ops.TextAnalysis.corpusDrift(b, a).collect()(0)
    assert(ab.getLong(1) > 0L, "disjoint vocabularies must diverge")
    assert(ab.getLong(1) == ba.getLong(1), "Jeffreys divergence is symmetric")
    assert(ab.getLong(0) == 6L, "union vocabulary size")
  }

  test("streaming checkpoint resume is exactly-once: a killed query continues without loss or duplication") {
    import spark.implicits._
    // Two single-file batches + a durable checkpoint + a file sink:
    // drain batch 1, STOP the query (simulated failure), restart from
    // the checkpoint, drain batch 2. The sink must hold each input row
    // exactly once — the offset log replays nothing and skips nothing.
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/in/b0")
    (51L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/in/b1")
    val schema = spark.read.parquet(s"$dir/in/b0").schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/b*")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .format("parquet")
      .option("path", s"$dir/out")
      .start()
    val q1 = start()
    // Drain everything the source will deliver, then kill. (Both files
    // may drain before stop() lands — resume must be a no-op then, and
    // exactly-once must hold either way.)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.length == 100, s"expected exactly 100 rows, got ${out.length}")
    assert(out.map(_._1).toSet == (1L to 100L).toSet,
      "resume lost or duplicated rows")
  }

  test("streaming corpus drift equals batch t30 bit-for-bit") {
    val got = graft.streaming.EventsStream.corpusDriftStreaming(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = Queries.all("t30_corpus_drift")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got(0)._1 > 0)
  }

  test("streaming ingest dedup equals the batch membership flags") {
    val got = graft.streaming.EventsStream.ingestDedupFlags(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val existing = d.filter(col("doc_id") % 2 === 0).select(col("text").as("e_text")).distinct()
    val batch = d.filter(col("doc_id") % 2 =!= 0)
      .join(existing, col("text") === col("e_text"), "left_outer")
      .select(col("doc_id"), col("e_text").isNotNull.cast("long").as("is_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("streaming near-dup gate (foreachBatch) equals batch d07 bit-for-bit") {
    val got = graft.streaming.EventsStream.ingestNearDupPairs(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val want = Queries.all("d07_dedup_incremental")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("near-dup gate unions correctly across MULTIPLE micro-batches") {
    // The fixture file normally drains in one batch, so the per-batch
    // union-independence claim (each incoming doc compares only against
    // the STATIC side, never intra-stream) needs a forced split: two
    // parquet files + maxFilesPerTrigger=1 -> two micro-batches.
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_mb_neardup")
    try {
      val odd = d.filter(col("doc_id") % 2 === 1)
      odd.filter(col("doc_id") % 4 === 1).coalesce(1)
        .write.parquet(s"$streamDir/part1")
      odd.filter(col("doc_id") % 4 === 3).coalesce(1)
        .write.parquet(s"$streamDir/part2")
      val flat = java.nio.file.Files.createTempDirectory("graft_mb_flat")
      try {
        var i = 0
        for (sub <- Seq("part1", "part2")) {
          val files = java.nio.file.Files.list(
            java.nio.file.Paths.get(s"$streamDir/$sub"))
          try files.forEach { p =>
            if (p.toString.endsWith(".parquet")) {
              java.nio.file.Files.copy(p, flat.resolve(s"b$i.parquet")); i += 1
            }
          } finally files.close()
        }
        val existing = d.filter(col("doc_id") % 2 === 0)
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var nBatches = 0
        val src = spark.readStream
          .schema(d.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(flat.toString)
        val fn: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
          nBatches += 1
          buf ++= graft.ops.Dedup
            .minhashLshPairsAcross(existing, b, "doc_id", "text", 0.7)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        val q = src.writeStream.foreachBatch(fn).start()
        try q.processAllAvailable() finally q.stop()
        assert(nBatches >= 2, s"stream did not split: $nBatches batch(es)")
        val want = Queries.all("d07_dedup_incremental")(spark, sf001)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(buf.toSet == want)
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(flat.toFile)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(streamDir.toFile)
    }
  }

  test("RANGE frame counts same-timestamp peers both ways (the q36 semantics ROWS would miss)") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"u").orderBy($"ts").rangeBetween(-3600000000L, 0L)
    val rows = Seq(
      (1L, 1000L), (1L, 1000L),               // exact tie
      (1L, 1000L + 3600000000L),              // exactly 1h later: in-frame
      (1L, 1000L + 3600000001L),              // 1h + 1us: tie pair evicted
      (2L, 1000L))
    val got = rows.toDF("u", "ts")
      .select($"u", $"ts", count(lit(1)).over(w).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq(
      (1L, 1000L, 2L), (1L, 1000L, 2L),       // each tie sees BOTH peers
      (1L, 1000L + 3600000000L, 3L),          // inclusive at exactly -1h
      (1L, 1000L + 3600000001L, 2L),          // ties dropped together
      (2L, 1000L, 1L)))                       // partitions isolated
  }

  test("quantileFilterApprox: sketch thresholds are order statistics; plan has no per-group sort") {
    import spark.implicits._
    val rows = (0 until 200).map(i => (i.toLong, s"g${i % 4}", (i * 37 % 100).toDouble))
    val df = rows.toDF("doc_id", "source", "quality")
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val out = graft.ops.Sampling
        .quantileFilterApprox(df, "source", "quality", q)
      val got = out.collect()
        .map(r => (r.getLong(r.fieldIndex("doc_id")),
          r.getDouble(r.fieldIndex("thr")), r.getBoolean(r.fieldIndex("keep"))))
      assert(got.length == rows.length)
      rows.groupBy(_._2).foreach { case (g, members) =>
        val values = members.map(_._3).sorted
        val thrs = got.filter(m => members.exists(_._1 == m._1)).map(_._2).distinct
        assert(thrs.length == 1, s"group $g: non-constant threshold")
        val thr = thrs.head
        // The sketch is exact at this size; its nearest-rank definition
        // may sit one order statistic from the ceil(q*n) exact form —
        // accept either, but it must BE an element of the group.
        val k = math.max(math.ceil(q * values.size - 1e-9).toInt, 1)
        val allowed = Set(values(k - 1), values(math.min(k, values.size - 1)),
          values(math.max(k - 2, 0)))
        assert(allowed.contains(thr), s"group $g q=$q: thr=$thr not near rank $k")
        got.filter(m => members.exists(_._1 == m._1)).foreach { case (id, t, keep) =>
          val v = members.find(_._1 == id).get._3
          assert(keep == (v >= t), s"keep flag inconsistent for $id")
        }
      }
      // Scale shape: a sketch aggregation + broadcast join — never a
      // per-group sort (no WindowExec, no SortMergeJoin).
      out.collect()
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("WindowExec") && !p.contains("SortMergeJoin"),
        s"approx path planned a sort:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"thresholds not broadcast:\n$p")
    }
  }

  test("m06 phash clusters are the transitive closure of the m05 pairs") {
    val pairs = Queries.all("m05_phash_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = Queries.all("m06_phash_clusters")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val cm = comp.map(c => c._1 -> c._2).toMap
    pairs.foreach { case (a, b) =>
      assert(cm(a) == cm(b), s"pair ($a,$b) split across components")
    }
    comp.groupBy(_._2).foreach { case (root, members) =>
      assert(members.map(_._1).min == root, "component label must be the min id")
      val keepers = members.filter(_._3 == 1)
      assert(keepers.map(_._1) == Seq(root), "exactly the root keeps")
    }
    assert(comp.length == 500, "every document gets a component row")
  }

  test("p02 pipeline: every stage genuinely prunes and the packed stream is contiguous") {
    val out = Queries.all("p02_pretrain_corpus")(spark, sf001)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.length < 500, "pipeline must prune something")
    // The bench split never survives decontamination.
    assert(out.forall(_._1 % 20 != 0))
    // Packing is gap-free: each start offset is the previous end.
    out.sliding(2).foreach {
      case Array((_, n1, s1), (_, _, s2)) =>
        assert(s2 == s1 + n1, s"packed offsets not contiguous: $s1+$n1 != $s2")
      case _ =>
    }
  }

  test("streaming quality histogram equals the batch bucket counts") {
    val got = graft.streaming.EventsStream.qualityHistogram(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.TextAnalysis.qualityScore(
        spark.read.parquet(s"$sf001/documents.parquet"))
      .groupBy(floor(col("quality") * 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(got.map(_._2).sum == 500L, "histogram must cover every document")
  }

  test("streaming classifier serving equals the batch t31 summary row") {
    def row(df: org.apache.spark.sql.DataFrame) = df
      .select("n_docs", "n_pred_pos", "n_agree", "score_mass", "w_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val got = row(graft.streaming.EventsStream.classifierServeCounts(spark,
      sf001, Queries.qualityModel(spark, sf001)))
    val batch = row(Queries.all("t31_quality_classifier")(spark, sf001))
    assert(got == batch, s"stream serve diverged: $got vs $batch")
  }

  test("native session_window sessionization equals the batch gaps-and-islands computation") {
    val got = graft.streaming.EventsStream.sessionWindows(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Queries.events(spark, sf001)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      // Inclusive session merge: an exact-gap successor EXTENDS the
      // session (pinned by the dedicated boundary fixture test below),
      // so the island condition is strictly greater.
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(w))
      .groupBy("user_id", "sid")
      .agg(min(col("us")).as("sess_start"), count(lit(1)).as("n_events"))
      .select("user_id", "sess_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch,
      s"native session windows diverged: missing=${(batch -- got).take(5)} extra=${(got -- batch).take(5)}")
    assert(got.nonEmpty)
  }

  test("session_window boundary: an exact-gap successor extends; only a strictly greater gap splits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sesswin_edge").toString
    val base = 1767225600000000L // 2026-01-01 in unix micros
    val gapUs = 1800L * 1000000L
    // The drain harness symlinks a single FILE named events.parquet, so
    // reduce Spark's output directory to one; write ts as physical
    // int64 micros (the default INT96 cannot be stream-read as long).
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.get(tsTypeKey)
    spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try Seq(
      (1L, base, 1L, "click", 1.0, "{}"),
      (2L, base + gapUs, 1L, "click", 1.0, "{}"),     // exactly gap later
      (3L, base, 2L, "click", 1.0, "{}"),
      (4L, base + gapUs + 1L, 2L, "click", 1.0, "{}")) // 1 µs past the gap
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .coalesce(1).write.parquet(s"$dir/out")
    finally spark.conf.set(tsTypeKey, prevTsType)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/out"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val got = graft.streaming.EventsStream.sessionWindows(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, base, 2L),                // exact-gap successor merges (inclusive end)
      (2L, base, 1L), (2L, base + gapUs + 1L, 1L))) // 1 µs past the gap splits
  }

  test("stateful streaming carries state across micro-batches") {
    import spark.implicits._
    // Split events into two time-ordered parquet files and feed them as
    // separate micro-batches: sessions spanning the split boundary only
    // count once iff state survives between batches.
    val ev = Queries.events(spark, sf001).orderBy("ts", "event_id")
    val cut = ev.select(unix_micros(col("ts"))).orderBy("unix_micros(ts)")
      .collect()(ev.count().toInt / 2).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_two_batches").toString
    // Re-encode ts as long microseconds so the split fixture is
    // independent of the generator's physical timestamp unit.
    val raw = Queries.events(spark, sf001).withColumn("ts", unix_micros(col("ts")))
    raw.filter(col("ts") <= cut).coalesce(1)
      .write.parquet(s"$dir/in/b0")
    raw.filter(col("ts") > cut).coalesce(1)
      .write.parquet(s"$dir/in/b1")

    val schema = raw.schema
    val name = "two_batch_sessions"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/b*")
      .select(col("ts").as("tsUs"), col("event_id"), col("user_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .mapGroupsWithState[graft.streaming.SessState, graft.streaming.UserSessions](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) { (uid, it, st) =>
        val sorted = it.map(r => (r._1, r._2)).toArray.sortBy(identity)
        var s = st.getOption.getOrElse(graft.streaming.SessState(Long.MinValue, 0L, 0L))
        sorted.foreach { case (tsUs, _) =>
          val fresh = s.lastTsUs == Long.MinValue || tsUs - s.lastTsUs > 1800000000L
          s = graft.streaming.SessState(tsUs, s.sessions + (if (fresh) 1 else 0), s.events + 1)
        }
        st.update(s)
        graft.streaming.UserSessions(uid, s.sessions, s.events)
      }
    val q = stream.writeStream.outputMode("update").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // last update per user = final state
    val streamed = spark.table(name).groupBy("user_id")
      .agg(max("n_sessions").as("s"), max("n_events").as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Queries.events(spark, sf001)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, "cross-batch state lost or double-counted")
  }

  /** Force strictly increasing mod times across bN dirs so the file
    * source (which orders by mod time) triggers them as separate
    * micro-batches in bN order — sub-ms write ties would otherwise make
    * batch order nondeterministic. */
  private def bumpModTimes(dir: String): Unit = {
    val in = java.nio.file.Paths.get(dir, "in")
    val batches = java.nio.file.Files.list(in).sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
    batches.zipWithIndex.foreach { case (b, i) =>
      java.nio.file.Files.list(b).forEach { f =>
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
      }
    }
  }

  test("watermark-buffered sessionization survives cross-batch event-time disorder") {
    import spark.implicits._
    // Batch 1 delivers a user's events at t=0s and t=3500s (provisionally
    // TWO sessions under the 1800s gap rule); batch 2 delivers a LATE
    // event at t=1750s that bridges them into ONE. A sort-within-batch
    // sessionizer gets 2; only the watermark-buffered one gets 1.
    // Realistic absolute times: an event time at/below the INITIAL
    // watermark (epoch 0) would be dropped as late before reaching the
    // state function.
    val base = 1767225600L // 2026-01-01
    def ev(id: Long, tsSec: Long, uid: Long) =
      (id, (base + tsSec) * 1000000000L, uid, "click", 1.0, "{}")
    val b0 = Seq(ev(1, 0, 1), ev(2, 3500, 1), ev(3, 0, 2), ev(4, 0, 3), ev(5, 1000, 3))
    val b1 = Seq(ev(6, 1750, 1), ev(7, 10000, 2))
    val dir = java.nio.file.Files.createTempDirectory("graft_ooo_batches").toString
    b0.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b0")
    b1.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b1")
    bumpModTimes(dir)

    val name = "ooo_batch_sessions"
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/b*")
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .withWatermark("tsm", "1 day")
      .select(col("tsm"), col("event_id"), col("user_id"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[graft.streaming.SessBufState, graft.streaming.UserSessionsSeq](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (uid, it, st) => graft.streaming.EventsStream.sessionStep(
          uid, it.map(r => (graft.streaming.EventsStream.tsMicros(r._1), r._2)), st)
      }
    val q = stream.writeStream.outputMode("update").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val raw = spark.table(name).orderBy("user_id", "seq").collect().toSeq
    val got = spark.table(name)
      .groupBy("user_id")
      .agg(max_by(struct(col("n_sessions"), col("n_events")), col("seq")).as("fin"))
      .select(col("user_id"), col("fin.n_sessions"), col("fin.n_events"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    spark.catalog.dropTempView(name)
    assert(got(1L) == ((1L, 3L)), s"late bridging event mishandled: ${got(1L)}; raw=$raw")
    assert(got(2L) == ((2L, 2L)), "cross-batch session continuation broken")
    assert(got(3L) == ((1L, 2L)), "single-batch session broken")
  }

  test("dropDuplicatesWithinWatermark bounds dedup state (eviction across batches)") {
    import spark.implicits._
    // Key (u1, click) arrives at t=0 (b0); an event at t=10d (b1)
    // advances the watermark past the 1-day horizon; state cleanup runs
    // at batch end, so after the NEXT batch (b2) the key's dedup state
    // is gone; the SAME key re-arrives in b3 and is re-emitted —
    // bounded state trades exactness across horizons.
    val day = 86400L
    val base = 1767225600L // 2026-01-01; epoch-0 would be late vs the initial watermark
    def ev(id: Long, tsSec: Long, uid: Long, typ: String) =
      (id, (base + tsSec) * 1000000000L, uid, typ, 1.0, "{}")
    val dir = java.nio.file.Files.createTempDirectory("graft_wm_evict").toString
    Seq(ev(1, 0, 1, "click")).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b0")
    Seq(ev(2, 10 * day, 2, "view")).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b1")
    Seq(ev(3, 10 * day + 3600, 3, "scroll")).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b2")
    Seq(ev(4, 10 * day + 7200, 1, "click")).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/in/b3")
    bumpModTimes(dir)

    val name = "wm_evict_dedup"
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/b*")
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .withWatermark("tsm", "1 day")
      .select(col("user_id"), col("event_type"), col("tsm"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val counts = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // The evicted-and-re-seen key is emitted twice; exact dedup would
      // give 1. This IS the bounded-state behavior, observed end to end.
      assert(counts("click") == 2L, s"expected re-emission after eviction: $counts")
      assert(counts("view") == 1L)
      // And the state store itself stays bounded: 4 key arrivals, but
      // the expired first click no longer occupies a state row.
      val dedupState = q.lastProgress.stateOperators
        .filter(_.operatorName.toLowerCase.contains("dedupe"))
      assert(dedupState.nonEmpty, "dedup state operator not found in progress")
      assert(dedupState.head.numRowsTotal <= 3,
        s"state grew beyond the live horizon: ${dedupState.head.numRowsTotal} rows")
    } finally q.stop()
    spark.catalog.dropTempView(name)
  }

  test("bounded-state streaming dedup equals exact dedup when the horizon covers the data") {
    val wm = graft.streaming.EventsStream.dedupCountsWithinWatermark(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exact = graft.streaming.EventsStream.dedupCounts(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wm == exact)
  }

  test("streaming daily aggregate equals the batch computation") {
    val streamed = graft.streaming.EventsStream.dailyAggregates(spark, sf001)
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Queries.events(spark, sf001)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("persisted IVF index reproduces the in-memory search and prunes its scan to probed cells") {
    val e = emb
    val q = e.filter(col("id") < 20)
    val path = java.nio.file.Files.createTempDirectory("ivf_spec").toString
    try {
      SimilaritySearch.saveIvfIndex(e, path)
      val (cents, index) = SimilaritySearch.loadIvfIndex(spark, path)
      val fromIndex = SimilaritySearch.ivfTopKFromIndex(cents, index, q, 10)
      val inMemory = SimilaritySearch.ivfTopK(e, q, 10)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows(fromIndex) == rows(inMemory),
        "on-disk index diverged from the in-memory search")
      // The probe set must reach the file scan as a partition filter:
      // the inverted-file layout's point is that unprobed cell
      // directories are never read.
      val plan = fromIndex.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"no partition filter on cell in the scan:\n$plan")
      // Layout check: the index directory IS the inverted file — one
      // subdirectory per cell, so directory-level pruning is possible.
      val cellDirs = new java.io.File(s"$path/index").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length > 1, "index is not partitioned by cell")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
  }

  test("persisted K-NN graph round-trips parquet and searches identically") {
    val e = emb
    val g = graft.nnd.NND.buildGraph(e,
        graft.nnd.NND.Params(k = 5, maxIterations = 2))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val path = java.nio.file.Files.createTempDirectory("knn_graph_spec").toString
    try {
      g.write.mode("overwrite").parquet(s"$path/graph")
      val loaded = spark.read.parquet(s"$path/graph")
      val q = e.filter(col("id") < 10)
      def rows(graph: org.apache.spark.sql.DataFrame) =
        graft.ops.GraphSearch.searchGraph(graph, e, q, k = 5,
            beam = 8, hops = 3, seeds = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows(loaded) == rows(g),
        "search over the loaded graph diverged from the in-memory graph")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
  }

  test("appended IVF index equals a scratch build over the union with the same centroids") {
    val e = emb
    val path = java.nio.file.Files.createTempDirectory("ivf_incr_spec").toString
    try {
      SimilaritySearch.saveIvfIndex(e.filter(col("id") % 5 =!= 0), path)
      SimilaritySearch.appendToIvfIndex(e.filter(col("id") % 5 === 0), path)
      val (cents, index) = SimilaritySearch.loadIvfIndex(spark, path)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("cell", "nbr_id", "n_c").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      val scratch = SimilaritySearch.cellAssign(e, cents)
      assert(rows(index) == rows(scratch),
        "append diverged from a scratch build under the same centroids")
      assert(index.count() == e.count(), "index lost rows across the append")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
  }

  test("dupSpanStats: planted duplication measured exactly, unique docs score zero") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f"), // exact copy of doc 1: every span duplicated
      (1L, "a b c d e f"),
      (2L, "x y z w q v"), // fully unique
      (3L, "a b c q q q q") // only "a b c" shared; in-doc repeat of
                            // "q q q" must NOT count (distinct spans)
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((4L, 4L)) && out(1L) == ((4L, 4L)))
    assert(out(2L) == ((4L, 0L)))
    assert(out(3L) == ((4L, 1L)))
  }

  test("dupSpanRemove: covered tokens deleted, survivors rejoin in order") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f"), // exact copy of doc 1: fully scrubbed
      (1L, "a b c d e f"),
      (2L, "x y z w q v"), // fully unique: untouched
      (3L, "a b c q q q q") // only the "a b c" span is corpus-duplicated;
                            // the in-doc "q q q" repeat has df=1
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSpanRemove(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((6L, 6L, "")) && out(1L) == ((6L, 6L, "")),
      "exact copies scrub to empty but STAY in the output")
    assert(out(2L) == ((6L, 0L, "x y z w q v")), "unique doc untouched")
    assert(out(3L) == ((7L, 3L, "q q q q")),
      "only the duplicated span's 3 tokens go; in-doc repeats stay")
  }

  test("dupSpanRemove keepFirst: the min-id owner keeps each span, later copies scrub") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f"), // owner of every shared span: kept VERBATIM
      (1L, "a b c d e f"), // later exact copy: fully scrubbed
      (2L, "a b c x y z") // shares only "a b c", owned by doc 0
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup
      .dupSpanRemove(d, "doc_id", "text", keepFirst = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((0L, "a b c d e f")), "owner doc must keep its content")
    assert(out(1L) == ((6L, "")), "non-owner exact copy fully scrubbed")
    assert(out(2L) == ((3L, "x y z")), "non-owner loses only the shared span")
    // Default policy on the same corpus scrubs owners too.
    val all = graft.ops.Dedup.dupSpanRemove(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(all(0L) == "", // doc 1 duplicates every span of doc 0
      s"default policy must scrub the owner too: '${all(0L)}'")
  }

  test("dupSpanRemove: partial overlap removes each doc's own covered range") {
    import spark.implicits._
    // Shared span "q r s" sits at different offsets; each doc loses its
    // own covered positions, keeping its private prefix/suffix.
    val d = Seq((0L, "p q r s"), (1L, "q r s t")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSpanRemove(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((4L, 3L, "p")))
    assert(out(1L) == ((4L, 3L, "t")))
  }

  test("softDedupWeights: cluster-size commonness weights, exact fixed point") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f g"),
      (1L, "a b c d e f g"), // exact copy of 0 -> cluster {0, 1}
      (2L, "totally different text here now")
    ).toDF("doc_id", "text")
    val out = graft.ops.Sampling
      .softDedupWeights(d, "doc_id", "text", 0.7, useLsh = false)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) == ((0L, 2L, 524288L)), "pair member: 2^20 div 2")
    assert(out(1L) == ((0L, 2L, 524288L)), "same cluster, same weight")
    assert(out(2L) == ((2L, 1L, 1048576L)), "singleton: exactly 2^20")
  }

  test("softDedupWeights: per-cluster weight invariants on the corpus") {
    val rows = graft.ops.Sampling
      .softDedupWeights(docs, "doc_id", "text", 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == docs.count(), "reweighting never drops a doc")
    rows.groupBy(_._2).foreach { case (comp, members) =>
      val sizes = members.map(_._3).distinct.toSeq
      val weights = members.map(_._4).distinct.toSeq
      assert(sizes == Seq(members.length.toLong),
        s"component $comp: stored size ${sizes} != member count ${members.length}")
      assert(weights.length == 1,
        s"component $comp: members disagree on weight: $weights")
      val w = weights.head
      val n = members.length.toLong
      assert(w == 1048576L / n, s"component $comp: weight_fp $w != 2^20 div $n")
      assert(w * n <= 1048576L && w * n > 1048576L - n,
        s"component $comp: mass ${w * n} outside the exact-div band")
    }
    assert(rows.exists(_._3 > 1L),
      "fixture must contain at least one multi-member near-dup cluster")
    assert(rows.exists(_._3 == 1L), "and singletons keeping exactly 2^20")
  }

  test("lineDedup: global first occurrence keeps, later copies drop, empties survive") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta\ncookie banner\n\ngamma"), // every line first-owned here
      (1L, "cookie banner\ndelta"),               // loses the banner to doc 0
      (2L, "gamma\ngamma\n\ncookie banner")       // doc 0 owns gamma AND banner;
                                                  // the in-doc gamma repeat goes too
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.lineDedup(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((4L, 0L, "alpha beta\ncookie banner\n\ngamma")),
      "first-owner doc must pass through verbatim (empty line included)")
    assert(out(1L) == ((2L, 1L, "delta")), "doc 1 loses only the owned banner")
    assert(out(2L) == ((4L, 3L, "")),
      "both gamma copies and the banner drop; only the structural empty line " +
        "survives, joining to ''")
  }

  test("lineDedup: a repeat INSIDE the first document drops after its first occurrence") {
    import spark.implicits._
    val d = Seq((0L, "x\ny\nx")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.lineDedup(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((3L, 1L, "x\ny")),
      "global first OCCURRENCE wins, not first document")
  }

  test("lineDedup equals an independent seen-set reference on the reflowed corpus") {
    // The d24 shape end-to-end: 10-token reflow of the fixture docs,
    // then the kernel vs a plain-Scala first-occurrence scrubber
    // walking documents in (doc_id, line_index) order.
    val toks = split(col("text"), " ")
    val lines10 = transform(
      sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
      i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))
    val reflowed = docs.withColumn("text", concat_ws("\n", lines10))
      .select("doc_id", "text")
    val expected = {
      val seen = scala.collection.mutable.HashSet[String]()
      reflowed.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).map { case (id, text) =>
          val ls = text.split("\n", -1)
          val kept = ls.filter(l => l.isEmpty || seen.add(l))
          id -> ((ls.length.toLong, (ls.length - kept.length).toLong,
            kept.mkString("\n")))
        }.toMap
    }
    val out = graft.ops.Dedup.lineDedup(reflowed, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out.keySet == expected.keySet, "every document stays in the output")
    val bad = out.keySet.filter(k => out(k) != expected(k))
    assert(bad.isEmpty, s"diverged on docs $bad: " +
      bad.take(3).map(k => s"$k got ${out(k)} want ${expected(k)}").mkString("; "))
    assert(expected.values.exists(_._2 > 0L),
      "fixture must actually exercise removal (exact-dup docs exist)")
    // Partition invariance: the (id, pos) total order is data, not layout.
    val shuffled = graft.ops.Dedup
      .lineDedup(reflowed.repartition(13), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(shuffled == out, "result must be partition-invariant")
  }

  test("assignLayers: deterministic geometric levels, capped at maxLevel") {
    import spark.implicits._
    val e = (0L until 4096L).map(i => (i, Array(0.1f))).toDF("id", "features")
    val lv = graft.ops.GraphSearch.assignLayers(e, maxLevel = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Same input, same levels (hash, not RNG).
    val lv2 = graft.ops.GraphSearch.assignLayers(e.repartition(7), maxLevel = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lv == lv2, "levels must be partition-invariant")
    val byLevel = lv.values.groupBy(identity).view.mapValues(_.size).toMap
    // P(level >= l) = 4^-l: of 4096 ids expect ~1024 at >=1, ~256 at
    // >=2, ~64 at 3 (capped). Generous 2x bands — the draw is a hash,
    // not a quota.
    val geL1 = lv.values.count(_ >= 1)
    val geL2 = lv.values.count(_ >= 2)
    val eq3 = byLevel.getOrElse(3, 0)
    assert(geL1 > 512 && geL1 < 2048, s"level>=1 count $geL1 far from 1024")
    assert(geL2 > 128 && geL2 < 512, s"level>=2 count $geL2 far from 256")
    assert(eq3 > 16 && eq3 < 256, s"level==3 count $eq3 far from 64")
    assert(lv.values.max <= 3, "cap must hold")
  }

  test("searchGraph entryPoints: a perfect entry finds the neighborhood a random seed misses") {
    import spark.implicits._
    // Two far-apart cliques; the deterministic seed set (smallest
    // id-hashes) may land anywhere, so force the discriminating case:
    // a query in clique B searched with hops = 0 (no expansion —
    // entry quality IS the result) from an entry in B vs the default
    // seeds drawn from the whole corpus.
    val vecs = (0L until 10L).map(i => (i, Array(10f, 0f))) ++
      (10L until 20L).map(i => (i, Array(-10f, 0.1f * (i - 10))))
    val e = vecs.toDF("id", "features")
    val g = graft.nnd.NND.buildGraph(e,
        graft.nnd.NND.Params(k = 4, maxIterations = 4))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val q = e.filter(col("id") === 15L)
    val entry = Seq((15L, 12L)).toDF("query_id", "node")
    val withEntry = graft.ops.GraphSearch.searchGraph(g, e, q, k = 3,
        beam = 4, hops = 1, seeds = 1, entryPoints = Some(entry))
      .collect().map(_.getLong(2)).toSet
    assert(withEntry.nonEmpty && withEntry.forall(_ >= 10L),
      s"entry in clique B + 1 hop must stay in B: $withEntry")
    // Default path (entryPoints = None) is untouched: byte-identical
    // parameters reproduce the s03-convention plan and still work.
    val flat = graft.ops.GraphSearch.searchGraph(g, e, q, k = 3,
      beam = 4, hops = 1, seeds = 1).collect()
    assert(flat.nonEmpty, "default-seed path must still return results")
  }

  test("s22 layered search: clustered geometry — quarter-budget descent closes on the wide beam") {
    import spark.implicits._
    // The production embedding geometry (the declared s22 pins the
    // near-isotropic fixture's operating point — greedy descent's
    // documented worst case; HERE the metric has structure): 1000
    // vectors in 50 well-separated 20-member clusters, 50-d,
    // deterministic. Cluster size sits INSIDE the quarter-budget
    // visited cap (max(4·beam, k+1) = 32 > 20), so once the descent
    // lands in the right cluster the base beam can actually hold its
    // top-10 — the regime the layer hierarchy serves; upper layers
    // (~1-5 members per cluster) force cross-cluster edges, which is
    // what makes the stack navigable where a flat k-NN graph's
    // all-in-cluster adjacency is not.
    val vecs = (0L until 1000L).map { i =>
      val c = (i % 50).toInt
      val rnd = new scala.util.Random(i)
      val v = Array.tabulate(50)(d =>
        (if (d == c) 3.0f else 0f) + (rnd.nextFloat() - 0.5f) * 0.6f)
      (i, v)
    }
    val e = vecs.toDF("id", "features")
    val base = graft.nnd.NND.buildGraph(e,
        graft.nnd.NND.Params(k = 10, maxIterations = 5))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val levels = graft.ops.GraphSearch.assignLayers(e, maxLevel = 2)
    val uppers = (1 to 2).map { l =>
      graft.nnd.NND.buildGraph(
          e.join(levels.filter(col("level") >= l).select("id"), "id"),
          graft.nnd.NND.Params(k = 8, maxIterations = 3))
        .filter(col("neighbors").isNotNull).select("id", "neighbors")
    }
    val q = e.filter(col("id") < 20)
    val truth = graft.ops.SimilaritySearch.bruteForceTopK(e, q, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(res: org.apache.spark.sql.DataFrame): Int =
      res.select(col("query_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).count(truth)
    val layered = hits(graft.ops.GraphSearch.searchHierarchical(
      base +: uppers, e, q, k = 10, beam = 8, hops = 2, entries = 4,
      upperBeam = 8, upperHops = 3, seeds = 4))
    val flatSame = hits(graft.ops.GraphSearch.searchGraph(base, e, q,
      k = 10, beam = 8, hops = 2, seeds = 4))
    val flatWide = hits(graft.ops.GraphSearch.searchGraph(base, e, q,
      k = 10, beam = 32, hops = 4, seeds = 16))
    info(s"hits of 200: layered(beam 8)=$layered " +
      s"flat(beam 8)=$flatSame flat(beam 32)=$flatWide")
    assert(layered >= (flatWide * 9) / 10,
      s"clustered geometry: layered at beam 8/hops 2 must reach >= 90% " +
        s"of the wide beam 32/hops 4 (layered=$layered wide=$flatWide)")
    assert(layered > flatSame,
      s"navigated entries must beat random seeds at the same budget " +
        s"(layered=$layered flat=$flatSame)")
  }

  test("searchHierarchical on a single-layer stack degenerates to searchGraph exactly") {
    import spark.implicits._
    val e = (0L until 100L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat()))
    }.toDF("id", "features")
    val g = graft.nnd.NND.buildGraph(e,
        graft.nnd.NND.Params(k = 5, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val q = e.filter(col("id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val hier = rows(graft.ops.GraphSearch.searchHierarchical(Seq(g), e, q,
      k = 3, beam = 5, hops = 2, seeds = 3))
    val flat = rows(graft.ops.GraphSearch.searchGraph(g, e, q,
      k = 3, beam = 5, hops = 2, seeds = 3))
    assert(hier == flat && hier.nonEmpty,
      "with no upper layers the descent IS the flat search (entry " +
        "frontier never engages), row-for-row")
  }

  test("n17 tombstones: dead nodes route the beam but never return — a deleted bridge still carries the search") {
    import spark.implicits._
    // Two cliques joined ONLY through node 100: A = {0..4} (far from
    // the query), B = {10..14} (the query's true neighborhood), and
    // the bridge 100 placed between them. The graph is hand-built so
    // the A->B path runs exclusively through the bridge; with the
    // bridge TOMBSTONED, the FreshDiskANN semantics must still reach
    // B (traverse through), while a graph-minus-dead search would
    // strand in A — and the bridge itself must never be returned.
    val vecs =
      (0L to 4L).map(i => (i, Array(-10f + 0.1f * i, 0f))) ++
      (10L to 14L).map(i => (i, Array(10f + 0.1f * (i - 10), 0f))) :+
      ((100L, Array(0f, 1f)))
    val e = vecs.toDF("id", "features")
    def nbrs(ids: Seq[Long]) = ids.map(i => (i, 0.5))
    val adj = Seq(
      (0L, nbrs(Seq(1L, 2L, 100L))), (1L, nbrs(Seq(0L, 2L))),
      (2L, nbrs(Seq(0L, 1L))), (3L, nbrs(Seq(0L, 1L))),
      (4L, nbrs(Seq(0L, 1L))),
      (100L, nbrs(Seq(0L, 10L))),
      (10L, nbrs(Seq(11L, 12L, 100L))), (11L, nbrs(Seq(10L, 12L))),
      (12L, nbrs(Seq(10L, 11L))), (13L, nbrs(Seq(10L, 11L))),
      (14L, nbrs(Seq(10L, 11L)))
    ).toDF("id", "neighbors")
      .withColumn("neighbors", transform(col("neighbors"),
        x => struct(x("_1").as("id"), x("_2").as("similarity"))))
    val q = e.filter(col("id") === 14L) // in B; entry forced into A
    val entry = Seq((14L, 0L)).toDF("query_id", "node")
    val dead = Seq(Tuple1(100L)).toDF("id")
    val res = graft.ops.GraphSearch.searchGraph(adj, e, q, k = 4,
        beam = 4, hops = 4, seeds = 1, entryPoints = Some(entry),
        tombstones = Some(dead))
      .collect().map(_.getLong(2)).toSet
    assert(res.intersect(Set(10L, 11L, 12L, 13L)).nonEmpty,
      s"the beam must cross the tombstoned bridge into clique B: $res")
    assert(!res.contains(100L), s"the tombstone itself must never return: $res")
  }

  test("n18 stack append: a high-level insert becomes a traversal waypoint — flat append cannot") {
    import spark.implicits._
    // Two tight clusters 100 apart: A = ids 100..107 at x ~ 0 (where
    // the prior hierarchy's upper layer lives), B = ids 200..207 at
    // x ~ 100 (the query's true neighborhood). The prior base graph is
    // NND-built and stays within-cluster (asserted); the prior upper
    // layer is hand-built over three A members. The new point X sits
    // at x = 100.5 (inside B's region) and is chosen to have
    // assignLayers level >= 1, so the STACK append inserts it into the
    // upper layer with REVERSE edges from the old upper members —
    // after which the descent for a B-side query routes A-entry -> X
    // (upper) -> X's base list (all B): the insert is a waypoint.
    // Flat appendToGraph gives X its own base list but no reverse
    // edges and no upper-layer presence, so the same descent stays
    // stranded in A — the round-15 VERDICT gap, witnessed.
    val xId = {
      val pool = graft.ops.GraphSearch.assignLayers(
          (0L until 500L).map(Tuple1(_)).toDF("id"), maxLevel = 1, fanout = 4)
        .filter(col("level") >= 1).select("id").collect().map(_.getLong(0))
      pool.find(i => i < 100L || (i > 107L && i < 200L) || i > 207L).get
    }
    val aIds = (100L to 107L)
    val bIds = (200L to 207L)
    val vecs = aIds.map(i => (i, Array(0.01f * (i - 100), 0f))) ++
      bIds.map(i => (i, Array(100f + 0.01f * (i - 200), 0f)))
    val existing = vecs.toDF("id", "features")
    val feats = vecs.toMap + (xId -> Array(100.5f, 0f))
    val base = graft.nnd.NND.buildGraph(existing,
        graft.nnd.NND.Params(k = 4, maxIterations = 4))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    // Fixture precondition: the prior base graph must not already
    // bridge the clusters (otherwise the flat column proves nothing).
    val cross = base.select(col("id"), explode(col("neighbors")).as("nb"))
      .filter((col("id") < 200 && col("nb.id") >= 200) ||
        (col("id") >= 200 && col("nb.id") < 200)).count()
    assert(cross == 0, s"prior base graph has $cross cross-cluster edges")
    // Hand-built upper layer over three A members, true l2Sim weights
    // (the same kernel the appended lists' scores use), lists UNDER the
    // layer degree so the reverse edge survives the re-cap.
    val upperIds = Seq(100L, 101L, 102L)
    val upper = upperIds.map { i =>
      graft.core.NeighborList(i, upperIds.filterNot(_ == i).map(j =>
        graft.core.Neighbor(j, graft.core.Similarity.l2Sim(feats(i), feats(j)))))
    }.toDS().toDF()
    val stack = Seq(base, upper)
    val newPt = Seq((xId, feats(xId))).toDF("id", "features")
    val appended = graft.ops.GraphSearch.appendToGraphStack(stack,
      existing, newPt, k = 4, fanout = 4, beam = 8, hops = 3, seeds = 4,
      upperK = 4, upperBeam = 4, upperHops = 2)
    // Structural half: X entered the upper layer, and at least one OLD
    // upper member reverse-links to it.
    val upRows = appended(1).collect().map(r => r.getLong(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))).toMap
    assert(upRows.contains(xId), s"X=$xId missing from the appended upper layer")
    assert(upperIds.exists(i => upRows(i).contains(xId)),
      s"no old upper member reverse-links to X=$xId: $upRows")
    // Behavioral half: a query at x = 100.2 (true neighbors all in B).
    val q = Seq((999L, Array(100.2f, 0f))).toDF("id", "features")
    val corpusAll = existing.unionByName(newPt)
    val truth = Set(204L, 205L, 206L, 207L)
    def hits(stk: Seq[org.apache.spark.sql.DataFrame]): Set[Long] =
      graft.ops.GraphSearch.searchHierarchical(stk, corpusAll, q, k = 4,
        beam = 4, hops = 1, entries = 1, upperBeam = 4, upperHops = 2,
        seeds = 2).collect().map(_.getLong(2)).toSet.intersect(truth)
    val flatStack = Seq(graft.ops.GraphSearch.appendToGraph(base,
      existing, newPt, k = 4, beam = 8, hops = 3, seeds = 4), upper)
    val layeredHits = hits(appended)
    val flatHits = hits(flatStack)
    info(s"X=$xId layered=$layeredHits flat=$flatHits")
    assert(layeredHits.size >= 3,
      s"descent through the inserted waypoint must reach B: $layeredHits")
    assert(flatHits.isEmpty,
      s"flat append must leave the descent stranded in A: $flatHits")
  }

  test("n20 consolidateStack: same-batch inserts become mutual neighbors — " +
      "the appended stack structurally lacks the edge") {
    import spark.implicits._
    // Old corpus: a tight cluster near x ~ 0. The batch {A, B} lands
    // together at x ~ 100 — each new point's TRUE nearest neighbor is
    // the OTHER ONE, but the append beam-searches the prior stack
    // only (that independence is what makes it streamable), so
    // neither appended list can hold the other: the documented n18
    // staleness, witnessed structurally. Consolidation must restore
    // the edge without a rebuild: A and B arrive as fresh reverse
    // patches in the SAME old frontier lists, meet in those nodes'
    // adjacency groups on refinement iteration 1, and their mutual
    // similarity (1/(1+0.3)) dwarfs every old one (1/(1+~60)).
    val oldVecs = (0L until 40L).map(i => (i, Array(0.05f * i, 0f)))
    val existing = oldVecs.toDF("id", "features")
    val base = graft.nnd.NND.buildGraph(existing,
        graft.nnd.NND.Params(k = 4, maxIterations = 4))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    val feats = oldVecs.toMap
    val upperIds = Seq(0L, 1L, 2L)
    val upper = upperIds.map { i =>
      graft.core.NeighborList(i, upperIds.filterNot(_ == i).map(j =>
        graft.core.Neighbor(j, graft.core.Similarity.l2Sim(feats(i), feats(j)))))
    }.toDS().toDF()
    // Batch ids chosen level-0 under the stack's assignLayers (fanout
    // 4, maxLevel 1) so the upper layer must come through the
    // consolidation BYTE-UNTOUCHED — the empty-fresh layer case.
    val pool = graft.ops.GraphSearch.assignLayers(
        (1000L until 1200L).map(Tuple1(_)).toDF("id"), maxLevel = 1, fanout = 4)
      .filter(col("level") === 0).select("id").collect().map(_.getLong(0))
    val aId = pool(0)
    val bId = pool(1)
    val batch = Seq((aId, Array(100.0f, 0f)), (bId, Array(100.3f, 0f)))
      .toDF("id", "features")
    val stack = Seq(base, upper)
    val appended = graft.ops.GraphSearch.appendToGraphStack(stack,
      existing, batch, k = 4, fanout = 4, beam = 8, hops = 3, seeds = 4,
      upperK = 4, upperBeam = 4, upperHops = 2)
    def baseLists(stk: Seq[org.apache.spark.sql.DataFrame]): Map[Long, Seq[(Long, Double)]] =
      stk(0).collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(n => (n.getLong(0), n.getDouble(1))).toSeq).toMap
    val appendedBase = baseLists(appended)
    assert(appendedBase(aId).nonEmpty && appendedBase(bId).nonEmpty,
      "both batch points must enter the appended base layer")
    assert(!appendedBase(aId).exists(_._1 == bId) &&
      !appendedBase(bId).exists(_._1 == aId),
      s"fixture precondition: the append must NOT link same-batch points " +
        s"(A=${appendedBase(aId)}, B=${appendedBase(bId)})")
    val corpusAll = existing.unionByName(batch)
    val cons = graft.ops.GraphSearch.consolidateStack(appended, corpusAll,
      batch, k = 4, fanout = 4, upperK = 4, maxIterations = 3)
    val consBase = baseLists(cons)
    // The restored edge, BOTH directions, at the TOP of each list
    // (their mutual similarity beats every old edge by ~50x).
    assert(consBase(aId).headOption.exists(_._1 == bId),
      s"A's consolidated list must lead with B: ${consBase(aId)}")
    assert(consBase(bId).headOption.exists(_._1 == aId),
      s"B's consolidated list must lead with A: ${consBase(bId)}")
    // Untouched old lists pass through content-identical (the stable
    // carve-out): node 0 sits at the far end of the old cluster, no
    // fresh edge ever reaches it.
    assert(consBase(0L) == appendedBase(0L),
      s"an untouched old list must pass through the consolidation " +
        s"unchanged: ${appendedBase(0L)} -> ${consBase(0L)}")
    // The empty-fresh upper layer (batch is all level 0) is unchanged
    // row-for-row.
    val upBefore = appended(1).collect().map(_.toString).sorted.toSeq
    val upAfter = cons(1).collect().map(_.toString).sorted.toSeq
    assert(upBefore == upAfter,
      "a layer with no fresh members must come through unchanged")
  }

  test("n16 persisted layer stack: loaded-stack search equals the in-memory stack row-for-row") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      val c = (i % 10).toInt
      val rnd = new scala.util.Random(i)
      val v = Array.tabulate(16)(d =>
        (if (d == c) 3.0f else 0f) + (rnd.nextFloat() - 0.5f) * 0.6f)
      (i, v)
    }
    val e = vecs.toDF("id", "features")
    val base = graft.nnd.NND.buildGraph(e,
        graft.nnd.NND.Params(k = 8, maxIterations = 4))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val levels = graft.ops.GraphSearch.assignLayers(e, maxLevel = 1)
    val upper = graft.nnd.NND.buildGraph(
        e.join(levels.filter(col("level") >= 1).select("id"), "id"),
        graft.nnd.NND.Params(k = 6, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
    val dir = java.nio.file.Files.createTempDirectory("graft_stack_test")
    try {
      base.write.mode("overwrite").parquet(s"$dir/layer_0")
      upper.write.mode("overwrite").parquet(s"$dir/layer_1")
      val loaded = Seq(spark.read.parquet(s"$dir/layer_0"),
        spark.read.parquet(s"$dir/layer_1"))
      val q = e.filter(col("id") < 10)
      def rows(stack: Seq[org.apache.spark.sql.DataFrame]) =
        graft.ops.GraphSearch.searchHierarchical(stack, e, q, k = 5,
          beam = 6, hops = 2, entries = 2, upperBeam = 4, upperHops = 2,
          seeds = 4)
          .collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val mem = rows(Seq(base, upper))
      val disk = rows(loaded)
      assert(mem == disk,
        s"parquet round trip must not move a single ranked row: " +
          s"mem-only=${mem -- disk} disk-only=${disk -- mem}")
      assert(mem.nonEmpty, "the comparison must cover actual results")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("kCore: triangle survives the 2-core, the dangling chain peels in order") {
    import spark.implicits._
    val g = Seq(
      (0L, Seq((1L, 0.9), (2L, 0.8))),
      (1L, Seq((0L, 0.9), (2L, 0.7))),
      (2L, Seq((0L, 0.8), (1L, 0.7))),
      (3L, Seq((2L, 0.5))), // chain onto the triangle
      (4L, Seq((3L, 0.4)))  // chain tail
    ).toDF("id", "neighbors")
      .withColumn("neighbors", transform(col("neighbors"),
        x => struct(x("_1").as("id"), x("_2").as("similarity"))))
    val out = graft.ops.GraphSearch.kCore(g, 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(0L)._1 == 1 && out(1L)._1 == 1 && out(2L)._1 == 1,
      "the triangle is the 2-core")
    assert(out(3L)._1 == 0 && out(4L)._1 == 0,
      "the chain peels even though node 3 starts at degree 2 — " +
        "peeling node 4 drops it below k, the cascade k-core exists for")
    assert(out.values.map(_._2).toSet == Set(2),
      s"two peel rounds (tail, then its support): ${out.values.map(_._2)}")
  }

  test("kCore deep peel: a 41-node path peels in 21 rounds with flat block residency") {
    import spark.implicits._
    // Path graph 0-1-...-40: endpoints peel each round, so the 2-core
    // peel runs 21 rounds — the degeneracy-depth regime where a loop
    // that leaks its per-round localCheckpoints accumulates O(rounds)
    // edge-table copies. The fixture witnesses both the fixpoint math
    // and the release discipline.
    val n = 41
    val g = (0 until n).map { i =>
      val nbs = Seq(i - 1, i + 1).filter(j => j >= 0 && j < n)
        .map(j => (j.toLong, 0.5))
      (i.toLong, nbs)
    }.toDF("id", "neighbors")
      .withColumn("neighbors", transform(col("neighbors"),
        x => struct(x("_1").as("id"), x("_2").as("similarity"))))
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = graft.ops.GraphSearch.kCore(g, 2).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(out.forall(_.getInt(1) == 0), "a path has no 2-core")
    assert(out.map(_.getInt(2)).toSet == Set(21),
      s"21 peel rounds expected, got ${out.map(_.getInt(2)).toSet}")
    assert(after - before <= 3,
      s"per-round checkpoints must be released as superseded " +
        s"(resident RDD delta $before -> $after; a leak reads ~2x rounds)")
  }

  test("kCore on the mutual serving graph matches an independent peel; cores nest") {
    val g = Queries.knnGraph(spark, sf001).select("id", "neighbors")
    def refCore(k: Int): Set[Long] = {
      val fwd = g.select(col("id"), explode(col("neighbors.id")).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(e => e._1 != e._2).toSet
      val und = fwd.filter(e => fwd(e.swap)) // mutual: both directions
      var alive = g.select("id").collect().map(_.getLong(0)).toSet
      var changed = true
      while (changed) {
        val deg = und.toSeq.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).map { case (u, es) => u -> es.length }
        val surv = alive.filter(u => deg.getOrElse(u, 0) >= k)
        changed = surv.size < alive.size
        alive = surv
      }
      alive
    }
    def opCore(k: Int): Set[Long] =
      graft.ops.GraphSearch.kCore(g, k, mutual = true)
        .filter(col("in_core") === 1).collect().map(_.getLong(0)).toSet
    val (op5, ref5) = (opCore(5), refCore(5))
    assert(op5 == ref5,
      s"k=5 mismatch: op-only=${op5 -- ref5} ref-only=${ref5 -- op5}")
    val op6 = opCore(6)
    assert(op6 == refCore(6) && op6.subsetOf(op5),
      "the 6-core must match the reference and nest inside the 5-core")
    assert(op6.nonEmpty && op6.size < g.count(),
      "k=6 must split the fixture graph non-trivially")
  }

  test("lineDedupFromIndex: old wins on interleaved ids, batch repeats dedup locally") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lidx_test")
    try {
      // Resident doc has a LARGER id than the batch doc — the index
      // must still win (the discriminating case vs a plain union d24,
      // whose (doc_id, p) order would let batch doc 1 own the line).
      val resident = Seq((2L, "shared line\nresident only")).toDF("doc_id", "text")
      graft.ops.Dedup.saveLineIndex(resident, dir.toString, "doc_id", "text")
      val batch = Seq(
        (1L, "shared line\nbatch fresh"),
        (3L, "batch fresh\nbatch fresh\n\nanother")
      ).toDF("doc_id", "text")
      val out = graft.ops.Dedup
        .lineDedupFromIndex(spark, dir.toString, batch, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(out(1L) == ((2L, 1L, "batch fresh")),
        "the resident copy owns 'shared line' despite its larger id")
      assert(out(3L) == ((4L, 2L, "\nanother")),
        "doc 1 owns the batch-fresh line; doc 3 loses both copies, " +
          "keeps the structural empty and its private line")
      // Append lifecycle: after gating the batch in, re-ingesting it
      // scrubs every non-empty line (everything is now resident).
      graft.ops.Dedup.appendToLineIndex(spark, dir.toString, batch,
        "doc_id", "text")
      val again = graft.ops.Dedup
        .lineDedupFromIndex(spark, dir.toString, batch, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
      assert(again(1L) == ((2L, "")) && again(3L) == ((3L, "")),
        s"re-ingesting a gated batch must scrub to structural-only " +
          s"(doc 3's lone surviving empty line joins to ''): $again")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("lineDedupFromIndex equals an old-preloaded seen-set reference on the fixture") {
    val all = Queries.reflow10(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_lidx_ref")
    try {
      graft.ops.Dedup.saveLineIndex(
        all.filter(col("doc_id") % 2 === 0), dir.toString, "doc_id", "text")
      val batch = all.filter(col("doc_id") % 2 === 1)
      val expected = {
        val seen = scala.collection.mutable.HashSet[String]()
        all.filter(col("doc_id") % 2 === 0).collect()
          .foreach(r => r.getString(1).split("\n", -1)
            .filter(_.nonEmpty).foreach(seen.add))
        batch.collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1).map { case (id, text) =>
            val ls = text.split("\n", -1)
            val kept = ls.filter(l => l.isEmpty || seen.add(l))
            id -> ((ls.length.toLong, (ls.length - kept.length).toLong,
              kept.mkString("\n")))
          }.toMap
      }
      val out = graft.ops.Dedup
        .lineDedupFromIndex(spark, dir.toString, batch, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(out.keySet == expected.keySet)
      val bad = out.keySet.filter(k => out(k) != expected(k))
      assert(bad.isEmpty, s"diverged on $bad")
      assert(expected.values.exists(_._2 > 0L),
        "the fixture batch must actually collide with the resident index")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("lineDecontaminate: bench lines scrub, corpus-internal dups survive, empty bench is a no-op") {
    import spark.implicits._
    val bench = Seq((100L, "leaked paragraph\nbench only")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "own prose\nleaked paragraph\n\nshared line"),
      (1L, "shared line\nmore prose"), // shares a line with doc 0, NOT bench:
                                       // cross-set scrub must keep BOTH copies
      (2L, "leaked paragraph")         // everything leaks: scrubs to ''
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup
      .lineDecontaminate(corpus, bench, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((4L, 1L, "own prose\n\nshared line")),
      "only the bench line goes; the empty line and the corpus-dup line stay")
    assert(out(1L) == ((2L, 0L, "shared line\nmore prose")),
      "corpus-internal duplicates are NOT cross-set leaks — both copies keep")
    assert(out(2L) == ((1L, 1L, "")), "fully-leaked doc stays as ''")
    // Degenerate benchmark: the scrub must become a verbatim no-op.
    val empty = bench.filter(col("doc_id") < 0L)
    val noop = graft.ops.Dedup
      .lineDecontaminate(corpus, empty, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(noop(0L) == ((0L, "own prose\nleaked paragraph\n\nshared line")) &&
      noop(1L) == ((0L, "shared line\nmore prose")) &&
      noop(2L) == ((0L, "leaked paragraph")),
      s"empty benchmark must scrub nothing: $noop")
  }

  test("dupSpanRemove: short docs are whole-text spans (d12 convention)") {
    import spark.implicits._
    val d = Seq((0L, "hi yo"), (1L, "hi yo"), (2L, "bye")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSpanRemove(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((2L, 2L, "")) && out(1L) == ((2L, 2L, "")),
      "duplicated sub-n doc scrubs entirely")
    assert(out(2L) == ((1L, 0L, "bye")), "unique short doc untouched")
  }

  test("chunkWindows: stride arithmetic, tail window, short-doc case") {
    import spark.implicits._
    val d = Seq(
      (0L, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens
      (1L, "a b")                                 // shorter than a window
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.chunkWindows(d, size = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(r => (r._1, r._2))
    // doc 0: nWindows = 1 + ceil((10-4)/3) = 3, starts 1/4/7, tail full
    assert(out.filter(_._1 == 0L).toSeq == Seq(
      (0L, 0L, 1L, 4L, "t1 t2 t3 t4"),
      (0L, 1L, 4L, 4L, "t4 t5 t6 t7"),
      (0L, 2L, 7L, 4L, "t7 t8 t9 t10")))
    // doc 1: one short window covering the whole doc
    assert(out.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 1L, 2L, "a b")))
  }

  test("unigramLogProb: hand-computed Laplace fixed-point values") {
    import spark.implicits._
    val d = Seq((0L, "a a a a"), (1L, "b c d e")).toDF("doc_id", "text")
    // counts: a=4, b=c=d=e=1; N=8, V=5 -> p(a)=5/13, p(others)=2/13
    val lpA = math.round(math.log(5.0 / 13) * 1048576)
    val lpR = math.round(math.log(2.0 / 13) * 1048576)
    val out = graft.ops.TextAnalysis.unigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((4L, 4 * lpA)))
    assert(out(1L) == ((4L, 4 * lpR)))
    assert(4 * lpA > 4 * lpR, "common-token doc must outscore rare-token doc")
  }

  test("quantileFilter: hand-computed per-group thresholds, ties, and partition invariance") {
    import spark.implicits._
    // Group g1 values 1..8: k = ceil(0.25·8) = 2 -> thr = 2.0, keep 2..8.
    // Group g2 has a tie AT the threshold: values (1,1,3), k = 1 ->
    // thr = 1.0 (first by id), and BOTH 1.0-rows keep (>= thr).
    val d = ((1L to 8L).map(i => (i, "g1", i.toDouble)) ++
      Seq((11L, "g2", 1.0), (12L, "g2", 1.0), (13L, "g2", 3.0)))
      .toDF("doc_id", "source", "quality")
    def run(parts: Int) = graft.ops.Sampling
      .quantileFilter(d.repartition(parts), "doc_id", "source", "quality", 0.25)
      .select("doc_id", "thr", "keep")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val got = run(1)
    assert(got == run(5))
    assert(got.filter(_._1 <= 8L).forall(_._2 == 2.0))
    assert(got.count(t => t._1 <= 8L && t._3) == 7)
    assert(!got.find(_._1 == 1L).get._3, "the below-threshold row must be cut")
    assert(got.filter(_._1 >= 11L).forall(_._2 == 1.0))
    assert(got.filter(_._1 >= 11L).forall(_._3), "ties at the threshold keep")
  }

  test("bigramLogProb: hand-computed per-context Laplace fixed-point values") {
    import spark.implicits._
    // bigrams: doc0 (a,b)(b,a)(a,b), doc1 (b,a); V = |{a,b}| = 2;
    // c(a,b)=2, c(b,a)=2, c(a,.)=2, c(b,.)=2 -> both p = (2+1)/(2+2).
    val d = Seq((0L, "a b a b"), (1L, "b a")).toDF("doc_id", "text")
    val lp = math.round(math.log(3.0 / 4) * 1048576)
    val out = graft.ops.TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((3L, 3 * lp)))
    assert(out(1L) == ((1L, lp)))
  }

  test("bigramLogProb: minCount floor scores floored bigrams as unseen-in-context") {
    import spark.implicits._
    // bigrams: (a,b) c=2 (kept at minCount=2), (a,c) c=1 (floored);
    // V = |{a,b,c}| = 3, un-floored context c(a,.) = 3.
    val d = Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val kept = math.round(math.log(3.0 / 6) * 1048576)    // (2+1)/(3+3)
    val floored = math.round(math.log(1.0 / 6) * 1048576) // 1/(3+3)
    val out = graft.ops.TextAnalysis.bigramLogProb(d, minCount = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((1L, kept)) && out(1L) == ((1L, kept)))
    assert(out(2L) == ((1L, floored)),
      "floored-out bigram must take the unseen-in-context fallback")
    // minCount=1 keeps every corpus bigram: identical to the un-floored
    // default bit-for-bit (the t25 oracle contract).
    val base = graft.ops.TextAnalysis.bigramLogProb(d).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    val mc1 = graft.ops.TextAnalysis.bigramLogProb(d, minCount = 1).collect()
      .toSeq.map(_.toSeq).sortBy(_.toString)
    assert(base == mc1)
  }

  test("bigramLogProb: scrambled word order scores below the original that unigram cannot tell apart") {
    import spark.implicits._
    // Same token multiset, broken transitions — the document class the
    // bigram refinement exists to catch.
    val sent = "the quick brown fox jumps over the lazy dog"
    val scram = "dog the over quick lazy fox brown jumps the"
    val d = ((1L to 20L).map(i => (i, sent)) :+ (21L, scram))
      .toDF("doc_id", "text")
    val uni = graft.ops.TextAnalysis.unigramLogProb(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni(21L) == uni(1L), "unigram is order-blind on a permutation")
    val bi = graft.ops.TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bi(21L) < bi(1L), "bigram total must drop on broken transitions")
  }

  test("bm25TopK: hand-computed scores, k cutoff, no-match docs excluded") {
    import spark.implicits._
    val d = Seq(
      (1L, "hash join hash"),        // hash tf=2, join tf=1, dl=3
      (2L, "dup scan"),              // dup tf=1, dl=2
      (3L, "join join join scan scan"), // join tf=3, dl=5
      (4L, "scan filter")            // no query terms, dl=2
    ).toDF("doc_id", "text")
    // N=4, avgdl=3.0; df: hash=1, join=2, dup=1.
    val (k1, b) = (1.2, 0.75)
    def s(tf: Long, df: Long, dl: Long): Long = {
      val idf = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
      math.round(idf * (tf * (k1 + 1)) /
        (tf + k1 * (1 - b + b * dl / 3.0)) * 1048576.0)
    }
    val exp = Map(
      1L -> (s(2, 1, 3) + s(1, 2, 3), 2L),
      2L -> (s(1, 1, 2), 1L),
      3L -> (s(3, 2, 5), 1L))
    val out = graft.ops.TextAnalysis.bm25TopK(d, Seq("hash", "join", "dup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == exp, s"scores diverged: got $out want $exp")
    // k cutoff keeps the deterministic (score desc, id asc) prefix.
    val top1 = graft.ops.TextAnalysis.bm25TopK(d, Seq("hash", "join", "dup"),
      k = 1).collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(exp.maxBy { case (id, (sc, _)) => (sc, -id) }._1))
  }

  test("rrfFuse: hand-computed fusion, overlap counting, tie-break, k cutoff") {
    import spark.implicits._
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    def c(r: Int) = math.round(1048576.0 / (60 + r))
    val out = graft.ops.Retrieval.rrfFuse(Seq(a, b))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 20 appears in both lists (rank 2 + rank 1) and must win.
    assert(out.toSeq == Seq(
      (20L, c(2) + c(1), 2L), (10L, c(1), 1L),
      (40L, c(2), 1L), (30L, c(3), 1L)),
      s"fusion diverged: ${out.toSeq}")
    // Equal-rank singletons tie on rrf_fp; the id breaks the tie, and
    // k cuts after the deterministic order.
    val t = graft.ops.Retrieval.rrfFuse(
      Seq(Seq((7L, 1), (5L, 2)).toDF("doc_id", "rank"),
        Seq((6L, 1)).toDF("doc_id", "rank")), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(t == Seq(6L, 7L), s"tie-break order wrong: $t")
  }

  test("mmrDiversify: hand-computed greedy displaces the near-dup runner-up") {
    import spark.implicits._
    // q = (1,0). Candidate a duplicates the query direction, b is a
    // near-dup of a (cos(q,b)=cos(a,b)=5/sqrt(26)~0.98), c is diverse
    // (cos(q,c)=0.6, cos(a,c)=0.6). Relevance alone orders a,b,c; at
    // lambda=0.3 the redundancy term flips rounds 2-3:
    //   score(b) = 0.3*0.98 - 0.7*0.98 < score(c) = 0.3*0.6 - 0.7*0.6.
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(5f, 1f)), (3L, Array(3f, 4f)))
      .toDF("id", "features")
    val rel = Seq((100L, 1L, 1.0), (100L, 2L, 5.0 / math.sqrt(26.0)),
      (100L, 3L, 0.6)).toDF("query_id", "nbr_id", "cosine")
    val got = graft.ops.Retrieval.mmrDiversify(rel, corpus, k = 3, m = 3,
      lambdaFp = 314573L).orderBy("rank")
      .collect().map(_.getLong(2)).toSeq
    assert(got == Seq(1L, 3L, 2L), s"greedy order diverged: $got")
    // lambda=1.0 is the exact relevance ranking.
    val flat = graft.ops.Retrieval.mmrDiversify(rel, corpus, k = 3, m = 3,
      lambdaFp = 1048576L).orderBy("rank")
      .collect().map(_.getLong(2)).toSeq
    assert(flat == Seq(1L, 2L, 3L), s"lambda=1 should be relevance order: $flat")
  }

  test("mmrDiversify: lambda=1 reduces to the pool's relevance top-k; " +
      "diversification lowers within-list similarity; partition-invariant") {
    val q = emb.filter(col("id") < 20)
    val pool = graft.ops.SimilaritySearch.bruteForceTopK(emb, q, 50)
    // lambda=1: exactly the pool re-sorted by (rel_fp desc, id asc).
    val flat = graft.ops.Retrieval.mmrDiversify(pool, emb, k = 10, m = 50,
      lambdaFp = 1048576L)
      .select("query_id", "rank", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(desc("rel_fp"), asc("nbr_id"))
    val expect = pool
      .withColumn("rel_fp", round(col("cosine") * lit(1048576.0), 0).cast("long"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select("query_id", "r", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(flat == expect, "lambda=1 must reproduce the quantized relevance top-k")

    // At lambda=0.7 the selected set's mean pairwise cosine must drop
    // vs the plain top-10 (that is what diversification IS), while
    // keeping the same k per query.
    val mmr = graft.ops.Retrieval.mmrDiversify(pool, emb, k = 10, m = 50)
    def meanPairSim(sel: org.apache.spark.sql.DataFrame): Double = {
      val v = sel.join(emb.select(col("id").as("nbr_id"), col("features")), "nbr_id")
        .select("query_id", "nbr_id", "features")
      val a = v.select(col("query_id"), col("nbr_id").as("ia"), col("features").as("va"))
      val b = v.select(col("query_id"), col("nbr_id").as("ib"), col("features").as("vb"))
      a.join(b, Seq("query_id")).filter(col("ia") < col("ib"))
        .select(graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
          ./(graft.functions.VectorFunctions.vector_norm(col("va"))
            * graft.functions.VectorFunctions.vector_norm(col("vb"))).as("c"))
        .agg(avg(col("c"))).head().getDouble(0)
    }
    val simMmr = meanPairSim(mmr.select("query_id", "nbr_id"))
    val simFlat = meanPairSim(
      graft.ops.SimilaritySearch.bruteForceTopK(emb, q, 10)
        .select("query_id", "nbr_id"))
    assert(simMmr < simFlat,
      s"diversified list should be less self-similar: mmr=$simMmr flat=$simFlat")

    // Partitioning/arrival order cannot move a single row.
    val shuffled = graft.ops.Retrieval.mmrDiversify(
      pool.repartition(7, col("nbr_id")), emb, k = 10, m = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val base = mmr.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(shuffled == base, "mmrDiversify must be partition-invariant")
  }

  test("rankedEval: hand-computed MRR/nDCG cases — partial hit, perfect ranking, " +
      "zero-rel query, n_rel > k, qrel dedup, beyond-k rows ignored") {
    import spark.implicits._
    import graft.ops.Retrieval
    // k=3 tables (independently derived): g = round(2^20/log2(r+1)) =
    // [1048576, 661578, 524288]; prefix = [1048576, 1710154, 2234442];
    // rr = [1048576, 524288, 349525].
    val run = Seq(
      ("A", 101L, 1), ("A", 102L, 2), ("A", 103L, 3), ("A", 109L, 4),
      ("B", 201L, 1), ("B", 202L, 2),
      ("C", 305L, 1),
      ("D", 401L, 1), ("D", 407L, 2), ("D", 408L, 3)
    ).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      ("A", 102L), ("A", 102L), ("A", 109L), // dup row; 109 only at rank 4 > k
      ("B", 201L), ("B", 202L),              // perfect ranking
      ("D", 407L), ("D", 409L), ("D", 410L), ("D", 411L) // n_rel 4 > k
    ).toDF("query_id", "doc_id")
    val got = Retrieval.rankedEval(run, qrels, 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // A: n_rel 2 (dedup), hit only d102@2 (109 is beyond k): rr g2;
    //    dcg 661578; idcg prefix(min(2,3)) = 1710154;
    //    ndcg = 661578*2^20 div 1710154 = 405644;
    //    ap = round(2^20·1/2) div 2 = 524288 div 2 = 262144.
    assert(got("A") == ((2L, 1L, 524288L, 661578L, 1710154L, 405644L, 262144L)))
    // B: perfect 2-of-2 inside k: ndcg AND ap exactly 2^20.
    assert(got("B") == ((2L, 2L, 1048576L, 1710154L, 1710154L, 1048576L,
      1048576L)))
    // C: zero-rel query still evaluates, all metrics 0.
    assert(got("C") == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // D: 4 relevant (> k) so idcg saturates at prefix(3) = 2234442;
    //    one hit at rank 2: ndcg = 661578*2^20 div 2234442 = 310464;
    //    ap = 524288 div 4 = 131072 (trec_eval divides by ALL n_rel).
    assert(got("D") == ((4L, 1L, 524288L, 661578L, 2234442L, 310464L,
      131072L)))
    assert(got.size == 4, "one row per run query, no phantom queries")
  }

  test("rankedEvalGraded: hand-computed exponential gains, graded ideal ordering, " +
      "perfect ranking reads 2^20, grade swap detected where binary nDCG is blind") {
    import spark.implicits._
    import graft.ops.Retrieval
    val run = Seq(
      ("A", 1L, 1), ("A", 2L, 2), ("A", 3L, 3),
      ("B", 11L, 1), ("B", 12L, 2), // grades descend with rank: perfect
      ("S", 21L, 1), ("S", 22L, 2)  // grades INVERTED vs rank
    ).toDF("query_id", "doc_id", "rank")
    val grels = Seq(
      ("A", 2L, 2), ("A", 3L, 1), ("A", 9L, 2), // d9 relevant, unranked
      ("B", 11L, 2), ("B", 12L, 1),
      ("S", 21L, 1), ("S", 22L, 2),
      ("A", 5L, 0) // judged-irrelevant row must be ignored entirely
    ).toDF("query_id", "doc_id", "rel")
    val got = Retrieval.rankedEvalGraded(run, grels, 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // A: n_rel 3 (rel-0 row ignored), hits d2@2 (rel 2), d3@3 (rel 1):
    //    rr = g_rr(2) = 524288; ap = (524288 + 699051) div 3 = 407779;
    //    dcg = 3·661578 + 1·524288 = 2509022; ideal = d2,d9,d3 →
    //    idcg = 3·1048576 + 3·661578 + 1·524288 = 5654750;
    //    ndcg = 2509022·2^20 div 5654750 = 465254.
    assert(got("A") == ((3L, 2L, 524288L, 407779L, 2509022L, 5654750L,
      465254L)))
    // B: perfectly graded ranking — ndcg exactly 2^20.
    assert(got("B") == ((2L, 2L, 1048576L, 1048576L, 3807306L, 3807306L,
      1048576L)))
    // S: same binary facts as B (2 hits at ranks 1,2 — binary nDCG is
    //    blind), but the grades are inverted: dcg = 1·1048576 +
    //    3·661578 = 3033310 over the same ideal → ndcg = 835408 < 2^20.
    assert(got("S") == ((2L, 2L, 1048576L, 1048576L, 3033310L, 3807306L,
      835408L)))
  }

  test("rankedEval re-derives a serving exhibit's recall: sum(n_hits)/sum(n_rel) " +
      "equals the ad-hoc scaffold on the s02 LSH serve") {
    import graft.ops.Retrieval
    val queries = emb.filter(col("id") < 50)
    val k = 10
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, k)
    val approx = SimilaritySearch.lshTopK(emb, queries, k)
    val run = approx.select(col("query_id"), col("nbr_id").as("doc_id"),
      col("rank"))
    val qrels = exact.select(col("query_id"), col("nbr_id").as("doc_id"))
    val ev = Retrieval.rankedEval(run, qrels, k)
      .agg(sum(col("n_hits")).as("h"), sum(col("n_rel")).as("t"))
      .head()
    // The scaffold counts |approx ∩ exact| over |exact| — exactly
    // sum(n_hits) / sum(n_rel) when qrels = the exact top-k.
    val scaffoldHits = exact.select(col("query_id"), col("nbr_id"))
      .join(approx.select(col("query_id"), col("nbr_id")),
        Seq("query_id", "nbr_id"))
      .count()
    assert(ev.getLong(0) == scaffoldHits,
      s"rankedEval hits ${ev.getLong(0)} != scaffold $scaffoldHits")
    assert(ev.getLong(1) == queries.count() * k)
    assert(ev.getLong(0) > 0, "vacuous: LSH found nothing")
  }

  test("dsirSelect: hand-computed log-ratio weights pull target-like docs first") {
    import spark.implicits._
    // Target (en) docs speak 'aa', source-only docs speak 'bb'; doc 5
    // mixes. 'aa' and 'bb' land in distinct md5 buckets (asserted), so
    // the weights are hand-computable per token.
    val d = Seq(
      (1L, "en", "aa aa aa"), (2L, "en", "aa aa"),
      (3L, "de", "bb bb bb"), (4L, "de", "bb bb"),
      (5L, "de", "aa bb")
    ).toDF("doc_id", "lang", "text")
    def md5b(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
    assert(md5b("aa") != md5b("bb"), "fixture tokens must hash apart")
    // ns=12 tokens, nt=5 target tokens; aa: cs=6, ct=5; bb: cs=6, ct=0.
    def llr(ct: Long, cs: Long) = math.round(
      (math.log((ct + 1).toDouble / (5 + 256)) -
        math.log((cs + 1).toDouble / (12 + 256))) * 1048576.0)
    val (wa, wb) = (llr(5, 6), llr(0, 6))
    val out = graft.ops.Sampling.dsirSelect(d, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exp = Map(
      1L -> ((3 * wa, 3L)), 2L -> ((2 * wa, 2L)), 3L -> ((3 * wb, 3L)),
      4L -> ((2 * wb, 2L)), 5L -> ((wa + wb, 2L)))
    assert(out == exp, s"weights diverged: got $out want $exp")
    assert(wa > wb, "target-aligned bucket must outweigh source-only bucket")
    // n cutoff keeps the deterministic (weight desc, id asc) prefix —
    // both llr values are negative here, so the shorter target doc
    // (2·wa) outranks the longer one (3·wa).
    val top2 = graft.ops.Sampling.dsirSelect(d, col("lang") === "en", n = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(2L, 1L), s"selection order wrong: $top2")
  }

  test("blocklistFlags: C4 gate — kept iff zero hits; total vs distinct counts") {
    import spark.implicits._
    val d = Seq((0L, "good text only here"), (1L, "bad text bad again"),
      (2L, "worse")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .blocklistFlags(d, Seq("bad", "worse")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ((4L, 0L, 0L, 1L)), "clean doc passes the gate")
    assert(out(1L) == ((4L, 2L, 1L, 0L)),
      "repeated term counts twice total, once distinct; doc dropped")
    assert(out(2L) == ((1L, 1L, 1L, 0L)))
  }

  test("backoffTrigramLogProb: all three backoff branches, hand-computed") {
    import spark.implicits._
    // tri counts: (a,b,c)=2 (b,c,d)=2 (a,b,x)=1 (q,b,x)=1 (z,z,y)=1
    // bi counts:  (a,b)=3 (b,c)=2 (c,d)=2 (b,x)=2 (q,b)=1 (z,z)=1 (z,y)=1
    // uni counts: a=3 b=4 c=2 d=2 x=2 q=1 z=2 y=1; N=17
    val d = Seq((0L, "a b c d"), (1L, "a b c d"), (2L, "a b x"),
      (3L, "q b x"), (4L, "z z y")).toDF("doc_id", "text")
    val k = 1048576.0
    // branch 1: c3>=2 -> c3/c(w1w2); (a,b,c): 2/3, (b,c,d): 2/2
    val abc = math.round(math.log(2.0 / 3.0) * k)
    val bcd = math.round(math.log(2.0 / 2.0) * k)
    // branch 2: suffix bigram kept -> 0.4*(c(w2w3)/c(w2)); (·,b,x): 2/4
    val bx = math.round(math.log(0.4 * (2.0 / 4.0)) * k)
    // branch 3: both floored -> 0.4*(0.4*(c(w3)/N)); y: 1/17
    val zzy = math.round(math.log(0.4 * (0.4 * (1.0 / 17.0))) * k)
    val out = graft.ops.TextAnalysis.backoffTrigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((2L, abc + bcd)) && out(1L) == ((2L, abc + bcd)))
    assert(out(2L) == ((1L, bx)), "unseen trigram backs off to its bigram")
    assert(out(3L) == ((1L, bx)), "distinct prefix, same suffix bigram score")
    assert(out(4L) == ((1L, zzy)), "doubly-unseen backs off to the unigram")
    assert(out.size == 5)
  }

  test("backoffTrigramLogProb: partition-invariant on the fixture corpus") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet").limit(80)
    def run(parts: Int) = graft.ops.TextAnalysis
      .backoffTrigramLogProb(d.repartition(parts)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(7), "scores must not depend on partitioning")
  }

  test("gopherRules: each rule vetoes independently, hand-computed evidence") {
    import spark.implicits._
    val filler = Seq.fill(60)("word").mkString(" ")
    val d = Seq(
      (0L, s"the a $filler"),                                // passes all
      (1L, "the a word word word"),                          // too few words
      (2L, ("the a " + Seq.fill(60)("x").mkString(" "))),    // mean len < 3
      (3L, s"the a ${Seq.fill(8)("#t").mkString(" ")} $filler"), // symbols
      (4L, ("the a " + Seq.fill(60)("123").mkString(" ")))   // alpha < 0.8
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .gopherRules(d, stopWords = Seq("the", "a", "of", "and", "in"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("kept") == 1L)
    assert(out(0L).getAs[Long]("n_words") == 62L)
    assert(out(0L).getAs[Long]("n_stop") == 2L)
    assert(out(1L).getAs[Long]("kept") == 0L, "word-count floor")
    assert(out(2L).getAs[Long]("kept") == 0L, "mean word length floor")
    assert(out(2L).getAs[Double]("mean_word_len") < 3.0)
    assert(out(3L).getAs[Long]("kept") == 0L, "symbol ratio cap")
    assert(out(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(out(4L).getAs[Long]("kept") == 0L, "alphabetic-word floor")
    assert(out(4L).getAs[Double]("alpha_frac") < 0.8)
  }

  test("repetitionRules: both Gopher A1.2 semantics, hand-computed") {
    import spark.implicits._
    // 60 distinct 3-char tokens: every n-gram unique, so each top-n
    // metric is one occurrence's mass and every dup metric is 0 —
    // passes all nine thresholds.
    val clean = (0 until 60).map(i => f"w$i%02d!").mkString(" ")
    val d = Seq(
      (0L, clean),
      // [aa bb]x2 + trailing aa: top2 = "aa bb" (counts tie with
      // "bb aa", gram-asc breaks it) = 2 occ x 4 chars = 8 of 10 -> drop.
      (1L, "aa bb aa bb aa"),
      // Two tied-count 2-grams with DIFFERENT masses: "dd e" (mass 3)
      // vs "f ggg"/"ggg f" (mass 4), all count 2 -> gram-asc picks
      // "dd e": top2 = 6, not 8.
      (2L, "dd e dd e f ggg f ggg f"),
      // [p..t]x3: every 5-gram duplicated, so COVERAGE = all 15 chars
      // (occurrence mass would be 55 - the overlap-once distinction).
      (3L, "p q r s t p q r s t p q r s t"),
      // "m n o p q" at 0 and 6; the separator token at 5 is uncovered.
      (4L, "m n o p q x m n o p q")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repetitionRules(d)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("kept") == 1L)
    assert(out(0L).getAs[Long]("total_chars") == 240L)
    assert(out(0L).getAs[Long]("top2_chars") == 8L)
    assert(out(0L).getAs[Long]("dup5_chars") == 0L)
    assert(out(1L).getAs[Long]("top2_chars") == 8L)
    assert(out(1L).getAs[Long]("kept") == 0L, "top-2-gram mass cap")
    assert(out(2L).getAs[Long]("top2_chars") == 6L,
      "ties break (count desc, gram asc)")
    assert(out(3L).getAs[Long]("dup5_chars") == 15L,
      "coverage counts overlapping occurrences once")
    assert(out(3L).getAs[Long]("total_chars") == 15L)
    assert(out(4L).getAs[Long]("dup5_chars") == 10L,
      "uncovered separator token carries no dup mass")
  }

  test("repetitionRules: equals an independent reference; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Array("a", "bb", "ccc", "d", "ee", "fff", "g", "hh")
    val docs = (0 until 40).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(31))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")))
    // Independent reference: sliding windows via collections groupBy
    // (the kernel uses hand-rolled hash counting) — same contract,
    // different construction.
    def ref(text: String): Seq[Long] = {
      val t = text.split(" ").toSeq
      val lens = t.map(_.length.toLong)
      val total = lens.sum
      def gramsOf(n: Int): Seq[(Seq[String], Int)] =
        if (t.length < n) Seq.empty
        else t.sliding(n).toSeq.zipWithIndex.map { case (g, i) => (g, i) }
      def topM(n: Int): Long = {
        val byGram = gramsOf(n).groupBy(_._1)
        if (byGram.isEmpty) 0L
        else {
          val (g, occ) = byGram.toSeq
            .sortBy { case (g, o) => (-o.size, g.mkString("\u0001")) }.head
          occ.size.toLong * g.map(_.length).sum
        }
      }
      def dupM(n: Int): Long = {
        val byGram = gramsOf(n).groupBy(_._1)
        val covered = byGram.valuesIterator.filter(_.size >= 2)
          .flatMap(_.map(_._2)).flatMap(i => i until i + n).toSet
        covered.toSeq.map(i => lens(i)).sum
      }
      Seq(total, topM(2), topM(3), topM(4)) ++ (5 to 10).map(dupM)
    }
    val expected = docs.map { case (id, tx) => id -> ref(tx) }.toMap
    def run(parts: Int) = graft.ops.TextAnalysis
      .repetitionRules(docs.toDF("doc_id", "text").repartition(parts))
      .collect()
      .map(r => r.getLong(0) -> (1 to 10).map(r.getLong(_)).toSeq).toMap
    val got = run(3)
    assert(got == expected, "kernel must equal the independent reference")
    assert(run(1) == got, "partition-invariant")
  }

  test("lineDupRules: Gopher A1.2 line/paragraph semantics, hand-computed") {
    import spark.implicits._
    val d = Seq(
      // No separators: one line, one paragraph, nothing duplicable.
      (0L, "plain single line text"),
      // Duplicate line "a" (after-first counting: 1 dup, 1 char);
      // single paragraph. dup_line_chars 1*100 > 20*total 4 -> drop.
      (1L, "a\nb\na\nc"),
      // Duplicate paragraph "x\ny" (3 chars incl. interior newline);
      // lines [x,y,,x,y,,z]: dups x,y,"" -> 3 dup lines, 2 dup chars,
      // 7 lines, total 5. dup_lines 300 > 210 -> drop.
      (2L, "x\ny\n\nx\ny\n\nz"),
      // 10 distinct 3-char lines + 1 dup of "aaa" (11 lines, 33 chars):
      // dup_lines 100 <= 330, dup chars 300 <= 660 -> keep.
      (3L, (('a' to 'j').map(_.toString.* (3)) :+ "aaa").mkString("\n"))
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.lineDupRules(d)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("n_lines") == 1L)
    assert(out(0L).getAs[Long]("n_paras") == 1L)
    assert(out(0L).getAs[Long]("dup_lines") == 0L)
    assert(out(0L).getAs[Long]("total_chars") == 22L)
    assert(out(0L).getAs[Long]("kept") == 1L)
    assert(out(1L).getAs[Long]("n_lines") == 4L)
    assert(out(1L).getAs[Long]("dup_lines") == 1L)
    assert(out(1L).getAs[Long]("dup_line_chars") == 1L)
    assert(out(1L).getAs[Long]("total_chars") == 4L)
    assert(out(1L).getAs[Long]("kept") == 0L, "dup-line char mass cap")
    assert(out(2L).getAs[Long]("n_paras") == 3L)
    assert(out(2L).getAs[Long]("dup_paras") == 1L)
    assert(out(2L).getAs[Long]("dup_para_chars") == 3L,
      "paragraph element length includes its interior newline")
    assert(out(2L).getAs[Long]("n_lines") == 7L,
      "empty lines from the blank separator participate")
    assert(out(2L).getAs[Long]("dup_lines") == 3L,
      "second empty line is a zero-mass duplicate")
    assert(out(2L).getAs[Long]("dup_line_chars") == 2L)
    assert(out(2L).getAs[Long]("kept") == 0L, "dup-line fraction cap")
    assert(out(3L).getAs[Long]("dup_lines") == 1L)
    assert(out(3L).getAs[Long]("kept") == 1L)
  }

  test("lineDupRules: equals an independent reference; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(2929)
    val vocab = Array("aa", "b", "ccc", "dd")
    val docs = (0 until 40).map { i =>
      val lines = Seq.fill(1 + rnd.nextInt(12))(
        Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      // group lines into paragraphs of 1-3, join with blank lines
      val paras = lines.grouped(1 + rnd.nextInt(3)).map(_.mkString("\n"))
      (i.toLong, paras.mkString("\n\n"))
    }
    // Independent reference: collections groupBy occurrence counting
    // (the kernel uses a streaming seen-set pass).
    def ref(text: String): Seq[Long] = {
      def census(els: Seq[String]): (Long, Long, Long) = {
        val dups = els.groupBy(identity).values
          .map(g => (g.size - 1).toLong -> (g.size - 1).toLong * g.head.length)
        (els.size.toLong, dups.map(_._1).sum, dups.map(_._2).sum)
      }
      val (nl, dl, dlc) = census(text.split("\n", -1).toSeq)
      val (np, dp, dpc) = census(text.split("\n\n", -1).toSeq)
      val total = text.split("\n", -1).map(_.length.toLong).sum
      Seq(nl, np, dl, dp, dlc, dpc, total)
    }
    val expected = docs.map { case (id, tx) => id -> ref(tx) }.toMap
    def run(parts: Int) = graft.ops.TextAnalysis
      .lineDupRules(docs.toDF("doc_id", "text").repartition(parts))
      .collect()
      .map(r => r.getLong(0) -> (1 to 7).map(r.getLong(_)).toSeq).toMap
    val got = run(3)
    assert(got == expected, "kernel must equal the independent reference")
    assert(run(1) == got, "partition-invariant")
  }

  test("pageRank: matches a double-precision reference; exact determinism") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    // Star + chain + dangling: a(->d) b(->d) c(->d) d(->a) e(dangling).
    val adj: Map[Long, Seq[Long]] = Map(
      1L -> Seq(4L), 2L -> Seq(4L), 3L -> Seq(4L), 4L -> Seq(1L),
      5L -> Seq.empty)
    val g = adj.toSeq.map { case (id, out) =>
      NeighborList(id, out.map(o => Neighbor(o, 0.5)))
    }.toDS().toDF()
    def refPr(iters: Int): Map[Long, Double] = {
      val n = adj.size
      var r: Map[Long, Double] = adj.keys.map(_ -> 1.0).toMap
      for (_ <- 0 until iters) {
        val dang = adj.collect { case (k, out) if out.isEmpty => r(k) }.sum / n
        val in = adj.toSeq
          .flatMap { case (s, out) => out.map(d => d -> r(s) / out.size) }
          .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
        r = adj.keys.map(k =>
          k -> (0.15 + 0.85 * (in.getOrElse(k, 0.0) + dang))).toMap
      }
      r
    }
    val expect = refPr(10)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Centrality.pageRank(df, iterations = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(g)
    adj.keys.foreach { k =>
      val fx = got(k).toDouble / graft.ops.Centrality.Scale
      assert(math.abs(fx - expect(k)) < 1e-3,
        s"node $k: fixed $fx vs reference ${expect(k)}")
    }
    // Both cycle nodes (1 and 4 trade the star's mass each iteration —
    // the oscillation parity decides which holds more at iteration 10)
    // strictly outrank the contribution-less leaves; symmetric leaves
    // tie EXACTLY (determinism makes the tie bit-exact).
    assert(got(4L) > got(2L) && got(1L) > got(2L) && got(2L) == got(3L),
      s"star ranks out of order: $got")
    // Bit-exact determinism and partition invariance — the POINT of the
    // fixed-point arithmetic (a double kernel would drift with
    // aggregation order).
    assert(run(g.repartition(7)) == got, "partition-variant ranks")
    assert(run(g) == got, "rerun drifted")
    // Mass conservation up to the priced floor drift: each of the 10
    // iterations loses < 1 unit per edge + 1 per node (floor of the
    // damping blend and the dangling share).
    val mass = got.values.sum
    val full = adj.size.toLong * graft.ops.Centrality.Scale
    assert(mass <= full && mass > full - 10L * (5 + 5 + 2),
      s"mass drifted: $mass vs $full")
  }

  test("pageRankWithResidual: contracts geometrically; ranks bit-equal plain") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    val adj: Map[Long, Seq[Long]] = Map(
      1L -> Seq(4L), 2L -> Seq(4L), 3L -> Seq(4L), 4L -> Seq(1L),
      5L -> Seq.empty)
    val g = adj.toSeq.map { case (id, out) =>
      NeighborList(id, out.map(o => Neighbor(o, 0.5)))
    }.toDS().toDF()
    def run(iters: Int) =
      graft.ops.Centrality.pageRankWithResidual(g, iterations = iters)
    // The residual-carrying entry point must not perturb the ranks: the
    // extra join reads the final two iterates, it does not change them.
    val (pr10, res10) = run(10)
    assert(pr10.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      graft.ops.Centrality.pageRank(g, iterations = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "withResidual drifted the ranks")
    // Geometric contraction: the L1 delta between consecutive iterates
    // shrinks as the iterate approaches the fixed point (rate <= d for
    // power iteration), so more iterations -> strictly smaller residual
    // until it bottoms out at the integer floor.
    val (_, res2) = run(2)
    assert(res10 < res2,
      s"residual did not contract: iter2=$res2 iter10=$res10")
    assert(res10 >= 0L && res2 > 0L, s"degenerate residuals: $res2 $res10")
    // Zero iterations: no two iterates exist — residual 0 by the
    // documented convention.
    assert(run(0)._2 == 0L)
    // Determinism: the residual is a bit-exact fact like the ranks.
    assert(run(10)._2 == res10, "residual drifted across reruns")
  }

  test("pageRank: null neighbor lists are dangling; zero iterations is uniform") {
    import spark.implicits._
    val g = Seq((1L, Some(Seq((2L, 0.9)))), (2L, None))
      .toDF("id", "neighbors")
      .select(col("id"), col("neighbors")
        .cast("array<struct<id:bigint,similarity:double>>").as("neighbors"))
    val r0 = graft.ops.Centrality.pageRank(g, iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0 == Map(1L -> graft.ops.Centrality.Scale,
      2L -> graft.ops.Centrality.Scale))
    val r = graft.ops.Centrality.pageRank(g, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 receives all of 1's mass; 1 receives only the dangling share —
    // the null list must behave as dangling, not crash or self-loop.
    assert(r(2L) > r(1L), s"dangling flow inverted: $r")
    assert(r.values.forall(_ > 0L))
  }

  test("personalizedPageRank: double reference, locality, determinism") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    // Two loosely-coupled triangles (1-2-3 and 4-5-6) plus a dangling
    // 7: teleporting to {1} must concentrate mass in ITS triangle.
    val adj: Map[Long, Seq[Long]] = Map(
      1L -> Seq(2L), 2L -> Seq(3L), 3L -> Seq(1L, 4L),
      4L -> Seq(5L), 5L -> Seq(6L), 6L -> Seq(4L), 7L -> Seq.empty)
    val g = adj.toSeq.map { case (id, out) =>
      NeighborList(id, out.map(o => Neighbor(o, 0.5)))
    }.toDS().toDF()
    val seeds = Seq(1L)
    def refPpr(iters: Int): Map[Long, Double] = {
      val n = adj.size
      var r: Map[Long, Double] = adj.keys.map(_ -> 1.0).toMap
      for (_ <- 0 until iters) {
        val dang = adj.collect { case (k, out) if out.isEmpty => r(k) }.sum
        val in = adj.toSeq
          .flatMap { case (s, out) => out.map(d => d -> r(s) / out.size) }
          .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
        r = adj.keys.map { k =>
          val tele = if (seeds.contains(k)) 0.15 * n / seeds.size else 0.0
          val dg = if (seeds.contains(k)) dang / seeds.size else 0.0
          k -> (tele + 0.85 * (in.getOrElse(k, 0.0) + dg))
        }.toMap
      }
      r
    }
    val expect = refPpr(10)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Centrality.personalizedPageRank(
        df, seeds.toDF("id"), iterations = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(g)
    adj.keys.foreach { k =>
      val fx = got(k).toDouble / graft.ops.Centrality.Scale
      assert(math.abs(fx - expect(k)) < 1e-3,
        s"node $k: fixed $fx vs reference ${expect(k)}")
    }
    // Locality: the seed triangle holds strictly more mass than the
    // far triangle; the contribution-less dangling node holds least.
    val near = got(1L) + got(2L) + got(3L)
    val far = got(4L) + got(5L) + got(6L)
    assert(near > far, s"teleport locality inverted: near=$near far=$far")
    assert(adj.keys.filter(_ != 7L).forall(k => got(k) > got(7L)),
      s"dangling node outranked a reachable one: $got")
    assert(run(g.repartition(5)) == got, "partition-variant ranks")
    assert(run(g) == got, "rerun drifted")
  }

  test("personalizedPageRank: all-node seeds bit-equal uniform; seed rules") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    val adj: Map[Long, Seq[Long]] = Map(
      1L -> Seq(4L), 2L -> Seq(4L), 3L -> Seq(4L), 4L -> Seq(1L),
      5L -> Seq.empty)
    val g = adj.toSeq.map { case (id, out) =>
      NeighborList(id, out.map(o => Neighbor(o, 0.5)))
    }.toDS().toDF()
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Seeds = every node: (N·Scale·15) DIV (100·N) = (Scale·15) DIV 100
    // exactly (the rationals are equal), so the seeded loop must
    // reproduce uniform PageRank BIT-FOR-BIT — the two variants share
    // one code path with no value drift.
    val uniform = collect(graft.ops.Centrality.pageRank(g, iterations = 10))
    val allSeeds = collect(graft.ops.Centrality.personalizedPageRank(
      g, adj.keys.toSeq.toDF("id"), iterations = 10))
    assert(allSeeds == uniform, "all-node PPR diverged from uniform")
    // Out-of-graph seed ids are ignored: {1, 99} ≡ {1}; duplicates
    // collapse: {1, 1} ≡ {1}; an empty intersection is rejected.
    val s1 = collect(graft.ops.Centrality.personalizedPageRank(
      g, Seq(1L).toDF("id"), iterations = 5))
    assert(collect(graft.ops.Centrality.personalizedPageRank(
      g, Seq(1L, 99L).toDF("id"), iterations = 5)) == s1)
    assert(collect(graft.ops.Centrality.personalizedPageRank(
      g, Seq(1L, 1L).toDF("id"), iterations = 5)) == s1)
    intercept[IllegalArgumentException] {
      graft.ops.Centrality.personalizedPageRank(
        g, Seq(99L).toDF("id"), iterations = 5).collect()
    }
  }

  test("weightedPageRank: equal weights bit-equal uniform; skew flips argmax") {
    import spark.implicits._
    import graft.core.{Neighbor, NeighborList}
    def mk(adj: Map[Long, Seq[(Long, Double)]]) =
      adj.toSeq.map { case (id, out) =>
        NeighborList(id, out.map { case (o, w) => Neighbor(o, w) })
      }.toDS().toDF()
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Equal weights: (rank·w) DIV (k·w) = rank DIV k exactly, so the
    // weighted kernel must reproduce the uniform one BIT-FOR-BIT.
    val eq: Map[Long, Seq[(Long, Double)]] = Map(
      1L -> Seq(2L -> 0.5, 3L -> 0.5), 2L -> Seq(3L -> 0.5),
      3L -> Seq(1L -> 0.5, 2L -> 0.5), 4L -> Seq.empty)
    assert(
      collect(graft.ops.Centrality.weightedPageRank(mk(eq), iterations = 10))
        == collect(graft.ops.Centrality.pageRank(mk(eq), iterations = 10)),
      "equal-weight graph diverged from the uniform kernel")
    // Skewed weights: 1 points at {2, 3} with all its strength on 3;
    // under uniform flow 2 and 3 tie exactly (symmetric receivers of
    // the same sources), under weighted flow 3 must win.
    val sk: Map[Long, Seq[(Long, Double)]] = Map(
      1L -> Seq(2L -> 0.01, 3L -> 0.99), 2L -> Seq(1L -> 0.5),
      3L -> Seq(1L -> 0.5))
    val uni = collect(graft.ops.Centrality.pageRank(mk(sk), iterations = 10))
    val wtd = collect(
      graft.ops.Centrality.weightedPageRank(mk(sk), iterations = 10))
    assert(uni(2L) == uni(3L), s"uniform flow must tie 2 and 3: $uni")
    assert(wtd(3L) > wtd(2L), s"weighted flow must favor 3: $wtd")
    // Determinism and partition invariance, as for the other variants.
    assert(collect(graft.ops.Centrality.weightedPageRank(
      mk(sk).repartition(5), iterations = 10)) == wtd)
    // Double-precision reference on the skewed graph.
    def refWpr(iters: Int): Map[Long, Double] = {
      var r: Map[Long, Double] = sk.keys.map(_ -> 1.0).toMap
      for (_ <- 0 until iters) {
        val in = sk.toSeq.flatMap { case (s0, out) =>
          val tot = out.map(_._2).sum
          out.map { case (d, w) => d -> r(s0) * w / tot }
        }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
        r = sk.keys.map(k => k -> (0.15 + 0.85 * in.getOrElse(k, 0.0))).toMap
      }
      r
    }
    val expect = refWpr(10)
    sk.keys.foreach { k =>
      val fx = wtd(k).toDouble / graft.ops.Centrality.Scale
      assert(math.abs(fx - expect(k)) < 1e-3,
        s"node $k: fixed $fx vs reference ${expect(k)}")
    }
  }

  test("kCenters: hand-computed greedy sequence on a line; assignment") {
    import spark.implicits._
    // 1-D geometry in 2-dim vectors: x = 0, 1, 2, 10, 25. Greedy from
    // min id: pick 5 (d=25), then 4 (d=10), then 3 (d=2).
    val pts = Seq(1L -> 0f, 2L -> 1f, 3L -> 2f, 4L -> 10f, 5L -> 25f)
    val df = pts.map { case (id, x) => (id, Array(x, 0f)) }
      .toDF("id", "features")
    val centers = graft.ops.Coreset.kCenters(df, 4)
    val rows = centers.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val S = graft.ops.Coreset.Scale
    assert(rows.toSeq == Seq((0, 1L, 0L), (1, 5L, 25L * S),
      (2, 4L, 10L * S), (3, 3L, 2L * S)), s"greedy sequence: ${rows.toSeq}")
    // Assignment: the one uncovered point (2, at x=1) is distance 1
    // from center 1 — the exact covering radius; ties (none here) and
    // center self-assignment at distance 0.
    val asn = graft.ops.Coreset.assign(df, centers)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(asn(2L) == (1L, S), s"point 2: ${asn(2L)}")
    assert(Seq(1L, 3L, 4L, 5L).forall(id => asn(id) == (id, 0L)),
      s"centers must self-assign at 0: $asn")
  }

  test("kCenters: equals a brute-force reference; invariants") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> Array.fill(8)(rnd.nextFloat()))
    val df = pts.toDF("id", "features")
    // Driver-side Gonzalez with the same kernel and tie order.
    def ref(t: Int): Seq[(Int, Long, Double)] = {
      val m = pts.toMap
      var centers = Seq((0, 0L, 0.0))
      var d = pts.filter(_._1 != 0L)
        .map { case (id, v) => id -> graft.core.Similarity.l2(v, m(0L)) }
        .toMap
      for (r <- 1 until t) {
        val (cid, dist) = d.toSeq.maxBy { case (id, dd) => (dd, -id) }
        centers :+= ((r, cid, dist))
        d = (d - cid).map { case (id, dd) =>
          id -> math.min(dd, graft.core.Similarity.l2(m(id), m(cid)))
        }
      }
      centers
    }
    val expect = ref(6).map { case (r, id, dd) =>
      (r, id, math.rint(dd * graft.ops.Coreset.Scale.toDouble).toLong)
    }
    def run(d: org.apache.spark.sql.DataFrame) = graft.ops.Coreset
      .kCenters(d, 6).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run(df)
    assert(got == expect, s"greedy drifted from reference:\n$got\n$expect")
    assert(run(df.repartition(7)) == got, "partition-variant selection")
    // Gonzalez invariant: selection distances nonincreasing from round
    // 1, and the final covering radius is at most the LAST selection
    // distance (adding centers only tightens cover).
    val sel = got.drop(1).map(_._3)
    assert(sel.zip(sel.tail).forall { case (a, b) => a >= b },
      s"selection distances not monotone: $sel")
    val asn = graft.ops.Coreset.assign(df, graft.ops.Coreset.kCenters(df, 6))
    val radius = asn.agg(max(col("dist_fp"))).collect()(0).getLong(0)
    assert(radius <= sel.last, s"radius $radius above last pick ${sel.last}")
    // Coverage: every point within the radius of SOME center, each
    // center self-assigned.
    assert(asn.filter(col("dist_fp") > radius).count() == 0L)
  }

  test("kCenters: small corpus exhausts; assignment ties pick earliest round") {
    import spark.implicits._
    val df = Seq((3L, Array(0f)), (8L, Array(4f)), (5L, Array(9f)))
      .toDF("id", "features")
    // Empty corpus: zero centers, no NULL-struct decode crash (the
    // round-0 aggregate always returns one row).
    assert(graft.ops.Coreset.kCenters(df.filter(col("id") < 0L), 4)
      .count() == 0L)
    // t far above N: every point becomes a center exactly once.
    val centers = graft.ops.Coreset.kCenters(df, 10)
    assert(centers.count() == 3L)
    assert(centers.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 5L, 8L))
    // Equidistant point between two centers assigns to the EARLIER
    // round (array_position finds the first minimum): centers from
    // {0, 10} make x=5 exactly 5 from both; round order is 0 -> 10.
    val df2 = Seq((1L, Array(0f)), (2L, Array(10f)), (9L, Array(5f)))
      .toDF("id", "features")
    val c2 = graft.ops.Coreset.kCenters(df2, 2)
    val a2 = graft.ops.Coreset.assign(df2, c2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(9L) == 1L, s"tie must resolve to round-0 center: $a2")
    // The assignment is a zero-exchange projection — the centers fold
    // in as literals, no join, no shuffle.
    val plan = graft.ops.Coreset.assign(df2, c2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign plan shuffles:\n$plan")
    // Literal-folding cap: past ~256 centers the folded projection
    // would silently drop out of codegen into interpreted per-row
    // evaluation — assign must refuse, not degrade.
    val bigCenters = spark.range(257)
      .select(col("id").cast("int").as("round"), col("id"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Coreset.assign(df2, bigCenters)
    }
    assert(e.getMessage.contains("literal-folding cap"), e.getMessage)
  }

  test("streaming URL gate equals the batch t49 frame bit-for-bit") {
    // Stateless per-row projections (normalize + gate): the drained
    // stream must reproduce the batch result exactly, row for row.
    def rows(name: String) = Queries.all(name)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows("st24_url_gate_serve") == rows("t49_domain_gate"),
      "drained stream diverged from the batch URL gate")
  }

  test("streaming HTML extraction equals the batch t46 frame bit-for-bit") {
    // Stateless per-row projection: the drained stream must reproduce
    // the batch result exactly, row for row (per-row independence
    // makes the equality hold under any micro-batch slicing).
    def rows(name: String) = Queries.all(name)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(rows("st23_html_extract_serve") == rows("t46_html_extract"),
      "drained stream diverged from the batch extraction")
  }

  test("streaming tokenizer serving equals the batch t36 summary row") {
    def row(df: org.apache.spark.sql.DataFrame) = df
      .select("n_docs", "total_pieces", "n_vocab")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pieces = graft.ops.UnigramTokenizer.train(
      spark.read.parquet(s"$sf001/documents.parquet"), "text",
      vocabSize = 48, seedSize = 256, maxPieceLen = 4, iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val got = row(graft.streaming.EventsStream.tokenizerServeCounts(
      spark, sf001, pieces))
    val batch = row(Queries.all("t36_unigram_encode")(spark, sf001))
    assert(got == batch, s"stream serve diverged: $got vs $batch")
  }

  test("editVerifiedPairs: edit verify splits what shingle Jaccard cannot") {
    import spark.implicits._
    // A = one word changed (tiny edit distance); B = the two halves
    // swapped (shingle set almost intact -> high Jaccard, but half the
    // characters move -> large edit distance). Both are J >= 0.7
    // candidates; only A survives the edit cut.
    val words = (0 until 60).map(i => f"w$i%02d")
    val base = words.mkString(" ")
    val a = words.updated(30, "zz").mkString(" ")
    val b = (words.drop(30) ++ words.take(30)).mkString(" ")
    val d = Seq((0L, base), (1L, a), (2L, b)).toDF("doc_id", "text")
    val out = graft.ops.Dedup
      .editVerifiedPairs(d, "doc_id", "text", 0.7, maxEditDist = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(6)))).toMap
    val (jA, distA, dupA) = out((0L, 1L))
    assert(jA >= 0.7 && distA <= 4L && dupA == 1L,
      s"one-word edit must pass both verifies: $jA/$distA")
    val (jB, distB, dupB) = out((0L, 2L))
    assert(jB >= 0.7, s"half-swap keeps the shingle set: $jB")
    assert(distB > 50L && dupB == 0L,
      s"half-swap must fail the edit cut: $distB")
  }

  test("corpusDiff: all four statuses from one overlapping pair") {
    import spark.implicits._
    val v1 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val v2 = Seq((2L, "y"), (3L, "z2"), (4L, "w")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.corpusDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("normalizeUrls: hand-computed canonical forms") {
    import spark.implicits._
    val d = Seq(
      // scheme/host case, www., default port, tracking params, fragment,
      // trailing slash -- every rule at once; equals doc 2 after norm.
      (1L, "HTTPS://WWW.News.Example.COM:443/Articles/Story-1/" +
        "?utm_source=feed&utm_medium=rss#top"),
      (2L, "https://news.example.com/Articles/Story-1"),
      // http default port + trailing slash on a non-root path.
      (3L, "http://a.example.com:80/posts/7/"),
      // mid-query strips heal separators; equals doc 5 after norm.
      (4L, "https://a.example.com/p?id=9&utm_term=x&fbclid=abc"),
      (5L, "https://a.example.com/p?utm_campaign=z&id=9"),
      // root trailing slash drops entirely.
      (6L, "https://a.example.com/"),
      // non-URL rows pass through lowercased, empty domain.
      (7L, "Not A URL"),
      (8L, null.asInstanceOf[String]),
      // every parameter tracked: the whole query vanishes.
      (9L, "https://b.example.com/x?utm_a=1&utm_b=2"),
      // NON-default port survives; :80$ must not eat :8080.
      (10L, "HTTP://B.example.com:8080/x")
    ).toDF("doc_id", "url")
    val got = graft.ops.Web.normalizeUrls(d)
      .select("doc_id", "norm_url", "domain").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("https://news.example.com/Articles/Story-1",
      "news.example.com")), got(1L))
    assert(got(2L) == got(1L), "surface forms of one page must collide")
    assert(got(3L) == (("http://a.example.com/posts/7", "a.example.com")))
    assert(got(4L) == (("https://a.example.com/p?id=9", "a.example.com")),
      got(4L))
    assert(got(5L) == got(4L), "param order/strip variants must collide")
    assert(got(6L) == (("https://a.example.com", "a.example.com")))
    assert(got(7L) == (("not a url", "")))
    assert(got(8L) == (("", "")))
    assert(got(9L) == (("https://b.example.com/x", "b.example.com")),
      got(9L))
    assert(got(10L) == (("http://b.example.com:8080/x", "b.example.com")),
      got(10L))
  }

  test("dataset card invariants: quartile order, census bounds, full coverage") {
    val r = Queries.all("p09_dataset_card")(spark, sf001).collect().head
    val (nDocs, nTokens, nUnique) = (r.getLong(0), r.getLong(1), r.getLong(4))
    val (q25, q50, q75) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
    val (nCont, nPii) = (r.getLong(8), r.getLong(9))
    assert(nDocs == 500L && nTokens > 0L)
    assert(nUnique <= nDocs && nUnique > 0L)
    assert(q25 <= q50 && q50 <= q75, s"quartiles out of order: $q25 $q50 $q75")
    // Both counts are doc subsets; contamination excludes the bench
    // split itself (5% of ids), so its bound is the corpus side.
    assert(nCont <= nDocs - nDocs / 20 && nCont >= 0L)
    assert(nPii >= 0L && nPii <= nDocs)
  }

  test("domainGate flags exactly the blocked domains") {
    import spark.implicits._
    val d = Seq((1L, "a.example.com"), (2L, "b.example.com"),
      (3L, "c.example.com")).toDF("doc_id", "domain")
    val got = graft.ops.Web.domainGate(d, Seq("b.example.com", "z.example.com"))
      .select("doc_id", "kept").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("t56 CCNet buckets: head tranche is more fluent than tail, and the " +
      "sort-free sampled form lands within a few docs of the exact tranches") {
    val exact = graft.ops.TextAnalysis.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val langs = exact.keys.map(_._1).toSet
    assert(langs.size == 5 && exact.keys.map(_._2).toSet == Set(1, 2, 3))
    // Tranches are balanced per language (ntile contract) and ordered
    // by fluency: head's per-token log-prob strictly above tail's.
    langs.foreach { l =>
      val sizes = (1 to 3).map(b => exact((l, b))._1)
      assert(sizes.max - sizes.min <= 1, s"$l tranches unbalanced: $sizes")
      def perTok(b: Int) = { val (_, tk, lpf) = exact((l, b)); lpf.toDouble / tk }
      assert(perTok(1) > perTok(3),
        s"$l head per-token log-prob must exceed tail: ${perTok(1)} vs ${perTok(3)}")
    }
    // Sampled (sketch-boundary) form: same per-(lang,bucket) doc counts
    // within a small absolute skew — the boundary-tie cost the scaladoc
    // documents, not a different partition.
    val sampled = graft.ops.TextAnalysis.ccnetBucketsSampled(docs)
      .groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(sampled.keys.map(_._1).toSet == langs)
    langs.foreach { l =>
      (1 to 3).foreach { b =>
        val e = exact((l, b))._1
        val s = sampled.getOrElse((l, b), 0L)
        assert(math.abs(e - s) <= 3,
          s"($l, $b) sampled tranche drifted: exact=$e sampled=$s")
      }
    }
  }

  test("n19 stackHealth: nesting survives the stack append, and reverse links " +
      "keep the appended upper layer reciprocal where flat append cannot") {
    import spark.implicits._
    val e = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      val rnd = new scala.util.Random(i)
      (i, Array.tabulate(16)(d =>
        (if (d == c) 3.0f else 0f) + (rnd.nextFloat() - 0.5f) * 0.6f))
    }.toDF("id", "features")
    val existing = e.filter(col("id") % 5 =!= 0)
    val fresh = e.filter(col("id") % 5 === 0)
    val base = graft.nnd.NND.buildGraph(existing,
        graft.nnd.NND.Params(k = 6, maxIterations = 4))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    val upper = graft.nnd.NND.buildGraph(
        existing.join(graft.ops.GraphSearch.assignLayers(existing, maxLevel = 1)
          .filter(col("level") >= 1).select("id"), "id"),
        graft.nnd.NND.Params(k = 4, maxIterations = 3))
      .filter(col("neighbors").isNotNull).select("id", "neighbors")
      .localCheckpoint()
    val stacked = graft.ops.GraphSearch.appendToGraphStack(Seq(base, upper),
      existing, fresh, k = 6, fanout = 4, beam = 16, hops = 3, seeds = 4,
      upperK = 4, upperBeam = 8, upperHops = 2)
    def health(stk: Seq[org.apache.spark.sql.DataFrame]) =
      graft.ops.GraphSearch.stackHealth(stk).collect()
        .map(r => r.getInt(0) -> r).toMap
    val hs = health(stacked)
    // Base layer holds everything (every fresh point has level >= 0);
    // nesting: the upper layer's node set sits inside the base layer.
    assert(hs(0).getLong(1) == 200L,
      s"base layer must hold all 200 nodes: ${hs(0).getLong(1)}")
    assert(hs(0).getAs[Long]("n_above") == hs(1).getLong(1),
      "nesting violated: upper nodes missing from the base layer")
    assert(hs(1).getLong(1) > upper.count(),
      "at least one fresh point must have entered the upper layer")
    // Reciprocity retention: the flat append patches no reverse edges
    // and never touches the upper layer, so the stack-appended upper
    // must carry MORE nodes and at least as high a reciprocity as the
    // flat stack's untouched one serves stale.
    val flat = Seq(graft.ops.GraphSearch.appendToGraph(base, existing,
      fresh, k = 6, beam = 16, hops = 3, seeds = 4), upper)
    val hf = health(flat)
    assert(hs(1).getAs[Long]("reciprocity_fp") > 0L,
      "appended upper layer lost all reciprocity")
    // The flat BASE layer's fresh lists are one-directional: its
    // reciprocity is strictly below the stack-appended base's, whose
    // reverse patches reciprocate every surviving fresh edge.
    assert(hs(0).getAs[Long]("reciprocity_fp") >
      hf(0).getAs[Long]("reciprocity_fp"),
      s"stack append must beat flat append on base reciprocity: " +
        s"${hs(0).getAs[Long]("reciprocity_fp")} vs " +
        s"${hf(0).getAs[Long]("reciprocity_fp")}")
  }
}

