package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.core.Similarity
import graft.nnd.NND

/** NND correctness: recall against a brute-force exact k-NN oracle plus
  * the reference's structural invariants (SURVEY.md §5 — the reference
  * itself ships zero tests). */
class NNDSpec extends SparkSpec {

  private val K = 10

  private def embeddings = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("features"),
      col("label").cast("long").as("label"))

  private lazy val result = {
    val df = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 5))
    df.select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
  }

  private lazy val exact: Map[Long, Set[Long]] = {
    val pts = embeddings.select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    pts.map { case (id, f) =>
      id -> pts.filter(_._1 != id)
        .map { case (oid, of) => (oid, Similarity.l2Sim(f, of)) }
        .sortBy { case (oid, s) => (-s, oid) }
        .take(K).map(_._1).toSet
    }.toMap
  }

  test("recall@10 vs brute-force oracle >= 0.80") {
    val recalls = result.collect { case (id, Some(nbrs)) =>
      val got = nbrs.map(_._1).toSet
      exact(id).intersect(got).size.toDouble / K
    }
    assert(recalls.nonEmpty)
    val mean = recalls.sum / recalls.size
    info(s"mean recall@10 = $mean over ${recalls.size} nodes")
    assert(mean >= 0.80, s"recall $mean too low")
  }

  test("invariants: <=K neighbors, no self-loops, sim in (0,1], sorted desc") {
    assert(result.nonEmpty)
    result.foreach { case (id, nbrsOpt) =>
      val nbrs = nbrsOpt.getOrElse(Seq.empty)
      assert(nbrs.size <= K)
      assert(!nbrs.exists(_._1 == id), s"self-loop at $id")
      nbrs.foreach { case (_, s) => assert(s > 0.0 && s <= 1.0, s"sim $s out of range") }
      assert(nbrs.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)), "not sorted")
    }
  }

  test("invariant to physical partitioning (task-placement independence)") {
    val repartitioned = NND.buildGraph(embeddings.repartition(13), NND.Params(k = K, maxIterations = 2))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val baseline = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 2))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    assert(repartitioned == baseline,
      "results depend on physical partitioning — not retry/placement safe")
  }

  test("deterministic across runs") {
    val again = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 5))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    assert(again == result)
  }

  test("partition gating: neighbors never cross logical partitions") {
    val parted = embeddings.withColumn("partition", col("label") % 2)
    val out = NND.buildGraph(parted, NND.Params(k = K, maxIterations = 2))
      .select("id", "partition", "neighbors").collect()
    val part = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      Option(r.getSeq[Row](2)).getOrElse(Seq.empty).foreach { n =>
        assert(part(n.getLong(0)) == r.getLong(1),
          s"cross-partition edge ${r.getLong(0)} -> ${n.getLong(0)}")
      }
    }
  }

  test("bench-scale (sf0.1, 2000 vectors): recall@10 >= 0.75") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    val got = NND.buildGraph(emb01, NND.Params(k = K, maxIterations = 5))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(_.getLong(0)).toSet))
      .toMap
    val pts = emb01.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = pts.toMap
    val recalls = got.collect { case (id, Some(nbrs)) =>
      val f = byId(id)
      val truth = pts.filter(_._1 != id)
        .map { case (oid, of) => (oid, Similarity.l2Sim(f, of)) }
        .sortBy { case (oid, s) => (-s, oid) }
        .take(K).map(_._1).toSet
      truth.intersect(nbrs).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    info(s"sf0.1 mean recall@10 = $mean over ${recalls.size} nodes")
    assert(mean >= 0.75, s"recall $mean too low at bench scale")
  }

  test("rho-sampling path (sampleRate < 1) converges with decent recall") {
    val out = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 5, sampleRate = 0.5))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => n.getLong(0))))
      .toMap
    val recalls = out.collect { case (id, Some(nbrs)) =>
      exact(id).intersect(nbrs.toSet).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    info(s"mean recall@10 at rho=0.5 = $mean")
    assert(mean >= 0.6, s"recall $mean too low")
  }

  test("durable checkpointing (checkpointDir set) produces the identical graph") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nnd_ckpt").toString
    val durable = NND.buildGraph(embeddings,
        NND.Params(k = K, maxIterations = 2, checkpointDir = Some(dir)))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val local = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 2))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    assert(durable == local, "durable-checkpoint build diverged from localCheckpoint build")
    // The checkpoint actually wrote to the durable dir.
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0,
      "no checkpoint data written to checkpointDir")
  }

  test("incremental updateGraph: new points integrate with high recall; old structure persists") {
    import org.apache.spark.sql.functions.col
    // Build on 80% of the fixture, then append the held-out 20%.
    val oldPts = embeddings.filter(col("id") % 5 =!= 0)
    val built = NND.buildGraph(oldPts, NND.Params(k = K, maxIterations = 5))
      .select("id", "neighbors")
    val updated = NND.updateGraph(embeddings, built, NND.Params(k = K, maxIterations = 3))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => n.getLong(0))))
      .toMap
    assert(updated.size == embeddings.count(),
      "updateGraph must cover the full input")
    // Every non-isolated node has a list.
    assert(updated.count(_._2.isDefined) == updated.size)

    // Recall of the NEW nodes against the full-corpus brute-force truth.
    val newRecalls = updated.collect { case (id, Some(nbrs)) if id % 5 == 0 =>
      exact(id).intersect(nbrs.toSet).size.toDouble / K
    }
    val newMean = newRecalls.sum / newRecalls.size
    info(s"new-node recall@10 after incremental update = $newMean over ${newRecalls.size}")
    assert(newMean >= 0.7, s"incremental insert recall too low: $newMean")

    // Old nodes see the new points too (reverse-edge integration): their
    // recall vs the FULL corpus truth must not collapse to the old-only
    // graph's ceiling.
    val oldRecalls = updated.collect { case (id, Some(nbrs)) if id % 5 != 0 =>
      exact(id).intersect(nbrs.toSet).size.toDouble / K
    }
    val oldMean = oldRecalls.sum / oldRecalls.size
    info(s"old-node recall@10 vs full-corpus truth = $oldMean")
    assert(oldMean >= 0.7, s"old nodes did not absorb the increment: $oldMean")
  }

  test("updateGraph integrates a SINGLE appended point (sparse-append regression)") {
    import spark.implicits._
    // The round-9 review defect: stable nodes emitted no forward edges,
    // so a lone new point's adjacency groups were singletons — zero
    // refinement pairs, the point retired after iteration 1 with only
    // its random init draws, and no old node ever linked back to it.
    // The 20%-increment test masks this (co-bucketed new points rescue
    // each other); ONE appended point is the sharp case. Fix: stable
    // lists of reverse-edge-receiving nodes re-enter their adjacency
    // groups as old[v] (Dong et al.'s incremental join).
    val pts = (0 until 60).map(i => (i.toLong, Array((i * 7 % 60).toFloat, (i * 13 % 60).toFloat)))
    val prior = pts.filter(_._1 != 30L)
    val built = NND.buildGraph(prior.toDF("id", "features"),
      NND.Params(k = 4, maxIterations = 4)).select("id", "neighbors")
    val updated = NND.updateGraph(pts.toDF("id", "features"), built,
        NND.Params(k = 4, maxIterations = 4))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => n.getLong(0)).toSet))
      .toMap
    val f30 = pts.find(_._1 == 30L).get._2
    val truth = pts.filter(_._1 != 30L)
      .map { case (oid, of) => (oid, Similarity.l2Sim(f30, of)) }
      .sortBy { case (oid, s) => (-s, oid) }
      .take(4).map(_._1).toSet
    val got = updated(30L).getOrElse(Set.empty)
    val recall = truth.intersect(got).size.toDouble / 4
    info(s"lone-append recall@4 = $recall (got $got, truth $truth)")
    assert(recall >= 0.75, s"lone appended point not integrated: $got vs $truth")
    // Reverse integration: at least one OLD node must now list point 30
    // (it is among several old nodes' true top-4).
    val referencing = updated.collect {
      case (id, Some(nbrs)) if id != 30L && nbrs.contains(30L) => id
    }
    info(s"old nodes referencing the appended point: ${referencing.toSeq.sorted}")
    assert(referencing.nonEmpty, "no old node gained an edge to the appended point")
  }

  test("updateGraph with an empty increment returns the existing graph unchanged") {
    import org.apache.spark.sql.functions.col
    val built = NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 2))
      .select("id", "neighbors")
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val updated = NND.updateGraph(embeddings, built, NND.Params(k = K, maxIterations = 3))
    assert(lists(updated) == lists(built.toDF()),
      "no-op increment must not disturb existing lists")
  }

  test("updateGraph from an empty graph equals buildGraph exactly") {
    import spark.implicits._
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val empty = Seq.empty[(Long, Seq[(Long, Double)])].toDF("id", "neighbors")
    val p = NND.Params(k = K, maxIterations = 2)
    assert(lists(NND.updateGraph(embeddings, empty, p)) ==
      lists(NND.buildGraph(embeddings, p)),
      "all-new update must reduce to a fresh build")
  }

  test("in-loop prune: degree bounded during build, recall within 10% of unpruned") {
    val df = NND.buildGraph(embeddings,
      NND.Params(k = K, maxIterations = 5, pruneAlpha = Some(1.2),
        pruneMaxDegree = 12))
    val lists = df.select("id", "neighbors").collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    // The k-truncation on output would mask a maxDegree >= k, so the
    // IN-LOOP bound is proven with a cap BELOW k: no output list may
    // exceed it even though k (10) and k' (20) both allow more.
    val capped = NND.buildGraph(embeddings,
      NND.Params(k = K, maxIterations = 2, pruneAlpha = Some(1.0),
        pruneMaxDegree = 6))
      .select("neighbors").collect()
      .flatMap(r => Option(r.getSeq[Row](0)))
    assert(capped.nonEmpty)
    capped.foreach(nbrs =>
      assert(nbrs.size <= 6, s"in-loop cap violated: ${nbrs.size} > 6"))
    val recalls = lists.collect { case (id, Some(nbrs)) =>
      exact(id).intersect(nbrs.map(_._1).toSet).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    val baseline = result.collect { case (id, Some(nbrs)) =>
      exact(id).intersect(nbrs.map(_._1).toSet).size.toDouble / K
    }
    val baseMean = baseline.sum / baseline.size
    info(s"pruned-build recall@10 = $mean vs unpruned $baseMean")
    assert(mean >= baseMean - 0.10,
      s"in-loop prune recall $mean collapsed vs unpruned $baseMean")
  }

  test("in-loop prune at huge alpha with no degree cap is bit-identical to unpruned") {
    // alpha -> infinity disables occlusion (alpha*d <= dC never fires
    // for finite candidates beyond the first), so the only remaining
    // effect would be maxDegree — uncapped, the pruned path must
    // reproduce the legacy build EXACTLY, list for list, sim for sim.
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val p0 = NND.Params(k = K, maxIterations = 3)
    val p1 = p0.copy(pruneAlpha = Some(1e18))
    assert(lists(NND.buildGraph(embeddings, p1)) ==
      lists(NND.buildGraph(embeddings, p0)),
      "huge-alpha prune must be the identity")
  }

  test("in-loop prune: updateGraph from empty equals pruned build") {
    import spark.implicits._
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    val empty = Seq.empty[(Long, Seq[(Long, Double)])].toDF("id", "neighbors")
    // The second input runs long enough, with degree capped below k,
    // for lists to stop receiving candidates while others still change.
    // An update that retired such lists to a stable set would stop
    // sending their reverse old edges into active adjacency groups and
    // drift from the build (8 of 500 lists on this fixture).
    Seq(
      NND.Params(k = K, maxIterations = 2, pruneAlpha = Some(1.0), pruneMaxDegree = 12),
      NND.Params(k = K, maxIterations = 8, pruneAlpha = Some(1.0), pruneMaxDegree = 6,
        earlyTermination = 0.0)
    ).foreach { p =>
      assert(lists(NND.updateGraph(embeddings, empty, p)) ==
        lists(NND.buildGraph(embeddings, p)),
        s"pruned all-new update must reduce to a pruned fresh build under $p")
    }
  }

  test("join-strategy invariance: broadcast and sort-merge feature joins give " +
      "the same graphs, and no call leaves a cached table behind") {
    import org.apache.spark.sql.functions.col
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    // Each call, materialized, must release every table it persisted.
    def released(name: String)(call: => org.apache.spark.sql.DataFrame) = {
      val before = org.apache.spark.sql.CacheEntries.count(spark)
      val out = lists(call)
      assert(org.apache.spark.sql.CacheEntries.count(spark) == before,
        s"$name left cached tables behind")
      out
    }
    val built = NND.buildGraph(embeddings.filter(col("id") % 5 =!= 0),
      NND.Params(k = K, maxIterations = 2)).select("id", "neighbors")
    built.collect()
    // The points built leaves out, appended by beam search once and
    // consolidated under each join strategy.
    val batch = embeddings.filter(col("id") % 5 === 0).select("id")
    val appended = graft.ops.GraphSearch.appendToGraph(built,
      embeddings.select("id", "features"), embeddings.join(batch, "id"), k = K).localCheckpoint()
    def calls(): Seq[Map[Long, Option[Seq[(Long, Double)]]]] = Seq(
      released("buildGraph")(NND.buildGraph(embeddings, NND.Params(k = K, maxIterations = 2))),
      released("updateGraph")(
        NND.updateGraph(embeddings, built, NND.Params(k = K, maxIterations = 2))),
      released("pruned buildGraph")(NND.buildGraph(embeddings,
        NND.Params(k = K, maxIterations = 2, pruneAlpha = Some(1.2), pruneMaxDegree = 12))),
      released("updateGraph with finished rows")(NND.updateGraph(
        embeddings.withColumn("finished", col("id") % 7 === 3), built,
        NND.Params(k = K, maxIterations = 2))),
      released("consolidateGraph")(NND.consolidateGraph(embeddings, appended, batch,
        NND.Params(k = K, maxIterations = 2))))
    val broadcastJoins = calls()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // With broadcast off, the features join re-exchanges the gathered
    // rows by member id, and the group-by-src must re-group them.
    val sortMergeJoins =
      try {
        spark.conf.set(key, "-1")
        calls()
      } finally spark.conf.set(key, prev)
    Seq("buildGraph", "updateGraph", "pruned buildGraph", "updateGraph with finished rows",
        "consolidateGraph").zipWithIndex.foreach { case (name, i) =>
      assert(sortMergeJoins(i) == broadcastJoins(i), s"$name depends on the join strategy")
    }
  }

  test("incremental updateGraph is deterministic") {
    import org.apache.spark.sql.functions.col
    val oldPts = embeddings.filter(col("id") % 5 =!= 0)
    val built = NND.buildGraph(oldPts, NND.Params(k = K, maxIterations = 3))
      .select("id", "neighbors")
    def run() = NND.updateGraph(embeddings, built, NND.Params(k = K, maxIterations = 2))
      .select("id", "neighbors").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(n => (n.getLong(0), n.getDouble(1)))))
      .toMap
    assert(run() == run())
  }

  test("reference-compatible API: RDD[(Long, Node)] in, RDD[(Long, NodeWithNeighbors)] out") {
    import org.apache.spark.ml.linalg.Vectors
    import graft.nnd.{NNDCompat, Node}
    val rows = embeddings.collect().map { r =>
      val vec = Vectors.dense(r.getSeq[Float](1).map(_.toDouble).toArray)
      (r.getLong(0), Node(vec, Some(r.getLong(2)), finished = r.getLong(0) < 10))
    }
    val rdd = spark.sparkContext.parallelize(rows.toSeq, 4)
    val out = NNDCompat.buildGraph(rdd, 10, 3, 0.01, 1.0, 4).collect().toMap
    assert(out.size == 500)
    // original features/labels pass through untouched
    rows.foreach { case (id, n) =>
      assert(out(id).features == n.features && out(id).label == n.label)
    }
    assert(out.filter(_._2.finished).forall(_._2.neighbors == null))
    val active = out.filterNot(_._2.finished)
    assert(active.count(_._2.neighbors != null) > 450)
    active.values.filter(_.neighbors != null).foreach { n =>
      assert(n.neighbors.size <= 10)
      assert(n.neighbors.forall { case (_, s) => s > 0 && s <= 1.0 })
    }
  }

  test("finished rows pass through with null neighbors") {
    val marked = embeddings.withColumn("finished", col("id") < 50)
    val out = NND.buildGraph(marked, NND.Params(k = K, maxIterations = 1))
    assert(out.count() == 500)
    assert(out.filter(col("finished") && col("neighbors").isNotNull).count() == 0)
    assert(out.filter(!col("finished") && col("neighbors").isNotNull).count() > 400)
  }
}
