package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.nnd.{Cand, TopKAggregator}
import graft.ops.SimilaritySearch

/** Streaming ANN serving: a continuous stream of query vectors searched
  * against a STATIC IVF index — the online half of the vector-serving
  * story (the batch half, index construction, is
  * [[graft.ops.SimilaritySearch.ivfTopK]]; the reference is batch-only,
  * `/root/reference/.../NND.scala`, so this extends SURVEY §2.8/§2.9).
  *
  * Scale shape, piece by piece:
  *  - The index ([[SimilaritySearch.cellAssign]] over trained coarse
  *    centroids) is built ONCE and persisted — the serving fleet's
  *    resident index. Nothing about it recomputes per micro-batch.
  *  - Per query-batch work is a stateless probe-cell explode (pure
  *    projection — legal on a stream), a stream-static equi-join on
  *    `cell` (no stream state), and a cosine projection: exactly the
  *    batch plan with the query side swapped for the stream.
  *  - Per-query top-k is the bounded [[TopKAggregator]] — mergeable
  *    ≤k-row state under the same top-k rule as the NND build's
  *    merge (A4), here as STREAMING aggregation state: k rows per
  *    query key, forever, regardless of how many micro-batches
  *    contribute candidates. A `collect_list`-then-sort formulation
  *    would hold every candidate ever seen per query; this holds k.
  *
  * Determinism: candidates are generated per (query, probed cell) and
  * cells partition the corpus, so each (query, nbr) pair is scored at
  * most once across the whole stream; the aggregator's (sim desc, dst
  * asc) order is [[SimilaritySearch.ivfTopK]]'s tie-break. The final
  * state is therefore IDENTICAL to the batch search over the same
  * query set — st10 shares s04's pinned recall by construction, and
  * AnnServeSpec asserts row-level equality, not just recall parity.
  */
object AnnServe {

  /** Drains the embeddings fixture as a query stream (`id < maxQueryId`)
    * against the static IVF index of the same corpus; returns the final
    * per-query top-`k` table `(query_id, rank, nbr_id, cosine)`. */
  def ivfServeTopK(spark: SparkSession, dir: String, k: Int = 10,
                   maxQueryId: Long = 20, nCells: Int = 32,
                   nProbe: Int = 16, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("features"))
    val centroids = SimilaritySearch.trainIvfCentroids(corpus, nCells, seed = seed)
    // The resident serving index: built once, reused by every micro-batch.
    val index = SimilaritySearch.cellAssign(corpus, centroids).persist()
    try {
      index.count() // materialize before the stream starts
      val drained = EventsStream.runDrainedOn(
        spark, dir, "embeddings", EventsStream.embeddingsSchema, "annserve") { src =>
        val queries = src
          .select(col("vec_id").as("id"), col("embedding").as("features"))
          .filter(col("id") < maxQueryId)
        SimilaritySearch.probeCells(queries, centroids, nProbe)
          .join(index, Seq("cell")) // stream-static: no stream state
          .filter(col("query_id") =!= col("nbr_id"))
          .select(col("query_id").as("src"), col("nbr_id").as("dst"),
            // cosine_ranked: a NaN here would also break the typed
            // aggregator's primitive-double merge ordering downstream.
            VectorFunctions.cosine_ranked(
              VectorFunctions.vector_dot(col("v_q"), col("v_c")),
              col("n_q"), col("n_c")).as("sim"),
            lit(false).as("isOld"))
          .as[Cand]
          .groupByKey(_.src)
          .agg(new TopKAggregator(k).toColumn.name("topk"))
          .toDF("query_id", "topk")
      }
      // Complete mode leaves the final aggregation state in the sink;
      // flatten the bounded lists to the batch search's row shape.
      drained
        .select(col("query_id"),
          posexplode(col("topk")).as(Seq("pos", "nbr")))
        .select(col("query_id"), (col("pos") + 1).as("rank"),
          col("nbr.id").as("nbr_id"), col("nbr.similarity").as("cosine"))
    } finally {
      index.unpersist()
    }
  }

  /** Streaming K-NN graph APPEND serving — n06's cheap attach run at
    * ingest time: the prior graph and its corpus are RESIDENT
    * artifacts, and each embedding micro-batch beam-attaches its new
    * points through `foreachBatch` (the st19 idiom: the batch engine
    * plans each micro-batch, the stream holds zero state), so fresh
    * points become searchable the moment their batch lands. Beam
    * search is per-query independent — seeds and traversal depend
    * only on the static graph — so per-batch appends union to the
    * batch [[graft.ops.GraphSearch.appendToGraph]] under ANY batch
    * slicing: st22 shares n06's pinned recall oracle by construction
    * (OpsSpec asserts new-list row equality). Returns only the NEW
    * lists (the caller unions them with the resident graph). */
  def graphAppendServe(spark: SparkSession, dir: String,
      prior: DataFrame, corpus: DataFrame, k: Int = 10, beam: Int = 64,
      hops: Int = 5, seeds: Int = 16): DataFrame =
    EventsStream.runDrainedForeachBatch(
      spark, dir, "embeddings", EventsStream.embeddingsSchema, "gappend") { src =>
      val nw = src
        .select(col("vec_id").as("id"), col("embedding").as("features"))
        .filter(col("id") % 5 === 0)
      // appendedLists: only the fresh rows — appendToGraph's union
      // with the full prior graph would be scanned and then filtered
      // straight back out here, once per micro-batch.
      graft.ops.GraphSearch.appendedLists(prior, corpus, nw, k, beam, hops, seeds)
    }

  /** Streaming HIERARCHICAL-ANN serving (st29) — the s22 layer-stack
    * descent run per query micro-batch through `foreachBatch` (the
    * st19/st22 idiom: the batch engine plans every micro-batch, the
    * stream holds ZERO state) against the RESIDENT stack — in
    * production the n16 parquet artifact, loaded once. The descent is
    * per-query independent (it reads only the static stack and the
    * query's own vector), so per-batch results union to the batch
    * [[graft.ops.GraphSearch.searchHierarchical]] under ANY batch
    * slicing — st29 shares s22/n16's pinned recall by construction,
    * and AnnServeSpec asserts drained-vs-batch ROW equality, scores
    * included. Defaults are s22's serving operating point. */
  def layeredServe(spark: SparkSession, dir: String, layers: Seq[DataFrame],
      corpus: DataFrame, k: Int = 10, beam: Int = 8, hops: Int = 2,
      entries: Int = 4, upperBeam: Int = 8, upperHops: Int = 3,
      seeds: Int = 4, maxQueryId: Long = 20,
      tombstones: Option[DataFrame] = None,
      liveQueriesOnly: Boolean = false): DataFrame =
    EventsStream.runDrainedForeachBatch(
      spark, dir, "embeddings", EventsStream.embeddingsSchema, "layered") { src =>
      val q0 = src
        .select(col("vec_id").as("id"), col("embedding").as("features"))
        .filter(col("id") < maxQueryId)
      // Deleted ids stop QUERYING too when the caller says so (the
      // st30 shape: the query stream and the corpus share the id
      // space, so a tombstoned id's queries must not come back).
      val q = tombstones.filter(_ => liveQueriesOnly)
        .fold(q0)(t => q0.join(t.select("id"), Seq("id"), "left_anti"))
      graft.ops.GraphSearch.searchHierarchical(layers, corpus, q, k,
        beam, hops, entries, upperBeam, upperHops, seeds,
        tombstones = tombstones)
    }

  /** Streaming HIERARCHICAL insert (the st22 idiom lifted to the layer
    * stack): each micro-batch of new points emits its per-layer FRESH
    * lists ([[graft.ops.GraphSearch.stackFreshLists]], tagged with a
    * `layer` column) against the RESIDENT prior stack. Fresh lists are
    * per-point independent — each reads only the static stack and the
    * point's own vector — so drained per-batch emissions union to the
    * batch result under ANY slicing, and feeding the drained lists to
    * [[graft.ops.GraphSearch.patchStackWithFresh]] (the consolidation
    * step a downstream maintainer runs on its own cadence) reproduces
    * the batch [[graft.ops.GraphSearch.appendToGraphStack]] exactly
    * (AnnServeSpec asserts both, scores included). */
  def stackAppendServe(spark: SparkSession, dir: String,
      layers: Seq[DataFrame], corpus: DataFrame, k: Int = 10,
      fanout: Int = 4, beam: Int = 64, hops: Int = 5, seeds: Int = 16,
      upperK: Int = 8, upperBeam: Int = 8, upperHops: Int = 3): DataFrame =
    EventsStream.runDrainedForeachBatch(
      spark, dir, "embeddings", EventsStream.embeddingsSchema, "sappend") { src =>
      val nw = src
        .select(col("vec_id").as("id"), col("embedding").as("features"))
        .filter(col("id") % 5 === 0)
      graft.ops.GraphSearch.stackFreshLists(layers, corpus, nw, k,
        fanout, beam, hops, seeds, upperK, upperBeam, upperHops)
        .zipWithIndex
        .map { case (f, l) => f.withColumn("layer", lit(l)) }
        .reduce(_.unionByName(_))
    }
}
