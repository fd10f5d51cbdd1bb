package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.truncate

/** Distributed connected components over an edge list — the clustering
  * step a dedup pipeline needs to turn near-duplicate PAIRS into
  * duplicate GROUPS (then: keep one canonical document per group).
  *
  * Algorithm: iterative min-label propagation with pointer doubling
  * (path compression), the relational form of the classic
  * MapReduce/Pregel CC (cf. Kiveris et al., "Connected Components in
  * MapReduce and Beyond" — same O(log) round behavior as alternating
  * large-star/small-star, expressed as two joins + one aggregation per
  * round so Catalyst plans it):
  *
  *  - propagate: comp(v) ← min(comp(v), min over neighbors comp(u));
  *  - compress:  comp(v) ← comp(comp(v))  (labels are node ids, so this
  *    is a self-join of the label table — pointer doubling, which cuts
  *    convergence from O(diameter) to O(log diameter) rounds).
  *
  * Labels are monotonically non-increasing and bounded below by the
  * component minimum, so `sum(comp)` strictly decreases until the exact
  * fixpoint — convergence detection is one scalar aggregate, no
  * accumulators (deterministic under task retries).
  *
  * Scale notes: each round shuffles only narrow (long, long) rows — the
  * edge table once (pre-deduplicated, checkpointed, reused every round)
  * and the label table twice. Near-dup components are small and dense
  * (diameter ~2-3), so 2-3 rounds suffice at any corpus size; the
  * pointer-doubling bound covers adversarial chain shapes.
  */
object Components {

  /** @param nodes single-column DataFrame of vertex ids (castable to
    *   LONG). Endpoints appearing only in `edges` are included
    *   automatically; isolated nodes form singleton components.
    * @param edges two-column DataFrame of undirected edges (each pair
    *   listed in either direction; duplicates fine).
    * @param checkpointDir when set, per-round lineage truncation uses
    *   a DURABLE `checkpoint` (survives executor loss on a real
    *   cluster) instead of executor-local blocks — see
    *   [[graft.core.Checkpoints.truncate]].
    * @return (id LONG, component LONG) — component = min id reachable.
    */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val idc = nodes.columns.head
    val Array(uc, vc) = edges.columns.take(2)
    val e0 = edges
      .select(col(uc).cast("long").as("u"), col(vc).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // Symmetric closure, deduped once, checkpointed: reused every round
    // with a stable partitioning instead of re-shuffling raw pairs.
    val both = truncate(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct(),
      checkpointDir)

    var comp = truncate(
      nodes.select(col(idc).cast("long").as("id"))
        .union(both.select(col("u").as("id")))
        .distinct()
        .withColumn("comp", col("id")),
      checkpointDir)
    var lastSum = checksum(comp)

    var it = 0
    var converged = false
    while (!converged && it < maxIterations) {
      val nbrMin = both
        .join(comp.select(col("id").as("v"), col("comp")), "v")
        .groupBy(col("u").as("id"))
        .agg(min(col("comp")).as("nm"))
      // Truncated BEFORE the self-join: the compress step references
      // `propagated` on both sides, and without materialization the
      // propagate join + neighbor-min aggregation would execute twice
      // per round — doubled work in the O(log d)-round critical path.
      val propagated = truncate(comp.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), least(col("comp"), coalesce(col("nm"), col("comp"))).as("comp")),
        checkpointDir)
      // Pointer doubling: comp ← comp(comp). Labels are ids, so the
      // lookup is a self-join; left_outer because a label may already be
      // a component root whose own row maps to itself.
      val compressed = truncate(propagated
        .join(propagated.select(col("id").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left_outer")
        .select(col("id"), coalesce(col("cc"), col("comp")).as("comp")),
        checkpointDir)
      val s = checksum(compressed)
      converged = s == lastSum
      lastSum = s
      comp = compressed
      it += 1
    }
    comp.select(col("id"), col("comp").as("component"))
  }

  /** Convergence checksum: the label sum, in DECIMAL(38,0). Labels
    * only ever decrease (least() then root compression), so an
    * unchanged sum means an unchanged labeling. BIGINT would overflow
    * at the advertised scale (billions of nodes × 1e18-magnitude
    * hashed ids) — Spark 4's ANSI default then THROWS mid-job, and a
    * wraparound sum could alias two successive rounds; the decimal sum
    * is exact to 10^38. */
  private def checksum(comp: DataFrame): java.math.BigDecimal =
    comp.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
}
