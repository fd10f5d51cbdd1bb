package graft.nnd

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.core.Neighbor

import scala.collection.mutable

/** Bounded top-K buffer: parallel arrays sorted by (sim desc, dst asc),
  * deduped by dst with old-entry-wins flag merging, truncated to K. */
final case class TopKBuf(dst: Array[Long], sim: Array[Double], old: Array[Boolean])

/** Merged neighbor list, the per-entry old flags (`old(i)` = neighbor i
  * survived from the previous iteration — the reference's B flag), and
  * how many entries are new this iteration (the reference's per-node
  * `updated` count, `NND.scala:244-246`). The flags drive the
  * incremental local join: only pairs touching a NEW entry need
  * evaluation next round (Dong et al. §2.3; reference NND.scala:228-242). */
final case class TopKResult(neighbors: Seq[Neighbor], old: Seq[Boolean], updated: Int)

/** Typed bounded top-K merge aggregator — the Spark-SQL equivalent of the
  * reference's `reduceByKey` neighbor-list combine (A4/A7/W1,
  * `/root/reference/src/main/scala/com/github/fvictorio/nnd/
  * NND.scala:104-109,228-242`).
  *
  * `merge` and `finish` are the one top-K merge definition. NND's
  * partial aggregation is not this aggregator's: it runs inside the
  * local-join task, where [[TopKAggregator.partialTopK]] folds each
  * candidate into its source's [[TopKSlot]], so candidates are never
  * encoded as rows. NND's aggregate, [[TopKMerge]], then only merges
  * those per-task buffers with the old lists. `reduce` (one `Cand` into
  * a buffer, through the same slot) serves the streaming ANN serve,
  * whose per-query state is this aggregator.
  *
  * Truncating partial buffers to K is exact: a candidate dropped from a
  * partial buffer is dominated by K better candidates that all reach the
  * final merge, so it can never belong to the final top-K; and since a
  * duplicate's similarity is identical in both copies, flag loss on a
  * dropped copy cannot change the surviving entry's `old` status for any
  * entry that makes the final list. The result is the top K distinct
  * (sim, dst) entries with their copies' old flags OR'd, whatever the
  * order and the split of the input.
  */
final class TopKAggregator(k: Int) extends Aggregator[Cand, TopKBuf, TopKResult] {

  override def zero: TopKBuf = TopKBuf(Array.empty, Array.empty, Array.empty)

  override def reduce(b: TopKBuf, c: Cand): TopKBuf = {
    // Dominant post-convergence case: the buffer is full and the
    // candidate sorts strictly after its last entry — it can neither
    // enter the list nor be a duplicate of anything kept (a duplicate
    // has an IDENTICAL (sim, dst) and so never sorts strictly after
    // the kept copy), so the result is `b` unchanged, not a copy.
    val n = b.dst.length
    if (n >= k && TopKAggregator.sortsAfter(c.sim, c.dst, b.sim(n - 1), b.dst(n - 1))) return b
    val slot = TopKSlot.of(k, b)
    slot.add(c.dst, c.sim, c.isOld)
    slot.result
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    // Two-pointer merge of (sim desc, dst asc)-sorted runs with dedup by
    // dst (old flag ORs — sim of duplicates is identical by construction).
    // Ordering and the dedup equality go through Double.compare, NOT
    // primitive </==: a NaN similarity (corrupt upstream features — the
    // l2sim paths have no cosine_ranked-style guard) makes every
    // primitive comparison false, which silently breaks the sorted-run
    // invariant and lets duplicates escape dedup. Under compare's IEEE
    // total order NaN sorts as the LARGEST value (first in the list,
    // matching Spark's own sort order and Neighbors.assemble), so
    // corrupt input yields a deterministic, structurally-valid list
    // instead of silent corruption. Sims here are 1/(1+d) or -Inf —
    // never -0.0 — so compare is bit-identical to the primitive ops on
    // every valid input (pins unchanged).
    val n = math.min(a.dst.length + b.dst.length, 2 * k)
    val dst = new Array[Long](n)
    val sim = new Array[Double](n)
    val old = new Array[Boolean](n)
    var i = 0; var j = 0; var o = 0
    while (o < n && (i < a.dst.length || j < b.dst.length)) {
      val takeA = j >= b.dst.length || (i < a.dst.length &&
        !TopKAggregator.sortsAfter(a.sim(i), a.dst(i), b.sim(j), b.dst(j)))
      val (d, s, ol) =
        if (takeA) { val r = (a.dst(i), a.sim(i), a.old(i)); i += 1; r }
        else { val r = (b.dst(j), b.sim(j), b.old(j)); j += 1; r }
      // dedup: equal (sim, dst) neighbors are adjacent in the merged order
      if (o > 0 && dst(o - 1) == d && java.lang.Double.compare(sim(o - 1), s) == 0) {
        old(o - 1) = old(o - 1) || ol
      } else if (o < k) {
        dst(o) = d; sim(o) = s; old(o) = ol; o += 1
      } else {
        // beyond K and not a duplicate of the last kept entry: dominated
        o = o // no-op; remaining inputs can still dedup against kept tail
      }
    }
    TopKBuf(dst.take(o), sim.take(o), old.take(o))
  }

  override def finish(b: TopKBuf): TopKResult = {
    val nbrs = Array.tabulate(b.dst.length)(i => Neighbor(b.dst(i), b.sim(i))).toSeq
    TopKResult(nbrs, b.old.toSeq, b.old.count(!_))
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKResult] = Encoders.product[TopKResult]
}

object TopKAggregator {

  /** (s, d) sorts strictly after (ls, ld) in the (sim desc, dst asc)
    * order, under Double.compare's total order (see `merge`). */
  private[nnd] def sortsAfter(s: Double, d: Long, ls: Double, ld: Long): Boolean = {
    val cmp = java.lang.Double.compare(s, ls)
    cmp < 0 || (cmp == 0 && d > ld)
  }

  /** A task's partial top-K, for `mapPartitions` directly on a `Cand`
    * producer: Catalyst's EliminateSerialization then hands the
    * producer's objects straight to this fold, so no candidate is
    * encoded. Each candidate goes into its source's [[TopKSlot]], and at
    * the end of the partition every slot is emitted as one
    * `(src, buffer)` row. The slots live outside Spark's memory manager
    * and are not bounded: a local-join candidate's source is any group
    * member, so a task holds about one slot per node. */
  private[nnd] def partialTopK(k: Int)(cands: Iterator[Cand]): Iterator[(Long, TopKBuf)] = {
    val slots = new mutable.LongMap[TopKSlot]()
    cands.foreach(c => slots.getOrElseUpdate(c.src, new TopKSlot(k)).add(c.dst, c.sim, c.isOld))
    slots.iterator.map { case (src, slot) => (src, slot.result) }
  }
}

/** One source's top-K buffer, mutable and primitive: the one insert
  * routine, behind both [[TopKAggregator]]'s `reduce` and the local
  * join's [[TopKAggregator.partialTopK]]. Order (sim desc, dst asc under
  * Double.compare) and dedup (an equal (sim, dst) ORs its old flag into
  * the kept copy) are `merge`'s, so any input order folds to a sorted,
  * deduplicated buffer. */
private[nnd] final class TopKSlot(k: Int) {
  private val dst = new Array[Long](k)
  private val sim = new Array[Double](k)
  private val old = new Array[Boolean](k)
  private var n = 0

  def add(d: Long, s: Double, o: Boolean): Unit =
    // full, and the candidate sorts after the last entry: dominated
    if (n < k || !TopKAggregator.sortsAfter(s, d, sim(n - 1), dst(n - 1))) {
      var i = 0
      while (i < n && TopKAggregator.sortsAfter(s, d, sim(i), dst(i))) i += 1
      if (i < n && dst(i) == d && java.lang.Double.compare(sim(i), s) == 0) {
        old(i) = old(i) || o
      } else {
        // shift the tail right by one; a full slot drops its last entry
        val moved = math.min(n, k - 1) - i
        System.arraycopy(dst, i, dst, i + 1, moved)
        System.arraycopy(sim, i, sim, i + 1, moved)
        System.arraycopy(old, i, old, i + 1, moved)
        dst(i) = d; sim(i) = s; old(i) = o
        if (n < k) n += 1
      }
    }

  def result: TopKBuf = TopKBuf(dst.take(n), sim.take(n), old.take(n))
}

private[nnd] object TopKSlot {

  /** A slot holding `b`, which must already be sorted, deduplicated and
    * at most K long — every buffer the aggregator makes is. */
  def of(k: Int, b: TopKBuf): TopKSlot = {
    val slot = new TopKSlot(k)
    val m = b.dst.length
    System.arraycopy(b.dst, 0, slot.dst, 0, m)
    System.arraycopy(b.sim, 0, slot.sim, 0, m)
    System.arraycopy(b.old, 0, slot.old, 0, m)
    slot.n = m
    slot
  }
}

/** NND's top-K merge over `(src, buffer)` rows — the per-task partials of
  * [[TopKAggregator.partialTopK]] and the old lists' buffers: the
  * aggregator's `merge` and `finish`, with buffers in place of
  * candidates. */
private[nnd] final class TopKMerge(k: Int)
    extends Aggregator[(Long, TopKBuf), TopKBuf, TopKResult] {
  private val topK = new TopKAggregator(k)
  override def zero: TopKBuf = topK.zero
  override def reduce(b: TopKBuf, p: (Long, TopKBuf)): TopKBuf = topK.merge(b, p._2)
  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = topK.merge(a, b)
  override def finish(b: TopKBuf): TopKResult = topK.finish(b)
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKResult] = Encoders.product[TopKResult]
}
