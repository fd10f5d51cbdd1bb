package graft.nnd

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.core.Neighbor

import scala.collection.mutable

/** Bounded top-K buffer: parallel arrays sorted by (sim desc, dst asc),
  * deduped by dst with old-entry-wins flag merging, truncated to K.
  * `old(i)` = entry i came from an old candidate (the reference's B
  * flag); an entry that is not old is new. Every buffer a [[TopKSlot]]
  * makes has that form; NND's lists read from a caller's graph need not,
  * and its merge normalises them ([[TopKAggregator.mergeTopK]]). */
final case class TopKBuf(dst: Array[Long], sim: Array[Double], old: Array[Boolean])

/** Typed bounded top-K aggregator over candidates — the Spark-SQL
  * equivalent of the reference's `reduceByKey` neighbor-list combine
  * (A4/A7/W1, reference `NND.scala:104-109,228-242`). It serves the
  * streaming ANN serve only, as its per-query state, and finishes to
  * the neighbors alone. NND does not aggregate: its local-join task
  * folds candidates into per-source slots
  * ([[TopKAggregator.partialTopK]]), and its merge exchanges those
  * buffers and the old lists by source and folds them again
  * ([[TopKAggregator.mergeTopK]]).
  *
  * [[TopKBuf]] is the one list shape: this aggregator's state, the
  * slot's result, and every list of NND's loop as `(src, TopKBuf)`
  * rows, a buffer and its source.
  *
  * [[TopKSlot]] is the one top-K rule, behind `reduce`, `merge` and
  * both of NND's folds: (sim desc, dst asc) under `Double.compare`, an
  * equal (sim, dst) ORs its old flag into the kept copy, keep K.
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
final class TopKAggregator(k: Int) extends Aggregator[Cand, TopKBuf, Seq[Neighbor]] {

  override def zero: TopKBuf = TopKBuf(Array.empty, Array.empty, Array.empty)

  override def reduce(b: TopKBuf, c: Cand): TopKBuf = TopKSlot.plus(k, b, c.dst, c.sim, c.isOld)

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    val slot = TopKSlot.of(k, a)
    b.dst.indices.foreach(i => slot.add(b.dst(i), b.sim(i), b.old(i)))
    slot.result
  }

  override def finish(b: TopKBuf): Seq[Neighbor] =
    Array.tabulate(b.dst.length)(i => Neighbor(b.dst(i), b.sim(i))).toSeq

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder[Seq[Neighbor]]()
}

object TopKAggregator {

  /** A task's partial top-K, for `mapPartitions` directly on a `Cand`
    * producer: Catalyst's EliminateSerialization then hands the
    * producer's objects straight to this fold, so no candidate is
    * encoded. Each candidate goes into its source's [[TopKSlot]], and at
    * the end of the partition every slot is emitted as one
    * `(src, buffer)` row, in source order: sorted rows compress better
    * in the exchange that follows (perfbench build, seed 1: 29.60 MB in
    * source order, 29.77 MB in the map's hash order). The slots live
    * outside Spark's memory manager and are not bounded: a local-join
    * candidate's source is any group member, so a task holds about one
    * slot per node. */
  private[nnd] def partialTopK(k: Int)(cands: Iterator[Cand]): Iterator[(Long, TopKBuf)] = {
    val slots = new mutable.LongMap[TopKSlot]()
    cands.foreach(c => slots.getOrElseUpdate(c.src, new TopKSlot(k)).add(c.dst, c.sim, c.isOld))
    slots.keys.toArray.sorted.iterator.map(src => (src, slots(src).result))
  }

  /** A merge task's top-K lists: [[partialTopK]] over the entries of
    * every `(src, buffer)` row it reads, whatever their order and
    * however a source's entries are split across rows. A row need not be
    * sorted, deduplicated or K wide: every entry is folded. */
  private[nnd] def mergeTopK(k: Int)(bufs: Iterator[(Long, TopKBuf)]): Iterator[(Long, TopKBuf)] =
    partialTopK(k)(bufs.flatMap { case (src, b) =>
      b.dst.indices.iterator.map(i => Cand(src, b.dst(i), b.sim(i), b.old(i)))
    })
}

/** One source's top-K buffer, mutable and primitive: the one top-K
  * rule. Order is (sim desc, dst asc) under `Double.compare`, NOT
  * primitive </==: a NaN similarity (corrupt upstream features — the
  * l2sim paths have no cosine_ranked-style guard) makes every primitive
  * comparison false, which would break the order and let duplicates
  * escape dedup. Under compare's IEEE total order NaN sorts as the
  * LARGEST value (first in the list, matching Spark's own descending
  * sort order), so corrupt input yields a deterministic,
  * structurally valid list. Sims here are 1/(1+d) or -Inf — never -0.0
  * — so compare agrees with the primitive ops on every valid input.
  * Dedup: an equal (sim, dst) ORs its old flag into the kept copy. Any
  * input order folds to the same sorted, deduplicated buffer. */
private[nnd] final class TopKSlot(k: Int) {
  private val dst = new Array[Long](k)
  private val sim = new Array[Double](k)
  private val old = new Array[Boolean](k)
  private var n = 0

  def add(d: Long, s: Double, o: Boolean): Unit =
    // full, and the candidate sorts after the last entry: dominated
    if (n < k || !TopKSlot.sortsAfter(s, d, sim(n - 1), dst(n - 1))) {
      var i = 0
      while (i < n && TopKSlot.sortsAfter(s, d, sim(i), dst(i))) i += 1
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

  /** (s, d) sorts strictly after (ls, ld): (sim desc, dst asc) under
    * Double.compare's total order. */
  private def sortsAfter(s: Double, d: Long, ls: Double, ld: Long): Boolean = {
    val cmp = java.lang.Double.compare(s, ls)
    cmp < 0 || (cmp == 0 && d > ld)
  }

  /** A slot holding `b`, which must already be sorted, deduplicated and
    * at most K long — every buffer a slot makes is. */
  def of(k: Int, b: TopKBuf): TopKSlot = {
    val slot = new TopKSlot(k)
    val m = b.dst.length
    System.arraycopy(b.dst, 0, slot.dst, 0, m)
    System.arraycopy(b.sim, 0, slot.sim, 0, m)
    System.arraycopy(b.old, 0, slot.old, 0, m)
    slot.n = m
    slot
  }

  /** `b` with one entry added. The dominant post-convergence case — `b`
    * is full and the entry sorts strictly after its last one — returns
    * `b` itself, not a copy: the entry can neither enter the list nor
    * duplicate a kept entry (a duplicate has an IDENTICAL (sim, dst) and
    * so never sorts strictly after the kept copy). */
  def plus(k: Int, b: TopKBuf, d: Long, s: Double, o: Boolean): TopKBuf = {
    val n = b.dst.length
    if (n >= k && sortsAfter(s, d, b.sim(n - 1), b.dst(n - 1))) b
    else { val slot = of(k, b); slot.add(d, s, o); slot.result }
  }
}
