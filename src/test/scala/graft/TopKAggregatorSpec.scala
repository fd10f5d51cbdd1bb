package graft.nnd

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the bounded top-K rule, [[TopKSlot]].
  *
  * The streaming ANN serve aggregates with [[TopKAggregator]], and
  * Spark's partial aggregation applies its slot-based `merge` in an
  * arbitrary tree order decided by partitioning and task scheduling, so
  * the serve is only deterministic if `merge` is associative,
  * commutative and truncation-stable. These properties ARE the
  * correctness argument for map-side combining (TopKAggregator
  * scaladoc); here they are checked mechanically against 500
  * randomized inputs each instead of argued.
  *
  * NND does not use Spark's partial aggregation. Its local-join task
  * folds candidates into a slot map (`TopKAggregator.partialTopK`), and
  * its merge exchanges those buffers by source into the same fold
  * (`TopKAggregator.mergeTopK`). Old lists reach `mergeTopK` raw, as
  * they are, exactly as "an unsorted, duplicated old list…" feeds them:
  * the fold, not the caller, sorts, dedups and truncates them. Both
  * folds are checked against the same reference and bit for bit
  * against `reduce`.
  */
class TopKAggregatorSpec extends AnyFunSuite {

  private val K = 5
  private val agg = new TopKAggregator(K)
  private val Rounds = 500

  // Small id domain forces heavy dedup and tie-break collisions — the
  // hard cases. Duplicates of a (src,dst) pair always carry the same
  // sim (the algorithm's invariant: similarity is a pure function of
  // the endpoints); a tiny sim grid makes equal-sim ties common.
  private def simOf(dst: Long): Double = 0.1 + (dst % 7).toDouble / 10.0
  private val candOf: Gen[Cand] = for {
    dst <- Gen.choose(0L, 15L)
    old <- Gen.oneOf(true, false)
  } yield Cand(0L, dst, simOf(dst), old)
  private val candGen: Gen[List[Cand]] = Gen.listOf(candOf)
  /** Candidates of 8 sources, for the per-task slot map. */
  private val multiSrcGen: Gen[List[Cand]] = Gen.listOf(for {
    src <- Gen.choose(0L, 7L)
    c <- candOf
  } yield c.copy(src = src))

  /** Deterministic sample stream (fixed seed, advanced per draw). */
  private def samples(n: Int, gen: Gen[List[Cand]] = candGen): Seq[List[Cand]] = {
    var seed = Seed(42L)
    (1 to n).map { _ =>
      seed = seed.next
      gen.pureApply(Gen.Parameters.default, seed)
    }
  }

  private def fold(cs: Seq[Cand]): TopKBuf =
    cs.foldLeft(agg.zero)((b, c) => agg.reduce(b, c))

  /** One task's partial rows of `cs`, as NND makes them. */
  private def partials(cs: Seq[Cand]): Seq[(Long, TopKBuf)] =
    TopKAggregator.partialTopK(K)(cs.iterator).toSeq

  /** One source's stream folded through its slot: the task's only row
    * (`zero` when the stream is empty). */
  private def slot(cs: Seq[Cand]): TopKBuf = partials(cs) match {
    case Seq() => agg.zero
    case Seq((_, b)) => b
  }

  /** One merge task's lists of `rows`, as NND makes them. */
  private def merged(rows: Seq[(Long, TopKBuf)]): Seq[(Long, TopKBuf)] =
    TopKAggregator.mergeTopK(K)(rows.iterator).toSeq

  private def canon(b: TopKBuf): (Seq[Long], Seq[Double], Seq[Boolean]) =
    (b.dst.toSeq, b.sim.toSeq, b.old.toSeq)

  // Bit-level canon: Seq[Double].== uses primitive NaN != NaN.
  private def bits(b: TopKBuf) =
    (b.dst.toSeq, b.sim.toSeq.map(java.lang.Double.doubleToLongBits), b.old.toSeq)

  /** Reference semantics: dedup by dst (old-flag ORs), sort by
    * (sim desc, dst asc), truncate to K. */
  private def reference(cs: Seq[Cand]): Seq[(Long, Double, Boolean)] =
    cs.groupBy(_.dst).map { case (d, dup) =>
      (d, dup.head.sim, dup.exists(_.isOld))
    }.toSeq.sortBy { case (d, s, _) => (-s, d) }.take(K)

  test("fold equals the reference semantics (dedup, old-wins, sorted, truncated)") {
    samples(Rounds).foreach { cs =>
      val got = fold(cs)
      val want = reference(cs)
      assert(got.dst.toSeq == want.map(_._1), s"input: $cs")
      assert(got.sim.toSeq == want.map(_._2), s"input: $cs")
      assert(got.old.toSeq == want.map(_._3), s"input: $cs")
    }
  }

  test("merge is commutative") {
    samples(Rounds).grouped(2).collect { case Seq(xs, ys) =>
      assert(canon(agg.merge(fold(xs), fold(ys))) == canon(agg.merge(fold(ys), fold(xs))),
        s"inputs: $xs / $ys")
    }.toList
  }

  test("merge is associative") {
    samples(Rounds * 3 / 2).grouped(3).collect { case Seq(xs, ys, zs) =>
      val left = agg.merge(agg.merge(fold(xs), fold(ys)), fold(zs))
      val right = agg.merge(fold(xs), agg.merge(fold(ys), fold(zs)))
      assert(canon(left) == canon(right), s"inputs: $xs / $ys / $zs")
    }.toList
  }

  test("any split of the input merges to the same result as one pass (partial-agg exactness)") {
    samples(Rounds).zipWithIndex.foreach { case (cs, i) =>
      val cut = if (cs.isEmpty) 0 else i % (cs.length + 1)
      val (a, b) = cs.splitAt(cut)
      assert(canon(agg.merge(fold(a), fold(b))) == canon(fold(cs)),
        s"split at $cut of: $cs")
    }
  }

  test("a NaN similarity keeps the buffer structurally valid (IEEE total order, dedup intact)") {
    // Corrupt upstream features make l2Sim return NaN; under primitive
    // comparisons every branch is false, merge loses its sorted-run
    // invariant, and duplicates escape dedup. Under Double.compare NaN
    // sorts as the LARGEST sim (first), deterministically.
    val cs = List(
      Cand(0L, 1L, 0.5, false), Cand(0L, 2L, Double.NaN, false),
      Cand(0L, 3L, 0.7, true), Cand(0L, 2L, Double.NaN, true),
      Cand(0L, 4L, 0.7, false), Cand(0L, 2L, Double.NaN, false),
      Cand(0L, 5L, 0.1, false), Cand(0L, 6L, 0.9, false))
    // Every split order must agree (the partial-agg contract), lists
    // must be unique-by-dst, ordered by (compare desc, dst asc), and
    // the NaN duplicates must merge to ONE entry with OR'd flags.
    val whole = fold(cs)
    (0 to cs.length).foreach { cut =>
      val (a, b) = cs.splitAt(cut)
      assert(bits(agg.merge(fold(a), fold(b))) == bits(whole), s"split $cut")
    }
    // The slot orders and dedups NaN the same way, in any input order.
    (0 until cs.length).foreach { r =>
      val rotated = cs.drop(r) ++ cs.take(r)
      assert(bits(slot(rotated)) == bits(whole), s"slot, rotation $r")
    }
    assert(whole.dst.length == whole.dst.distinct.length, "dup escaped dedup")
    assert(whole.dst.count(_ == 2L) == 1)
    assert(whole.old(whole.dst.indexOf(2L)), "old flag lost in NaN dedup")
    val ord = whole.sim.zip(whole.dst).toSeq
    val sorted = ord.sortWith { case ((s1, d1), (s2, d2)) =>
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && d1 < d2)
    }
    assert(ord == sorted, s"list not in total order: $ord")
    assert(java.lang.Double.isNaN(whole.sim(0)), "NaN must sort first (largest)")
  }

  test("the slot folds a candidate stream to the reference, bit-equal to reduce") {
    samples(Rounds).foreach { cs =>
      val got = slot(cs)
      val want = reference(cs)
      assert(got.dst.toSeq == want.map(_._1), s"input: $cs")
      assert(got.sim.toSeq == want.map(_._2), s"input: $cs")
      assert(got.old.toSeq == want.map(_._3), s"input: $cs")
      assert(bits(got) == bits(fold(cs)), s"input: $cs")
    }
  }

  test("an unsorted, duplicated old list through the slot merges like its candidates") {
    // Lists from a caller's existing graph carry no order or dedup
    // guarantee; the merge folds every entry, so it needs neither.
    samples(Rounds).grouped(2).collect { case Seq(xs, ys) =>
      val oldList = xs.map(_.copy(isOld = true))
      val raw = TopKBuf(oldList.map(_.dst).toArray, oldList.map(_.sim).toArray,
        oldList.map(_.isOld).toArray)
      val got = merged(Seq((0L, raw), (0L, slot(ys)))) match {
        case Seq() => agg.zero
        case Seq((_, b)) => b
      }
      val want = reference(oldList ++ ys)
      assert(canon(got) == ((want.map(_._1), want.map(_._2), want.map(_._3))),
        s"inputs: $oldList / $ys")
      assert(bits(got) == bits(fold(oldList ++ ys)), s"inputs: $oldList / $ys")
    }.toList
  }

  test("per-task partials, exchanged in any row order, merge to each source's fold") {
    samples(Rounds, multiSrcGen).zipWithIndex.foreach { case (cs, i) =>
      val rnd = new scala.util.Random(i.toLong)
      val tasks = cs.groupBy(_ => rnd.nextInt(4)).values.toSeq
      val rows = rnd.shuffle(tasks.flatMap(partials))
      val got = merged(rows)
      assert(got.map(_._1).sorted == cs.map(_.src).distinct.sorted, s"input: $cs")
      got.foreach { case (src, b) =>
        assert(bits(b) == bits(fold(cs.filter(_.src == src))), s"source $src of: $cs")
      }
    }
  }

  test("the slot map keeps one buffer per source, bit-equal to that source's fold") {
    samples(Rounds, multiSrcGen).foreach { cs =>
      val rows = partials(cs)
      assert(rows.map(_._1).sorted == cs.map(_.src).distinct.sorted, s"input: $cs")
      rows.foreach { case (src, b) =>
        assert(bits(b) == bits(fold(cs.filter(_.src == src))), s"source $src of: $cs")
      }
    }
  }
}
