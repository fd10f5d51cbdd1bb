package graft.perfbench

import graft.core.Similarity
import graft.nnd.{Cand, TopKAggregator, TopKBuf}

/** Single-thread microbenchmarks of the two innermost NND kernels, on
  * vectors from the workload's generator. Each returns the median over
  * timed batches (after warm-up batches) and the number of operations
  * timed. */
object Micro {
  @volatile private var sink = 0.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nanoseconds per `Similarity.l2Sim` call on a 64-dim pair. */
  def l2Sim(seed: Long): (Double, Long) = {
    val vs = Gen.vectors(seed, 0L, 1024L)
    val pairs = 200000
    val batches = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0.0
      var i = 0
      while (i < pairs) {
        acc += Similarity.l2Sim(vs(i & 1023), vs((i * 7 + 13) & 1023))
        i += 1
      }
      sink += acc
      (System.nanoTime() - t0).toDouble / pairs
    }.drop(3)
    (median(batches), pairs.toLong * batches.size)
  }

  /** Nanoseconds per `TopKAggregator.reduce` (one candidate into a
    * k'=20 buffer) and per `merge` (two full k'=20 buffers), over
    * candidate streams of 400 generated neighbors per node. */
  def topK(seed: Long): ((Double, Long), (Double, Long)) = {
    val agg = new TopKAggregator(20)
    val nodes = 256
    val vs = Gen.vectors(seed, 0L, 2048L)
    val streams = Array.tabulate(nodes) { u =>
      Array.tabulate(400) { j =>
        val dst = java.lang.Math.floorMod(Gen.hash(seed, u.toLong, j.toLong, 41L), 2048L)
        Cand(u.toLong, dst, Similarity.l2Sim(vs(u), vs(dst.toInt)), (j & 3) == 0)
      }
    }
    def fill(cs: Array[Cand], from: Int, until: Int): TopKBuf = {
      var b = agg.zero
      var i = from
      while (i < until) { b = agg.reduce(b, cs(i)); i += 1 }
      b
    }
    val reduce = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      streams.foreach(cs => sink += fill(cs, 0, cs.length).sim.length)
      (System.nanoTime() - t0).toDouble / (nodes * 400)
    }.drop(3)
    val halves = streams.map(cs => (fill(cs, 0, 200), fill(cs, 200, 400)))
    val rounds = 50
    val merge = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < rounds) {
        halves.foreach { case (a, b) => sink += agg.merge(a, b).sim.length }
        r += 1
      }
      (System.nanoTime() - t0).toDouble / (nodes * rounds)
    }.drop(3)
    ((median(reduce), nodes * 400L * reduce.size), (median(merge), nodes.toLong * rounds * merge.size))
  }
}
