package graft.perfbench

/** Seeded input generator with ScaleGen's embedding shape: 64-dim float
  * vectors in 10 hash-placed clusters, centroid coordinates in [-2, 2]
  * and per-vector noise in [-0.5, 0.5].
  *
  * The workload seed is mixed into every hash: the cluster layout
  * (centroids, and which id belongs to which cluster) and every vector's
  * noise. Graph search on this data depends on the layout, because the
  * k-NN graph has few edges between clusters; search recall therefore
  * moves from seed to seed, and the traced run reports it per layer.
  *
  * Every value is a pure function of (seed, id, dimension): the same seed
  * gives the same inputs at any partitioning, and the benchmark holds
  * them for the correctness gate without collecting anything. */
object Gen {
  val Dim = 64
  val Clusters = 10

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long, salt: Long): Long =
    mix(mix(mix(seed ^ mix(salt)) + a) + b)

  private def centered(h: Long, scale: Double): Double =
    (java.lang.Math.floorMod(h, 2001L) - 1000L) / scale

  def label(seed: Long, id: Long): Int =
    java.lang.Math.floorMod(hash(seed, id, 0L, 3L), Clusters.toLong).toInt

  def vector(seed: Long, id: Long): Array[Float] = {
    val c = label(seed, id).toLong
    Array.tabulate(Dim) { d =>
      (centered(hash(seed, c, d.toLong, 17L), 500.0) +
        centered(hash(seed, id, d.toLong, 101L), 2000.0)).toFloat
    }
  }

  /** Vectors for ids `from until until`, indexed by `id - from`. */
  def vectors(seed: Long, from: Long, until: Long): Array[Array[Float]] =
    Array.tabulate((until - from).toInt)(i => vector(seed, from + i))

  /** `count` ids of `0 until n`, chosen by hash order under `seed`. */
  def pick(seed: Long, n: Int, count: Int, salt: Long): Array[Long] =
    (0L until n.toLong).sortBy(id => (hash(seed, id, 0L, salt), id))
      .take(count).sorted.toArray
}
