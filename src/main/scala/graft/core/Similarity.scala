package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity kernels.
  *
  * JVM forms are used inside typed per-group logic (no UDF boundary at
  * all — they run on already-decoded primitive arrays). Column forms are
  * pure `org.apache.spark.sql.functions` compositions (`zip_with` +
  * `aggregate`), so they stay inside whole-stage codegen and are
  * expressible 1:1 in the DuckDB oracle SQL.
  *
  * Reference kernel: `1 / (1 + ||v1 - v2||_2)`, gated to
  * `-Infinity` across logical partitions (`/root/reference/src/main/
  * scala/com/github/fvictorio/nnd/NND.scala:296-306`).
  */
object Similarity {

  /** Euclidean distance over primitive float arrays (single fused pass —
    * the reference's subtract-then-norm, `NND.scala:287-298`, without the
    * intermediate vector allocation).
    *
    * Precision contract: each element is promoted to DOUBLE before the
    * subtraction — the same arithmetic as the codegen `VectorL2`
    * expression and the `zip_with`/`aggregate` column form, so all
    * three kernels are bit-identical on identical inputs
    * (VectorExpressionsSpec pins the parity on adversarial floats).
    * That cross-kernel equality is load-bearing: similarities STORED
    * by one kernel and RE-derived by another (appendToGraph lists
    * folded into a later updateGraph, graph sims compared against
    * column-form re-scores) must collapse to one entry in the top-k
    * rule's (dst, sim) duplicate-merge (`nnd.TopKSlot`). The NND pin
    * family was re-measured against this kernel (round 9). */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"vector size mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** The reference similarity: higher = closer, in (0, 1]. */
  def l2Sim(a: Array[Float], b: Array[Float]): Double = 1.0 / (1.0 + l2(a, b))

  /** Partition-gated similarity (`NND.scala:296-306`): cross-partition
    * pairs are never neighbors. */
  def partitionGated(a: Array[Float], pa: Long, b: Array[Float], pb: Long): Double =
    if (pa == pb) l2Sim(a, b) else Double.NegativeInfinity

  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"vector size mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = dot(a, b)
    val na = math.sqrt(dot(a, a))
    val nb = math.sqrt(dot(b, b))
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  // ---- Column-level forms (codegen'd; no UDF) ----

  /** Elementwise product-sum of two ARRAY<FLOAT/DOUBLE> columns. Casts to
    * double first so the fold is pure double arithmetic (bit-identical to
    * the DuckDB oracle's fold). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def cosineCol(a: Column, b: Column): Column = dotCol(a, b) / (normCol(a) * normCol(b))

  def l2Col(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x))

  /** Column form of the reference similarity kernel. */
  def l2SimCol(a: Column, b: Column): Column = lit(1.0) / (lit(1.0) + l2Col(a, b))
}
