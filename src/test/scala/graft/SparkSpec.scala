package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Shuffle-write bytes of `f`'s Spark jobs — the shared harness of
    * every scale-exhibit test, read through the one stage meter
    * ([[graft.core.StageMeter]]: bus drained before and after, a
    * listener registered for this call only). */
  def shuffleMeasured[A](f: => A): (A, Long) = {
    val m = graft.core.StageMeter.measure(spark)(f)
    (m.value, m.shuffleBytes)
  }
}
