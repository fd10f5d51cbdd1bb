package graft

import graft.core.StageMeter
import org.apache.spark.sql.functions.col

class StageMeterSpec extends SparkSpec {

  test("stage meter: repeatable readings, max stage within total, no shuffle on a local count") {
    import spark.implicits._
    // Two shuffle stages: the hash repartition, then the aggregation's
    // exchange on a different key.
    def twoStages() = StageMeter.measure(spark) {
      spark.range(0, 2000, 1, 4).repartition(8, col("id"))
        .groupBy((col("id") % 7).as("g")).count()
        .collect().length
    }
    val a = twoStages()
    val b = twoStages()
    assert(a == b, s"back-to-back readings differ: $a vs $b")
    assert(a.value == 7)
    assert(a.maxStageShuffleBytes > 0L, s"no shuffle measured: $a")
    assert(a.maxStageShuffleBytes <= a.shuffleBytes, s"max stage above total: $a")
    assert(a.jobs > 0, s"no job counted: $a")

    // A narrow count over a local relation: one job, no exchange.
    // (`Dataset.count()` would plan a partial aggregate and a
    // single-partition exchange, which does shuffle.)
    val local = StageMeter.measure(spark)(Seq(1, 2, 3).toDF("x").rdd.count())
    assert(local.value == 3L)
    assert(local.jobs == 1, s"expected one job: $local")
    assert(local.shuffleBytes == 0L && local.maxStageShuffleBytes == 0L,
      s"a narrow count over a local relation shuffled: $local")
  }
}
