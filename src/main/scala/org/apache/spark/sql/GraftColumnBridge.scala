package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters of
  * the classic Spark SQL runtime (`org.apache.spark.sql.classic.
  * ExpressionUtils`), so graft's native Catalyst expressions can be
  * exposed as user-facing Columns. This is the standard extension-library
  * technique (a one-object shim in the spark.sql package). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Free the executor blocks backing a `localCheckpoint`'ed Dataset.
    *
    * `Dataset.unpersist()` goes through the CacheManager, which never
    * saw a localCheckpoint (the checkpoint persists its internal RDD at
    * the RDD level), so in an iterative loop every per-iteration
    * checkpoint's MEMORY_AND_DISK blocks would otherwise stay resident
    * until the driver happens to GC the dataset reference and the
    * ContextCleaner gets to it. A checkpointed Dataset's plan is
    * exactly one `LogicalRDD` ROOT over the internal persisted RDD —
    * unpersisting that root releases the blocks immediately.
    *
    * Root-only, deliberately: matching ANY LogicalRDD in the plan
    * would also unpersist checkpoints the CALLER composed in (e.g. a
    * resident prior-graph artifact joined into a derived frame) —
    * blocks that, lineage being truncated, cannot be recomputed, so a
    * later action on the caller's artifact would die on missing
    * checkpoint blocks. A no-op on anything whose root is not a local
    * checkpoint (derived plans, reliable file-based checkpoints —
    * whose lifecycle is the caller's checkpoint-dir retention). */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit = ds match {
    case d: classic.Dataset[_] =>
      d.queryExecution.analyzed match {
        case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    case _ => ()
  }
}
