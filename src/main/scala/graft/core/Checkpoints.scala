package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset

/** THE checkpoint lifecycle pair for iterative loops — single
  * definition for the truncate/release protocol previously copied into
  * every loop (NND, Components, GraphSearch, Centrality, Coreset,
  * Dedup), so the checkpoint policy and the release semantics cannot
  * drift between call sites.
  *
  * `truncate` materializes eagerly and cuts lineage; `release` frees
  * the executor blocks behind a checkpoint the loop no longer reads.
  * `Dataset.unpersist` alone never reaches a localCheckpoint's blocks
  * (the CacheManager never saw them), and
  * `GraftColumnBridge.releaseLocalCheckpoint` acts only when the plan
  * ROOT is the checkpoint's `LogicalRDD` — a deliberate no-op on
  * derived plans and on checkpoints a CALLER composed in, whose
  * truncated lineage could never recompute dropped blocks (see the
  * bridge's scaladoc for the full caveat). Callers must therefore pass
  * the checkpoint-rooted frame itself, not a map over it. */
object Checkpoints {

  /** Executor-local blocks by default (fastest, fine for local mode).
    * With `checkpointDir` set, a DURABLE `checkpoint` to that (DFS)
    * path instead: localCheckpoint blocks live on executors and die
    * with them, which on a real cluster turns one lost executor into a
    * failed job; the durable form survives executor loss at the cost
    * of one DFS write per call. Two caveats the caller owns: Spark
    * does not delete reliable checkpoints (retention = clean the
    * directory after the result is consumed, or run with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; `release`
    * is a no-op on them), and the checkpoint dir is GLOBAL SparkContext
    * state — it is set here on first use (and again only when a
    * different directory is asked for), so concurrent loops in one
    * session should share a single directory. */
  def truncate[T](ds: Dataset[T], checkpointDir: Option[String] = None): Dataset[T] =
    checkpointDir match {
      case None => ds.localCheckpoint(true)
      case Some(dir) =>
        val sc = ds.sparkSession.sparkContext
        val want = new Path(dir)
        val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        // setCheckpointDir creates a fresh UUID subdirectory per call.
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        ds.checkpoint()
    }

  def release(ds: Dataset[_]): Unit = {
    ds.unpersist()
    org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint(ds)
  }
}
