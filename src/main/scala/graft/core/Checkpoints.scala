package graft.core

import org.apache.spark.sql.DataFrame

/** Storage release for `localCheckpoint(true)`'d frames.
  *
  * `Dataset.unpersist()` only touches the CacheManager, not the
  * checkpointed RDD's blocks — an evicted checkpoint frame otherwise
  * keeps its BlockManager storage until the RDD object is GC'd, so a
  * write-invalidate-rebuild loop (upsert then query, repeatedly)
  * strands one checkpoint's worth of blocks per write. The
  * checkpointed RDD sits behind the frame's `LogicalRDD` plan node
  * (`private[sql]`, hence the reflective accessor); releasing is
  * best-effort — on any mismatch the blocks are simply left to the
  * ContextCleaner as before. The blocks go through
  * `SparkContext.unpersistRDD` (`private[spark]`, reached the same
  * way), not `RDD.unpersist`, which logs a WARN for every locally
  * checkpointed RDD that every intentional release here would hit.
  *
  * CONTRACT for memo users: checkpoint lineage is truncated, so a
  * freed frame cannot recompute — a plan derived from a memoized
  * corpus is valid until the next store write under that dir, and an
  * action on a stale plan after a write fails LOUDLY ("checkpoint
  * block not found") rather than silently serving pre-write data.
  * That matches the reference's semantics (every search reads current
  * data, collection.py:195-200): rebuild from the memo after writing.
  */
object Checkpoints {
  def free(df: DataFrame): Unit =
    try {
      val plan = df.queryExecution.logical
      if (plan.getClass.getSimpleName == "LogicalRDD")
        plan.getClass.getMethod("rdd").invoke(plan) match {
          case r: org.apache.spark.rdd.RDD[_] =>
            classOf[org.apache.spark.SparkContext]
              .getMethod("unpersistRDD", classOf[Int], classOf[Boolean])
              .invoke(r.sparkContext, Int.box(r.id), Boolean.box(false))
          case _ => ()
        }
    } catch { case _: Throwable => () }
}
