package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Release discipline for `localCheckpoint()` frames.
  *
  * `Dataset.unpersist()` only talks to the cache manager, so it is a
  * silent no-op on a checkpointed frame — the blocks live at the RDD
  * layer (`rdd.localCheckpoint()` persists MEMORY_AND_DISK) and stay
  * pinned until the ContextCleaner happens to collect the RDD. Inside
  * an iterative operator that checkpoints per round (label
  * propagation, BPE merges) the superseded rounds accumulate for the
  * whole job; [[release]] frees them deterministically.
  *
  * Contract mirrored from `Ranks`: an operator releases every
  * checkpoint it pinned EXCEPT the one backing the frame it returns —
  * that one is caller-owned (the caller may `Pinned.release` it when
  * done; the hermetic bench drops it between queries either way).
  */
object Pinned {

  /** `localCheckpoint()` with an audit tap. A pin truncates lineage
    * to a `LogicalRDD` stub, so a plan audit inspecting only the
    * FINAL frame is blind to everything upstream of the last pin —
    * round 12's PLANS.md recorded "0 shuffles" for the two most
    * expensive graph queries because their real join/aggregate
    * shapes sat behind `localCheckpoint()`. All query/operator pins
    * go through here; in audit mode ([[withAuditTap]], used by
    * `graft.Dev`'s plan and audit) the PRE-pin physical plan is recorded before
    * the cut. Normal runs pay one null-check.
    */
  def pin(df: DataFrame): DataFrame = {
    val tap = auditTap
    if (tap != null && (Thread.currentThread() eq auditThread))
      tap(df.queryExecution.executedPlan.toString)
    df.localCheckpoint()
  }

  @volatile private var auditTap: String => Unit = null
  @volatile private var auditThread: Thread = null

  /** Run `body` with every [[pin]]'s pre-checkpoint plan streamed to
    * `sink`. Audit-only (`graft.Dev` runs queries one at a time); the
    * single-thread restriction is ENFORCED, not just documented: the
    * tap fires only for pins executed on the installing thread, so a
    * concurrent pin (e.g. a streaming query's foreachBatch in the
    * same JVM) falls back to a plain localCheckpoint instead of
    * polluting the audited query's shuffle/codegen sums. */
  def withAuditTap[A](sink: String => Unit)(body: => A): A = {
    auditThread = Thread.currentThread()
    auditTap = sink
    try body finally { auditTap = null; auditThread = null }
  }

  /** [[pin]] + "did any row set `flagCol`?" in ONE Spark job.
    *
    * An iterative operator that materializes each round AND tests a
    * per-round convergence flag pays two job boundaries per round —
    * the checkpoint job and the `filter(flag).isEmpty` job — and
    * under a host stall every boundary serially samples the stall
    * window (the q150 official-spike diagnosis, SCALE.md round 16).
    * This folds the test into the materialization: the checkpoint's
    * own task set counts flag-true rows into an accumulator while it
    * persists the blocks, so the round costs ONE job and the flag
    * costs zero extra passes. Same checkpoint mechanics as
    * `Dataset.localCheckpoint` (toRdd + per-row copy +
    * MEMORY_AND_DISK blocks); the returned frame is a direct
    * LogicalRDD — [[count]]/[[release]] apply, and downstream plans
    * read the blocks, never the lineage.
    *
    * The count is used as a ZERO / NON-ZERO signal: task retries can
    * only inflate a non-zero count (a retry of an all-false partition
    * adds nothing), so `changed == 0` is retry-safe even though
    * transformation-side accumulators are at-least-once.
    */
  def pinWithChangedCount(df: DataFrame, flagCol: String): (DataFrame, Long) = {
    val tap = auditTap
    if (tap != null && (Thread.currentThread() eq auditThread))
      tap(df.queryExecution.executedPlan.toString)
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator
    val idx = df.schema.fieldIndex(flagCol)
    val rdd = df.queryExecution.toRdd.map { r =>
      if (!r.isNullAt(idx) && r.getBoolean(idx)) acc.add(1L)
      r.copy()
    }
    rdd.localCheckpoint()
    rdd.count() // materialize blocks + drive the accumulator
    val out = org.apache.spark.sql.graftshim.ColumnShim
      .internalCreateDataFrame(spark, rdd, df.schema)
    (out, acc.value)
  }

  /** [[pin]] + row count in ONE Spark job.
    *
    * `Dataset.localCheckpoint()` (eager) already drives an internal
    * `count()` to materialize the blocks — and discards the value; an
    * operator that needs the row count as a routing/literal constant
    * (triangleStats' edge count, pagerank's vertex count) then pays a
    * SECOND job over the cached blocks via [[count]]. This keeps the
    * materializing count's value, so pin + count is one scheduler
    * barrier instead of two. Mechanics identical to
    * [[pinWithChangedCount]] minus the accumulator: toRdd + per-row
    * copy + MEMORY_AND_DISK blocks, returned frame a direct
    * LogicalRDD ([[count]]/[[release]] apply). The count is exact —
    * `RDD.count` sums committed task results (one per partition),
    * never double-counts retries.
    */
  def pinWithCount(df: DataFrame): (DataFrame, Long) = {
    val tap = auditTap
    if (tap != null && (Thread.currentThread() eq auditThread))
      tap(df.queryExecution.executedPlan.toString)
    val spark = df.sparkSession
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count() // materialize blocks AND keep the count
    val out = org.apache.spark.sql.graftshim.ColumnShim
      .internalCreateDataFrame(spark, rdd, df.schema)
    (out, n)
  }

  /** Row count of a pinned frame, taken on the BACKING RDD: the
    * blocks are already materialized (MEMORY_AND_DISK), so this is a
    * single-stage per-partition count with no SQL planning, no
    * partial-agg exchange — the cheap way an operator turns a frame
    * it just pinned into a routing/literal constant (pagerank's
    * vertex count, triangleStats' edge count). Falls back to
    * `Dataset.count()` when the frame is not a direct checkpoint.
    */
  def count(df: Dataset[_]): Long =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.count()
      case _             => df.count()
    }

  /** Free the storage behind a `localCheckpoint()`ed frame. Safe only
    * once nothing will read `df` again: a checkpointed RDD has no
    * lineage to recompute from, so its data is gone for good. No-op
    * on a frame that is not a direct checkpoint.
    */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }
}
