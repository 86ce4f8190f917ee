package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

import graft.sink.TxLogTable

/** The read decisions the two TxLog surfaces share — the format
  * ([[TxLogDataSource]], [[TxLogStreamSource]]) and the `graft`
  * catalog ([[GraftTable]], [[GraftMicroBatchStream]]) — each written
  * once: which plan serves a resolved snapshot, and what a micro-batch
  * reads and must refuse. Both surfaces resolve a snapshot once per
  * relation or table instance and serve every scan from it.
  */
private[graft] object TxLogRead {

  /** Whether `snap` must be served by the library plan rather than a
    * file scan: outstanding merge-on-read deletion vectors (a file-level
    * scan cannot express the row mask) or an active column mapping
    * (files carry physical names the scan cannot re-label). Correctness
    * first; the DV tax retires at the next compact(), the mapping tax
    * when the table is overwritten under its logical names.
    */
  def bridged(snap: TxLogTable.Snapshot): Boolean =
    snap.hasDeletionVectors || snap.renames.nonEmpty

  /** `df`'s rows as a batch relation — the one bridge from a library
    * plan (a bridged snapshot, the change feed) to a Spark relation. */
  def bridge(spark: SparkSession, df: DataFrame): BaseRelation with TableScan =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = df.schema
      override def buildScan(): RDD[Row] = df.rdd
    }

  /** `snap`'s rows under their logical names, deletion vectors applied. */
  def frameRelation(spark: SparkSession, tablePath: String,
      snap: TxLogTable.Snapshot): BaseRelation with TableScan =
    bridge(spark, TxLogTable.frame(spark, tablePath, snap))

  /** The batch relation serving `snap`: Spark's parquet file source over
    * the stats-pruning [[TxLogFileIndex]], or [[frameRelation]] when
    * the snapshot is [[bridged]]. */
  def relation(spark: SparkSession, tablePath: String,
      snap: TxLogTable.Snapshot, options: Map[String, String]): BaseRelation =
    if (bridged(snap)) frameRelation(spark, tablePath, snap)
    else {
      val index = new TxLogFileIndex(spark, tablePath, snap)
      HadoopFsRelation(
        location = index,
        partitionSchema = StructType(Nil),
        dataSchema = index.dataSchema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = options)(spark)
    }

  /** What the micro-batch `(lo, hi]` of an append-only stream reads, on
    * one listing of the log. The reader gate runs on the latest
    * snapshot every batch: a reader feature declared after the stream
    * started must stop it, not have its commits replayed with legacy
    * semantics. Then:
    *  - the `first` batch of a fresh stream is the SNAPSHOT at `hi`
    *    (Left) — the public lake sources' semantics: on a
    *    retention-managed table the early appends live only in the log
    *    checkpoint, and a commit replay would silently miss them;
    *  - a later batch is the data files the commits in `(lo, hi]`
    *    added (Right). Compaction and replayed txn commits add nothing,
    *    so nothing streams twice.
    *
    * Refused loudly, never skipped: a replayed first batch pinned at a
    * version log retention reclaimed (the batch cannot be reproduced);
    * expired versions a later batch still owes (the survivors would
    * stream as if complete); and, unless `ignoreDeletes`, a row-level
    * delete or update in the range, which an append-only stream cannot
    * express — the public lake-table streaming sources' contract.
    */
  def microBatch(log: TxLogTable.TxLog, lo: Long, hi: Long, first: Boolean,
      ignoreDeletes: Boolean): Either[TxLogTable.Snapshot, Seq[String]] = {
    val path = log.tablePath
    log.snapshot()
    if (first) {
      if (!log.has(hi)) throw new IllegalStateException(
        s"stream checkpoint pins initial snapshot version $hi of $path, " +
          "which was expired by log retention — the batch cannot be " +
          "reproduced. Restart from a fresh checkpoint")
      Left(log.snapshot(Some(hi)))
    } else {
      val missing = log.missingVersions(lo, hi)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"stream checkpoint resumes at version $lo of $path but version(s) " +
          s"${missing.head}..${missing.last} were expired by log retention " +
          "— the incremental feed is gapped. Restart from a fresh " +
          "checkpoint (the initial batch serves the current snapshot) " +
          "instead of silently skipping the expired commits")
      val rewrites = if (ignoreDeletes) Nil else log.rewriteVersions(lo, hi)
      if (rewrites.nonEmpty) throw new IllegalStateException(
        s"table $path has row-level delete/update commit(s) " +
          s"${rewrites.mkString(", ")} in the streamed range ($lo, $hi] — " +
          "an append-only stream cannot reflect them. Either restart from " +
          "a fresh checkpoint, read the change feed, or set option " +
          "'ignoreDeletes' = true to stream inserts only")
      Right(log.addedFiles(lo, hi))
    }
  }
}
