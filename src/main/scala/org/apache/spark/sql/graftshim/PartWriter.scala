package org.apache.spark.sql.graftshim

import java.io.CharArrayWriter
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileFormat, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** What writing one partition gave: the part file (`None` for a
  * partition after the first that held no rows and so wrote no file),
  * its row count, the NULL count of each column, and its first 3 rows
  * as the JSON records `Dataset.toJSON` renders for them.
  */
final case class WrittenPart(path: Option[String], rows: Long, nulls: Array[Long], firstRows: Seq[String])

/** `df`'s rows written as part files by Spark's own output writer for
  * `format` (`FileFormat.prepareWrite`), without Spark's write job: no
  * `WriteJobDescription` for each task to deserialize, no commit
  * protocol, no `_SUCCESS` marker. Building one makes the checks
  * Spark's writer makes before it writes (a non-empty schema, unique
  * column names where the format needs them, column types the format
  * can write), with Spark's errors. [[write]] then writes each partition with one
  * function that also counts its rows and NULLs and renders its first
  * rows, so the caller gets a manifest's statistics with no second
  * pass.
  *
  * Partition 0 always writes a part, even when it holds no rows;
  * another partition writes one only when it has rows. When `options`
  * ask for a header, only partition 0 writes it, so the parts, joined
  * in partition order, hold the bytes a one-task write gives. A part is
  * named `part-<partition>-<attempt><ext>`, so a retried or speculative
  * attempt never writes over another attempt's part; the caller keeps
  * the parts [[write]] returns and deletes the rest.
  */
final class PartWriter(
    df: DataFrame,
    format: FileFormat,
    options: Map[String, String],
    onePart: Boolean) {

  private val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val schema = df.schema
  private val conf = spark.sessionState.conf
  DataSource.validateSchema(format.toString, schema, conf)
  if (!format.allowDuplicatedColumnNames)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toIndexedSeq, conf.caseSensitiveAnalysis)
  DataSourceUtils.verifySchema(format, schema)

  private val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
  private val first = format.prepareWrite(spark, job, options, schema)
  private val rest =
    if (options.get("header").exists(_.toBoolean)) format.prepareWrite(spark, job, options + ("header" -> "false"), schema)
    else first
  private val ext = first.getFileExtension(new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID))

  /** Write the parts into the existing directory `dir` and return what
    * each partition wrote, in partition order. A frame whose optimized
    * plan is a `LocalRelation` (rows parsed on the driver) is written
    * on the driver as partition 0, with no job. Any other frame is
    * written by one job over its rows (coalesced to one partition
    * first when `onePart`), which reads the Hadoop configuration from
    * one broadcast.
    */
  def write(dir: String): Seq[WrittenPart] = df.queryExecution.optimizedPlan match {
    case local: LocalRelation =>
      Seq(PartWriter.writePart(dir, ext, first, job.getConfiguration, schema,
        conf.sessionLocalTimeZone, 0, 0, local.data.iterator))
    case _ =>
      val frame = if (onePart) df.coalesce(1) else df
      val qe = frame.queryExecution.asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      val sc = spark.sparkContext
      val hadoopConf = CsvRanges.broadcastConf(sc, job.getConfiguration)
      // locals, so the task closure does not capture this writer
      val (first, rest, ext, schema, zone) = (this.first, this.rest, this.ext, this.schema, conf.sessionLocalTimeZone)
      SQLExecution.withNewExecutionId(qe, Some(s"write parts to $dir")) {
        val rdd = qe.toRdd
        val rows = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
        sc.runJob(rows, (task: TaskContext, it: Iterator[InternalRow]) => {
          val p = task.partitionId
          PartWriter.writePart(dir, ext, if (p == 0) first else rest, hadoopConf.value.value, schema,
            zone, p, task.attemptNumber, it)
        }).toIndexedSeq
      }
  }
}

object PartWriter {

  /** Rows each part renders as JSON: a manifest's preview. */
  private val PreviewRows = 3

  /** The per-partition function, on the driver or in a task. */
  private def writePart(dir: String, ext: String, factory: OutputWriterFactory, conf: Configuration,
      schema: StructType, timeZone: String, partition: Int, attempt: Int,
      rows: Iterator[InternalRow]): WrittenPart = {
    val nulls = new Array[Long](schema.length)
    if (partition != 0 && !rows.hasNext) return WrittenPart(None, 0L, nulls, Nil)
    val path = f"$dir/part-$partition%05d-$attempt$ext"
    val writer = factory.newInstance(path, schema, new TaskAttemptContextImpl(conf, new TaskAttemptID))
    val firstRows = ArrayBuffer.empty[String]
    var count = 0L
    try {
      while (rows.hasNext) {
        val row = rows.next()
        writer.write(row)
        var i = 0
        while (i < nulls.length) {
          if (row.isNullAt(i)) nulls(i) += 1
          i += 1
        }
        if (firstRows.length < PreviewRows) firstRows += json(row, schema, timeZone)
        count += 1
      }
    } catch {
      case t: Throwable =>
        try writer.close() catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    }
    writer.close()
    WrittenPart(Some(path), count, nulls, firstRows.toSeq)
  }

  /** `row` as the JSON record `Dataset.toJSON` renders for it: a
    * `JacksonGenerator` with no options and the session time zone. */
  private def json(row: InternalRow, schema: StructType, timeZone: String): String = {
    val text = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, text, new JSONOptions(Map.empty[String, String], timeZone))
    gen.write(row)
    gen.close()
    text.toString
  }
}
