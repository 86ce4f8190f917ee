package org.apache.spark.sql.graftshim

import java.io.InputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._
import com.google.common.io.ByteStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.execution.datasources.{CodecStreams, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bytes `[start, end)` of the file at URI `path`, parsed by one task.
  * `end < 0` means the whole file, read through its compression codec
  * as Spark's multi-line CSV reader reads it.
  */
final case class CsvRange(path: String, start: Long, end: Long)

/** Spark's multi-line CSV read, one task per byte range instead of
  * one per file. Each range
  * goes through `UnivocityParser.parseStream` with the reader's own
  * options, so a range that starts at a record parses to the rows the
  * whole-file parse gives for those bytes.
  */
object CsvRanges {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def csvOptions(spark: SparkSession, options: Map[String, String]): CSVOptions = {
    val conf = classic(spark).sessionState.conf
    new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }

  /** The data files a file-source frame scans, with their sizes, in the
    * order its scan reads them. `FileSourceScanExec` lists the files
    * (non-empty ones only), stably sorts them by size, largest first,
    * and packs them into partitions in that order; a file that cannot
    * be split is one piece. So a frame that cannot split its files
    * reads them, partition after partition, in this order.
    */
  def scanFiles(df: DataFrame): Seq[(String, Long)] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
          .sortBy(_.getLen)(Ordering[Long].reverse)
          .map(f => f.getPath.toUri.toString -> f.getLen)
    }.getOrElse(Nil)

  /** The configurations broadcast last, by context and entries: a
    * landing broadcasts one for its read and one for its write. */
  private val recentConfs =
    new AtomicReference(List.empty[(SparkContext, Map[String, String], Broadcast[SerializableConfiguration])])

  /** `conf` broadcast on `sc`: one of the last few broadcasts whose
    * entries are the same, when there is one, as serializing and
    * storing one takes about as long as the rest of planning a read. */
  private[graftshim] def broadcastConf(sc: SparkContext, conf: Configuration): Broadcast[SerializableConfiguration] = {
    val entries = conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    recentConfs.get.collectFirst { case (`sc`, `entries`, b) => b }.getOrElse {
      val b = sc.broadcast(new SerializableConfiguration(conf))
      recentConfs.getAndUpdate(l => ((sc, entries, b) :: l).take(4))
      b
    }
  }

  /** A frame of `schema` over `ranges`, one partition per range in the
    * given order. A range that starts a file skips its header when
    * `options` says the files have one; the others parse every record.
    * The Hadoop configuration is the one Spark's reader builds from
    * `options`.
    */
  def frame(spark: SparkSession, ranges: Seq[CsvRange], schema: StructType,
      options: Map[String, String]): DataFrame = {
    val atStart = csvOptions(spark, options)
    val inside = csvOptions(spark, options + ("header" -> "false"))
    val conf = broadcastConf(spark.sparkContext, classic(spark).sessionState.newHadoopConfWithOptions(options))
    val rows = spark.sparkContext.parallelize(ranges, ranges.length).mapPartitions(_.flatMap { r =>
      parse(r, if (r.start == 0) atStart else inside, conf.value.value, schema)
    })
    ColumnShim.internalCreateDataFrame(spark, rows, schema)
  }

  private def parse(r: CsvRange, options: CSVOptions, conf: Configuration,
      schema: StructType): Iterator[InternalRow] = {
    val path = new Path(new URI(r.path))
    val task = TaskContext.get()
    // bytes this thread reads through Hadoop file systems from here
    // on, reported as the task's input like a file scan does
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    val inputMetrics = task.taskMetrics().inputMetrics
    val before = inputMetrics.bytesRead
    val in: InputStream =
      if (r.end < 0) CodecStreams.createInputStreamWithCloseResource(conf, path)
      else {
        val file = path.getFileSystem(conf).open(path)
        task.addTaskCompletionListener[Unit](_ => file.close())
        file.seek(r.start)
        ByteStreams.limit(file, r.end - r.start)
      }
    task.addTaskCompletionListener[Unit](_ => inputMetrics.setBytesRead(before + bytesRead()))
    val parser = new UnivocityParser(schema, schema, options)
    val header = new CSVHeaderChecker(schema, options, s"CSV file: $path", r.start == 0)
    UnivocityParser.parseStream(in, parser, header, schema)
  }
}
