package graft.sink

import java.security.MessageDigest
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.{PartWriter, WrittenPart}
import graft.config.SinkConfig

/** A landed bronze file: its path, size and MD5 (hex), and the row
  * count, NULL count per column and first rows (as JSON records) of the
  * rows written to it. */
final case class BronzeFile(
    path: String,
    sizeBytes: Long,
    md5: String,
    rows: Long,
    nulls: Map[String, Long],
    preview: Seq[String])

/** Hive-partitioned "bronze" landing writer.
  *
  * Reference layout (app/ingestao_api.py:113-130, app/ingestao_csv.py:90-113):
  * `<base>/<table>/<partition_key>=<YYYYMMDD>/<file>` — one file per
  * partition, `;`-separated CSV, header row, nulls as empty string.
  *
  * Every landing goes through one part writer (`graftshim.PartWriter`):
  * it replaces the partition directory, as Spark's `overwrite` mode
  * does, and each partition of the frame writes a part with Spark's own
  * output writer for the format and reports its row count, NULL counts
  * and first rows. A frame whose rows are already on the driver (a
  * parsed API payload) is written there, with no Spark job; any other
  * frame takes one job. The parts the write reports are kept; any other
  * part in the directory, from a failed task attempt, is deleted. A
  * speculative attempt that lost its race but is still writing when the
  * clean-up runs may leave its part behind.
  *
  * Scale posture: single-file mode mirrors the reference's
  * one-file-per-partition (and gives byte-stable goldens for tests).
  * A CSV landing keeps the frame's parallelism: each partition's task
  * writes its own part, and the driver joins the parts, in partition
  * order, into the one named file ([[writeFile]]). That join is a
  * serial copy of the bytes on the driver; at 100 TB you set
  * `singleFile` false — the writer then lands the parts as they are,
  * and `format = "parquet"` is the right default (columnar,
  * splittable, predicate-pushdown-able on re-read).
  */
object BronzeWriter {

  private val CsvWriteOptions = Map(
    "sep" -> ";",
    "header" -> "true",
    "encoding" -> "UTF-8",
    "nullValue" -> "",
    "emptyValue" -> "",
    "lineSep" -> "\n")

  /** Write one dated partition; returns the path of the written data
    * file (single-file mode, see [[writeFile]]) or the partition
    * directory, which then holds the parts.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      cfg: SinkConfig,
      partitionValue: String,
      singleFile: Boolean = true): String =
    if (singleFile) writeFile(spark, df, cfg, partitionValue).path
    else {
      val dir = dirOf(cfg, partitionValue)
      val parts = writeParts(spark, df, cfg, dir, onePart = false).flatMap(_.path)
      keepOnly(spark, dir, parts.map(new Path(_).getName).toSet)
      dir
    }

  /** Write one dated partition as the one file `cfg.fileName`, with the
    * file's size and MD5, taken while its bytes are joined, and the
    * statistics of its rows.
    *
    * A CSV frame keeps its partitions, and each writes one part;
    * partition 0's, which is written even when it is empty, starts with
    * the header line. That part takes the other parts' bytes appended
    * in partition order, and is then renamed to `cfg.fileName`. The
    * file holds the bytes a one-task write of the same rows gives. A
    * Parquet frame is written as one part, as parts of it do not join.
    * A frame with more than one non-empty partition needs a file system
    * that can append.
    */
  def writeFile(spark: SparkSession, df: DataFrame, cfg: SinkConfig, partitionValue: String): BronzeFile = {
    val dir = dirOf(cfg, partitionValue)
    val parts = writeParts(spark, df, cfg, dir, onePart = cfg.format != "csv")
    val target = new Path(new Path(dir), cfg.fileName)
    val (size, md5) = joinParts(spark, parts.flatMap(_.path).map(new Path(_)), target)
    keepOnly(spark, dir, Set(cfg.fileName))
    val nulls = df.columns.indices.map(i => parts.map(_.nulls(i)).sum)
    BronzeFile(target.toString, size, md5, parts.map(_.rows).sum, df.columns.zip(nulls).toMap,
      parts.flatMap(_.firstRows).take(3))
  }

  private def dirOf(cfg: SinkConfig, partitionValue: String) =
    s"${cfg.baseDir}/${cfg.table}/${cfg.partitionKey}=$partitionValue"

  /** `df` written as parts into `dir`, which is emptied first; the
    * frame is checked, and an unsupported format refused, before
    * anything in `dir` is touched.
    */
  private def writeParts(spark: SparkSession, df: DataFrame, cfg: SinkConfig, dir: String,
      onePart: Boolean): Seq[WrittenPart] = {
    val writer = cfg.format match {
      case "csv" => new PartWriter(df, new CSVFileFormat, CsvWriteOptions, onePart)
      case "parquet" => new PartWriter(df, new ParquetFileFormat, Map.empty, onePart)
      case other => throw new IllegalArgumentException(s"unsupported bronze format: $other")
    }
    val d = new Path(dir)
    rawFileSystem(spark, d).delete(d, true)
    writer.write(dir)
  }

  /** Join `parts`, in order, into the first (see [[writeFile]]), then
    * rename it via Hadoop FS for layout parity (SURVEY.md §7.4).
    * Returns the joined file's size and MD5.
    */
  private def joinParts(spark: SparkSession, parts: Seq[Path], target: Path): (Long, String) = {
    val fs = rawFileSystem(spark, target)
    val digest = MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1024 * 1024)
    // every byte read from `in` into the digest, and to `out` if given
    def pass(in: java.io.InputStream, out: Option[java.io.OutputStream]): Long = {
      var total = 0L
      var read = in.read(buf)
      while (read >= 0) {
        digest.update(buf, 0, read)
        out.foreach(_.write(buf, 0, read))
        total += read
        read = in.read(buf)
      }
      total
    }
    val first = fs.open(parts.head)
    var size = try pass(first, None) finally first.close()
    if (parts.length > 1) {
      val out = fs.append(parts.head)
      try parts.tail.foreach { p =>
        val in = fs.open(p)
        try size += pass(in, Some(out)) finally in.close()
      } finally out.close()
    }
    if (!fs.rename(parts.head, target))
      throw new java.io.IOException(s"could not rename ${parts.head} to $target")
    (size, digest.digest().map("%02x".format(_)).mkString)
  }

  /** Delete every entry of `dir` not named in `names`: joined parts,
    * parts of failed task attempts and the writer's checksum sidecars,
    * so a bronze directory holds only what the landing keeps. */
  private def keepOnly(spark: SparkSession, dir: String, names: Set[String]): Unit = {
    val d = new Path(dir)
    val fs = rawFileSystem(spark, d)
    fs.listStatus(d).map(_.getPath).filterNot(p => names(p.getName)).foreach(fs.delete(_, true))
  }

  /** `path`'s file system without a checksum layer. The local file
    * system is a `ChecksumFileSystem`: it writes a hidden `.<name>.crc`
    * beside each file it creates, hides those from `listStatus`, and
    * reads them along with the file on `open`. A bronze directory holds
    * only the data file and its manifest, so the landing steps after
    * the parts are written go through the raw file system. The checksum
    * instance is cached and shared, so it is not reconfigured instead.
    */
  private[graft] def rawFileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }
}
