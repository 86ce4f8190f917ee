package graft.sink

import java.security.MessageDigest
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.CsvRanges
import graft.config.SinkConfig

/** A landed bronze file: its path, size and MD5 (hex). */
final case class BronzeFile(path: String, sizeBytes: Long, md5: String)

/** Hive-partitioned "bronze" landing writer.
  *
  * Reference layout (app/ingestao_api.py:113-130, app/ingestao_csv.py:90-113):
  * `<base>/<table>/<partition_key>=<YYYYMMDD>/<file>` — one file per
  * partition, `;`-separated CSV, header row, nulls as empty string.
  * Spark produces the identical directory layout natively with
  * `write.partitionBy(key)`.
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
    * directory.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      cfg: SinkConfig,
      partitionValue: String,
      singleFile: Boolean = true): String =
    if (singleFile) writeFile(spark, df, cfg, partitionValue).path
    else {
      val partDir = dirOf(cfg, partitionValue)
      save(df, cfg, partDir)
      partDir
    }

  /** Write one dated partition as the one file `cfg.fileName`, with the
    * file's size and MD5, taken while its bytes are joined.
    *
    * A CSV frame keeps its partitions, and each task writes one part:
    * the header line, then its rows. The lowest-numbered part, that of
    * partition 0, which Spark writes even when it is empty, takes the
    * other parts' rows appended in partition order, each part's header
    * left out, and is then renamed to `cfg.fileName`. The file holds
    * the bytes a one-task write of the same rows gives. A Parquet
    * frame is written by one task, as parts of it do not join. A frame
    * with more than one non-empty partition needs a file system that
    * can append.
    */
  def writeFile(spark: SparkSession, df: DataFrame, cfg: SinkConfig, partitionValue: String): BronzeFile = {
    val partDir = dirOf(cfg, partitionValue)
    save(if (cfg.format == "csv") df else df.coalesce(1), cfg, partDir)
    joinParts(spark, partDir, cfg.fileName, CsvRanges.headerBytes(spark, df.schema, CsvWriteOptions))
  }

  private def dirOf(cfg: SinkConfig, partitionValue: String) =
    s"${cfg.baseDir}/${cfg.table}/${cfg.partitionKey}=$partitionValue"

  private def save(df: DataFrame, cfg: SinkConfig, partDir: String): Unit = {
    val writer = df.write.mode("overwrite")
    cfg.format match {
      case "csv" => writer.options(CsvWriteOptions).csv(partDir)
      case "parquet" => writer.parquet(partDir)
      case other => throw new IllegalArgumentException(s"unsupported bronze format: $other")
    }
  }

  /** Spark names its output `part-<partition>-…`; the reference names
    * files explicitly (e.g. `users.txt`). Join the parts into the first
    * (see [[writeFile]]; a later part must start with `header`), then
    * rename it via Hadoop FS for layout parity (SURVEY.md §7.4).
    */
  private def joinParts(spark: SparkSession, dir: String, fileName: String, header: => Array[Byte]): BronzeFile = {
    val d = new Path(dir)
    val fs = rawFileSystem(spark, d)
    val parts = fs.listStatus(d).map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(p => (p.getName.stripPrefix("part-").takeWhile(_.isDigit).toLong, p.getName))
    require(parts.nonEmpty, s"expected a part file in $dir, found none")
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
      val head = header
      val out = fs.append(parts.head)
      try parts.tail.foreach { p =>
        val in = fs.open(p)
        try {
          if (!java.util.Arrays.equals(in.readNBytes(head.length), head))
            throw new java.io.IOException(s"$p does not start with the header line of ${parts.head}")
          size += pass(in, Some(out))
        } finally in.close()
      } finally out.close()
      parts.tail.foreach(fs.delete(_, false))
    }
    val target = new Path(d, fileName)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(parts.head, target))
      throw new java.io.IOException(s"could not rename ${parts.head} to $target")
    // drop Spark's _SUCCESS marker and crc sidecars for a clean bronze dir
    fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (n == "_SUCCESS" || n.endsWith(".crc")) fs.delete(s.getPath, false)
    }
    BronzeFile(target.toString, size, digest.digest().map("%02x".format(_)).mkString)
  }

  /** `path`'s file system without a checksum layer. The local file
    * system is a `ChecksumFileSystem`: it writes a hidden `.<name>.crc`
    * beside each file it creates, hides those from `listStatus`, and
    * reads them along with the file on `open`. A bronze directory holds
    * only the data file and its manifest, so the landing steps after
    * the Spark write go through the raw file system. The checksum
    * instance is cached and shared, so it is not reconfigured instead.
    */
  private[graft] def rawFileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }
}
