package graft.sink

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.SinkConfig

/** Hive-partitioned "bronze" landing writer.
  *
  * Reference layout (app/ingestao_api.py:113-130, app/ingestao_csv.py:90-113):
  * `<base>/<table>/<partition_key>=<YYYYMMDD>/<file>` — one file per
  * partition, `;`-separated CSV, header row, nulls as empty string.
  * Spark produces the identical directory layout natively with
  * `write.partitionBy(key)`.
  *
  * Scale posture: `singleFile = true` mirrors the reference's
  * one-file-per-partition (and gives byte-stable goldens for tests);
  * at 100 TB you set it false — the writer then keeps the upstream
  * parallelism and lands many part files per date partition, and
  * `format = "parquet"` is the right default (columnar, splittable,
  * predicate-pushdown-able on re-read).
  */
object BronzeWriter {

  /** Write one dated partition; returns the path of the written data
    * file (single-file mode) or the partition directory.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      cfg: SinkConfig,
      partitionValue: String,
      singleFile: Boolean = true): String = {
    val partDir = s"${cfg.baseDir}/${cfg.table}/${cfg.partitionKey}=$partitionValue"
    val out = if (singleFile) df.coalesce(1) else df
    val writer = out.write.mode("overwrite")
    cfg.format match {
      case "csv" =>
        writer
          .option("sep", ";")
          .option("header", "true")
          .option("encoding", "UTF-8")
          .option("nullValue", "")
          .option("emptyValue", "")
          .option("lineSep", "\n")
          .csv(partDir)
      case "parquet" => writer.parquet(partDir)
      case other => throw new IllegalArgumentException(s"unsupported bronze format: $other")
    }
    if (singleFile) renameSinglePart(spark, partDir, cfg.fileName) else partDir
  }

  /** Spark names its output `part-*`; the reference names files
    * explicitly (e.g. `users.txt`). Rename the single part file via
    * Hadoop FS for layout parity (SURVEY.md §7.4).
    */
  private def renameSinglePart(spark: SparkSession, dir: String, fileName: String): String = {
    val d = new Path(dir)
    val fs = rawFileSystem(spark, d)
    val parts = fs.listStatus(d).filter(s => s.getPath.getName.startsWith("part-"))
    require(parts.length == 1, s"expected exactly one part file in $dir, found ${parts.length}")
    val target = new Path(d, fileName)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(parts.head.getPath, target))
      throw new java.io.IOException(s"could not rename ${parts.head.getPath} to $target")
    // drop Spark's _SUCCESS marker and crc sidecars for a clean bronze dir
    fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (n == "_SUCCESS" || n.endsWith(".crc")) fs.delete(s.getPath, false)
    }
    target.toString
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
