package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.meta.{CoreInfo, DatasetInfo, Manifest, SchemaStats}

/** What one bronze landing (data file plus manifest) must contain,
  * derived from the generator, and the checks against it.
  */
final class Landing(label: String, rows: Long, nulls: Map[String, Long], extra: Map[String, String]) {
  private var firstMd5: Option[String] = None

  /** Bronze plus manifest bytes found by the last check. */
  var bytes = 0L

  /** Bronze bytes found by all checks so far. */
  var totalDataBytes = 0L

  def check(dataFile: String, reportedRows: Long): Seq[String] = {
    val data = Landing.local(dataFile)
    val manifestFile = Paths.get(data.toString + ".manifest.json")
    val m = Json.read(manifestFile)
    val md5 = Fs.md5(data)
    val dataBytes = Files.size(data)
    totalDataBytes += dataBytes
    bytes = dataBytes + Files.size(manifestFile)
    val stats = m.get("schema_stats")
    val gotNulls = stats.get("nulos").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    val gotExtra = Option(m.get("extra")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText())).toMap
    val problems = Seq(
      (reportedRows == rows) -> s"result rows $reportedRows, expected $rows",
      (stats.get("linhas").asLong() == rows) -> s"linhas ${stats.get("linhas")}, expected $rows",
      (gotNulls == nulls) -> s"nulos $gotNulls, expected $nulls",
      (gotExtra == extra) -> s"extra $gotExtra, expected $extra",
      (m.get("core").get("hash_md5").asText() == md5) ->
        s"hash_md5 ${m.get("core").get("hash_md5")} but the bronze file hashes to $md5",
      firstMd5.forall(_ == md5) -> s"bronze md5 $md5 differs from the run's first ${firstMd5.getOrElse("")}",
    ).collect { case (false, msg) => s"$label: $msg" }
    if (firstMd5.isEmpty) firstMd5 = Some(md5)
    problems
  }
}

object Landing {
  /** Fixed clock and run id, so every operation of a run writes the same bytes. */
  val Clock: java.time.Clock =
    java.time.Clock.fixed(java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)
  val RunId = "perfbench"

  def local(file: String): Path = Paths.get(new org.apache.hadoop.fs.Path(file).toUri.getPath)

  /** Bytes read so far through Hadoop's local file system, by every
    * thread of this JVM; no Spark job runs while the manifest's md5 is
    * taken, so the growth across that call is what it read.
    */
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** `Manifest.forWrittenFile` and `Manifest.write`, one span per call. */
  def replayManifest(
      spark: SparkSession,
      tr: Tracer,
      df: DataFrame,
      dataFile: String,
      info: DatasetInfo,
      extra: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dataFile)
    val (rows, nulls) = tr.span("meta.Manifest.tableStats")(Manifest.tableStats(df))
    val read0 = localBytesRead()
    val md5 = tr.span("meta.Manifest.md5OfFile")(Manifest.md5OfFile(spark, dataFile))
    tr.count("meta.md5_bytes", (localBytesRead() - read0).toDouble)
    val preview = tr.span("meta.Manifest.preview")(Manifest.preview(df))
    val m = Manifest(
      core = CoreInfo(p.getName, p.getParent.toString, Files.size(local(dataFile)), md5,
        Manifest.nowIso(Clock)),
      dataset = info,
      schemaStats = SchemaStats(df.columns.toIndexedSeq, Manifest.dtypes(df), rows, nulls, preview),
      extra = extra)
    tr.span("meta.Manifest.write")(Manifest.write(spark, m, dataFile))
  }
}
