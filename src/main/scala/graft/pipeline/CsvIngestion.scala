package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.sink.BronzeWriter
import graft.sources.CsvSource
import graft.validate.Validate

/** End-to-end delimited-file ingestion (reference pipeline 2,
  * app/ingestao_csv.py:24-127): all-string scan → header normalization
  * → required-column gate → extras warning → declared casts → dtype
  * gate → preview → partitioned bronze write → manifest sidecar.
  *
  * Unlike the reference, every step up to the write is LAZY plan
  * construction, and the run is ONE Spark job: the driver reads the
  * header and proves where the file may be cut (`CsvSource`), and the
  * job parses and writes each byte range in its own task, which
  * reports the manifest's row count, null counts and first rows for
  * its part. The driver then joins the tasks' parts into the bronze
  * file, taking its size and MD5 as it goes (`BronzeWriter.writeFile`).
  */
final case class IngestionResult(
    dataFile: String,
    manifestFile: String,
    rows: Long,
    undeclaredColumns: Seq[String])

object CsvIngestion {

  /** Build the cleaned, validated frame without writing — the pipeline's
    * query surface, also used by tests.
    */
  def prepare(spark: SparkSession, cfg: PipelineConfig): (DataFrame, Seq[String]) = {
    val csvCfg = cfg.csv.getOrElse(throw new IllegalArgumentException("config has no csv section"))
    val cast = conform(CsvSource.read(spark, csvCfg), cfg, cfg.schema.requiredColumns)
    (cast, Validate.undeclaredColumns(cast, cfg.schema.declared))
  }

  /** The sequence both pipelines run on their raw frame: rename per
    * config → `required` gate → declared casts → dtype gate. Casts keep
    * every column name, so callers may inspect names on the result.
    */
  private[pipeline] def conform(raw: DataFrame, cfg: PipelineConfig, required: Seq[String]): DataFrame = {
    val s = cfg.schema
    val renamed = Casts.renameColumns(raw, s.renameMap)
    Validate.ensureRequiredColumns(renamed, required)
    val cast = Casts.applyCasts(renamed, s.integerFields, s.stringFields, s.floatFields)
    Validate.checkDtypes(cast, s.integerFields, s.stringFields, s.floatFields)
    cast
  }

  /** Preview projection + limit (reference app/ingestao_csv.py:80-88). */
  def previewDf(df: DataFrame, cfg: PipelineConfig): DataFrame = {
    val cols = Validate.ensureProjectable(df, cfg.previewColumns)
    df.select(cols.map(Casts.literalCol).toIndexedSeq: _*).limit(cfg.previewLimit)
  }

  def run(
      spark: SparkSession,
      cfg: PipelineConfig,
      runId: String = java.util.UUID.randomUUID().toString,
      clock: java.time.Clock = java.time.Clock.systemDefaultZone(),
      showPreview: Boolean = false): IngestionResult = {
    val (cleaned, extras) = prepare(spark, cfg)
    if (extras.nonEmpty)
      System.err.println(s"[csv-ingestion] undeclared columns kept: ${extras.mkString(", ")}")
    if (showPreview && cfg.previewColumns.nonEmpty) previewDf(cleaned, cfg).show(truncate = false)

    land(spark, cleaned, cfg, Casts.todayYyyymmdd(clock), runId, clock).copy(undeclaredColumns = extras)
  }

  /** Land `df` as one bronze file plus its manifest sidecar: the steps
    * both pipelines end with, in at most one Spark job (none for a frame
    * whose rows are on the driver). The manifest's row count, null
    * counts and preview come from the parts' writers, so they describe
    * exactly the rows written and cost no second pass over the source;
    * the file's size and MD5 come from the join, so the file is not
    * read again.
    */
  private[pipeline] def land(
      spark: SparkSession,
      df: DataFrame,
      cfg: PipelineConfig,
      partValue: String,
      runId: String,
      clock: java.time.Clock,
      endpoint: Option[String] = None,
      extra: Map[String, String] = Map.empty): IngestionResult = {
    // Retry-safe: the statistics come from the job's results, one per
    // partition, from the attempt whose part is kept.
    val file = BronzeWriter.writeFile(spark, df, cfg.sink, partValue)
    val info = DatasetInfo(
      datasetId = cfg.datasetId,
      origin = cfg.origin,
      delimiter = cfg.csv.map(_.sep).getOrElse(";"),
      encoding = cfg.csv.map(_.encoding).getOrElse("UTF-8"),
      partitionKey = cfg.sink.partitionKey,
      partitionValue = partValue,
      runId = runId,
      producer = "graft",
      endpoint = endpoint)
    val manifest = Manifest.forBronzeFile(df, file, info, extra, clock)
    IngestionResult(file.path, Manifest.write(spark, manifest, file.path), file.rows, Nil)
  }
}
