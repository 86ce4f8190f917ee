package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * construction — one Spark job materializes the write and one
  * aggregate job computes the manifest stats.
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
    df.select(cols.map(col).toIndexedSeq: _*).limit(cfg.previewLimit)
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

    val partValue = Casts.todayYyyymmdd(clock)
    val dataFile = BronzeWriter.write(spark, cleaned, cfg.sink, partValue)
    val info = DatasetInfo(
      datasetId = cfg.datasetId,
      origin = cfg.origin,
      delimiter = cfg.csv.map(_.sep).getOrElse(";"),
      encoding = cfg.csv.map(_.encoding).getOrElse("UTF-8"),
      partitionKey = cfg.sink.partitionKey,
      partitionValue = partValue,
      runId = runId,
      producer = "graft")
    val manifest = Manifest.forWrittenFile(spark, cleaned, dataFile, info, clock = clock)
    val manifestFile = Manifest.write(spark, manifest, dataFile)
    IngestionResult(dataFile, manifestFile, manifest.schemaStats.rows, extras)
  }
}
