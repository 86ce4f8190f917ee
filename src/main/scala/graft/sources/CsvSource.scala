package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.IngestShim
import org.apache.spark.sql.types.StructType
import graft.config.CsvReadConfig

/** Delimited-file scan, schema-on-read as ALL STRING.
  *
  * Mirrors the reference's `pd.read_csv(dtype=str)` posture
  * (app/ingestao_csv.py:33-44): no type inference — the explicit cast
  * layer (graft.cast.Casts) owns typing. Inference would both diverge
  * (e.g. "44" → int where the declared float cast yields 44.0) and cost
  * a second full scan of the data — at 100 TB that scan is real money.
  *
  * `multiLine=true` because quoted fields may embed delimiters AND
  * newlines (QUOTE_MINIMAL inputs; reference golden posts.txt:2-5).
  * Spark's CSV reader strips a UTF-8 BOM natively.
  *
  * `read` runs no Spark job. Left to itself, Spark takes the header
  * names in a job that, with `multiLine`, buffers about 1 MiB of the
  * file to return one record. Here the driver reads that first record
  * through the Hadoop file system with Spark's own tokenizer and
  * naming rules (`IngestShim.csvStringSchema`), and the reader gets the
  * resulting all-string schema. The header comes from the first file,
  * in path order, that holds a record.
  */
object CsvSource {
  def read(spark: SparkSession, cfg: CsvReadConfig): DataFrame = {
    val options = Map(
      "sep" -> cfg.sep,
      "encoding" -> cfg.encoding,
      "header" -> cfg.header.toString,
      "inferSchema" -> "false",
      "multiLine" -> "true",
      "quote" -> "\"",
      "escape" -> "\"")
    def withSchema(schema: StructType) = spark.read.options(options).schema(schema).csv(cfg.path)
    // Spark's own file listing (globs, hidden files, directories); the
    // declared empty schema keeps it from inferring one
    val files = withSchema(StructType(Nil)).inputFiles.sorted.toIndexedSeq
    withSchema(IngestShim.csvStringSchema(spark, files, options))
  }
}
