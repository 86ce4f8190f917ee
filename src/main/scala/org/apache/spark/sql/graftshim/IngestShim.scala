package org.apache.spark.sql.graftshim

import scala.util.control.NonFatal
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.json.SchemaOfJsonEvaluator
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The driver-side halves of Spark's CSV and JSON readers. Each
  * mirrors a step that Spark runs as a job (header inference, JSON
  * schema inference) with the same internal code, so the results are
  * the ones the job would give.
  */
object IngestShim {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The schema Spark's multi-line CSV reader infers with
    * `inferSchema=false`: every column a string, named from the first
    * record of the first file that has one (`MultiLineCSVDataSource.infer`
    * tokenizes with the same univocity settings, encoding and BOM
    * handling), made safe by `CSVUtils.makeSafeHeader` (`_c<i>` for
    * empty names and `header=false`, an index suffix on duplicates
    * under the session's case sensitivity). Reads that record on the
    * driver, so no job runs. No file: Spark's "unable to infer" error;
    * no record in any file: an empty schema, as Spark gives.
    */
  def csvStringSchema(spark: SparkSession, files: Seq[String], options: Map[String, String]): StructType = {
    if (files.isEmpty) throw QueryCompilationErrors.dataSchemaNotSpecifiedError("CSV")
    val state = classic(spark).sessionState
    val conf = state.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val hadoopConf = state.newHadoopConfWithOptions(options)
    def firstRecord(file: String): Option[Array[String]] = {
      val tokenizer = new CsvParser(parsed.asParserSettings)
      val in = CodecStreams.createInputStream(hadoopConf, new Path(new java.net.URI(file)))
      try UnivocityParser.tokenizeStream(in, shouldDropHeader = false, tokenizer, parsed.charset)
        .take(1).toList.headOption
      finally { tokenizer.stopParsing(); in.close() }
    }
    files.iterator.map(firstRecord).collectFirst { case Some(r) => r } match {
      case Some(record) =>
        StructType(CSVUtils.makeSafeHeader(record, conf.caseSensitiveAnalysis, parsed).toIndexedSeq
          .map(StructField(_, StringType)))
      case None => StructType(Nil)
    }
  }

  /** `json` parsed on the driver into a local frame (`LocalRelation`)
    * with the columns and values `spark.read.json` gives for a
    * one-record Dataset, from the same internal code:
    *  - `JsonInferSchema.inferField` and `compatibleRootType`, as the
    *    reader merges its one record: an object or an array of objects
    *    gives a struct, `[]` and `null` an empty one, anything else
    *    (or JSON that does not parse) the corrupt-record column;
    *  - `schema_of_json`'s evaluator, for a struct with fields, to
    *    canonicalize it as the reader does (fields sorted, integers
    *    `bigint`, all-NULL fields `string`, empty structs dropped);
    *  - `JacksonParser` behind a `FailureSafeParser` for the rows, a
    *    root array's elements as rows.
    */
  def jsonFrame(spark: SparkSession, json: String): DataFrame = {
    val conf = classic(spark).sessionState.conf
    val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val corrupt = options.columnNameOfCorruptRecord
    val unparseable = StructType(Seq(StructField(corrupt, StringType)))
    val root =
      try {
        val parser = CreateJacksonParser.string(options.buildJsonFactory(), json)
        val recordType = try { parser.nextToken(); new JsonInferSchema(options).inferField(parser) }
          finally parser.close()
        JsonInferSchema.compatibleRootType(corrupt, options.parseMode)(StructType(Nil), recordType)
      } catch { case NonFatal(_) => unparseable }
    def rowStruct(t: DataType): StructType = t match {
      case s: StructType => s
      case ArrayType(element, _) => rowStruct(element)
      case _ => StructType(Nil)
    }
    val schema = root match {
      case s: StructType if s.isEmpty || s.fieldNames.toSeq == Seq(corrupt) => s
      case _ => rowStruct(DataType.fromDDL(
        SchemaOfJsonEvaluator(Map.empty).evaluate(UTF8String.fromString(json)).toString))
    }
    val rawParser = new JacksonParser(StructType(schema.filterNot(_.name == corrupt)), options,
      allowArrayAsStructs = true)
    val parser = new FailureSafeParser[String](
      rawParser.parse(_, CreateJacksonParser.string, UTF8String.fromString),
      options.parseMode, schema, corrupt)
    val rows = parser.parse(json).map(_.copy()).toIndexedSeq
    ColumnShim.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
