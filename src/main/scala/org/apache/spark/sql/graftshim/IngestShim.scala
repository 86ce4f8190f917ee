package org.apache.spark.sql.graftshim

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, CharArrayWriter, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.json.SchemaOfJsonEvaluator
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonGenerator, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, GenericArrayData}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The driver-side halves of Spark's CSV and JSON readers, and a
  * first-rows aggregate for `Observation`s. Each mirrors a step that
  * Spark runs as a job (header inference, JSON schema inference,
  * `toJSON.head`) with the same internal code, so the results are the
  * ones the job would give.
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

  /** Aggregate column: the `n` rows with the smallest `key`, each as
    * the JSON record `Dataset.toJSON` renders for it (NULL fields left
    * out), in key order. `row` is a struct of the columns to render;
    * it is evaluated only for rows that enter the kept set. See
    * [[FirstRowsJson]].
    */
  def firstRowsJson(spark: SparkSession, key: Column, row: Column, n: Int): Column =
    ColumnShim.column(FirstRowsJson(ColumnShim.expression(key), ColumnShim.expression(row), n,
      classic(spark).sessionState.conf.sessionLocalTimeZone).toAggregateExpression())
}

/** Keeps the `n` (key, row) pairs with the smallest keys; renders them
  * as JSON records once, at the final evaluation. Each partition's
  * buffer holds at most `n` rows, so the aggregate's memory and the
  * bytes each task ships back are bounded by `n`, whatever the input
  * size. The rendering is `Dataset.toJSON`'s: one `JacksonGenerator`
  * per record, `JSONOptions` with no options and the session time zone.
  */
case class FirstRowsJson(
    key: Expression,
    row: Expression,
    n: Int,
    timeZoneId: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, InternalRow)]]
  with BinaryLike[Expression] {

  override def left: Expression = key
  override def right: Expression = row
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "first_rows_json"

  private def rowType: StructType = row.dataType.asInstanceOf[StructType]
  @transient private lazy val toUnsafe = UnsafeProjection.create(rowType)

  override def createAggregationBuffer(): ArrayBuffer[(Long, InternalRow)] = ArrayBuffer.empty

  private def keep(buffer: ArrayBuffer[(Long, InternalRow)], k: Long): Boolean =
    buffer.length < n || k < buffer.iterator.map(_._1).max

  private def add(buffer: ArrayBuffer[(Long, InternalRow)], entry: (Long, InternalRow)) = {
    buffer += entry
    if (buffer.length > n) buffer.remove(buffer.indices.maxBy(buffer(_)._1))
    buffer
  }

  override def update(buffer: ArrayBuffer[(Long, InternalRow)], input: InternalRow) = {
    val k = key.eval(input).asInstanceOf[Long]
    if (keep(buffer, k)) add(buffer, k -> row.eval(input).asInstanceOf[InternalRow].copy())
    else buffer
  }

  override def merge(buffer: ArrayBuffer[(Long, InternalRow)], other: ArrayBuffer[(Long, InternalRow)]) =
    other.foldLeft(buffer)((b, e) => if (keep(b, e._1)) add(b, e) else b)

  override def eval(buffer: ArrayBuffer[(Long, InternalRow)]): Any = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId)
    new GenericArrayData(buffer.sortBy(_._1).map { case (_, r) =>
      val writer = new CharArrayWriter()
      val gen = new JacksonGenerator(rowType, writer, options)
      gen.write(r)
      gen.close()
      UTF8String.fromString(writer.toString)
    }.toArray[Any])
  }

  override def serialize(buffer: ArrayBuffer[(Long, InternalRow)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buffer.length)
    buffer.foreach { case (k, r) =>
      val unsafe = toUnsafe(r).getBytes
      out.writeLong(k)
      out.writeInt(unsafe.length)
      out.write(unsafe)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, InternalRow)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    ArrayBuffer.fill(in.readInt()) {
      val k = in.readLong()
      val unsafe = new Array[Byte](in.readInt())
      in.readFully(unsafe)
      val r = new UnsafeRow(rowType.length)
      r.pointTo(unsafe, unsafe.length)
      k -> (r: InternalRow)
    }
  }

  override def withNewMutableAggBufferOffset(offset: Int): FirstRowsJson =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FirstRowsJson =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FirstRowsJson =
    copy(key = newLeft, row = newRight)
}
