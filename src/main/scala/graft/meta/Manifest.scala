package graft.meta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cast.Casts
import graft.sink.{BronzeFile, BronzeWriter}

/** Governance manifest sidecar — the engine's dataset-stats surface.
  *
  * Mirrors the reference's three-section manifest (CoreInfo /
  * DatasetInfo / SchemaStats dataclasses, app/utils/metadata.py:52-81,
  * assembled by write_metadata_from_df at :85-150), re-designed for
  * Spark: the row count, ALL per-column null counts and the head-N
  * preview are counted and rendered by the function that writes each
  * part of the bronze file (`BronzeWriter`, `graftshim.PartWriter`),
  * not by N jobs. They cost no extra pass and describe exactly the
  * rows written. [[tableStats]] runs the count expressions as one
  * aggregate over any frame, and [[preview]] takes the preview as its
  * own job; the landings use neither. This is what keeps manifest
  * generation viable at 100 TB.
  */
final case class CoreInfo(
    fileName: String,
    directory: String,
    sizeBytes: Long,
    md5: String,
    generatedAt: String)

final case class DatasetInfo(
    datasetId: String,
    origin: String,
    delimiter: String,
    encoding: String,
    partitionKey: String,
    partitionValue: String,
    runId: String,
    producer: String,
    endpoint: Option[String] = None)

final case class SchemaStats(
    columns: Seq[String],
    dtypes: Map[String, String],
    rows: Long,
    nullCounts: Map[String, Long],
    preview: Seq[String])

final case class Manifest(
    core: CoreInfo,
    dataset: DatasetInfo,
    schemaStats: SchemaStats,
    extra: Map[String, String] = Map.empty)

object Manifest {

  /** Row count + per-column null counts as aggregate expressions, to
    * run in one pass as an aggregate ([[tableStats]]) (reference
    * computes these separately: len(df) at app/utils/metadata.py:122,
    * isna().sum() per column at :32-33). `count` keeps every value 0,
    * never NULL, when no rows flow.
    */
  def statsExprs(columns: Seq[String]): Seq[Column] =
    count(lit(1)).as("rows") +: columns.zipWithIndex.map { case (c, i) =>
      count(when(Casts.literalCol(c).isNull, 1)).as(s"nulls_$i")
    }

  /** Row count and null counts per column from the values of
    * [[statsExprs]]`(columns)`, looked up by alias. */
  def statsOf(columns: Seq[String], value: String => Any): (Long, Map[String, Long]) =
    (value("rows").asInstanceOf[Long],
      columns.zipWithIndex.map { case (c, i) => c -> value(s"nulls_$i").asInstanceOf[Long] }.toMap)

  /** [[statsExprs]] as one aggregate over `df`. */
  def tableStats(df: DataFrame): (Long, Map[String, Long]) = {
    val exprs = statsExprs(df.columns.toIndexedSeq)
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    statsOf(df.columns.toIndexedSeq, row.getAs[Any](_))
  }

  /** Dtype capture is metadata-only — no job
    * (reference app/utils/metadata.py:27-29). */
  def dtypes(df: DataFrame): Map[String, String] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap

  /** Head-N preview as JSON records (reference app/utils/metadata.py:36-38).
    * `head` plans a `CollectLimit`: one job, where `limit(n).collect()`
    * adds a shuffle and a second job under adaptive execution. The
    * landings render the same records as they write them
    * (`BronzeWriter`); this stands alone for frames that are not being
    * written.
    */
  def preview(df: DataFrame, n: Int = 3): Seq[String] =
    df.toJSON.head(n).toIndexedSeq

  /** Streaming MD5 over a file's bytes, 1 MiB chunks — constant memory
    * (reference _md5, app/utils/metadata.py:15-20) — via Hadoop FS so it
    * works against any supported filesystem, not just local disk. The
    * raw file system reads the file's bytes only, not a checksum sidecar.
    */
  def md5OfFile(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = BronzeWriter.rawFileSystem(spark, p)
    val digest = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1024 * 1024)
      var read = in.read(buf)
      while (read > 0) { digest.update(buf, 0, read); read = in.read(buf) }
    } finally in.close()
    digest.digest().map("%02x".format(_)).mkString
  }

  def nowIso(clock: java.time.Clock = java.time.Clock.systemDefaultZone()): String =
    java.time.LocalDateTime.now(clock).truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
      .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)

  /** Assemble the full manifest for a written file, its DataFrame and
    * its row count, null counts and preview; the file's size and MD5
    * are read from the file.
    */
  def forWrittenFile(
      spark: SparkSession,
      df: DataFrame,
      filePath: String,
      dataset: DatasetInfo,
      rows: Long,
      nulls: Map[String, Long],
      preview: Seq[String],
      extra: Map[String, String],
      clock: java.time.Clock): Manifest = {
    val p = new Path(filePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(filePath)
    forBronzeFile(df,
      BronzeFile(filePath, fs.getFileStatus(p).getLen, md5OfFile(spark, filePath), rows, nulls, preview),
      dataset, extra, clock)
  }

  /** [[forWrittenFile]] for a file whose size, MD5 and row statistics
    * its writer took (`BronzeWriter.writeFile`), so the file is not
    * read again.
    */
  def forBronzeFile(
      df: DataFrame,
      file: BronzeFile,
      dataset: DatasetInfo,
      extra: Map[String, String],
      clock: java.time.Clock): Manifest = {
    val p = new Path(file.path)
    Manifest(
      core = CoreInfo(
        fileName = p.getName,
        directory = p.getParent.toString,
        sizeBytes = file.sizeBytes,
        md5 = file.md5,
        generatedAt = nowIso(clock)),
      dataset = dataset,
      schemaStats = SchemaStats(
        columns = df.columns.toIndexedSeq,
        dtypes = dtypes(df),
        rows = file.rows,
        nullCounts = file.nulls,
        preview = file.preview),
      extra = extra)
  }

  /** File-only manifest: no DataFrame — columns come from the header
    * line split by the delimiter, row count = line count − header
    * (reference write_manifest_from_file, app/utils/metadata.py:153-232;
    * unused by the reference pipelines but part of its API surface).
    * Dtypes and null counts are unknown in this mode and left empty.
    */
  def forFileOnly(
      spark: SparkSession,
      filePath: String,
      dataset: DatasetInfo,
      delimiter: String = ";",
      hasHeader: Boolean = true,
      clock: java.time.Clock = java.time.Clock.systemDefaultZone()): Manifest = {
    val p = new Path(filePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(filePath)
    val status = fs.getFileStatus(p)
    val in = fs.open(p)
    val (header, lines) = try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      val first = Option(reader.readLine()).getOrElse("")
      var n = if (first.isEmpty) 0L else 1L
      while (reader.readLine() != null) n += 1
      (first.stripPrefix("﻿"), n)
    } finally in.close()
    val columns =
      if (hasHeader && header.nonEmpty) header.split(java.util.regex.Pattern.quote(delimiter), -1).toSeq
      else Nil
    val rows = if (hasHeader && lines > 0) lines - 1 else lines
    Manifest(
      core = CoreInfo(
        fileName = p.getName,
        directory = p.getParent.toString,
        sizeBytes = status.getLen,
        md5 = md5OfFile(spark, filePath),
        generatedAt = nowIso(clock)),
      dataset = dataset,
      schemaStats = SchemaStats(
        columns = columns,
        dtypes = columns.map(_ -> "unknown").toMap,
        rows = rows,
        nullCounts = columns.map(_ -> -1L).toMap,
        preview = Nil))
  }

  /** Serialize and write `<filePath>.manifest.json` next to the data
    * (reference app/utils/metadata.py:147-150), with no checksum sidecar.
    */
  def write(spark: SparkSession, m: Manifest, filePath: String): String = {
    val target = new Path(filePath + ".manifest.json")
    val fs = BronzeWriter.rawFileSystem(spark, target)
    val out = fs.create(target, true)
    try out.write(toJson(m).getBytes("UTF-8")) finally out.close()
    target.toString
  }

  /** Spark dtype → the pandas dtype name the reference records
    * (reference _pandas_dtypes, app/utils/metadata.py:27-29; its
    * three-type system is Int64 / object / float64 — SURVEY.md §1.2).
    * Types outside the reference's system keep Spark's simpleString.
    */
  def pandasDtypeName(sparkType: String): String = sparkType match {
    case "bigint" | "int" | "smallint" | "tinyint" => "Int64"
    case "string" => "object"
    case "double" | "float" => "float64"
    case other => other
  }

  /** Serialize with the reference's own manifest schema so sidecars are
    * drop-in readable by consumers of the reference format: Portuguese
    * key names (arquivo, tamanho_bytes, colunas, linhas, nulos, origem,
    * delimitador — reference dataclasses app/utils/metadata.py:52-81),
    * the `endpoint` field, JSON `null` for absent optionals, and
    * 2-space-indent layout (json.dump(indent=2), metadata.py:147-150).
    */
  def toJson(m: Manifest): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def js(s: String) = "\"" + esc(s) + "\""
    def jsOpt(s: Option[String]) = s.map(js).getOrElse("null")
    // nested values are rendered with their own absolute pad, so they
    // compose directly (json.dump(indent=2) layout)
    def obj(pairs: Seq[(String, String)], pad: String): String =
      if (pairs.isEmpty) "{}"
      else pairs.map { case (k, v) => s"""$pad  ${js(k)}: $v""" }
        .mkString("{\n", ",\n", s"\n$pad}")
    def arr(items: Seq[String], pad: String): String =
      if (items.isEmpty) "[]"
      else items.map(v => s"$pad  $v").mkString("[\n", ",\n", s"\n$pad]")

    obj(Seq(
      "core" -> obj(Seq(
        "arquivo" -> js(m.core.fileName),
        "diretorio" -> js(m.core.directory),
        "tamanho_bytes" -> m.core.sizeBytes.toString,
        "hash_md5" -> js(m.core.md5),
        "gerado_em" -> js(m.core.generatedAt)), "  "),
      "dataset" -> obj(Seq(
        "dataset" -> js(m.dataset.datasetId),
        "origem" -> js(m.dataset.origin),
        "endpoint" -> jsOpt(m.dataset.endpoint),
        "delimitador" -> js(m.dataset.delimiter),
        "encoding" -> js(m.dataset.encoding),
        "partition_key" -> js(m.dataset.partitionKey),
        "partition_value" -> js(m.dataset.partitionValue),
        "run_id" -> js(m.dataset.runId),
        "producer" -> js(m.dataset.producer)), "  "),
      "schema_stats" -> obj(Seq(
        "colunas" -> arr(m.schemaStats.columns.map(js), "    "),
        "dtypes" -> obj(m.schemaStats.columns.map(c =>
          c -> js(pandasDtypeName(m.schemaStats.dtypes(c)))), "    "),
        "linhas" -> m.schemaStats.rows.toString,
        "nulos" -> obj(m.schemaStats.columns.map(c =>
          c -> m.schemaStats.nullCounts(c).toString), "    "),
        "preview" ->
          (if (m.schemaStats.preview.isEmpty) "null"
           else arr(m.schemaStats.preview, "    "))), "  "),
    ) ++ (if (m.extra.nonEmpty)
            Seq("extra" -> obj(m.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> js(v) }, "  "))
          else Nil), "")
  }
}
