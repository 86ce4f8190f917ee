package graft.sources

import java.io.InputStream
import java.nio.charset.Charset
import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.{CsvRange, CsvRanges, IngestShim}
import org.apache.spark.sql.types.StructType
import graft.config.CsvReadConfig
import graft.sink.BronzeWriter

/** Delimited-file scan, schema-on-read as ALL STRING.
  *
  * Mirrors the reference's `pd.read_csv(dtype=str)` posture
  * (app/ingestao_csv.py:33-44): no type inference — the explicit cast
  * layer (graft.cast.Casts) owns typing. Inference would both diverge
  * (e.g. "44" → int where the declared float cast yields 44.0) and cost
  * a second full scan of the data — at 100 TB that scan is real money.
  *
  * The rows are those of Spark's reader with `multiLine=true`, because
  * quoted fields may embed delimiters AND newlines (QUOTE_MINIMAL
  * inputs; reference golden posts.txt:2-5). Spark's CSV reader strips
  * a UTF-8 BOM natively.
  *
  * `multiLine` parses each file in one task. Here a file of at least
  * two [[MinRangeBytes]] is cut into up to `defaultParallelism` byte
  * ranges, one task each, when one pass over its bytes on the driver
  * proves that every cut starts a record (see [[recordStarts]]); the
  * tasks run Spark's own parser on their range
  * (`graftshim.CsvRanges`), and only the first range of a file skips
  * its header. A file the pass cannot prove, a compressed file, and
  * an encoding or `sep` in which `"`, `sep`, `\r` and `\n` are not
  * single ASCII bytes keep the one-task, whole-file parse. The frame
  * has one partition per range, in the order Spark's reader reads the
  * files, so its rows come in the same order.
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

  /** The smallest range worth a task of its own: below it the fixed
    * cost of a task outweighs its parse. */
  val MinRangeBytes: Long = 256L * 1024

  /** The minimum range size `read` uses; tests lower it to cut small
    * files. */
  private[graft] val minRangeBytes = new scala.util.DynamicVariable[Long](MinRangeBytes)

  /** Encodings in which every byte below 0x80 is the ASCII character
    * and never part of another character. */
  private val AsciiCompatible = Set("UTF-8", "US-ASCII", "ISO-8859-1", "ISO-8859-15", "windows-1252")

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
    val listed = withSchema(StructType(Nil))
    val schema = IngestShim.csvStringSchema(spark, listed.inputFiles.sorted.toIndexedSeq, options)
    val ranges =
      if (schema.isEmpty || schema.fieldNames.contains(spark.conf.get("spark.sql.columnNameOfCorruptRecord"))) Nil
      else CsvRanges.scanFiles(listed).flatMap { case (file, size) => fileRanges(spark, cfg, file, size) }
    if (ranges.exists(_.end >= 0)) CsvRanges.frame(spark, ranges, schema, options) else withSchema(schema)
  }

  /** `file`'s ranges: cut where [[recordStarts]] proves records start,
    * or the whole file. */
  private def fileRanges(spark: SparkSession, cfg: CsvReadConfig, file: String, size: Long): Seq[CsvRange] = {
    val n = math.min(spark.sparkContext.defaultParallelism.toLong, size / minRangeBytes.value).toInt
    val path = new Path(new java.net.URI(file))
    val charset = Try(Charset.forName(cfg.encoding).name).toOption
    val bytewise = cfg.sep.length == 1 && cfg.sep(0) < 0x80 && !"\"\r\n\u0000".contains(cfg.sep(0)) &&
      charset.exists(AsciiCompatible)
    val starts =
      if (n < 2 || !bytewise ||
          new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration).getCodec(path) != null) None
      else {
        val in = BronzeWriter.rawFileSystem(spark, path).open(path)
        try recordStarts(in, cfg.sep(0).toByte, charset.contains("UTF-8"), (1 until n).map(size * _ / n))
        finally in.close()
      }
    starts.filter(_.nonEmpty) match {
      case Some(s) => (0L +: s :+ size).sliding(2).map(b => CsvRange(file, b(0), b(1))).toSeq
      case None => Seq(CsvRange(file, 0, -1))
    }
  }

  /** How far past a range's start its first line break may lie in a
    * `\r\n` file. Spark's multi-line parser takes the line separator
    * from the first line break in the first characters it reads, and
    * every read path delivers well over this many bytes first. */
  private val SeparatorWindow = 1024

  /** Offsets of record starts in the CSV bytes of `in`: for each
    * target, in order, the first record start at or after it (a target
    * passed by an earlier start is dropped), or None when the bytes do
    * not prove where records start.
    *
    * One pass of an RFC 4180 quote-state machine, with quote and escape
    * `"`: a field that opens with `"` runs to the next lone `"`, `""`
    * inside it being a literal quote; a record ends at a `\n` or
    * `\r\n` outside quotes. The pass gives up on input whose parse
    * Spark's reader may see differently:
    *  - a `"` inside an unquoted field, text after a closing quote, or
    *    a quote still open at the end;
    *  - a `\r` not followed by `\n`, or both `\n` and `\r\n` line ends
    *    (the parser settles on one separator per parse);
    *  - in a `\r\n` file, a range whose first line break lies
    *    [[SeparatorWindow]] bytes or more past its start;
    *  - a byte-order mark other than UTF-8's (skipped when `utf8`).
    * A record start is only taken when its first byte is ASCII and not
    * NUL, so no range begins with bytes the parser could read as a
    * byte-order mark.
    */
  private[graft] def recordStarts(in: InputStream, sep: Byte, utf8: Boolean,
      targets: Seq[Long]): Option[Seq[Long]] = {
    val FieldStart = 0; val Unquoted = 1; val Quoted = 2; val QuoteInQuoted = 3
    val Quote = '"'.toByte; val LF = '\n'.toByte; val CR = '\r'.toByte
    val starts = ArrayBuffer.empty[Long]
    val buf = new Array[Byte](1 << 20)
    var n = in.readNBytes(buf, 0, buf.length)
    var ok = !(n > 0 && (buf(0) == 0 || buf(0) == 0xFE.toByte || buf(0) == 0xFF.toByte))
    var i = 0
    if (n >= 3 && buf(0) == 0xEF.toByte && buf(1) == 0xBB.toByte && buf(2) == 0xBF.toByte) {
      ok &&= utf8
      i = 3
    }
    var offset = 0L // of buf(0) in the input
    var last: Byte = 0 // the byte before buf(0)
    var state = FieldStart
    var crAtEnd = false // buf's last byte is a \r, so the next buffer must start with \n
    var crlf = false
    var lf = false
    var next = 0 // the first target not yet given a start
    var candidate = -1L // where the record after the last record end starts, if it may be taken
    var rangeStart = i.toLong // of the latest range whose first line break is still ahead
    var lateBreak = false
    while (ok && n > 0) {
      while (ok && i < n) {
        val b = buf(i)
        if (offset + i == candidate) {
          candidate = -1
          if (b > 0) {
            val at = offset + i
            starts += at
            while (next < targets.length && targets(next) <= at) next += 1
            rangeStart = at
          }
        }
        if (b == LF || b == CR) {
          if (rangeStart >= 0) {
            lateBreak ||= offset + i - rangeStart >= SeparatorWindow
            rangeStart = -1
          }
          if (b == CR) {
            if (i + 1 < n) ok = buf(i + 1) == LF else crAtEnd = true
          } else {
            if ((if (i > 0) buf(i - 1) else last) == CR) crlf = true else lf = true
            if (state != Quoted) {
              state = FieldStart
              if (next < targets.length && offset + i + 1 >= targets(next)) candidate = offset + i + 1
            }
          }
        } else if (b == Quote) {
          if (state == Quoted) state = QuoteInQuoted
          else if (state == Unquoted) ok = false
          else state = Quoted
        } else if (b == sep) {
          if (state != Quoted) state = FieldStart
        } else if (state == FieldStart) state = Unquoted
        else if (state == QuoteInQuoted) ok = false
        else {
          // inside a field: skip to the next byte that can change the state
          var j = i + 1
          while (j < n && { val c = buf(j); c != LF && c != CR && c != Quote && c != sep }) j += 1
          i = j - 1
        }
        i += 1
      }
      last = buf(n - 1)
      offset += n
      n = in.readNBytes(buf, 0, buf.length)
      i = 0
      if (crAtEnd) {
        ok &&= n > 0 && buf(0) == LF
        crAtEnd = false
      }
    }
    if (ok && state != Quoted && !(crlf && (lf || lateBreak))) Some(starts.toSeq) else None
  }
}
