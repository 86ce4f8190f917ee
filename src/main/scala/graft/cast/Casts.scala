package graft.cast

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar cast layer — the engine's type-coercion surface.
  *
  * Mirrors the semantics of the reference's casting utilities
  * (reference: app/utils/casting.py:5-53) re-expressed as Spark
  * `Column => Column` functions. These compose built-in Catalyst
  * expressions and one static call ([[PythonStrip]]), so whole-stage
  * codegen applies; no UDFs.
  *
  * All casts are *permissive*: unparseable input yields NULL (the
  * reference's `errors="coerce"` behavior), which under Spark 4's
  * default ANSI mode requires `try_cast` rather than `cast`.
  *
  * No cast evaluates a regular expression per row: the string kernels
  * are `replace`, [[PythonStrip]] and prefix/suffix tests, each one
  * scan of the value.
  */
object Casts {

  /** String → nullable BIGINT, accepting integral float-shaped strings.
    *
    * Reference `to_int` (app/utils/casting.py:5-6) uses
    * `pd.to_numeric(errors="coerce").astype("Int64")`, which accepts
    * "12.0" → 12 and coerces garbage to NULL. A single
    * `try_cast(x AS BIGINT)` would reject "12.0", so we go through
    * DOUBLE first. Non-integral values ("12.7") yield NULL — pandas
    * raises on the unsafe float→Int64 cast there, and silently
    * truncating would mangle malformed integer fields; NULL is the
    * per-value analogue of that error under coerce semantics. Values
    * outside the BIGINT range also yield NULL (try_cast).
    */
  def toLongLenient(c: Column): Column = {
    val d = c.cast(StringType).try_cast(DoubleType)
    when(floor(d) === d, d.try_cast(LongType))
  }

  /** The characters Python's `str.isspace()` accepts, which pandas'
    * `str.strip()` removes from both ends of a value.
    */
  private[cast] val PythonWhitespace: String =
    "\t\n\u000b\f\r\u001c\u001d\u001e\u001f \u0085\u00a0\u1680" +
      "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a" +
      "\u2028\u2029\u202f\u205f\u3000"

  /** Strip whitespace, then one leading and one trailing double quote.
    * Reference `to_str` (app/utils/casting.py:9-10):
    * `re.sub(r'^"|"$', '', s.strip())`. Once both ends are stripped of
    * [[PythonWhitespace]], the pattern can only match the first and
    * the last character, so dropping a leading `"` and then a trailing
    * `"` of what is left is the same function. NULL stays NULL
    * (divergence from pandas' astype(str) which renders "nan"; see
    * SURVEY.md §7.4 — golden data has no nulls in string fields).
    */
  def toCleanString(c: Column): Column = {
    val stripped = stripPython(c.cast(StringType))
    val unlead = when(stripped.startsWith("\""), stripped.substr(lit(2), length(stripped)))
      .otherwise(stripped)
    when(unlead.endsWith("\""), unlead.substr(lit(1), length(unlead) - 1)).otherwise(unlead)
  }

  /** `btrim(s, PythonWhitespace)` as one codegen'd call of
    * [[PythonStrip.strip]]: Spark's `trim` searches the 29-character
    * set for every end character it tests. */
  private[cast] def stripPython(s: Column): Column =
    ColumnShim.column(StaticInvoke(PythonStrip.getClass, StringType, "strip", Seq(ColumnShim.expression(s))))

  /** Brazilian-locale numeric string → nullable DOUBLE.
    *
    * Reference `to_float_pt` (app/utils/casting.py:13-24): remove `.`
    * thousands separators, swap decimal `,` → `.`, then coerce;
    * unparseable → NULL. "1.234,56" → "1234.56" → 1234.56.
    */
  def toDoublePt(c: Column): Column = ptDecimalText(c.cast(StringType)).try_cast(DoubleType)

  /** The reference's two edits, in its order: delete every `.`, then
    * turn every `,` into `.`. Each is a `replace`, a byte-level search
    * over the UTF-8 value; `translate`, the one-call form of the same
    * function, decodes each value and looks each character up.
    */
  private[cast] def ptDecimalText(s: Column): Column =
    replace(replace(s, lit("."), lit("")), lit(","), lit("."))

  /** Already-numeric columns pass through `to_float_pt` unchanged in the
    * reference (app/utils/casting.py:14-16); callers on typed columns
    * should use a plain double cast.
    */
  def toDouble(c: Column): Column = c.try_cast(DoubleType)

  /** Apply per-type cast lists to the columns that exist; missing
    * columns are silently skipped (reference `apply_casts`,
    * app/utils/casting.py:27-37 — the `if col in df` guard).
    *
    * One `select` (not N `withColumn`s) so the analyzer sees a single
    * projection — keeps the plan shallow at wide schemas.
    */
  def applyCasts(
      df: DataFrame,
      integerFields: Seq[String] = Nil,
      stringFields: Seq[String] = Nil,
      floatFields: Seq[String] = Nil): DataFrame = {
    val ints = integerFields.toSet
    val strs = stringFields.toSet
    val flts = floatFields.toSet
    val projected = df.columns.map { name =>
      val c = literalCol(name)
      val cast =
        if (ints.contains(name)) toLongLenient(c)
        else if (strs.contains(name)) toCleanString(c)
        else if (flts.contains(name)) toDoublePt(c)
        else c
      cast.as(name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** A reference to the column named exactly `name`. `col` parses its
    * argument, so a CSV header such as `Pop. 4G` would resolve as a
    * struct field `Pop` → ` 4G` and fail; a backtick-quoted name is
    * taken literally.
    */
  def literalCol(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Rename columns per mapping; unmatched keys are no-ops (pandas
    * `rename` semantics, reference app/ingestao_csv.py:19-20).
    */
  def renameColumns(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val applicable = mapping.filter { case (from, _) => df.columns.contains(from) }
    df.withColumnsRenamed(applicable)
  }

  /** Ingestion-date partition value, `YYYYMMDD` (reference
    * app/utils/date.py:5-6). Injectable clock for tests.
    */
  def todayYyyymmdd(clock: java.time.Clock = java.time.Clock.systemDefaultZone()): String =
    java.time.LocalDate.now(clock).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
}

/** Python's `str.strip()` on a UTF-8 value: [[Casts.PythonWhitespace]]
  * removed from both ends. An ASCII end byte is looked up in a
  * 128-entry table; only a multi-byte end character is decoded, and
  * only it is compared with the set's non-ASCII members. Called from
  * generated code through `StaticInvoke` ([[Casts.stripPython]]).
  */
object PythonStrip {

  private val (ascii, others) = Casts.PythonWhitespace.partition(_ < 0x80)

  private val AsciiSpace: Array[Boolean] = {
    val t = new Array[Boolean](0x80)
    ascii.foreach(c => t(c) = true)
    t
  }

  private val OtherSpace: Array[Int] = others.map(_.toInt).toArray.sorted

  def strip(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var start = 0
    var len = spaceAt(s, start, n)
    while (len > 0) {
      start += len
      len = spaceAt(s, start, n)
    }
    var end = n
    var done = false
    while (!done && end > start) {
      // the last character starts at most 3 continuation bytes back
      var i = end - 1
      while (i > start && end - i < 4 && (s.getByte(i) & 0xc0) == 0x80) i -= 1
      if (spaceAt(s, i, n) == end - i) end = i else done = true
    }
    if (start == 0 && end == n) s else s.copyUTF8String(start, end - 1)
  }

  /** The byte length of the character at byte `i` when it is Python
    * whitespace, else 0 (also at the end and for a malformed byte). */
  private def spaceAt(s: UTF8String, i: Int, n: Int): Int =
    if (i >= n) 0
    else {
      val b = s.getByte(i)
      if (b >= 0) { if (AsciiSpace(b)) 1 else 0 }
      else {
        // every non-ASCII member is 2 or 3 bytes long
        val len = if ((b & 0xe0) == 0xc0) 2 else if ((b & 0xf0) == 0xe0) 3 else 0
        var cp = b & (0x7f >> len)
        var k = 1
        while (k < len && i + k < n && (s.getByte(i + k) & 0xc0) == 0x80) {
          cp = (cp << 6) | (s.getByte(i + k) & 0x3f)
          k += 1
        }
        if (len > 0 && k == len && java.util.Arrays.binarySearch(OtherSpace, cp) >= 0) len else 0
      }
    }
}
