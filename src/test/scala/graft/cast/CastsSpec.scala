package graft.cast

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CastsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq("x").toDF("ignore").select(c).head().get(0)

  test("toLongLenient accepts integer strings") {
    assert(one(Casts.toLongLenient(lit("42"))) === 42L)
  }

  test("toLongLenient accepts float-shaped strings like pandas to_numeric") {
    assert(one(Casts.toLongLenient(lit("12.0"))) === 12L)
    assert(one(Casts.toLongLenient(lit("1e3"))) === 1000L)
    assert(one(Casts.toLongLenient(lit("+7"))) === 7L)
  }

  test("toLongLenient coerces garbage to null") {
    assert(one(Casts.toLongLenient(lit("abc"))) === null)
    assert(one(Casts.toLongLenient(lit(""))) === null)
  }

  test("toLongLenient nulls non-integral values instead of truncating") {
    // pandas to_int raises on the unsafe 12.7 → Int64 cast; per-value
    // coerce semantics make that NULL, never a silent 12
    assert(one(Casts.toLongLenient(lit("12.7"))) === null)
    assert(one(Casts.toLongLenient(lit("-0.5"))) === null)
    // out-of-range integrals are NULL too (try_cast), not wrapped
    assert(one(Casts.toLongLenient(lit("1e30"))) === null)
  }

  test("toCleanString trims and strips surrounding quotes") {
    assert(one(Casts.toCleanString(lit("  \"hello\"  "))) === "hello")
    assert(one(Casts.toCleanString(lit("no quotes"))) === "no quotes")
    // only one layer stripped, interior quotes kept
    assert(one(Casts.toCleanString(lit("\"a \"b\" c\""))) === "a \"b\" c")
  }

  test("toCleanString matches the reference's re.sub(r'^\"|\"$', '', s.strip())") {
    // expected values computed with the reference expression in Python
    val table = Seq(
      "\"a\"\n" -> "a",
      "\"a\" \t" -> "a",
      "\u00a0\"x\"\u3000" -> "x",
      "\"" -> "",
      "\"\"" -> "",
      "\"\"a\"\"" -> "\"a\"",
      "a\"\r" -> "a")
    val out = table.map(_._1).toDF("s").select(Casts.toCleanString(col("s"))).as[String].collect()
    assert(out.toSeq === table.map(_._2))
  }

  test("the cast projection evaluates no regular expression") {
    val df = spark.range(3).select(Seq("i", "s", "f").map(n => col("id").cast("string").as(n)): _*)
    val plan = Casts.applyCasts(df, Seq("i"), Seq("s"), Seq("f")).queryExecution.optimizedPlan
    assert(!plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]))), plan)
  }

  test("toDoublePt parses Brazilian decimal comma") {
    assert(one(Casts.toDoublePt(lit("29,45"))) === 29.45)
  }

  test("toDoublePt strips thousands dots before the comma swap") {
    assert(one(Casts.toDoublePt(lit("1.234,56"))) === 1234.56)
    assert(one(Casts.toDoublePt(lit("1.234.567,89"))) === 1234567.89)
  }

  test("toDoublePt coerces garbage to null") {
    assert(one(Casts.toDoublePt(lit("n/a"))) === null)
  }

  test("applyCasts casts declared columns and skips missing ones") {
    val df = Seq(("1", "\" x \"", "2,5")).toDF("i", "s", "f")
    val out = Casts.applyCasts(df,
      integerFields = Seq("i", "not_there"),
      stringFields = Seq("s"),
      floatFields = Seq("f"))
    assert(out.schema("i").dataType === LongType)
    assert(out.schema("s").dataType === StringType)
    assert(out.schema("f").dataType === DoubleType)
    // trim happens BEFORE quote-strip (reference order), so spaces that
    // were inside the quotes survive
    assert(out.head() === Row(1L, " x ", 2.5))
  }

  test("renameColumns ignores unmatched keys (pandas rename semantics)") {
    val df = Seq((1, 2)).toDF("a", "b")
    val out = Casts.renameColumns(df, Map("a" -> "x", "zzz" -> "never"))
    assert(out.columns.toSeq === Seq("x", "b"))
  }

  test("todayYyyymmdd uses the injected clock") {
    val clock = java.time.Clock.fixed(
      java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)
    assert(Casts.todayYyyymmdd(clock) === "20251020")
  }
}
