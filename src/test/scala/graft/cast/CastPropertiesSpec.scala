package graft.cast

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property-style randomized coverage for the cast layer: one seeded
  * sample batch, evaluated in a single Spark job per property.
  */
class CastPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("toDoublePt round-trips pt-BR formatted doubles (2 decimals)") {
    val samples = Seq.fill(200) {
      val v = math.round(rnd.between(-1e6, 1e6) * 100.0) / 100.0
      val pt = f"$v%,.2f".replace(",", "#").replace(".", ",").replace("#", ".")
      (pt, v)
    }
    val out = samples.toDF("pt", "expected")
      .select(Casts.toDoublePt(col("pt")).as("parsed"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1), r))
  }

  test("toDoublePt equals the reference's two passes (drop '.', then ',' -> '.') on random strings") {
    val draw = new scala.util.Random(7)
    val alphabet = "0123456789.,-+e \u00e9\u20ac\u00a0"
    val strings = Seq.fill(2000) {
      if (draw.nextInt(50) == 0) null
      else Seq.fill(draw.nextInt(12))(alphabet(draw.nextInt(alphabet.length))).mkString
    }
    val twoPasses = regexp_replace(regexp_replace(col("s"), "\\.", ""), ",", ".").try_cast("double")
    val out = strings.toDF("s").select(col("s"), Casts.toDoublePt(col("s")), twoPasses).collect()
    assert(out.count(_.isNullAt(0)) > 0)
    assert(out.count(!_.isNullAt(2)) > 100) // enough parseable values to compare
    out.foreach(r => assert(r.get(1) === r.get(2), r))
  }

  test("toDoublePt's two replaces are translate(s, \",.\", \".\") on generated strings") {
    val draw = new scala.util.Random(11)
    val pieces = Seq(",", ".", ",,", "..", ",.,", ".,.", "1", "23", "ção", "\u20ac", "日本", "\ud83d\ude00", " ", "-")
    val strings = Seq(null, "", ",", ".", ",.", ".,", ",,,,", "....", "\u00e9,.\u00e9") ++ Seq.fill(2000) {
      if (draw.nextInt(40) == 0) null
      else Seq.fill(draw.nextInt(10))(pieces(draw.nextInt(pieces.length))).mkString
    }
    val out = strings.toDF("s")
      .select(col("s"), Casts.ptDecimalText(col("s")), translate(col("s"), ",.", "."))
      .collect()
    assert(out.count(_.isNullAt(0)) > 1)
    out.foreach(r => assert(r.get(1) === r.get(2), r))
  }

  test("stripPython equals btrim(s, PythonWhitespace) on generated strings, interpreted and codegen'd") {
    val draw = new scala.util.Random(13)
    val spaces = Casts.PythonWhitespace.map(_.toString)
    assert(spaces.length === 29)
    // neighbours of the whitespace code points, in the same UTF-8 lengths
    val others = Seq("a", "\"", "x y", "\u00e9", "\u0086", "\u00a1", "\u1681", "\u200b", "\u2030", "\u3001",
      "\u65e5\u672c", "\ud83d\ude00", "\u007f", "\u0000")
    val pieces = spaces ++ others
    val strings = Seq(null, "") ++ spaces ++ spaces.map(w => w + "a" + w) ++ Seq.fill(3000) {
      if (draw.nextInt(40) == 0) null
      else Seq.fill(draw.nextInt(8))(pieces(draw.nextInt(pieces.length))).mkString
    }
    val local = strings.toDF("s")
    // a local frame's projection is evaluated by the optimizer; a
    // shuffled one's by whole-stage generated code
    for (df <- Seq(local, local.repartition(3))) {
      val out = df.select(col("s"), Casts.stripPython(col("s")), btrim(col("s"), lit(Casts.PythonWhitespace)))
        .collect()
      assert(out.length === strings.length)
      assert(out.count(_.isNullAt(0)) > 1)
      assert(out.count(r => !r.isNullAt(0) && r.getString(0) != r.getString(1)) > 1000) // most strings lose an end
      out.foreach(r => assert(r.get(1) === r.get(2), r))
    }
  }

  test("toLongLenient parses any long's toString, with or without .0") {
    val longs = Seq.fill(200)(rnd.nextLong() % 1000000000L)
    val out = longs.toDF("v")
      .select(col("v"),
        Casts.toLongLenient(col("v").cast("string")).as("plain"),
        Casts.toLongLenient(concat(col("v").cast("string"), lit(".0"))).as("dotted"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(0))
      assert(r.getLong(2) === r.getLong(0))
    }
  }

  test("toCleanString is idempotent") {
    val strings = Seq.fill(200) {
      val core = rnd.alphanumeric.take(rnd.nextInt(10)).mkString
      val quoted = if (rnd.nextBoolean()) "\"" + core + "\"" else core
      "  " * rnd.nextInt(2) + quoted + " " * rnd.nextInt(2)
    }
    val out = strings.toDF("s")
      .select(
        Casts.toCleanString(col("s")).as("once"),
        Casts.toCleanString(Casts.toCleanString(col("s"))).as("twice"))
      .collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("applyCasts never changes column count or order") {
    val df = Seq(("1", "a", "2,5", "x")).toDF("c1", "c2", "c3", "c4")
    val out = Casts.applyCasts(df,
      integerFields = Seq("c1", "ghost1"),
      stringFields = Seq("c2"),
      floatFields = Seq("c3", "ghost2"))
    assert(out.columns.toSeq === df.columns.toSeq)
  }
}
