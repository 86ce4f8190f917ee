package graft.pipeline

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import graft.{MakeCsv, SparkSpec}
import graft.config.{CsvReadConfig, PipelineConfig}
import graft.sources.CsvSource

/** `CsvSource` cuts a file into byte ranges only where its driver pass
  * proves records start, and a landing from the cut frame writes the
  * bronze file and manifest that Spark's own multi-line reader,
  * landed from one task (`coalesce(1)`), gives.
  *
  * The inputs are seeded CSVs built record by record, so the generator
  * knows where each line starts: quoted delimiters, quoted newlines,
  * doubled quotes, BOM, `\r\n`, blank lines, ragged rows, multi-byte
  * UTF-8, and malformed variants (a stray quote, text after a closing
  * quote, an unterminated quote, a lone `\r`, mixed line ends).
  */
class CsvRangesSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  /** A generated CSV: its bytes, the offsets just past each line end
    * outside quotes (each a possible record start), and whether it is
    * well-formed. */
  private final case class Csv(bytes: Array[Byte], lineStarts: Seq[Long], wellFormed: Boolean)

  private val Defects = Seq("stray quote", "text after quote", "unterminated quote", "lone CR", "mixed line ends")

  private def generate(seed: Long, records: Int, defect: Option[String] = None, columns: Int = 0): Csv = {
    val r = new scala.util.Random(seed)
    val crlf = r.nextInt(3) == 0
    val eol = if (crlf) "\r\n" else "\n"
    val sep = if (r.nextInt(4) == 0 && columns == 0) ',' else ';'
    val cols = if (columns > 0) columns else 2 + r.nextInt(5)
    val newlineShare = if (r.nextBoolean()) 0.02 else 0.3
    val words = Seq("abc", "Zé", "São Paulo", "ação", "日本", "x", "😀ok", "1.234,56", "-7", " lead", "tab\there")
    def field(): String = {
      val w = words(r.nextInt(words.size))
      r.nextInt(12) match {
        case 0 => ""
        case 1 => "\"" + w + sep + w + "\""
        case 2 => "\"" + w + "\"\"" + w + "\"\"\""
        case 3 => "\"\""
        case 4 => "\"" + w + "\""
        case _ if r.nextDouble() < newlineShare => "\"" + w + eol + w + "\""
        case _ => w
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    val starts = ArrayBuffer.empty[Long]
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    def endLine(): Unit = { put(eol); starts += out.size.toLong }
    if (r.nextBoolean()) put("\uFEFF")
    put((1 to cols).map(i => s"c$i").mkString(sep.toString))
    endLine()
    for (_ <- 0 until records) {
      if (r.nextInt(15) == 0) endLine() // a blank line
      val n = if (r.nextInt(8) == 0) 1 + r.nextInt(cols + 2) else cols // a ragged row
      put(Seq.fill(n)(field()).mkString(sep.toString))
      endLine()
    }
    val text = new String(out.toByteArray, UTF_8)
    defect match {
      case None => Csv(out.toByteArray, starts.toSeq, wellFormed = true)
      case Some(d) =>
        val at = text.lastIndexOf(eol, text.length * 2 / 3) + eol.length // a line start
        val bad = d match {
          case "stray quote" => text.patch(at, s"ab\"c$sep", 0)
          case "text after quote" => text.patch(at, s"\"ab\"c$sep", 0)
          case "unterminated quote" => text + "\"abc" + eol + "def"
          case "lone CR" => text.patch(at, s"ab\rc$sep", 0)
          case "mixed line ends" => text.patch(at, s"abc${if (crlf) "\n" else "\r\n"}", 0)
        }
        Csv(bad.getBytes(UTF_8), Nil, wellFormed = false)
    }
  }

  private def sepOf(c: Csv): Char =
    if (new String(c.bytes, UTF_8).linesIterator.next().contains(",")) ',' else ';'

  // -- the driver pass, on its own -------------------------------------

  private def starts(bytes: Array[Byte], sep: Char, targets: Seq[Long]) =
    CsvSource.recordStarts(new ByteArrayInputStream(bytes), sep.toByte, utf8 = true, targets)

  test("the driver pass finds exactly the line starts of well-formed input, and gives up on malformed") {
    for (seed <- 1L to 300L) {
      val c = generate(seed, 10 + (seed % 40).toInt,
        if (seed % 3 == 0) Some(Defects((seed / 3 % Defects.size).toInt)) else None)
      // a cut wanted at every offset: every provable record start comes back
      val got = starts(c.bytes, sepOf(c), 1L until c.bytes.length)
      if (c.wellFormed) {
        val want = c.lineStarts.filter(s => s < c.bytes.length && c.bytes(s.toInt) > 0)
        assert(got === Some(want), s"seed $seed")
      } else assert(got === None, s"seed $seed")
    }
  }

  test("the driver pass: one start per target, the first record start at or after it") {
    val c = generate(5, 200)
    val lines = c.lineStarts.filter(s => s < c.bytes.length && c.bytes(s.toInt) > 0)
    val targets = Seq(100L, 101L, 2000L, 2001L, c.bytes.length - 1L)
    val want = targets.flatMap(t => lines.find(_ >= t)).distinct
    assert(starts(c.bytes, sepOf(c), targets) === Some(want))
  }

  test("the driver pass refuses a non-UTF-8 byte-order mark and a UTF-8 one outside UTF-8") {
    val body = "a;b\n1;2\n3;4\n".getBytes(UTF_8)
    assert(starts(Array(0xFE, 0xFF).map(_.toByte) ++ body, ';', Seq(5)) === None)
    assert(CsvSource.recordStarts(new ByteArrayInputStream(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ body),
      ';'.toByte, utf8 = false, Seq(5)) === None)
    assert(starts(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ body, ';', Seq(5)) === Some(Seq(7L)))
  }

  test("the driver pass refuses a \\r\\n file whose range starts far from its first line break") {
    val long = "a;" + "x" * 2000 + "\r\n"
    val bytes = ("h1;h2\r\n" + "1;2\r\n" * 10 + long + "3;4\r\n").getBytes(UTF_8)
    assert(starts(bytes, ';', Seq(55)) === None)
    assert(starts(bytes.map(b => if (b == '\r') 'r'.toByte else b), ';', Seq(55)).isDefined)
  }

  // -- landings ---------------------------------------------------------

  private def config(input: Path, base: Path, header: Boolean, sep: Char) = PipelineConfig.fromJson(
    s"""{"dataset_id": "tb_ranges", "origin": "unit-test",
       | "csv": {"path": "$input", "sep": "$sep", "encoding": "UTF-8", "header": $header},
       | "sink": {"base_dir": "$base", "table": "tb_ranges", "file_name": "ranges.txt"}
       |}""".stripMargin)

  /** Spark's multi-line reader with `CsvSource`'s options. */
  private def reference(cfg: CsvReadConfig) =
    spark.read.option("sep", cfg.sep).option("encoding", cfg.encoding).option("header", cfg.header.toString)
      .option("inferSchema", "false").option("multiLine", "true").option("quote", "\"").option("escape", "\"")
      .csv(cfg.path)

  /** Land `input` with `CsvIngestion.run` and from the reference frame
    * in one task; assert the same bronze bytes and manifest (the
    * directory aside) and return how many partitions `CsvSource` read. */
  private def landBoth(input: Path, header: Boolean, sep: Char): Int = {
    val dir = Files.createTempDirectory("graft-ranges")
    val cfg = config(input, dir.resolve("split"), header, sep)
    val refCfg = config(input, dir.resolve("reference"), header, sep)
    def bytes(r: IngestionResult) =
      (Files.readAllBytes(localPath(r.dataFile)).toSeq, new String(Files.readAllBytes(localPath(r.manifestFile)), UTF_8))
    val got = Try(bytes(CsvIngestion.run(spark, cfg, runId = "run-ranges", clock = clock)))
    val want = Try(bytes(CsvIngestion.land(spark, reference(refCfg.csv.get).coalesce(1), refCfg, "20251020",
      "run-ranges", clock)))
    assert(got.toEither.left.map(_.getClass) === want.toEither.left.map(_.getClass).map { case (b, m) =>
      (b, m.replace(dir.resolve("reference").toString, dir.resolve("split").toString))
    }, input)
    CsvSource.read(spark, cfg.csv.get).rdd.getNumPartitions
  }

  private def write(c: Csv): Path = {
    val f = Files.createTempDirectory("graft-ranges-in").resolve("in.csv")
    Files.write(f, c.bytes)
    f
  }

  test("200 generated files land the bytes Spark's one-task landing gives; cut only where proven") {
    val minRange = 256L
    CsvSource.minRangeBytes.withValue(minRange) {
      for (seed <- 1000L until 1200L) {
        val defect = if (seed % 4 == 0) Some(Defects((seed / 4 % Defects.size).toInt)) else None
        val c = generate(seed, 15 + (seed % 60).toInt, defect)
        val header = seed % 7 != 0
        val partitions = landBoth(write(c), header, sepOf(c))
        val n = math.min(spark.sparkContext.defaultParallelism.toLong, c.bytes.length / minRange).toInt
        val cuts = (1 until n).map(c.bytes.length.toLong * _ / n)
          .flatMap(t => c.lineStarts.find(s => s >= t && s < c.bytes.length && c.bytes(s.toInt) > 0)).distinct
        assert(partitions === (if (c.wellFormed) 1 + cuts.size else 1), s"seed $seed")
        if (c.wellFormed && n >= 2) assert(partitions > 1, s"seed $seed")
      }
    }
  }

  test("edge inputs land like Spark: header only, empty, blank lines only, one record, no final newline") {
    CsvSource.minRangeBytes.withValue(4L) {
      Seq("a;b\n", "", "a;b\n\n\n\n\n\n", "a;b\n1;2\n", "a;b\n1;2\n3;4", "a;b\r\n1;2\r\n3;4\r\n5;6",
        "\uFEFFa;b\n\"x\ny\";2\n3;\"\"\"\"\n")
        .foreach(s => landBoth(write(Csv(s.getBytes(UTF_8), Nil, wellFormed = true)), header = true, ';'))
    }
  }

  test("a multi-file directory lands its files in Spark's order, cut or whole") {
    CsvSource.minRangeBytes.withValue(256L) {
      val in = Files.createTempDirectory("graft-ranges-dir")
      // files of one dataset: the same header, in the same layout
      val a = generate(7, 40, columns = 4).bytes
      Files.write(in.resolve("a.csv"), a)
      // the same size as a.csv: Spark keeps listing order between equal sizes
      Files.write(in.resolve("b.csv"), a.map(b => if (b == 'x'.toByte) 'y'.toByte else b))
      Files.write(in.resolve("c.csv"), generate(8, 60, columns = 4).bytes)
      Files.write(in.resolve("d.csv"), generate(9, 30, Some("stray quote"), columns = 4).bytes)
      Files.write(in.resolve("e.csv"), "c1;c2;c3;c4\n".getBytes(UTF_8))
      landBoth(in, header = true, ';')
    }
  }

  test("a bench-shaped file of 630 KB is cut at the default minimum range and lands the same bytes") {
    val c = Files.createTempDirectory("graft-ranges-big").resolve("big.csv")
    MakeCsv.generate(11, 7000, c)
    assert(Files.size(c) >= 2 * CsvSource.MinRangeBytes)
    assert(landBoth(c, header = true, ';') === spark.sparkContext.defaultParallelism)
    // the same rows with \r\n line ends, quoted newlines included
    val crlf = c.resolveSibling("crlf.csv")
    Files.write(crlf, new String(Files.readAllBytes(c), UTF_8).replace("\n", "\r\n").getBytes(UTF_8))
    assert(landBoth(crlf, header = true, ';') === spark.sparkContext.defaultParallelism)
    // one stray quote near the end: the whole file in one task
    val bad = c.resolveSibling("bad.csv")
    val text = new String(Files.readAllBytes(c), UTF_8)
    Files.write(bad, text.patch(text.length - 100, "\"", 0).getBytes(UTF_8))
    assert(landBoth(bad, header = true, ';') === 1)
  }
}
