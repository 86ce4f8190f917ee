package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import scala.util.Try
import graft.SparkSpec
import graft.config.{CsvReadConfig, PipelineConfig}
import graft.meta.{DatasetInfo, Manifest}
import graft.pipeline.CsvIngestion
import graft.sink.BronzeWriter

/** `CsvSource.read` takes the header on the driver. Spark's own reader,
  * left to infer the header in a job, is the reference: on each header
  * edge case both give the same column names and rows, and a landing
  * gives the bronze bytes and manifest that the reference frame gives.
  */
class CsvSourceSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  /** Spark's reader with the same options, inferring the header in a job. */
  private def reference(cfg: CsvReadConfig) =
    spark.read
      .option("sep", cfg.sep)
      .option("encoding", cfg.encoding)
      .option("header", cfg.header.toString)
      .option("inferSchema", "false")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(cfg.path)

  /** The exception's class and message, or the value. */
  private def outcome[T](f: => T): Either[(String, String), T] =
    Try(f).toEither.left.map(e => (e.getClass.getName, e.getMessage))

  private final case class Fixture(
      name: String,
      files: Seq[(String, Array[Byte])],
      encoding: String = "UTF-8",
      header: Boolean = true)

  private def utf8(s: String) = s.getBytes(UTF_8)

  private val fixtures = Seq(
    Fixture("duplicate names, also case-only", Seq("d.csv" -> utf8(
      "a;A;b;a;B\n1;2;3;4;5\n;x;;y;\n"))),
    Fixture("empty names", Seq("e.csv" -> utf8(
      "x;;y;\"\"\n1;2;3;4\n"))),
    Fixture("quoted names holding ; and a newline", Seq("q.csv" -> utf8(
      "\"na;me\";\"li\nne\";plain\n\"v;1\";\"w\nx\";z\n1;2;3\n"))),
    Fixture("BOM and UTF-8", Seq("b.csv" -> utf8(
      "﻿Ano;Código Município;Município\n2023;1100015;\"Alta Floresta; D'Oeste\"\n2023;;São Paulo\n"))),
    Fixture("ISO-8859-1 with encoding set", Seq("l.csv" ->
      "Ano;Código;Município\n2023;1;São Tomé\n2024;;Açaí\n".getBytes(ISO_8859_1)),
      encoding = "ISO-8859-1"),
    Fixture("header: false", Seq("h.csv" -> utf8(
      "1;2;3\n4;;6\n\"7;8\";9;\n")), header = false),
    Fixture("header only", Seq("o.csv" -> utf8("a;b;c\n"))),
    Fixture("0-byte file", Seq("z.csv" -> Array.emptyByteArray)),
    Fixture("two files sharing a header", Seq(
      "part1.csv" -> utf8("k;v\n1;one\n2;\n"),
      "part2.csv" -> utf8("k;v\n3;three\n\"4\";\"f;our\"\n"))),
  )

  /** The fixture on disk and its read config: a file, or the directory
    * when it has several. */
  private def materialize(f: Fixture): (Path, CsvReadConfig) = {
    val dir = Files.createTempDirectory("graft-csv-source")
    val in = Files.createDirectory(dir.resolve("in"))
    f.files.foreach { case (n, bytes) => Files.write(in.resolve(n), bytes) }
    val path = if (f.files.length == 1) in.resolve(f.files.head._1) else in
    (dir, CsvReadConfig(path.toString, ";", f.encoding, f.header))
  }

  fixtures.foreach { f =>
    test(s"header on the driver, ${f.name}: no job; Spark's names and rows") {
      val (_, cfg) = materialize(f)
      val (read, jobs) = countJobs(outcome(CsvSource.read(spark, cfg)))
      assert(jobs === 0)
      val got = read.map(df => (df.columns.toSeq, df.collect().toSeq))
      val want = outcome(reference(cfg)).map(df => (df.columns.toSeq, df.collect().toSeq))
      assert(got === want)
    }

    test(s"landing, ${f.name}: the reference frame's bronze bytes and manifest") {
      val (dir, csv) = materialize(f)
      val cfg = PipelineConfig.fromJson(
        s"""{"dataset_id": "tb_edge", "origin": "unit-test",
           | "csv": {"path": "${csv.path}", "sep": ";", "encoding": "${csv.encoding}", "header": ${csv.header}},
           | "sink": {"base_dir": "${dir.resolve("bronze")}", "table": "tb_edge", "file_name": "edge.txt"}
           |}""".stripMargin)
      val landed = outcome(CsvIngestion.run(spark, cfg, runId = "run-edge", clock = clock))
      val expected = outcome {
        val df = reference(csv)
        val file = BronzeWriter.write(spark, df, cfg.sink.copy(baseDir = dir.resolve("reference").toString),
          "20251020")
        (df, Files.readAllBytes(localPath(file)))
      }
      assert(landed.map(r => Files.readAllBytes(localPath(r.dataFile)).toSeq) ===
        expected.map(_._2.toSeq))
      landed.foreach { r =>
        val df = expected.toOption.get._1
        val (rows, nulls) = Manifest.tableStats(df)
        val info = DatasetInfo("tb_edge", "unit-test", ";", csv.encoding, "anomesdia", "20251020",
          "run-edge", "graft")
        val want = Manifest.toJson(Manifest.forWrittenFile(spark, df, r.dataFile, info, rows, nulls,
          Manifest.preview(df), Map.empty, clock))
        assert(new String(Files.readAllBytes(localPath(r.manifestFile)), UTF_8) === want)
      }
    }
  }

  test("a directory with no data files raises Spark's unable-to-infer error") {
    val dir = Files.createTempDirectory("graft-csv-none")
    val cfg = CsvReadConfig(dir.toString)
    assert(outcome(CsvSource.read(spark, cfg).columns.toSeq) === outcome(reference(cfg).columns.toSeq))
    assert(outcome(CsvSource.read(spark, cfg)).isLeft)
  }

  test("a missing path raises Spark's path-not-found error") {
    val cfg = CsvReadConfig("/tmp/graft-csv-source-does-not-exist.csv")
    val got = outcome(CsvSource.read(spark, cfg).columns.toSeq)
    assert(got.isLeft)
    assert(got === outcome(reference(cfg).columns.toSeq))
  }
}
