package graft.sink

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import graft.SparkSpec
import graft.config.SinkConfig
import graft.meta.Manifest

/** `BronzeWriter.writeFile` against Spark's own one-task write of the
  * same frame (`coalesce(1).write`) and against `Manifest.tableStats`
  * and `Manifest.preview`: the same file bytes, the same statistics,
  * and 0 Spark jobs for a frame whose rows are on the driver, 1
  * otherwise.
  */
class BronzeParitySpec extends SparkSpec {
  import spark.implicits._

  /** Spark's options for the bronze CSV: `;`, header, NULL and empty
    * string both as an empty field, `\n` line ends. */
  private val CsvOptions = Map("sep" -> ";", "header" -> "true", "encoding" -> "UTF-8",
    "nullValue" -> "", "emptyValue" -> "", "lineSep" -> "\n")

  private def listNames(dir: Path): Set[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet)

  /** The bytes of the one data file Spark writes for `df` coalesced to
    * one partition. */
  private def sparkBytes(df: DataFrame, format: String): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-parity-spark").resolve("out")
    val w = df.coalesce(1).write.mode("overwrite")
    if (format == "csv") w.options(CsvOptions).csv(dir.toString) else w.parquet(dir.toString)
    val Seq(part) = listNames(dir).filter(_.startsWith("part-")).toSeq
    Files.readAllBytes(dir.resolve(part))
  }

  /** Land `df` with `BronzeWriter.writeFile` and check it against
    * Spark's write, `tableStats` and `preview`; returns the landed file. */
  private def assertParity(df: DataFrame, jobs: Int, format: String = "csv"): BronzeFile = {
    val base = Files.createTempDirectory("graft-parity").toString
    val (file, ran) = countJobs(BronzeWriter.writeFile(spark, df, SinkConfig(base, "t", "data.txt", format = format), "20251020"))
    assert(ran === jobs)
    val bytes = Files.readAllBytes(localPath(file.path))
    assert(bytes.toSeq === sparkBytes(df, format).toSeq)
    assert(file.sizeBytes === bytes.length)
    assert(file.md5 === Manifest.md5OfFile(spark, file.path))
    assert((file.rows, file.nulls) === Manifest.tableStats(df))
    assert(file.preview === Manifest.preview(df))
    assert(listNames(localPath(file.path).getParent) === Set("data.txt"))
    file
  }

  private val texts = Seq[(Long, String, String)](
    (1L, "a;b", "plain"),
    (2L, "line\nbreak", null),
    (3L, "", "ação 日本 😀"),
    (4L, null, "say \"hi\""),
    (5L, "x\r\ny", ""))

  test("a local frame lands on the driver: Spark's bytes, quoted ; and newlines, NULL versus empty string") {
    val local = texts.toDF("id", "a", "b")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val file = assertParity(local, jobs = 0)
    assert(file.nulls === Map("id" -> 0L, "a" -> 1L, "b" -> 1L))
  }

  test("a multi-partition frame with empty partitions, among them partition 0, lands in one job") {
    val ranged = spark.range(0, 80, 1, 8).selectExpr("id",
      "IF(id % 3 = 0, NULL, concat('v;', id, char(10), 'ç日')) AS a",
      "IF(id % 5 = 0, '', CAST(id / 4 AS STRING)) AS b")
    val gappy = ranged.filter("id >= 20 AND NOT (id BETWEEN 40 AND 59)")
    assert(gappy.rdd.getNumPartitions === 8)
    assert(gappy.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq === Seq(0, 0, 10, 10, 0, 0, 10, 10))
    assertParity(gappy, jobs = 1)
    assertParity(ranged, jobs = 1)
    assertParity(spark.sparkContext.parallelize(texts, 3).toDF("id", "a", "b"), jobs = 1)
  }

  test("a 0-row frame lands a header-only file and a null preview") {
    for ((df, jobs) <- Seq(spark.range(0, 10, 1, 4).filter("id < 0").toDF() -> 1, Seq.empty[(Long, String)].toDF("id", "s") -> 0)) {
      val file = assertParity(df, jobs)
      assert(new String(Files.readAllBytes(localPath(file.path)), "UTF-8") === df.columns.mkString(";") + "\n")
      assert(file.rows === 0L)
      val ds = graft.meta.DatasetInfo("ds", "test", ";", "UTF-8", "anomesdia", "20251020", "r1", "graft")
      val json = Manifest.toJson(Manifest.forBronzeFile(df, file, ds, Map.empty, java.time.Clock.systemUTC()))
      assert(json.contains("\"preview\": null"))
    }
  }

  test("a Parquet single-file landing is Spark's one-part Parquet file") {
    val ranged = spark.range(0, 50, 1, 4).selectExpr("id", "IF(id % 4 = 0, NULL, CAST(id AS STRING)) AS s")
    val file = assertParity(ranged, jobs = 1, format = "parquet")
    assert(spark.read.parquet(file.path).orderBy("id").collect().toSeq === ranged.orderBy("id").collect().toSeq)
    assertParity(texts.toDF("id", "a", "b"), jobs = 0, format = "parquet")
  }

  test("a frame the format cannot write, or with names it needs unique, is refused with Spark's error and lands nothing") {
    val base = Files.createTempDirectory("graft-parity-refused").toString
    val nested = spark.range(3).selectExpr("id", "named_struct('x', id) AS s")
    val dup = spark.range(3).selectExpr("id", "id AS ID")
    for ((df, format) <- Seq(nested -> "csv", nested.repartition(2) -> "csv", dup -> "parquet")) {
      val sink = SinkConfig(base, "t", "data.txt", format = format)
      val kept = BronzeWriter.writeFile(spark, texts.toDF("id", "a", "b"), sink, "20251020")
      val ours = intercept[AnalysisException](BronzeWriter.writeFile(spark, df, sink, "20251020"))
      val theirs = intercept[AnalysisException](df.write.mode("overwrite").format(format).options(CsvOptions)
        .save(Files.createTempDirectory("graft-parity-spark").toString))
      assert(ours.getCondition === theirs.getCondition)
      assert(ours.getMessage === theirs.getMessage)
      assert(listNames(localPath(kept.path).getParent) === Set("data.txt"))
    }
    // Spark's CSV writer takes duplicate names, and so does the landing
    val file = BronzeWriter.writeFile(spark, dup, SinkConfig(base, "dup", "data.txt"), "20251020")
    assert(Files.readAllBytes(localPath(file.path)).toSeq === sparkBytes(dup, "csv").toSeq)
  }

  test("a landing replaces the partition directory: an old file, its manifest and a killed landing's part go") {
    val base = Files.createTempDirectory("graft-parity-replace")
    val dir = base.resolve("t").resolve("anomesdia=20251020")
    Files.createDirectories(dir)
    Seq("data.txt" -> "old;rows\n", "data.txt.manifest.json" -> "{}", "part-00003-0.csv" -> "stale\n",
      ".part-00003-0.csv.crc" -> "crc", "old.txt" -> "older\n").foreach { case (n, text) =>
      Files.write(dir.resolve(n), text.getBytes("UTF-8"))
    }
    val df = texts.toDF("id", "a", "b").repartition(2)
    val file = BronzeWriter.writeFile(spark, df, SinkConfig(base.toString, "t", "data.txt"), "20251020")
    val ds = graft.meta.DatasetInfo("ds", "test", ";", "UTF-8", "anomesdia", "20251020", "r1", "graft")
    Manifest.write(spark, Manifest.forBronzeFile(df, file, ds, Map.empty, java.time.Clock.systemUTC()), file.path)
    assert(listNames(dir) === Set("data.txt", "data.txt.manifest.json"))
    assert(Files.readAllBytes(dir.resolve("data.txt")).toSeq === sparkBytes(df, "csv").toSeq)
    assert(readManifest(file.path).get("schema_stats").get("linhas").asLong() === 5L)
  }
}
