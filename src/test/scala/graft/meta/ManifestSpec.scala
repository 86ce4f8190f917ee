package graft.meta

import graft.SparkSpec
import java.nio.file.Files

class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)
  private val ds = DatasetInfo("ds", "test", ";", "UTF-8", "anomesdia", "20251020", "r1", "graft")

  test("tableStats: one job for rows + all null counts") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("i", "s")
    val (rows, nulls) = Manifest.tableStats(df)
    assert(rows === 3L)
    assert(nulls === Map("i" -> 1L, "s" -> 1L))
  }

  /** The preview `BronzeWriter.writeFile` takes from the parts it
    * writes for `df` (coalesced to one partition first, if asked). */
  private def landedPreview(df: org.apache.spark.sql.DataFrame, coalesce: Boolean): Seq[String] = {
    val sink = graft.config.SinkConfig(Files.createTempDirectory("graft-preview").toString, "t", "f.txt")
    graft.sink.BronzeWriter.writeFile(spark, if (coalesce) df.coalesce(1) else df, sink, "20251020").preview
  }

  test("landed preview equals Manifest.preview on multi-partition frames, NULL fields left out") {
    val local = spark.createDataFrame(
      (1 to 9).map(i => (i, if (i % 2 == 0) None else Some(s"s$i"), if (i == 1) None else Some(i * 1.5))))
      .toDF("i", "s", "d")
    val ranged = spark.range(0, 100, 1, 8).selectExpr(
      "id", "IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS `a.b`", "IF(id < 2, NULL, id / 4) AS q")
    // a local frame is split into this many slices when it runs
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "4")
    try {
      assert(local.rdd.getNumPartitions === 4)
      assert(ranged.rdd.getNumPartitions === 8)
      for (df <- Seq(local, ranged, ranged.filter("id >= 30")); coalesce <- Seq(false, true)) {
        val want = Manifest.preview(df)
        assert(want.length === 3)
        assert(landedPreview(df, coalesce) === want)
      }
    } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
    assert(Manifest.preview(local).head === """{"i":1,"s":"s1"}""")
    assert(Manifest.preview(ranged).head === """{"id":0}""")
  }

  test("landed preview of a 0-row frame is empty, and the manifest writes null") {
    val empty = spark.range(0, 10, 1, 4).toDF().filter("id < 0")
    assert(landedPreview(empty, coalesce = true) === Nil)
    val m = Manifest(CoreInfo("f", "/d", 0L, "00", "2025-10-20T12:00:00"), ds,
      SchemaStats(Seq("id"), Map("id" -> "bigint"), 0L, Map("id" -> 0L), Nil))
    assert(Manifest.toJson(m).contains("\"preview\": null"))
  }

  test("forFileOnly: header columns, line count minus header, BOM stripped") {
    val tmp = Files.createTempDirectory("graft-manifest")
    val f = tmp.resolve("data.csv")
    Files.write(f, "﻿a;b;c\n1;2;3\n4;5;6\n".getBytes("UTF-8"))
    val m = Manifest.forFileOnly(spark, f.toString, ds, clock = clock)
    assert(m.schemaStats.columns === Seq("a", "b", "c"))
    assert(m.schemaStats.rows === 2L)
    assert(m.core.sizeBytes === Files.size(f))
    assert(m.core.generatedAt === "2025-10-20T12:00:00")
    assert(m.core.md5.length === 32)
  }

  test("toJson escapes control characters and quotes") {
    val m = Manifest(
      CoreInfo("f\"n", "/d", 1L, "00", "2025-10-20T12:00:00"),
      ds,
      SchemaStats(Seq("c\t1"), Map("c\t1" -> "string"), 1L, Map("c\t1" -> 0L), Seq()))
    val js = Manifest.toJson(m)
    assert(js.contains("f\\\"n"))
    assert(js.contains("c\\t1"))
    // must be parseable JSON
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
  }

  test("forFileOnly on a missing file raises FileNotFoundException") {
    intercept[java.io.FileNotFoundException] {
      Manifest.forFileOnly(spark, "/tmp/graft-does-not-exist.csv", ds, clock = clock)
    }
  }
}
