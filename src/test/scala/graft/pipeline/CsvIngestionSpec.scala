package graft.pipeline

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.validate.SchemaError
import java.nio.file.Files

/** End-to-end CSV pipeline test on a fixture shaped like the
  * reference's input (reference data-lake/temp/IBC_municipios_...csv:
  * UTF-8 BOM, `;` delimiter, decimal commas, quoted field embedding
  * the delimiter).
  */
class CsvIngestionSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  private def writeFixture(dir: java.nio.file.Path): String = {
    val csv = "﻿" + // UTF-8 BOM
      "Ano;Código Município;Município;Densidade\n" +
      "2023;1100015;\"Alta Floresta; D'Oeste\";29,45\n" +
      "2023;1100023;Ariquemes;1.234,56\n" +
      "2023;1100031;Cabixi;\n" +
      "2023;bad_code;Cacoal;44\n"
    val f = dir.resolve("input.csv")
    Files.write(f, csv.getBytes("UTF-8"))
    f.toString
  }

  private def cfg(input: String, baseDir: String): PipelineConfig = PipelineConfig.fromJson(
    s"""{
       | "dataset_id": "tb_test_municipios",
       | "origin": "unit-test",
       | "csv": {"path": "$input", "sep": ";", "encoding": "UTF-8", "header": true},
       | "schema": {
       |   "rename_map": {
       |     "Ano": "ano", "Código Município": "codigo_municipio",
       |     "Município": "municipio", "Densidade": "densidade"},
       |   "required_columns": ["ano", "codigo_municipio", "municipio"],
       |   "integer_fields": ["ano", "codigo_municipio"],
       |   "string_fields": ["municipio"],
       |   "float_fields": ["densidade"]},
       | "sink": {"base_dir": "$baseDir", "table": "tb_test_municipios",
       |          "file_name": "munic.txt"},
       | "preview_columns": ["municipio", "densidade"],
       | "preview_limit": 10
       |}""".stripMargin)

  test("full pipeline: BOM header, renames, locale casts, bronze layout, manifest") {
    val tmp = Files.createTempDirectory("graft-csv-test")
    val input = writeFixture(tmp)
    val bronze = tmp.resolve("bronze").toString

    val res = CsvIngestion.run(spark, cfg(input, bronze), runId = "run-1", clock = clock)

    assert(res.rows === 4)
    // Hive partition layout with the clock-driven date
    assert(res.dataFile.contains("tb_test_municipios/anomesdia=20251020/munic.txt"))
    assert(new java.io.File(new java.net.URI(res.manifestFile).getPath).exists
      || new java.io.File(res.manifestFile).exists)
    // the partition directory holds the data file and its manifest only:
    // no _SUCCESS marker, no hidden .crc checksum sidecars
    val partDir = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(res.dataFile).toUri.getPath).getParent
    val names = scala.util.Using.resource(Files.list(partDir))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet)
    assert(names === Set("munic.txt", "munic.txt.manifest.json"))

    val (df, extras) = CsvIngestion.prepare(spark, cfg(input, bronze))
    assert(extras.isEmpty)
    // BOM stripped: first column is `ano`, not ﻿Ano
    assert(df.columns.toSeq === Seq("ano", "codigo_municipio", "municipio", "densidade"))
    val rows = df.orderBy("codigo_municipio").collect()
    // locale float: comma decimal and thousands dot
    val byName = df.collect().map(r => r.getAs[String]("municipio") -> r).toMap
    assert(byName("Alta Floresta; D'Oeste").getAs[Double]("densidade") === 29.45)
    assert(byName("Ariquemes").getAs[Double]("densidade") === 1234.56)
    assert(byName("Cabixi").isNullAt(3))          // empty → null
    assert(byName("Cacoal").getAs[Double]("densidade") === 44.0)
    assert(byName("Cacoal").isNullAt(1))          // bad int → null
    assert(rows.length === 4)

    val manifestJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(res.dataFile + ".manifest.json")), "UTF-8")
    assert(manifestJson.contains("\"linhas\": 4"))
    assert(manifestJson.contains("\"codigo_municipio\": 1")) // null count
    assert(manifestJson.contains("\"partition_value\": \"20251020\""))
    assert(manifestJson.contains("\"hash_md5\""))
  }

  test("missing required column raises SchemaError") {
    val tmp = Files.createTempDirectory("graft-csv-bad")
    val f = tmp.resolve("bad.csv")
    Files.write(f, "OnlyCol\n1\n".getBytes("UTF-8"))
    val c = cfg(f.toString, tmp.resolve("bronze").toString)
    intercept[SchemaError] { CsvIngestion.prepare(spark, c) }
  }

  test("undeclared extra columns are kept and reported") {
    val tmp = Files.createTempDirectory("graft-csv-extra")
    val f = tmp.resolve("extra.csv")
    // a dot in a header is part of the name, not a struct path
    Files.write(f,
      "Ano;Código Município;Município;Densidade;Surprise;Pop. 4G\n2023;1;X;1,0;zzz;\n"
        .getBytes("UTF-8"))
    val c = cfg(f.toString, tmp.resolve("bronze").toString)
    val (df, extras) = CsvIngestion.prepare(spark, c)
    assert(extras === Seq("Surprise", "Pop. 4G"))
    assert(df.columns.contains("Surprise"))
    assert(CsvIngestion.previewDf(df, c.copy(previewColumns = Seq("Pop. 4G"))).columns === Array("Pop. 4G"))

    val res = CsvIngestion.run(spark, c, runId = "run-extra", clock = clock)
    assert(res.undeclaredColumns === Seq("Surprise", "Pop. 4G"))
    val stats = readManifest(res.dataFile).get("schema_stats")
    assert(stats.get("nulos").get("Pop. 4G").asLong() === 1L)
    assert(stats.get("preview").get(0).get("Surprise").asText() === "zzz")
  }

  test("one run takes 1 job (the write); manifest counts match bronze") {
    val tmp = Files.createTempDirectory("graft-csv-jobs")
    val c = cfg(writeFixture(tmp), tmp.resolve("bronze").toString)
    val (res, jobs) = countJobs(CsvIngestion.run(spark, c, runId = "run-jobs", clock = clock))
    assert(jobs === 1)
    assertManifestCountsMatchBronze(res.dataFile)
  }

  test("a header-only CSV lands a 0-row file with zero counts and no preview") {
    val tmp = Files.createTempDirectory("graft-csv-empty")
    val f = tmp.resolve("empty.csv")
    Files.write(f, "Ano;Código Município;Município;Densidade\n".getBytes("UTF-8"))
    val res = CsvIngestion.run(spark, cfg(f.toString, tmp.resolve("bronze").toString),
      runId = "run-empty", clock = clock)

    assert(res.rows === 0L)
    val bronze = new String(Files.readAllBytes(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(res.dataFile).toUri.getPath)), "UTF-8")
    assert(bronze === "ano;codigo_municipio;municipio;densidade\n")
    val stats = readManifest(res.dataFile).get("schema_stats")
    assert(stats.get("linhas").asLong() === 0L)
    Seq("ano", "codigo_municipio", "municipio", "densidade").foreach(col =>
      assert(stats.get("nulos").get(col).asLong() === 0L, col))
    assert(stats.get("preview").isNull)
  }
}
