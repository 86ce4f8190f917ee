package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.{MakeCsv, Sessions}
import graft.config.PipelineConfig

/** A cut CSV landing whose write task fails once and is retried lands
  * what the landing without the fault lands. Task retries need a
  * `local[N,F]` master, and a JVM holds one SparkContext, so the
  * landings run in a child JVM ([[LandingRetryMain]]) on the test
  * classpath.
  */
class LandingRetrySpec extends AnyFunSuite {

  test("a retried range task lands the fault-free bytes, counts and preview, and leaves no parts") {
    val work = Files.createTempDirectory("graft-retry")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin) ++ jvm ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      LandingRetryMain.getClass.getName.stripSuffix("$"), work.toString)
    val log = work.resolve("child.log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    val finished = proc.waitFor(300, TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    val output = new String(Files.readAllBytes(log), UTF_8)
    assert(finished && proc.exitValue == 0, output)
    val result = output.linesIterator.collect { case s"retry-spec $k $v" => k -> v }.toMap

    assert(result("ranges") === "4", output)
    assert(result("failed-tasks") === "1", output)
    val Seq(clean, faulty) = Seq("clean", "faulty").map(k => Paths.get(result(k)))
    assert(Files.readAllBytes(faulty).toSeq === Files.readAllBytes(clean).toSeq)
    def stats(f: Path) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(f.resolveSibling(f.getFileName.toString + ".manifest.json").toFile)
    Seq("linhas", "nulos", "preview").foreach { k =>
      assert(stats(faulty).get("schema_stats").get(k) === stats(clean).get("schema_stats").get(k), k)
    }
    assert(stats(faulty).get("core").get("hash_md5") === stats(clean).get("core").get("hash_md5"))
    val names = scala.util.Using.resource(Files.list(faulty.getParent))(_.iterator.asScala.map(_.getFileName.toString).toSet)
    assert(names === Set("indmunicipios.txt", "indmunicipios.txt.manifest.json"))
  }
}

/** The landings [[LandingRetrySpec]] checks, on `local[4,2]`: a bench-
  * shaped CSV of four ranges landed by `CsvIngestion.run`, then the
  * same frame landed with range 1's write task throwing midway through
  * its first attempt. Prints `retry-spec <key> <value>` lines.
  */
object LandingRetryMain {
  private val seen = new AtomicInteger

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Sessions.create(Map("spark.master" -> "local[4,2]", "spark.sql.shuffle.partitions" -> "4"))
    val failed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.reason != Success) failed.incrementAndGet()
    })
    val input = work.resolve("in.csv")
    MakeCsv.generate(3, 13000, input)
    def cfg(name: String) = {
      val c = PipelineConfig.fromJsonFile("configs/indicadores_municipios.json")
      c.copy(csv = c.csv.map(_.copy(path = input.toString)), sink = c.sink.copy(baseDir = work.resolve(name).toString))
    }
    val clock = java.time.Clock.fixed(java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)
    val failOnce = udf { (s: String) =>
      val task = TaskContext.get()
      if (task.partitionId == 1 && task.attemptNumber == 0 && seen.incrementAndGet() == 500)
        throw new RuntimeException("fault injected into range 1's first attempt")
      s
    }.asNondeterministic()
    try {
      val clean = CsvIngestion.run(spark, cfg("clean"), "retry", clock)
      val (prepared, _) = CsvIngestion.prepare(spark, cfg("faulty"))
      val faulty = CsvIngestion.land(spark, prepared.withColumn("municipio", failOnce(col("municipio"))),
        cfg("faulty"), "20251020", "retry", clock)
      org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
      Seq("ranges" -> prepared.rdd.getNumPartitions, "failed-tasks" -> failed.get,
        "clean" -> localPath(clean.dataFile), "faulty" -> localPath(faulty.dataFile))
        .foreach { case (k, v) => println(s"retry-spec $k $v") }
    } finally spark.stop()
  }

  private def localPath(file: String) = Paths.get(new org.apache.hadoop.fs.Path(file).toUri.getPath)
}
