package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM per `sbt test`
  * run; getOrCreate dedups across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Every message down a throwable's cause chain — streaming
    * failures wrap the interesting error in StreamingQueryException
    * layers, so asserts match against the whole chain. */
  def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ causeMessages(e.getCause))

  /** `f`'s result and the number of Spark jobs it submitted. Jobs are
    * matched by a local property set on this thread, so other threads'
    * jobs do not count; the listener bus delivers events on its own
    * thread, so it is drained before the count is read.
    */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val result = f
      org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** A fresh table name in namespace `ns` of the `graft` catalog, and
    * the table root it maps to (nothing is created there yet). The
    * catalog is registered unless a suite already did: catalogs are
    * cached per session, so the first registration's warehouse holds.
    */
  def graftCatalogTable(ns: String): (String, String) = {
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        java.nio.file.Files.createTempDirectory("graft_cat_wh").toString)
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    (s"graft.$ns.$name",
      s"${spark.conf.get("spark.sql.catalog.graft.warehouse")}/$ns/$name")
  }

  /** A local file named by a Hadoop path string (`file:/...` or `/...`). */
  def localPath(file: String): java.nio.file.Path =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(file).toUri.getPath)

  /** A bronze file's manifest sidecar, parsed. */
  def readManifest(dataFile: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(new org.apache.hadoop.fs.Path(dataFile + ".manifest.json").toUri.getPath))

  /** Assert the manifest's `linhas`/`nulos` equal `Manifest.tableStats`
    * of the bronze file read back (all columns as strings; the writer
    * lands NULL as an empty field, which reads back as NULL).
    */
  def assertManifestCountsMatchBronze(dataFile: String): Unit = {
    import scala.jdk.CollectionConverters._
    val stats = readManifest(dataFile).get("schema_stats")
    val bronze = graft.sources.CsvSource.read(spark, graft.config.CsvReadConfig(dataFile))
    val (rows, nulls) = graft.meta.Manifest.tableStats(bronze)
    assert(stats.get("linhas").asLong() === rows)
    assert(stats.get("nulos").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap === nulls)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.create(Map(
      "spark.master" -> "local[2]",
      "spark.app.name" -> "graft-test",
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
