package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sink.TxLogTable
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The `graft` TableCatalog: full SQL lifecycle against TxLog tables
  * with no temp-view plumbing — CREATE/INSERT/SELECT/time travel/
  * DELETE/ALTER/TRUNCATE/DROP — plus the plan-quality claim: catalog
  * reads run Spark's vectorized parquet V2 scan over the commit-log
  * file index, and WHERE-driven committed-stats pruning still fires.
  */
class GraftCatalogSpec extends SparkSpec {

  import spark.implicits._

  // V2 catalogs are CACHED per session at first instantiation —
  // whichever suite touches `graft` first pins its warehouse conf, so
  // every suite must use the if-unset pattern and read the effective
  // value back (setting a different warehouse later would silently
  // not apply)
  private lazy val warehouse = {
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        Files.createTempDirectory("graft_cat_wh").toString)
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    spark.conf.get("spark.sql.catalog.graft.warehouse")
  }

  private def batchScans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case s: BatchScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
  }.flatten

  test("SQL lifecycle: create, insert, select, overwrite, truncate, drop") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.life (k BIGINT, v STRING)")
    // empty table reads as zero rows with the declared schema
    assert(spark.sql("SELECT * FROM graft.lake.life").collect().isEmpty)
    assert(spark.table("graft.lake.life").schema.fieldNames.toSeq ===
      Seq("k", "v"))

    spark.sql("INSERT INTO graft.lake.life VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.lake.life VALUES (3, 'c')")
    assert(spark.sql("SELECT sum(k) AS s FROM graft.lake.life")
      .head().getLong(0) === 6L)

    // INSERT OVERWRITE replaces contents as one atomic commit
    spark.sql("INSERT OVERWRITE graft.lake.life VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM graft.lake.life").collect().map(
      r => (r.getLong(0), r.getString(1))).toSet === Set((9L, "z")))

    spark.sql("TRUNCATE TABLE graft.lake.life")
    assert(spark.sql("SELECT * FROM graft.lake.life").collect().isEmpty)

    assert(spark.sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).contains("life"))
    spark.sql("DROP TABLE graft.lake.life")
    intercept[Exception](spark.sql("SELECT * FROM graft.lake.life").collect())
  }

  test("VERSION AS OF / TIMESTAMP AS OF resolve through loadTable") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.tt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.tt VALUES (1, 'a')")   // v2
    val tsAfterV2 = System.currentTimeMillis()
    Thread.sleep(1100) // commit mtimes have second granularity on some fs
    spark.sql("INSERT INTO graft.lake.tt VALUES (2, 'b')")   // v3
    assert(spark.sql("SELECT count(*) FROM graft.lake.tt").head().getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.tt VERSION AS OF 2")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.tt VERSION AS OF 1")
      .head().getLong(0) === 0L)
    val ts = new java.sql.Timestamp(tsAfterV2).toString.stripSuffix(".0")
    assert(spark.sql(
      s"SELECT count(*) FROM graft.lake.tt TIMESTAMP AS OF '$ts'")
      .head().getLong(0) === 1L)
    // a time-travel snapshot rejects writes
    intercept[Exception](
      spark.sql("INSERT INTO graft.lake.tt VERSION AS OF 2 VALUES (9, 'x')"))
  }

  test("DELETE FROM routes predicates into the copy-on-write rewrite") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.del (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.del SELECT id, concat('r', id) " +
      "FROM range(0, 100)")
    spark.sql("DELETE FROM graft.lake.del WHERE k % 10 = 0")
    assert(spark.sql("SELECT count(*) FROM graft.lake.del").head().getLong(0) === 90L)
    // history shows the rewrite; earlier versions still time travel
    val t = s"$warehouse/lake/del"
    assert(TxLogTable.history(spark, t).filter("action = 'rewrite'").count() === 1L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.del VERSION AS OF 2")
      .head().getLong(0) === 100L)
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only; old rows null-fill") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.evo (k BIGINT)")
    spark.sql("INSERT INTO graft.lake.evo VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.lake.evo ADD COLUMNS (w DOUBLE)")
    spark.sql("INSERT INTO graft.lake.evo VALUES (3, 1.5)")
    val got = spark.sql("SELECT k, w FROM graft.lake.evo ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(got.toSeq === Seq((1L, None), (2L, None), (3L, Some(1.5))))
    // metadata-only: the evolve commit added no data files
    val h = TxLogTable.history(spark, s"$warehouse/lake/evo")
      .filter("action = 'evolve'").collect()
    assert(h.length === 1 && h.head.getAs[Int]("n_added_files") === 0)
  }

  test("catalog SQL reads prune files on committed stats (V2 parquet scan)") {
    warehouse
    // three single-file commits with tight non-overlapping k ranges
    val t = s"$warehouse/lake/pruned"
    for (base <- Seq(0L, 100L, 200L))
      TxLogTable.append((base until base + 50L).map(i => (i, s"r$i"))
        .toDF("k", "v").coalesce(1), t)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      val scans = batchScans(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected a V2 BatchScanExec (vectorized parquet)")
      scans.head.partitions.flatten.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString)
        case _ => Nil
      }.distinct.size.toLong
    }
    val q = spark.sql("SELECT k FROM graft.lake.pruned WHERE k >= 200")
    assert(q.collect().length === 50)
    val numFiles = filesRead(q)
    assert(numFiles === 1L,
      s"stats pruning should read 1 of 3 files, read $numFiles")
    // unfiltered control reads all three
    val all = spark.sql("SELECT k FROM graft.lake.pruned")
    assert(all.collect().length === 150)
    assert(filesRead(all) === 3L)
  }

  test("a mid-stream column rename is refused, not silently null-filled") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.renstr (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.renstr VALUES (1, 'a')")
    val q = spark.readStream.table("graft.lake.renstr")
      .writeStream.format("parquet")
      .option("checkpointLocation",
        Files.createTempDirectory("gcat_ren_ckpt").toString)
      .option("path",
        Files.createTempDirectory("gcat_ren_out").resolve("o").toString)
      .start()
    try {
      q.processAllAvailable()
      // the vectorized stream path was chosen on a mapping-free
      // snapshot; a rename landing mid-stream would have it read
      // physical parquet names against the logical start-schema —
      // null-filling the renamed column. It must stop loudly instead.
      spark.sql("ALTER TABLE graft.lake.renstr RENAME COLUMN v TO val")
      spark.sql("INSERT INTO graft.lake.renstr VALUES (2, 'b')")
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(causeMessages(e).exists(_.contains("column-mapping")),
        s"mid-stream rename must refuse, got: ${causeMessages(e)}")
    } finally q.stop()
  }

  test("a DROP COLUMN racing the stream's first batch is refused; historical drops pass") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.dropstr (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.dropstr VALUES (1, 'a')")
    val path = s"$warehouse/lake/dropstr"
    // the stream handle as a scan built on the PRE-drop snapshot
    // would carry it (buildDropped empty); drive planInputPartitions
    // directly so the race window is deterministic
    val st = new GraftMicroBatchStream(spark, path,
      () => null, ignoreDeletes = false, buildDropped = Set.empty)
    spark.sql("ALTER TABLE graft.lake.dropstr DROP COLUMN v")
    spark.sql("INSERT INTO graft.lake.dropstr VALUES (2)")
    val hi = TxLogTable.versions(spark, path).max
    val e = intercept[IllegalStateException] {
      st.planInputPartitions(st.deserializeOffset("0"),
        st.deserializeOffset(hi.toString))
    }
    assert(e.getMessage.contains("dropped column"),
      s"drop racing the first batch must refuse, got: ${e.getMessage}")
    // a drop already present at scan build is vectorized-safe (old
    // files carry the column as ignorable extra data): must serve
    val st2 = new GraftMicroBatchStream(spark, path,
      () => null, ignoreDeletes = false, buildDropped = Set("v"))
    assert(st2.planInputPartitions(st2.deserializeOffset("0"),
      st2.deserializeOffset(hi.toString)).nonEmpty)
    // and a drop landing MID-stream (in a later batch's range) is
    // caught by the incremental mapping check, as for renames
    val e2 = intercept[IllegalStateException] {
      st2.planInputPartitions(st2.deserializeOffset("1"),
        st2.deserializeOffset(hi.toString))
    }
    assert(e2.getMessage.contains("column-mapping"))
  }

  test("a DROP COLUMN between readStream.table and start() is refused as a dropped column") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.dropstart (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.dropstart VALUES (1, 'a')")
    // the stream's schema (k, v) is fixed here, at analysis
    val in = spark.readStream.table("graft.lake.dropstart")
    spark.sql("ALTER TABLE graft.lake.dropstart DROP COLUMN v")
    spark.sql("INSERT INTO graft.lake.dropstart VALUES (2)")
    val q = in.writeStream.format("memory").queryName("dropstart")
      .option("checkpointLocation",
        Files.createTempDirectory("gcat_dropstart_ckpt").toString)
      .start()
    val e = try intercept[Exception] { q.processAllAvailable() } finally q.stop()
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(c => c +: chain(c.getCause))
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("dropped column")),
      s"a drop after the stream's schema was fixed must refuse, got: ${causeMessages(e)}")
  }

  test("a held DataFrame reads the snapshot it was loaded at, through either surface") {
    warehouse
    for (surface <- Seq("catalog", "format")) {
      val name = s"held_$surface"
      spark.sql(s"CREATE TABLE graft.lake.$name (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO graft.lake.$name VALUES (1, 'a')")
      val df =
        if (surface == "catalog") spark.table(s"graft.lake.$name")
        else spark.read.format("graft-txlog").load(s"$warehouse/lake/$name")
      spark.sql(s"ALTER TABLE graft.lake.$name DROP COLUMN v")
      spark.sql(s"INSERT INTO graft.lake.$name VALUES (2)")
      // neither version holds (2, null) under the schema (k, v): the
      // newer files read under the older schema match no version
      val got = df.where("k > 0").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === Seq((1L, "a")), s"$surface read ${got.mkString(", ")}")
    }
  }

  test("spark.readStream.table streams commits as micro-batches, resumes on restart") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.str (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.lake.str VALUES (1, 'a'), (2, 'b')")
    val ckpt = Files.createTempDirectory("gcat_ckpt").toString
    val out = Files.createTempDirectory("gcat_out").resolve("o").toString
    def run(): Unit = {
      val q = spark.readStream.table("graft.lake.str")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 2L)
    spark.sql("INSERT INTO graft.lake.str VALUES (3, 'c')")
    run() // restart on the same checkpoint: only the new commit streams
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 3, s"exactly-once resume, got ${got.mkString(",")}")
    assert(got.toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a row-level delete fails the append-only stream loudly
    spark.sql("DELETE FROM graft.lake.str WHERE k = 1")
    spark.sql("INSERT INTO graft.lake.str VALUES (4, 'd')")
    val q2 = spark.readStream.table("graft.lake.str")
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(err.getMessage.contains("delete/update commit") ||
      Option(err.getCause).exists(_.getMessage.contains("delete/update commit")))
  }

  test("rename and listTables") {
    warehouse
    spark.sql("CREATE TABLE graft.lake.rn1 (k BIGINT)")
    spark.sql("INSERT INTO graft.lake.rn1 VALUES (7)")
    spark.sql("ALTER TABLE graft.lake.rn1 RENAME TO lake.rn2")
    assert(spark.sql("SELECT k FROM graft.lake.rn2").head().getLong(0) === 7L)
    val names = spark.sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).toSet
    assert(names.contains("rn2") && !names.contains("rn1"))
  }
}
