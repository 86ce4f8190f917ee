package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Log retention ([[TxLogTable.expireLog]]): commits below the newest
  * loadable checkpoint expire, travel below the horizon fails loudly,
  * everything at/above keeps serving, and orphan checkpoint parts are
  * reclaimed.
  */
class RetentionSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("retention").resolve("t").toString

  private def fs(t: String) =
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(t: String, asOf: Option[Long] = None): Set[(Long, String)] =
    TxLogTable.read(spark, t, asOf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def expected(n: Int): Set[(Long, String)] =
    (1 to n).map(i => (i.toLong, s"r$i")).toSet

  test("expireLog drops pre-horizon commits; travel below fails, above serves") {
    val t = freshTable()
    for (i <- 1 to 12)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    // auto-checkpoint landed at 10
    assert(TxLogTable.checkpoints(spark, t) === Seq(10L))
    val gone = TxLogTable.expireLog(spark, t, olderThanMillis = 0L)
    assert(gone === 9, s"commits 1..9 expire, got $gone")
    assert(rows(t) === expected(12))
    assert(rows(t, Some(10L)) === expected(10))
    assert(rows(t, Some(11L)) === expected(11))
    val e = intercept[IllegalArgumentException] { rows(t, Some(5L)) }
    assert(e.getMessage.contains("does not exist"))
    // appends + their txn dedup keep working on the shortened log
    TxLogTable.append(Seq((13L, "r13")).toDF("id", "v").coalesce(1), t,
      txn = Some(("ret-app", 7L)))
    TxLogTable.append(Seq((13L, "r13")).toDF("id", "v").coalesce(1), t,
      txn = Some(("ret-app", 7L))) // replay: must dedup
    assert(rows(t) === expected(13))
    // a second expire is a no-op (nothing below the horizon remains)
    assert(TxLogTable.expireLog(spark, t, olderThanMillis = 0L) === 0)
  }

  test("changes() refuses a range that spans expired versions") {
    val t = freshTable()
    for (i <- 1 to 12)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    TxLogTable.expireLog(spark, t, olderThanMillis = 0L) // 1..9 gone
    // a range fully above the horizon serves
    assert(TxLogTable.changes(spark, t, 10L, 12L).count() === 2L)
    // a range reaching below it must fail loudly — the survivors
    // alone would be a silently incomplete feed
    val e = intercept[IllegalArgumentException] {
      TxLogTable.changes(spark, t, 3L, 12L)
    }
    assert(e.getMessage.contains("expired"))
  }

  test("superseded checkpoints and their parts expire with the commits") {
    val t = freshTable()
    for (i <- 1 to 5)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    TxLogTable.checkpoint(spark, t, maxPartLines = 3) // multi-part at 5
    for (i <- 6 to 7)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    TxLogTable.checkpoint(spark, t) // single-file at 7 — the horizon
    assert(TxLogTable.checkpoints(spark, t) === Seq(5L, 7L))
    TxLogTable.expireLog(spark, t, olderThanMillis = 0L)
    val f = fs(t)
    assert(!f.exists(new Path(t, f"_txlog/${5L}%020d.checkpoint.txt")),
      "superseded checkpoint manifest must expire")
    assert(!f.exists(new Path(t, f"_txlog/${5L}%020d.checkpoint.part-00000.txt")),
      "superseded checkpoint parts must expire")
    assert(rows(t) === expected(7))
    assert(rows(t, Some(7L)) === expected(7))
  }

  test("orphan parts without a manifest are reclaimed; live parts are kept") {
    val t = freshTable()
    for (i <- 1 to 4)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    val v = TxLogTable.checkpoint(spark, t, maxPartLines = 2)
    val f = fs(t)
    // plant an orphan part for a version with no manifest
    val orphan = new Path(t, f"_txlog/${99L}%020d.checkpoint.part-00000.txt")
    val out = f.create(orphan, true)
    try out.write("file=zombie\nend=1\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    TxLogTable.expireLog(spark, t, olderThanMillis = 0L)
    assert(!f.exists(orphan), "manifest-less parts are torn-write litter")
    assert(f.exists(new Path(t,
      f"_txlog/$v%020d.checkpoint.part-00000.txt")),
      "parts referenced by the live manifest must survive")
    assert(rows(t) === expected(4))
  }

  test("no loadable checkpoint: expireLog is a safe no-op on commits") {
    val t = freshTable()
    for (i <- 1 to 3)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.expireLog(spark, t, olderThanMillis = 0L) === 0)
    assert(rows(t) === expected(3))
    assert(rows(t, Some(1L)) === expected(1))
  }

  /** A stream restarted over an expired version it still owes must
    * fail loudly — read by path through the format, or by name through
    * the `graft` catalog; both surfaces run the same micro-batch gate. */
  private def gappedResume(catalog: Boolean): Unit = {
    val (name, t) =
      if (catalog) graftCatalogTable("ret") else ("", freshTable())
    TxLogTable.append(Seq((1L, "r1")).toDF("id", "v").coalesce(1), t)
    val ckpt = java.nio.file.Files.createTempDirectory("ret_sckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ret_sout")
      .resolve("o").toString
    def run(): Unit = {
      val in =
        if (catalog) spark.readStream.table(name)
        else spark.readStream.format("graft-txlog").load(t)
      val q = in.writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // stream checkpoint now holds offset 1
    // while the query is down: more appends, a log checkpoint, and
    // retention — version 2 (which the stream still owes) expires
    TxLogTable.append(Seq((2L, "r2")).toDF("id", "v").coalesce(1), t)
    TxLogTable.append(Seq((3L, "r3")).toDF("id", "v").coalesce(1), t)
    TxLogTable.checkpoint(spark, t)
    assert(TxLogTable.expireLog(spark, t, olderThanMillis = 0L) > 0)
    val err = intercept[Exception] { run() }
    // two replay shapes, one story: a committed offset 1 owes the
    // expired v2 (gap guard); a logged-but-uncommitted initial batch
    // replays pinned at the expired v1 (initial-snapshot guard) —
    // both surface "expired by log retention"
    assert(causeMessages(err).exists(_.contains("expired by log retention")),
      s"gapped resume must fail loudly, got: ${causeMessages(err)}")
    assert(spark.read.parquet(out).count() === 1L,
      "no rows may be served past the gap")
  }

  test("a restarted stream whose checkpointed offset fell below the retention horizon fails loudly") {
    gappedResume(catalog = false)
  }

  test("a restarted catalog stream (readStream.table) below the retention horizon fails loudly") {
    gappedResume(catalog = true)
  }

  test("retention ABOVE the stream's offset leaves a live stream undisturbed") {
    val t = freshTable()
    for (i <- 1 to 12)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    val ckpt = Files.createTempDirectory("ret_live_ck").toString
    val out = "ret_live_counts"
    def start() = spark.readStream.format("graft-txlog").load(t)
      .groupBy("id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName(out)
      .outputMode("complete")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // offset now 12
    // retention reclaims 1..9 — all BELOW the stream's offset: the
    // guard must NOT fire (nothing the stream owes was expired)
    assert(TxLogTable.expireLog(spark, t, olderThanMillis = 0L) === 9)
    TxLogTable.append(Seq((13L, "r13")).toDF("id", "v").coalesce(1), t)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val counts = spark.table(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts.keySet === (1L to 13L).toSet,
      "resume over an expired-below-offset log must serve only the new rows")
    assert(counts.values.forall(_ === 1L), "no row may be re-streamed")
  }

  test("a fresh format (v1) stream on a retention-managed table serves the full snapshot") {
    val t = freshTable()
    for (i <- 1 to 12)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.expireLog(spark, t, olderThanMillis = 0L) === 9)
    val out = Files.createTempDirectory("ret_fresh_out").resolve("o").toString
    val q = spark.readStream.format("graft-txlog").load(t)
      .writeStream.format("parquet")
      .option("checkpointLocation",
        Files.createTempDirectory("ret_fresh_ck").toString)
      .option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === (1L to 12L).toSet,
      "initial batch must include the checkpoint-only (expired-commit) rows")
  }

  test("a fresh catalog (V2) stream on a retention-managed table starts from the snapshot") {
    val wh = Files.createTempDirectory("ret_wh").toString
    spark.conf.set("spark.sql.catalog.gret", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gret.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gret.ns")
    spark.sql("CREATE TABLE gret.ns.t (id BIGINT, v STRING)")
    val path = s"$wh/ns/t"
    for (i <- 1 to 12)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), path)
    // expire everything below the auto-checkpoint: commits 1..9 gone —
    // the old append-replay initial batch would silently serve 3 rows
    assert(TxLogTable.expireLog(spark, path, olderThanMillis = 0L) > 0)
    val out = "ret_v2_counts"
    val q = spark.readStream.table("gret.ns.t")
      .groupBy("v").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName(out)
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("ret_v2ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(out).count() === 12L,
      "initial batch must be the full snapshot incl. checkpoint-only rows")
  }
}
