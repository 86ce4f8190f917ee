package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sink.TxLogTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The incremental TxLog streaming SOURCE (commits → micro-batches),
  * closing the lakehouse loop the exactly-once sink opened: appends
  * stream exactly once, compaction adds nothing, and a restart on the
  * same checkpoint resumes at the last version with no reprocessing.
  */
class TxLogStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  test("appends become micro-batches exactly once across a restart; compaction adds nothing") {
    val tmp = Files.createTempDirectory("graft-txsrc")
    val table = tmp.resolve("t").toString
    val ckpt = tmp.resolve("ckpt").toString
    val outTable = "txsrc_counts"

    def batch(ids: Range) = ids.map(i => (i.toLong, s"r$i")).toDF("id", "v")

    TxLogTable.append(batch(0 until 5).coalesce(1), table)
    TxLogTable.append(batch(5 until 9).coalesce(1), table)

    // complete-mode per-id counts: any re-streamed row shows up as a
    // count > 1, any skipped row as a missing id
    def start() = spark.readStream.format("graft-txlog").load(table)
      .groupBy("id").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(outTable)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt.toString)
      .start()

    val q1 = start()
    q1.processAllAvailable()
    val afterB1 = spark.table(outTable).as[(Long, Long)].collect().toMap
    assert(afterB1.keySet === (0L until 9L).toSet)
    assert(afterB1.values.forall(_ === 1L), s"duplicated rows: $afterB1")
    q1.stop()

    // while the query is DOWN: a replayed txn append (no-op), a
    // compaction (rewrites old rows — must NOT re-stream), and real
    // new appends
    TxLogTable.append(batch(100 until 103).coalesce(1), table,
      txn = Some(("srcApp", 1L)))
    TxLogTable.append(batch(100 until 103).coalesce(1), table,
      txn = Some(("srcApp", 1L))) // replay → commits nothing
    TxLogTable.compact(spark, table,
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 20)
    TxLogTable.append(batch(200 until 202).coalesce(1), table)

    val q2 = start()
    q2.processAllAvailable()
    val afterB2 = spark.table(outTable).as[(Long, Long)].collect().toMap
    q2.stop()

    val want = (0L until 9L) ++ (100L until 103L) ++ (200L until 202L)
    assert(afterB2.keySet === want.toSet)
    assert(afterB2.values.forall(_ === 1L),
      s"restart reprocessed or compaction re-streamed: " +
        afterB2.filter(_._2 > 1L))
  }

  test("full lakehouse loop: stream -> exactly-once sink -> table -> incremental source -> agg") {
    val tmp = Files.createTempDirectory("graft-loop")
    val table = tmp.resolve("t").toString
    val sinkCkpt = tmp.resolve("sink-ck").toString
    val srcCkpt = tmp.resolve("src-ck").toString
    val outTable = "loop_counts"
    implicit val sc = spark.sqlContext

    // producer: memory stream → transactional TxLog sink
    val producer = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Tick]
    val writeQ = StreamingOps.txLogSink(producer.toDF(), table, "loopq", sinkCkpt)
    try {
      producer.addData(graft.streaming.Tick(1L, "x"), graft.streaming.Tick(2L, "y"))
      writeQ.processAllAvailable()

      // consumer: the SAME table streamed back out through the source
      val readQ = spark.readStream.format("graft-txlog").load(table)
        .groupBy("v").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .writeStream.format("memory").queryName(outTable)
        .outputMode("complete")
        .option("checkpointLocation", srcCkpt)
        .start()
      try {
        readQ.processAllAvailable()
        assert(spark.table(outTable).count() === 2L)

        // more producer data flows through BOTH hops
        producer.addData(graft.streaming.Tick(3L, "x"))
        writeQ.processAllAvailable()
        readQ.processAllAvailable()
        val counts = spark.table(outTable).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        assert(counts === Map("x" -> 2L, "y" -> 1L))
      } finally readQ.stop()
    } finally writeQ.stop()
  }

  test("writeStream.format(graft-txlog) commits micro-batches exactly once") {
    val tmp = Files.createTempDirectory("graft-fmtsink")
    val table = tmp.resolve("t").toString
    val ckpt = tmp.resolve("ckpt").toString
    implicit val sc = spark.sqlContext
    val producer = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.Tick]
    def start() = producer.toDF().writeStream
      .format("graft-txlog")
      .option("path", table)
      .option("txnApp", "fmtsinkq")
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      producer.addData(Tick(1L, "a"), Tick(2L, "b"))
      q1.processAllAvailable()
      producer.addData(Tick(3L, "c"))
      q1.processAllAvailable()
    } finally q1.stop()
    def contents() = TxLogTable.read(spark, table)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(contents() === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // restart on the same checkpoint: re-delivered batches are txn
    // no-ops; only genuinely new data lands
    val q2 = start()
    try {
      producer.addData(Tick(4L, "d"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(contents() === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val appends = TxLogTable.history(spark, table)
      .filter($"action" === "append").count()
    assert(appends === TxLogTable.versions(spark, table).size.toLong,
      "every committed version must be a distinct txn append")
  }

  /** The append-only stream's delete guard and its `ignoreDeletes`
    * opt-out — read by path through the format, or by name through the
    * `graft` catalog; both surfaces run the same micro-batch gate. */
  private def deleteGuard(catalog: Boolean): Unit = {
    val tmp = Files.createTempDirectory("graft-txguard")
    val (tableName, table) =
      if (catalog) graftCatalogTable("guard") else ("", tmp.resolve("t").toString)
    val ckpt = tmp.resolve("ckpt").toString
    val sink = if (catalog) "cguard" else "guard"
    def batch(ids: Range) = ids.map(i => (i.toLong, s"r$i")).toDF("id", "v")

    TxLogTable.append(batch(0 until 4).coalesce(1), table)
    def start(name: String, opts: Map[String, String]) = {
      val in =
        if (catalog) spark.readStream.options(opts).table(tableName)
        else spark.readStream.options(opts).format("graft-txlog").load(table)
      in.groupBy("id").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start(s"${sink}1", Map.empty)
    q1.processAllAvailable()
    q1.stop()

    TxLogTable.delete(spark, table, "id = 1") // rewrite commit
    TxLogTable.append(batch(10 until 12).coalesce(1), table)

    // default: the un-streamable rewrite must fail the query loudly
    val q2 = start(s"${sink}2", Map.empty)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("delete/update")),
      s"want the rewrite-guard message, got: ${messages(ex)}")
    q2.stop()

    // opt-in: inserts-only streaming proceeds past the rewrite
    val q3 = start(s"${sink}3", Map("ignoreDeletes" -> "true"))
    q3.processAllAvailable()
    val counts = spark.table(s"${sink}3").as[(Long, Long)].collect().toMap
    q3.stop()
    assert(counts.keySet === Set(0L, 1L, 2L, 3L, 10L, 11L),
      "appends after the rewrite must stream; the delete is skipped by contract")
    assert(counts.values.forall(_ === 1L))
  }

  test("a row-level delete fails the append-only stream unless ignoreDeletes is set") {
    deleteGuard(catalog = false)
  }

  test("a row-level delete fails the catalog stream (readStream.table) unless ignoreDeletes is set") {
    deleteGuard(catalog = true)
  }

  test("readChangeFeed streams the row-level CDC feed incl. deletes, resumes on restart") {
    val t = Files.createTempDirectory("cdfstream").resolve("t").toString
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val ckpt = Files.createTempDirectory("cdf_ckpt").toString
    val out = Files.createTempDirectory("cdf_out").resolve("o").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-txlog")
        .option("readChangeFeed", "true").load(t)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    def feed(): Set[(Long, String, String, Long)] =
      spark.read.parquet(out).collect().map(r => (
        r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(feed() === Set((1L, "a", "insert", 1L), (2L, "b", "insert", 1L)))
    // a DELETE streams as a delete ROW (no failure), an update as a
    // delete+insert pair; restart picks up only the new versions
    TxLogTable.delete(spark, t, "id = 1")                       // v2
    TxLogTable.updateVectors(spark, t, "id = 2",
      Map("v" -> "'b2'"))                                       // v3 (MOR)
    run()
    assert(feed() === Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L),
      (2L, "b", "delete", 3L), (2L, "b2", "insert", 3L)))
    // compaction is silent in the feed
    TxLogTable.compact(spark, t, smallFileBytes = 1L << 30)     // v4
    run()
    assert(feed().size === 5, "compaction must add nothing to the feed")
  }
}
