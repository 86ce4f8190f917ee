package graft.sink

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import graft.SparkSpec
import graft.sources.{GraftMicroBatchStream, TxLogStreamSource}
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset

/** How often one operation touches the commit log: each operation
  * lists `_txlog` once and opens each commit file at most once, and a
  * writer that loses a commit race reads only the commits it missed.
  */
class TxLogAccessSpec extends SparkSpec {

  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.countlog.impl", classOf[CountingLogFs].getName)

  /** A table of five appends (v1..v5, two of them under txn `app`). */
  private def table(): String = {
    val t = s"countlog://${Files.createTempDirectory("txlog-access")}/t"
    for (i <- 1 to 5)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t,
        txn = if (i > 3) Some(("app", i.toLong)) else None)
    t
  }

  /** `op`'s result with the `_txlog` listings and per-file opens it made. */
  private def measure[T](op: => T): (T, Int, Map[String, Int]) = {
    CountingLogFs.reset()
    val r = op
    (r, CountingLogFs.listings.get, CountingLogFs.opens.toMap)
  }

  /** Commit files v1..vN, each opened once. */
  private def eachOnce(n: Int): Map[String, Int] =
    (1 to n).map(v => f"$v%020d.txt" -> 1).toMap

  /** One listing, and each of the table's commits (five by default)
    * opened once. */
  private def assertOnePass(what: String, listings: Int,
      opens: Map[String, Int], commits: Int = 5): Unit = {
    assert(listings === 1, s"$what: $listings listings, opens $opens")
    assert(opens === eachOnce(commits), s"$what: log files opened $opens")
  }

  test("a plain append lists the log once and opens each commit once") {
    val t = table()
    val (v, l, o) = measure(
      TxLogTable.append(Seq((6L, "r6")).toDF("id", "v").coalesce(1), t))
    assert(v === 6L)
    assertOnePass("append", l, o)
  }

  test("a txn append lists the log once") {
    val t = table()
    val (v, l, o) = measure(TxLogTable.append(
      Seq((6L, "r6")).toDF("id", "v").coalesce(1), t, txn = Some(("app", 6L))))
    assert(v === 6L)
    assertOnePass("txn append", l, o)
  }

  test("a replayed txn is a no-op that lists the log once") {
    val t = table()
    val (v, l, o) = measure(TxLogTable.append(
      Seq((5L, "r5")).toDF("id", "v").coalesce(1), t, txn = Some(("app", 5L))))
    assert(v === 5L)
    assertOnePass("replayed txn", l, o)
  }

  test("read and prunedRead list the log once") {
    val t = table()
    val (_, l1, o1) = measure(TxLogTable.read(spark, t))
    assertOnePass("read", l1, o1)
    val (_, l2, o2) = measure(
      TxLogTable.prunedRead(spark, t, "id", lower = Some(2L)))
    assertOnePass("prunedRead", l2, o2)
  }

  test("one v1 stream batch lists the log once") {
    val t = table()
    val src = new TxLogStreamSource(spark, t)
    val (df, l, o) = measure(src.getBatch(Some(LongOffset(2L)), LongOffset(5L)))
    assertOnePass("v1 getBatch", l, o)
    val files = df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation].inputFiles.length
    }
    assert(df.isStreaming && files === Seq(3), "v3..v5 add one file each")
  }

  test("one v2 stream batch lists the log once") {
    val t = table()
    val st = new GraftMicroBatchStream(spark, t,
      () => null, ignoreDeletes = false, buildDropped = Set.empty)
    val (parts, l, o) = measure(st.planInputPartitions(
      st.deserializeOffset("2"), st.deserializeOffset("5")))
    assertOnePass("v2 planInputPartitions", l, o)
    assert(parts.nonEmpty)
  }

  /** The five-append table of [[table]] at `ns.t` of a `graft` catalog
    * whose warehouse lives under the counting scheme, with v6 a
    * deletion-vector delete when `dv`; its qualified name and root. */
  private def catalogTable(dv: Boolean): (String, String) = {
    val wh = s"countlog://${Files.createTempDirectory("txlog-access-wh")}"
    val cat = "countcat" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$wh/ns/t"
    for (i <- 1 to 5)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    if (dv) TxLogTable.deleteVectors(spark, t, "id = 2")
    (s"$cat.ns.t", t)
  }

  test("a catalog read lists the log once") {
    val (name, _) = catalogTable(dv = false)
    val (rows, l, o) = measure(spark.table(name).where("id > 1").collect())
    assert(rows.length === 4)
    assertOnePass("catalog read", l, o)
  }

  test("a catalog INSERT INTO lists the log once") {
    val (name, t) = catalogTable(dv = false)
    val (_, l, o) = measure(spark.sql(s"INSERT INTO $name VALUES (6, 'r6')"))
    assertOnePass("catalog insert", l, o)
    assert(TxLogTable.read(spark, t).select("id").as[Long].collect().sorted.toSeq === (1L to 6L))
  }

  test("a format read of a table with deletion vectors lists the log once") {
    val (_, t) = catalogTable(dv = true)
    val (rows, l, o) = measure(
      spark.read.format("graft-txlog").load(t).where("id > 0").collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
    assertOnePass("format read with DVs", l, o, commits = 6)
  }

  test("a catalog read of a table with deletion vectors lists the log once") {
    val (name, _) = catalogTable(dv = true)
    val (rows, l, o) = measure(spark.table(name).where("id > 0").collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
    assertOnePass("catalog read with DVs", l, o, commits = 6)
  }

  test("a writer that loses the race reads only the commit it missed") {
    val t = table()
    // the first temp commit file of the append below triggers a
    // competing metadata commit at v6, outside the counters
    CountingLogFs.onFirstCommitTemp = () => CountingLogFs.uncounted(
      TxLogTable.setProperties(spark, t, Map("raced" -> "yes")))
    val (v, l, o) = try measure(
      TxLogTable.append(Seq((6L, "r6")).toDF("id", "v").coalesce(1), t))
    finally CountingLogFs.onFirstCommitTemp = null
    assert(v === 7L, "the loser commits at the next free version")
    assert(l === 2, s"one listing to start, one after the lost race; opens $o")
    assert(o === eachOnce(6),
      "v1..v5 once for the snapshot, then only the competing v6")
    assert(TxLogTable.properties(spark, t) === Map("raced" -> "yes"))
    assert(TxLogTable.read(spark, t).count() === 6L)
  }

  test("a writer whose missed commits were expired commits past the checkpoint") {
    val t = table()
    // while the append below claims v6, five metadata commits land
    // (v6..v10, checkpoint 10) and retention deletes v1..v9
    CountingLogFs.onFirstCommitTemp = () => CountingLogFs.uncounted {
      for (i <- 1 to 5) TxLogTable.setProperties(spark, t, Map("n" -> i.toString))
      TxLogTable.checkpoint(spark, t)
      TxLogTable.expireLog(spark, t, olderThanMillis = 0L)
    }
    val v = try TxLogTable.append(Seq((6L, "r6")).toDF("id", "v").coalesce(1), t)
    finally CountingLogFs.onFirstCommitTemp = null
    assert(TxLogTable.versions(spark, t) === Seq(10L, 11L))
    assert(v === 11L, "an expired version number is never claimed again")
    assert(TxLogTable.read(spark, t).count() === 6L)
    assert(TxLogTable.properties(spark, t) === Map("n" -> "5"))
  }
}

/** The local file system under the `countlog` scheme. It counts
  * listings of `_txlog` and opens of the files in it, and it can run a
  * hook the first time a writer creates a temp commit file.
  */
class CountingLogFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countlog:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    if (p.getName == "_txlog" && CountingLogFs.counting)
      CountingLogFs.listings.incrementAndGet()
    super.listStatus(p)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    if (Option(p.getParent).exists(_.getName == "_txlog") && CountingLogFs.counting)
      CountingLogFs.opens.updateWith(p.getName)(n => Some(n.getOrElse(0) + 1))
    super.open(p, bufferSize)
  }

  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (p.getName.endsWith(".commit")) {
      val hook = CountingLogFs.onFirstCommitTemp
      CountingLogFs.onFirstCommitTemp = null
      if (hook != null) hook()
    }
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLogFs {
  val listings = new AtomicInteger
  val opens = TrieMap.empty[String, Int]
  @volatile var counting = true
  @volatile var onFirstCommitTemp: () => Unit = _

  def reset(): Unit = { listings.set(0); opens.clear() }

  def uncounted[T](f: => T): T = {
    counting = false
    try f finally counting = true
  }
}
