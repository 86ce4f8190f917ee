package graft.streaming

import graft.SparkSpec
import graft.ops.Dedup
import graft.sink.{CountingLogFs, TxLogTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `StreamingOps.lshDedupIngest`: the streamed incremental LSH dedup
  * must produce EXACTLY the verdicts of the sequential batch
  * composition (co-arrival collapse → probe state → drop → append
  * kept state, batch by batch, via the same `Dedup` ops q316
  * oracle-gates), and a doc dropped in batch N — whether to the
  * stored state or to a same-batch co-arrival — must never enter the
  * state batch N+1 probes. The index state is APPEND-ONLY SHARDED
  * (one pre-aggregated `lshIndex` shard per commit, merged at probe
  * over touched buckets only via `lshIndexMergeProbe`), so this also
  * pins that the sharded scheme reproduces single-index semantics.
  */
class StreamingDedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8
  private val RPB = 2
  private val CAP = 64

  private def sigs(df: DataFrame): DataFrame =
    Dedup.minhashSignatures(df, "doc_id", Dedup.shingles(col("text"), 3), K)

  private def freshTables(): (String, String, String) = {
    def t(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (sigT, idxT, outT) = (t("sdi_sig"), t("sdi_idx"), t("sdi_out"))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    TxLogTable.create(spark, sigT, sigs(empty).schema)
    TxLogTable.create(spark, idxT,
      Dedup.lshIndexShard(
        Dedup.lshBandsFromSignatures(sigs(empty), "doc_id", K, RPB),
        "doc_id", CAP).schema)
    TxLogTable.create(spark, outT, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seen_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_match", org.apache.spark.sql.types.LongType))))
    (sigT, idxT, outT)
  }

  // batch 1: two distinct docs. batch 2: a dup of doc 1 (dropped) and
  // a novel doc (kept). batch 3: a dup of batch 2's DROPPED doc — it
  // must still match doc 1 (the kept original), never doc 10 — and a
  // dup of batch 2's KEPT doc. batch 4: two CO-ARRIVING copies of a
  // novel doc — the higher id drops against the lower in the same
  // micro-batch. batch 5: another copy — it must match 30 (the kept
  // co-arrival), never 31 (the dropped one).
  private val batches = Seq(
    Seq((1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "an entirely different document about spark catalyst optimizer rules")),
    Seq((10L, "the quick brown fox jumps over the lazy dog by the river"),
      (11L, "novel prose describing adaptive query execution and skew handling")),
    Seq((20L, "the quick brown fox jumps over the lazy dog by the river"),
      (21L, "novel prose describing adaptive query execution and skew handling")),
    Seq((30L, "structured streaming watermarks bound state growth for late arriving events"),
      (31L, "structured streaming watermarks bound state growth for late arriving events")),
    Seq((40L, "structured streaming watermarks bound state growth for late arriving events")))

  test("stream verdicts equal the sequential batch composition; dropped docs never enter state") {
    // reference: the same ops applied batch-by-batch directly
    val (rSig, rIdx, rOut) = freshTables()
    for ((b, i) <- batches.zipWithIndex) {
      val bs = sigs(b.toDF("doc_id", "text")).localCheckpoint()
      val newBands = Dedup.lshBandsFromSignatures(bs, "doc_id", K, RPB)
        .localCheckpoint()
      val inner = Dedup.lshDupIncrementalFromBands(newBands, bs, bs,
          Dedup.lshIndex(newBands, "doc_id", maxIdsPerSig = 0), "doc_id", K, 2)
        .filter(col("new_id") > col("seen_id"))
      val cross = Dedup.lshDupIncrementalFromBands(newBands, bs,
        TxLogTable.read(spark, rSig),
        Dedup.lshIndexMergeProbe(TxLogTable.read(spark, rIdx), newBands, CAP),
        "doc_id", K, 2)
      val drops = cross.unionAll(inner).localCheckpoint()
      TxLogTable.append(drops, rOut, Some(("ref-out", i.toLong)))
      val kept = bs.join(drops.select(col("new_id").as("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint()
      TxLogTable.append(kept, rSig, Some(("ref-sig", i.toLong)))
      TxLogTable.append(
        Dedup.lshIndexShard(
          Dedup.lshBandsFromSignatures(kept, "doc_id", K, RPB), "doc_id", CAP),
        rIdx, Some(("ref-idx", i.toLong)))
    }
    val expected = TxLogTable.read(spark, rOut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the dropped-doc AND co-arrival contracts, pinned explicitly
    assert(expected === Set(
      (10L, 1L, 8L), (20L, 1L, 8L), (21L, 11L, 8L),
      (31L, 30L, 8L), (40L, 30L, 8L)))

    // stream: MemoryStream drained batch by batch through the sink
    val (sSig, sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("sdi_ck").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.lshDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sSig, sIdx, sOut, "sdi", ckpt)
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    val got = TxLogTable.read(spark, sOut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    // the index state is sharded pre-aggregated buckets: no raw band
    // rows, one shard row per (commit, touched bucket), and dropped
    // ids (10, 20, 21, 31, 40) appear in NO shard
    val idxIds = TxLogTable.read(spark, sIdx)
      .select(explode(col("ids")).as("id")).as[Long].collect().toSet
    assert(idxIds === Set(1L, 2L, 11L, 30L))
  }

  // ADVICE r14: the co-arrival self-probe must be UNCAPPED — with a
  // capped self-index, > maxIdsPerSig near-identical docs landing in
  // ONE micro-batch drop their hot bucket from the self-index, no
  // intra-batch pairs are found, and every copy enters the state,
  // diverging from the sequential one-at-a-time composition (which
  // keeps exactly the first copy). Cap of 2, five co-arriving copies.
  test("co-arriving near-dup group larger than the index cap still collapses to its lowest id") {
    val (sSig, sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("sdi_ck2").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.lshDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sSig, sIdx, sOut, "sdi2", ckpt,
      maxIdsPerSig = 2)
    val burst = (50L to 54L).map(i =>
      (i, "five identical documents arriving in one micro batch together"))
    try {
      ms.addData(burst); q.processAllAvailable()
      // a later copy must match 50 — the kept co-arrival — proving
      // the collapse happened and only one copy entered the state
      ms.addData(Seq((60L,
        "five identical documents arriving in one micro batch together")))
      q.processAllAvailable()
    } finally q.stop()
    val drops = TxLogTable.read(spark, sOut)
      .select("new_id", "seen_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the order-free clique collapse emits EVERY verified
    // higher-vs-lower pair (all C(5,2) of them), and the later copy
    // matches only 50 — the sole id that entered the state
    val clique = for (j <- 50L to 54L; i <- (j + 1) to 54L) yield (i, j)
    assert(drops === (clique.toSet + ((60L, 50L))))
    val idxIds = TxLogTable.read(spark, sIdx)
      .select(explode(col("ids")).as("id")).as[Long].collect().toSet
    assert(idxIds === Set(50L))
  }

  test("a duplicated id within one batch leaves one state row; conflicting copies keep the smaller text") {
    val (sSig, sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("sdi_ck3").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.lshDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sSig, sIdx, sOut, "sdi3", ckpt)
    val (a, b) = ("alpha lines about columnar storage formats and their encodings",
      "beta lines about shuffle service fetch retries under executor loss")
    try {
      // 5 twice with one text (the at-least-once case), 7 twice with
      // two texts: 7 keeps the smaller text, a, never their union
      ms.addData(Seq((5L, batches(0)(0)._2), (5L, batches(0)(0)._2),
        (6L, batches(0)(1)._2), (7L, b), (7L, a)))
      q.processAllAvailable()
      ms.addData(Seq((8L, a), (9L, b)))
      q.processAllAvailable()
    } finally q.stop()
    val state = TxLogTable.read(spark, sSig)
      .select("doc_id").as[Long].collect().toList.sorted
    assert(state === List(5L, 6L, 7L, 9L))
    // no self-pair; the copy of the kept text drops, the other is new
    assert(TxLogTable.read(spark, sOut).select("new_id", "seen_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList === List((8L, 7L)))
    val perBucket = TxLogTable.read(spark, sIdx)
      .select(size(col("ids")).as("n"), size(array_distinct(col("ids"))).as("d"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(perBucket.forall { case (n, dct) => n == dct })
  }

  test("a batch whose idx append fails releases its pins; the restart lands what a clean run does") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countlog.impl", classOf[CountingLogFs].getName)
    implicit val sql = spark.sqlContext
    def rows(table: String): List[String] =
      TxLogTable.read(spark, table).collect().map(_.toString).toList.sorted
    def epochs(table: String): List[Long] = TxLogTable.history(spark, table)
      .filter(col("txn_app").isNotNull).select("txn_epoch").as[Long].collect().toList.sorted

    val (cSig, cIdx, cOut) = freshTables()
    val cleanCk = java.nio.file.Files.createTempDirectory("sdi_clean").toString
    val cms = MemoryStream[(Long, String)]
    val cq = StreamingOps.lshDedupIngest(cms.toDF.toDF("doc_id", "text"),
      cSig, cIdx, cOut, "sdik", cleanCk)
    try batches.foreach { b => cms.addData(b); cq.processAllAvailable() }
    finally cq.stop()

    // the idx table is reached through the countlog scheme; batch 1
    // dies after its out and sig appends, when the idx append creates
    // its temp commit file
    val (sig, idx0, out) = freshTables()
    val idx = s"countlog://$idx0"
    val injected = "injected failure creating a temp commit file"
    val ckpt = java.nio.file.Files.createTempDirectory("sdi_kill").toString
    val ms = MemoryStream[(Long, String)]
    def start() = StreamingOps.lshDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sig, idx, out, "sdik", ckpt)
    val q1 = start()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      ms.addData(batches(0)); q1.processAllAvailable()
      CountingLogFs.onFirstCommitTemp = () => throw new java.io.IOException(injected)
      ms.addData(batches(1))
      val e = intercept[Exception](q1.processAllAvailable())
      assert(causeMessages(e).exists(_.contains(injected)))
    } finally { q1.stop(); CountingLogFs.onFirstCommitTemp = null }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pins of the failed batch still persisted: $leaked")
    assert(epochs(out) === List(0L, 1L) && epochs(sig) === List(0L, 1L))
    assert(epochs(idx0) === List(0L), "batch 1 died between its sig and idx appends")

    // restart on the same checkpoint: batch 1 replays, its out and
    // sig appends no-op on their txn tags, and its idx append lands
    val q2 = start()
    try {
      q2.processAllAvailable()
      batches.drop(2).foreach { b => ms.addData(b); q2.processAllAvailable() }
    } finally q2.stop()
    for ((got, want) <- Seq(sig, idx0, out).zip(Seq(cSig, cIdx, cOut))) {
      assert(rows(got) === rows(want), s"$got differs from a run that never failed")
      assert(epochs(got) === epochs(want) && epochs(got).distinct === epochs(got),
        s"$got: one commit per batch tag, got ${epochs(got)}")
    }
  }

  // ADVICE r14: within-commit-hot buckets must stay visible to the
  // merge-probe's cap filter. lshIndexShard truncates an over-cap
  // bucket to cap+1 ids (a tombstone) instead of filtering it; the
  // merged view then exceeds the cap and drops, exactly as a single
  // write-time-capped index over the union would — where a filtered
  // shard write would resurrect the bucket once later commits added
  // a few under-cap ids. Synthetic band rows, cap 2.
  test("lshIndexShard tombstone reproduces single-index cap semantics across commits") {
    import spark.implicits._
    val cap = 2
    // commit 1: bucket X hot within the commit (3 ids), bucket Y cool
    val c1 = Seq((0, 7L, 101L), (0, 7L, 102L), (0, 7L, 103L),
      (0, 9L, 201L)).toDF("band", "sig", "doc_id")
    // commit 2: one late id into X, one more into Y
    val c2 = Seq((0, 7L, 104L), (0, 9L, 202L)).toDF("band", "sig", "doc_id")
    val shards = Dedup.lshIndexShard(c1, "doc_id", cap)
      .unionAll(Dedup.lshIndexShard(c2, "doc_id", cap))
    val probe = Seq((0, 7L), (0, 9L)).toDF("band", "sig")
    val merged = Dedup.lshIndexMergeProbe(shards, probe, cap)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        r.getSeq[Long](2).toList)).toMap
    // the single write-time-capped index over the union of commits
    val single = Dedup.lshIndex(c1.unionAll(c2), "doc_id", cap)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        r.getSeq[Long](2).toList)).toMap
    assert(single === Map((0, 9L) -> List(201L, 202L))) // X dropped, Y kept
    assert(merged === single)
    // shard rows stay bounded: the hot bucket's tombstone is cap+1 ids
    val xShard = shards.filter(col("sig") === 7L)
      .select(size(col("ids"))).as[Int].collect().toList
    assert(xShard === List(cap + 1, 1))
  }

  // ADVICE r15: the cap+1 tombstone alone reproduces single-index
  // semantics only under EQUAL write/probe caps — a larger probe cap
  // would keep a truncated hot bucket (cap+1 <= probeCap) and probe
  // its incomplete ids. Shards now record the TRUE pre-truncation
  // size `n`; the merge filters on the true merged size AND drops any
  // bucket whose stored ids are incomplete, making the write cap an
  // explicit recall floor instead of a silent one.
  test("merge-probe with a larger cap never probes a write-truncated bucket") {
    import spark.implicits._
    val writeCap = 2
    // bucket X: 4 true ids in one commit — truncated to 3 at write
    val c1 = Seq((0, 7L, 101L), (0, 7L, 102L), (0, 7L, 103L), (0, 7L, 104L),
      (0, 9L, 201L), (0, 9L, 202L), (0, 9L, 203L))
      .toDF("band", "sig", "doc_id")
    val shards = Dedup.lshIndexShard(c1, "doc_id", writeCap)
    val probe = Seq((0, 7L), (0, 9L)).toDF("band", "sig")
    // probe cap 10 > write cap: X's true size (4) fits the probe cap,
    // but its stored ids are incomplete (3 of 4) — it must DROP, not
    // probe a partial bucket. Y's 3 true ids all fit in the cap+1
    // tombstone, so it is COMPLETE — a larger probe cap may keep it.
    val merged = Dedup.lshIndexMergeProbe(shards, probe, maxIdsPerSig = 10)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        r.getSeq[Long](2).toList)).toMap
    assert(merged === Map((0, 9L) -> List(201L, 202L, 203L)))
    // under-cap buckets are untouched by the guard: 2 ids, complete
    val cool = Seq((1, 5L, 301L), (1, 5L, 302L)).toDF("band", "sig", "doc_id")
    val ok = Dedup.lshIndexMergeProbe(
      Dedup.lshIndexShard(cool, "doc_id", writeCap),
      Seq((1, 5L)).toDF("band", "sig"), maxIdsPerSig = 10)
    assert(ok.select(explode(col("ids"))).as[Long].collect().toSet ===
      Set(301L, 302L))
  }

  // ADVICE r16: index tables persisted by the pre-r16 shard format
  // (no `n` true-size column) must not hard-fail at probe time — the
  // merge backfills n = size(ids), the stored size, preserving those
  // tables' original cap semantics (stored-size filter).
  test("merge-probe backfills `n` for pre-r16 shard rows (no n column)") {
    import spark.implicits._
    val cap = 2
    // old-format shards: exactly lshIndex output, no `n`
    val oldShards = Dedup.lshIndex(
      Seq((0, 7L, 101L), (0, 7L, 102L), (0, 7L, 103L),
        (0, 9L, 201L)).toDF("band", "sig", "doc_id"), "doc_id", cap)
    assert(!oldShards.columns.contains("n"))
    val probe = Seq((0, 7L), (0, 9L)).toDF("band", "sig")
    val merged = Dedup.lshIndexMergeProbe(oldShards, probe, cap)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        r.getSeq[Long](2).toList)).toMap
    // bucket X was write-filtered by the old format (over cap), Y kept
    assert(merged === Map((0, 9L) -> List(201L)))
  }
}
