package graft.streaming

import graft.SparkSpec
import graft.ops.Dedup
import graft.sink.TxLogTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `StreamingOps.winnowDedupIngest`: the streamed incremental
  * winnowing/MOSS dedup must produce EXACTLY the verdicts of the
  * sequential batch composition (fingerprint → co-arrival collapse →
  * probe state → drop → append kept shard, batch by batch, via the
  * same `Dedup` ops q318 oracle-gates), a doc dropped in batch N must
  * never enter the state batch N+1 probes, and the sharded
  * append-only index must reproduce single-index semantics
  * (lshIndexShard's cap+1 tombstone + true-size merge filter).
  * Unlike the text-LSH/pHash members, the state is the index ALONE —
  * fingerprint equality is the verification, so there is no per-doc
  * signature table to keep consistent.
  */
class StreamingWinnowIngestSpec extends SparkSpec {
  import spark.implicits._

  private val W = 4
  private val MIN_SHARED = 2
  private val CAP = 64

  private def fps(df: DataFrame): DataFrame =
    Dedup.winnowFingerprints(df, "doc_id", "text", W)

  private def freshTables(): (String, String) = {
    def t(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (idxT, outT) = (t("swi_idx"), t("swi_out"))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    TxLogTable.create(spark, idxT,
      Dedup.lshIndexShard(fps(empty), "doc_id", CAP).schema)
    TxLogTable.create(spark, outT, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seen_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_shared", org.apache.spark.sql.types.LongType))))
    (idxT, outT)
  }

  // Long shared token runs (>= W + 2 grams) guarantee shared selected
  // fingerprints. batch 1: two distinct docs. batch 2: a near-copy of
  // doc 1 (dropped) and a novel doc (kept). batch 3: another
  // near-copy of doc 1 — it must match 1 (the kept original), never
  // the dropped 10 — plus a near-copy of batch 2's KEPT doc.
  // batch 4: two CO-ARRIVING copies of a novel doc — the higher id
  // drops in the same micro-batch. batch 5: another copy — it must
  // match 30 (the kept co-arrival), never 31 (the dropped one).
  private val d1 = "the quick brown fox jumps over the lazy dog by the quiet river bank today"
  private val d2 = "an entirely different document describing spark catalyst optimizer rule batches and strategies"
  private val d11 = "novel prose describing adaptive query execution skew handling and partition coalescing at runtime"
  private val d30 = "structured streaming watermarks bound state growth for late arriving events in long windows"
  private val batches = Seq(
    Seq((1L, d1), (2L, d2)),
    Seq((10L, d1 + " extended"), (11L, d11)),
    Seq((20L, "prefix added " + d1), (21L, d11 + " appended words")),
    Seq((30L, d30), (31L, d30)),
    Seq((40L, d30 + " tail")))

  test("stream verdicts equal the sequential batch composition; dropped docs never enter state") {
    // reference: the same ops applied batch-by-batch directly
    val (rIdx, rOut) = freshTables()
    for ((b, i) <- batches.zipWithIndex) {
      val newFps = fps(b.toDF("doc_id", "text")).localCheckpoint()
      val inner = Dedup.fingerprintDupIncremental(newFps,
          Dedup.lshIndex(newFps, "doc_id", maxIdsPerSig = 0),
          "doc_id", MIN_SHARED)
        .filter(col("new_id") > col("seen_id"))
      val cross = Dedup.fingerprintDupIncremental(newFps,
        Dedup.lshIndexMergeProbe(TxLogTable.read(spark, rIdx), newFps, CAP),
        "doc_id", MIN_SHARED)
      val drops = cross.unionAll(inner).localCheckpoint()
      TxLogTable.append(drops, rOut, Some(("ref-out", i.toLong)))
      val kept = newFps.join(drops.select(col("new_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      TxLogTable.append(Dedup.lshIndexShard(kept, "doc_id", CAP),
        rIdx, Some(("ref-idx", i.toLong)))
    }
    val expected = TxLogTable.read(spark, rOut)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the dropped-doc AND co-arrival contracts, pinned explicitly
    assert(expected === Set(
      (10L, 1L), (20L, 1L), (21L, 11L), (31L, 30L), (40L, 30L)))

    // stream: MemoryStream drained batch by batch through the sink
    val (sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("swi_ck").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.winnowDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sIdx, sOut, "swi", ckpt)
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    val got = TxLogTable.read(spark, sOut)
      .select("new_id", "seen_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // dropped ids (10, 20, 21, 31, 40) appear in NO shard
    val idxIds = TxLogTable.read(spark, sIdx)
      .select(explode(col("ids")).as("id")).as[Long].collect().toSet
    assert(idxIds === Set(1L, 2L, 11L, 30L))
    // replay idempotence: re-processing the last batch's data under
    // the same (appId, batchId) txn tag must no-op on both tables
    val outBefore = TxLogTable.read(spark, sOut).count()
    val idxBefore = TxLogTable.read(spark, sIdx).count()
    val lastFps = fps(batches.last.toDF("doc_id", "text"))
    TxLogTable.append(lastFps.select(col("doc_id").as("new_id"),
        col("doc_id").as("seen_id"), lit(0L).as("n_shared")).limit(1),
      sOut, Some(("swi-out", (batches.length - 1).toLong)))
    TxLogTable.append(Dedup.lshIndexShard(lastFps, "doc_id", CAP),
      sIdx, Some(("swi-idx", (batches.length - 1).toLong)))
    assert(TxLogTable.read(spark, sOut).count() === outBefore)
    assert(TxLogTable.read(spark, sIdx).count() === idxBefore)
  }

  test("co-arriving near-dup group larger than the index cap still collapses to its lowest id") {
    val (sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("swi_ck2").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.winnowDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sIdx, sOut, "swi2", ckpt,
      maxIdsPerSig = 2)
    try {
      ms.addData((50L to 54L).map(i => (i, d30))); q.processAllAvailable()
      ms.addData(Seq((60L, d30 + " tail"))); q.processAllAvailable()
    } finally q.stop()
    val drops = TxLogTable.read(spark, sOut)
      .select("new_id", "seen_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the UNCAPPED self-probe collapses the whole 5-copy clique to
    // id 50 even though the bucket exceeds the cap-2 index; the later
    // near-copy matches 50 — the only id that entered the state
    val clique = for (j <- 50L to 54L; i <- (j + 1) to 54L) yield (i, j)
    assert(drops === (clique.toSet + ((60L, 50L))))
    val idxIds = TxLogTable.read(spark, sIdx)
      .select(explode(col("ids")).as("id")).as[Long].collect().toSet
    assert(idxIds === Set(50L))
  }

  test("a doc shorter than one gram window emits no fingerprints and is always kept") {
    val (sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("swi_ck3").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.winnowDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sIdx, sOut, "swi3", ckpt)
    try {
      ms.addData(Seq((70L, "too short"), (71L, "too short")))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxLogTable.read(spark, sOut).count() === 0L)
    assert(TxLogTable.read(spark, sIdx).count() === 0L)
  }

  test("a duplicated id within one batch enters each index bucket once") {
    val (sIdx, sOut) = freshTables()
    val ckpt = java.nio.file.Files.createTempDirectory("swi_ck4").toString
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.winnowDedupIngest(
      ms.toDF.toDF("doc_id", "text"), sIdx, sOut, "swi4", ckpt)
    try {
      ms.addData(Seq((5L, d1), (5L, d1), (6L, d2)))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxLogTable.read(spark, sOut).isEmpty) // no self-pair
    val idx = TxLogTable.read(spark, sIdx)
    assert(idx.select(explode(col("ids"))).as[Long].collect().toSet === Set(5L, 6L))
    val perBucket = idx
      .select(size(col("ids")).as("n"), size(array_distinct(col("ids"))).as("d"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(perBucket.forall { case (n, dct) => n == dct })
  }
}
