package graft

import org.apache.spark.sql.functions._

import graft.sink.TxLogTable

/** Scale probe for the lake-table DML surface: replicates sf0.1
  * orders by `factor` (offset keys, dates preserved), ingests the
  * replica as a date-clustered TxLog table, and times the operations
  * whose 100 TB posture SCALE.md claims — clustered-band DELETE vs
  * scattered DELETE, UPDATE, the CDF cache vs its snapshot-diff
  * fallback, incremental matview maintenance vs recompute, and
  * fastCount. Emits one JSON line of seconds.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt 'runMain graft.ScaleProbe
  *   /root/testdata/sf0.1 8 /tmp/graft_probe'
  */
object ScaleProbe {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, factorS, workDir) = args.take(3)
    val factor = factorS.toInt
    val spark = Sessions.create(Sessions.harness - Sessions.OpenCost + (Sessions.SplitBytes -> "16m"))

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val nBase = orders.count()
    val replica = (0 until factor).map { i =>
      orders.select(
        (col("o_orderkey") + lit(i * 100_000_000L)).as("k"),
        col("o_custkey").as("cust"),
        col("o_orderstatus").as("status"),
        expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)").as("price_c"),
        to_date(col("o_orderdate")).as("od"))
    }.reduce(_ unionAll _)

    val t = s"$workDir/orders_x$factor"
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ingest, date-clustered so band predicates prune files
    val (_, tIngest) = timed {
      TxLogTable.append(replica.repartitionByRange(Sessions.cpus.toInt * 2, col("od")), t)
    }
    results("ingest") = tIngest
    results("rows") = nBase.toDouble * factor

    val (n0, tCount) = timed(TxLogTable.fastCount(spark, t))
    results("fast_count") = tCount
    require(n0 == nBase * factor, s"fastCount $n0 != ${nBase * factor}")

    // clustered-band delete: one month of one replica's keyspace —
    // stats-pruned to the files covering the band
    val (_, tBandDelete) = timed {
      TxLogTable.delete(spark, t,
        "od >= DATE'1995-06-01' AND od < DATE'1995-07-01' AND k < 100000000")
    }
    results("delete_band") = tBandDelete

    // scattered delete: hits every file (the honest worst case)
    val fsp = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirMb(sub: String): Double = {
      val p = new org.apache.hadoop.fs.Path(s"$t/$sub")
      if (!fsp.exists(p)) 0.0
      else fsp.getContentSummary(p).getLength / 1e6
    }
    val dataMb0 = dirMb("data")
    val (_, tScatter) = timed(TxLogTable.delete(spark, t, "k % 1000 = 7"))
    results("delete_scattered") = tScatter
    // bytes a copy-on-write scattered delete physically rewrites
    results("delete_scattered_mb") = dirMb("data") - dataMb0

    // the SAME scattered shape as a merge-on-read deletion vector:
    // commits a (file, row index) mask, no data file moves — the
    // written bytes are the mask, O(matched rows) instead of
    // O(files containing matches)
    val dvMb0 = dirMb("_dv")
    val (_, tDvDelete) = timed(
      TxLogTable.deleteVectors(spark, t, "k % 1000 = 8"))
    results("dv_delete_scattered") = tDvDelete
    results("dv_delete_mb") = dirMb("_dv") - dvMb0
    // the read-side tax while the mask is outstanding…
    val (nMasked, tMaskedRead) = timed(TxLogTable.read(spark, t).count())
    results("read_masked") = tMaskedRead
    // …and compaction retiring it (materialize = rewrite DV'd files)
    val (_, tMaterialize) = timed(
      TxLogTable.compact(spark, t, smallFileBytes = 1L))
    results("dv_materialize") = tMaterialize
    val (nClean, tCleanRead) = timed(TxLogTable.read(spark, t).count())
    results("read_clean") = tCleanRead
    require(nMasked == nClean, s"materialize changed contents: $nMasked vs $nClean")

    // keyed MERGE: upsert 2k existing keys + 1k new ones (CDC shape)
    val (_, tMerge) = timed {
      val upd = spark.range(0, 3000).selectExpr(
        "CASE WHEN id < 2000 THEN id * 37 + 1 ELSE 200000000 + id END AS k",
        "CAST(id % 1000 AS BIGINT) AS cust",
        "'M' AS status", "id AS price_c", "DATE'1997-01-01' AS od")
      TxLogTable.merge(spark, t, upd, "k")
    }
    results("merge_keyed") = tMerge

    // update a band
    val (vUpd, tUpdate) = timed {
      TxLogTable.update(spark, t,
        "od >= DATE'1996-01-01' AND od < DATE'1996-02-01' AND k < 100000000",
        Map("price_c" -> "price_c + 1"))
    }
    results("update_band") = tUpdate

    // CDF cache path for the update version
    val (nCdf, tCdfCache) = timed {
      TxLogTable.changes(spark, t, vUpd - 1, vUpd).count()
    }
    results("cdf_cached") = tCdfCache
    results("cdf_rows") = nCdf.toDouble

    // incremental matview vs recompute over the full DML range
    val last = TxLogTable.versions(spark, t).max
    val sums = Map("spend_c" -> "price_c")
    val state0 = graft.ops.Matview.initialize(
      TxLogTable.read(spark, t, Some(1L)), Seq("cust"), sums)
      .localCheckpoint() // pin: probe the DELTA fold, not state0's lineage
    val (mv, tMaintain) = timed {
      val m = graft.ops.Matview.applyDelta(state0,
        TxLogTable.changes(spark, t, 1L, last), Seq("cust"), sums)
      m.agg(sum("n"), sum("spend_c")).collect()(0)
    }
    results("matview_maintain") = tMaintain
    val (rc, tRecompute) = timed {
      val m = graft.ops.Matview.initialize(
        TxLogTable.read(spark, t), Seq("cust"), sums)
      m.agg(sum("n"), sum("spend_c")).collect()(0)
    }
    results("matview_recompute") = tRecompute
    require(mv == rc, s"maintained != recomputed: $mv vs $rc")

    // metadata-only schema surgery at scale: rename and drop move
    // ZERO data bytes whatever the table size (the 100 TB claim the
    // column-mapping design makes — here measured, not asserted)
    val dataMbPreRename = dirMb("data")
    val (_, tRename) = timed(
      TxLogTable.renameColumn(spark, t, "status", "state"))
    results("rename_column") = tRename
    results("rename_mb_moved") = dirMb("data") - dataMbPreRename
    val (nRen, tLogicalRead) = timed(
      TxLogTable.read(spark, t).filter(col("state") === "M").count())
    results("read_renamed_filter") = tLogicalRead
    results("renamed_filter_rows") = nRen.toDouble
    // committed-stats skipping keeps working through the mapping
    TxLogTable.renameColumn(spark, t, "od", "order_date")
    val (cand, tCand) = timed(TxLogTable.candidateFiles(spark, t,
      "order_date", Some(java.time.LocalDate.parse("1995-06-01")),
      Some(java.time.LocalDate.parse("1995-06-30"))))
    results("renamed_prune_candidates") = cand.size.toDouble
    results("renamed_prune_all_files") =
      TxLogTable.candidateFiles(spark, t, "order_date").size.toDouble
    results("renamed_prune_s") = tCand
    val (_, tDrop) = timed(TxLogTable.dropColumn(spark, t, "cust"))
    results("drop_column") = tDrop
    results("drop_mb_moved") = dirMb("data") - dataMbPreRename

    // forced snapshot-diff fallback LAST (tears the cache for good)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_cdf/$vUpd/_SUCCESS"), false)
    val (nDiff, tCdfDiff) = timed {
      TxLogTable.changes(spark, t, vUpd - 1, vUpd).count()
    }
    results("cdf_fallback") = tCdfDiff
    require(nCdf == nDiff, s"cache/fallback disagree: $nCdf vs $nDiff")

    println(results.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
