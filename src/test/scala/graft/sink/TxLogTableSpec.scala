package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The version-log ACID table: commit atomicity, time travel, schema
  * discipline, race behavior, and orphan reclamation.
  */
class TxLogTableSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("txlog").resolve("t").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("append / overwrite / append replays to the right snapshots") {
    val t = freshTable()
    val v1 = TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    val v2 = TxLogTable.overwrite(Seq((3L, "c")).toDF("id", "v"), t)
    val v3 = TxLogTable.append(Seq((4L, "d")).toDF("id", "v"), t)
    assert((v1, v2, v3) === (1L, 2L, 3L))
    assert(TxLogTable.versions(spark, t) === Seq(1L, 2L, 3L))
    assert(rows(TxLogTable.read(spark, t, Some(1L))) === Set((1L, "a"), (2L, "b")))
    assert(rows(TxLogTable.read(spark, t, Some(2L))) === Set((3L, "c")))
    assert(rows(TxLogTable.read(spark, t)) === Set((3L, "c"), (4L, "d")))
  }

  test("staged-but-uncommitted data is invisible and vacuum reclaims it") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    // simulate a crashed writer: a data file present but named by no commit
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(t, "data/00000000000000000099-0-dead.parquet")
    Seq((99L, "zz")).toDF("id", "v").coalesce(1).write.parquet(s"$t/tmp_orphan")
    val part = fs.listStatus(new Path(s"$t/tmp_orphan"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, orphan)
    fs.delete(new Path(s"$t/tmp_orphan"), true)

    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a")), "orphan leaked into a read")
    assert(TxLogTable.vacuum(spark, t, olderThanMillis = 0L) === 1)
    assert(!fs.exists(orphan))
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a")))
    assert(TxLogTable.vacuum(spark, t, olderThanMillis = 0L) === 0, "vacuum must not touch referenced files")
  }

  test("a lost commit race retries under the next version without duplicating data") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    // occupy version 2 as a concurrent writer would
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new Path(t, "_txlog/00000000000000000002.txt")
    val out = fs.create(stolen, false)
    val ddl = Seq((9L, "x")).toDF("id", "v").schema.toDDL
    out.write(s"action=append\nschema=$ddl\n".getBytes("UTF-8"))
    out.close()

    val v = TxLogTable.append(Seq((2L, "b")).toDF("id", "v"), t)
    assert(v === 3L, "writer should have bumped past the stolen version")
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "b")))
    // the retry re-published the SAME files under the next version:
    // nothing is duplicated and nothing was abandoned
    assert(TxLogTable.vacuum(spark, t, olderThanMillis = 0L) === 0,
      "lost-race retry left orphaned data files")
    assert(rows(TxLogTable.read(spark, t, Some(1L))) === Set((1L, "a")))
  }

  test("append enforces the committed schema; overwrite may evolve it") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    val bad = intercept[IllegalArgumentException] {
      TxLogTable.append(Seq((1L, 2L)).toDF("id", "n"), t)
    }
    assert(bad.getMessage.contains("schema mismatch"))
    TxLogTable.overwrite(Seq((1L, 7L)).toDF("id", "n"), t)
    val got = TxLogTable.read(spark, t).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 7L)))
    // old snapshot still reads under the OLD schema
    assert(rows(TxLogTable.read(spark, t, Some(1L))) === Set((1L, "a")))
  }

  test("empty overwrite keeps the table readable with its schema") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    TxLogTable.overwrite(Seq.empty[(Long, String)].toDF("id", "v"), t)
    val snap = TxLogTable.read(spark, t)
    assert(snap.count() === 0L)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("merge commits a copy-on-write upsert as a new version") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    val v = TxLogTable.merge(spark, t, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    assert(v === 2L)
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert(rows(TxLogTable.read(spark, t, Some(1L))) === Set((1L, "a"), (2L, "b")),
      "merge must not rewrite history")
  }

  test("reading a missing version or a non-table fails loudly") {
    val t = freshTable()
    intercept[IllegalArgumentException](TxLogTable.read(spark, t))
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    intercept[IllegalArgumentException](TxLogTable.read(spark, t, Some(9L)))
  }

  // ----------------------------------------------------------------
  // data skipping

  /** Three appends with disjoint id ranges, one file each. */
  private def rangedTable(): String = {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (9L, "b")).toDF("id", "v").coalesce(1), t)
    TxLogTable.append(Seq((10L, "c"), (19L, "d")).toDF("id", "v").coalesce(1), t)
    TxLogTable.append(Seq((20L, "e"), (29L, "f")).toDF("id", "v").coalesce(1), t)
    t
  }

  test("prunedRead skips files outside the bound and equals read+filter") {
    val t = rangedTable()
    assert(TxLogTable.candidateFiles(spark, t, "id").size === 3)
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(10L), upper = Some(19L)).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(25L)).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "id", upper = Some(9L)).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(100L)).isEmpty)
    for ((lo, hi) <- Seq((Some(10L: Any), Some(19L: Any)), (Some(5L: Any), None),
        (None, Some(12L: Any)), (Some(100L: Any), None))) {
      val pruned = rows(TxLogTable.prunedRead(spark, t, "id", lo, hi))
      val full = {
        var df = TxLogTable.read(spark, t)
        lo.foreach(v => df = df.filter($"id" >= v.asInstanceOf[Long]))
        hi.foreach(v => df = df.filter($"id" <= v.asInstanceOf[Long]))
        rows(df)
      }
      assert(pruned === full, s"bounds ($lo, $hi)")
    }
  }

  test("string and double columns prune by footer stats") {
    val t = freshTable()
    TxLogTable.append(Seq(("alpha", 0.5), ("bravo", 1.5)).toDF("s", "x").coalesce(1), t)
    TxLogTable.append(Seq(("mike", 10.5), ("oscar", 11.5)).toDF("s", "x").coalesce(1), t)
    assert(TxLogTable.candidateFiles(spark, t, "s", lower = Some("zulu")).isEmpty)
    assert(TxLogTable.candidateFiles(spark, t, "s", lower = Some("m"), upper = Some("p")).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "x", upper = Some(2.0)).size === 1)
    val got = TxLogTable.prunedRead(spark, t, "x", lower = Some(1.0), upper = Some(11.0))
      .collect().map(_.getString(0)).toSet
    assert(got === Set("bravo", "mike"))
  }

  test("date, timestamp and decimal columns prune by footer stats") {
    val t = freshTable()
    // NTZ timestamps: Spark always writes them as INT64 micros, so
    // footer stats are usable (legacy INT96 LTZ output stays
    // conservatively unpruned — covered by the conservativeness test)
    val mk = (day: String, ts: String, price: String, tag: String) =>
      (java.sql.Date.valueOf(day), java.time.LocalDateTime.parse(ts),
        new java.math.BigDecimal(price), tag)
    TxLogTable.append(Seq(
      mk("1996-01-05", "1996-01-05T08:00:00", "10.50", "jan"),
      mk("1996-02-20", "1996-02-20T09:30:00", "44.25", "feb"))
      .toDF("d", "ts", "p", "tag").coalesce(1), t)
    TxLogTable.append(Seq(
      mk("1997-06-01", "1997-06-01T12:00:00", "900.00", "jun"),
      mk("1997-07-15", "1997-07-15T23:59:59", "1250.75", "jul"))
      .toDF("d", "ts", "p", "tag").coalesce(1), t)

    // date bounds (both java.sql.Date and LocalDate forms)
    assert(TxLogTable.candidateFiles(spark, t, "d",
      lower = Some(java.sql.Date.valueOf("1997-01-01"))).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "d",
      upper = Some(java.time.LocalDate.parse("1996-12-31"))).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "d",
      lower = Some(java.sql.Date.valueOf("1998-01-01"))).isEmpty)
    // NTZ timestamp bounds via LocalDateTime
    assert(TxLogTable.candidateFiles(spark, t, "ts",
      lower = Some(java.time.LocalDateTime.parse("1997-01-01T00:00:00"))).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "ts",
      upper = Some(java.time.LocalDateTime.parse("1996-06-01T00:00:00"))).size === 1)
    // decimal bounds (BigDecimal; scale-insensitive compare)
    assert(TxLogTable.candidateFiles(spark, t, "p",
      lower = Some(new java.math.BigDecimal("100"))).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "p",
      upper = Some(new java.math.BigDecimal("50.0000"))).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "p",
      lower = Some(new java.math.BigDecimal("2000"))).isEmpty)

    // pruned read equals read+filter on a typed bound
    val got = TxLogTable.prunedRead(spark, t, "d",
      lower = Some(java.sql.Date.valueOf("1996-02-01")),
      upper = Some(java.sql.Date.valueOf("1997-06-30")))
      .collect().map(_.getString(3)).toSet
    assert(got === Set("feb", "jun"))
  }

  test("pruning is conservative: wrong-typed bounds, nulls, and stats-less commits read everything") {
    val t = rangedTable()
    // a bound whose type does not match the recorded long kind → no pruning
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some("10")).size === 3)
    assert(TxLogTable.candidateFiles(spark, t, "v", lower = Some(10L)).size === 3,
      "string column with long bound must not prune")

    // nulls in the column: residual filter semantics still exact
    val tn = freshTable()
    TxLogTable.append(Seq((Some(1L), "a"), (None, "n")).toDF("id", "v").coalesce(1), tn)
    TxLogTable.append(Seq((Some(20L), "z")).toDF("id", "v").coalesce(1), tn)
    val pruned = TxLogTable.prunedRead(spark, tn, "id", lower = Some(0L), upper = Some(5L))
      .collect().map(_.getString(1)).toSet
    assert(pruned === Set("a"), "nulls must not satisfy a range bound")

    // a commit written without stat lines (older writer) is always read
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = fs.listStatus(new Path(t, "_txlog")).map(_.getPath).sortBy(_.getName)
    val first = log.head
    val text = {
      val in = fs.open(first)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    fs.delete(first, false)
    val out = fs.create(first, false)
    out.write(text.linesIterator.filterNot(_.startsWith("stat=")).mkString("\n").getBytes("UTF-8"))
    out.close()
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(100L)).size === 1,
      "the stats-less file must always be a candidate")
    assert(rows(TxLogTable.prunedRead(spark, t, "id", lower = Some(100L))) === Set.empty)
  }

  test("changes() reconstructs the row feed: appends insert, merge diffs, compaction silent") {
    val t = freshTable()
    val v1 = TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.append(Seq((3L, "c")).toDF("id", "v").coalesce(1), t)
    val v3 = TxLogTable.merge(spark, t, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), "id")
    val v4 = TxLogTable.append(Seq((5L, "e")).toDF("id", "v").coalesce(1), t)
    val v5 = TxLogTable.append(Seq((6L, "f")).toDF("id", "v").coalesce(1), t)
    val v6 = TxLogTable.compact(spark, t,
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 20)
    assert(v6 > v5, "premise: compaction must have committed a version")

    def feed(from: Long, to: Long) =
      TxLogTable.changes(spark, t, from, to)
        .select("id", "v", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

    assert(feed(0L, v6) === Set(
      (1L, "a", "insert", v1), (2L, "b", "insert", v1),
      (3L, "c", "insert", v2),
      (2L, "b", "delete", v3), (2L, "B", "insert", v3), (4L, "d", "insert", v3),
      (5L, "e", "insert", v4), (6L, "f", "insert", v5)), "full-range feed")
    assert(feed(v3, v6) === Set((5L, "e", "insert", v4), (6L, "f", "insert", v5)),
      "compaction must contribute nothing; range must filter")

    // replay identity: snapshot(from) + inserts - deletes == snapshot(to)
    val ch = TxLogTable.changes(spark, t, v2, v6)
    val replayed = rows(TxLogTable.read(spark, t, Some(v2))
        .unionAll(ch.filter($"_change_type" === "insert").select("id", "v")))
      .diff(rows(ch.filter($"_change_type" === "delete").select("id", "v")))
    assert(replayed === rows(TxLogTable.read(spark, t, Some(v6))))
  }

  // ----------------------------------------------------------------
  // compaction

  test("compact bin-packs small files into one version; history intact") {
    val t = rangedTable() // 3 single-file appends, versions 1..3
    val before = rows(TxLogTable.read(spark, t))
    val v = TxLogTable.compact(spark, t)
    assert(v === 4L, "compaction commits exactly one new version")
    assert(TxLogTable.candidateFiles(spark, t, "id").size === 1,
      "three small files collapse into one")
    assert(rows(TxLogTable.read(spark, t)) === before, "contents identical")
    // every pre-compaction version still reads the old files
    assert(rows(TxLogTable.read(spark, t, Some(2L))) ===
      Set((1L, "a"), (9L, "b"), (10L, "c"), (19L, "d")))
    // vacuum must NOT reclaim the compacted-away files (still history)
    assert(TxLogTable.vacuum(spark, t, olderThanMillis = 0L) === 0)
    assert(rows(TxLogTable.read(spark, t, Some(3L))) === before)
    // appends continue normally after a compaction
    TxLogTable.append(Seq((40L, "g")).toDF("id", "v").coalesce(1), t)
    assert(rows(TxLogTable.read(spark, t)) === before + ((40L, "g")))
  }

  test("compact with clusterBy restores data skipping on a shuffled table") {
    val t = freshTable()
    // interleaved ranges: every file spans [1, 30] → no skipping possible
    TxLogTable.append(Seq((1L, "a"), (30L, "f")).toDF("id", "v").coalesce(1), t)
    TxLogTable.append(Seq((2L, "b"), (29L, "e")).toDF("id", "v").coalesce(1), t)
    TxLogTable.append(Seq((3L, "c"), (28L, "d")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(25L)).size === 3)
    val before = rows(TxLogTable.read(spark, t))
    TxLogTable.compact(spark, t, targetFileBytes = 1L, clusterBy = Some("id"))
    val all = TxLogTable.candidateFiles(spark, t, "id")
    val hit = TxLogTable.candidateFiles(spark, t, "id", lower = Some(25L))
    assert(all.size > 1, "tiny targetFileBytes keeps several output files")
    assert(hit.size < all.size, "range-clustered rewrite prunes again")
    assert(rows(TxLogTable.prunedRead(spark, t, "id", lower = Some(25L))) ===
      before.filter(_._1 >= 25L))
  }

  test("z-order compact restores skipping on BOTH dimensions") {
    val t = freshTable()
    // 32×32 grid appended as 4 interleaved chunks: every file spans
    // the FULL range of both a and b → nothing prunes on either dim
    val grid = for { a <- 0 until 32; b <- 0 until 32 } yield (a.toLong, b.toLong)
    for (i <- 0 until 4)
      TxLogTable.append(
        grid.filter { case (a, b) => (a + b) % 4 == i }
          .toDF("a", "b").coalesce(1), t)
    assert(TxLogTable.candidateFiles(spark, t, "a", lower = Some(30L)).size === 4)
    assert(TxLogTable.candidateFiles(spark, t, "b", lower = Some(30L)).size === 4)
    val before = TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    intercept[IllegalArgumentException](TxLogTable.compact(spark, t,
      clusterBy = Some("a"), zOrderBy = Some(("a", "b"))))
    TxLogTable.compact(spark, t, targetFileBytes = 800L,
      zOrderBy = Some(("a", "b")), zBits = 5)
    val all = TxLogTable.candidateFiles(spark, t, "a")
    assert(all.size >= 6, "several output files expected")
    val hitA = TxLogTable.candidateFiles(spark, t, "a", lower = Some(30L))
    val hitB = TxLogTable.candidateFiles(spark, t, "b", lower = Some(30L))
    assert(hitA.size < all.size, "z-order layout must prune on a")
    assert(hitB.size < all.size, "z-order layout must prune on b")
    val band = TxLogTable.prunedRead(spark, t, "b", lower = Some(30L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(band === before.filter(_._2 >= 30L))
    assert(TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before,
      "helper z column must not leak into the table")
  }

  test("hilbert compact restores skipping on BOTH dimensions") {
    val t = freshTable()
    val grid = for { a <- 0 until 32; b <- 0 until 32 } yield (a.toLong, b.toLong)
    for (i <- 0 until 4)
      TxLogTable.append(
        grid.filter { case (a, b) => (a + b) % 4 == i }
          .toDF("a", "b").coalesce(1), t)
    assert(TxLogTable.candidateFiles(spark, t, "a", lower = Some(30L)).size === 4)
    val before = TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    intercept[IllegalArgumentException](TxLogTable.compact(spark, t,
      zOrderBy = Some(("a", "b")), hilbertBy = Some(("a", "b"))))
    TxLogTable.compact(spark, t, targetFileBytes = 800L,
      hilbertBy = Some(("a", "b")), zBits = 5)
    val all = TxLogTable.candidateFiles(spark, t, "a")
    assert(all.size >= 6, "several output files expected")
    val hitA = TxLogTable.candidateFiles(spark, t, "a", lower = Some(30L))
    val hitB = TxLogTable.candidateFiles(spark, t, "b", lower = Some(30L))
    assert(hitA.size < all.size, "hilbert layout must prune on a")
    assert(hitB.size < all.size, "hilbert layout must prune on b")
    val band = TxLogTable.prunedRead(spark, t, "b", lower = Some(30L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(band === before.filter(_._2 >= 30L))
    assert(TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before,
      "helper curve column must not leak into the table")
  }

  test("3-column z-order compact prunes on every clustered dimension") {
    val t = freshTable()
    // 16^3 cube in 4 interleaved chunks: every file spans all dims
    val cube = for { a <- 0 until 16; b <- 0 until 16; c <- 0 until 16 }
      yield (a.toLong, b.toLong, c.toLong)
    for (i <- 0 until 4)
      TxLogTable.append(
        cube.filter { case (a, b, c) => (a + b + c) % 4 == i }
          .toDF("a", "b", "c").coalesce(1), t)
    for (d <- Seq("a", "b", "c"))
      assert(TxLogTable.candidateFiles(spark, t, d, lower = Some(14L)).size === 4)
    val before = TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    TxLogTable.compact(spark, t, targetFileBytes = 400L,
      zOrderCols = Some(Seq("a", "b", "c")), zBits = 20) // capped to 63/3
    val all = TxLogTable.candidateFiles(spark, t, "a")
    assert(all.size >= 6, "several output files expected")
    for (d <- Seq("a", "b", "c"))
      assert(TxLogTable.candidateFiles(spark, t, d, lower = Some(14L)).size < all.size,
        s"3-dim z-order must prune on $d")
    assert(TxLogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === before)
  }

  test("compact is a no-op below two small files and skips big files") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.compact(spark, t) === 1L, "single file: no new version")
    assert(TxLogTable.versions(spark, t) === Seq(1L))
    TxLogTable.append(Seq((2L, "b")).toDF("id", "v").coalesce(1), t)
    // both files are "big" under a 1-byte threshold → untouched
    assert(TxLogTable.compact(spark, t, smallFileBytes = 1L) === 2L)
    assert(TxLogTable.versions(spark, t) === Seq(1L, 2L))
    assert(TxLogTable.candidateFiles(spark, t, "id").size === 2)
  }

  test("pruning respects time travel and overwrite resets stats") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), t)   // v1
    TxLogTable.append(Seq((50L, "b")).toDF("id", "v").coalesce(1), t)  // v2
    TxLogTable.overwrite(Seq((99L, "z")).toDF("id", "v").coalesce(1), t) // v3
    assert(TxLogTable.candidateFiles(spark, t, "id", lower = Some(40L),
      asOfVersion = Some(2L)).size === 1)
    assert(TxLogTable.candidateFiles(spark, t, "id", upper = Some(60L)).isEmpty,
      "overwrite must drop the old files' stats")
    assert(rows(TxLogTable.prunedRead(spark, t, "id", lower = Some(40L),
      asOfVersion = Some(2L))) === Set((50L, "b")))
  }

  // ----------------------------------------------------------------
  // log checkpoints

  /** `n` single-row appends (ids 1..n), each its own version. */
  private def manyAppends(t: String, n: Int): Unit =
    for (i <- 1 to n)
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)

  private def expected(n: Int): Set[(Long, String)] =
    (1 to n).map(i => (i.toLong, s"r$i")).toSet

  test("every CheckpointInterval-th commit auto-folds a checkpoint; reads stay exact") {
    val t = freshTable()
    manyAppends(t, 12)
    assert(TxLogTable.checkpoints(spark, t) === Seq(10L),
      "interval commit checkpoints, off-interval ones do not")
    // served from checkpoint(10) + 2 tail commits
    assert(rows(TxLogTable.read(spark, t)) === expected(12))
    // exactly at the checkpoint: zero tail commits replayed
    assert(rows(TxLogTable.read(spark, t, Some(10L))) === expected(10))
    // before the checkpoint: full replay path still works
    assert(rows(TxLogTable.read(spark, t, Some(5L))) === expected(5))
  }

  test("latest state is resolvable from checkpoint + tail alone (old commits expired)") {
    val t = freshTable()
    manyAppends(t, 12)
    // expire commits 1..9 (log retention): the checkpoint at 10 must
    // carry everything a latest-reader needs
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- 1 to 9)
      assert(fs.delete(new Path(t, f"_txlog/$v%020d.txt"), false))
    assert(rows(TxLogTable.read(spark, t)) === expected(12))
    assert(rows(TxLogTable.prunedRead(spark, t, "id", lower = Some(3L),
      upper = Some(4L))) === Set((3L, "r3"), (4L, "r4")),
      "per-file stats must survive the checkpoint roundtrip")
    // appends (and their txn dedup) keep working on the expired log
    TxLogTable.append(Seq((13L, "r13")).toDF("id", "v").coalesce(1), t)
    assert(rows(TxLogTable.read(spark, t)) === expected(13))
    // files whose only remaining witness is the checkpoint are NOT
    // orphans — vacuum must keep them
    assert(TxLogTable.vacuum(spark, t, olderThanMillis = 0L) === 0)
    assert(rows(TxLogTable.read(spark, t)) === expected(13))
  }

  test("a corrupt or torn checkpoint falls back to replay, never a wrong answer") {
    val t = freshTable()
    manyAppends(t, 11)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new Path(t, f"_txlog/${10L}%020d.checkpoint.txt")
    assert(fs.exists(ckpt))
    // truncate: drop the end marker and half the file list
    val full = {
      val in = fs.open(ckpt)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    fs.delete(ckpt, false)
    val out = fs.create(ckpt, false)
    try out.write(full.substring(0, full.length / 2)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(rows(TxLogTable.read(spark, t)) === expected(11),
      "torn checkpoint must be ignored")
    // forcing a fresh checkpoint repairs nothing destructively: the
    // torn v10 file stays, v11 gets a good one and wins for readers
    assert(TxLogTable.checkpoint(spark, t) === 11L)
    assert(TxLogTable.checkpoints(spark, t) === Seq(10L, 11L))
    assert(rows(TxLogTable.read(spark, t)) === expected(11))
  }

  test("txn idempotence and overwrite semantics hold across a checkpoint") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), t,
      txn = Some(("job", 7L)))
    manyAppends(t, 9) // ids 1..9 on top, versions 2..10 → checkpoint at 10
    assert(TxLogTable.checkpoints(spark, t) === Seq(10L))
    val before = TxLogTable.versions(spark, t).max
    // replayed epoch must dedup THROUGH the checkpoint's txn map
    assert(TxLogTable.append(Seq((99L, "dup")).toDF("id", "v"), t,
      txn = Some(("job", 7L))) === before, "replayed epoch committed again")
    // a genuinely new epoch still lands
    assert(TxLogTable.append(Seq((50L, "new")).toDF("id", "v").coalesce(1), t,
      txn = Some(("job", 8L))) === before + 1)
    // overwrite resets data but NOT txn identities (checkpoint after it)
    TxLogTable.overwrite(Seq((0L, "z")).toDF("id", "v").coalesce(1), t)
    TxLogTable.checkpoint(spark, t)
    assert(TxLogTable.append(Seq((98L, "dup2")).toDF("id", "v"), t,
      txn = Some(("job", 8L))) === before + 2,
      "txn identity must survive overwrite + checkpoint")
    assert(rows(TxLogTable.read(spark, t)) === Set((0L, "z")))
  }

  test("compaction always checkpoints and the pruned read serves from it") {
    val t = rangedTable() // versions 1..3
    TxLogTable.compact(spark, t, clusterBy = Some("id")) // v4 + checkpoint
    assert(TxLogTable.checkpoints(spark, t) === Seq(4L))
    assert(rows(TxLogTable.prunedRead(spark, t, "id", lower = Some(20L))) ===
      Set((20L, "e"), (29L, "f")))
    assert(rows(TxLogTable.read(spark, t, Some(2L))) ===
      Set((1L, "a"), (9L, "b"), (10L, "c"), (19L, "d")),
      "pre-compaction time travel unaffected by the checkpoint")
  }

  // ----------------------------------------------------------------
  // row-level DELETE / UPDATE (copy-on-write rewrite commits)

  private def liveFiles(t: String): Set[String] =
    TxLogTable.candidateFiles(spark, t, "id").toSet

  test("delete rewrites only the touched files; untouched bytes stay in place") {
    val t = freshTable()
    val v1 = TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1), t)
    val before = liveFiles(t)
    assert(before.size === 2, "premise: two single-file appends")
    val untouched = before -- liveFiles(t).filter { f =>
      // the file holding id=3 is the one v2 wrote; identify it by reading
      spark.read.parquet(s"$t/data/$f").filter($"id" === 3L).count() > 0
    }
    val v3 = TxLogTable.delete(spark, t, "id = 3")
    assert(v3 === v2 + 1)
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "b"), (4L, "d")))
    val after = liveFiles(t)
    assert((untouched -- after).isEmpty,
      "the file without matches must survive the delete untouched")
    assert(rows(TxLogTable.read(spark, t, Some(v2))) ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "time travel to the pre-delete snapshot")
    val hist = TxLogTable.history(spark, t)
      .select("version", "action").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(v3) === "rewrite")
    assert(hist(v1) === "append")
    // no-match delete commits nothing
    assert(TxLogTable.delete(spark, t, "id = 99") === v3)
    assert(TxLogTable.versions(spark, t).max === v3)
  }

  test("delete surfaces as delete rows in the change feed; replay identity holds") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.delete(spark, t, "id >= 2")
    val feed = TxLogTable.changes(spark, t, 1L, v2)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(feed === Set((2L, "b", "delete", v2), (3L, "c", "delete", v2)))
  }

  test("merge rewrites only files containing matched keys; unmatched keys append") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1), t)
    val untouched = liveFiles(t).filter { f =>
      spark.read.parquet(s"$t/data/$f").filter($"id" <= 2L).count() > 0
    }
    val v3 = TxLogTable.merge(spark, t,
      Seq((3L, "C"), (9L, "i")).toDF("id", "v"), "id")
    assert(v3 === v2 + 1)
    assert(rows(TxLogTable.read(spark, t)) ===
      Set((1L, "a"), (2L, "b"), (3L, "C"), (4L, "d"), (9L, "i")))
    assert((untouched -- liveFiles(t)).isEmpty,
      "the file with no matched key must survive the merge untouched")
    assert(TxLogTable.cdfCached(spark, t, v3), "merge leaves a CDF cache")
    val feed = TxLogTable.changes(spark, t, v2, v3)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set((3L, "c", "delete"), (3L, "C", "insert"),
      (9L, "i", "insert")))
    // type drift in the batch is rejected up front, not at read time
    intercept[IllegalArgumentException] {
      TxLogTable.merge(spark, t, Seq((3, "x")).toDF("id", "v"), "id") // INT id
    }
    // a merge whose keys match nothing is a pure append of the batch
    val v4 = TxLogTable.merge(spark, t, Seq((50L, "z")).toDF("id", "v"), "id")
    assert(rows(TxLogTable.read(spark, t)).contains((50L, "z")))
    assert(rows(TxLogTable.read(spark, t, Some(v3))).size === 5,
      "prior version unaffected")
    assert(v4 === v3 + 1)
  }

  test("rewrite CDF cache serves the feed; a torn cache falls back identically") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.delete(spark, t, "id >= 2")
    assert(TxLogTable.cdfCached(spark, t, v2), "delete must leave a CDF cache")
    def feed(from: Long, to: Long) = TxLogTable.changes(spark, t, from, to)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed(1L, v2) === Set((2L, "b", "delete"), (3L, "c", "delete")))
    // a no-op assignment cancels in the cached diff (multiset except)
    val v3 = TxLogTable.update(spark, t, "id = 1", Map("v" -> "v"))
    assert(feed(v2, v3) === Set.empty, "identity update contributes no changes")
    // tear the cache: the snapshot-diff fallback must answer identically
    val v4 = TxLogTable.update(spark, t, "id = 1", Map("v" -> "upper(v)"))
    val cached = feed(v3, v4)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$t/_cdf/$v4/_SUCCESS"), false))
    assert(!TxLogTable.cdfCached(spark, t, v4))
    assert(feed(v3, v4) === cached, "torn cache must fall back, not corrupt")
    assert(cached === Set((1L, "a", "delete"), (1L, "A", "insert")))
  }

  test("update applies SET expressions to matching rows only, preserving types") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.append(Seq((3L, "c")).toDF("id", "v").coalesce(1), t)
    val untouched = liveFiles(t).filter { f =>
      spark.read.parquet(s"$t/data/$f").filter($"id" === 3L).count() > 0
    }
    val v3 = TxLogTable.update(spark, t, "id = 2", Map("v" -> "upper(v)"))
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert((untouched -- liveFiles(t)).isEmpty,
      "file without matching rows must not be rewritten")
    val feed = TxLogTable.changes(spark, t, v2, v3)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set((2L, "b", "delete"), (2L, "B", "insert")),
      "update = delete(old) + insert(new) in the feed")
    // SET may reference other columns and must cast back to the column type
    val v4 = TxLogTable.update(spark, t, "v = 'a'", Map("id" -> "id + 100"))
    assert(rows(TxLogTable.read(spark, t)) === Set((101L, "a"), (2L, "B"), (3L, "c")))
    assert(TxLogTable.read(spark, t).schema ===
      TxLogTable.read(spark, t, Some(v2)).schema, "schema never drifts")
    assert(v4 === v3 + 1)
    // unknown SET column fails loudly; no-match update commits nothing
    intercept[IllegalArgumentException] {
      TxLogTable.update(spark, t, "id = 1", Map("nope" -> "1"))
    }
    assert(TxLogTable.update(spark, t, "id = -5", Map("v" -> "'x'")) === v4)
  }

  test("appendEvolve adds columns (old files null-fill) and accepts narrower batches") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a")).toDF("id", "v").coalesce(1), t)
    // wider batch: new column lands, old rows read it as null
    TxLogTable.appendEvolve(Seq((2L, "b", 7.5)).toDF("id", "v", "score")
      .coalesce(1), t)
    val now = TxLogTable.read(spark, t)
    assert(now.schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(now.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet ===
      Set((1L, "a", None), (2L, "b", Some(7.5))))
    // narrower batch: omitted column null-fills inside the new file
    TxLogTable.appendEvolve(Seq((3L, "c")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.read(spark, t).filter($"id" === 3L)
      .select("score").collect().head.isNullAt(0))
    // type drift on a common column is rejected, not coerced
    intercept[IllegalArgumentException] {
      TxLogTable.appendEvolve(Seq((4, "d")).toDF("id", "v"), t) // id: INT not BIGINT
    }
    // plain append still enforces the (now evolved) schema
    intercept[IllegalArgumentException] {
      TxLogTable.append(Seq((5L, "e")).toDF("id", "v"), t)
    }
    // time travel reads v1 with its ORIGINAL two-column schema
    assert(TxLogTable.read(spark, t, Some(1L)).schema.fieldNames.toSeq ===
      Seq("id", "v"))
  }

  test("restore rolls back metadata-only: old files re-referenced, nothing moves") {
    val t = freshTable()
    val v1 = TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.overwrite(Seq((3L, "c")).toDF("id", "v").coalesce(1), t)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFilesBefore = fs.listStatus(new Path(t, "data")).map(_.getPath.getName).toSet
    val v3 = TxLogTable.restore(spark, t, v1)
    assert(v3 === v2 + 1)
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "b")))
    assert(fs.listStatus(new Path(t, "data")).map(_.getPath.getName).toSet ===
      dataFilesBefore, "restore must not write, copy, or remove any data file")
    assert(rows(TxLogTable.read(spark, t, Some(v2))) === Set((3L, "c")),
      "the rolled-back version stays time-travelable")
    // restore-to-current is a no-op; restore of a missing version fails
    assert(TxLogTable.restore(spark, t, v3) === v3)
    intercept[IllegalArgumentException] { TxLogTable.restore(spark, t, 99L) }
    // the change feed shows the restore as its logical diff
    val feed = TxLogTable.changes(spark, t, v2, v3)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set((3L, "c", "delete"),
      (1L, "a", "insert"), (2L, "b", "insert")))
    // stats ride along: pruning still skips after a restore
    val t2 = freshTable()
    (0 until 3).foreach { i =>
      TxLogTable.append((i * 10 until i * 10 + 10).map(k => (k.toLong, s"x$k"))
        .toDF("id", "v").coalesce(1), t2)
    }
    TxLogTable.overwrite(Seq((99L, "z")).toDF("id", "v").coalesce(1), t2)
    TxLogTable.restore(spark, t2, 3L)
    assert(TxLogTable.candidateFiles(spark, t2, "id",
      lower = Some(25L), upper = Some(27L)).size === 1,
      "restored stats must still prune to the one covering file")
  }

  test("CHECK constraints gate every write; NULL passes; survive overwrite and checkpoints") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    // adding a constraint existing data violates is rejected
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.addConstraint(spark, t, "big_ids", "id > 1")
    }
    // a non-resolving expression is rejected with guidance
    intercept[IllegalArgumentException] {
      TxLogTable.addConstraint(spark, t, "nope", "no_such_col > 0")
    }
    TxLogTable.addConstraint(spark, t, "pos_id", "id > 0")
    TxLogTable.addConstraint(spark, t, "v_len", "length(v) <= 3")
    assert(TxLogTable.constraints(spark, t).keySet === Set("pos_id", "v_len"))
    // violating append fails BEFORE any commit lands; table unchanged
    val before = TxLogTable.versions(spark, t).max
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.append(Seq((-5L, "x")).toDF("id", "v").coalesce(1), t)
    }
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.append(Seq((9L, "toolong")).toDF("id", "v").coalesce(1), t)
    }
    assert(TxLogTable.versions(spark, t).max === before)
    assert(rows(TxLogTable.read(spark, t)) === Set((1L, "a"), (2L, "b")))
    // UPDATE that would break a constraint is rejected too
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.update(spark, t, "id = 1", Map("id" -> "-id"))
    }
    // NULL result passes (SQL CHECK semantics): nullable column ok
    TxLogTable.appendEvolve(Seq((3L, "c", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v", "extra").coalesce(1), t)
    TxLogTable.addConstraint(spark, t, "extra_pos", "extra > 0")
    TxLogTable.append(
      Seq((4L, "d", null.asInstanceOf[java.lang.Long])).toDF("id", "v", "extra")
        .coalesce(1), t) // extra IS NULL → passes
    // constraints survive overwrite...
    TxLogTable.overwrite(Seq((7L, "z", 1L)).toDF("id", "v", "extra").coalesce(1), t)
    assert(TxLogTable.constraints(spark, t).keySet ===
      Set("pos_id", "v_len", "extra_pos"))
    // ...and a checkpoint (force one, then enforcement must still hold)
    TxLogTable.checkpoint(spark, t)
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.append(Seq((-1L, "y", 2L)).toDF("id", "v", "extra"), t)
    }
    // a NARROWER evolve-append under a constraint on the omitted
    // column: the column null-fills on read, NULL passes CHECK
    TxLogTable.appendEvolve(Seq((8L, "h")).toDF("id", "v").coalesce(1), t)
    assert(TxLogTable.read(spark, t).filter($"id" === 8L)
      .select("extra").collect().head.isNullAt(0))
    // drop lifts the gate
    TxLogTable.dropConstraint(spark, t, "pos_id")
    TxLogTable.append(Seq((-1L, "y", 2L)).toDF("id", "v", "extra").coalesce(1), t)
    assert(TxLogTable.read(spark, t).count() === 3L) // {7,z}, {8,h}, {-1,y}
    intercept[IllegalArgumentException] {
      TxLogTable.dropConstraint(spark, t, "pos_id") // already gone
    }
  }

  test("scoped compaction (onlyWhere) rewrites the hot range's files only") {
    val t = freshTable()
    // three clustered appends: key bands [0,10), [100,110), [200,210)
    for (b <- Seq(0L, 100L, 200L))
      TxLogTable.append((b until b + 10).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, $"id"), t)
    val before = liveFiles(t)
    assert(before.size === 6, "premise: 2 files per band")
    val v = TxLogTable.compact(spark, t,
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 20,
      onlyWhere = Some(("id", Some(100L), Some(110L))))
    assert(v > 3L, "scoped compaction must commit")
    val after = liveFiles(t)
    val untouchedBands = before.filter { f =>
      val ids = spark.read.parquet(s"$t/data/$f").select("id")
        .collect().map(_.getLong(0))
      ids.forall(i => i < 100 || i >= 200)
    }
    assert((untouchedBands -- after).isEmpty,
      "files outside the scoped range must survive untouched")
    assert(after.size === untouchedBands.size + 1,
      "the hot band's two files must collapse into one")
    assert(rows(TxLogTable.read(spark, t)).map(_._1) ===
      (0L until 10L).toSet ++ (100L until 110L) ++ (200L until 210L))
  }

  test("shallow clone: zero-copy fork, independent life, format read resolves") {
    val tmp = Files.createTempDirectory("graft-clone")
    val src = tmp.resolve("src").toString
    val dst = tmp.resolve("dst").toString
    for (b <- Seq(0L, 100L))
      TxLogTable.append((b until b + 10).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, $"id"), src)
    assert(TxLogTable.shallowClone(spark, src, dst) === 1L)
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dst, "data")), "clone must copy zero bytes")
    assert(rows(TxLogTable.read(spark, dst)) === rows(TxLogTable.read(spark, src)))
    // stats ride along: pruning works immediately on the clone
    assert(TxLogTable.candidateFiles(spark, dst, "id",
      lower = Some(105L), upper = Some(107L)).size === 1)
    // the format read resolves absolute entries through the FileIndex
    assert(spark.read.format("graft-txlog").load(dst).count() === 20L)
    // DML on the clone never touches the source...
    TxLogTable.delete(spark, dst, "id >= 100")
    assert(TxLogTable.read(spark, dst).count() === 10L)
    assert(TxLogTable.read(spark, src).count() === 20L, "source untouched")
    // ...and source DML never disturbs the clone (copy-on-write keeps
    // the files the clone references; vacuum never reclaims them)
    TxLogTable.delete(spark, src, "id < 5")
    TxLogTable.vacuum(spark, src, olderThanMillis = 0L)
    assert(TxLogTable.read(spark, dst).count() === 10L)
    assert(rows(TxLogTable.read(spark, dst, Some(1L))).size === 20)
    // the clone materializes itself through normal maintenance
    TxLogTable.append(Seq((500L, "new")).toDF("id", "v").coalesce(1), dst)
    TxLogTable.compact(spark, dst, smallFileBytes = 1L << 20,
      targetFileBytes = 1L << 20)
    assert(fs.exists(new Path(dst, "data")))
    assert(TxLogTable.read(spark, dst).count() === 11L)
    // clone-of-a-clone and non-empty-target guard
    val dst2 = tmp.resolve("dst2").toString
    TxLogTable.shallowClone(spark, dst, dst2, srcVersion = Some(1L))
    assert(TxLogTable.read(spark, dst2).count() === 20L)
    intercept[IllegalArgumentException] {
      TxLogTable.shallowClone(spark, src, dst2)
    }
    val hist = TxLogTable.history(spark, dst)
      .filter($"version" === 1L).select("operation").collect().head.getString(0)
    assert(hist.startsWith("shallow clone of"))
  }

  test("generated columns: declared at create, auto-filled on append, enforced when provided") {
    val t = freshTable()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v2",
        org.apache.spark.sql.types.LongType)))
    // declaration is validated at create: unknown column / unresolvable expr
    intercept[IllegalArgumentException] {
      TxLogTable.create(spark, freshTable(), schema,
        Map(TxLogTable.GeneratedPropPrefix + "nope" -> "v * 2"))
    }
    intercept[IllegalArgumentException] {
      TxLogTable.create(spark, freshTable(), schema,
        Map(TxLogTable.GeneratedPropPrefix + "v2" -> "no_such_col * 2"))
    }
    TxLogTable.create(spark, t, schema,
      Map(TxLogTable.GeneratedPropPrefix + "v2" -> "v * 2"))
    def all(): Set[(Long, Long, Long)] = TxLogTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a batch OMITTING the generated column gets it computed
    TxLogTable.append(Seq((1L, 10L)).toDF("id", "v").coalesce(1), t)
    assert(all() === Set((1L, 10L, 20L)))
    // a batch PROVIDING a consistent value passes...
    TxLogTable.append(Seq((2L, 20L, 40L)).toDF("id", "v", "v2").coalesce(1), t)
    // ...an inconsistent one is rejected by the derived CHECK
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.append(Seq((3L, 30L, 99L)).toDF("id", "v", "v2").coalesce(1), t)
    }
    assert(all() === Set((1L, 10L, 20L), (2L, 20L, 40L)))
    // UPDATE must keep the generation consistent: touching only the
    // source column is rejected, the consistent pair passes
    intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.update(spark, t, "id = 1", Map("v" -> "v + 1"))
    }
    TxLogTable.update(spark, t, "id = 1",
      Map("v" -> "v + 1", "v2" -> "(v + 1) * 2"))
    assert(all() === Set((1L, 11L, 22L), (2L, 20L, 40L)))
    // the generated column and its source are pinned while declared
    intercept[IllegalArgumentException] {
      TxLogTable.renameColumn(spark, t, "v2", "twice")
    }
    intercept[IllegalArgumentException] {
      TxLogTable.dropColumn(spark, t, "v")
    }
  }

  test("shallow clone carries table properties AND check constraints to new writes") {
    val tmp = Files.createTempDirectory("graft-clone-meta")
    val src = tmp.resolve("src").toString
    val dst = tmp.resolve("dst").toString
    TxLogTable.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "bal")
      .coalesce(1), src)
    TxLogTable.setProperties(spark, src, Map("graft.bloom.columns" -> "id"))
    TxLogTable.addConstraint(spark, src, "bal_pos", "bal >= 0")
    TxLogTable.shallowClone(spark, src, dst)
    // metadata arrived in the clone's single commit
    assert(TxLogTable.properties(spark, dst)
      .get("graft.bloom.columns").contains("id"))
    assert(TxLogTable.constraints(spark, dst)
      .get("bal_pos").contains("bal >= 0"))
    // ...and is LIVE: a violating append to the CLONE is rejected
    val e = intercept[TxLogTable.ConstraintViolation] {
      TxLogTable.append(Seq((3L, -5L)).toDF("id", "bal").coalesce(1), dst)
    }
    assert(e.getMessage.contains("bal_pos"))
    // a clean append passes and keeps maintaining the bloom property
    TxLogTable.append(Seq((3L, 30L)).toDF("id", "bal").coalesce(1), dst)
    assert(TxLogTable.read(spark, dst).count() === 3L)
  }

  test("fastCount answers COUNT(*) from commit metadata and tracks DML exactly") {
    val t = freshTable()
    TxLogTable.append((1L to 100L).map(k => (k, s"v$k")).toDF("id", "v")
      .repartition(3), t)
    assert(TxLogTable.fastCount(spark, t) === 100L)
    TxLogTable.append((101L to 130L).map(k => (k, s"v$k")).toDF("id", "v")
      .coalesce(1), t)
    assert(TxLogTable.fastCount(spark, t) === 130L)
    TxLogTable.delete(spark, t, "id % 10 = 0")
    assert(TxLogTable.fastCount(spark, t) === 117L)
    assert(TxLogTable.fastCount(spark, t) === TxLogTable.read(spark, t).count())
    TxLogTable.compact(spark, t, smallFileBytes = 1L << 20,
      targetFileBytes = 1L << 20)
    assert(TxLogTable.fastCount(spark, t) === 117L, "compaction preserves count")
    assert(TxLogTable.fastCount(spark, t, Some(1L)) === 100L, "time travel counts")
  }

  test("deleting every row of every file leaves an empty, readable table") {
    val t = freshTable()
    TxLogTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val v2 = TxLogTable.delete(spark, t, "id > 0")
    val now = TxLogTable.read(spark, t)
    assert(now.count() === 0L)
    assert(now.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(rows(TxLogTable.read(spark, t, Some(v2 - 1))) ===
      Set((1L, "a"), (2L, "b")))
  }

  test("a metadata commit at v10 writes checkpoint 10; a read at v19 opens at most 10 log files") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countlog.impl", classOf[CountingLogFs].getName)
    val t = s"countlog://${Files.createTempDirectory("txlog-ckpt")}/t"
    def add(i: Int): Long =
      TxLogTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    for (i <- 1 to 9) add(i)
    assert(TxLogTable.setProperties(spark, t, Map("tier" -> "bronze")) === 10L)
    assert(TxLogTable.checkpoints(spark, t) === Seq(10L))
    for (i <- 11 to 19) add(i)
    CountingLogFs.reset()
    assert(rows(TxLogTable.read(spark, t)).size === 18)
    val opened = CountingLogFs.opens.values.sum
    assert(opened <= TxLogTable.CheckpointInterval,
      s"a read at v19 opened $opened log files: ${CountingLogFs.opens}")
  }
}
