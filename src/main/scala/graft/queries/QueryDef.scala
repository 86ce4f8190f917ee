package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One named query: the Spark plan builder plus (when SQL-expressible)
  * an equivalent ANSI SQL text for the DuckDB oracle. Column names and
  * row order must agree between the two (the driver's compare hashes
  * values after sorting columns by name).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Per-JVM scratch base for queries that materialize side tables
    * (TxLog tables, bucketed warehouses, ORC round-trips). One temp
    * base per session, removed by a shutdown hook — repeated
    * verify/bench/stability sweeps previously leaked one
    * `Files.createTempDirectory` per query execution (27 sites),
    * accumulating unbounded /tmp dirs. */
  private lazy val scratchBase: java.nio.file.Path = {
    // scratch is ephemeral by definition — prefer the memory-backed
    // tmpfs when the host has one. Scratch-table I/O (TxLog side
    // tables, bucketed warehouses, ORC round-trips) is pure machinery
    // cost, and three rounds of official-bench attribution traced the
    // dominant cross-run variance to host disk slow windows landing
    // exactly on these writes (r15 checkpoint: the code-unchanged
    // TxLog family +14 s in one window, q232 +3.2 s alone). At
    // deployment scale scratch lives on the cluster's ephemeral
    // local-SSD tier; tmpfs is the single-node equivalent, and losing
    // scratch on restart IS the contract (every site re-creates via
    // [[scratch]]).
    // The 4 GiB floor and the SPARK_GRAFT_NO_SHM kill-switch fall
    // back to /tmp where tmpfs is small or unwanted.
    val base = graft.Sessions.shm(4L << 30)
      .fold(java.nio.file.Files.createTempDirectory("graft_scratch"))(
        java.nio.file.Files.createTempDirectory(_, "graft_scratch"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(base)))
    base
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** A deterministic per-prefix scratch dir, EMPTIED on every call:
    * re-running the same query overwrites its previous scratch
    * instead of leaking a fresh temp dir. Queries run sequentially in
    * Verify/Bench; the synchronization is a backstop for concurrent
    * callers with distinct prefixes. Returns a freshly-created empty
    * directory — the exact `createTempDirectory` contract the call
    * sites were written against. */
  def scratch(prefix: String): java.nio.file.Path = scratchBase.synchronized {
    val p = scratchBase.resolve(prefix)
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p)
  }

  /** Shorthand parquet table loader for the testdata star schema.
    *
    * `events.ts` is physically TIMESTAMP(NANOS) parquet, which Spark
    * cannot read as a timestamp; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so it scans as LONG
    * nanos, and the loader converts to TIMESTAMP_NTZ here via integer
    * division (`div 1000` — a double-precision divide would lose
    * microseconds at ~1.7e18 ns epoch values).
    */
  /** Inferred-schema cache for [[table]]. Every `spark.read.parquet`
    * without an explicit schema fires a one-task footer-read JOB —
    * a scheduler barrier — before the query proper starts; a query
    * touching six tables pays six. The testdata star schema is
    * immutable for the life of the JVM, so the first inference per
    * path is authoritative and every later load passes it explicitly
    * (zero jobs). Keyed by path PLUS the nanos-as-long conf: `events`
    * infers `ts` as LONG only under that flag, and a session reading
    * without it must not inherit the flagged session's schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]

  /** Exact row count of a testdata table from parquet FOOTER metadata
    * — no Spark job, no data pages read (round 19, guide §6 / §2.4).
    *
    * Queries that derive a routing constant or a literal from the
    * corpus size (`k ~ sqrt(n)` centroid counts, batch split points,
    * lift denominators) previously paid a full `df.count()` job — a
    * scheduler barrier plus a column-less scan — before the query
    * proper started. The parquet footer already records every row
    * group's row count; summing them is the same metadata a lakehouse
    * metastore serves for COUNT(*), computed fresh from the input
    * files ON EVERY CALL (no memo — each bench/oracle invocation
    * re-reads the footers, so nothing is reused across queries or
    * runs; the value is identical to `spark.read.parquet(p).count()`
    * by the parquet spec). Only valid for the count of a FULL table
    * (or a row-preserving projection of one) — filtered counts still
    * run as jobs.
    */
  def tableRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(hconf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(root))
    files.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hconf))
      try rd.getRecordCount finally rd.close()
    }.sum
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = path + "|" + spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    val converted =
      if (name == "events")
        // normalize ts to TIMESTAMP_NTZ whatever the writer encoded:
        // TIMESTAMP(NANOS) scans as LONG under nanosAsLong; micro-
        // precision parquet (e.g. written by another engine) scans as
        // a timestamp type already — a lake has mixed writers
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts",
              org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
                .cast(org.apache.spark.sql.types.TimestampNTZType))
          case _ =>
            df.withColumn("ts",
              org.apache.spark.sql.functions.col("ts")
                .cast(org.apache.spark.sql.types.TimestampNTZType))
        }
      else df
    // documents/embeddings are tiny ON DISK (<1 MB → one input split)
    // but per-ROW expensive (shingling, hashing, 64-dim math): split
    // them across the cluster explicitly. At 100 TB these tables are
    // many-splits anyway and this one exchange is amortized; in local
    // bench it is the difference between 1 and 32 busy cores.
    //
    // HASH by the id, not round-robin (round 19, guide §2.4): ids are
    // unique and dense, so hash(id) spreads rows exactly as evenly —
    // but it also ESTABLISHES the partitioning almost every consumer
    // needs. The corpus pipelines aggregate per document / per vector
    // (minhash signatures, PQ encode argmin, ADC sums, gram winnowing
    // all key their first groupBy on the id), and those groups are
    // born complete inside one partition (explode fan-out of a single
    // row): with round-robin each such aggregate still paid a full
    // exchange + AQE barrier to move already-complete partial rows;
    // with hash(id) the ClusteredDistribution is satisfied at the
    // scan and the exchange disappears from every id-keyed aggregate,
    // join and window downstream. Aggregate VALUES are unchanged:
    // each group's rows were already co-located map-side (one source
    // row), so partial results and their merge order are identical —
    // this moves no row relative to its group, it only relabels which
    // partition the complete group lives in. REPARTITION_BY_NUM, so
    // AQE never coalesces it and the advertised partitioning is
    // trusted downstream.
    if (name == "documents")
      converted.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    else if (name == "embeddings")
      converted.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    else converted
  }
}
