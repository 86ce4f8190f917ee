package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types._

import graft.sink.TxLogTable

/** `spark.read.format("graft-txlog")` — the SQL-facing surface of the
  * version-log ACID table ([[graft.sink.TxLogTable]]), wired the way
  * the public Delta-on-Spark design does it: a custom [[FileIndex]]
  * resolves the commit log to the live file set and prunes it with the
  * committed per-file min/max stats, then hands the surviving files to
  * the ordinary [[HadoopFsRelation]] + [[ParquetFileFormat]] pipeline.
  * Everything downstream (column pruning, parquet row-group pushdown,
  * vectorized read, AQE) composes for free, and the skipping now
  * reacts to the QUERY's own `WHERE` clause — `FileSourceStrategy`
  * passes the data filters into [[FileIndex.listFiles]], so a
  * selective predicate touches only the files whose committed range
  * intersects, with no library-specific read API involved.
  *
  * Options:
  *   - `path`            table root (also via `.load(path)`)
  *   - `versionAsOf`     time travel to an exact committed version
  *   - `timestampAsOf`   newest commit at or before the timestamp
  *                       (`yyyy-MM-dd HH:mm:ss` local or ISO instant)
  *   - `changesFrom` [+ `changesTo`]   change-data-feed mode: the
  *                       row-level insert/delete feed for versions in
  *                       `(changesFrom, changesTo]` (default latest)
  *                       via [[TxLogTable.changes]], with
  *                       `_change_type` / `_commit_version` columns
  *
  * SQL users reach time travel through
  * `CREATE TEMPORARY VIEW v USING graft-txlog OPTIONS (path '…',
  * versionAsOf '3')`.
  *
  * The write side implements [[CreatableRelationProvider]]:
  * `df.write.format("graft-txlog").mode(...)` maps Append/Overwrite to
  * the transactional [[TxLogTable.append]]/[[TxLogTable.overwrite]].
  */
final class TxLogDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-txlog"

  /** `df.writeStream.format("graft-txlog")` — the sink half of the
    * lakehouse loop as a FORMAT (the library form is
    * `StreamingOps.txLogSink`): each micro-batch appends as one
    * transactional commit carrying `(queryName|queryId, batchId)` as
    * its txn identity, so a batch re-delivered after a crash/restart
    * is a no-op and table contents are exactly-once over
    * at-least-once delivery. `option("txnApp", …)` pins the identity
    * explicitly (recommended — survives checkpoint re-creation);
    * otherwise the checkpoint's queryId is used.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-txlog sink does not take partitionBy (cluster via compact)")
    val path = TxLogDataSource.pathOf(parameters)
    // txn identity: explicit option, else derived from the query's
    // checkpoint location — stable across restarts of the SAME query,
    // distinct across different queries writing one table (a shared
    // constant identity would make two queries' batchIds collide and
    // silently no-op each other's commits)
    val app = parameters.get("txnApp").orElse(
      parameters.get("checkpointLocation").map { p =>
        "graft-txlog-sink-" + java.util.UUID.nameUUIDFromBytes(
          p.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
      })
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the incoming frame is streaming-tagged; commit its rows
        // through the normal batch writer under the txn identity
        val rows = data.queryExecution.toRdd
        val schema = data.schema
        val spark = data.sparkSession
        val batchDf = graftshim.ColumnShim.internalCreateDataFrame(
          spark, rows, schema)
        TxLogTable.append(batchDf, path,
          txn = Some((app.getOrElse("graft-txlog-sink"), batchId)))
      }
      override def toString: String = s"TxLogSink[$path]"
    }
  }

  // ---- streaming read: commits become micro-batches ---------------

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(TxLogTable.scanSnapshot(
      sqlContext.sparkSession, TxLogDataSource.pathOf(parameters), None)
      .logicalSchema)
    (shortName(), TxLogStreamSource.streamSchema(base,
      parameters.get("readChangeFeed").exists(_.trim.toBoolean)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogStreamSource(sqlContext.sparkSession,
      TxLogDataSource.pathOf(parameters),
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.trim.toBoolean),
      readChangeFeed = parameters.get("readChangeFeed").exists(_.trim.toBoolean))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = TxLogDataSource.pathOf(parameters)
    // change-data-feed mode: changesFrom (exclusive) [+ changesTo,
    // default latest] returns the row-level insert/delete feed
    // instead of a snapshot
    parameters.get("changesFrom") match {
      case Some(fromRaw) =>
        val to = parameters.get("changesTo").map(_.trim.toLong)
          .getOrElse(TxLogTable.versions(spark, path).max)
        TxLogRead.bridge(spark,
          TxLogTable.changes(spark, path, fromRaw.trim.toLong, to))
      case None =>
        TxLogRead.relation(spark, path, TxLogTable.scanSnapshot(spark, path,
          TxLogDataSource.resolveVersion(spark, path, parameters)), parameters)
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = TxLogDataSource.pathOf(parameters)
    mode match {
      case SaveMode.Append    => TxLogTable.append(data, path)
      case SaveMode.Overwrite => TxLogTable.overwrite(data, path)
      case other => throw new IllegalArgumentException(
        s"graft-txlog supports SaveMode.Append/Overwrite, got $other")
    }
    createRelation(sqlContext, parameters)
  }
}

private object TxLogDataSource {
  def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-txlog: missing 'path' (pass .load(path) or OPTIONS (path '…'))"))

  def resolveVersion(spark: SparkSession, path: String,
      parameters: Map[String, String]): Option[Long] =
    parameters.get("versionAsOf").map(_.trim.toLong).orElse(
      parameters.get("timestampAsOf").map { raw =>
        val t = raw.trim
        val millis = scala.util.Try(java.sql.Timestamp.valueOf(t).getTime)
          .orElse(scala.util.Try(java.time.Instant.parse(t).toEpochMilli))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-txlog: cannot parse timestampAsOf '$raw' " +
              "(want 'yyyy-MM-dd HH:mm:ss' or an ISO instant)"))
        TxLogTable.versionAtTimestamp(spark, path, millis)
      })
}

/** Incremental streaming source over the commit log — the read half
  * of the lakehouse loop whose write half is the exactly-once
  * streaming sink: offsets ARE versions, and each micro-batch reads
  * exactly the data files added by append/overwrite commits in
  * `(startVersion, endVersion]`. Compaction commits are skipped (they
  * rewrite already-streamed rows; the replaced originals stay on disk
  * for time travel, so reading them remains correct), and a replayed
  * txn append commits nothing — so nothing is ever streamed twice.
  * Offsets live in the query checkpoint: a restarted query resumes
  * from its last committed version with no reprocessing. Which batch
  * reads what, and what it refuses, is [[TxLogRead.microBatch]],
  * shared with the catalog's [[GraftMicroBatchStream]].
  */
final class TxLogStreamSource(spark: SparkSession, tablePath: String,
    ignoreDeletes: Boolean = false,
    readChangeFeed: Boolean = false) extends Source {

  // The schema is resolved once at source creation (the v1 Source
  // contract): columns added by a later appendEvolve are served as
  // absent until the query restarts — same restart-on-schema-change
  // rule as the public lake-table streaming sources.

  // resolved once at source creation: the PHYSICAL schema reads the
  // parquet bytes, the LOGICAL one (with the mapping as of creation)
  // is what the stream serves
  private val snap0 = TxLogTable.scanSnapshot(spark, tablePath, None)

  override val schema: StructType =
    TxLogStreamSource.streamSchema(snap0.logicalSchema, readChangeFeed)

  override def getOffset: Option[OffsetV1] =
    graft.sink.TxLogTable.versions(spark, tablePath)
      .maxOption.map(LongOffset(_))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): org.apache.spark.sql.DataFrame = {
    val lo = start.map(version).getOrElse(0L)
    val hi = version(end)
    // CHANGE-FEED mode: the micro-batch is the row-level
    // insert/delete feed for the version range — deletes are first-
    // class rows here, so DML commits stream instead of failing the
    // query (the streaming half of the CDC loop; the batch half is
    // the changesFrom read). changes() runs the reader gate and the
    // expired-range refusal itself.
    if (readChangeFeed)
      streamRows(TxLogTable.changes(spark, tablePath, lo, hi), schema)
    else TxLogRead.microBatch(TxLogTable.openLog(spark, tablePath), lo, hi,
        first = start.isEmpty, ignoreDeletes) match {
      case scala.util.Left(snap) =>
        // the snapshot is already DV-masked and rename-aware, so
        // rewrites before `hi` need no special-casing. All-nullable:
        // the incremental path reads parquet (nullable attributes) —
        // the initial batch must agree or a downstream stateful
        // operator pins the stricter key schema and the first RESTART
        // fails the state-store schema check
        streamRows(TxLogTable.frame(spark, tablePath, snap),
          StructType(schema.fields.map(_.copy(nullable = true))))
      case scala.util.Right(files) if files.isEmpty =>
        // the engine requires isStreaming=true on the returned plan
        graftshim.ColumnShim.ofRows(spark, LocalRelation(
          schema.fields.toSeq.map(f =>
            AttributeReference(f.name, f.dataType, f.nullable)()),
          Nil, isStreaming = true))
      case scala.util.Right(files) =>
        // read the parquet bytes under their PHYSICAL names, serve the
        // stream's logical schema via one aliasing projection; a plain
        // parquet read is batch-tagged, so retag its LogicalRelation
        val raw = spark.read.schema(snap0.schema)
          .parquet(files.map(f => TxLogTable.dataFilePath(tablePath, f)): _*)
        val df = raw.select(snap0.schema.fieldNames.toSeq.map { p =>
          org.apache.spark.sql.functions.col(p)
            .as(snap0.renames.getOrElse(p, p))
        }: _*)
        graftshim.ColumnShim.ofRows(spark, df.queryExecution.analyzed.transform {
          case lr: LogicalRelation => lr.copy(isStreaming = true)
        })
    }
  }

  /** `df` projected by name onto `target` (columns it lacks null-fill)
    * and re-tagged streaming through the executed-rows bridge (same
    * pattern as the streaming sink). */
  private def streamRows(df: DataFrame, target: StructType): DataFrame = {
    val aligned = df.select(target.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }: _*)
    graftshim.ColumnShim.internalCreateDataFrame(
      spark, aligned.queryExecution.toRdd, target, isStreaming = true)
  }

  /** Offsets come back as SerializedOffset after a restart. */
  private def version(o: OffsetV1): Long = o match {
    case LongOffset(v) => v
    case other         => other.json.trim.toLong
  }

  override def stop(): Unit = ()
}

private[graft] object TxLogStreamSource {

  /** `base` as a stream serves it: with `readChangeFeed`, plus the
    * change-feed columns [[TxLogTable.changes]] tags each row with. */
  def streamSchema(base: StructType, readChangeFeed: Boolean): StructType =
    if (!readChangeFeed) base
    else StructType(base.fields ++ Seq(
      StructField("_change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = true)))
}

/** Commit-log-backed file listing with stats pruning: the moment
  * Catalyst hands `listFiles` the query's data filters, files whose
  * committed min/max cannot intersect are dropped from the scan —
  * before any parquet footer is opened. Pruning is conservative
  * (unknown shapes, wrong types, stats-less files all pass through);
  * the filters still run post-scan, so results are exact regardless.
  */
final class TxLogFileIndex private[graft] (spark: SparkSession,
    tablePath: String, snap: TxLogTable.Snapshot) extends FileIndex {

  def this(spark: SparkSession, tablePath: String, asOfVersion: Option[Long]) =
    this(spark, tablePath, TxLogTable.scanSnapshot(spark, tablePath, asOfVersion))

  private val dataDir = new Path(tablePath, "data")
  private val fs =
    dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val statusByName: Map[String, FileStatus] =
    if (!fs.exists(dataDir)) Map.empty
    else fs.listStatus(dataDir).map(s => s.getPath.getName -> s).toMap

  private def statusOf(name: String): FileStatus =
    statusByName.getOrElse(name,
      // absolute entries (shallow-clone references into the source
      // table) resolve individually — they never live under data/
      if (TxLogTable.isAbsoluteEntry(name)) {
        val p = new Path(name)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      }
      else throw new IllegalStateException(
        s"committed data file missing from $dataDir: $name " +
          "(vacuum raced a reader, or the table dir was tampered with)"))

  val dataSchema: StructType = snap.schema

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = snap.files.map(statusOf(_).getLen).sum
  override def inputFiles: Array[String] =
    snap.files.map(f => statusOf(f).getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = dataFilters.flatMap(TxLogFileIndex.extractBounds)
    val nullChecks = dataFilters.flatMap(TxLogFileIndex.extractNullCheck)
    val equalities = dataFilters.flatMap(TxLogFileIndex.extractEqualities)
    val kept = snap.files.filter { f =>
      bounds.forall { case (col, lo, hi) =>
        snap.mayRangeIntersect(f, col, lo, hi) &&
          // a value comparison can never match an ALL-NULL chunk —
          // the one case min/max stats (absent for such files) miss
          !snap.nullCounts(f, col).exists { case (n, rows) => n == rows }
      } &&
      nullChecks.forall { case (col, wantNull) =>
        snap.nullCounts(f, col) match {
          case None => true // no recorded counts → conservative read
          case Some((n, rows)) => if (wantNull) n > 0 else n < rows
        }
      } &&
      // bloom skipping: `c = v` keeps the file only if the bloom may
      // contain v; an IN-list keeps it if ANY member may be present
      equalities.forall { case (col, values) =>
        values.exists(v => snap.mayContainEq(f, col, v))
      }
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(statusOf).toArray))
  }
}

private object TxLogFileIndex {

  /** One catalyst conjunct → an optional (column, lower, upper) bound
    * in external value space. Strict bounds relax to inclusive ones —
    * conservative for pruning; the residual filter keeps exactness.
    */
  def extractBounds(e: Expression): Option[(String, Option[Any], Option[Any])] =
    e match {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, Some(v), None))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, None, Some(v)))
      case LessThan(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, None, Some(v)))
      case EqualTo(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, Some(v), Some(v)))
      // literal-on-left mirrors
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, Some(v), None))
      case LessThan(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, Some(v), None))
      case EqualTo(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, Some(v), Some(v)))
      // IN-list → its [min, max] envelope. Conservative: a file whose
      // range intersects the envelope but contains no member is still
      // read — never the other way around.
      case In(a: AttributeReference, list) if list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val vals = list.map(e => ext(e.asInstanceOf[Literal]))
        if (vals.exists(_.isEmpty)) None
        else {
          val ordered = sortBounds(vals.flatten)
          ordered.map { sorted => (a.name, sorted.headOption, sorted.lastOption) }
        }
      // prefix match → lower bound only (x >= prefix); an exact upper
      // bound needs byte-increment logic, and the lower alone already
      // prunes files wholly before the prefix
      case StartsWith(a: AttributeReference, Literal(p, StringType))
          if p != null =>
        Some((a.name, Some(p.toString), None))
      case _ => None
    }

  /** One catalyst conjunct → an optional (column, wantNull) null
    * check. `IS NULL` prunes files with zero recorded nulls;
    * `IS NOT NULL` (which Spark injects under most filters) prunes
    * all-null files.
    */
  def extractNullCheck(e: Expression): Option[(String, Boolean)] =
    e match {
      case IsNull(a: AttributeReference)    => Some((a.name, true))
      case IsNotNull(a: AttributeReference) => Some((a.name, false))
      case _ => None
    }

  /** One catalyst conjunct → (column, candidate values) for bloom
    * membership tests: equality (either orientation) and all-literal
    * IN-lists.
    */
  def extractEqualities(e: Expression): Option[(String, Seq[Any])] =
    e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        ext(l).map(v => (a.name, Seq(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        ext(l).map(v => (a.name, Seq(v)))
      case In(a: AttributeReference, list) if list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val vals = list.map(e => ext(e.asInstanceOf[Literal]))
        if (vals.exists(_.isEmpty)) None else Some((a.name, vals.flatten))
      case _ => None
    }

  /** Sort IN-list bound values within one runtime type; None (→ no
    * pruning) when the list mixes unexpected types.
    */
  private def sortBounds(vs: Seq[Any]): Option[Seq[Any]] = vs match {
    case _ if vs.forall(_.isInstanceOf[Number]) =>
      Some(vs.sortBy(_.asInstanceOf[Number].doubleValue()))
    case _ if vs.forall(_.isInstanceOf[String]) =>
      // unsigned UTF-8 byte order — the ordering the stats comparator
      // uses (java String order differs for supplementary characters)
      def u8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Some(vs.map(_.asInstanceOf[String]).sortWith { (a, b) =>
        java.util.Arrays.compareUnsigned(u8(a), u8(b)) < 0
      })
    case _ if vs.forall(_.isInstanceOf[java.time.LocalDate]) =>
      Some(vs.map(_.asInstanceOf[java.time.LocalDate]).sortBy(_.toEpochDay))
    case _ if vs.forall(_.isInstanceOf[java.time.Instant]) =>
      Some(vs.map(_.asInstanceOf[java.time.Instant]).sortBy(_.toEpochMilli))
    case _ if vs.forall(_.isInstanceOf[java.time.LocalDateTime]) =>
      Some(vs.map(_.asInstanceOf[java.time.LocalDateTime])
        .sortBy(_.toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
    case _ if vs.forall(_.isInstanceOf[java.math.BigDecimal]) =>
      Some(vs.map(_.asInstanceOf[java.math.BigDecimal]).sortWith(_.compareTo(_) < 0))
    case _ => None
  }

  /** Catalyst internal literal → the external bound form the stats
    * comparator understands; None (→ no pruning) for anything else.
    */
  private def ext(l: Literal): Option[Any] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType => Some(l.value)
      case StringType => Some(l.value.toString)
      case DateType =>
        Some(java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong))
      case TimestampType =>
        val micros = l.value.asInstanceOf[Long]
        Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L))
      case TimestampNTZType =>
        val micros = l.value.asInstanceOf[Long]
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case _: DecimalType =>
        Some(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case _ => None
    }
}
