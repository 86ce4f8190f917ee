package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.TxLogTable

/** A DataSource V2 [[TableCatalog]] over TxLog tables — the full SQL
  * surface of the lakehouse with NO temp-view plumbing:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *               spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   CREATE NAMESPACE graft.lake
  *   CREATE TABLE graft.lake.t (k BIGINT, v STRING)
  *   INSERT INTO graft.lake.t SELECT ...
  *   INSERT OVERWRITE graft.lake.t SELECT ...
  *   SELECT * FROM graft.lake.t
  *   SELECT * FROM graft.lake.t VERSION AS OF 3
  *   SELECT * FROM graft.lake.t TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   DELETE FROM graft.lake.t WHERE k % 10 = 0
  *   ALTER TABLE graft.lake.t ADD COLUMNS (w DOUBLE)
  *   TRUNCATE TABLE graft.lake.t / DROP TABLE / ALTER TABLE RENAME TO
  * }}}
  *
  * Identifiers map to warehouse directories (`warehouse/ns.../name`,
  * each table a TxLog root); there is no external metastore — the
  * commit log IS the metadata, so the catalog is stateless and any
  * number of Spark apps can share one warehouse with the same
  * optimistic-commit guarantees as the library API.
  *
  * The READ path is the point: `loadTable` serves a V2 table whose
  * [[ScanBuilder]] is Spark's own [[ParquetScanBuilder]] running over
  * the commit-log-backed [[TxLogFileIndex]] — so catalog SQL reads get
  * the identical plan quality as `spark.read.format("graft-txlog")`:
  * committed-stats file skipping driven by the query's WHERE clause,
  * parquet row-group pushdown, column pruning, vectorized read and
  * AQE, with zero per-row bridging. Writes go through the V1Write
  * fallback ([[InsertableRelation]]) straight into the transactional
  * [[TxLogTable.append]]/[[TxLogTable.overwrite]] — `INSERT INTO` is
  * an atomic commit, racing writers serialize through the optimistic
  * claim loop. Time travel resolves in `loadTable(ident, version)`,
  * which is exactly where Spark's `VERSION AS OF` / `TIMESTAMP AS OF`
  * syntax lands.
  *
  * At 100 TB nothing here is per-row or per-partition driver work:
  * the catalog resolves identifiers to paths (pure string work), the
  * file index replays the commit log (O(log) metadata), and every
  * data-plane operation is the same distributed plan the format-based
  * surface runs.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse")))
  }

  override def name(): String = catalogName

  private def dirOf(ns: Seq[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, s))

  private def tableDir(ident: Identifier): Path =
    new Path(dirOf(ident.namespace().toSeq), ident.name())

  /** The table-root path an identifier maps to — the bridge for
    * library verbs ([[graft.sql.SqlDml]], TxLogTable maintenance) to
    * operate on catalog tables without a separate path registry.
    */
  def tablePathOf(ident: Identifier): String = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir.toString
  }

  /** A directory IS a table iff it carries a commit log. */
  private def isTable(p: Path): Boolean = fs.exists(new Path(p, "_txlog"))

  // ---- tables ------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table =
    new GraftTable(tablePathOf(ident), ident, None)

  /** `SELECT ... VERSION AS OF n` lands here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tablePathOf(ident)
    val v = try version.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft catalog versions are commit numbers, got '$version'")
    }
    new GraftTable(dir, ident, Some(v))
  }

  /** `SELECT ... TIMESTAMP AS OF t` lands here (micros since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tablePathOf(ident)
    new GraftTable(dir, ident, Some(TxLogTable.versionAtTimestamp(spark, dir,
      Math.floorDiv(timestampMicros, 1000L))))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables cluster via compact(zOrderBy/clusterBy), not " +
        "PARTITIONED BY — create unpartitioned and compact")
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val ns = dirOf(ident.namespace().toSeq)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(ident.namespace())
    // CREATE TABLE ... TBLPROPERTIES: persist user keys (engine-
    // reserved ones like provider/location/owner are synthesized)
    // atomically WITH the create commit — no crash window where the
    // table exists but its declared properties are absent
    val reserved = Set("provider", "location", "owner", "external")
    val userProps = properties.asScala.toMap
      .filter { case (k, _) => !reserved.contains(k) && !k.startsWith("option.") }
    TxLogTable.create(spark, dir.toString, schema, userProps)
    new GraftTable(dir.toString, ident, None)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tablePathOf(ident)
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog supports adding top-level columns only, got " +
            a.fieldNames().mkString("."))
        org.apache.spark.sql.types
          .StructField(a.fieldNames().head, a.dataType(), nullable = true)
    }
    val colRenames = changes.collect {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog supports renaming top-level columns only, got " +
            r.fieldNames().mkString("."))
        r.fieldNames().head -> r.newName()
    }
    val colDrops = changes.collect {
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog supports dropping top-level columns only, got " +
            d.fieldNames().mkString("."))
        d.fieldNames().head
    }
    val propSets = changes.collect {
      case p: TableChange.SetProperty => p.property() -> p.value()
    }.toMap
    val propDrops = changes.collect {
      case p: TableChange.RemoveProperty => p.property()
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    require(unsupported.isEmpty,
      s"unsupported ALTER TABLE change(s): ${unsupported.mkString(", ")} " +
        "(supported: ADD COLUMNS, RENAME COLUMN, DROP COLUMN, " +
        "SET/UNSET TBLPROPERTIES; constraints via TxLogTable.addConstraint)")
    if (adds.nonEmpty)
      TxLogTable.addColumns(spark, dir, StructType(adds))
    // metadata-only column mapping — see TxLogTable.renameColumn
    colRenames.foreach { case (from, to) =>
      TxLogTable.renameColumn(spark, dir, from, to)
    }
    colDrops.foreach(TxLogTable.dropColumn(spark, dir, _))
    if (propSets.nonEmpty)
      TxLogTable.setProperties(spark, dir, propSets)
    if (propDrops.nonEmpty)
      TxLogTable.unsetProperties(spark, dir, propDrops)
    new GraftTable(dir, ident, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    isTable(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(to.getParent))
      throw new NoSuchNamespaceException(newIdent.namespace())
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ---- namespaces (warehouse subdirectories) -----------------------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => Array(p.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> dir.toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val dir = dirOf(namespace.toSeq)
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories — nothing to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(dir, true)
  }
}

/** One TxLog table served through the V2 connector API. Reads reuse
  * Spark's parquet ScanBuilder over the stats-pruning commit-log file
  * index; writes fall back to V1 ([[InsertableRelation]]) so they run
  * through the same transactional commit path as the library API.
  */
final class GraftTable(tablePath: String, ident: Identifier,
    asOfVersion: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2 {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident.toString

  // ONE listing of the log per table instance, and one snapshot:
  // the schema, the properties and every scan built from this table
  // serve the version it was loaded at — as a format relation does —
  // and an INSERT commits from it.
  // Schema and scans run the reader gate; properties, like the other
  // metadata getters, read the latest state ungated.
  private lazy val log = TxLogTable.openLog(spark, tablePath)
  private lazy val snap = log.snapshot(asOfVersion)

  override lazy val schema: StructType = snap.logicalSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  private lazy val resolvedProperties: util.Map[String, String] =
    (log.state.props ++
      Map("provider" -> "graft-txlog", "location" -> tablePath) ++
      asOfVersion.map(v => "versionAsOf" -> v.toString)).asJava

  override def properties(): util.Map[String, String] = resolvedProperties

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (TxLogRead.bridged(snap)) {
      // the V1Scan fallback serves the format's bridged relation; it
      // has no micro-batch form
      val relation = TxLogRead.frameRelation(spark, tablePath, snap)
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.V1Scan {
            override def readSchema(): StructType = relation.schema
            override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan](
                context: org.apache.spark.sql.SQLContext): T =
              relation.asInstanceOf[T]
          }
      }
    } else {
      val index = new TxLogCatalogFileIndex(spark, tablePath, snap)
      new GraftScanBuilder(
        ParquetScanBuilder(spark, index, schema, index.dataSchema, options),
        spark, tablePath, schema,
        ignoreDeletes = Option(options.get("ignoreDeletes"))
          .exists(_.trim.toBoolean),
        buildDropped = snap.dropped)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfVersion.isEmpty,
      s"cannot write to a time-travel snapshot of $tablePath")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit =
              TxLogTable.writeFrom(data, tablePath, overwrite, snap)
          }
      }
    }
  }

  // ---- DELETE FROM -------------------------------------------------

  private def toSql(predicates: Array[Predicate]): Option[String] = {
    val b = new V2ExpressionSQLBuilder
    try Some(predicates.map(p => s"(${b.build(p)})").mkString(" AND "))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    toSql(predicates).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val sql = toSql(predicates).getOrElse(throw new UnsupportedOperationException(
      s"cannot translate DELETE predicates: ${predicates.mkString(", ")}"))
    // DELETE FROM t (no WHERE) arrives as an empty predicate array —
    // that is a truncate, not a predicate rewrite
    if (predicates.isEmpty) truncateTable()
    else TxLogTable.delete(spark, tablePath, sql)
  }

  override def truncateTable(): Boolean = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    TxLogTable.overwrite(empty, tablePath)
    true
  }
}

/** Delegating ScanBuilder that keeps [[ParquetScanBuilder]]'s pushdown
  * surface (column pruning, catalyst filters, aggregate pushdown) and
  * wraps the built scan so the catalog table ALSO streams:
  * `spark.readStream.table("graft.ns.t")` plans micro-batches off the
  * commit log through [[Scan.toMicroBatchStream]].
  */
final class GraftScanBuilder(inner: ParquetScanBuilder,
    sparkSession: SparkSession, tablePath: String, tableSchema: StructType,
    ignoreDeletes: Boolean, buildDropped: Set[String])
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)
  override def pushedFilters: Array[Predicate] = inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    inner.supportCompletePushDown(agg)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    inner.pushAggregation(agg)

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new GraftScan(inner.build(), sparkSession, tablePath, tableSchema,
      ignoreDeletes, buildDropped)
}

/** The built scan: batch reads delegate untouched to the vectorized
  * [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]];
  * streaming reads serve commits as micro-batches with the SAME
  * vectorized reader factory.
  */
final class GraftScan(inner: org.apache.spark.sql.connector.read.Scan,
    sparkSession: SparkSession, tablePath: String, tableSchema: StructType,
    ignoreDeletes: Boolean, buildDropped: Set[String])
  extends org.apache.spark.sql.connector.read.Scan {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    inner.toBatch
  override def columnarSupportMode()
      : org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(sparkSession, tablePath,
      // the inner (vectorized parquet) scan prepares its own reader
      // factory — broadcast conf pre-populated with read support,
      // requested schema, timezone — so streaming batches decode
      // through the identical path as batch scans
      () => inner.toBatch.createReaderFactory(),
      ignoreDeletes, buildDropped)
}

/** Micro-batch stream off the commit log through the V2 connector
  * API — `spark.readStream.table("graft.ns.t")`. Offsets ARE
  * versions, and each batch passes the format stream's gate
  * ([[TxLogRead.microBatch]], shared with [[TxLogStreamSource]]); on
  * top of it this vectorized path refuses what it cannot serve:
  * deletion vectors, a column mapping, or a dropped column it did not
  * start with. The reader factory is Spark's own vectorized parquet
  * one, so streaming batches decode with the same columnar path as
  * batch scans.
  */
final class GraftMicroBatchStream(sparkSession: SparkSession,
    tablePath: String,
    batchFactory: () => org.apache.spark.sql.connector.read.PartitionReaderFactory,
    ignoreDeletes: Boolean, buildDropped: Set[String])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

  private case class VersionOffset(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  override def initialOffset(): Offset = VersionOffset(0L)

  override def latestOffset(): Offset =
    VersionOffset(TxLogTable.versions(sparkSession, tablePath).max)

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val lo = start.asInstanceOf[VersionOffset].v
    val hi = end.asInstanceOf[VersionOffset].v
    val log = TxLogTable.openLog(sparkSession, tablePath)
    val names = TxLogRead.microBatch(log, lo, hi, first = lo == 0L,
        ignoreDeletes) match {
      case Left(snap) =>
        // race guards, mirroring BOTH of the scan builder's V1-fallback
        // conditions: deletion vectors or a rename/dropcolumn landing
        // after the table's snapshot chose this vectorized path would
        // respectively leave masked rows unmasked or silently null-fill
        // the remapped column (this path reads physical parquet names
        // against the logical schema)
        if (snap.hasDeletionVectors) throw new IllegalStateException(
          s"table $tablePath gained deletion vectors before the stream's " +
            "first batch — restart the query (the scan re-plans through " +
            "the DV-aware path)")
        if (snap.renames.nonEmpty) throw new IllegalStateException(
          s"table $tablePath gained a column mapping (rename/drop column) " +
            "before the stream's first batch — restart the query (the " +
            "scan re-plans through the mapping-aware path)")
        // a DROP COLUMN leaves renames empty (only `dropped` grows), and
        // once it lands below `lo` no later batch's mappingChangeVersions
        // range ever sees it — so the ONLY place to catch a drop racing
        // the first batch is here, against the dropped set of the
        // snapshot the stream's schema came from (historical drops
        // present there are vectorized-safe: old files carry the column
        // as ignorable extra data)
        if (snap.dropped != buildDropped) throw new IllegalStateException(
          s"table $tablePath dropped column(s) " +
            s"${(snap.dropped -- buildDropped).mkString(", ")} before the " +
            "stream's first batch — restart the query (the stream's fixed " +
            "start schema would silently null-fill them from post-drop files)")
        snap.files
      case Right(added) =>
        // a mid-stream rename/dropcolumn passes the reader gate on a
        // table with no declared protocol, but this vectorized path
        // cannot serve it (physical parquet names vs the stream's
        // logical start-schema → silent null-fill) — refuse loudly
        val remaps = log.mappingChangeVersions(lo, hi)
        if (remaps.nonEmpty) throw new IllegalStateException(
          s"table $tablePath has column-mapping commit(s) " +
            s"${remaps.mkString(", ")} in the streamed range ($lo, $hi] — " +
            "restart the query from a fresh checkpoint (the scan re-plans " +
            "through the mapping-aware path)")
        added
    }
    val conf = sparkSession.sparkContext.hadoopConfiguration
    val files = names.map { f =>
      val p = new Path(TxLogTable.dataFilePath(tablePath, f))
      val st = p.getFileSystem(conf).getFileStatus(p)
      PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen)
    }
    FilePartition.getFilePartitions(sparkSession, files,
      sparkSession.sessionState.conf.filesMaxPartitionBytes)
      .toArray[org.apache.spark.sql.connector.read.InputPartition]
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    batchFactory()
}

/** The commit-log file index in the shape [[ParquetScanBuilder]]
  * needs ([[PartitioningAwareFileIndex]]). Listing and WHERE-driven
  * committed-stats pruning delegate to [[TxLogFileIndex]] — one
  * implementation serves both the format-based and the catalog read
  * paths.
  */
final class TxLogCatalogFileIndex private[graft] (sparkSession: SparkSession,
    tablePath: String, snap: TxLogTable.Snapshot)
  extends PartitioningAwareFileIndex(sparkSession, Map.empty, None) {

  private val inner = new TxLogFileIndex(sparkSession, tablePath, snap)

  private lazy val statuses: Seq[FileStatus] =
    inner.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)

  def dataSchema: StructType = inner.dataSchema

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val m = mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m.put(s.getPath, s))
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (dir, fss) => dir -> fss.toArray }

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def inputFiles: Array[String] = inner.inputFiles

  /** Stats pruning happens HERE — `FileSourceStrategy`/V2 scans pass
    * the query's data filters and files whose committed min/max ranges
    * cannot intersect never reach a parquet footer.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)
}
