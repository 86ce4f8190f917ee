package graft.sink

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Minimal version-log ACID table on plain parquet.
  *
  * The north-star sink names "Parquet/Delta write"; no Delta jar can
  * resolve in this offline environment, so this implements the
  * write-side guarantees the engine actually needs from first
  * principles — the public Delta-protocol recipe (optimistic
  * concurrency over an append-only commit log) reduced to its core:
  *
  * {{{
  * <table>/data/<version>-<n>-<uuid>.parquet   immutable data files
  * <table>/_txlog/00000000000000000042.txt     one commit per version
  * }}}
  *
  * - **Atomicity**: writers stage parquet through a scratch dir, move
  *   the files into `data/`, and only then publish a commit file.
  *   Readers resolve the file set exclusively from commits, so a
  *   crashed writer leaves invisible orphans (reclaimed by
  *   [[vacuum]]), never a torn table.
  * - **Snapshot**: every operation lists `_txlog` ONCE and resolves
  *   an immutable [[Snapshot]] from it — the newest readable
  *   checkpoint plus the tail commits — with the version, schema,
  *   live files and their stats, deletion vectors, column mapping,
  *   properties, constraints, txn epochs and the last commit's
  *   in-commit timestamp. Reads, DML planning and every commit check
  *   use that one snapshot; each commit file is parsed at most once
  *   per operation (the `DeltaLog`/`Snapshot` split of Delta Lake).
  * - **Isolation**: every committing operation goes through ONE
  *   optimistic loop ([[commitLoop]]): it builds the commit from the
  *   current snapshot and claims `snapshot.version + 1` with a
  *   no-replace rename. Losing the race throws [[CommitConflict]]
  *   internally; the loop advances the snapshot by parsing only the
  *   commits past its version and rebuilds the commit, so every
  *   per-attempt check (file liveness, deletion-vector drift, the
  *   write-protocol gate, feature declarations, schema DDL, txn
  *   epochs) sees the state its commit lands on. An append's staged
  *   files stay unpublished until a commit names them, so a retry
  *   never duplicates data; `overwrite` retries under last-write-wins.
  * - **Time travel**: a read replays commits `1..asOfVersion`
  *   (`overwrite` resets the live set, `append` extends it) — the
  *   read side of Delta's `VERSION AS OF`.
  * - **Schema**: every commit embeds the schema DDL; `append` must
  *   match the current schema exactly (evolution belongs to
  *   `overwrite`), and empty snapshots stay readable because the
  *   schema never depends on data files being present.
  * - **Data skipping**: every commit records per-file min/max for the
  *   top-level long/double/string/date/timestamp/decimal columns,
  *   harvested from the parquet
  *   footers the write already produced (a metadata-only read, no
  *   second data pass). [[prunedRead]] uses them to skip files whose
  *   range cannot intersect a bound — the stats side of the public
  *   lake-table recipe. Pruning is strictly conservative: any column/
  *   file without usable stats is always read, and a residual filter
  *   keeps results exactly equal to `read(...).filter(...)`. Skipping
  *   only pays when writers cluster the column (e.g.
  *   `df.repartitionByRange(col)` before `append`) — same contract as
  *   any lake table.
  * - **Compaction**: [[compact]] bin-packs the small-file tail left
  *   by micro-batch appends into few large files as one new
  *   `action=compact` version (`remove=` lines drop the old files
  *   from the live set going forward; every earlier version still
  *   reads them, so time travel and [[vacuum]] are unaffected).
  *   Optional `clusterBy` range-partitions the rewrite so the new
  *   files carry tight min/max ranges for [[prunedRead]].
  * - **Log checkpoints**: every [[CheckpointInterval]]-th commit (and
  *   every commit that removes files), whichever operation made it,
  *   folds the snapshot the commit loop already holds — live files,
  *   schema, per-file stats, per-app txn epochs — into
  *   `_txlog/<version>.checkpoint.txt`, the public protocol's
  *   checkpoint action. Reads load the newest checkpoint at or below
  *   the target version and replay only the tail commits, so snapshot
  *   resolution is O(interval) instead of O(commits) — the difference
  *   between a usable and an unusable table once a micro-batch sink
  *   has landed 100k commits. Checkpoints are written atomically
  *   (temp + rename) and are pure caches: a missing, torn, or corrupt
  *   checkpoint falls back to older checkpoints and ultimately to
  *   full replay, never to a wrong answer.
  *
  * Scale posture: data moves with full executor parallelism through
  * the normal parquet writer; the commit itself is one driver-side
  * metadata file of O(files) lines, and log replay is O(commits since
  * last checkpoint) ≤ [[CheckpointInterval]].
  */
object TxLogTable {

  final class CommitConflict(version: Long)
    extends RuntimeException(s"version $version was claimed by a concurrent writer")

  private val LogDir = "_txlog"
  private val DataDir = "data"
  private val MaxCommitRetries = 20

  /** Every N-th commit, whatever operation makes it, auto-folds a
    * checkpoint (commits that remove files always do); reads replay at
    * most this many tail commits past the newest readable checkpoint.
    */
  val CheckpointInterval = 10

  /** Append `df` as a new version; returns the committed version.
    *
    * `txn` carries idempotence across writer restarts (the public
    * protocol's transaction-identifier action): a commit records
    * `(appId, epoch)`, and a later append with the same appId and an
    * epoch <= the highest committed one is a NO-OP returning the
    * existing latest version. A streaming foreachBatch sink passes
    * `(queryName, batchId)` and replayed micro-batches deduplicate —
    * exactly-once table contents over at-least-once batch delivery.
    */
  def append(df: DataFrame, tablePath: String,
      txn: Option[(String, Long)] = None): Long =
    write(df, tablePath, overwrite = false, txn)

  /** Append with SCHEMA EVOLUTION (the public lake-table
    * `mergeSchema` option): columns the batch adds are appended to
    * the committed schema (older files null-fill them on read), and
    * columns the batch omits null-fill inside the new files. Common
    * columns must keep their exact type — widening or narrowing is
    * rejected, because silently coercing 100 TB of history is how
    * lakes corrupt; a type change is an explicit [[overwrite]].
    */
  def appendEvolve(df: DataFrame, tablePath: String,
      txn: Option[(String, Long)] = None): Long =
    write(df, tablePath, overwrite = false, txn, mergeSchema = true)

  /** Replace the table contents with `df`; returns the version. */
  def overwrite(df: DataFrame, tablePath: String): Long =
    write(df, tablePath, overwrite = true, None)

  /** [[append]] (or, with `overwrite`, [[overwrite]]) from `base`, a
    * snapshot the caller already resolved, instead of a fresh listing
    * of the log: the catalog's table commits from the snapshot it was
    * loaded at. A base that fell behind loses the commit race and
    * advances by the commits it missed, as any writer does. */
  private[graft] def writeFrom(df: DataFrame, tablePath: String,
      overwrite: Boolean, base: Snapshot): Long =
    write(df, tablePath, overwrite, None, base = Some(base))

  /** MERGE INTO the table ([[graft.ops.Merge.upsert]] semantics:
    * matched keys replaced wholesale, unmatched appended) as a KEYED
    * copy-on-write rewrite: one column-pruned semi-join scan finds
    * the files that contain a matched key, only those are rewritten
    * (their unmatched rows carried over), and the update batch lands
    * alongside — cost is O(touched files + batch), never O(table).
    * On a key-clustered 100 TB table a CDC upsert therefore touches
    * the keys' files, which is the entire point of MERGE INTO. The
    * update source is pinned once (`localCheckpoint`) since it feeds
    * the probe, the rewrite and the change-feed cache — the same
    * source-materialization contract as the public MERGE recipes.
    * Commits as `action=rewrite` with a write-time CDF cache (exact
    * delete/insert diff, no-op replacements cancelled). The batch
    * must carry the table's columns; schema evolution goes through
    * [[overwrite]]/[[appendEvolve]]. Returns the committed version.
    */
  def merge(spark: SparkSession, tablePath: String,
      updates: DataFrame, key: String): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val snap = openLog(spark, tablePath).snapshot()
    // the batch arrives under LOGICAL names; internal frames and the
    // staged bytes are physical (see the column-mapping notes above)
    val order = snap.logicalSchema.fieldNames.toSeq
    val up = updates.transform(graft.ops.Pinned.pin)
    val batch = toPhysicalDf(
      up.select(order.map(col): _*), snap.renames) // loud error on missing columns
    // rewrite commits keep the committed DDL verbatim, so type drift
    // must be rejected HERE — otherwise mixed-typed files fail only
    // at read time
    for ((f, b) <- snap.logicalSchema.fields.zip(
        toLogicalDf(batch, snap.renames).schema.fields))
      require(b.dataType == f.dataType,
        s"merge batch column '${f.name}' has type ${b.dataType.sql}, table " +
          s"has ${f.dataType.sql} — schema changes go through overwrite")
    // empty-snapshot short-circuit hands write() the LOGICAL frame —
    // write() performs the single logical→physical translation for a
    // plain append; passing the already-physical `batch` would
    // translate twice (rejected or, for a swap-shaped mapping,
    // silently un-swapped under the wrong physical columns)
    if (snap.files.isEmpty)
      return write(up.select(order.map(col): _*), tablePath,
        overwrite = false, txn = None, base = Some(snap))
    val pkey = physicalNameOf(snap.renames, key)
    val keys = up.select(col(key).as(pkey)).distinct()
    val touched = {
      val byPath = snap.files.map { e =>
        new Path(dataFilePath(tablePath, e)).toUri.getPath -> e
      }.toMap
      buildFrame(spark, tablePath, snap.files, snap.schema)
        .join(keys, Seq(pkey), "left_semi")
        .select(input_file_name().as("__f")).distinct()
        .collect() // bounded by file count
        .map(r => byPath.getOrElse(new Path(r.getString(0)).toUri.getPath,
          throw new IllegalStateException("scan returned a non-committed file")))
        .toSeq.sorted
    }
    val porder = snap.schema.fieldNames.toSeq
    val keptTouched = snapFrame(spark, tablePath, snap, touched)
      .join(keys, Seq(pkey), "left_anti")
      .select(porder.map(col): _*)
    val v = write(keptTouched.unionAll(batch), tablePath, overwrite = false,
      txn = None, removes = touched, actionOverride = Some("rewrite"),
      op = Some("merge"), expectDvs = snap.dvs, base = Some(snap))
    val oldMatched = snapFrame(spark, tablePath, snap, touched)
      .join(keys, Seq(pkey), "left_semi")
      .select(porder.map(col): _*)
    writeCdfCache(spark, tablePath, v,
      oldMatched.exceptAll(batch).withColumn("_change_type", lit("delete"))
        .unionAll(batch.exceptAll(oldMatched)
          .withColumn("_change_type", lit("insert"))))
    v
  }

  /** Entries of `snap` whose file physically CONTAINS a row matching
    * `cond` — one column-pruned scan with pushdown. Matching is by
    * scheme-less physical path, so bare entries (own data/) and
    * absolute entries (shallow-clone references) both resolve back to
    * their exact committed entry string.
    */
  private def touchedEntries(spark: SparkSession, tablePath: String,
      snap: Snapshot, cond: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.input_file_name
    val byPath = snap.files.map { e =>
      new Path(dataFilePath(tablePath, e)).toUri.getPath -> e
    }.toMap
    // `cond` is user-authored (LOGICAL names) — alias before filtering
    toLogicalDf(buildFrame(spark, tablePath, snap.files, snap.schema),
        snap.renames)
      .filter(cond)
      .select(input_file_name().as("__f")).distinct()
      .collect() // bounded by the snapshot's file count, never by rows
      .map { r =>
        val path = new Path(r.getString(0)).toUri.getPath
        byPath.getOrElse(path, throw new IllegalStateException(
          s"scanned file $path is not a committed entry of $tablePath"))
      }.toSeq.sorted
  }

  /** Row-level DELETE WHERE `predicate` (a SQL boolean expression
    * over the table's columns), copy-on-write: only the data files
    * that actually CONTAIN a matching row are rewritten (without the
    * matching rows); every untouched file stays in place byte-for-byte
    * — at 100 TB a selective delete moves data proportional to the
    * matching files, not the table. The touched set is found with one
    * column-pruned scan (parquet reads only the predicate's columns,
    * and the pushed-down predicate skips row groups via footer
    * min/max), then only those files are re-read in full.
    *
    * Commits as `action=rewrite`: replays like a compaction
    * (remove + add), but [[changes]] surfaces it as logical
    * delete rows and [[history]] names it. Prior versions still
    * time-travel to the pre-delete data. Returns the committed
    * version — unchanged if no row matched (no commit is written).
    */
  def delete(spark: SparkSession, tablePath: String, predicate: String): Long = {
    import org.apache.spark.sql.functions.{expr, input_file_name, not}
    val snap = openLog(spark, tablePath).snapshot()
    if (snap.files.isEmpty) return snap.version
    val touched = touchedEntries(spark, tablePath, snap, expr(predicate))
    if (touched.isEmpty) return snap.version
    // a rewrite applies the touched files' outstanding deletion
    // vectors first — masked rows must never resurrect. The predicate
    // is user-authored (logical names); write() maps back to physical.
    val lf = toLogicalDf(snapFrame(spark, tablePath, snap, touched),
      snap.renames)
    val kept = toPhysicalDf(lf.filter(not(expr(predicate))), snap.renames)
    val v = write(kept, tablePath, overwrite = false, txn = None,
      removes = touched, actionOverride = Some("rewrite"),
      op = Some("delete"), expectDvs = snap.dvs, base = Some(snap))
    // persist the exact logical diff as a change-feed cache: the
    // deleted rows are precisely the touched rows matching the
    // predicate — O(touched files), no snapshot diff ever needed.
    // Caches store PHYSICAL names (disk is physical everywhere).
    writeCdfCache(spark, tablePath, v,
      toPhysicalDf(lf.filter(expr(predicate))
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")),
        snap.renames))
    v
  }

  /** Row-level UPDATE SET ... WHERE `where`, copy-on-write with the
    * same touched-files-only rewrite as [[delete]]: `set` maps column
    * name → SQL expression (evaluated against the pre-update row, as
    * in ANSI UPDATE); rows not matching `where` inside a touched file
    * are carried over unchanged, and assignments cast back to the
    * column's committed type so the table schema never drifts.
    * Commits as `action=rewrite`; [[changes]] shows each updated row
    * as delete(old) + insert(new). Returns the committed version —
    * unchanged if no row matched.
    */
  def update(spark: SparkSession, tablePath: String, where: String,
      set: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, input_file_name, when}
    require(set.nonEmpty, "update needs at least one SET assignment")
    val snap = openLog(spark, tablePath).snapshot()
    // SET names and the WHERE predicate are user-authored → logical
    val lsch = snap.logicalSchema
    val unknown = set.keySet -- lsch.fieldNames.toSet
    require(unknown.isEmpty,
      s"update assigns to column(s) not in the table: ${unknown.mkString(", ")}")
    if (snap.files.isEmpty) return snap.version
    val touched = touchedEntries(spark, tablePath, snap, expr(where))
    if (touched.isEmpty) return snap.version
    val cols = lsch.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          when(expr(where), expr(e).cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    val lf = toLogicalDf(snapFrame(spark, tablePath, snap, touched),
      snap.renames)
    val rewritten = toPhysicalDf(lf.select(cols: _*), snap.renames)
    val v = write(rewritten, tablePath, overwrite = false, txn = None,
      removes = touched, actionOverride = Some("rewrite"),
      op = Some("update"), expectDvs = snap.dvs, base = Some(snap))
    // change-feed cache: old/new images of the matched rows, with
    // no-op assignments cancelled via multiset difference so the
    // cached feed is EXACTLY the snapshot diff ((untouched ∪ old) \
    // (untouched ∪ new) = old \ new, multisets) — O(touched files).
    // Caches store PHYSICAL names.
    val matchedOld = lf.filter(expr(where))
    val matchedNew = matchedOld.select(cols: _*)
    writeCdfCache(spark, tablePath, v, {
      import org.apache.spark.sql.functions.lit
      toPhysicalDf(
        matchedOld.exceptAll(matchedNew).withColumn("_change_type", lit("delete"))
          .unionAll(matchedNew.exceptAll(matchedOld)
            .withColumn("_change_type", lit("insert"))),
        snap.renames)
    })
    v
  }

  /** Best-effort persistence of a rewrite commit's logical diff under
    * `_cdf/<version>/` — a pure CACHE for [[changes]]: present and
    * complete (parquet `_SUCCESS`), it serves the feed in O(diff);
    * missing or torn (crash between commit and cache), [[changes]]
    * falls back to the snapshot diff and the answer is identical.
    */
  private def writeCdfCache(spark: SparkSession, tablePath: String,
      version: Long, diff: DataFrame): Unit =
    try diff.write.parquet(s"$tablePath/$CdfDir/$version")
    catch { case scala.util.control.NonFatal(_) => () }

  private val CdfDir = "_cdf"

  private[graft] def cdfCached(spark: SparkSession, tablePath: String,
      version: Long): Boolean = {
    val fs = fileSystem(spark, tablePath)
    fs.exists(new Path(s"$tablePath/$CdfDir/$version/_SUCCESS"))
  }

  /** RESTORE the table to the contents of `toVersion`, committed as
    * ONE new overwrite version that re-references that snapshot's
    * files — METADATA-ONLY: no data file is read, copied, or
    * rewritten (every committed file stays on disk because [[vacuum]]
    * never reclaims committed history). At 100 TB, rolling back a bad
    * load is a one-file log write, not a table rewrite. History is
    * preserved — the bad versions remain time-travelable, and the
    * change feed shows the restore as the logical diff it is.
    * Restoring to the current version is a no-op. Returns the
    * committed (or current) version.
    */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long): Long = {
    val log = openLog(spark, tablePath)
    val cur = log.state
    require(log.has(toVersion),
      s"version $toVersion does not exist; have ${log.commits.mkString(", ")}")
    // restore WRITES a new commit: the CURRENT protocol governs it.
    // The gate runs BEFORE the restore-to-current no-op return — a
    // caller restoring to current on a table that requires writer
    // features this build lacks must hear that the table is
    // unwritable NOW, not on the next (mutating) call
    checkWriteProtocol(cur.props, tablePath)
    // restore-to-current is a no-op — nothing to commit
    if (cur.version == toVersion) return toVersion
    val target = log.snapshot(Some(toVersion))
    commitLoop(log.fs, tablePath, cur) { _ =>
      Some(Commit("overwrite", target.schema.toDDL, target.files,
        txn = None, stats = target.stats,
        op = Some(s"restore to v$toVersion"),
        // the target's outstanding deletion vectors are part of its
        // logical contents — the restore re-references them
        dvAdds = target.dvs,
        // so are its column mapping and drop tombstones (overwrite
        // replay resets them, this commit re-establishes them)
        renames = target.renames, dropped = target.dropped))
    }
  }

  /** SHALLOW CLONE: create `dstPath` as a new table whose first
    * commit REFERENCES `srcPath`'s data files (absolute paths) at
    * `srcVersion` (default latest) — zero bytes copied, stats carried
    * so data skipping works immediately. The clone then lives its own
    * life: appends/DML/compaction land in its own `data/` (compaction
    * progressively materializes it), and nothing the clone does ever
    * touches the source. Safety: the referenced files are committed
    * source history, which the source's [[vacuum]] never reclaims —
    * the clone stays readable as long as the source table directory
    * exists (dropping the source breaks clones, the standard shallow-
    * clone contract). At 100 TB this is the dev/test fork: a full
    * copy costs a cluster-day, a shallow clone costs one log write.
    * Returns the clone's version (always 1).
    */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
      srcVersion: Option[Long] = None): Long = {
    val srcFs = fileSystem(spark, srcPath)
    val snap = openLog(spark, srcPath).snapshot(srcVersion)
    val v = snap.version
    val srcData = srcFs.makeQualified(new Path(srcPath, DataDir))
    val absolute = snap.files.map(f =>
      if (isAbsoluteEntry(f)) f // clone of a clone keeps the original refs
      else new Path(srcData, f).toString)
    val stats = snap.files.zip(absolute).flatMap { case (n, a) =>
      snap.stats.get(n).map(a -> _)
    }.toMap
    // outstanding deletion vectors travel with the referenced files —
    // both the vector dirs and their data files resolve absolutely
    // into the source table
    val srcDv = srcFs.makeQualified(new Path(srcPath, DvDir))
    val dvs = snap.files.zip(absolute).flatMap { case (n, a) =>
      snap.dvs.get(n).map(dirs => a -> dirs.map(d =>
        if (isAbsoluteEntry(d)) d else new Path(srcDv, d).toString))
    }.toMap
    // table properties AND check constraints travel too — a clone of
    // a bloom-indexed / constrained table must keep maintaining
    // blooms and validating constraints on NEW writes, not just
    // prune on the copied stats (both ride the source snapshot)
    val dst = openLog(spark, dstPath)
    commitLoop(dst.fs, dstPath, dst.current) { s =>
      require(s.version == 0L,
        s"shallow clone target must be a fresh table: $dstPath already has commits")
      Some(Commit("overwrite", snap.schema.toDDL, absolute,
        stats = stats, op = Some(s"shallow clone of $srcPath@v$v"),
        dvAdds = dvs,
        // the source's column mapping and drop tombstones travel with
        // its files
        renames = snap.renames, dropped = snap.dropped,
        propSets = snap.props, constraintAdds = snap.constraints))
    }
  }

  /** Create an EMPTY table: version 1 is a metadata-only commit that
    * carries the schema and references no files — the `CREATE TABLE`
    * of the SQL catalog surface ([[graft.sources.GraftCatalog]]).
    * Readers of the empty table get a zero-row frame with the declared
    * schema; the first append must match it exactly (evolution goes
    * through [[appendEvolve]]/[[addColumns]]). Returns version 1.
    */
  /** Property prefix declaring a GENERATED column:
    * `graft.generated.<name> = <sql expr>` at [[create]] makes
    * `<name>` auto-computed on any append that omits it, and
    * validated (via a derived CHECK constraint `<name> <=> (expr)`)
    * whenever a writer provides it — appends, MERGE, UPDATE and the
    * DML rewrites all pass through the same constraint gate. The
    * existing constraint guards also make the generated column and
    * its source columns un-renameable/un-droppable while declared.
    */
  val GeneratedPropPrefix = "graft.generated."

  def create(spark: SparkSession, tablePath: String,
      schema: StructType, props: Map[String, String] = Map.empty): Long = {
    require(schema.nonEmpty, s"cannot create a zero-column table: $tablePath")
    val log = openLog(spark, tablePath)
    // GENERATED ALWAYS AS declarations: the column must exist in the
    // declared schema and the expression must resolve against it
    // (probed on an empty frame — the table has no data yet, so the
    // derived CHECK constraint is trivially satisfied at v1)
    val gen = props.collect { case (k, e) if k.startsWith(GeneratedPropPrefix) =>
      k.stripPrefix(GeneratedPropPrefix) -> e
    }
    val genConstraints = gen.map { case (n, e) =>
      require(schema.fieldNames.contains(n),
        s"generated column '$n' is not in the declared schema " +
          s"[${schema.toDDL}]")
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      try probe.select(org.apache.spark.sql.functions.expr(e)).queryExecution.analyzed
      catch { case ex: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"generated column '$n' expression ($e) does not resolve " +
            s"against schema [${schema.toDDL}]: ${ex.getMessage}", ex)
      }
      s"__gen_$n" -> s"$n <=> ($e)"
    }
    // TBLPROPERTIES ride the create commit itself — a second
    // properties commit would leave a crash window where the table
    // exists without its declared properties (bloom columns,
    // constraints-adjacent metadata)
    commitLoop(log.fs, tablePath, log.current) { s =>
      require(s.version == 0L, s"table already exists: $tablePath")
      Some(Commit("create", schema.toDDL, Nil, op = Some("CREATE TABLE"),
        propSets = props, constraintAdds = genConstraints))
    }
  }

  /** ALTER TABLE ... ADD COLUMNS as a METADATA-ONLY commit: the new
    * columns append to the committed schema (always nullable — every
    * existing file null-fills them on read, no data moves), exactly
    * the [[appendEvolve]] evolution rule without a batch. Name
    * collisions are rejected. Returns the committed version.
    */
  def addColumns(spark: SparkSession, tablePath: String,
      newCols: StructType): Long = {
    val log = openLog(spark, tablePath)
    commitLoop(log.fs, tablePath, log.state) { st =>
      val cur = st.schema
      // collision is judged against the LOGICAL view — the only one a
      // user can see
      val logicalNow = st.logicalSchema.fieldNames.toSet
      val clash = newCols.fieldNames.filter(logicalNow.contains)
      require(clash.isEmpty,
        s"column(s) already exist: ${clash.mkString(", ")}")
      // a new logical name whose PHYSICAL slot is occupied — dropped
      // earlier (tombstone: live files may still carry old bytes) or
      // held by a renamed-away column — lands in a FRESH physical
      // slot via the column mapping
      val taken = cur.fieldNames.toSet ++ st.dropped ++ st.renames.keySet
      var mapping = st.renames
      val physCols = newCols.fields.map { f =>
        if (!taken.contains(f.name)) f.copy(nullable = true)
        else {
          val fresh = Iterator.from(st.version.toInt + 1)
            .map(v => s"${f.name}__r$v").filterNot(taken).next()
          mapping = mapping + (fresh -> f.name)
          f.copy(name = fresh, nullable = true)
        }
      }
      Some(Commit("evolve", StructType(cur.fields ++ physCols).toDDL, Nil,
        op = Some(s"ADD COLUMNS (${newCols.toDDL})"),
        renames = if (mapping == st.renames) Map.empty else mapping))
    }
  }

  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  /** ADD a named CHECK constraint (a SQL boolean expression over the
    * table's columns) — the data-quality gate of the public
    * lake-table recipe, and exactly what a training-data pipeline
    * wants at the sink: malformed rows fail the WRITE, loudly, instead
    * of poisoning 100 TB of downstream state. Existing data is
    * validated first (adding a constraint the table already violates
    * is an error); from then on every append/overwrite/update batch is
    * checked against all constraints before its commit is claimed —
    * one column-pruned scan of the STAGED batch, never of the table.
    * SQL NULL semantics: a row passes unless the expression is
    * literally FALSE. The constraint set is a table property: it
    * survives overwrite, folds through checkpoints, and changes only
    * via add/drop commits (`action=setconstraint`, metadata-only).
    *
    * Concurrency note: a write validates against the constraint set
    * of the snapshot it resolved before staging — a constraint added
    * CONCURRENTLY with an in-flight write may miss that one batch
    * (optimistic model, no global write lock). Run a post-add
    * validation pass if the table may have racing writers.
    */
  def addConstraint(spark: SparkSession, tablePath: String,
      name: String, expression: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val log = openLog(spark, tablePath)
    val snap = log.snapshot()
    require(!snap.constraints.contains(name),
      s"constraint '$name' already exists (drop it first to replace)")
    // constraints are authored and validated in LOGICAL terms, against
    // the LIVE rows — snapFrame applies deletion vectors, so a value
    // that only survives in DV-masked rows cannot veto the constraint
    val df = frame(spark, tablePath, snap)
    val bad =
      try df.filter(coalesce(expr(expression), lit(true)) === false)
        .limit(1).collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"constraint '$name' does not resolve against the table schema " +
            s"[${snap.logicalSchema.toDDL}]: ${e.getMessage}", e)
      }
    if (bad.nonEmpty) throw new ConstraintViolation(
      s"cannot add constraint '$name' CHECK ($expression): existing data " +
        s"violates it, e.g. ${bad.head}")
    metadataCommit(log, snap, adds = Map(name -> expression), drops = Nil,
      // a declared protocol picks up checkConstraints on first use
      // (declared by name: the commit loop derives the property delta
      // from each attempt's snapshot, so a retry after a racing
      // feature declaration unions instead of overwriting)
      declFeature = Some("checkConstraints"))
  }

  /** Drop a named constraint (metadata-only commit). */
  def dropConstraint(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val log = openLog(spark, tablePath)
    val st = log.state
    checkWriteProtocol(st.props, tablePath)
    require(st.constraints.contains(name),
      s"no such constraint '$name'; have: ${st.constraints.keys.toSeq.sorted.mkString(", ")}")
    metadataCommit(log, st, adds = Map.empty, drops = Seq(name))
  }

  /** The table's active CHECK constraints, name → expression. */
  def constraints(spark: SparkSession, tablePath: String): Map[String, String] =
    openLog(spark, tablePath).state.constraints

  /** SET TBLPROPERTIES: upsert key → value pairs as one metadata-only
    * commit. Properties are table-level metadata like constraints —
    * they survive overwrite/restore, fold through checkpoints, and
    * surface through the catalog (`SHOW TBLPROPERTIES`). Returns the
    * committed version.
    */
  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties needs at least one pair")
    propertiesCommit(spark, tablePath, sets = props, drops = Nil)
  }

  /** UNSET TBLPROPERTIES (missing keys are a no-op, like SQL's
    * IF EXISTS form). Returns the committed version.
    */
  def unsetProperties(spark: SparkSession, tablePath: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    propertiesCommit(spark, tablePath, sets = Map.empty, drops = keys)
  }

  /** The table's current properties (empty if none set). */
  def properties(spark: SparkSession,
      tablePath: String): Map[String, String] =
    openLog(spark, tablePath).state.props

  // ---- protocol / table features ----------------------------------

  /** Reader/writer feature gating — the format-evolution mechanism
    * (the public Delta protocol's "table features" idea): a table MAY
    * declare, as ordinary table properties, the feature names a
    * reader (resp. writer) must implement to touch it. An engine that
    * sees an undeclared table applies legacy behavior (everything
    * this build ships); an engine that sees a feature it does not
    * implement fails LOUDLY up front — never a silent mis-read of
    * deletion vectors it would have ignored or a write that corrupts
    * a column mapping it cannot see.
    *
    * [[upgradeProtocol]] is the validated API: it refuses features
    * this build does not implement and automatically unions in the
    * features the table ALREADY uses (a protocol weaker than reality
    * would be a lie to future engines). The raw properties remain
    * writable through [[setProperties]] unvalidated — that is the
    * wire format, and exactly how a table written by a NEWER engine
    * presents itself to this one.
    */
  val ReaderFeaturesProp = "graft.protocol.readerFeatures"
  val WriterFeaturesProp = "graft.protocol.writerFeatures"

  /** Every feature this build implements (readers and writers alike —
    * the write path always includes a read of the current state). */
  val SupportedFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "checkConstraints",
    "generatedColumns", "bloomFilterSkipping", "inCommitTimestamps")

  final class ProtocolError(msg: String) extends IllegalStateException(msg)

  private def featureSet(props: Map[String, String], key: String): Set[String] =
    props.get(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet

  private def checkReadProtocol(props: Map[String, String],
      tablePath: String): Unit = {
    val unknown = featureSet(props, ReaderFeaturesProp) -- SupportedFeatures
    if (unknown.nonEmpty) throw new ProtocolError(
      s"table $tablePath requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this engine does not " +
        "implement — upgrade the engine before reading")
  }

  /** Writers must implement the WRITER features and (because every
    * write reads current state) the reader features too. */
  private def checkWriteProtocol(props: Map[String, String],
      tablePath: String): Unit = {
    checkReadProtocol(props, tablePath)
    val unknown = featureSet(props, WriterFeaturesProp) -- SupportedFeatures
    if (unknown.nonEmpty) throw new ProtocolError(
      s"table $tablePath requires writer feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this engine does not " +
        "implement — upgrade the engine before writing")
  }

  /** The features a snapshot's metadata shows to be IN USE. */
  private def inferredFeatures(st: Snapshot): Set[String] = {
    val b = Set.newBuilder[String]
    if (st.dvs.nonEmpty) b += "deletionVectors"
    if (st.renames.nonEmpty || st.dropped.nonEmpty) b += "columnMapping"
    if (st.constraints.exists(!_._1.startsWith("__gen_"))) b += "checkConstraints"
    if (st.props.keys.exists(_.startsWith(GeneratedPropPrefix)))
      b += "generatedColumns"
    if (st.props.contains(BloomColumnsProperty)) b += "bloomFilterSkipping"
    b.result()
  }

  /** When the table HAS declared a protocol, the property updates
    * that add `feature` to both lists (empty when the protocol is
    * absent — legacy tables stay legacy — or the feature is already
    * declared). Feature-using commits fold this into themselves, so
    * a declared protocol can never under-state what a reader needs.
    */
  private def featureDecl(props: Map[String, String],
      feature: String): Map[String, String] =
    if (!props.contains(ReaderFeaturesProp) &&
        !props.contains(WriterFeaturesProp)) Map.empty
    else Seq(ReaderFeaturesProp, WriterFeaturesProp).flatMap { key =>
      val cur = featureSet(props, key)
      if (cur.contains(feature)) None
      else Some(key -> (cur + feature).toSeq.sorted.mkString(","))
    }.toMap

  /** The table's declared protocol: (readerFeatures, writerFeatures).
    * Both empty = undeclared legacy table. */
  def protocol(spark: SparkSession,
      tablePath: String): (Set[String], Set[String]) = {
    val props = properties(spark, tablePath)
    (featureSet(props, ReaderFeaturesProp),
      featureSet(props, WriterFeaturesProp))
  }

  /** Declare (or extend) the table's protocol as one metadata-only
    * commit. Requested features must be implemented by THIS build;
    * features the table already uses are unioned in automatically.
    * Returns the committed version.
    */
  def upgradeProtocol(spark: SparkSession, tablePath: String,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty): Long = {
    val unknown = (readerFeatures ++ writerFeatures) -- SupportedFeatures
    require(unknown.isEmpty,
      s"cannot declare feature(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"this build implements: ${SupportedFeatures.toSeq.sorted.mkString(", ")}")
    // the feature union is recomputed from the CURRENT snapshot
    // on every claim attempt: a concurrently-winning commit that
    // declared a feature must fold into our lists, never be
    // overwritten with ones read before the race (the invariant: a
    // declared protocol can never under-state what a reader needs)
    propertiesCommitWith(spark, tablePath, st => {
      val inUse = inferredFeatures(st)
      Map(
        ReaderFeaturesProp -> (featureSet(st.props, ReaderFeaturesProp) ++
          readerFeatures ++ inUse).toSeq.sorted.mkString(","),
        WriterFeaturesProp -> (featureSet(st.props, WriterFeaturesProp) ++
          writerFeatures ++ inUse).toSeq.sorted.mkString(","))
    }, drops = Nil)
  }

  private def propertiesCommit(spark: SparkSession, tablePath: String,
      sets: Map[String, String], drops: Seq[String]): Long =
    propertiesCommitWith(spark, tablePath, _ => sets, drops)

  /** `computeSets` re-evaluates against each claim attempt's snapshot,
    * so retries never commit property values derived from a
    * pre-conflict read (upgradeProtocol's feature union is the
    * load-bearing case). */
  private def propertiesCommitWith(spark: SparkSession, tablePath: String,
      computeSets: Snapshot => Map[String, String], drops: Seq[String]): Long = {
    val log = openLog(spark, tablePath)
    commitLoop(log.fs, tablePath, log.state) { st =>
      val sets = computeSets(st)
      Some(Commit("setprops", st.ddl.get, Nil,
        op = Some(if (sets.nonEmpty)
          s"SET TBLPROPERTIES (${sets.keys.toSeq.sorted.mkString(", ")})"
        else s"UNSET TBLPROPERTIES (${drops.sorted.mkString(", ")})"),
        propSets = sets, propDrops = drops))
    }
  }

  /** A constraint add/drop. The DDL and the feature declaration come
    * from each attempt's snapshot: a racing schema-evolution commit
    * keeps its schema, and a racing feature declaration is unioned,
    * never overwritten with pre-race lists. */
  private def metadataCommit(log: TxLog, base: Snapshot,
      adds: Map[String, String], drops: Seq[String],
      declFeature: Option[String] = None): Long =
    commitLoop(log.fs, log.tablePath, base) { cur =>
      Some(Commit("setconstraint", cur.ddl.get, Nil,
        constraintAdds = adds, constraintDrops = drops,
        propSets = declFeature.map(featureDecl(cur.props, _))
          .getOrElse(Map.empty)))
    }

  /** Bin-pack the current snapshot's small data files into fewer
    * large ones as ONE new version — contents identical, every prior
    * version still time-travelable (the replaced files stay
    * committed history, so [[vacuum]] keeps them). This is the
    * maintenance half of the public lake-table recipe: streaming /
    * micro-batch appends leave a long tail of small files, and at
    * 100 TB an uncompacted table pays per-file open cost and loses
    * data skipping. Files of at least `smallFileBytes` are left in
    * place untouched (their bytes never move — compaction cost is
    * proportional to the small tail, not the table); the small ones
    * are re-read with full executor parallelism and rewritten into
    * `ceil(smallBytes / targetFileBytes)` files.
    *
    * `clusterBy` additionally range-partitions the rewritten rows on
    * that column, so the new files carry tight non-overlapping
    * min/max ranges and [[prunedRead]] starts skipping — compaction
    * doubling as incremental re-clustering. `zOrderBy` does the same
    * along a Morton curve over TWO non-negative long columns
    * ([[graft.ops.Layout.zValue]], low `zBits` bits each): the new
    * files carry tight ranges on BOTH dimensions, so range
    * predicates on either column prune — the public Z-ORDER layout
    * recipe as a maintenance op. Values wider than `zBits` bits
    * degrade clustering quality, never correctness (pruning always
    * reads real footer stats).
    *
    * Concurrency: the commit is claimed through the same optimistic
    * loop as `append`; a concurrent append simply lands before or
    * after. If a concurrent overwrite/compaction removed one of the
    * files this compaction rewrote, the attempt aborts with
    * [[IllegalStateException]] instead of resurrecting dead data
    * (the staged rewrite becomes a vacuumable orphan).
    *
    * Returns the committed version; a no-op (fewer than two small
    * files) returns the current version without committing.
    */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Option[String] = None,
      zOrderBy: Option[(String, String)] = None,
      zBits: Int = 20,
      onlyWhere: Option[(String, Option[Any], Option[Any])] = None,
      zOrderCols: Option[Seq[String]] = None,
      hilbertBy: Option[(String, String)] = None): Long = {
    require(Seq(clusterBy, zOrderBy, zOrderCols, hilbertBy)
        .count(_.isDefined) <= 1,
      "clusterBy, zOrderBy, zOrderCols and hilbertBy are mutually exclusive")
    val fs = fileSystem(spark, tablePath)
    val snap = openLog(spark, tablePath).snapshot()
    // `onlyWhere` scopes maintenance to the files whose committed
    // stats may intersect [lower, upper] on a column — the
    // OPTIMIZE-WHERE shape: on a date-clustered 100 TB table, daily
    // maintenance touches the hot tail's files, not the table's.
    // Conservative like all pruning here (stats-less files qualify),
    // which only ever widens the rewrite, never corrupts it.
    val inScope: Seq[String] = onlyWhere match {
      case None => snap.files
      case Some((column, lower, upper)) => snap.prune(column, lower, upper)
    }
    // rewrite candidates: small files, plus ANY file carrying
    // outstanding deletion vectors — compaction is where merge-on-read
    // debt is settled (the rewrite applies the mask and the commit
    // retires the vectors with the file)
    val small = inScope
      .map(f => f -> fs.getFileStatus(new Path(dataFilePath(tablePath, f))).getLen)
      .filter { case (f, len) => len < smallFileBytes || snap.dvs.contains(f) }
    if (small.size < 2 && !small.exists(f => snap.dvs.contains(f._1)))
      return snap.version
    val nOut = math.max(1L,
      (small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val df = snapFrame(spark, tablePath, snap, small.map(_._1))
    import org.apache.spark.sql.functions.col
    // range-partition AND sort within partitions along the curve:
    // partitioning bounds the per-file z range, the sort keeps row
    // groups tight inside each file; the helper column never
    // reaches the committed schema (dropped before write)
    def alongCurve(z: org.apache.spark.sql.Column) =
      df.withColumn("__graft_z", z)
        .repartitionByRange(nOut, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
    // cluster columns are user-facing (logical); the rewrite frame is
    // physical — translate before building the layout expressions
    def pcol(c: String) = col(physicalNameOf(snap.renames, c))
    val arranged = (clusterBy, zOrderBy, zOrderCols, hilbertBy) match {
      case (Some(c), _, _, _) => df.repartitionByRange(nOut, pcol(c))
      case (_, Some((a, b)), _, _) =>
        alongCurve(graft.ops.Layout.zValue(pcol(a), pcol(b), zBits))
      case (_, _, Some(cs), _) =>
        // N-dim curve: zBits is capped so the interleave fits a long
        val bits = math.min(zBits, 63 / cs.size)
        alongCurve(graft.ops.Layout.zValueN(cs.map(pcol), bits))
      case (_, _, _, Some((a, b))) =>
        // Hilbert keeps consecutive curve positions in adjacent
        // cells, so each range-partitioned file covers a compact
        // blob — tighter min/max envelopes than the Z diagonal jumps
        alongCurve(graft.ops.Layout.hilbertValue(pcol(a), pcol(b),
          math.min(zBits, 31)))
      case _ => df.coalesce(nOut)
    }
    write(arranged, tablePath, overwrite = false, txn = None,
      removes = small.map(_._1), expectDvs = snap.dvs, base = Some(snap))
  }

  /** Snapshot read at `asOfVersion` (default: latest). Serves the
    * LOGICAL schema — renamed columns under their current names (as of
    * the version read), via one aliasing Project over the scan.
    */
  def read(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): DataFrame =
    frame(spark, tablePath, openLog(spark, tablePath).snapshot(asOfVersion))

  /** `snap`'s rows under their LOGICAL names (deletion vectors applied). */
  private[graft] def frame(spark: SparkSession, tablePath: String,
      snap: Snapshot): DataFrame =
    toLogicalDf(snapFrame(spark, tablePath, snap, snap.files), snap.renames)

  /** Snapshot read that SKIPS data files whose committed min/max
    * statistics prove no row can satisfy
    * `lower <= column <= upper` (either bound optional) — the
    * data-skipping read that makes a log-backed table usable at
    * 100 TB: selective queries touch the few files whose range
    * intersects instead of the whole table. Pruning is conservative:
    * files with no statistics for `column` (nulls-only chunks, type
    * not covered, schema evolution) are always read. The residual
    * range filter is applied to the surviving rows, so the result
    * equals `read(...).filter(lower <= column <= upper)` exactly.
    */
  def prunedRead(spark: SparkSession, tablePath: String, column: String,
      lower: Option[Any] = None, upper: Option[Any] = None,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = openLog(spark, tablePath).snapshot(asOfVersion)
    val df = toLogicalDf(
      snapFrame(spark, tablePath, snap, snap.prune(column, lower, upper)),
      snap.renames)
    val c = org.apache.spark.sql.functions.col(column)
    val bounded = lower.map(v => c >= org.apache.spark.sql.functions.lit(v)) ++
      upper.map(v => c <= org.apache.spark.sql.functions.lit(v))
    bounded.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** The data files a [[prunedRead]] with these bounds would touch —
    * exposed so callers (and specs) can observe skipping directly.
    */
  def candidateFiles(spark: SparkSession, tablePath: String, column: String,
      lower: Option[Any] = None, upper: Option[Any] = None,
      asOfVersion: Option[Long] = None): Seq[String] =
    openLog(spark, tablePath).snapshot(asOfVersion)
      .prune(column, lower, upper)

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] =
    openLog(spark, tablePath).commits

  /** The resolved snapshot the `graft-txlog` DataSource and the
    * catalog scan read from (gated like [[read]]). */
  private[graft] def scanSnapshot(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long]): Snapshot =
    openLog(spark, tablePath).snapshot(asOfVersion)

  /** Table history — the DESCRIBE HISTORY analog: one row per
    * committed version with action, commit timestamp, file/remove
    * counts, txn identity, and schema DDL, newest first. The timestamp
    * is the commit's in-commit `ts`; commits written before that
    * feature fall back to the commit file's modification time.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val log = openLog(spark, tablePath)
    val rows = log.range(0L, log.latest).reverse.map { case (v, c) =>
      (v, c.action, c.op.getOrElse(c.action),
        new java.sql.Timestamp(log.timestamp(v)),
        c.files.size, c.removes.size, c.txn.map(_._1), c.txn.map(_._2),
        c.schemaDdl)
    }
    import spark.implicits._
    rows.toDF("version", "action", "operation", "timestamp", "n_added_files",
      "n_removed_files", "txn_app", "txn_epoch", "schema_ddl")
  }

  /** Row-level change feed between two versions — the public
    * change-data-feed recipe reconstructed from the log, no extra
    * write-path cost: each version in `(fromExclusive, toInclusive]`
    * contributes its logical delta, tagged `_change_type`
    * (insert | delete) and `_commit_version`.
    *
    *  - append commits: their files' rows as inserts (exactly the
    *    streaming source's contract);
    *  - compaction commits: nothing (physical rewrites, not logical
    *    changes);
    *  - overwrite commits (incl. [[merge]], which is copy-on-write
    *    overwrite) and rewrite commits ([[delete]]/[[update]]): the
    *    multiset diff against the previous committed snapshot — an
    *    upsert/update surfaces as delete(old row) + insert(new row),
    *    a delete as delete rows only, untouched rows don't appear.
    *
    * Columns are aligned by name across the range (an overwrite may
    * evolve the schema; missing columns null-fill). The result equals
    * replaying the versions sequentially — `DiffSpec`-style identity:
    * snapshot(to) == snapshot(from) + inserts - deletes as multisets.
    */
  def changes(spark: SparkSession, tablePath: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val log = openLog(spark, tablePath)
    // the change feed is a read: gated on reader features like any
    // snapshot read
    val atTo = log.snapshot(Some(toInclusive))
    // versions are dense (1..n): any hole in the requested range means
    // expireLog reclaimed it — serving the survivors would hand the
    // caller a silently INCOMPLETE feed it would apply as complete
    val missing = log.missingVersions(fromExclusive, toInclusive)
    require(missing.isEmpty,
      s"change feed range ($fromExclusive, $toInclusive] spans expired " +
        s"version(s) ${missing.head}..${missing.last} of $tablePath — " +
        "the log was expired past the requested start; resync from a " +
        "full snapshot instead")
    val deltas = log.range(fromExclusive, toInclusive).flatMap { case (v, c) =>
      if (c.action == "compact" || c.action == "setconstraint" ||
          c.action == "create" || c.action == "evolve" ||
          c.action == "rename" || c.action == "dropcolumn" ||
          c.action == "setprops")
        None // physical rewrite / metadata-only: no logical change
      else if ((c.action == "rewrite" || c.action == "dv") &&
          cdfCached(spark, tablePath, v)) {
        // DML versions carry their exact diff as a write-time cache —
        // serve the feed in O(diff) instead of a two-snapshot compare.
        // The cache layout is the commit's physical schema plus the
        // `_change_type` tag (every writeCdfCache writer emits exactly
        // that), so the schema is passed explicitly: no per-version
        // footer-inference job while assembling the feed.
        Some(spark.read
          .schema(StructType.fromDDL(c.schemaDdl).add("_change_type", StringType))
          .parquet(s"$tablePath/$CdfDir/$v")
          .withColumn("_commit_version", lit(v)))
      } else if (c.action == "append") {
        val snapSchema = StructType.fromDDL(c.schemaDdl)
        Some(buildFrame(spark, tablePath, c.files, snapSchema)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v)))
      } else {
        // generic two-snapshot diff — DV-aware on both sides, so a
        // torn dv-commit cache falls back to the identical answer
        def rows(s: Snapshot) = snapFrame(spark, tablePath, s, s.files)
        val cur = rows(log.snapshot(Some(v)))
        val prev = log.commits.filter(_ < v).lastOption
          .fold(cur.limit(0))(pv => rows(log.snapshot(Some(pv))))
        // align by name for the diff (schema may have evolved)
        val ins = cur.exceptAll(
            prev.unionByName(cur.limit(0), allowMissingColumns = true)
              .select(cur.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v))
        val del = prev.exceptAll(
            cur.unionByName(prev.limit(0), allowMissingColumns = true)
              .select(prev.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v))
        Some(ins.unionByName(del, allowMissingColumns = true))
      }
    }
    // the feed's rows (files, caches, snapshot diffs) are all
    // PHYSICAL-named; serve the LOGICAL names as of `toInclusive` —
    // one alias layer over the whole feed, the same retroactive-rename
    // semantics a snapshot read has
    toLogicalDf(
      deltas.reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse {
          buildFrame(spark, tablePath, Nil, atTo.schema)
            .withColumn("_change_type", lit(""))
            .withColumn("_commit_version", lit(0L))
            .limit(0)
        }, atTo.renames)
  }

  /** The newest version whose commit landed at or before `epochMillis`
    * — by in-commit timestamp, or by commit-file modification time for
    * commits written before that feature (the public protocol's
    * timestamp resolution rule). Errors if the table's first commit is
    * younger.
    */
  private[graft] def versionAtTimestamp(spark: SparkSession, tablePath: String,
      epochMillis: Long): Long = {
    val log = openLog(spark, tablePath)
    // mixing in-commit timestamps (new commits) with commit-file
    // mtimes (pre-feature commits) can be non-monotonic — a file copy
    // rewrites mtimes. Normalize to a running maximum, mirroring the
    // monotonicity claimCommit enforces on the write side, so the
    // <=epoch scan can never resolve past an out-of-order stamp.
    val stamped = log.range(0L, log.latest)
      .scanLeft((0L, Long.MinValue)) { case ((_, m), (v, _)) =>
        (v, math.max(m, log.timestamp(v)))
      }.tail
    stamped.filter(_._2 <= epochMillis).map(_._1).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestampAsOf $epochMillis predates the first commit " +
          s"(${stamped.head._2}) of $tablePath"))
  }

  /** Log retention: delete commit files STRICTLY BELOW the newest
    * checkpoint that loads cleanly, plus superseded checkpoints (and
    * their parts) and orphan part files whose manifest never landed.
    * After expiry, time travel below the horizon reports "version
    * does not exist" while everything at or above it resolves from
    * checkpoint + tail (txn identities, properties, constraints,
    * stats and DVs all fold through the checkpoint — the invariants
    * TxLogTableSpec's expired-log tests pin). `olderThanMillis` is
    * the same safety window [[vacuum]] uses: nothing newer is
    * touched, so an in-flight reader mid-replay keeps its files.
    * Returns the number of log files deleted.
    */
  def expireLog(spark: SparkSession, tablePath: String,
      olderThanMillis: Long = 10L * 60 * 1000): Int = {
    val log = openLog(spark, tablePath)
    val fs = log.fs
    // protocol gate: expiry decides which log files are load-bearing
    // from a legacy-semantics replay — on a table requiring features
    // this build lacks, that replay may mis-read what is referenced,
    // and the deletions are permanent. Refuse, like snapshot/changes.
    if (log.commits.nonEmpty) checkWriteProtocol(log.state.props, tablePath)
    val logPath = new Path(tablePath, LogDir)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    def expired(p: Path): Boolean =
      scala.util.Try(fs.getFileStatus(p).getModificationTime <= cutoff)
        .getOrElse(false)
    val manifests = log.checkpoints.toSet
    // orphan parts: a torn multi-part write whose manifest never
    // landed — reclaimable like any aborted cache write
    var n = 0
    for (st <- log.listing) {
      val name = st.getPath.getName
      if (name.contains(".checkpoint.part-") &&
          name.split('.').headOption.flatMap(_.toLongOption)
            .exists(!manifests.contains(_)) &&
          expired(st.getPath) && fs.delete(st.getPath, false)) n += 1
    }
    log.checkpoints.reverse.find(log.checkpoint(_).isDefined) match {
      case None => n // no loadable checkpoint: every commit is load-bearing
      case Some(horizon) =>
        for (v <- log.commits.filter(_ < horizon)) {
          val p = new Path(logPath, commitName(v))
          if (expired(p) && fs.delete(p, false)) n += 1
        }
        for (v <- manifests.filter(_ < horizon);
             st <- log.listing
               if st.getPath.getName.startsWith(f"$v%020d.checkpoint.")) {
          if (expired(st.getPath) && fs.delete(st.getPath, false)) n += 1
        }
        n
    }
  }

  /** Force a checkpoint of the latest version (normally automatic
    * every [[CheckpointInterval]] commits and on every [[compact]]);
    * returns the checkpointed version. Idempotent.
    */
  def checkpoint(spark: SparkSession, tablePath: String): Long =
    checkpoint(spark, tablePath, CheckpointMaxPartLines)

  /** Test seam: force the multi-part split at a tiny line count. */
  private[graft] def checkpoint(spark: SparkSession, tablePath: String,
      maxPartLines: Int): Long = {
    val log = openLog(spark, tablePath)
    val st = log.state
    // protocol gate: a checkpoint rewrites replayed state as the new
    // source of truth — a legacy-semantics replay of a table requiring
    // unknown features would bake the mis-read in permanently
    checkWriteProtocol(st.props, tablePath)
    writeCheckpoint(log.fs, tablePath, st, maxPartLines)
    st.version
  }

  /** Versions carrying a checkpoint file, ascending (specs/ops). */
  def checkpoints(spark: SparkSession, tablePath: String): Seq[Long] =
    openLog(spark, tablePath).checkpoints

  /** Delete data files referenced by NO commit (crashed writers,
    * lost races). Every committed version stays readable — this never
    * truncates time travel. Returns the number of files removed.
    *
    * `olderThanMillis` is the safety window of the public lake-table
    * recipe: a LIVE writer's files sit unreferenced in `data/` between
    * the move and its commit claim, so reclaiming a fresh "orphan"
    * would corrupt the commit that is about to name it. Only files
    * whose modification time predates the window are touched; pass 0
    * only when no writer can be in flight (tests, cold maintenance).
    * The 10-minute default is sized for OBJECT STORES, not just the
    * move→claim latency: listing timestamps there come from the
    * store's clock, so the window must also absorb store↔maintenance-
    * host clock skew — a store stamping uploads minutes in the past
    * would walk a short window straight into live writers
    * (VacuumWriterRaceSpec exercises both sides of the window).
    */
  def vacuum(spark: SparkSession, tablePath: String,
      olderThanMillis: Long = 10L * 60 * 1000): Int = {
    val log = openLog(spark, tablePath)
    val fs = log.fs
    // protocol gate: the referenced-file set below comes from a
    // legacy-semantics parse of commits/checkpoints — a feature this
    // build lacks (e.g. one recording file references in a new commit
    // field) would get its live files deleted as "orphans". Refuse.
    if (log.commits.nonEmpty) checkWriteProtocol(log.state.props, tablePath)
    // checkpoints count as references too: once old commits are
    // expired (log retention), the checkpoint is the only witness
    // that a still-live file is not an orphan
    val commits = log.range(0L, Long.MaxValue).map(_._2)
    val ckpts = log.checkpoints.flatMap(log.checkpoint)
    val referenced = (commits.flatMap(_.files) ++ ckpts.flatMap(_.files)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // CDF caches of versions whose commit has expired (log retention)
    // serve no reader — changes() requires the commit to exist — so
    // they are reclaimable metadata, under the same safety window
    val cdfRoot = new Path(tablePath, CdfDir)
    val cdfGone =
      if (!fs.exists(cdfRoot)) 0
      else {
        val dead = fs.listStatus(cdfRoot).filter { st =>
          st.getPath.getName.toLongOption.exists(!log.has(_)) &&
            st.getModificationTime <= cutoff
        }.map(_.getPath)
        dead.foreach(fs.delete(_, true))
        dead.length
      }
    // deletion-vector dirs follow the same rule as data files: any
    // commit or checkpoint referencing one keeps it (history stays
    // time-travelable); unreferenced dirs (a dv write that lost its
    // commit race or aborted) reclaim after the safety window
    val dvReferenced = (commits.flatMap(_.dvAdds.values.flatten) ++
      ckpts.flatMap(_.dvs.values.flatten)).filterNot(isAbsoluteEntry).toSet
    val dvRoot = new Path(tablePath, DvDir)
    val dvGone =
      if (!fs.exists(dvRoot)) 0
      else {
        val dead = fs.listStatus(dvRoot)
          .filter(st => !dvReferenced.contains(st.getPath.getName) &&
            st.getModificationTime <= cutoff)
          .map(_.getPath)
        dead.foreach(fs.delete(_, true))
        dead.length
      }
    val dataPath = new Path(tablePath, DataDir)
    if (!fs.exists(dataPath)) cdfGone + dvGone
    else {
      val orphans = fs.listStatus(dataPath)
        .filter(st => !referenced.contains(st.getPath.getName) &&
          st.getModificationTime <= cutoff)
        .map(_.getPath)
      orphans.foreach(fs.delete(_, false))
      orphans.length + cdfGone + dvGone
    }
  }

  // ---------------------------------------------------------------

  /** One column's file-level min/max: `kind` is
    * long|double|string|date|ts|dec, bounds are the base64-UTF8 of the
    * value's canonical string form (base64 keeps the line format safe
    * for any content). Canonical forms: epoch days for date, epoch
    * micros for ts (NTZ micros stored as-is), plain BigDecimal string
    * for dec.
    */
  private[graft] final case class ColStats(kind: String, min: String, max: String)

  /** `action` is one of append | overwrite | compact | rewrite.
    * compact and rewrite both carry removes + adds and replay
    * identically; they differ in MEANING — compact is a physical
    * re-arrangement (no logical change, silent in the change feed),
    * rewrite is a row-level DELETE/UPDATE (a logical change, surfaced
    * by [[changes]] as delete/insert rows).
    */
  private final case class Commit(
      action: String, schemaDdl: String, files: Seq[String],
      txn: Option[(String, Long)] = None,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      removes: Seq[String] = Seq.empty,
      constraintAdds: Map[String, String] = Map.empty,
      constraintDrops: Seq[String] = Seq.empty,
      op: Option[String] = None,
      dvAdds: Map[String, Seq[String]] = Map.empty,
      renames: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty,
      propSets: Map[String, String] = Map.empty,
      propDrops: Seq[String] = Seq.empty,
      ts: Option[Long] = None) {
    def isOverwrite: Boolean = action == "overwrite"
  }

  /** The table at one version, resolved once: the live files with
    * their per-file stats and deletion-vector directories, the schema
    * DDL, the column mapping (PHYSICAL file column → LOGICAL name; only
    * differing entries) and drop tombstones, properties, CHECK
    * constraints, the per-app max txn epoch (txn identities survive
    * overwrites, so idempotent replays stay deduplicated across a
    * table rewrite) and the in-commit timestamp of the commit that
    * made it. Exactly what a checkpoint persists. Version 0 is the
    * state before the first commit.
    */
  private[graft] final case class Snapshot(version: Long,
      ddl: Option[String] = None,
      files: Vector[String] = Vector.empty,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      dvs: Map[String, Seq[String]] = Map.empty,
      renames: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty,
      props: Map[String, String] = Map.empty,
      ts: Option[Long] = None) {

    lazy val schema: StructType = StructType.fromDDL(ddl.getOrElse(
      throw new IllegalStateException(s"no schema resolvable at version $version")))

    /** The user-facing schema: physical fields re-labelled. */
    def logicalSchema: StructType = TxLogTable.logicalSchema(schema, renames)

    def hasDeletionVectors: Boolean = dvs.nonEmpty

    /** `file`'s recorded stat for the LOGICAL `column` under `prefix`. */
    private def stat(file: String, prefix: String, column: String): Option[ColStats] =
      stats.get(file).flatMap(_.get(prefix + physicalNameOf(renames, column)))

    /** Conservative: false only when `file`'s recorded min/max for the
      * LOGICAL `column` proves no value lies in `[lower, upper]`. */
    def mayRangeIntersect(file: String, column: String,
        lower: Option[Any], upper: Option[Any]): Boolean =
      stat(file, "", column).forall(mayIntersect(_, lower, upper))

    /** The live files [[mayRangeIntersect]] keeps. */
    def prune(column: String, lower: Option[Any], upper: Option[Any]): Vector[String] =
      files.filter(mayRangeIntersect(_, column, lower, upper))

    /** (exact null count, exact row count) of the LOGICAL `column` in
      * `file`, when both were recorded at write time. */
    def nullCounts(file: String, column: String): Option[(Long, Long)] = {
      def count(cs: Option[ColStats], kind: String): Option[Long] =
        cs.filter(_.kind == kind)
          .flatMap(c => scala.util.Try(unb64(c.min).toLong).toOption)
      for {
        n <- count(stat(file, NullCountPrefix, column), "nulls")
        rows <- count(stats.get(file).flatMap(_.get(RowCountStat)), "rows")
      } yield (n, rows)
    }

    /** false ⇒ `value` is certainly absent from the LOGICAL `column` of
      * `file` (per-file bloom); true when no bloom was recorded. */
    def mayContainEq(file: String, column: String, value: Any): Boolean =
      stat(file, BloomStatPrefix, column).filter(_.kind == "bloom")
        .forall(cs => scala.util.Try(bloomMayContain(cs.min, value)).getOrElse(true))

    /** This snapshot advanced by commit `c` at version `v`. */
    private[TxLogTable] def next(v: Long, c: Commit): Snapshot = {
      val (base, baseStats, baseDvs) =
        if (c.isOverwrite)
          (Vector.empty[String], Map.empty[String, Map[String, ColStats]],
            Map.empty[String, Seq[String]])
        else if (c.removes.isEmpty) (files, stats, dvs)
        else {
          val gone = c.removes.toSet
          // a rewritten/compacted file took its deletion vectors'
          // effect into the rewrite — the DVs die with the file
          (files.filterNot(gone), stats -- gone, dvs -- gone)
        }
      val liveFiles = (base ++ c.files).toSet
      Snapshot(v, Some(c.schemaDdl), base ++ c.files, baseStats ++ c.stats,
        c.txn.foldLeft(txns) { case (m, (a, e)) =>
          m.updated(a, math.max(e, m.getOrElse(a, Long.MinValue)))
        },
        // constraints are table properties: they survive overwrite
        // (like txn identities) and change only by add/drop commits
        constraints ++ c.constraintAdds -- c.constraintDrops,
        // new deletion vectors stack onto a file's existing ones;
        // entries for files no longer live are dropped (hygiene —
        // readers scope DVs by live file anyway)
        c.dvAdds.foldLeft(baseDvs) { case (m, (f, dirs)) =>
          if (!liveFiles.contains(f)) m
          else m.updated(f, m.getOrElse(f, Seq.empty) ++ dirs)
        },
        // column mapping: a rename/dropcolumn commit REPLACES the
        // map; an overwrite resets it to whatever the commit carries
        // (empty for a plain overwrite — the new schema is its own
        // physical truth; restore/clone carry their source's map)
        if (c.isOverwrite || c.action == "rename" ||
          c.action == "dropcolumn") c.renames
        // an evolve commit re-adding a dropped logical name carries
        // the FULL updated map (fresh physical slot); plain commits
        // carry none and keep the current map
        else if (c.renames.nonEmpty) c.renames
        else renames,
        // dropped-column tombstones (retired PHYSICAL names): same
        // replacement rule — live files may still carry the bytes,
        // so a re-added logical name must get a FRESH physical slot
        if (c.isOverwrite || c.action == "dropcolumn") c.dropped
        else dropped,
        // table properties: survive overwrite (table-level metadata,
        // like constraints and txn identities), change only by
        // set/unset commits
        props ++ c.propSets -- c.propDrops,
        c.ts)
    }
  }

  /** The commit log as ONE listing of `_txlog` shows it — the handle an
    * operation resolves its snapshots and version ranges from. Each
    * commit file is parsed, and each checkpoint and snapshot loaded,
    * at most once per handle.
    */
  private[graft] final class TxLog private[TxLogTable] (
      val fs: FileSystem, val tablePath: String) {

    /** Every file in `_txlog` (empty when the directory is missing). */
    val listing: Seq[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(new Path(tablePath, LogDir)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }

    private def versionsOf(suffix: String): Vector[Long] =
      listing.map(_.getPath.getName).filter(_.endsWith(suffix))
        .flatMap(_.stripSuffix(suffix).toLongOption).sorted.toVector

    /** Committed versions, ascending. */
    val commits: Vector[Long] = versionsOf(".txt")

    /** Versions carrying a checkpoint, ascending. */
    val checkpoints: Vector[Long] = versionsOf(".checkpoint.txt")

    def has(v: Long): Boolean =
      commits.search(v).isInstanceOf[scala.collection.Searching.Found]

    private def requireTable(): Unit =
      require(commits.nonEmpty, s"not a TxLog table (no commits): $tablePath")

    def latest: Long = { requireTable(); commits.last }

    private val parsed = scala.collection.mutable.Map.empty[Long, Commit]
    private[TxLogTable] def commit(v: Long): Commit =
      parsed.getOrElseUpdate(v, parseCommit(fs, tablePath, v))

    private val loaded = scala.collection.mutable.Map.empty[Long, Option[Snapshot]]
    /** The checkpoint at `v`; None when it is torn or corrupt. */
    def checkpoint(v: Long): Option[Snapshot] =
      loaded.getOrElseUpdate(v, loadCheckpoint(fs, tablePath, v))

    private val resolved = scala.collection.mutable.Map.empty[Long, Snapshot]
    private def resolve(v: Long): Snapshot = {
      requireTable()
      require(has(v), s"version $v does not exist; have ${commits.mkString(", ")}")
      resolved.getOrElseUpdate(v, advance(
        checkpoints.reverseIterator.filter(_ <= v).flatMap(checkpoint)
          .nextOption().getOrElse(Snapshot(0L)), v))
    }

    /** The snapshot at `asOf` (default latest) from the newest readable
      * checkpoint at or below it plus the tail commits, gated on the
      * reader features: a table declaring one this build does not
      * implement fails loudly, never a silent mis-read. */
    def snapshot(asOf: Option[Long] = None): Snapshot = {
      val s = resolve(asOf.getOrElse(latest))
      checkReadProtocol(s.props, tablePath)
      s
    }

    /** The latest snapshot without the reader gate — for the metadata
      * getters and for commits, whose write gate includes it. */
    def state: Snapshot = resolve(latest)

    /** [[state]], or version 0 when nothing is committed yet. */
    def current: Snapshot = if (commits.isEmpty) Snapshot(0L) else state

    /** `s` advanced by the listed commits in `(s.version, upTo]`. */
    def advance(s: Snapshot, upTo: Long): Snapshot =
      range(s.version, upTo).foldLeft(s) { case (st, (v, c)) => st.next(v, c) }

    /** The listed commits in `(lo, hi]`, ascending. */
    private[TxLogTable] def range(lo: Long, hi: Long): Vector[(Long, Commit)] =
      commits.filter(v => v > lo && v <= hi).map(v => v -> commit(v))

    /** Commit `v`'s in-commit timestamp, or its file's modification
      * time for commits written before that feature. */
    def timestamp(v: Long): Long = commit(v).ts.getOrElse(mtimes(commitName(v)))

    private lazy val mtimes =
      listing.map(s => s.getPath.getName -> s.getModificationTime).toMap

    /** Versions in `(lo, hi]` absent from the listing — [[expireLog]]
      * reclaimed them. Versions are dense, so a reader owed these must
      * fail loudly, never skip them. */
    def missingVersions(lo: Long, hi: Long): Seq[Long] =
      ((lo + 1L) to hi).filterNot(has)

    /** Data files ADDED by the commits in `(lo, hi]` — the incremental
      * read of the streaming sources: commits carrying removes
      * (compaction and row-level rewrites) add already-streamed rows,
      * so they contribute nothing. An append-only stream cannot
      * express a row-level delete; consumers that must see deletes
      * read the [[changes]] feed. */
    def addedFiles(lo: Long, hi: Long): Seq[String] =
      range(lo, hi).flatMap { case (_, c) => if (c.removes.nonEmpty) Nil else c.files }

    /** Versions in `(lo, hi]` that are row-level deletes ([[delete]],
      * [[update]], deletion vectors) — what an append-only stream
      * cannot represent. */
    def rewriteVersions(lo: Long, hi: Long): Seq[Long] =
      range(lo, hi).collect { case (v, c) if c.action == "rewrite" || c.action == "dv" => v }

    /** Versions in `(lo, hi]` that change the column mapping — rename,
      * dropcolumn, or an evolve carrying a refreshed map. The
      * vectorized stream reads physical names against its logical
      * start schema, so these must fail it, not null-fill. */
    def mappingChangeVersions(lo: Long, hi: Long): Seq[Long] =
      range(lo, hi).collect {
        case (v, c) if c.action == "rename" || c.action == "dropcolumn" ||
          c.renames.nonEmpty => v
      }
  }

  /** The log of `tablePath`, listed once. */
  private[graft] def openLog(spark: SparkSession, tablePath: String): TxLog =
    new TxLog(fileSystem(spark, tablePath), tablePath)

  /** The one optimistic commit loop. Each attempt runs the write
    * protocol gate on its snapshot, then `build` turns that snapshot
    * into the commit for the next version (None: nothing to commit —
    * the snapshot's version is returned). A claim lost to a concurrent
    * writer advances the snapshot by the commits past its version —
    * one listing, only those commits parsed — and `build` runs again,
    * so every check it makes sees the state its commit lands on. The
    * winner folds a checkpoint every [[CheckpointInterval]] versions
    * and after any commit that removes files; best-effort, since a
    * checkpoint is a cache and a failed one only costs the next reader
    * a longer replay.
    */
  private def commitLoop(fs: FileSystem, tablePath: String, start: Snapshot)(
      build: Snapshot => Option[Commit]): Long = {
    @scala.annotation.tailrec
    def attempt(snap: Snapshot, n: Int): Long = {
      if (n > MaxCommitRetries) throw new IllegalStateException(
        s"gave up after $MaxCommitRetries commit attempts on $tablePath")
      checkWriteProtocol(snap.props, tablePath)
      build(snap) match {
        case None => snap.version
        case Some(c) =>
          val v = snap.version + 1L
          val won =
            try Some(claimCommit(fs, tablePath, v, c, snap.ts))
            catch { case _: CommitConflict => None }
          won match {
            case Some(ts) =>
              if (v % CheckpointInterval == 0 || c.removes.nonEmpty)
                try writeCheckpoint(fs, tablePath, snap.next(v, c.copy(ts = Some(ts))))
                catch { case scala.util.control.NonFatal(_) => () }
              v
            case None =>
              // advance by the commits we missed; if log retention
              // reclaimed some of them meanwhile, resolve afresh from
              // the checkpoint that replaced them
              val log = new TxLog(fs, tablePath)
              val expired = log.missingVersions(snap.version, log.latest).nonEmpty
              attempt(if (expired) log.state else log.advance(snap, log.latest), n + 1)
          }
      }
    }
    attempt(start, 1)
  }

  /** Resolve a committed file entry to its physical location: plain
    * names live under this table's `data/`; absolute entries (a
    * shallow [[shallowClone]]'s references into its SOURCE table)
    * are used as-is.
    */
  private[graft] def isAbsoluteEntry(name: String): Boolean =
    name.startsWith("/") || name.contains(":/") // plain names are uuid-based

  private[graft] def dataFilePath(tablePath: String, name: String): String =
    if (isAbsoluteEntry(name)) name
    else s"$tablePath/$DataDir/$name"

  // --------------------------------------------------------------
  // column mapping: data files keep their PHYSICAL column names
  // forever (set at create/overwrite time); RENAME COLUMN is a
  // metadata-only commit that re-labels a physical column with a new
  // LOGICAL name. Readers alias physical → logical at the public
  // boundary (one Project over the scan — pushdown and pruning
  // compose through it), writers map logical → physical before
  // staging, and stats stay keyed by physical name. This is the
  // public column-mapping recipe (Delta protocol `renameColumn`)
  // minus parquet field-ids: the physical name IS the stable id.

  /** Physical schema re-labelled with logical names. */
  private def logicalSchema(schema: StructType,
      renames: Map[String, String]): StructType =
    if (renames.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))

  /** The physical column behind a logical name (identity if unmapped). */
  private def physicalNameOf(renames: Map[String, String],
      logical: String): String =
    renames.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Re-label a physical-named frame with logical names. All-at-once
    * (one select), so a future swap-shaped mapping can never collide
    * mid-rename; non-table columns (`__file` etc.) pass through.
    */
  private def toLogicalDf(df: DataFrame,
      renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(c)
        .as(renames.getOrElse(c, c))): _*)

  /** Re-label a logical-named frame with physical names (the write
    * direction). Columns not in the mapping pass through.
    */
  private def toPhysicalDf(df: DataFrame,
      renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else {
      val rev = renames.map { case (p, l) => l -> p }
      df.select(df.columns.toSeq.map(c =>
        org.apache.spark.sql.functions.col(c)
          .as(rev.getOrElse(c, c))): _*)
    }

  /** ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit (the
    * public column-mapping recipe): no data file is read or rewritten
    * — the commit re-labels the column's physical name with the new
    * logical one, and every read surface serves the new name from the
    * next snapshot on. Time travel is faithful: versions before the
    * rename serve the old name. At 100 TB this is the difference
    * between a one-file log write and rewriting the table.
    *
    * Restrictions (all loud): `from` must be a current column, `to`
    * must not collide with an existing column, and a column referenced
    * by a CHECK constraint cannot be renamed (drop the constraint
    * first — its stored expression would silently stop resolving).
    * Returns the committed version.
    */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Long = {
    require(from != to, s"rename to the same name is a no-op: $from")
    val log = openLog(spark, tablePath)
    commitLoop(log.fs, tablePath, log.state) { st =>
      val logical = st.logicalSchema.fieldNames.toSeq
      require(logical.contains(from),
        s"no such column '$from'; table has: ${logical.mkString(", ")}")
      require(!logical.contains(to),
        s"column '$to' already exists; rename it away first")
      val inConstraint = constraintsNaming(st, from)
      require(inConstraint.isEmpty,
        s"column '$from' is referenced by CHECK constraint(s) " +
          s"${inConstraint.mkString(", ")} — drop them before renaming")
      val p = physicalNameOf(st.renames, from)
      val updated = (st.renames - p) ++
        (if (p == to) Map.empty[String, String] else Map(p -> to))
      Some(Commit("rename", st.ddl.get, Nil,
        op = Some(s"RENAME COLUMN $from TO $to"), renames = updated,
        // properties that NAME columns follow the rename in the
        // same commit (the bloom-index column list); a declared
        // protocol picks up columnMapping the moment it's used
        propSets = renamedBloomProp(st.props, from, Some(to)) ++
          featureDecl(st.props, "columnMapping")))
    }
  }

  /** The CHECK constraints whose expression mentions `column` as a word. */
  private def constraintsNaming(st: Snapshot, column: String): Iterable[String] = {
    val word = ("\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    st.constraints.collect { case (n, e) if word.findFirstIn(e).isDefined => n }
  }

  /** ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit: the new
    * physical schema simply omits the field — no data file is read or
    * rewritten (parquet readers project by name, so the retired bytes
    * are never decoded again, and compaction sheds them physically
    * over time). The physical name is TOMBSTONED: live files still
    * carry its bytes, so a later [[addColumns]] of the same logical
    * name allocates a FRESH physical slot through the column mapping —
    * the one rule that makes drop-then-re-add safe without parquet
    * field ids. Time travel is faithful (old versions still serve the
    * column); a column referenced by a CHECK constraint cannot be
    * dropped; the last column cannot be dropped. Returns the
    * committed version.
    */
  def dropColumn(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val log = openLog(spark, tablePath)
    commitLoop(log.fs, tablePath, log.state) { st =>
      val phys = st.schema
      val logical = st.logicalSchema.fieldNames.toSeq
      require(logical.contains(name),
        s"no such column '$name'; table has: ${logical.mkString(", ")}")
      require(phys.fields.length > 1,
        s"cannot drop the only column of $tablePath")
      val inConstraint = constraintsNaming(st, name)
      require(inConstraint.isEmpty,
        s"column '$name' is referenced by CHECK constraint(s) " +
          s"${inConstraint.mkString(", ")} — drop them before the column")
      val p = physicalNameOf(st.renames, name)
      Some(Commit("dropcolumn", StructType(phys.fields.filterNot(_.name == p)).toDDL,
        Nil, op = Some(s"DROP COLUMN $name"),
        renames = st.renames - p, dropped = st.dropped + p,
        // column-naming properties shed the dropped column; a
        // declared protocol picks up columnMapping on first use
        propSets = renamedBloomProp(st.props, name, None) ++
          featureDecl(st.props, "columnMapping")))
    }
  }

  /** MATERIALIZE the column mapping: one overwrite commit that
    * rewrites the current snapshot under its LOGICAL names, clearing
    * the mapping and the drop tombstones — after it, file bytes match
    * the user-facing schema again and the format/catalog surfaces
    * leave the bridged plan for the vectorized V2 fast path. This is
    * the one mapping operation that DOES move data (O(table)); run it
    * as scheduled maintenance when the read-side bridge tax matters,
    * exactly like compact() retires deletion-vector debt. Constraints,
    * properties and txn identities survive (table-level metadata);
    * prior versions still time-travel with their historical names.
    * No-op (returns the current version) when no mapping is active.
    */
  def materializeColumns(spark: SparkSession, tablePath: String): Long = {
    val snap = openLog(spark, tablePath).snapshot()
    if (snap.renames.isEmpty && snap.dropped.isEmpty) snap.version
    else write(frame(spark, tablePath, snap), tablePath, overwrite = true,
      txn = None, base = Some(snap))
  }

  /** The table's active column mapping, physical → logical (empty when
    * no column has been renamed).
    */
  def columnMapping(spark: SparkSession,
      tablePath: String): Map[String, String] =
    openLog(spark, tablePath).state.renames

  private def buildFrame(spark: SparkSession, tablePath: String,
      files: Seq[String], schema: StructType): DataFrame =
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      spark.read.schema(schema)
        .parquet(files.map(f => dataFilePath(tablePath, f)): _*)
    }

  /** Like [[dataFilePath]] for deletion-vector directories: plain
    * names live under `_dv/`, absolute entries (shallow-clone
    * references into the source table) resolve as-is.
    */
  private def dvDirPath(tablePath: String, name: String): String =
    if (isAbsoluteEntry(name)) name else s"$tablePath/$DvDir/$name"

  /** The parquet scan of `files` with two helper columns identifying
    * each physical row: `__file` (file basename — entries are
    * uuid-named, so basenames are unique across clones too) and
    * `__idx` (the parquet row index). This is the row-identity frame
    * both deletion-vector WRITES (which rows matched) and READS
    * (which rows are masked) hang off — Spark's `_metadata` hidden
    * columns, no custom reader.
    */
  private def metaFrame(spark: SparkSession, tablePath: String,
      files: Seq[String], schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    buildFrame(spark, tablePath, files, schema)
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__idx", col("_metadata.row_index"))
  }

  /** Snapshot-consistent read of `files`: the plain parquet scan with
    * the files' deletion vectors applied as ONE left-anti join on
    * (file basename, row index). Clean files (no DVs) take the
    * unchanged fast path. The DV side is the union of the relevant
    * vector directories — at 100 TB this is a broadcast anti-join
    * whose build side is the deleted-row id list, the merge-on-read
    * cost model of the public lake formats.
    */
  private def snapFrame(spark: SparkSession, tablePath: String,
      snap: Snapshot, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val relevant = snap.dvs.filter { case (f, _) => files.contains(f) }
    if (relevant.isEmpty) buildFrame(spark, tablePath, files, snap.schema)
    else {
      val dirs = relevant.values.flatten.toSeq.distinct.sorted
      val dv = spark.read.schema(DvSchema)
        .parquet(dirs.map(dvDirPath(tablePath, _)): _*)
        .select(col("file").as("__dv_file"), col("row_index").as("__dv_idx"))
      metaFrame(spark, tablePath, files, snap.schema)
        .join(dv, col("__file") === col("__dv_file") &&
          col("__idx") === col("__dv_idx"), "left_anti")
        .drop("__file", "__idx")
    }
  }

  private val DvDir = "_dv"

  /** Vector files are written by this module with exactly this layout
    * (`_metadata.file_name` STRING, `_metadata.row_index` LONG);
    * passing it explicitly on every mask read skips the per-read
    * one-task footer-inference job — a scheduler barrier per DV'd
    * snapshot read that carries no information we don't already have.
    */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("row_index", LongType)))

  /** The snapshot's LIVE rows with the `__file`/`__idx` row-identity
    * columns — the masked [[metaFrame]], shared by the deletion-vector
    * writers (which rows match) and their CDF caches.
    */
  private def liveMetaFrame(spark: SparkSession, tablePath: String,
      snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.col
    val all = metaFrame(spark, tablePath, snap.files, snap.schema)
    if (snap.dvs.isEmpty) all
    else {
      val dirs = snap.dvs.values.flatten.toSeq.distinct.sorted
      val dv = spark.read.schema(DvSchema)
        .parquet(dirs.map(dvDirPath(tablePath, _)): _*)
        .select(col("file").as("__dv_file"), col("row_index").as("__dv_idx"))
      all.join(dv, col("__file") === col("__dv_file") &&
        col("__idx") === col("__dv_idx"), "left_anti")
    }
  }

  /** Row-level DELETE WHERE `predicate` as a MERGE-ON-READ deletion
    * vector — the write-cheap sibling of the copy-on-write [[delete]]:
    * instead of rewriting every file that contains a match, commit a
    * parquet list of the matched rows' (file, row index) identities
    * and let readers mask them with one anti-join. A scattered delete
    * over a 100 TB table costs O(matched rows) bytes written instead
    * of O(files containing matches) bytes rewritten; the read-side
    * tax lasts until the next [[compact]], which applies and retires
    * the vectors (files it rewrites drop their DVs in the same
    * commit). All readers are DV-aware: [[read]]/[[prunedRead]]/
    * [[changes]]/[[fastCount]], the format and catalog surfaces
    * (which fall back to a correctness-first bridged scan while
    * vectors are outstanding), and every DML rewrite applies a file's
    * vectors before touching it, so DV'd rows can never resurrect.
    * The change feed sees exactly the newly-masked rows (write-time
    * CDF cache, already-deleted rows excluded). Commits as
    * `action=dv`; append-only streams fail loudly unless
    * `ignoreDeletes` (same contract as [[delete]]). Returns the
    * committed version — unchanged if no live row matched.
    */
  def deleteVectors(spark: SparkSession, tablePath: String,
      predicate: String): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val log = openLog(spark, tablePath)
    val fs = log.fs
    val snap = log.snapshot()
    checkWriteProtocol(snap.props, tablePath) // a dv delete is a write
    if (snap.files.isEmpty) return snap.version
    // candidate files by committed stats would also work; the matched
    // scan below already pushes the predicate into parquet row groups.
    // Predicates are user-authored → filter under logical names.
    val liveMeta = toLogicalDf(liveMetaFrame(spark, tablePath, snap),
      snap.renames)
    val matched = liveMeta.filter(expr(predicate))
    val dvName = java.util.UUID.randomUUID().toString
    val dvPath = new Path(tablePath, s"$DvDir/$dvName")
    // the touched-file set rides the vector write as an observed
    // collect_set — the re-read + distinct + collect job pair this
    // used to pay per DV commit was pure barrier overhead (the
    // pinWithChangedCount discipline). Set semantics make the metric
    // retry-safe; size is bounded by file count, like the old collect.
    val obs = new org.apache.spark.sql.Observation(s"dv_$dvName")
    matched.select(col("__file").as("file"), col("__idx").as("row_index"))
      .observe(obs, org.apache.spark.sql.functions.collect_set(col("file"))
        .as("files"))
      .write.parquet(dvPath.toString)
    val touchedNames = obs.get("files")
      .asInstanceOf[scala.collection.Seq[Any]].map(_.toString).toSet
    if (touchedNames.isEmpty) { fs.delete(dvPath, true); return snap.version }
    val byName = snap.files.map(e =>
      new Path(dataFilePath(tablePath, e)).getName -> e).toMap
    val touched = touchedNames.toSeq.sorted.map(n => byName.getOrElse(n,
      throw new IllegalStateException(
        s"matched file $n is not a committed entry of $tablePath")))
    val result = commitLoop(fs, tablePath, snap) { now =>
      // the vectors were computed against `snap`'s rows: if a
      // concurrent rewrite/overwrite replaced a touched file, those
      // row indexes no longer mean anything — abort, never corrupt
      val liveNow = now.files.toSet
      val gone = touched.filterNot(liveNow)
      if (gone.nonEmpty) {
        fs.delete(dvPath, true)
        throw new IllegalStateException(
          s"deleteVectors conflict on $tablePath: ${gone.size} matched " +
            s"file(s) no longer live (e.g. ${gone.head}) — a concurrent " +
            "rewrite landed first; rerun the delete")
      }
      // a concurrent dv landing on the same files keeps the mask
      // correct (masks are additive) but would make OUR matched set —
      // and the change-feed cache — stale; abort and recompute
      val drift = touched.filter(f =>
        now.dvs.getOrElse(f, Seq.empty) != snap.dvs.getOrElse(f, Seq.empty))
      if (drift.nonEmpty) {
        fs.delete(dvPath, true)
        throw new IllegalStateException(
          s"deleteVectors conflict on $tablePath: concurrent vectors landed " +
            s"on ${drift.size} matched file(s) (e.g. ${drift.head}); " +
            "rerun the delete")
      }
      Some(Commit("dv", snap.schema.toDDL, Nil,
        op = Some("delete (vectors)"),
        dvAdds = touched.map(f => f -> Seq(dvName)).toMap,
        // a declared protocol picks up deletionVectors on first
        // use — from the CURRENT props (`now`, advanced on every
        // retry), so a retry after a conflicting commit that
        // declared another feature unions with it instead of
        // overwriting the lists with pre-race state
        propSets = featureDecl(now.props, "deletionVectors")))
    }
    // exact O(diff) change feed: the newly-masked rows are the delete
    // rows of this version, already computed (cached physical)
    writeCdfCache(spark, tablePath, result,
      toPhysicalDf(liveMeta.filter(expr(predicate)).drop("__file", "__idx")
        .withColumn("_change_type", lit("delete")), snap.renames))
    result
  }

  /** Row-level UPDATE as MERGE-ON-READ: one commit that masks the
    * matched rows with a deletion vector AND appends their updated
    * images — the write cost is O(matched rows) (the mask plus the
    * new images), never a rewrite of the files that contain them.
    * SET expressions evaluate against the pre-update row and cast
    * back to the column's committed type, exactly like the
    * copy-on-write [[update]]; the change feed gets the precise
    * delete(old)+insert(new) pairs (no-op assignments cancelled); the
    * read-side anti-join tax retires at the next [[compact]]. Returns
    * the committed version — unchanged if no live row matched.
    */
  def updateVectors(spark: SparkSession, tablePath: String, where: String,
      set: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(set.nonEmpty, "update needs at least one SET assignment")
    val log = openLog(spark, tablePath)
    val fs = log.fs
    val snap = log.snapshot()
    val lsch = snap.logicalSchema // SET/WHERE are user-authored → logical
    val unknown = set.keySet -- lsch.fieldNames.toSet
    require(unknown.isEmpty,
      s"update assigns to column(s) not in the table: ${unknown.mkString(", ")}")
    if (snap.files.isEmpty) return snap.version
    val matched = toLogicalDf(liveMetaFrame(spark, tablePath, snap),
      snap.renames).filter(expr(where))
    val dvName = java.util.UUID.randomUUID().toString
    val dvPath = new Path(tablePath, s"$DvDir/$dvName")
    // observed collect_set rides the write job — see [[deleteVectors]]
    val obs = new org.apache.spark.sql.Observation(s"dv_$dvName")
    matched.select(col("__file").as("file"), col("__idx").as("row_index"))
      .observe(obs, org.apache.spark.sql.functions.collect_set(col("file"))
        .as("files"))
      .write.parquet(dvPath.toString)
    val touchedNames = obs.get("files")
      .asInstanceOf[scala.collection.Seq[Any]].map(_.toString).toSet
    if (touchedNames.isEmpty) { fs.delete(dvPath, true); return snap.version }
    val byName = snap.files.map(e =>
      new Path(dataFilePath(tablePath, e)).getName -> e).toMap
    val touched = touchedNames.toSeq.sorted.map(n => byName.getOrElse(n,
      throw new IllegalStateException(
        s"matched file $n is not a committed entry of $tablePath")))
    val oldImages = matched.drop("__file", "__idx")
    val newImages = oldImages.select(lsch.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) => expr(e).cast(f.dataType).as(f.name)
        case None    => col(f.name)
      }
    }: _*)
    val v =
      try write(toPhysicalDf(newImages, snap.renames), tablePath,
        overwrite = false, txn = None,
        actionOverride = Some("dv"), op = Some("update (vectors)"),
        dvAdds = touched.map(f => f -> Seq(dvName)).toMap,
        expectDvs = snap.dvs, base = Some(snap))
      catch { case e: Throwable => fs.delete(dvPath, true); throw e }
    writeCdfCache(spark, tablePath, v, toPhysicalDf(
      oldImages.exceptAll(newImages).withColumn("_change_type", lit("delete"))
        .unionAll(newImages.exceptAll(oldImages)
          .withColumn("_change_type", lit("insert"))), snap.renames))
    v
  }

  /** Whether `cs`'s recorded range can intersect `[lower, upper]`; a
    * bound whose type does not match the recorded kind keeps the file.
    */
  private def mayIntersect(cs: ColStats, lower: Option[Any],
      upper: Option[Any]): Boolean = {
    def dec(s: String): String =
      new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
    def asLong(b: Any): Option[Long] = b match {
      case n: Byte => Some(n.toLong); case n: Short => Some(n.toLong)
      case n: Int  => Some(n.toLong); case n: Long  => Some(n)
      case _ => None
    }
    def asDouble(b: Any): Option[Double] = b match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def asEpochDay(b: Any): Option[Long] = b match {
      case d: java.sql.Date        => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate  => Some(d.toEpochDay)
      case _ => None
    }
    // Instant-carrying bounds use real epoch micros; LocalDateTime is
    // the NTZ bound form and compares against NTZ-stored micros (which
    // encode the local wall-clock as-if-UTC — same axis).
    def asMicros(b: Any): Option[Long] = b match {
      case t: java.sql.Timestamp =>
        Some(Math.addExact(Math.multiplyExact(t.getTime / 1000L, 1000000L),
          (t.getNanos / 1000).toLong))
      case i: java.time.Instant =>
        Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          (i.getNano / 1000).toLong))
      case l: java.time.LocalDateTime =>
        asMicros(l.toInstant(java.time.ZoneOffset.UTC))
      case _ => None
    }
    def asBigDec(b: Any): Option[java.math.BigDecimal] = b match {
      case d: java.math.BigDecimal => Some(d)
      case d: scala.math.BigDecimal => Some(d.bigDecimal)
      case n: Byte => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Short => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Int  => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Long => Some(java.math.BigDecimal.valueOf(n))
      case _ => None
    }
    // Generic bound check over a conversion to an ordered domain: a
    // bound of the wrong type disables pruning rather than lying.
    def check[T](conv: Any => Option[T], parse: String => T)(
        implicit ord: Ordering[T]): Boolean = {
      val lo = lower.map(conv); val hi = upper.map(conv)
      if (lo.exists(_.isEmpty) || hi.exists(_.isEmpty)) true
      else lo.flatten.forall(b => ord.lteq(b, parse(dec(cs.max)))) &&
        hi.flatten.forall(b => ord.gteq(b, parse(dec(cs.min))))
    }
    cs.kind match {
      case "long"   => check(asLong, _.toLong)
      case "date"   => check(asEpochDay, _.toLong)
      case "ts"     => check(asMicros, _.toLong)
      case "double" => check(asDouble, _.toDouble)
      case "dec" =>
        implicit val ord: Ordering[java.math.BigDecimal] =
          Ordering.comparatorToOrdering(
            java.util.Comparator.naturalOrder[java.math.BigDecimal]())
        check(asBigDec, s => new java.math.BigDecimal(s))
      case "string" =>
        // compare UNSIGNED UTF-8 bytes — the ordering both the parquet
        // footer stats and Spark's UTF8String comparisons use (java
        // String.compareTo differs for supplementary characters)
        (lower, upper) match {
          case (l, u) if l.forall(_.isInstanceOf[String]) && u.forall(_.isInstanceOf[String]) =>
            l.forall(b => utf8Compare(b.asInstanceOf[String], dec(cs.max)) <= 0) &&
              u.forall(b => utf8Compare(b.asInstanceOf[String], dec(cs.min)) >= 0)
          case _ => true
        }
      case _ => true
    }
  }

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Per-top-level-column min/max from the file's parquet footer —
    * metadata only, no row read. Covered kinds: plain INT32/INT64
    * (long), FLOAT/DOUBLE (double), UTF8 BINARY (string), DATE (epoch
    * days), TIMESTAMP INT64 any unit (canonical epoch micros; NANOS
    * floors min and ceils max so pruning stays conservative), DECIMAL
    * over INT32/INT64/BINARY/FIXED (plain BigDecimal string).
    * INT96 timestamps and nested paths are skipped (→ never pruned).
    * A row group with absent stats poisons the column for the whole
    * file; an all-null row group is skipped (it cannot move min/max,
    * and the residual filter discards nulls anyway).
    */
  private def footerStats(conf: Configuration, file: Path): Map[String, ColStats] = {
    val enc = (s: String) =>
      Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    // options from `conf`: the one-argument `open` builds a fresh
    // Hadoop Configuration, re-parsing its XML resources, per footer
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), HadoopReadOptions.builder(conf).build())
    try {
      val acc = scala.collection.mutable.Map.empty[String, (String, String, String)]
      val poisoned = scala.collection.mutable.Set.empty[String]
      // per-column null counts (for IS NULL / IS NOT NULL / all-null
      // skipping) — tracked independently of min/max poisoning: a
      // column whose VALUES are unprunable (e.g. nested logical type)
      // still has an exact null count
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val nullsPoisoned = scala.collection.mutable.Set.empty[String]
      for (block <- reader.getFooter.getBlocks.asScala;
           cc <- block.getColumns.asScala if cc.getPath.size == 1) {
        val col = cc.getPath.toArray.head
        if (!nullsPoisoned.contains(col)) {
          val st0 = cc.getStatistics
          if (st0 == null || !st0.isNumNullsSet) nullsPoisoned += col
          else nulls(col) = nulls.getOrElse(col, 0L) + st0.getNumNulls
        }
        if (!poisoned.contains(col)) {
          val pt = cc.getPrimitiveType
          // kind plus the decimal scale / timestamp unit needed to
          // canonicalize the raw stat values
          val kind: Option[String] = pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              pt.getLogicalTypeAnnotation match {
                case null => Some("long")
                case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some("long")
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
                case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some("dec")
                case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some("ts")
                case _ => None
              }
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("double")
            case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
              pt.getLogicalTypeAnnotation match {
                case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("string")
                case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some("dec")
                case _ => None
              }
            case _ => None
          }
          kind match {
            case None => poisoned += col
            case Some(k) =>
              val st = cc.getStatistics
              if (st == null) poisoned += col
              else if (st.hasNonNullValue) {
                def decimalStr(v: Any): String = {
                  val scale = pt.getLogicalTypeAnnotation
                    .asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
                    .getScale
                  val unscaled = v match {
                    case n: Number => java.math.BigInteger.valueOf(n.longValue)
                    case b: Binary => new java.math.BigInteger(b.getBytes)
                  }
                  new java.math.BigDecimal(unscaled, scale).toPlainString
                }
                // min floors, max ceils on lossy NANOS→micros division
                def microsStr(v: Any, ceil: Boolean): String = {
                  val raw = v.asInstanceOf[Number].longValue
                  val unit = pt.getLogicalTypeAnnotation
                    .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                    .getUnit
                  (unit match {
                    case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                      Math.multiplyExact(raw, 1000L)
                    case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                    case LogicalTypeAnnotation.TimeUnit.NANOS =>
                      if (ceil) Math.floorDiv(raw + 999L, 1000L)
                      else Math.floorDiv(raw, 1000L)
                  }).toString
                }
                val (mn, mx) = k match {
                  case "long" | "date" =>
                    (st.genericGetMin.asInstanceOf[Number].longValue.toString,
                      st.genericGetMax.asInstanceOf[Number].longValue.toString)
                  case "ts" =>
                    (microsStr(st.genericGetMin, ceil = false),
                      microsStr(st.genericGetMax, ceil = true))
                  case "double" =>
                    (st.genericGetMin.asInstanceOf[Number].doubleValue.toString,
                      st.genericGetMax.asInstanceOf[Number].doubleValue.toString)
                  case "dec" =>
                    (decimalStr(st.genericGetMin), decimalStr(st.genericGetMax))
                  case _ =>
                    (st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                      st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
                }
                acc.get(col) match {
                  case None => acc(col) = (k, mn, mx)
                  case Some((_, curMn, curMx)) =>
                    def lt(a: String, b: String): Boolean = k match {
                      case "long" | "date" | "ts" => a.toLong < b.toLong
                      case "double" => a.toDouble < b.toDouble
                      case "dec" =>
                        new java.math.BigDecimal(a)
                          .compareTo(new java.math.BigDecimal(b)) < 0
                      case _ => utf8Compare(a, b) < 0
                    }
                    acc(col) = (k, if (lt(mn, curMn)) mn else curMn,
                      if (lt(curMx, mx)) mx else curMx)
                }
              } else if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount)) {
                poisoned += col // stats absent but values present: unusable
              }
          }
        }
      }
      // the file's exact row count rides along as a reserved
      // pseudo-column — footer metadata the write already produced.
      // "rows" is not a prunable kind (mayIntersect's unknown-kind
      // default keeps any real column named like this conservative),
      // and it powers metadata-only COUNT(*) ([[fastCount]]).
      val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      (acc -- poisoned).map { case (col, (k, mn, mx)) =>
        col -> ColStats(k, enc(mn), enc(mx))
      }.toMap ++
        // exact per-column null counts under a reserved derived key
        // (kind "nulls" — never interpreted as a value range). A real
        // column whose name collides with the prefix opts out.
        (nulls -- nullsPoisoned).collect {
          case (col, n) if !col.contains(NullCountPrefix) =>
            (NullCountPrefix + col) -> ColStats("nulls",
              enc(n.toString), enc(n.toString))
        } +
        (RowCountStat -> ColStats("rows",
          enc(rows.toString), enc(rows.toString)))
    } finally reader.close()
  }

  /** Reserved stats key carrying a file's exact row count. */
  private val RowCountStat = "__graft_rows"

  /** Reserved stats-key prefix carrying a column's exact null count. */
  private val NullCountPrefix = "__graft_nulls__"

  // --------------------------------------------------------------
  // per-file bloom filters — the point-lookup index of the public
  // lake recipes. Opt-in per column via the table property
  // `graft.bloom.columns` (comma-separated LOGICAL names); every
  // write then records a 1 KiB bloom (8192 bits, 4 hashes) per
  // (file, column) in the commit stats, and equality / IN-list
  // predicates skip files whose bloom proves the value absent —
  // min/max ranges can't help a needle-in-100 TB key lookup on an
  // unclustered column, a bloom can. Values canonicalize through
  // CAST(... AS STRING) before xxhash64, so the write- and read-side
  // hashes agree for long/int/string/date columns (the point-lookup
  // types); the filter is conservative like every stat here — no
  // bloom, unknown type, or a false positive only ever means the
  // file is read.

  /** Table property naming the bloom-indexed columns. */
  val BloomColumnsProperty = "graft.bloom.columns"

  /** The bloom-column list with `from` renamed to `to` (or removed,
    * `to = None`); empty map when the property is absent/unchanged —
    * piggybacked onto rename/dropcolumn commits.
    */
  private def renamedBloomProp(props: Map[String, String], from: String,
      to: Option[String]): Map[String, String] =
    props.get(BloomColumnsProperty) match {
      case None => Map.empty
      case Some(v) =>
        val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (!cols.contains(from)) Map.empty
        else Map(BloomColumnsProperty ->
          cols.flatMap(c => if (c == from) to else Some(c)).mkString(","))
    }

  private val BloomBits = 8192
  private val BloomK = 4

  /** Reserved stats-key prefix carrying a column's bloom bitmap. */
  private val BloomStatPrefix = "__graft_bloom__"

  /** Build blooms for the just-written files and merge them into the
    * commit stats. One column-pruned scan of the batch; the collect is
    * bounded by files × BloomBits distinct positions — commit-metadata
    * scale, like the footer harvest above it.
    */
  private def addBloomStats(spark: SparkSession, tablePath: String,
      names: Seq[String], schema: StructType,
      props: Map[String, String], renames: Map[String, String],
      stats: Map[String, Map[String, ColStats]])
      : Map[String, Map[String, ColStats]] = {
    import org.apache.spark.sql.functions.{array, col, explode, input_file_name, lit, pmod, xxhash64}
    val cols = props.get(BloomColumnsProperty).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map(l => physicalNameOf(renames, l))
      .filter(schema.fieldNames.contains)
    if (cols.isEmpty || names.isEmpty) return stats
    val scan = spark.read.schema(schema)
      .parquet(names.map(n => dataFilePath(tablePath, n)): _*)
    val byName = names.map(n =>
      new Path(dataFilePath(tablePath, n)).getName -> n).toMap
    cols.foldLeft(stats) { (acc, c) =>
      val positions = scan.filter(col(c).isNotNull)
        .select(input_file_name().as("__f"),
          explode(array((0 until BloomK).map(i =>
            pmod(xxhash64(lit(i), col(c).cast(org.apache.spark.sql.types.StringType)),
              lit(BloomBits.toLong)).cast(org.apache.spark.sql.types.IntegerType)): _*))
            .as("p"))
        .distinct()
        .collect() // bounded by files × BloomBits
      val byFile = positions.groupBy(r =>
        new Path(r.getString(0)).getName).view.mapValues(_.map(_.getInt(1)))
      byFile.foldLeft(acc) { case (m, (base, pos)) =>
        byName.get(base) match {
          case None => m
          case Some(entry) =>
            val bits = new java.util.BitSet(BloomBits)
            pos.foreach(bits.set)
            val b64 = Base64.getEncoder.encodeToString(bits.toByteArray)
            val cur = m.getOrElse(entry, Map.empty)
            m.updated(entry,
              cur + ((BloomStatPrefix + c) -> ColStats("bloom", b64, b64)))
        }
      }
    }
  }

  /** Read-side bloom test: false ⇒ the value is certainly absent from
    * the file. Hash must mirror the write side exactly —
    * xxhash64(salt, CAST(value AS STRING)) evaluated through the same
    * catalyst expression.
    */
  private def bloomMayContain(b64bits: String, value: Any): Boolean = {
    val bits = java.util.BitSet.valueOf(Base64.getDecoder.decode(b64bits))
    // only types whose external toString equals Spark's CAST AS STRING
    // participate; anything else (timestamps, floats — engine-specific
    // rendering) degrades to a conservative read, never a wrong skip
    val s = value match {
      case d: java.time.LocalDate => d.toString
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
          _: java.lang.Byte => value.toString
      case str: String => str
      case _ => return true
    }
    val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    (0 until BloomK).forall { i =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(i),
          org.apache.spark.sql.catalyst.expressions.Literal(utf8,
            org.apache.spark.sql.types.StringType))).eval(null)
        .asInstanceOf[Long]
      val p = (((h % BloomBits) + BloomBits) % BloomBits).toInt
      bits.get(p)
    }
  }

  /** COUNT(*) at a version from COMMIT METADATA alone when every live
    * file carries a recorded row count (any write since the stat was
    * introduced) — zero data I/O, the lake-table answer to "how many
    * rows is this 100 TB table". Falls back to an actual (columnless,
    * parquet-footer-driven) count over exactly the files lacking the
    * stat, so the result is always exact.
    */
  def fastCount(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): Long = {
    val snap = openLog(spark, tablePath).snapshot(asOfVersion)
    // files with outstanding deletion vectors count exactly (masked
    // scan); clean files keep the metadata-only path
    val (dvFiles, clean) = snap.files.partition(snap.dvs.contains)
    val (counted, uncounted) = clean.partition(f =>
      snap.stats.get(f).exists(_.contains(RowCountStat)))
    val fromStats = counted.iterator.map { f =>
      new String(Base64.getDecoder.decode(
        snap.stats(f)(RowCountStat).min), StandardCharsets.UTF_8).toLong
    }.sum
    val fromData =
      if (uncounted.isEmpty && dvFiles.isEmpty) 0L
      else snapFrame(spark, tablePath, snap, uncounted ++ dvFiles).count()
    fromStats + fromData
  }

  private def write(df0: DataFrame, tablePath: String, overwrite: Boolean,
      txn: Option[(String, Long)], removes: Seq[String] = Seq.empty,
      actionOverride: Option[String] = None,
      mergeSchema: Boolean = false,
      op: Option[String] = None,
      dvAdds: Map[String, Seq[String]] = Map.empty,
      expectDvs: Map[String, Seq[String]] = Map.empty,
      base: Option[Snapshot] = None): Long = {
    val commitAction = actionOverride.getOrElse(
      if (overwrite) "overwrite"
      else if (removes.nonEmpty) "compact"
      else "append")
    val spark = df0.sparkSession
    val fs = fileSystem(spark, tablePath)
    // the operation's one snapshot: the checks before staging and the
    // commit loop's first attempt both read it
    val snap = base.getOrElse(openLog(spark, tablePath).current)
    // column mapping: batches arrive under LOGICAL names; files and
    // the committed DDL stay physical, so map before staging. An
    // overwrite replaces the schema (and resets the mapping), so its
    // batch IS the new physical truth — no translation. Internal
    // rewrites pass physical-named frames, for which this is a no-op.
    // Properties survive an overwrite (bloom columns keep applying).
    val (curRenames, curDropped) =
      if (overwrite) (Map.empty[String, String], Set.empty[String])
      else (snap.renames, snap.dropped)
    val curProps = snap.props
    // protocol gate: unknown required features block the write BEFORE
    // any staging cost
    checkWriteProtocol(curProps, tablePath)
    // a batch addressing a renamed column by its RETIRED name is a
    // stale producer — fail loudly instead of silently writing to the
    // physical slot (internal rewrites carry physical frames on
    // purpose and commit under compact/rewrite/dv actions)
    if (curRenames.nonEmpty && commitAction == "append") {
      val logicalNames = curRenames.values.toSet
      val stale = df0.schema.fieldNames
        .filter(n => curRenames.contains(n) && !logicalNames.contains(n))
      require(stale.isEmpty,
        s"append schema mismatch: column(s) ${stale.mkString(", ")} were " +
          s"renamed (current name(s): ${stale.map(curRenames).mkString(", ")})" +
          " — write under the current logical names")
    }
    // GENERATED columns: a user-facing append/overwrite batch that
    // OMITS a declared `graft.generated.<name>` column gets it
    // computed HERE — before staging, so the staged bytes, the
    // committed files and the constraint gate all see the filled
    // value. A batch that PROVIDES the column is validated by the
    // derived `__gen_<name>` CHECK like any other row. Internal
    // rewrites (compact/rewrite/dv) re-stage rows that already
    // passed, so they are exempt.
    val df0g = {
      val gen = curProps.collect {
        case (k, e) if k.startsWith(GeneratedPropPrefix) =>
          k.stripPrefix(GeneratedPropPrefix) -> e
      }
      if (gen.isEmpty || actionOverride.nonEmpty || removes.nonEmpty) df0
      else {
        val have = df0.schema.fieldNames.toSet
        gen.toSeq.sortBy(_._1).foldLeft(df0) { case (d, (n, e)) =>
          if (have.contains(n)) d
          else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
        }
      }
    }
    // translate ONLY the user-facing append path: internal rewrites
    // (compact/rewrite/dv) hand PHYSICAL frames already, and a second
    // application would un-swap a swap-shaped mapping
    val df =
      if (actionOverride.isEmpty && removes.isEmpty && !overwrite)
        toPhysicalDf(df0g, curRenames)
      else df0g
    val ddl = df.schema.toDDL

    // replayed transaction: the epoch is already in the log — skip
    // before paying for the staging write
    def replayed(s: Snapshot): Boolean =
      txn.exists { case (appId, epoch) => s.txns.get(appId).exists(_ >= epoch) }
    if (replayed(snap)) return snap.version

    // 1. stage with full parallelism, invisible to readers
    val stagingId = java.util.UUID.randomUUID().toString
    val staging = new Path(tablePath, s"_staging/$stagingId")
    df.write.parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

    // CHECK constraints gate every data-changing commit (compaction
    // rewrites rows that already passed). Validated against the
    // STAGED parquet — one pruned re-read of the batch, no upstream
    // recompute, and exactly the bytes that would land.
    if (commitAction != "compact" && staged.nonEmpty && snap.constraints.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      // validate against the staged bytes, with table columns the
      // batch omits (mergeSchema appends) null-filled — a CHECK on
      // an omitted column sees NULL and passes, matching what the
      // committed read will serve
      val raw = spark.read.schema(df.schema)
        .parquet(staged.map(_.toString).toSeq: _*)
      val have = df.schema.fieldNames.toSet
      val stagedDf = toLogicalDf(
        snap.schema.fields.filterNot(f => have.contains(f.name))
          .foldLeft(raw)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))),
        curRenames) // constraints are written in LOGICAL terms
      val broken = snap.constraints.toSeq.sortBy(_._1).iterator.flatMap { case (n, e) =>
        val bad =
          try stagedDf.filter(coalesce(expr(e), lit(true)) === false)
            .limit(1).collect()
          catch { case ex: org.apache.spark.sql.AnalysisException =>
            fs.delete(staging, true)
            throw new IllegalArgumentException(
              s"batch schema [${df.schema.toDDL}] breaks constraint '$n' " +
                s"CHECK ($e): ${ex.getMessage} — drop the constraint or fix " +
                "the schema", ex)
          }
        bad.headOption.map(r => (n, e, r))
      }.take(1).toSeq
      broken.headOption.foreach { case (n, e, r) =>
        fs.delete(staging, true)
        throw new ConstraintViolation(
          s"write to $tablePath rejected: row $r violates constraint " +
            s"'$n' CHECK ($e)")
      }
    }

    // 2..3. move into data/ under a uuid-stamped name, then race for
    // the commit file; on a lost race re-claim under the next version
    // (our files are unreferenced until a commit names them, so the
    // retry republishes the same data, never duplicates it)
    var published: Option[Seq[String]] = None
    var fileStats = Map.empty[String, Map[String, ColStats]]
    try commitLoop(fs, tablePath, snap) { cur =>
      // a concurrent writer may have landed our epoch while we raced
      // — re-checked on every attempt so a replayed batch can never
      // double-commit (our moved files become vacuumable)
      if (replayed(cur)) None
      else {
        // compaction rewrites the table's own rows, so it keeps the
        // committed DDL verbatim (reading parquet back relaxes
        // nullability, which must not masquerade as schema evolution).
        // Appends match modulo nullability — a NOT NULL batch into a
        // nullable table column is always safe (and round-tripping
        // through parquet relaxes nullability, so merge → append would
        // otherwise spuriously fail) — and keep the TABLE's DDL so
        // the committed schema never flip-flops.
        val commitDdl = cur.ddl.filter(_ => !overwrite) match {
          case None => ddl
          case Some(current) if removes.nonEmpty => current
          case Some(_) if mergeSchema =>
            // evolution: table columns keep their order and exact
            // type; batch-only columns append (nullable — old files
            // null-fill them on read). Type drift on a common column
            // is rejected, never coerced.
            val curNames = cur.schema.fieldNames.toSet
            val batchByName = df.schema.fields.map(f => f.name -> f).toMap
            for (f <- cur.schema.fields; b <- batchByName.get(f.name))
              require(b.dataType == f.dataType,
                s"appendEvolve cannot change column '${f.name}' from " +
                  s"${f.dataType.sql} to ${b.dataType.sql} — type changes " +
                  "go through overwrite")
            val added = df.schema.fields.filterNot(f => curNames.contains(f.name))
              .map(_.copy(nullable = true))
            // under column mapping, a new column must not shadow a
            // LOGICAL name either (its physical slot is taken)
            val logicalClash = added.map(_.name)
              .filter(curRenames.values.toSet)
            require(logicalClash.isEmpty,
              s"appendEvolve cannot add column(s) ${logicalClash.mkString(", ")}" +
                " — the name is in use by a renamed column")
            // and a DROPPED name needs a fresh physical slot, which
            // only the metadata-only path can allocate
            val tombstoned = added.map(_.name).filter(curDropped)
            require(tombstoned.isEmpty,
              s"appendEvolve cannot re-add dropped column(s) " +
                s"${tombstoned.mkString(", ")} — use addColumns (it " +
                "allocates a fresh physical slot), then append")
            StructType(cur.schema.fields.map(_.copy(nullable = true)) ++ added).toDDL
          case Some(current) =>
            def relaxed(s: String): String = StructType(
              StructType.fromDDL(s).fields.map(_.copy(nullable = true))).toDDL
            require(relaxed(current) == relaxed(ddl),
              s"append schema mismatch: table has [$current], batch has [$ddl] " +
                "— schema changes go through overwrite (or appendEvolve)")
            current
        }
        // compaction must not resurrect files a concurrent overwrite/
        // compaction already removed — re-validate liveness on every
        // attempt; on violation the staged rewrite is abandoned as a
        // vacuumable orphan rather than committing stale data
        if (removes.nonEmpty || dvAdds.nonEmpty) {
          val live = cur.files.toSet
          val dead = removes.filterNot(live) ++
            dvAdds.keys.filterNot(live) // vector row indexes are per-file
          if (dead.nonEmpty) throw new IllegalStateException(
            s"rewrite conflict on $tablePath: ${dead.size} rewritten " +
              s"file(s) no longer live (e.g. ${dead.head}) — a concurrent " +
              "overwrite or rewrite landed first; rerun the operation")
          // a deletion vector that landed AFTER this rewrite was
          // computed would be silently retired by the remove — the
          // rewritten bytes never applied it, so its masked rows
          // would resurrect. Abort instead (stress-caught race).
          val drift = (removes ++ dvAdds.keys).filter(f =>
            cur.dvs.getOrElse(f, Seq.empty) != expectDvs.getOrElse(f, Seq.empty))
          if (drift.nonEmpty) throw new IllegalStateException(
            s"rewrite conflict on $tablePath: deletion vectors changed on " +
              s"${drift.size} rewritten file(s) (e.g. ${drift.head}) since " +
              "this rewrite was computed; rerun the operation")
        }
        val names = published.getOrElse {
          val dataPath = new Path(tablePath, DataDir)
          fs.mkdirs(dataPath)
          // names are uuid-based and version-free: only the commit
          // log binds a file to a version (a lost race re-publishes
          // the same names under the next version)
          val ns = staged.zipWithIndex.map { case (src, i) =>
            val name = s"$stagingId-$i.parquet"
            require(fs.rename(src, new Path(dataPath, name)),
              s"failed to move staged file $src")
            name
          }.toSeq
          val conf = spark.sparkContext.hadoopConfiguration
          fileStats = ns.map { n =>
            n -> footerStats(conf, new Path(dataPath, n))
          }.filter(_._2.nonEmpty).toMap
          // per-file BLOOM filters for the opted-in point-lookup
          // columns (property graft.bloom.columns) — one extra
          // column-pruned pass over the batch just written
          fileStats = addBloomStats(spark, tablePath, ns, df.schema,
            curProps, curRenames, fileStats)
          published = Some(ns)
          ns
        }
        // a declared protocol must list every feature in use: the
        // first DV commit rides its own declaration, derived from this
        // attempt's snapshot — a commit that landed while we staged
        // may have extended the feature lists, and pre-race props
        // would overwrite its additions and under-state the protocol
        val dvDecl =
          if (dvAdds.isEmpty) Map.empty[String, String]
          else featureDecl(cur.props, "deletionVectors")
        Some(Commit(commitAction, commitDdl, names, txn, fileStats, removes,
          op = op, dvAdds = dvAdds, propSets = dvDecl))
      }
    } finally fs.delete(staging, true)
  }

  /** Serializes same-JVM commit claims: the filesystem's no-replace
    * rename arbitrates cross-process races (the HDFS-family
    * guarantee), but local-filesystem rename CAN silently replace, so
    * threads of one JVM — the local[*] deployment — go through this
    * lock for the exists-check + rename pair.
    */
  private val claimLock = new Object

  /** Publish a commit ATOMICALLY: the full body is written to a temp
    * file and renamed into place, so a reader can never observe a
    * claimed-but-half-written commit (the original create-then-stream
    * form had exactly that torn window — a lister between the create
    * and the body write saw "corrupt commit: missing action"). The
    * rename doubles as the claim: it only succeeds for one writer per
    * version.
    */
  private def claimCommit(fs: FileSystem, tablePath: String, version: Long,
      c: Commit, prevTs: Option[Long]): Long = {
    val logPath = new Path(tablePath, LogDir)
    fs.mkdirs(logPath)
    val commitPath = new Path(logPath, commitName(version))
    if (fs.exists(commitPath)) throw new CommitConflict(version)
    // IN-COMMIT timestamp (the public protocol's inCommitTimestamp):
    // recorded in the commit body, monotonic past the previous
    // version's (`prevTs`, from the snapshot the commit was built
    // on), so time travel by timestamp survives file copies, clock
    // skew between writers, and mtime-rewriting storage.
    val commitTs = math.max(System.currentTimeMillis(),
      prevTs.map(_ + 1L).getOrElse(Long.MinValue))
    val body = new StringBuilder()
      .append("action=").append(c.action).append('\n')
      .append("schema=").append(c.schemaDdl).append('\n')
      .append("ts=").append(commitTs).append('\n')
    c.op.foreach(o => body.append("op=").append(o).append('\n'))
    c.txn.foreach { case (appId, epoch) =>
      body.append("txnApp=").append(appId).append('\n')
        .append("txnEpoch=").append(epoch).append('\n')
    }
    c.files.foreach(f => body.append("file=").append(f).append('\n'))
    c.removes.foreach(f => body.append("remove=").append(f).append('\n'))
    for ((n, e) <- c.constraintAdds.toSeq.sortBy(_._1))
      body.append("constraintAdd=").append(b64(n)).append('|')
        .append(b64(e)).append('\n')
    for (n <- c.constraintDrops.sorted)
      body.append("constraintDrop=").append(b64(n)).append('\n')
    // one line per (data file, dv dir): dvadd=<fileB64>|<dirB64>
    // (base64 keeps absolute clone-reference paths line-format safe)
    for ((f, dirs) <- c.dvAdds.toSeq.sortBy(_._1); dir <- dirs)
      body.append("dvadd=").append(b64(f)).append('|')
        .append(b64(dir)).append('\n')
    // one line per column-mapping entry: rename=<physB64>|<logB64>
    for ((p, l) <- c.renames.toSeq.sortBy(_._1))
      body.append("rename=").append(b64(p)).append('|')
        .append(b64(l)).append('\n')
    // one line per dropped-column tombstone: droppedcol=<physB64>
    for (p <- c.dropped.toSeq.sorted)
      body.append("droppedcol=").append(b64(p)).append('\n')
    // table properties: propSet=<kB64>|<vB64> / propDrop=<kB64>
    for ((k, v) <- c.propSets.toSeq.sortBy(_._1))
      body.append("propSet=").append(b64(k)).append('|')
        .append(b64(v)).append('\n')
    for (k <- c.propDrops.sorted)
      body.append("propDrop=").append(b64(k)).append('\n')
    // one line per (file, column): stat=<file>|<colB64>|<kind>|<minB64>|<maxB64>
    // (file names are writer-generated uuid forms, never contain '|')
    for ((f, cols) <- c.stats.toSeq.sortBy(_._1);
         (col, cs) <- cols.toSeq.sortBy(_._1)) {
      val colB64 = Base64.getEncoder
        .encodeToString(col.getBytes(StandardCharsets.UTF_8))
      body.append("stat=").append(f).append('|').append(colB64).append('|')
        .append(cs.kind).append('|').append(cs.min).append('|')
        .append(cs.max).append('\n')
    }
    val tmp = new Path(logPath, s"tmp-${java.util.UUID.randomUUID()}.commit")
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(body.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val claimed = claimLock.synchronized {
      // versions are dense and retention deletes only commits below a
      // checkpoint, so a missing predecessor means `version` itself was
      // committed and expired: claiming it again would bury this commit
      // under that checkpoint, unseen by every reader
      !fs.exists(commitPath) &&
        (version == 1L || fs.exists(new Path(logPath, commitName(version - 1)))) &&
        fs.rename(tmp, commitPath)
    }
    if (!claimed) {
      fs.delete(tmp, false)
      throw new CommitConflict(version)
    }
    commitTs
  }

  private def parseCommit(fs: FileSystem, tablePath: String, version: Long): Commit = {
    val p = new Path(new Path(tablePath, LogDir), commitName(version))
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    def field(k: String): String = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.substring(k.length + 1) }
      .getOrElse(throw new IllegalStateException(s"corrupt commit $p: missing $k"))
    def opt(k: String): Option[String] = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.substring(k.length + 1) }
    val stats = lines.collect { case l if l.startsWith("stat=") =>
      l.substring(5).split('|') match {
        case Array(f, colB64, kind, minB64, maxB64) =>
          val col = new String(Base64.getDecoder.decode(colB64), StandardCharsets.UTF_8)
          (f, col, ColStats(kind, minB64, maxB64))
        case _ => throw new IllegalStateException(s"corrupt commit $p: bad stat line")
      }
    }.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(x => x._2 -> x._3).toMap
    }
    Commit(
      action = field("action"),
      schemaDdl = field("schema"),
      files = lines.collect { case l if l.startsWith("file=") => l.substring(5) }.toSeq,
      txn = for { a <- opt("txnApp"); e <- opt("txnEpoch") } yield (a, e.toLong),
      stats = stats,
      removes = lines.collect { case l if l.startsWith("remove=") => l.substring(7) }.toSeq,
      constraintAdds = lines.collect {
        case l if l.startsWith("constraintAdd=") =>
          l.substring(14).split('|') match {
            case Array(n, e) => unb64(n) -> unb64(e)
            case _ => throw new IllegalStateException(
              s"corrupt commit $p: bad constraintAdd line")
          }
      }.toMap,
      constraintDrops = lines.collect {
        case l if l.startsWith("constraintDrop=") => unb64(l.substring(15))
      }.toSeq,
      op = opt("op"),
      dvAdds = lines.collect {
        case l if l.startsWith("dvadd=") =>
          l.substring(6).split('|') match {
            case Array(f, dir) => unb64(f) -> unb64(dir)
            case _ => throw new IllegalStateException(
              s"corrupt commit $p: bad dvadd line")
          }
      }.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSeq },
      renames = lines.collect {
        case l if l.startsWith("rename=") =>
          l.substring(7).split('|') match {
            case Array(ph, lg) => unb64(ph) -> unb64(lg)
            case _ => throw new IllegalStateException(
              s"corrupt commit $p: bad rename line")
          }
      }.toMap,
      dropped = lines.collect {
        case l if l.startsWith("droppedcol=") => unb64(l.substring(11))
      }.toSet,
      propSets = lines.collect {
        case l if l.startsWith("propSet=") =>
          l.substring(8).split('|') match {
            case Array(k, v) => unb64(k) -> unb64(v)
            // split drops a trailing empty field: an EMPTY property
            // value (e.g. a protocol declared with no features yet)
            // is legal, not corruption
            case Array(k) if l.endsWith("|") => unb64(k) -> ""
            case _ => throw new IllegalStateException(
              s"corrupt commit $p: bad propSet line")
          }
      }.toMap,
      propDrops = lines.collect {
        case l if l.startsWith("propDrop=") => unb64(l.substring(9))
      }.toSeq,
      ts = opt("ts").flatMap(_.toLongOption))
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  // --------------------------------------------------------------
  // checkpoints — serialized snapshots, same line format as commits plus
  // a trailing end marker so a torn file can never parse as complete

  private def checkpointName(version: Long): String =
    f"$version%020d.checkpoint.txt"

  /** Lines per checkpoint part before the writer splits into a
    * manifest + part files. At 100 TB a snapshot holds millions of
    * files × stats lines — one multi-hundred-MB checkpoint file would
    * serialize through a single reader/writer and hold the whole
    * thing in one buffer; parts cap each file and let a failed write
    * abort cheaply. 2^18 lines ≈ tens of MB per part. */
  val CheckpointMaxPartLines: Int = 1 << 18

  private def checkpointPartName(version: Long, part: Int): String =
    f"$version%020d.checkpoint.part-$part%05d.txt"

  /** Atomic small-file write: temp + no-replace rename. A lost race
    * means an identical writer won — equivalent content, clean up. */
  private def atomicWrite(fs: FileSystem, logPath: Path, target: Path,
      content: String): Unit = {
    val tmp = new Path(logPath, s"tmp-${java.util.UUID.randomUUID()}.ckpt")
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, target)) fs.delete(tmp, false)
  }

  /** Write `st` as the checkpoint of its version atomically (temp +
    * rename); a lost rename race means another writer checkpointed the
    * same version — equivalent content, so the loser just cleans up.
    */
  private def writeCheckpoint(fs: FileSystem, tablePath: String,
      st: Snapshot, maxPartLines: Int = CheckpointMaxPartLines): Unit = {
    val version = st.version
    val logPath = new Path(tablePath, LogDir)
    val target = new Path(logPath, checkpointName(version))
    if (fs.exists(target)) return
    val body = new StringBuilder()
      .append("schema=").append(st.ddl.getOrElse(
        throw new IllegalStateException(
          s"cannot checkpoint $tablePath@$version: no schema"))).append('\n')
    st.ts.foreach(t => body.append("ts=").append(t).append('\n'))
    for ((a, e) <- st.txns.toSeq.sortBy(_._1)) {
      val aB64 = Base64.getEncoder
        .encodeToString(a.getBytes(StandardCharsets.UTF_8))
      body.append("txn=").append(aB64).append('|').append(e).append('\n')
    }
    st.files.foreach(f => body.append("file=").append(f).append('\n'))
    for ((f, cols) <- st.stats.toSeq.sortBy(_._1);
         (col, cs) <- cols.toSeq.sortBy(_._1)) {
      val colB64 = Base64.getEncoder
        .encodeToString(col.getBytes(StandardCharsets.UTF_8))
      body.append("stat=").append(f).append('|').append(colB64).append('|')
        .append(cs.kind).append('|').append(cs.min).append('|')
        .append(cs.max).append('\n')
    }
    for ((n, e) <- st.constraints.toSeq.sortBy(_._1))
      body.append("constraint=").append(b64(n)).append('|')
        .append(b64(e)).append('\n')
    for ((f, dirs) <- st.dvs.toSeq.sortBy(_._1); dir <- dirs)
      body.append("dv=").append(b64(f)).append('|')
        .append(b64(dir)).append('\n')
    for ((p, l) <- st.renames.toSeq.sortBy(_._1))
      body.append("rename=").append(b64(p)).append('|')
        .append(b64(l)).append('\n')
    for (p <- st.dropped.toSeq.sorted)
      body.append("droppedcol=").append(b64(p)).append('\n')
    for ((k, v) <- st.props.toSeq.sortBy(_._1))
      body.append("prop=").append(b64(k)).append('|')
        .append(b64(v)).append('\n')
    val lines = body.toString.split('\n').filter(_.nonEmpty)
    if (lines.length <= maxPartLines)
      // single-file form — the wire format older readers expect
      atomicWrite(fs, logPath, target, lines.mkString("", "\n", "\nend=1\n"))
    else {
      // multi-part: each part carries its own end marker (torn-part
      // detection); the MANIFEST lands last, so a reader never sees
      // a manifest whose parts are still in flight. A torn write
      // leaves orphan part files — caches, skipped like any
      // unreadable checkpoint and rewritten by the next interval.
      val parts = lines.grouped(maxPartLines).toVector
      parts.zipWithIndex.foreach { case (ls, i) =>
        atomicWrite(fs, logPath,
          new Path(logPath, checkpointPartName(version, i)),
          ls.mkString("", "\n", "\nend=1\n"))
      }
      atomicWrite(fs, logPath, target, s"parts=${parts.length}\nend=1\n")
    }
  }

  /** Parse a checkpoint; None on any defect (truncated, corrupt,
    * missing end marker) — the reader then falls back to an older
    * checkpoint or full replay.
    */
  private def loadCheckpoint(fs: FileSystem, tablePath: String,
      version: Long): Option[Snapshot] = scala.util.Try {
    val logPath = new Path(tablePath, LogDir)
    def readLines(p: Path): Array[String] = {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').filter(_.nonEmpty)
    }
    val main = readLines(new Path(logPath, checkpointName(version)))
    require(main.lastOption.contains("end=1"), "missing end marker")
    // multi-part: the main file is a manifest; each part must carry
    // its own end marker or the whole checkpoint is treated as torn
    // (Try → None → older checkpoint / full replay)
    val lines = main.headOption match {
      case Some(h) if h.startsWith("parts=") =>
        (0 until h.substring(6).toInt).toArray.flatMap { i =>
          val part = readLines(
            new Path(logPath, checkpointPartName(version, i)))
          require(part.lastOption.contains("end=1"),
            s"part $i missing end marker")
          part.dropRight(1)
        }
      case _ => main
    }
    val ddl = lines.collectFirst {
      case l if l.startsWith("schema=") => l.substring(7)
    }
    require(ddl.isDefined, "missing schema")
    StructType.fromDDL(ddl.get) // must round-trip, else corrupt
    val txns = lines.collect { case l if l.startsWith("txn=") =>
      l.substring(4).split('|') match {
        case Array(aB64, e) =>
          new String(Base64.getDecoder.decode(aB64),
            StandardCharsets.UTF_8) -> e.toLong
        case _ => throw new IllegalStateException("bad txn line")
      }
    }.toMap
    val files = lines.collect {
      case l if l.startsWith("file=") => l.substring(5)
    }.toVector
    val stats = lines.collect { case l if l.startsWith("stat=") =>
      l.substring(5).split('|') match {
        case Array(f, colB64, kind, minB64, maxB64) =>
          val col = new String(Base64.getDecoder.decode(colB64),
            StandardCharsets.UTF_8)
          (f, col, ColStats(kind, minB64, maxB64))
        case _ => throw new IllegalStateException("bad stat line")
      }
    }.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(x => x._2 -> x._3).toMap
    }
    val constraints = lines.collect { case l if l.startsWith("constraint=") =>
      l.substring(11).split('|') match {
        case Array(n, e) => unb64(n) -> unb64(e)
        case _ => throw new IllegalStateException("bad constraint line")
      }
    }.toMap
    val dvs = lines.collect { case l if l.startsWith("dv=") =>
      l.substring(3).split('|') match {
        case Array(f, dir) => unb64(f) -> unb64(dir)
        case _ => throw new IllegalStateException("bad dv line")
      }
    }.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSeq }
    val renames = lines.collect { case l if l.startsWith("rename=") =>
      l.substring(7).split('|') match {
        case Array(p, lg) => unb64(p) -> unb64(lg)
        case _ => throw new IllegalStateException("bad rename line")
      }
    }.toMap
    val droppedCols = lines.collect {
      case l if l.startsWith("droppedcol=") => unb64(l.substring(11))
    }.toSet
    val props = lines.collect { case l if l.startsWith("prop=") =>
      l.substring(5).split('|') match {
        case Array(k, v) => unb64(k) -> unb64(v)
        // empty property VALUES are legal (see parseCommit) — split
        // drops the trailing empty field
        case Array(k) if l.endsWith("|") => unb64(k) -> ""
        case _ => throw new IllegalStateException("bad prop line")
      }
    }.toMap
    Snapshot(version, ddl, files, stats, txns, constraints, dvs, renames,
      droppedCols, props,
      lines.collectFirst { case l if l.startsWith("ts=") => l.substring(3).toLong })
  }.toOption

  private def commitName(version: Long): String = f"$version%020d.txt"

  private def fileSystem(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
