package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Merge, Pinned}
import graft.sink.TxLogTable

/** Structured Streaming variants of the batch event analytics: the
  * same logical computations as q25 (tumbling window) and q27
  * (sessionization), expressed over an unbounded source.
  *
  * The reference engine is strictly batch (both mains run once and
  * exit — reference app/ingestao_api.py:133, app/ingestao_csv.py:24);
  * these extend the engine to continuous ingestion, the missing
  * category flagged in SURVEY.md §2.8.
  *
  * Scale notes: watermarks bound the state store (old windows are
  * evicted); the session operator keys state by user_id so it
  * partitions across executors; append output only emits finalized
  * windows — the pattern that holds at 1000 executors.
  */
object StreamingOps {

  /** Schema of the events file source (matches events.parquet with ts
    * already converted to TIMESTAMP_NTZ-compatible micros).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded file-source scan of a landing directory (new files are
    * discovered per micro-batch — the streaming analog of the bronze
    * ingestion pattern).
    */
  def readEventStream(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream
      .format(format)
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "16")
      .load(dir)

  /** Tumbling 1-hour window aggregation with a watermark: counts and
    * exact decimal sums per (window, event_type). Streaming analog of
    * q25_events_hourly.
    */
  def hourlyAgg(events: DataFrame, watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup by content fingerprint: drops any row whose
    * fingerprint was already seen within the watermark horizon. The
    * dedup state is keyed by the fingerprint hash and bounded by the
    * watermark (old keys are evicted), so state size is proportional
    * to the arrival rate × horizon, not the corpus — the only shape
    * that survives unbounded ingestion.
    */
  def dedupStream(
      events: DataFrame,
      fingerprintCol: org.apache.spark.sql.Column,
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("__fp", fingerprintCol)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stream-stream interval join: purchases matched to the clicks of
    * the same user in the preceding `horizon`. Both sides carry
    * watermarks so the join state is bounded — Spark can discard a
    * buffered click once no purchase within the interval can still
    * arrive. The batch analog is q53_range_join.
    *
    * `joinType = "leftOuter"` is the attribution-with-timeout form:
    * a click with no purchase inside its horizon is emitted ONCE,
    * with null purchase columns, when the watermark passes the end
    * of its join window — the streaming analog of q11's anti-join
    * side. State stays bounded either way.
    */
  def clickToPurchaseJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      horizon: String = "5 minutes",
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL '$horizon'"),
      joinType)
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
  }

  /** Partitioned streaming bronze sink: the continuous analog of the
    * batch bronze writer — append-mode parquet, Hive-partitioned by
    * the event-time day, with a checkpoint for exactly-once file
    * commits (the file sink's manifest log makes re-delivered
    * micro-batches idempotent across restarts).
    *
    * Scale notes: partitioning by event day keeps files append-only
    * per partition; the sink commits atomically per micro-batch, so a
    * 1000-executor restart resumes from the checkpoint without
    * duplicating or losing files.
    */
  def writeBronzeStream(
      events: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withColumn("anomesdia", date_format(col("ts"), "yyyyMMdd"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("anomesdia")
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming silver upsert: continuously apply a change stream onto
    * a partitioned parquet entity table (SCD-1, last-write-wins) — the
    * MERGE INTO sink a lake needs once past append-only bronze.
    *
    * Per micro-batch (foreachBatch): (1) collapse the batch to one row
    * per key, latest `orderCol` wins; (2) read back ONLY the base
    * partitions the batch touches; (3) [[graft.ops.Merge.upsert]] the
    * batch over them; (4) rewrite exactly those partitions via dynamic
    * partition overwrite. The base table is never fully rewritten —
    * per-batch IO is proportional to the touched partitions, which is
    * what holds when the base is 100 TB and a batch touches one day.
    *
    * Contract: `partitionCol` must be stable per key (derivable from
    * the key), otherwise a key that migrates partitions would leave
    * its old row behind in an untouched partition. Restart-safe:
    * replaying a committed batch is idempotent (same keys upserted to
    * the same values; dynamic overwrite replaces, never appends).
    */
  def upsertStream(
      updates: DataFrame,
      basePath: String,
      key: String,
      orderCol: String,
      partitionCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(key).orderBy(col(orderCol).desc)
        val deduped = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .persist() // read twice: touched-partition probe + merge
        try {
          val touched = deduped.select(partitionCol).distinct()
            .collect().map(_.get(0)).toSeq
          // NULL partition values land in Hive's default partition on
          // write but never match isin() — probe them null-safely so
          // such keys still merge instead of silently bypassing it
          val nonNull = touched.filter(_ != null)
          val probe =
            if (touched.contains(null))
              col(partitionCol).isin(nonNull: _*) || col(partitionCol).isNull
            else col(partitionCol).isin(nonNull: _*)
          val baseExists = new org.apache.hadoop.fs.Path(basePath)
            .getFileSystem(sp.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(basePath))
          val merged =
            if (!baseExists) deduped
            else Merge.upsert(
              sp.read.parquet(basePath).filter(probe),
              deduped, key)
          // per-write option, NOT sp.conf.set: mutating the shared
          // session conf would change overwrite semantics for
          // unrelated writes in the same session
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol).parquet(basePath)
        } finally deduped.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  final case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
  final case class SessionState(sessionStartMicros: Long, lastTsMicros: Long, nEvents: Long)
  final case class SessionOut(
      user_id: Long, session_start_micros: Long, session_end_micros: Long, n_events: Long)

  /** Stateful sessionization with a 30-minute inactivity gap via
    * flatMapGroupsWithState: a session row is emitted when a later
    * event closes it, or (with `timeoutFlush`) when the processing
    * timeout fires after the gap. Streaming analog of q27_sessionize.
    *
    * `timeoutFlush = false` disables the timer (sessions then close
    * only on a subsequent event) — used by tests, where a pending
    * processing-time timer would keep `processAllAvailable` spinning.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMinutes: Long = 30,
      timeoutFlush: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val timeoutConf =
      if (timeoutFlush) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.sessionStartMicros, s.lastTsMicros, s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            var current = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              current match {
                case Some(s) if e.tsMicros - s.lastTsMicros > gapMicros =>
                  closed += SessionOut(userId, s.sessionStartMicros, s.lastTsMicros, s.nEvents)
                  current = Some(SessionState(e.tsMicros, e.tsMicros, 1L))
                case Some(s) =>
                  current = Some(s.copy(lastTsMicros = e.tsMicros, nEvents = s.nEvents + 1))
                case None =>
                  current = Some(SessionState(e.tsMicros, e.tsMicros, 1L))
              }
            }
            current.foreach { s =>
              state.update(s)
              if (timeoutFlush) state.setTimeoutDuration(gapMinutes * 60L * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-static enrichment: join the unbounded stream against a
    * bounded dimension snapshot. The static side is broadcast and
    * RE-READ per micro-batch (a dimension update between batches is
    * picked up without restarting the query — eventual-consistency
    * dimension refresh for free); stateless, so no watermark and no
    * state store. The standard silver-layer enrichment shape.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String, dimCols: Seq[String]): DataFrame =
    stream.join(broadcast(dim.select((key +: dimCols).map(col): _*)), Seq(key), "left")

  /** Declarative session windows: the built-in `session_window`
    * aggregation — Spark merges overlapping per-event gap windows
    * itself, the watermark closes sessions, and Catalyst plans the
    * whole thing (partial merge before shuffle, AQE applies).
    * Semantically the sessions equal [[sessionize]]'s (same gap
    * rule); this form trades the custom state machine's flexibility
    * (funnels, caps, side outputs) for optimizer-visible planning —
    * prefer it when the per-session logic IS an aggregation.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  final case class FunnelEvent(user_id: Long, event_type: String, tsMicros: Long)
  /** stage 0 = nothing, 1 = viewed, 2 = clicked after view,
    * 3 = purchased after click; stageTsMicros = event time the stage
    * was entered.
    */
  final case class FunnelState(stage: Int, stageTsMicros: Long)
  final case class FunnelUpdate(user_id: Long, stage: Int, stageTsMicros: Long)

  /** Streaming strict-order funnel (the continuous form of
    * q116_event_funnel): a per-user monotone stage machine — view →
    * click-after-view → purchase-after-click — advanced by
    * `flatMapGroupsWithState`, emitting one row per stage transition.
    *
    * State per user is two fields (stage, entered-at), keyed by
    * user_id so it partitions across executors; a stage only advances
    * on an event strictly later than the current stage's timestamp,
    * so in-order delivery reproduces the batch funnel exactly and
    * duplicate/replayed events are idempotent (they cannot re-enter a
    * reached stage). Events inside one micro-batch are processed in
    * event-time order.
    */
  def funnelStages(events: Dataset[FunnelEvent]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Seq.newBuilder[FunnelUpdate]
          rows.toSeq.sortBy(_.tsMicros).foreach { e =>
            val next = (s.stage, e.event_type) match {
              case (0, "view")                                      => Some(1)
              case (1, "click") if e.tsMicros > s.stageTsMicros     => Some(2)
              case (2, "purchase") if e.tsMicros > s.stageTsMicros  => Some(3)
              case _                                                => None
            }
            next.foreach { n =>
              s = FunnelState(n, e.tsMicros)
              out += FunnelUpdate(userId, n, e.tsMicros)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  final case class HllRow(group: String, bucket: Int, rho: Int)
  final case class HllEstimate(group: String, estimate: Double, non_zero_registers: Int)

  /** Streaming approximate distinct count: a 256-byte portable-HLL
    * register array per group held in `mapGroupsWithState`, updated
    * bucket-wise-max each micro-batch, emitting the refreshed
    * estimate per group per batch (Update mode).
    *
    * Input rows are (group, bucket, rho) — derive them with
    * [[hllRows]] so the register derivation is the exact md5 pipeline
    * of the batch q81/q127 sketches. Because registers are
    * duplicate-insensitive and merge by max, the streaming state after
    * any prefix of batches equals the batch sketch over the union of
    * keys seen — `StreamingHllSpec` asserts bit-equality of the
    * estimates. State is 256 bytes/group, bounded forever; keys
    * partition across executors like any keyed state.
    */
  def approxDistinctStream(rows: Dataset[HllRow]): Dataset[HllEstimate] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[Array[Byte], HllEstimate](GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[HllRow], state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](graft.functions.PortableHll.M))
          it.foreach { r =>
            if (r.rho > regs(r.bucket)) regs(r.bucket) = r.rho.toByte
          }
          state.update(regs)
          HllEstimate(g, graft.functions.PortableHll.estimateFromRegisters(regs),
            regs.count(_ != 0))
      }
  }

  /** (group, bucket, rho) from a (group, key) frame via the shared
    * portable-HLL md5 expressions — identical derivation to q81.
    */
  def hllRows(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.select(col(groupCol).cast(StringType).as("group"),
        md5(col(keyCol).cast(StringType)).as("hx"))
      .select(col("group"),
        expr(graft.functions.PortableHll.BUCKET).cast(IntegerType).as("bucket"),
        expr(graft.functions.PortableHll.RHO).cast(IntegerType).as("rho"))

  final case class TypedValue(group: String, event_id: Long, cents: Long)
  final case class Anomaly(group: String, event_id: Long, z: Double, n_seen: Long)

  /** Streaming z-score anomaly detector: per-group running moments
    * (n, Σc, Σc²) as exact BIGINT state in `flatMapGroupsWithState`;
    * every arriving row is scored against the state AS OF THE PRIOR
    * BATCH (so a batch's own outliers cannot mask themselves by
    * inflating the variance they are scored with), then the batch is
    * folded into the moments. Rows with |z| >= threshold emit; nothing
    * emits until `warmup` rows have been absorbed — a mean/std over a
    * handful of points flags everything.
    *
    * State is three longs per group forever; groups partition across
    * executors like any keyed state. The integer moments make the
    * state algebraically mergeable and the emitted z deterministic
    * for a given batch sequence (int64 -> double is correctly
    * rounded; the fold order within a batch never enters the score,
    * which uses only the pre-batch moments).
    */
  def anomalyStream(
      rows: Dataset[TypedValue],
      zThreshold: Double = 3.0,
      warmup: Long = 30): Dataset[Anomaly] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[(Long, Long, Long), Anomaly](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[TypedValue], state: GroupState[(Long, Long, Long)]) =>
          val (n0, s0, ss0) = state.getOption.getOrElse((0L, 0L, 0L))
          val batch = it.toSeq
          val out =
            if (n0 < warmup) Seq.empty
            else {
              val mean = s0.toDouble / n0.toDouble
              val variance =
                (ss0.toDouble - s0.toDouble * s0.toDouble / n0.toDouble) /
                  (n0 - 1).toDouble
              val std = math.sqrt(variance)
              if (std == 0.0) Seq.empty
              else batch.flatMap { r =>
                val z = (r.cents.toDouble - mean) / std
                if (math.abs(z) >= zThreshold) Some(Anomaly(g, r.event_id, z, n0))
                else None
              }
            }
          // exact arithmetic: a |cents| past ~3.04e9 squares beyond
          // Long, and a long-lived stream can overflow the running
          // total — fail loudly instead of silently corrupting every
          // subsequent z-score. (Bound: ~2^63 of summed squares; at
          // |cents| <= 1e6 that is ~9e6 years of one-per-ms events.)
          // A bare ArithmeticException would fail the whole query with
          // no hint of where; rethrow with the group and value so the
          // poisoned key is identifiable from the driver log.
          def exact(acc: Long, r: TypedValue)(f: => Long): Long =
            try f catch {
              case e: ArithmeticException =>
                throw new ArithmeticException(
                  s"running-moment overflow in group '$g' at event ${r.event_id} " +
                    s"(cents=${r.cents}, acc=$acc): ${e.getMessage}")
            }
          state.update((
            n0 + batch.size,
            batch.foldLeft(s0)((acc, r) =>
              exact(acc, r)(Math.addExact(acc, r.cents))),
            batch.foldLeft(ss0)((acc, r) =>
              exact(acc, r)(Math.addExact(acc, Math.multiplyExact(r.cents, r.cents))))))
          out.iterator
      }
  }

  final case class HeavyHitter(shard: Int, token: String, est_count: Long, max_err: Long)

  /** Streaming heavy hitters via the space-saving sketch: at most
    * `capacity` tracked (token, count, err) entries per shard, held in
    * `flatMapGroupsWithState`. An untracked arrival evicts the
    * minimum-count entry (ties broken by token for determinism) and
    * inherits its count as the error bound — the classic guarantees:
    * est_count - max_err <= true <= est_count, and any token with
    * true frequency > N/capacity in the shard is tracked.
    *
    * Sharding: tokens route by a hash of the token, so each token's
    * entire stream meets one state partition — state is
    * O(shards x capacity) forever, and shards scale out across
    * executors exactly like any keyed state. Per-shard sketches are
    * independently correct; a reader unions them (heavy hitters of
    * the whole stream are heavy in their shard).
    *
    * Emits the full tracked table of every shard touched by the
    * micro-batch (Update mode), count-descending.
    */
  def heavyHittersStream(
      tokens: Dataset[String],
      capacity: Int,
      nShards: Int = 1): Dataset[HeavyHitter] = {
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(t => ((t.hashCode % nShards) + nShards) % nShards)
      .flatMapGroupsWithState[Map[String, (Long, Long)], HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, it: Iterator[String], state: GroupState[Map[String, (Long, Long)]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, (Long, Long)])
          it.foreach { t =>
            m.get(t) match {
              case Some((c, e)) => m = m.updated(t, (c + 1, e))
              case None if m.size < capacity => m = m.updated(t, (1L, 0L))
              case None =>
                val (vt, (vc, _)) = m.minBy { case (tok, (c, _)) => (c, tok) }
                m = (m - vt).updated(t, (vc + 1, vc))
            }
          }
          state.update(m)
          m.toSeq
            .sortBy { case (tok, (c, _)) => (-c, tok) }
            .map { case (tok, (c, e)) => HeavyHitter(shard, tok, c, e) }
            .iterator
      }
  }

  /** Point-in-time enrichment: every micro-batch of facts joins the
    * dimension's latest snapshot at-or-before each fact's time via
    * the NATIVE as-of operator (graft.plans.AsOfJoinExec) — the
    * feature-store rule that keeps future dimension state out of
    * training facts. The dimension is a static versioned table
    * (key, version time, attributes); `toleranceMicros` optionally
    * refuses stale versions. The join plans per batch with one
    * exchange + sort per side, so at scale each micro-batch is a
    * bounded co-partitioned merge.
    */
  def pointInTimeEnrich(
      facts: DataFrame,
      dim: DataFrame,
      factKey: String, dimKey: String,
      factTime: String, dimTime: String,
      toleranceMicros: Option[Long] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.AsOf.joinAsOf(batch, dim,
          Seq(factKey), Seq(dimKey), factTime, dimTime, toleranceMicros), id)
      }
      .start()

  /** Exactly-once streaming sink into a [[graft.sink.TxLogTable]]:
    * each micro-batch commits as one transactional append tagged
    * `(appId, batchId)`. Structured Streaming delivers batches
    * at-least-once across restarts; the log's epoch dedup turns that
    * into exactly-once TABLE contents — a replayed batch is a no-op,
    * which plain parquet `foreachBatch` appends cannot guarantee.
    * The commit itself is atomic, so a crash mid-batch leaves only
    * invisible orphan files, never a torn table.
    *
    * `autoCompactEvery = Some(n)` runs a small-file compaction after
    * every n-th committed version — the maintenance a micro-batch
    * sink otherwise needs a separate job for: without it, a long-
    * running stream leaves one small file per trigger, and at 100 TB
    * the table drowns in per-file open cost. The compaction commits
    * through the same optimistic log (readers and time travel are
    * unaffected); a conflict with a concurrent compactor just skips
    * this round.
    */
  def txLogSink(
      stream: DataFrame,
      tablePath: String,
      appId: String,
      checkpoint: String,
      autoCompactEvery: Option[Int] = None,
      compactSmallFileBytes: Long = 32L * 1024 * 1024,
      compactTargetFileBytes: Long = 128L * 1024 * 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val v = graft.sink.TxLogTable.append(batch, tablePath, Some((appId, batchId)))
        autoCompactEvery.foreach { n =>
          if (n > 0 && v % n == 0)
            try graft.sink.TxLogTable.compact(batch.sparkSession, tablePath,
              smallFileBytes = compactSmallFileBytes,
              targetFileBytes = compactTargetFileBytes)
            catch { case _: IllegalStateException => () } // lost to a concurrent compactor
        }
        ()
      }
      .start()

  /** What one member of the streaming dedup family computes from a
    * micro-batch collapsed to one row per id: its co-arrival pairs
    * (`self`), its pairs against the stored state (`stored`), and,
    * from the pinned drops, its state appends as (table, txn suffix,
    * frame) in append order.
    */
  private final case class DedupStep(self: DataFrame, stored: DataFrame,
      state: DataFrame => Seq[(String, String, DataFrame)])

  /** The micro-batch loop of the five streaming dedup ingests below:
    * the incremental probe-against-state shape (PAPERS.md, EDBT 2020)
    * run as a stream. Per micro-batch (`foreachBatch`):
    *  1. collapse the batch to one row per id, order-free, by `min`
    *     over `payloadCol`. At-least-once sources can deliver one row
    *     twice in a batch, and each copy would otherwise keep the
    *     other alive through the self-probe's `new_id > seen_id` and
    *     the left-anti, duplicating state rows;
    *  2. the member probes the batch against ITSELF, UNCAPPED, and the
    *     stored state, capped. A micro-batch is bounded by
    *     construction; a capped self-index would silently admit more
    *     than the cap of co-arriving copies that any sequential
    *     one-at-a-time ingest collapses (the hot bucket would drop
    *     from the self-index, and every copy would enter the state);
    *  3. the union of both pair sets is pinned and appended to
    *     `outTable`, THEN the member's state appends follow in its
    *     order. A doc dropped in batch N never enters the state, so
    *     batch N+1 cannot match it;
    *  4. every frame the loop or the member pinned is released, also
    *     when an append throws.
    * Every append is txn-tagged (`s"$appId-<suffix>"`, batchId), so a
    * replayed micro-batch no-ops on each table it already committed
    * to and the state stays exactly-once over at-least-once delivery:
    * a batch killed between its appends replays on restart, and only
    * the appends it missed land. The suffixes (`-out`, `-sig`,
    * `-hash`, `-idx`, `-reps`) are the epoch identities committed in
    * existing tables; renaming one makes a restarted query append its
    * last batch again.
    *
    * Co-arrival contract: the HIGHER id of every verified same-batch
    * pair drops, even if its lower partner also drops against the
    * stored state. That is the batch-parallel clique collapse,
    * deliberately order-free so the verdict is independent of
    * intra-batch arrival order (a strictly sequential one-doc-at-a-
    * time replay could keep such a doc; a deterministic stream cannot
    * depend on intra-batch order).
    *
    * Not oracle-suite queries, except once: a few drained micro-
    * batches cost ~8 s of stream/commit machinery regardless of data
    * size (measured — 1/7th of sf0.1 still 8.4 s vs 12.8 s full),
    * which says nothing about the plans. Each member's sequential
    * semantics are oracle-gated by its batch query and its
    * stream == sequential composition by its spec; q320 runs this loop
    * under the oracle through the cheapest member, [[exactDedupIngest]].
    */
  private def dedupIngest(stream: DataFrame, outTable: String,
      appId: String, checkpoint: String, idCol: String, payloadCol: String)(
      member: (DataFrame, DataFrame => DataFrame) => DedupStep): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def pin(df: DataFrame): DataFrame = { val p = Pinned.pin(df); pins += p; p }
        def append(df: DataFrame, table: String, suffix: String): Unit =
          TxLogTable.append(df, table, Some((s"$appId-$suffix", batchId)))
        try {
          val step = member(
            batch.groupBy(idCol).agg(min(col(payloadCol)).as(payloadCol)), pin)
          val drops = pin(step.stored.unionAll(step.self))
          append(drops, outTable, "out")
          for ((table, suffix, df) <- step.state(drops)) append(df, table, suffix)
        } finally pins.foreach(Pinned.release(_))
      }
      .start()

  /** `df` without the rows whose id is some drop's `new_id`. */
  private def survivors(df: DataFrame, drops: DataFrame, idCol: String): DataFrame =
    df.join(drops.select(col("new_id").as(idCol)), Seq(idCol), "left_anti")

  /** STREAMING LSH-dedup ingest — the continuous form of the
    * incremental MinHash-LSH dedup (`graft.ops.Dedup.lshDupIncremental`,
    * q316's loop run as a stream) on the `dedupIngest` loop. The batch
    * is signed and banded ONCE; the self-probe is a state-shaped index
    * over its own bands. The stored state is the per-doc signature
    * table plus the APPEND-ONLY SHARDED (band, sig) index, merged +
    * hot-capped over ONLY the buckets this batch touches
    * (`Dedup.lshIndexMergeProbe`), verified against STORED signatures.
    * State appends: the kept arrivals' signatures (`-sig`), then ONE
    * pre-aggregated index shard (`-idx`).
    *
    * Cost per batch: O(|batch|) signature/banding work, O(|batch| x
    * bands) broadcast-probe keys, the index-shard scan (narrow rows,
    * no shuffle of the state, no re-aggregation of unmatched
    * buckets — the merge groupBy touches probed buckets only), and
    * one bounded verify per candidate. No stage re-reads the seen
    * TEXT, and no stage re-aggregates the whole seen index (the
    * first cut of this op re-ran `lshIndex` over every stored band
    * row per batch — a full groupBy/collect_list of the seen corpus
    * each micro-batch); at lakehouse scale, partition the shard
    * table by `band` so even the scan prunes.
    * StreamingDedupIngestSpec pins stream-equals-sequential-batch
    * semantics, IncrementalLshSpec the plan-shape independence; the
    * sequential semantics are oracle-gated by q316.
    */
  def lshDedupIngest(
      stream: DataFrame,
      sigTable: String, idxTable: String, outTable: String,
      appId: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 8, rowsPerBand: Int = 2, minMatches: Int = 2,
      maxIdsPerSig: Int = 64): StreamingQuery =
    dedupIngest(stream, outTable, appId, checkpoint, idCol, textCol) { (b, pin) =>
      val s = b.sparkSession
      val bs = pin(Dedup.minhashSignatures(b, idCol,
        Dedup.shingles(col(textCol), 3), numHashes))
      val newBands = pin(Dedup.lshBandsFromSignatures(bs, idCol, numHashes, rowsPerBand))
      DedupStep(
        self = Dedup.lshDupIncrementalFromBands(newBands, bs, bs,
            Dedup.lshIndex(newBands, idCol, maxIdsPerSig = 0),
            idCol, numHashes, minMatches)
          .filter(col("new_id") > col("seen_id")),
        stored = Dedup.lshDupIncrementalFromBands(newBands, bs,
          TxLogTable.read(s, sigTable),
          Dedup.lshIndexMergeProbe(TxLogTable.read(s, idxTable), newBands, maxIdsPerSig),
          idCol, numHashes, minMatches),
        state = drops => {
          val kept = pin(survivors(bs, drops, idCol))
          // shard write: lshIndexShard, NOT lshIndex — over-cap buckets
          // are truncated to cap+1 (a tombstone the merge-probe's size
          // filter still sees) instead of filtered, so a bucket that
          // goes hot within ONE commit drops at probe time exactly as a
          // single write-time-capped index would drop it
          Seq((sigTable, "sig", kept),
            (idxTable, "idx", Dedup.lshIndexShard(
              Dedup.lshBandsFromSignatures(kept, idCol, numHashes, rowsPerBand),
              idCol, maxIdsPerSig)))
        })
    }

  /** STREAMING perceptual-hash dedup ingest — the MULTIMODAL member
    * of the streaming family (q317's loop run as a stream), composing
    * `Dedup.hammingDupIncremental` the way [[lshDedupIngest]] composes
    * `lshDupIncremental`. The stream carries (idCol, hashCol) rows —
    * the per-media 60-bit perceptual hash, computed upstream in the
    * decode/feature map stage (`ahash60` here; a real image pipeline
    * swaps the hash function, not this state machinery). The batch is
    * banded ONCE. The stored state is the hash table plus the
    * APPEND-ONLY SHARDED (band, sig) index, merged + hot-capped over
    * only the touched buckets (`Dedup.lshIndexMergeProbe`), verifying
    * `bit_count(xor) <= maxHamming` against STORED hashes, payloads
    * never re-read. State appends: the kept arrivals' hashes
    * (`-hash`), then ONE index shard (`-idx`, `Dedup.lshIndexShard`'s
    * cap+1 tombstone). Pigeonhole recall is exact per batch
    * (maxHamming < bands enforced by the op); the index cap is the
    * only recall exception, identical to a single write-time-capped
    * index by the shard tombstone argument. The sequential semantics
    * are oracle-gated by q317 and spec-gated by
    * StreamingPhashIngestSpec (stream == sequential batch
    * composition, dropped ids in no shard, over-cap co-arrival
    * collapse).
    */
  def phashDedupIngest(
      stream: DataFrame,
      hashTable: String, idxTable: String, outTable: String,
      appId: String, checkpoint: String,
      idCol: String = "doc_id", hashCol: String = "ah",
      bits: Int = 15, bands: Int = 4, maxHamming: Int = 3,
      maxIdsPerSig: Int = 64): StreamingQuery =
    dedupIngest(stream, outTable, appId, checkpoint, idCol, hashCol) { (b, pin) =>
      val bh = pin(b)
      val newBands = pin(Dedup.hammingBands(bh, idCol, hashCol, bits, bands))
      DedupStep(
        self = Dedup.hammingDupIncrementalFromBands(newBands, bh, bh,
            Dedup.lshIndex(newBands, idCol, maxIdsPerSig = 0),
            idCol, hashCol, bands, maxHamming)
          .filter(col("new_id") > col("seen_id")),
        stored = Dedup.hammingDupIncrementalFromBands(newBands, bh,
          TxLogTable.read(b.sparkSession, hashTable),
          Dedup.lshIndexMergeProbe(
            TxLogTable.read(b.sparkSession, idxTable), newBands, maxIdsPerSig),
          idCol, hashCol, bands, maxHamming),
        state = drops => {
          val kept = pin(survivors(bh, drops, idCol))
          Seq((hashTable, "hash", kept),
            (idxTable, "idx", Dedup.lshIndexShard(
              Dedup.hammingBands(kept, idCol, hashCol, bits, bands),
              idCol, maxIdsPerSig)))
        })
    }

  /** STREAMING winnowing-fingerprint dedup ingest — the MOSS member
    * of the streaming family (q318's loop run as a stream). The
    * stream carries (idCol, textCol) rows. The batch is fingerprinted
    * ONCE (`Dedup.winnowFingerprints` — gram hash + the one-window-
    * pass Schleimer-Wilkerson-Aiken selection, O(batch) work), then
    * probes the stored state with ONE hash join — the APPEND-ONLY
    * SHARDED fingerprint → ids index, merged + hot-capped over only
    * the touched buckets (`Dedup.lshIndexMergeProbe`). Fingerprint
    * equality IS the verification (a shared fingerprint is a shared
    * >= w-gram run by construction — `Dedup.fingerprintDupIncremental`),
    * so unlike the other near-dup members there is NO per-doc
    * signature/hash state table and no verify join: the state is the
    * index alone (`-idx`, one `Dedup.lshIndexShard` of the kept
    * arrivals' fingerprints per batch), and the seen TEXT is never
    * re-read. A doc too short to fill one gram window
    * (< w + gramTokens - 1 tokens) emits no fingerprints: it is
    * always kept and never matched — the MOSS guarantee has no unit
    * below one window. The sequential semantics are oracle-gated by
    * q318 and spec-gated by StreamingWinnowIngestSpec (stream ==
    * sequential batch composition, dropped ids in no shard, over-cap
    * co-arrival collapse).
    */
  def winnowDedupIngest(
      stream: DataFrame,
      idxTable: String, outTable: String,
      appId: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = 4, gramTokens: Int = 3, minShared: Int = 2,
      maxIdsPerSig: Int = 64): StreamingQuery =
    dedupIngest(stream, outTable, appId, checkpoint, idCol, textCol) { (b, pin) =>
      val newFps = pin(Dedup.winnowFingerprints(b, idCol, textCol, w, gramTokens))
      DedupStep(
        self = Dedup.fingerprintDupIncremental(newFps,
            Dedup.lshIndex(newFps, idCol, maxIdsPerSig = 0), idCol, minShared)
          .filter(col("new_id") > col("seen_id")),
        stored = Dedup.fingerprintDupIncremental(newFps,
          Dedup.lshIndexMergeProbe(
            TxLogTable.read(b.sparkSession, idxTable), newFps, maxIdsPerSig),
          idCol, minShared),
        state = drops => Seq((idxTable, "idx",
          Dedup.lshIndexShard(survivors(newFps, drops, idCol), idCol, maxIdsPerSig))))
    }

  /** STREAMING exact-dedup ingest — the EXACT member of the
    * streaming family: content-hash equality, the first stage every
    * production dedup cascade runs before any banding. The stream
    * carries (idCol, textCol) rows. State is the seen (content md5 →
    * canonical id) table (`-hash`) — one row per distinct KEPT
    * content, so replicas never accumulate in state. The batch is
    * hashed once; CO-ARRIVING exact copies collapse to the smallest
    * id per hash (min(id), not first-arrival), and the survivors probe
    * the stored hash table with ONE broadcast-able equi-join on the
    * 16-byte hash — seen text never re-read. Cost per batch:
    * O(|batch|) hash + one hash-key join against state; at lakehouse
    * scale partition the hash table by hash prefix so the probe
    * prunes. Spec-gated by StreamingExactIngestSpec (stream ==
    * sequential batch composition, co-arrival min-id collapse,
    * dropped ids never in state, replay idempotence); the batch-form
    * semantics are oracle-gated by q33/q123's exact-dedup queries, and
    * q320 runs this ingest itself under the oracle.
    */
  def exactDedupIngest(
      stream: DataFrame,
      hashTable: String, outTable: String,
      appId: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    dedupIngest(stream, outTable, appId, checkpoint, idCol, textCol) { (b, pin) =>
      val bh = pin(b.select(col(idCol), md5(col(textCol)).as("__h")))
      val canon = bh.groupBy("__h").agg(min(col(idCol)).as("__keep"))
      val seen = TxLogTable.read(b.sparkSession, hashTable)
        .select(col("__h"), col(idCol).as("__canon"))
      DedupStep(
        self = bh.join(canon, "__h")
          .filter(col(idCol) =!= col("__keep"))
          .select(col(idCol).as("new_id"), col("__keep").as("seen_id")),
        stored = canon.join(seen, "__h")
          .filter(col("__keep") =!= col("__canon"))
          .select(col("__keep").as("new_id"), col("__canon").as("seen_id")),
        state = drops => Seq((hashTable, "hash", survivors(bh, drops, idCol))))
    }

  /** STREAMING SemDeDup ingest — the SEMANTIC (embedding-space)
    * member of the streaming family (q315's incremental loop run as a
    * stream). The stream carries (idCol, vecCol) rows; `centroids` is
    * the FROZEN coarse quantizer — constant-size, retrained offline,
    * never per batch (the same deployment contract as q319's frozen
    * codebook). The ACID state (`-reps`) is O(k) — ONE row per
    * non-empty cell (the [[graft.ops.Dedup.cellRepresentatives]]
    * shape) — and never grows with the corpus. The batch is assigned
    * to cells ONCE (broadcast argmin, with distances — the election
    * needs them). The stored probe drops arrivals within `tau` cosine
    * of their cell's STORED representative
    * (`Dedup.semanticDupIncrementalFromAssignment` — O(batch)
    * cosines, seen vectors never re-read). The self-probe: cells with
    * NO stored representative elect one from the batch's kept
    * members — nearest the centroid, ties to the smallest id, the
    * exact election `cellRepresentatives`/the pruned regime make, so
    * a permuted batch elects the same rep — and the remaining
    * co-arrivals in such cells collapse against it. The state append
    * is the newly-elected representatives. Recall matches the pruned
    * regime's documented contract (a dup far from its cell's rep is
    * missed — tighten with more cells); batch members who survive
    * the rep check are admitted and NOT stored (the pruned state is
    * the rep alone — that is what makes the state O(k) and the probe
    * O(batch) against a 10^11-row seen corpus). The sequential
    * semantics are oracle-gated by q315 and spec-gated by
    * StreamingSemanticIngestSpec (stream == sequential batch
    * composition, order-free election, replay idempotence).
    */
  def semanticDedupIngest(
      stream: DataFrame,
      centroids: DataFrame,
      repsTable: String, outTable: String,
      appId: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.85): StreamingQuery =
    dedupIngest(stream, outTable, appId, checkpoint, idCol, vecCol) { (collapsed, pin) =>
      val b = pin(collapsed)
      val asg = pin(Dedup.assignCellsWithDist(b, centroids, idCol, vecCol))
      val reps = TxLogTable.read(b.sparkSession, repsTable)
      val crossDrops = Dedup.semanticDupIncrementalFromAssignment(
        b, asg.select(col(idCol), col("cell")), reps, idCol, vecCol, tau)
      val keptAsg = asg.join(
        crossDrops.select(col("drop_id").as(idCol)), Seq(idCol), "left_anti")
      val newCells = keptAsg.join(
        broadcast(reps.select("cell")), Seq("cell"), "left_anti")
      val newReps = pin(newCells.groupBy("cell")
        .agg(min(struct(col("d2"), col(idCol))).as("__r"))
        .select(col("cell"), col(s"__r.$idCol").as("rep"))
        .join(b.select(col(idCol).as("rep"), col(vecCol).as("rep_vec")), "rep")
        .select("cell", "rep", "rep_vec"))
      // the rep itself is excluded by the op's id =!= rep guard
      DedupStep(
        self = Dedup.semanticDupIncrementalFromAssignment(
          b, newCells.select(col(idCol), col("cell")), newReps, idCol, vecCol, tau),
        stored = crossDrops,
        state = _ => Seq((repsTable, "reps", newReps)))
    }
}
