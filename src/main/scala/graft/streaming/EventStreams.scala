package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The reference's declared-but-never-built streaming surface
  * (ref: documentation/Project_Report.pdf p.2 — order/shipping JSON event
  * streams for "real-time operational dashboards and alerts"; SURVEY.md
  * §2.9), built on Structured Streaming.
  *
  * The transform is shared with the batch path (same DataFrame code runs
  * under read or readStream) — the Spark way to keep batch/stream parity.
  * Watermarking bounds state: at scale, state store size is
  * O(open windows × key cardinality), independent of stream length.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window aggregation — works on both batch and streaming
    * inputs (stream requires the watermark for append-mode output). */
  def windowedCounts(events: DataFrame, watermark: Boolean): DataFrame = {
    val src = if (watermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"), col("approx_users"))
  }

  /** Streaming read of the events table from any configured source
    * ([[StreamSources.FileSource]] in tests, [[StreamSources.KafkaSource]]
    * in production — the transform downstream is identical). */
  def readEventStream(spark: SparkSession,
      source: StreamSources.StreamSource): DataFrame =
    StreamSources.read(spark, eventSchema, source)

  /** Parquet-dir convenience used by tests/backfills. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    readEventStream(spark, StreamSources.FileSource(dir))

  /** JSON-lines event stream — the reference's declared wire format
    * ("simulated high-velocity stream … JSON events", report p.2).
    * Explicit schema: a streaming source can't infer one, and at scale
    * inference would be a full extra pass anyway. JSONL (not multiLine)
    * keeps files splittable. */
  def readJsonEventStream(spark: SparkSession, dir: String): DataFrame =
    readEventStream(spark, StreamSources.FileSource(dir, format = "json"))

  /** Stream events into a SNAPSHOT-MANAGED layout ([[graft.sources.Snapshot]])
    * — the STREAMING path into the same `event_date=…` pruning contract
    * `Tables.eventsByDate` publishes in batch: each micro-batch commits
    * through the manifest ([[Snapshot.append]]), so ingest and
    * maintenance speak ONE protocol. `Trigger.AvailableNow` drains the
    * source backlog and stops — the backfill / catch-up shape; a
    * production tail run drops the trigger and keeps the same plan.
    *
    *  - [[graft.sources.Snapshot.compact]] /
    *    [[graft.sources.Snapshot.deleteWhere]] apply between batches:
    *    everyone commits manifests, so no writer owns the directory.
    *    An append racing a maintenance commit loses the manifest rename,
    *    fails loudly, and the batch replays — never a silent clobber.
    *  - readers get snapshot isolation DURING ingest, and
    *    [[graft.sources.Snapshot.changes]] hands downstream consumers
    *    the exact batch delta.
    *
    * Exactly-once across replays: the batch's (run, batch) identity rides
    * in the manifest header. A replayed batch finds its id already
    * committed under this run and no-ops; a FOREIGN run id (lost or
    * recreated checkpoint against a surviving layout — ADVICE r14's
    * failure class) fails loudly instead of double-ingesting from source
    * start. */
  def ingestSnapshot(spark: SparkSession, source: StreamSources.StreamSource,
      outDir: String, checkpointDir: String,
      statsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val token = runToken(spark, checkpointDir)
    readEventStream(spark, source)
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatchToSnapshot(batch, outDir, id, Some(token), statsCols)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** One snapshot-ingest step — also the replay unit. Deterministic in
    * (batch contents, batchId); public so the spec can drive replay and
    * broken-pairing scenarios directly. The guard is ONE read of the
    * CURRENT manifest's header — sound at any history depth because the
    * (run, batch) keys are inherited transaction state: every later
    * commit (compaction, delete, replace) carries them forward and
    * snapshot expiry keeps the current manifest, so "what did this
    * layout last ingest?" never requires the append commit itself to
    * survive:
    *  - same run, batch ≤ last committed → replay, no-op;
    *  - different run → the checkpoint this stream runs from is not the
    *    one the layout was ingested against; its batch ids are
    *    meaningless here and its source offsets restart from the
    *    beginning — appending would double every row, so fail loudly;
    *  - no ingest history (fresh or batch-bootstrapped layout) → this
    *    run adopts it. */
  def appendBatchToSnapshot(batch: DataFrame, outDir: String, batchId: Long,
      runId: Option[String] = None, statsCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Snapshot
    val isReplay = runId.exists { token =>
      Snapshot.currentMeta(spark, outDir).exists { m =>
        m.get("run") match {
          case Some(bound) if bound != token =>
            throw new IllegalStateException(
              s"snapshot layout $outDir was ingested by run $bound, but " +
              s"this stream's checkpoint carries run $token — the " +
              "checkpoint/layout pairing is broken (lost or recreated " +
              "checkpoint?); refusing to re-ingest from source start")
          case Some(_) => m.get("batch").exists(_.toLong >= batchId)
          case None => false
        }
      }
    }
    if (!isReplay) {
      // statsCols takes effect on the BOOTSTRAP batch only (it declares
      // the layout's stats columns); once the manifest carries a
      // declaration, a caller-supplied list must MATCH it — silently
      // overriding the inherited key would re-key how every existing
      // entry's positional bounds are read (a [0,1000] user range
      // compared against epoch-second ts bounds skips every file)
      val declared = Snapshot.currentMeta(spark, outDir)
        .flatMap(_.get("stats"))
      declared.foreach { d =>
        require(statsCols.isEmpty || statsCols.mkString(",") == d,
          s"layout $outDir already declares stats columns [$d]; this " +
          s"ingest asked for [${statsCols.mkString(",")}] — a layout's " +
          "stats declaration is fixed at bootstrap")
      }
      val statsMeta =
        if (statsCols.isEmpty || declared.isDefined)
          Map.empty[String, String]
        else Map("stats" -> statsCols.mkString(","))
      Snapshot.append(spark, outDir, "event_date", batch,
        runId.map("run" -> _).toMap + ("batch" -> batchId.toString) ++
          statsMeta): Unit
    }
  }

  /** STREAMING CDC APPLY: run an upsert stream into a snapshot layout —
    * each micro-batch of latest-per-key images lands through
    * [[upsertBatchToSnapshot]] (the equality-delete tier: new images +
    * key sidecar, ONE commit, zero table reads — O(batch) per
    * micro-batch regardless of table size, which is what makes
    * continuous MERGE affordable at 100 TB), then
    * [[graft.sources.Snapshot.maintainEqDeletes]] keeps the sidecar
    * debt self-limiting. The (run, batch) replay guard is
    * [[appendBatchToSnapshot]]'s, shared. */
  def ingestUpserts(spark: SparkSession, source: StreamSources.StreamSource,
      outDir: String, checkpointDir: String, keyCols: Seq[String],
      maxSidecars: Long = 8L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val token = runToken(spark, checkpointDir)
    readEventStream(spark, source)
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatchToSnapshot(batch, outDir, id, keyCols, Some(token))
        graft.sources.Snapshot.maintainEqDeletes(batch.sparkSession, outDir,
          maxSidecars): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** One streaming-upsert step — the replay unit, public for the spec.
    * Replay/pairing rules are [[appendBatchToSnapshot]]'s verbatim:
    * same run + batch ≤ last committed → no-op; different run → loud
    * refusal; no history → adopt. A batch with duplicate keys keeps
    * ALL its rows (upsertByKeys' contract) — a CDC source emits
    * latest-per-key micro-batches, so dedup upstream if needed. */
  def upsertBatchToSnapshot(batch: DataFrame, outDir: String, batchId: Long,
      keyCols: Seq[String], runId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Snapshot
    val isReplay = runId.exists { token =>
      Snapshot.currentMeta(spark, outDir).exists { m =>
        m.get("run") match {
          case Some(bound) if bound != token =>
            throw new IllegalStateException(
              s"snapshot layout $outDir was ingested by run $bound, but " +
              s"this stream's checkpoint carries run $token — the " +
              "checkpoint/layout pairing is broken (lost or recreated " +
              "checkpoint?); refusing to re-ingest from source start")
          case Some(_) => m.get("batch").exists(_.toLong >= batchId)
          case None => false
        }
      }
    }
    if (!isReplay)
      Snapshot.upsertByKeys(spark, outDir, "event_date", batch, keyCols,
        runId.map("run" -> _).toMap + ("batch" -> batchId.toString)): Unit
  }

  /** Streaming maintenance of the MatView rollup on a SNAPSHOT-MANAGED
    * store: each micro-batch's algebraic partials merge into ONLY their
    * touched date partitions via
    * [[graft.operators.MatView.maintainSnapshot]], with the (run,
    * batch) ledger entry committed IN the same manifest rename as the
    * data, so dashboards read rollup-grain rows continuously instead of
    * re-scanning the event history per refresh (the batch q43 contract,
    * kept current by the stream).
    *
    *  - O(touched dates) per batch, never a whole-rollup rewrite (the
    *    difference at 100 TB: a daily batch touches a handful of
    *    partitions out of years);
    *  - replay detection and the run-pairing guard come from the
    *    manifest header itself: a replayed batch finds its id committed
    *    and no-ops, it can never double-merge;
    *  - readers take [[graft.sources.Snapshot.readSnapshot]] at any
    *    instant (isolation during the merge, time travel until expiry).
    *
    * An empty store self-bootstraps off the first non-empty batch (the
    * ledger entry rides the init commit); equally valid is a batch
    * bootstrap (a `partitionBy("event_date")` write of
    * [[graft.operators.MatView.eventPartials]] + `Snapshot.init`) before
    * the stream starts — the catch-up deployment shape. */
  def maintainRollupSnapshot(events: DataFrame, rollupDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val token = runToken(events.sparkSession, checkpointDir)
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.MatView.maintainSnapshot(
          batch.sparkSession, rollupDir, batch,
          deltaId = id, runId = Some(token))
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .start()
  }

  /** The run identity that pairs a checkpoint with its store: a UUID
    * created ONCE inside the checkpoint dir, so it lives and dies with
    * the batch-id sequence. Rationale: batch ids restart at 0 when a
    * checkpoint is lost or recreated; against a SURVIVING store every
    * replayed batch would find its id already committed and no-op —
    * new events silently dropped forever. With the token in every
    * commit's manifest header, that scenario is a token mismatch and
    * the batch throws instead ([[appendBatchToSnapshot]],
    * [[graft.operators.MatView.maintainSnapshot]]). */
  def runToken(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_run_id")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      fs.mkdirs(p.getParent)
      // create-exclusive: two racing starts both end up READING one token
      try {
        val out = fs.create(p, false)
        try out.write(java.util.UUID.randomUUID().toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } catch { case _: java.io.IOException => /* concurrent winner */ }
    }
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
  }

  /** Stream-static join: enrich a value-threshold alert stream with a
    * static dimension — the report's "late-shipment alert" shape. The
    * static side is re-planned per micro-batch and broadcast. */
  def highValueAlerts(events: DataFrame, users: DataFrame): DataFrame =
    events.where(col("value") > 100.0)
      .join(broadcast(users), Seq("user_id"), "left")

  /** Stream-stream interval join: correlate two event substreams of the
    * same user within a time window (e.g. purchases following clicks —
    * the attribution shape). Both sides carry watermarks and the join
    * condition bounds b_ts to [a_ts, a_ts + within], so the state store
    * holds only rows inside watermark + interval — O(rate × horizon),
    * independent of stream length. Inner-join matches emit as soon as
    * both rows arrive; the watermark exists to EVICT state, not to gate
    * emission. The same code runs on batch frames (withWatermark is a
    * no-op there), giving batch/stream parity for free. */
  def correlatedEvents(events: DataFrame, typeA: String, typeB: String,
      within: String, delay: String = "2 hours"): DataFrame = {
    val a = events.where(col("event_type") === typeA)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", delay)
    val b = events.where(col("event_type") === typeB)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", delay)
    a.join(b,
      col("a_user") === col("b_user") &&
      col("b_ts") >= col("a_ts") &&
      col("b_ts") <= col("a_ts") + expr(s"INTERVAL $within"))
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"),
        col("a_ts"), col("b_ts"))
  }

  /** Streaming exact deduplication: dropDuplicatesWithinWatermark keeps
    * dedup state only for the watermark horizon — O(keys within the
    * window), not O(stream history) — the right tool for at-least-once
    * sources that may redeliver within a bounded delay. Batch callers
    * get plain dropDuplicates (same column semantics). */
  def dedupEvents(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark match {
      case Some(delay) =>
        events.withWatermark("ts", delay)
          .dropDuplicatesWithinWatermark("event_id")
      case None => events.dropDuplicates("event_id")
    }

  // --------------------------------------------------------------------
  // Sessionization — gap-based user sessions, two implementations:
  // the built-in session_window (preferred: Catalyst-planned, merges
  // overlapping windows in the state store, batch/stream parity for
  // free) and a flatMapGroupsWithState version (the custom-state escape
  // hatch for semantics session_window can't express, e.g. value-capped
  // or event-type-terminated sessions).
  // --------------------------------------------------------------------

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserSession(
      user_id: Long, session_start: java.sql.Timestamp,
      last_event: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Open-session accumulator held in the state store between
    * micro-batches; bounded per key regardless of stream length. */
  final case class OpenSession(start: Long, last: Long, n: Long, value: Double)

  /** Built-in gap sessionization: identical code path for batch and
    * streaming (streaming additionally needs a watermark ≥ gap). */
  def sessionWindows(events: DataFrame, gap: String): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Funnel-progression state: highest stage reached (1-based) and the
    * event time that reached it. Fixed-size per user — the state store
    * holds two numbers per key no matter how many events arrive. */
  final case class FunnelProgress(stage: Int, tsMs: Long)

  /** One emitted row per stage ADVANCE (a user moving from stage n-1 to
    * n) — the live view of q34's batch funnel. */
  final case class StageAdvance(
      user_id: Long, stage: Int, event_type: String, ts: java.sql.Timestamp)

  /** Stateful streaming funnel via flatMapGroupsWithState: advances a
    * user's stage when the next stage's event type arrives strictly
    * after the time the previous stage was reached — exactly
    * [[graft.operators.Analytics.funnel]]'s strict ordering, evaluated
    * incrementally (first qualifying event in time order ≡ the batch
    * min() — StreamingSpec asserts the parity on the full feed).
    *
    * Scale/state: O(users) state, two fields per user, regardless of
    * stream length — under EventTimeTimeout a user idle past `ttlMs`
    * is EVICTED once the watermark passes (an abandoned funnel should
    * not hold state forever; the timeout branch just drops the key).
    * Eviction also applies at ARRIVAL time: if a key's data turns up
    * while its state is already TTL-expired but the timeout callback
    * has not fired yet, the stale state is ignored and the events start
    * a fresh funnel — the expired funnel must neither advance nor
    * swallow the re-entry.
    * Streaming caveat (same as [[sessionizeStateful]]): per micro-batch
    * the group's events sort locally, but an event arriving AFTER a
    * later-timestamped event already advanced the stage cannot
    * retro-advance — exact parity needs per-user event-time order
    * across batches, the usual kafka-key = user_id deployment. */
  def funnelStateful(
      events: Dataset[Event], stages: Seq[String],
      timeoutConf: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      ttlMs: Long = 24L * 3600 * 1000): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, StageAdvance](
        OutputMode.Append, timeoutConf) {
        (uid: Long, it: Iterator[Event], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            // Arrival-time eviction: a state whose TTL the watermark has
            // already passed is a zombie the timeout callback simply has
            // not fired for yet (data for the key arrived first, or
            // no-data batches are off). Honoring it would let an
            // abandoned funnel advance hours later AND swallow the event
            // that should start a fresh one — so treat it as evicted and
            // process this batch from a clean slate. The stale entry is
            // either overwritten below (fresh advance) or removed by the
            // pending timeout.
            var st = state.getOption
              .filter(p => timeoutConf != GroupStateTimeout.EventTimeTimeout ||
                p.tsMs + ttlMs > state.getCurrentWatermarkMs())
              .getOrElse(FunnelProgress(0, Long.MinValue))
            val out = Seq.newBuilder[StageAdvance]
            evs.foreach { e =>
              if (st.stage < stages.length &&
                  e.event_type == stages(st.stage) &&
                  (st.stage == 0 || e.ts.getTime > st.tsMs)) {
                st = FunnelProgress(st.stage + 1, e.ts.getTime)
                out += StageAdvance(uid, st.stage, e.event_type, e.ts)
              }
            }
            if (st.stage > 0) {
              state.update(st)
              // Defense-in-depth clamp: with arrival-time eviction above
              // and Spark's own late-input filtering under
              // EventTimeTimeout (StreamingSpec pins both), st.tsMs +
              // ttlMs normally exceeds the watermark — but a ttl of 0
              // (or a future semantics change in late-row handling)
              // would re-arm at/below it and Spark kills the query, so
              // clamp to strictly above.
              if (timeoutConf == GroupStateTimeout.EventTimeTimeout)
                state.setTimeoutTimestamp(
                  math.max(st.tsMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Custom-state gap sessionization via flatMapGroupsWithState.
    *
    * Emission contract: CLOSED sessions only — the tail session of each
    * user stays in the state store (size O(users), bounded) until a
    * later event closes it or, under streaming with EventTimeTimeout,
    * the watermark passes start+gap (the hasTimedOut branch). In batch
    * (NoTimeout) final states are discarded, so each user's last session
    * is intentionally not emitted — asserted against sessionWindows in
    * the spec.
    *
    * Scale: one shuffle on user_id; per-group work is linear in the
    * micro-batch's events (sorted per group — bounded by batch size,
    * not stream history). */
  def sessionizeStateful(
      events: Dataset[Event], gapMs: Long,
      timeoutConf: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserSession] = {
    import events.sparkSession.implicits._

    def close(uid: Long, s: OpenSession): UserSession =
      UserSession(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.n, s.value)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append, timeoutConf) {
        (uid: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = close(uid, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val evs = it.toArray.sortBy(_.ts.getTime)
            val out = Seq.newBuilder[UserSession]
            var open = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              open = open match {
                // inclusive <=: session_window merges sessions whose
                // ranges touch (next start == previous end = last+gap
                // still merges) — verified empirically by the fuzz spec
                // on a timestamp grid that produces exact-gap pairs.
                case Some(s) if t - s.last <= gapMs =>
                  Some(OpenSession(s.start, math.max(s.last, t), s.n + 1, s.value + e.value))
                case Some(s) =>
                  out += close(uid, s)
                  Some(OpenSession(t, t, 1L, e.value))
                case None =>
                  Some(OpenSession(t, t, 1L, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Same late-row clamp as funnelStateful: a timeout at or
              // below the current watermark is an error in Spark.
              if (timeoutConf == GroupStateTimeout.EventTimeTimeout)
                state.setTimeoutTimestamp(
                  math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}
