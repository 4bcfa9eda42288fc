package graft

import java.nio.file.Files

import graft.sources.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The declared-but-never-built streaming surface (SURVEY §2.9), proven
  * end-to-end: the SAME windowedCounts transform runs in batch and under
  * Structured Streaming, and both produce identical aggregates once the
  * stream drains — the batch/stream parity Structured Streaming promises. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** events re-encoded to micros timestamps in a temp dir (the raw table
    * is TIMESTAMP(NANOS), which the file stream source schema can't
    * request directly). */
  private lazy val stagedDir: String = {
    val tmp = Files.createTempDirectory("graft-events").toFile
    tmp.deleteOnExit()
    val dir = tmp.getAbsolutePath
    Tables.load(spark, SharedSpark.sf0001, "events")
      .repartition(3) // several files → several micro-batches
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowedCounts: streaming result equals the batch result") {
    val batch = EventStreams.windowedCounts(
      spark.read.parquet(stagedDir), watermark = false)

    val stream = EventStreams.windowedCounts(
      EventStreams.readEventStream(spark, stagedDir), watermark = true)
    val q = stream.writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val got = spark.table("win_counts")
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val want = batch
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("JSON event stream produces the same windowed aggregates as parquet") {
    val jsonDir = Files.createTempDirectory("graft-events-json").toFile
    jsonDir.deleteOnExit()
    spark.read.parquet(stagedDir)
      .repartition(2)
      .write.mode("overwrite").json(jsonDir.getAbsolutePath)
    val stream = EventStreams.windowedCounts(
      EventStreams.readJsonEventStream(spark, jsonDir.getAbsolutePath),
      watermark = true)
    val q = stream.writeStream.format("memory")
      .queryName("win_counts_json").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("win_counts_json")
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val want = EventStreams.windowedCounts(
        spark.read.parquet(stagedDir), watermark = false)
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("stream-stream interval join equals the batch interval join") {
    // The watermark delay must cover the source's real out-of-orderness:
    // the staged replay delivers month-spanning files in arbitrary order,
    // so a short delay would (correctly!) discard late rows. Production
    // sizes this to the source's disorder bound; here that bound is the
    // whole replayed range.
    val stream = EventStreams.correlatedEvents(
      EventStreams.readEventStream(spark, stagedDir),
      "click", "purchase", "1 hour", delay = "45 days")
    val q = stream.writeStream.format("memory")
      .queryName("correlated").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("correlated")
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = EventStreams.correlatedEvents(
        spark.read.parquet(stagedDir), "click", "purchase", "1 hour")
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("snapshot ingest: batches commit through the manifest; replay no-ops; foreign run fails; maintenance needs no freeze") {
    import graft.sources.Snapshot
    val outDir = Files.createTempDirectory("graft-snapingest-out")
      .toFile.getAbsolutePath + "/layout"
    val ckpt = Files.createTempDirectory("graft-snapingest-ckpt")
      .toFile.getAbsolutePath
    val q = EventStreams.ingestSnapshot(spark,
      graft.streaming.StreamSources.FileSource(stagedDir), outDir, ckpt,
      statsCols = Seq("ts"))
    q.awaitTermination()
    val batch = spark.read.parquet(stagedDir)
    val n = batch.count()
    // every micro-batch became one append commit, batch identity in order
    val vs = Snapshot.versions(spark, outDir)
    assert(vs.size >= 2, s"expected several micro-batch commits, got $vs")
    assert(vs.forall(v =>
      Snapshot.metaOf(spark, outDir, v).get("op").contains("append")))
    val batchIds = vs.map(v => Snapshot.metaOf(spark, outDir, v)("batch").toLong)
    assert(batchIds == batchIds.sorted)
    assert(Snapshot.readSnapshot(spark, outDir).count() == n)
    // the bootstrap batch DECLARED the stats column; every streamed
    // batch's files carry ts bounds in the manifest — a streamed layout
    // skips files exactly like a batch-built one (q60's tier)
    assert(Snapshot.statsColumns(spark, outDir).headOption.contains("ts"))
    assert(Snapshot.entriesOf(spark, outDir, vs.last)
      .forall(_._2.isDefined), "streamed files missing manifest bounds")
    val staged = batch.withColumn("event_date", to_date(col("ts")))
    val token = EventStreams.runToken(spark, ckpt)
    // replay of the last committed batch: detected from the manifest
    // header, no new version, no double rows
    EventStreams.appendBatchToSnapshot(staged, outDir, batchIds.max, Some(token))
    assert(Snapshot.versions(spark, outDir) == vs)
    assert(Snapshot.readSnapshot(spark, outDir).count() == n)
    // a foreign checkpoint's run id fails loudly instead of re-ingesting
    // the source from offset zero (ADVICE r14's failure class)
    val ex = intercept[IllegalStateException] {
      EventStreams.appendBatchToSnapshot(staged, outDir, 0L, Some("foreign-run"))
    }
    assert(ex.getMessage.contains("pairing is broken"))
    // the change feed hands a downstream consumer exactly the post-v1
    // arrivals — incremental maintenance input without a table re-scan
    val feed = Snapshot.changes(spark, outDir, vs.head, vs.last)
    assert(feed.count() == n - Snapshot.readVersion(spark, outDir, vs.head).count())
    // maintenance speaks the same protocol — no _spark_metadata, no
    // freeze hand-off; the micro-batch debris compacts directly
    assert(!new java.io.File(s"$outDir/_spark_metadata").exists())
    val res = Snapshot.compact(spark, outDir, "event_date",
      targetBytes = 1L << 30, sortCols = Seq("ts"))
    assert(res.nonEmpty)
    // the ONE-JOB rewrite lands each date at its exact bin-packed target
    assert(Snapshot.currentFiles(spark, outDir)._2
      .groupBy(_.split("/")(0)).values.forall(_.size == 1))
    val after = Snapshot.readSnapshot(spark, outDir)
    assert(after.count() == n)
    assert(after.agg(sum(col("event_id"))).head().getLong(0) ==
      batch.agg(sum(col("event_id"))).head().getLong(0))
  }

  test("streamed ingest feeds consumeChanges: typed deltas per micro-batch, compaction crossed, forget-user retracted") {
    import graft.sources.Snapshot
    val outDir = Files.createTempDirectory("graft-snapconsume-out")
      .toFile.getAbsolutePath + "/layout"
    val ckpt = Files.createTempDirectory("graft-snapconsume-ckpt")
      .toFile.getAbsolutePath
    EventStreams.ingestSnapshot(spark,
      graft.streaming.StreamSources.FileSource(stagedDir), outDir, ckpt,
      statsCols = Seq("ts")).awaitTermination()
    val group = "streamed-rollup"
    // additive downstream state, maintained ONLY from typed frames
    var nLive = 0L
    def applyTyped(ch: org.apache.spark.sql.DataFrame): Unit = {
      val r = ch.agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L))).head()
      nLive += (if (r.isNullAt(0)) 0L else r.getLong(0))
    }
    // bootstrap swallows whatever the stream committed
    assert(Snapshot.consumeChanges(spark, outDir, group)(applyTyped)(
      applyTyped).mode == "bootstrap")
    assert(nLive == Snapshot.readSnapshot(spark, outDir).count())
    // a late micro-batch replayed through the SAME append protocol rides
    // the typed delta path
    val late = Tables.load(spark, SharedSpark.sf0001, "events")
      .limit(7).withColumn("event_id", col("event_id") + lit(10000000L))
      .withColumn("event_date", to_date(col("ts")))
    Snapshot.append(spark, outDir, "event_date", late)
    assert(Snapshot.consumeChanges(spark, outDir, group)(applyTyped)(
      _ => fail("append gap must not reset")).mode == "delta")
    // micro-batch debris compacts; the consumer crosses it as an
    // EMPTY delta — streamed upkeep is invisible downstream
    assert(Snapshot.compact(spark, outDir, "event_date", 1L << 30,
      Seq("ts")).nonEmpty)
    assert(Snapshot.consumeChanges(spark, outDir, group)(applyTyped)(
      _ => fail("compaction must not reset")).mode == "delta")
    // forget-user lands as typed retractions, never a table re-read
    val victim = Snapshot.readSnapshot(spark, outDir)
      .select("user_id").head().getLong(0)
    val (_, deleted) = Snapshot.deleteWhereMoR(spark, outDir, "event_date",
      col("user_id") === victim)
    assert(deleted > 0L)
    assert(Snapshot.consumeChanges(spark, outDir, group)(applyTyped)(
      _ => fail("a MoR delete must arrive as a diff, not a reset"))
      .mode == "diff")
    assert(nLive == Snapshot.readSnapshot(spark, outDir).count(),
      "typed-frame accounting diverged from the served snapshot")
  }

  test("snapshot ingest RESTART: same checkpoint resumes with no duplicates, new arrivals only, stable run identity") {
    import graft.sources.Snapshot
    // a source dir the test controls: first wave of files, then a
    // second wave that arrives while the stream is DOWN
    val srcDir = Files.createTempDirectory("graft-restart-src")
      .toFile.getAbsolutePath
    val all = spark.read.parquet(stagedDir)
    val wave1 = all.where(pmod(col("event_id"), lit(2)) === 0)
    val wave2 = all.where(pmod(col("event_id"), lit(2)) === 1)
    wave1.repartition(2).write.mode("append").parquet(srcDir)
    val outDir = Files.createTempDirectory("graft-restart-out")
      .toFile.getAbsolutePath + "/layout"
    val ckpt = Files.createTempDirectory("graft-restart-ckpt")
      .toFile.getAbsolutePath
    val q1 = EventStreams.ingestSnapshot(spark,
      graft.streaming.StreamSources.FileSource(srcDir), outDir, ckpt)
    q1.awaitTermination()
    val vs1 = Snapshot.versions(spark, outDir)
    val n1 = Snapshot.readSnapshot(spark, outDir).count()
    assert(n1 == wave1.count())
    val token1 = EventStreams.runToken(spark, ckpt)
    // second wave lands while no query is running; restart from the
    // SAME checkpoint — the file source must skip wave 1 entirely
    wave2.repartition(2).write.mode("append").parquet(srcDir)
    val q2 = EventStreams.ingestSnapshot(spark,
      graft.streaming.StreamSources.FileSource(srcDir), outDir, ckpt)
    q2.awaitTermination()
    assert(EventStreams.runToken(spark, ckpt) == token1,
      "run identity changed across a clean restart")
    val snap = Snapshot.readSnapshot(spark, outDir)
    assert(snap.count() == all.count(), "restart lost or duplicated rows")
    assert(snap.select("event_id").distinct().count() == all.count(),
      "restart double-ingested wave 1")
    // the restart CONTINUED the commit sequence: strictly increasing
    // batch ids under the same run, across versions from both runs
    val vs2 = Snapshot.versions(spark, outDir)
    assert(vs2.size > vs1.size)
    val idsAll = vs2.map(v => Snapshot.metaOf(spark, outDir, v)("batch").toLong)
    assert(idsAll == idsAll.sorted && idsAll.distinct == idsAll,
      s"batch ids not strictly increasing across the restart: $idsAll")
    assert(vs2.forall(v =>
      Snapshot.metaOf(spark, outDir, v).get("run").contains(token1)))
  }

  test("snapshot rollup maintenance from a stream: self-bootstraps, maintained ≡ batch, replay no-op") {
    import graft.operators.MatView
    import graft.sources.Snapshot
    val dir = Files.createTempDirectory("graft-rollup-snapstream")
      .toFile.getAbsolutePath + "/rollup"
    val ck = Files.createTempDirectory("graft-rollup-snapck")
      .toFile.getAbsolutePath
    val q = EventStreams.maintainRollupSnapshot(
      EventStreams.readEventStream(spark, stagedDir), dir, ck)
    try q.processAllAvailable() finally q.stop()
    val vs = Snapshot.versions(spark, dir)
    assert(vs.size >= 2, s"expected several maintenance commits, got $vs")
    // the first batch bootstrapped the store WITH its ledger entry; every
    // commit carries (run, delta) in the header
    assert(Snapshot.metaOf(spark, dir, vs.head).get("op").contains("init"))
    val token = EventStreams.runToken(spark, ck)
    vs.foreach { v =>
      val m = Snapshot.metaOf(spark, dir, v)
      assert(m.get("delta").isDefined && m.get("run").contains(token),
        s"v=$v missing its maintenance ledger entry: $m")
    }
    // stream-maintained ≡ the batch rollup of the whole corpus
    val cols = Seq("event_date", "event_type", "user_id", "n_events",
      "sum_value", "min_event", "max_event")
    val got = Snapshot.readSnapshot(spark, dir).select(cols.map(col): _*)
    val want = MatView.eventPartials(spark.read.parquet(stagedDir))
      .select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "stream-maintained snapshot rollup diverged from the batch rollup")
    // replay of the last committed delta: manifest-detected, no new version
    val lastId = Snapshot.metaOf(spark, dir, vs.last)("delta").toLong
    MatView.maintainSnapshot(spark, dir, spark.read.parquet(stagedDir),
      deltaId = lastId, runId = Some(token))
    assert(Snapshot.versions(spark, dir) == vs)
  }

  test("streaming CDC loop: feed-maintained rollup over snapshot ingest equals the batch rollup") {
    import graft.operators.MatView
    import graft.sources.Snapshot
    val outDir = Files.createTempDirectory("graft-cdc-out")
      .toFile.getAbsolutePath + "/layout"
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt")
      .toFile.getAbsolutePath
    EventStreams.ingestSnapshot(spark,
      graft.streaming.StreamSources.FileSource(stagedDir), outDir, ckpt)
      .awaitTermination()
    val vs = Snapshot.versions(spark, outDir)
    assert(vs.size >= 2)
    // the downstream consumer: bootstrap the rollup from the first
    // committed version, then fold each subsequent version's CHANGE FEED
    // — at no point is the table re-read (the O(batch) maintenance shape
    // the manifest protocol exists to enable)
    val maintained = vs.tail.foldLeft(
      MatView.eventPartials(Snapshot.readVersion(spark, outDir, vs.head))) {
      (rollup, v) =>
        MatView.merge(rollup, MatView.eventPartials(
          Snapshot.changes(spark, outDir, v - 1, v)))
    }
    val batch = MatView.eventPartials(spark.read.parquet(stagedDir))
    val key = Seq("event_date", "event_type", "user_id")
    assert(maintained.count() == batch.count())
    assert(maintained.join(batch, key, "left_anti").isEmpty &&
      batch.join(maintained, key, "left_anti").isEmpty)
    // value-exact, not just key-aligned
    assert(maintained.unionByName(batch).distinct().count() == batch.count(),
      "feed-maintained rollup drifted from the batch rollup on some grain")
  }

  test("sessionizeStateful emits exactly the closed sessions of session_window") {
    import spark.implicits._
    val gap = "2 hours"
    val gapMs = 2L * 3600 * 1000
    val events = Tables.load(spark, SharedSpark.sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]

    val stateful = EventStreams.sessionizeStateful(events, gapMs)
      .collect()
      .map(s => (s.user_id, s.session_start.getTime, s.n_events))
      .toSet

    val windows = EventStreams.sessionWindows(events.toDF(), gap)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").getTime,
        r.getAs[Long]("n_events")))
    // batch NoTimeout semantics: the tail (latest) session per user stays
    // in state and is not emitted — drop it from the window-based oracle
    val lastStartPerUser = windows.groupBy(_._1).map { case (u, ss) =>
      u -> ss.map(_._2).max
    }
    val closedWindows = windows.filter { case (u, start, _) =>
      start < lastStartPerUser(u)
    }.toSet

    assert(stateful == closedWindows)
    assert(stateful.nonEmpty)
  }

  test("streaming dedup removes redelivered events within the watermark") {
    val dupDir = Files.createTempDirectory("graft-events-dup").toFile
    dupDir.deleteOnExit()
    val base = spark.read.parquet(stagedDir)
    // simulate at-least-once redelivery: every event written twice.
    // Single file => single micro-batch, so no duplicate can arrive
    // after the watermark has advanced past its event time (the
    // semantics dropDuplicatesWithinWatermark guarantees against).
    base.union(base).repartition(1)
      .write.mode("overwrite").parquet(dupDir.getAbsolutePath)
    val stream = EventStreams.dedupEvents(
      EventStreams.readEventStream(spark, dupDir.getAbsolutePath),
      watermark = Some("1 hour"))
    val q = stream.writeStream.format("memory")
      .queryName("dedup_events").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("dedup_events").count()
    assert(got == base.select("event_id").distinct().count())
    // batch path agrees
    val batchDedup = EventStreams.dedupEvents(
      spark.read.parquet(dupDir.getAbsolutePath), watermark = None)
    assert(batchDedup.count() == got)
  }

  test("streaming document intake: quality gate + digest dedup match the batch path") {
    import graft.streaming.DocStreams
    val dir = Files.createTempDirectory("graft-docs").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val staged = Tables.load(spark, SharedSpark.sf0001, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") % 3600).as("ingest_ts"),
        col("text"), col("lang"), col("source"))
    // at-least-once redelivery: the whole feed arrives twice, one file =>
    // one micro-batch, so no duplicate lands after the watermark passed it
    staged.union(staged).repartition(1).write.mode("overwrite").parquet(path)

    val q = DocStreams.intake(DocStreams.readDocStream(spark, path), Some("1 hour"))
      .writeStream.format("memory").queryName("doc_intake")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("doc_intake")

    // accepted CONTENT is deterministic even though the surviving doc_id
    // of a duplicate text is arrival/partition-dependent: compare digest
    // sets, with the batch quality filter as the independent oracle
    val byDigest = staged.select(col("doc_id"), md5(col("text")).as("h")).distinct()
    def digests(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").join(byDigest, Seq("doc_id"))
        .select("h").collect().map(_.getString(0)).toSet
    val want = CurationPipeline.qualityFilter(CurationPipeline.annotate(staged))
      .select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(digests(got) == want)
    assert(got.count() == want.size) // exactly one row per distinct accepted text

    // the batch path of the same intake agrees
    val batch = DocStreams.intake(spark.read.parquet(path), watermark = None)
    assert(digests(batch) == want && batch.count() == want.size)

    // quality gate enforced; split is the deterministic d08 hash rule
    assert(got.where(col("q_points") < 2).count() == 0)
    assert(got.where(!col("split").isin("train", "val", "test")).count() == 0)
  }

  test("streaming perplexity gate emits d29's buckets and drops exactly the tail") {
    import graft.streaming.DocStreams
    val tmp = Files.createTempDirectory("graft-ppl").toFile
    tmp.deleteOnExit()
    val path = tmp.getAbsolutePath
    val docs = Tables.load(spark, SharedSpark.sf0001, "documents")
    val target = docs.where(col("source").isin("src0", "src1"))
    // the raw pool arrives as the stream, spread over three hour windows
    docs.where(!col("source").isin("src0", "src1"))
      .select(col("doc_id"),
        timestamp_seconds(lit(1704067200L) + (col("doc_id") % 3) * 3600)
          .as("ingest_ts"),
        col("text"), col("lang"), col("source"))
      .repartition(2).write.mode("overwrite").parquet(path)

    val q = DocStreams.perplexityGate(
        DocStreams.readDocStream(spark, path), target, Some("1 hour"))
      .writeStream.format("memory").queryName("ppl_gate")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("ppl_gate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("avg_w_milli"), r.getAs[String]("ppl_bucket"))).toMap

    // the graded d29 is the oracle: same LM, same integer arithmetic —
    // the gate must reproduce its numbers exactly and keep head+middle
    val d29 = SparkEntry.queries("d29_perplexity_filter")(
        spark, SharedSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("avg_w_milli"), r.getAs[String]("ppl_bucket"))).toMap
    assert(got == d29.filter(_._2._2 != "tail"))
    assert(got.nonEmpty && d29.exists(_._2._2 == "tail"))

    // the same gate run as a batch frame agrees (stream/batch parity)
    val batch = DocStreams.perplexityGate(
        spark.read.parquet(path), target, watermark = None).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("avg_w_milli"), r.getAs[String]("ppl_bucket"))).toMap
    assert(batch == got)

    // the production shape: APPEND mode with a real watermark — finals
    // emit only for windows the watermark has passed. With delay 0 the
    // watermark lands on the last hour window's start, so the two
    // earlier windows close (their docs emit with the complete-mode
    // values) and the last stays open (its docs are withheld).
    val q2 = DocStreams.perplexityGate(
        DocStreams.readDocStream(spark, path), target, Some("0 seconds"))
      .writeStream.format("memory").queryName("ppl_gate_append")
      .outputMode("append").start()
    try q2.processAllAvailable()
    finally q2.stop()
    val append = spark.table("ppl_gate_append").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("avg_w_milli"), r.getAs[String]("ppl_bucket"))).toMap
    assert(append.nonEmpty)
    append.foreach { case (id, v) => assert(got(id) == v) }
    val openWindow = got.keySet.filter(_ % 3 == 2)
    assert(append.keySet == got.keySet -- openWindow)
  }

  test("streaming PII audit equals the batch audit on an injected-PII feed") {
    import graft.streaming.DocStreams
    val dir = Files.createTempDirectory("graft-pii").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    // the corpus carries no PII, so the staged feed injects the d12-style
    // deterministic spans — every third doc leaks an email
    val staged = Tables.load(spark, SharedSpark.sf0001, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") % 3600).as("ingest_ts"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0L,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise("")).as("text"),
        col("lang"), col("source"))
    staged.repartition(1).write.mode("overwrite").parquet(path)

    // complete mode: every window surfaces when the stream drains (append
    // would withhold windows the watermark has not passed — same choice
    // as the windowedCounts tests)
    val q = DocStreams.piiAudit(DocStreams.readDocStream(spark, path), Some("2 hours"))
      .writeStream.format("memory").queryName("pii_audit")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_pii_spans"), r.getAs[Long]("chars_redacted"),
        r.getAs[Long]("n_docs_with_pii")))
      .toSet
    val batchAudit = DocStreams.piiAudit(spark.read.parquet(path), watermark = None)
    val got = rows(spark.table("pii_audit"))
    val want = rows(batchAudit)
    assert(got == want)
    // the audit actually catches the injected leaks (by span count, not
    // just length delta)
    assert(want.exists(_._4 > 0) && want.exists(_._6 > 0))
    // every doc audited exactly once (aggregate, not the deduped tuple set)
    assert(batchAudit.agg(sum("n_docs")).head().getLong(0) == staged.count())
  }

  test("streaming keyword alerts equal the batch filter and miss no match") {
    import graft.streaming.DocStreams
    val dir = Files.createTempDirectory("graft-kw").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val staged = Tables.load(spark, SharedSpark.sf0001, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") % 3600).as("ingest_ts"),
        col("text"), col("lang"), col("source"))
    staged.repartition(1).write.mode("overwrite").parquet(path)

    val terms = Seq("hash", "merge", "dup") // r01's query set
    val q = DocStreams.keywordAlerts(DocStreams.readDocStream(spark, path), terms)
      .writeStream.format("memory").queryName("kw_alerts")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Seq[String]]("matched_terms").toList, r.getAs[Long]("n_hits")))
      .toSet
    val batch = DocStreams.keywordAlerts(spark.read.parquet(path), terms)
    val got = rows(spark.table("kw_alerts"))
    assert(got == rows(batch)) // stateless stage: stream ≡ batch exactly

    // independent oracle: a doc alerts iff its token set meets the watch
    // list, and n_hits counts every occurrence (not distinct terms)
    val toks = staged.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("toks"))
    val want = toks
      .select(col("doc_id"),
        size(filter(col("toks"), t => t.isin(terms: _*))).cast("long").as("n"))
      .where(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(t => t._1 -> t._3).toMap == want)
    assert(got.nonEmpty && got.exists(_._2.size > 1)) // multi-term docs exist
  }

  test("highValueAlerts: stream-static join enriches without dropping alerts") {
    val users = spark.range(0, 1000).select(
      col("id").as("user_id"), concat(lit("user_"), col("id")).as("user_name"))
    val events = spark.read.parquet(stagedDir)
    val alerts = EventStreams.highValueAlerts(events, users)
    val expected = events.where(col("value") > 100.0).count()
    assert(alerts.count() == expected) // left join preserves every alert
    assert(alerts.columns.contains("user_name"))
  }

  test("stateful streaming funnel reaches exactly q34's stage counts") {
    import spark.implicits._
    val stages = Seq("view", "click", "purchase")
    val events = Tables.load(spark, SharedSpark.sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val advances = EventStreams.funnelStateful(events, stages).collect()
    // per user at most one advance per stage, strictly increasing times
    advances.groupBy(_.user_id).foreach { case (_, as) =>
      val byStage = as.sortBy(_.stage)
      assert(byStage.map(_.stage).toSeq == (1 to byStage.length))
      byStage.sliding(2).foreach {
        case Array(a, b) => assert(b.ts.getTime > a.ts.getTime)
        case _ =>
      }
      byStage.foreach(a => assert(a.event_type == stages(a.stage - 1)))
    }
    // users having reached stage >= n == q34's n_users per stage
    val reached = advances.groupBy(_.user_id).view
      .mapValues(_.map(_.stage).max).values.toSeq
    val got = graft.operators.Analytics.funnel(events.toDF(), stages)
      .collect().map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_users"))
      .toMap
    (1 to 3).foreach { s =>
      assert(reached.count(_ >= s).toLong == got(s.toLong), s"stage $s")
    }
  }

  test("funnelStateful EventTimeTimeout: stale-state re-arm does not crash, timed-out state is removed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ev(id: Long, uid: Long, typ: String, t: String) =
      EventStreams.Event(id, java.sql.Timestamp.valueOf(t), uid, typ, 1.0)

    // Disable no-data micro-batches so a stale state is not timed out
    // between data batches — forcing the hazard batch below to find it
    // still alive, the worst case the clamp exists for.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val input = MemoryStream[EventStreams.Event]
    val stages = Seq("view", "click", "purchase")
    val funnel = EventStreams.funnelStateful(
      input.toDS().withWatermark("ts", "0 seconds"),
      stages, GroupStateTimeout.EventTimeTimeout, ttlMs = 60L * 1000)
    val q = funnel.writeStream.format("memory")
      .queryName("funnel_ett").outputMode("append").start()
    try {
      // batch 1: user 3 → stage 1 at 10:00, timeout armed at 10:01.
      input.addData(ev(1, 3, "view", "2026-01-01 10:00:00"))
      q.processAllAvailable()
      // batch 2: unrelated user advances the watermark to 12:00 —
      // past user 3's 10:01 timeout, but user 3 had no data this batch
      // and no-data batches are off, so its stale state survives.
      input.addData(ev(2, 9, "view", "2026-01-01 12:00:00"))
      q.processAllAvailable()
      // batch 3 — the hazard: user 3's state is TTL-expired (10:01 <
      // watermark 12:00) but still in the store. Arrival-time eviction
      // must treat it as gone: this "view" STARTS A FRESH FUNNEL
      // (stage 1 again) instead of being swallowed by the zombie's
      // stage-2 wait — and nothing may crash.
      input.addData(ev(3, 3, "view", "2026-01-01 12:00:30"))
      q.processAllAvailable()
      // batch 4: watermark → 12:00:30; user 3's fresh state (armed
      // 12:01:30) survives, user 9 has data, nothing crashes.
      input.addData(ev(4, 9, "view", "2026-01-01 13:30:00"))
      q.processAllAvailable()
      // batch 5: watermark → 13:30, past user 3's 12:01:30 TTL — its
      // state is expired again (data arrives with it, so arrival-time
      // eviction applies), making this view a THIRD fresh stage-1
      // advance. User 7's event is hours below the watermark: under
      // EventTimeTimeout Spark filters late INPUT rows before the
      // function, so it must contribute nothing (the crash the clamp
      // guards against came from stale STATE timestamps, which
      // arrival-time eviction now also removes — the clamp stays as
      // defense-in-depth for ttl=0 edge configs).
      input.addData(
        ev(5, 3, "view", "2026-01-01 13:45:00"),
        ev(6, 7, "view", "2026-01-01 10:00:00"))
      q.processAllAvailable()

      val adv = spark.table("funnel_ett").as[EventStreams.StageAdvance]
        .collect()
      assert(q.exception.isEmpty)
      assert(adv.count(a => a.user_id == 3L && a.stage == 1) == 3)
      assert(adv.count(_.user_id == 9L) == 1)
      assert(adv.count(_.user_id == 7L) == 0) // late input row dropped
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
  }

  test("q36 graded sessions equal EventStreams.sessionWindows exactly") {
    val events = Tables.load(spark, SharedSpark.sf0001, "events")
    val q36 = SparkEntry.queries("q36_sessions")(spark, SharedSpark.sf0001)
      .collect()
    val lib = graft.streaming.EventStreams.sessionWindows(events, "30 minutes")
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("st"),
        col("n_events")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(q36.nonEmpty && q36.length == lib.size)
    q36.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("session_start"))
      assert(lib(k) == r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("duration_us") >= 0L)
    }
    // sessions partition the event stream
    assert(q36.map(_.getAs[Long]("n_events")).sum == events.count())
  }

  test("streaming novelty filter drops exactly the corpus-known texts") {
    import graft.streaming.DocStreams
    val corpus = Tables.load(spark, SharedSpark.sf0001, "documents")
    val dir = Files.createTempDirectory("graft-novel").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    // feed: half the corpus re-crawled verbatim (known) + fresh docs
    // carrying genuinely new text (novel)
    val known = corpus.where(col("doc_id") % 2 === 0)
      .select(col("doc_id") + 1000000L as "doc_id",
        timestamp_seconds(lit(1704067200L)).as("ingest_ts"),
        col("text"), col("lang"), col("source"))
    val fresh = corpus.where(col("doc_id") % 2 === 1)
      .select(col("doc_id") + 2000000L as "doc_id",
        timestamp_seconds(lit(1704067200L)).as("ingest_ts"),
        concat(col("text"), lit(" entirely new suffix")).as("text"),
        col("lang"), col("source"))
    known.union(fresh).repartition(1).write.mode("overwrite").parquet(path)

    val q = DocStreams.novelDocs(DocStreams.readDocStream(spark, path), corpus)
      .writeStream.format("memory").queryName("novel_docs")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("novel_docs")
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.forall(_ >= 2000000L)) // only the fresh docs
    assert(got.count().toInt == fresh.count().toInt)
    // batch parity: same call on the batch frame
    val batch = DocStreams.novelDocs(spark.read.parquet(path), corpus)
    assert(batch.select("doc_id").collect().map(_.getLong(0)).toSet == ids)
  }

  test("intakeToStaging + compactStaging ≡ batch curate on the same corpus") {
    import graft.streaming.DocStreams
    import java.nio.file.StandardCopyOption
    val root = Files.createTempDirectory("graft-steady").toFile
    root.deleteOnExit()
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val staging = new java.io.File(root, "staging").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    // One feed file = one micro-batch (maxFilesPerTrigger=1); discovery
    // order is (mtime, path), pinned explicitly per file.
    var fileSeq = 0
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-feedfile").toFile
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(srcDir, name + ".parquet")
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      fileSeq += 1
      dest.setLastModified(1700000000000L + fileSeq * 60000L)
    }

    val t0 = 1704067200L // corpus event-time epoch; intake watermark = 1h
    val base = Tables.load(spark, SharedSpark.sf0001, "documents")
    // originals: unique-text representatives (min doc_id per digest), so
    // batch-1 content is digest-unique and the stream's first-arrived
    // keeper provably equals the batch min-doc_id keeper
    val originals = base
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("__rn") === 1).drop("__rn")
      .select(col("doc_id"),
        timestamp_seconds(lit(t0) + col("doc_id") % 600).as("ingest_ts"),
        col("text"), col("lang"), col("source"))
    // filler: novel texts 4h later — advances the watermark far enough
    // to expire the originals' dedup state before the late re-uploads.
    // TWO filler batches because state eviction applies END-of-batch,
    // after that batch's lookups: filler advances the watermark, filler2
    // is the batch during which the originals' entries are evicted.
    val filler = originals
      .select(col("doc_id") + 200000L as "doc_id",
        timestamp_seconds(lit(t0) + 14400L).as("ingest_ts"),
        concat(col("text"), lit(" zq9x")).as("text"),
        col("lang"), col("source"))
    val filler2 = originals
      .select(col("doc_id") + 300000L as "doc_id",
        timestamp_seconds(lit(t0) + 15000L).as("ingest_ts"),
        concat(col("text"), lit(" zq9y")).as("text"),
        col("lang"), col("source"))
    // late re-uploads: exact copies under new ids, 5h later — past the
    // watermark horizon, so the STREAM accepts them; collapsing them is
    // the batch compaction's job (the division of labor under test)
    val late = originals.where(col("doc_id") % 5 === 0)
      .select(col("doc_id") + 100000L as "doc_id",
        timestamp_seconds(lit(t0) + 18000L).as("ingest_ts"),
        col("text"), col("lang"), col("source"))
    addFile(originals, "f1_originals")
    addFile(originals, "f2_redelivery") // at-least-once transport replay
    addFile(filler, "f3_filler")
    addFile(filler2, "f4_filler2")
    addFile(late, "f5_late_reuploads")

    val q = DocStreams.intakeToStaging(spark, srcDir.getAbsolutePath, staging, ckpt)
    try q.processAllAvailable()
    finally q.stop()

    // the redelivery batch must contribute ZERO staged rows: every other
    // feed row with a distinct digest that passes quality is accepted
    def kept(df: org.apache.spark.sql.DataFrame): Long =
      graft.CurationPipeline.qualityFilter(graft.CurationPipeline.annotate(df)).count()
    val stagedCount = spark.read.parquet(staging).count()
    assert(stagedCount ==
        kept(originals) + kept(filler) + kept(filler2) + kept(late),
      s"staged $stagedCount: watermark dedup leaked the redelivery or " +
        "dropped the late re-uploads")

    // end-to-end: compaction over the stream-fed staging dir equals the
    // pure-batch curate over the same logical corpus (redelivery is a
    // transport artifact, suppressed by the stream; late re-uploads are
    // real corpus rows, collapsed by the compaction's exact keeper)
    val corpus = originals.union(filler).union(filler2).union(late)
    val got = DocStreams.compactStaging(spark, staging).collect().toSeq
    val want = graft.CurationPipeline.curate(corpus).collect().toSeq
    assert(got == want)
    // not vacuous: late re-uploads really flowed through the stream into
    // the compaction and were collapsed there (provenance n_copies = 2)
    val dupCopies = want.count(_.getAs[Long]("n_copies") == 2L)
    assert(dupCopies > 0, "no collapsed re-upload reached the compaction")
  }

  test("streaming LSH screen over the served index ≡ n09's batch probe") {
    import graft.streaming.DocStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the frozen corpus index (even doc_ids — the n09 build)
    val (indexTable, _) =
      graft.operators.Dedup.buildServedLshIndex(spark, SharedSpark.sf0001)
    // stream the SAME probe cohort n09 grades (odd doc_ids), split
    // across two micro-batches
    val odd = Tables.load(spark, SharedSpark.sf0001, "documents")
      .where(pmod(col("doc_id"), lit(2L)) === 1L)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(odd.size >= 4)
    val (batch1, batch2) = odd.splitAt(odd.size / 2)
    val input = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("graft-screen").toString
    val ck = Files.createTempDirectory("graft-screen-ck").toString
    val q = DocStreams.lshScreen(
      input.toDS().toDF("doc_id", "text"), indexTable, dir, ck)
    try {
      Seq(batch1, batch2).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    // union of the per-batch publishes ≡ the graded served-probe output
    val got = spark.read.parquet(dir)
      .select("batch_doc", "n_corpus_neardups", "min_corpus_doc")
    val want = SparkEntry.queries("n09_served_lsh_probe")(spark, SharedSpark.sf0001)
      .select("batch_doc", "n_corpus_neardups", "min_corpus_doc")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed screen diverged from the batch served probe")
    // and the screen is replay-safe: re-publishing batch 0 under its id
    // finds v=0 committed and must not change anything
    graft.sources.Sink.publishedArtifact(spark, s"$dir/v=0")(
      DocStreams.screenBatch(batch1.toDF("doc_id", "text"), indexTable))
    val after = spark.read.parquet(dir)
      .select("batch_doc", "n_corpus_neardups", "min_corpus_doc")
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty)
  }

  test("rollup maintenance fails LOUDLY when the checkpoint/rollup pairing breaks") {
    // a lost/recreated checkpoint restarts batch ids at 0; against a
    // surviving store every batch would find its id committed and no-op
    // — new events silently vanish. The run token in the manifest
    // header must turn that silent fail-open into an explicit failure.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Snapshot
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String) = EventStreams.Event(
      id, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0)
    val dir = Files.createTempDirectory("graft-rollup-guard").toString + "/rollup"
    val ck1 = Files.createTempDirectory("graft-rollup-guard-ck1").toString
    // run 1 maintains the store and binds it to ck1's run token
    val in1 = MemoryStream[EventStreams.Event]
    val q1 = EventStreams.maintainRollupSnapshot(in1.toDS().toDF(), dir, ck1)
    try { in1.addData(Seq(ev(1, "2026-01-01 10:00:00"))); q1.processAllAvailable() }
    finally q1.stop()
    val versions = Snapshot.versions(spark, dir)
    val head = Snapshot.readSnapshot(spark, dir).collect().toSeq
    // run 2: FRESH checkpoint (the "checkpoint dir lost and recreated"
    // scenario), same store — its batch ids restart at 0
    val ck2 = Files.createTempDirectory("graft-rollup-guard-ck2").toString
    val in2 = MemoryStream[EventStreams.Event]
    val q2 = EventStreams.maintainRollupSnapshot(in2.toDS().toDF(), dir, ck2)
    val thrown = intercept[Exception] {
      try { in2.addData(Seq(ev(2, "2026-01-01 11:00:00"))); q2.processAllAvailable() }
      finally q2.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(thrown).exists(c => c.isInstanceOf[IllegalStateException]
        && c.getMessage.contains("pairing")),
      s"foreign-run batch did not fail on the pairing guard: $thrown")
    // and the guarded failure left the store exactly as run 1 committed it
    assert(Snapshot.versions(spark, dir) == versions,
      "failed foreign-run batch committed a version")
    assert(Snapshot.readSnapshot(spark, dir).collect().toSeq == head,
      "failed foreign-run batch mutated the rollup")
  }

  test("streaming CDC apply: micro-batches upsert in O(batch), replay no-ops, the sidecar debt self-limits") {
    import spark.implicits._
    import graft.sources.Snapshot
    val outDir = Files.createTempDirectory("graft-upsert-out")
      .toFile.getAbsolutePath + "/layout"
    // unit first: handcrafted CDC batches through the replay unit
    def img(id: Long, v: Long) = (id, v, "2024-01-01")
    def batchDf(rows: Seq[(Long, Long, String)]) =
      rows.toDF("event_id", "value", "event_date")
    EventStreams.upsertBatchToSnapshot(
      batchDf(Seq(img(1, 10), img(2, 20))), outDir, 0L, Seq("event_id"),
      Some("run-A"))
    EventStreams.upsertBatchToSnapshot(
      batchDf(Seq(img(2, 200), img(3, 30))), outDir, 1L, Seq("event_id"),
      Some("run-A"))
    def state(): Map[Long, Long] =
      Snapshot.readSnapshot(spark, outDir).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("value")).toMap
    assert(state() == Map(1L -> 10L, 2L -> 200L, 3L -> 30L))
    val vs = Snapshot.versions(spark, outDir)
    // replay of batch 1: manifest-detected, no new version, no doubling
    EventStreams.upsertBatchToSnapshot(
      batchDf(Seq(img(2, 200), img(3, 30))), outDir, 1L, Seq("event_id"),
      Some("run-A"))
    assert(Snapshot.versions(spark, outDir) == vs && state().size == 3)
    // a foreign checkpoint fails loudly (the pairing guard, shared)
    val ex = intercept[IllegalStateException] {
      EventStreams.upsertBatchToSnapshot(
        batchDf(Seq(img(9, 9))), outDir, 0L, Seq("event_id"), Some("run-B"))
    }
    assert(ex.getMessage.contains("pairing is broken"))
    // the real stream: unique keys per row, so the upserted table must
    // equal the full staged set; every micro-batch is one upsert
    // commit; maintainEqDeletes(max=1) keeps the sidecar debt bounded
    val out2 = Files.createTempDirectory("graft-upsert-out2")
      .toFile.getAbsolutePath + "/layout"
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt")
      .toFile.getAbsolutePath
    val q = EventStreams.ingestUpserts(spark,
      graft.streaming.StreamSources.FileSource(stagedDir), out2, ckpt,
      keyCols = Seq("event_id"), maxSidecars = 1L)
    q.awaitTermination()
    val staged = spark.read.parquet(stagedDir)
    assert(Snapshot.readSnapshot(spark, out2).count() == staged.count())
    val ops = Snapshot.versions(spark, out2)
      .map(v => Snapshot.metaOf(spark, out2, v).getOrElse("op", "?"))
    assert(ops.count(_ == "upsert") >= 2,
      s"expected several upsert micro-batches, got $ops")
    assert(ops.contains("eq-convert"),
      s"maintainEqDeletes(max=1) never fired across the run: $ops")
    val cur = Snapshot.currentVersion(spark, out2).get
    val eqLeft = Snapshot.deletesOf(spark, out2, cur)
      .count(_.split("/").last.startsWith("eq-"))
    assert(eqLeft <= 2, s"sidecar debt unbounded: $eqLeft outstanding")
  }

  test("change-feed streaming source: version offsets survive restart, typed frames keep the rollup ≡ batch") {
    import graft.sources.Snapshot
    import org.apache.spark.sql.DataFrame
    val base = Files.createTempDirectory("graft-cdfsrc").toFile.getAbsolutePath
    val path = s"$base/t"
    val ckpt = s"$base/ckpt"
    val down = s"$base/down"
    import spark.implicits._
    def rows(ids: Seq[Long], day: String) =
      ids.map(i => (i, i * 1.0, day)).toDF("id", "value", "day")
    Snapshot.append(spark, path, "day", rows(1L to 40L, "2024-01-01"))

    // the maintained rollup: one signed-apply per micro-batch, state
    // keyed by batch id (replays overwrite the same dir — idempotent)
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdf")
        .option("path", path).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          val w = when(col("_change_type") === "insert", lit(1L))
            .otherwise(lit(-1L))
          val part = df.groupBy(col("day"))
            .agg(sum(w).as("n"), sum(col("value") * w).as("v"))
          val merged =
            if (id == 0L) part
            else spark.read.parquet(s"$down/b${id - 1}").unionByName(part)
              .groupBy(col("day"))
              .agg(sum(col("n")).as("n"), sum(col("v")).as("v"))
          merged.write.mode("overwrite").parquet(s"$down/b$id")
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    runStream() // batch 0 = bootstrap: the full snapshot as inserts
    assert(spark.read.parquet(s"$down/b0")
      .agg(sum(col("n"))).collect().head.getLong(0) == 40L)

    // the stream is DOWN while the table advances: an append AND a
    // row-changing delete land in the gap — the restarted stream must
    // resume from the CHECKPOINTED version offset and receive ONE
    // typed diff frame (inserts for the new day, deletes for the
    // forgotten rows), never a resync
    Snapshot.append(spark, path, "day", rows(41L to 60L, "2024-01-02"))
    Snapshot.deleteWhereMoR(spark, path, "day", col("id") <= 5)
    runStream() // batch 1 = the gap's change frame
    val got = spark.read.parquet(s"$down/b1")
      .select(col("day"), col("n"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Snapshot.readSnapshot(spark, path)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch,
      s"stream-maintained $got != batch-maintained $batch")

    // caught up: a third lifecycle produces NO batch (offsets are
    // versions and the version did not advance)
    runStream()
    val fs = new org.apache.hadoop.fs.Path(down)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$down/b2")),
      "a caught-up restart must not produce a batch")

    // an expired base refuses loudly (the Delta-source-after-vacuum
    // rule): no silent resync inside a stream
    val ex = intercept[Exception] {
      Snapshot.changeFrame(spark, path, 0L,
        Snapshot.currentVersion(spark, path).get)
    }
    assert(ex.getMessage.contains("not committed") ||
      ex.getMessage.contains("expired"), ex.getMessage)

    // startingVersion: a FRESH checkpoint starting "from version N on"
    // skips the bootstrap — the first batch is the diff from N-1, so
    // it carries the v2 append's inserts AND the v3 delete's
    // retractions, never the v1 rows
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q2 = spark.readStream.format("graft-cdf")
      .option("path", path).option("startingVersion", "2").load()
      .writeStream.option("checkpointLocation", s"$base/ckpt-sv")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= df.groupBy(col("_change_type")).count().collect()
          .map(r => (r.getString(0), r.getLong(1)))
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(out.toSet == Set(("insert", 20L), ("delete", 5L)),
      s"startingVersion=2 first batch: $out")

    // startingVersion=latest on a caught-up table: first batch is empty
    val out3 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q3 = spark.readStream.format("graft-cdf")
      .option("path", path).option("startingVersion", "latest").load()
      .writeStream.option("checkpointLocation", s"$base/ckpt-latest")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out3 += df.count(); ()
      }.start()
    try q3.processAllAvailable() finally q3.stop()
    assert(out3.forall(_ == 0L), s"latest must stream nothing old: $out3")

    // recovery determinism: 'latest' resolves ONCE and persists under
    // the source's checkpoint metadata dir, so a recovered source
    // replaying a logged-but-uncommitted first batch diffs from the
    // SAME base — not from whatever version the table reached by
    // restart time (which would silently drop the gap's changes)
    val md = s"$base/md-pin"
    val vAtStart = Snapshot.currentVersion(spark, path).get
    val src1 = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some("latest"), Some(md))
    Snapshot.append(spark, path, "day", rows(61L to 70L, "2024-01-02"))
    val vNow = Snapshot.currentVersion(spark, path).get
    def endAt(v: Long) = new org.apache.spark.sql.execution.streaming.Offset {
      override def json: String = v.toString
    }
    // a FRESH instance over the same metadata dir (the restart) must
    // diff from the ORIGINAL base: the marker pins it, both instances
    // build the first batch against it (streaming-tagged frames can't
    // execute as batch, so row counts assert through the very
    // changeFrame the source wraps), and the frame's plan builds
    val marker = new org.apache.hadoop.fs.Path(md, "graft-start-base")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.exists(marker), "the resolved start base must persist")
    val in = mfs.open(marker)
    val persisted = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString.trim finally in.close()
    assert(persisted == vAtStart.toString,
      s"persisted base $persisted != first-start version $vAtStart")
    val src2 = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some("latest"), Some(md))
    assert(src2.getBatch(None, endAt(vNow)).isStreaming)
    assert(src1.getBatch(None, endAt(vNow)).isStreaming)
    assert(Snapshot.changeFrame(spark, path, vAtStart, vNow).count() == 10L,
      "the persisted-base first batch carries exactly the gap's inserts")

    // maxVersionsPerTrigger: a multi-version down-time gap drains as
    // BOUNDED micro-batches (admission control), never one storm batch
    Snapshot.append(spark, path, "day", rows(71L to 75L, "2024-01-01"))
    Snapshot.append(spark, path, "day", rows(76L to 80L, "2024-01-02"))
    val cur = Snapshot.currentVersion(spark, path).get
    val capped = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some(vNow.toString), None, maxVersionsPerTrigger = Some(1L))
    def offV = capped.getOffset.map(_.json.toLong)
    // startingVersion=vNow pins base vNow-1; the cap admits ONE version
    // per trigger even though the table is several ahead
    assert(offV.contains(vNow), s"first capped offset: $offV")
    capped.commit(endAt(vNow))
    assert(offV.contains(vNow + 1), s"second capped offset: $offV")
    capped.commit(endAt(vNow + 1))
    capped.commit(endAt(vNow + 2))
    // caught up: the cap never holds the offset below the table head
    assert(offV.contains(cur), s"caught-up capped offset: $offV")
  }

  test("change-feed source restart: the admission floor survives via the committed marker, offsets never regress, a logged regressed offset replays empty") {
    import graft.sources.Snapshot
    val base = Files.createTempDirectory("graft-cdfrestart")
      .toFile.getAbsolutePath
    val path = s"$base/t"
    import spark.implicits._
    def rows(ids: Seq[Long], day: String) =
      ids.map(i => (i, i * 1.0, day)).toDF("id", "value", "day")
    def endAt(v: Long) = new org.apache.spark.sql.execution.streaming.Offset {
      override def json: String = v.toString
    }
    (1 to 3).foreach(i => // versions 1..3
      Snapshot.append(spark, path, "day", rows(Seq(i.toLong), "2024-01-01")))

    // lifecycle A: startingVersion=2 + cap 1, committed through v3
    val md = s"$base/md"
    val a = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some("2"), Some(md), maxVersionsPerTrigger = Some(1L))
    assert(a.getOffset.map(_.json.toLong).contains(2L))
    a.getBatch(None, endAt(2L)); a.commit(endAt(2L))
    assert(a.getOffset.map(_.json.toLong).contains(3L))
    a.getBatch(Some(endAt(2L)), endAt(3L)); a.commit(endAt(3L))

    // the table advances while the stream is down
    (4 to 6).foreach(i =>
      Snapshot.append(spark, path, "day", rows(Seq(i.toLong), "2024-01-01")))

    // lifecycle B over the SAME metadata dir: the first call is
    // getOffset (the committed-restart order) — pre-fix the floor fell
    // back to startBase and returned min(cur, 1+1)=2, BELOW the
    // committed 3 (a regression Spark logs and then replays as a
    // crashing getBatch(3, 2) forever). The persisted marker seeds the
    // floor at 3, so the next offset is 4: bounded AND monotonic.
    val b = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some("2"), Some(md), maxVersionsPerTrigger = Some(1L))
    assert(b.getOffset.map(_.json.toLong).contains(4L),
      s"restarted capped offset: ${b.getOffset}")

    // a regressed offset ALREADY in a pre-fix checkpoint's log replays
    // as an empty typed batch instead of wedging on fromV <= toV
    val wedged = b.getBatch(Some(endAt(3L)), endAt(2L))
    assert(wedged.isStreaming && wedged.schema == b.schema)
    // ... and replaying it must not drag the floor backward
    assert(b.getOffset.map(_.json.toLong).contains(4L))

    // bootstrap lifecycle (no startingVersion) + cap: post-restart
    // catch-up batches are BOUNDED too — pre-fix the floor was None and
    // the first post-restart batch drained the whole gap at once
    val md2 = s"$base/md2"
    val c = new graft.streaming.GraftChangeFeedSource(
      spark, path, None, Some(md2), maxVersionsPerTrigger = Some(1L))
    val boot = c.getOffset.map(_.json.toLong).get // bootstrap: uncapped
    c.getBatch(None, endAt(boot)); c.commit(endAt(boot))
    (7 to 8).foreach(i =>
      Snapshot.append(spark, path, "day", rows(Seq(i.toLong), "2024-01-01")))
    val d = new graft.streaming.GraftChangeFeedSource(
      spark, path, None, Some(md2), maxVersionsPerTrigger = Some(1L))
    assert(d.getOffset.map(_.json.toLong).contains(boot + 1),
      s"post-restart bootstrap catch-up must be capped: ${d.getOffset}")

    // a future startingVersion refuses at resolve time with a clear
    // message (not changeFrame's opaque require at first-batch time);
    // current+1 — "from the next commit on" — stays legal
    val cur = Snapshot.currentVersion(spark, path).get
    val ex = intercept[IllegalArgumentException] {
      new graft.streaming.GraftChangeFeedSource(
        spark, path, Some((cur + 2).toString), None)
    }
    assert(ex.getMessage.contains("beyond the table's current version"))
    val next = new graft.streaming.GraftChangeFeedSource(
      spark, path, Some((cur + 1).toString), None)
    assert(next.getOffset.map(_.json.toLong).contains(cur))
  }

  test("maxFilesPerTrigger splits the bootstrap into bounded consistent slices ≡ the one-shot bootstrap, then hands over to version-grain batches") {
    import graft.sources.Snapshot
    import org.apache.spark.sql.DataFrame
    val base = Files.createTempDirectory("graft-cdfboot")
      .toFile.getAbsolutePath
    val path = s"$base/t"
    import spark.implicits._
    def rows(ids: Seq[Long], day: String) =
      ids.map(i => (i, i * 1.0, day)).toDF("id", "value", "day")
    // several files per partition + a deletion vector at the bootstrap
    // version: slices must subtract hidden rows exactly like the full
    // read. Lineage on, so _row_id must survive slicing too.
    Snapshot.append(spark, path, "day",
      rows(1L to 30L, "2024-01-01").repartition(3),
      meta = Map("rowids" -> "on"))
    Snapshot.append(spark, path, "day",
      rows(31L to 60L, "2024-01-02").repartition(3))
    Snapshot.deleteWhereMoR(spark, path, "day", col("id") % 10 === 0)
    val bootV = Snapshot.currentVersion(spark, path).get
    val nFiles = Snapshot.filesOf(spark, path, bootV).size

    val batches = scala.collection.mutable
      .ArrayBuffer.empty[Seq[(Long, Long, Double, String)]]
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdf")
        .option("path", path).option("maxFilesPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          batches += df
            .where(col("_change_type") === "insert")
            .select(col("id"), col("_row_id"), col("value"), col("day"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
              r.getString(3))).toSeq
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    // bounded batches: ceil(nFiles / 2) of them, never one storm batch
    val expected = (nFiles + 1) / 2
    assert(batches.size == expected,
      s"bootstrap of $nFiles files at 2/trigger: ${batches.size} " +
      s"batches, expected $expected")
    // split-bootstrap ≡ one-shot: same rows, same ids, DV-subtracted
    val streamed = batches.flatten.toSet
    val oneShot = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .select(col("id"), col("_row_id"), col("value"), col("day"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(streamed == oneShot,
      s"split bootstrap diverged: ${streamed.size} streamed rows vs " +
      s"${oneShot.size} one-shot rows")
    // slices never overlap (each file served exactly once)
    assert(batches.flatten.size == streamed.size,
      "a bootstrap slice re-served a row")

    // handover: the next lifecycle serves the gap as a version-grain
    // change frame, not more bootstrap slices
    batches.clear()
    Snapshot.append(spark, path, "day", rows(61L to 70L, "2024-01-02"))
    runStream()
    assert(batches.size == 1 &&
      batches.head.map(_._1).toSet == (61L to 70L).toSet,
      s"post-bootstrap gap must arrive as one diff batch: $batches")

    // marker-loss recovery: the bootstrap VERSION pin persists
    // separately (write-if-absent), so losing the best-effort
    // committed marker mid-bootstrap neither re-pins a newer version
    // (which would skip the old list's unserved tail — row loss) nor
    // stalls below the committed slice: the recovered offset is the
    // SAME version's full remainder, and Spark's committed start
    // bounds what actually serves
    def endAt(o: String) = new org.apache.spark.sql.execution.streaming.Offset {
      override def json: String = o
    }
    val md3 = s"$base/md3"
    val e = new graft.streaming.GraftChangeFeedSource(
      spark, path, None, Some(md3), None, maxFilesPerTrigger = Some(2L))
    val o1 = e.getOffset.get.json // boot:<v>:2
    assert(o1.startsWith("boot:"), o1)
    val pinnedV = o1.split(":")(1)
    e.getBatch(None, endAt(o1)); e.commit(endAt(o1))
    Snapshot.append(spark, path, "day", rows(71L to 72L, "2024-01-01"))
    val mfs = new org.apache.hadoop.fs.Path(md3)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    mfs.delete(new org.apache.hadoop.fs.Path(md3, "graft-high-water"), false)
    val f = new graft.streaming.GraftChangeFeedSource(
      spark, path, None, Some(md3), None, maxFilesPerTrigger = Some(2L))
    val o2 = f.getOffset.get.json
    val parts = o2.split(":")
    assert(parts(0) == "boot" && parts(1) == pinnedV,
      s"recovery must keep the pinned bootstrap version: $o2 vs $o1")
    val nPinned = Snapshot.filesOf(spark, path, pinnedV.toLong).size.toLong
    assert(parts(2).toLong == nPinned,
      s"unknown-progress recovery offers the full remainder: $o2")
    // the served slice is bounded by the committed start regardless
    assert(f.getBatch(Some(endAt(o1)), endAt(o2)).isStreaming)
  }
}
