package graft

import java.nio.file.Files

import graft.operators.SkewJoin
import graft.sources.{Csv, Sink, Snapshot, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round trips and the salted skew join. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("CSV round trip preserves values under an explicit schema") {
    val dir = tmp("graft-csv")
    val src = Tables.load(spark, SharedSpark.sf0001, "nation")
    Csv.write(src, dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    // cache: Spark refuses corrupt-column-only queries on raw CSV scans
    val back = Csv.read(spark, dir, schema).cache()
    assert(back.where(col(Csv.corruptCol).isNotNull).count() == 0)
    val a = src.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val b = back.drop(Csv.corruptCol).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(a == b)
  }

  // --- events.ts timestamp-encoding drift (VERDICT r12 #1/#2) -------------
  // The driver regenerated events.ts from TIMESTAMP(NANOS) to timestamp[us]
  // and the old unconditional nanos shim broke 8 queries. These fixtures pin
  // both encodings so a future regeneration can't silently zero the family.

  private def loadEventsFixture(name: String): org.apache.spark.sql.DataFrame = {
    val dir = tmp(s"graft-$name")
    val in = getClass.getResourceAsStream(s"/fixtures/$name.parquet")
    assert(in != null, s"missing fixture $name")
    Files.copy(in, java.nio.file.Paths.get(dir, "events.parquet"))
    Tables.load(spark, dir, "events")
  }

  test("events loader dispatches on footer schema: nanos and micros fixtures agree") {
    val micros = loadEventsFixture("events_micros")
    val nanos = loadEventsFixture("events_nanos")
    assert(micros.schema("ts").dataType == TimestampType)
    assert(nanos.schema("ts").dataType == TimestampType)
    def instants(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val a = instants(micros)
    val b = instants(nanos)
    assert(a == b, s"encodings disagree: $a vs $b")
    assert(a.size == 5 && a.head._2 == 1700000000000000L)
  }

  test("NTZ events under a non-UTC session: load pins UTC before the cast") {
    // ADVICE r13: the NTZ→instant cast reads the SESSION time zone, so a
    // session built without UTC would silently shift every NTZ-encoded
    // instant while nanos-encoded files stayed correct. load() must pin
    // the zone the same way it pins nanosAsLong.
    val dir = tmp("graft-ntz")
    spark.sql(
      """SELECT CAST(1 AS BIGINT) AS event_id,
        |  timestamp_ntz'2023-11-14 22:13:20' AS ts,
        |  CAST(1 AS BIGINT) AS user_id, 'click' AS event_type,
        |  CAST(1.0 AS DOUBLE) AS value, '' AS props""".stripMargin)
      .write.parquet(s"$dir/events.parquet")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "load() must pin the session zone before the NTZ cast")
      val micros = df.select(unix_micros(col("ts"))).collect().head.getLong(0)
      assert(micros == 1700000000000000L,
        s"NTZ instant shifted by the session zone: $micros")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("artifact publish is staged + atomic: racing writers never leave a partial dir") {
    val root = tmp("graft-artifact")
    val path = s"$root/model_artifact"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sess = spark // materialize the lazy session on the main thread
    // Two unsynchronized publishers race on the same path (the cross-job
    // shared-storage scenario): both must observe a complete artifact.
    val runs = Seq("a", "b").map { who =>
      Future {
        Sink.publishedArtifact(sess, path) {
          import sess.implicits._
          Seq((1L, "x"), (2L, "y")).toDF("k", "v").coalesce(1)
        }.collect().map(r => (r.getLong(0), r.getString(1))).toSet -> who
      }
    }
    val out = Await.result(Future.sequence(runs), 120.seconds)
    assert(out.forall(_._1 == Set((1L, "x"), (2L, "y"))))
    // the published dir is complete (committed marker present) and no
    // staging residue survives next to or inside it
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sess.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
    val residue = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.contains(".staging-")) ++
      new java.io.File(path).listFiles().map(_.getName).filter(_.contains(".staging-"))
    assert(residue.isEmpty, s"staging residue: ${residue.toSeq}")
    // a later (second-job) publisher finds the artifact and never rebuilds
    val again = Sink.publishedArtifact(sess, path) {
      fail("artifact exists; build must not run"): org.apache.spark.sql.DataFrame
    }
    assert(again.count() == 2)
  }

  test("fingerprinted artifact retrains on corpus change, reuses on no change") {
    // VERDICT r13 #1: a corpus regenerated IN PLACE (same path, new
    // files — exactly what the driver did to events.parquet in r12) must
    // invalidate every trained artifact keyed to it; an unchanged corpus
    // must keep serving the published copy.
    import spark.implicits._
    val root = tmp("graft-fp-artifact")
    val corpus = s"$root/corpus.parquet"
    val base = s"$root/trained"
    var builds = 0
    def serve(): Long = Sink.fingerprintedArtifact(spark, base, corpus) {
      builds += 1
      spark.read.parquet(corpus).groupBy().count().coalesce(1)
    }.collect().head.getLong(0)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(corpus)
    assert(serve() == 2L && builds == 1)
    // unchanged corpus → same fingerprint → the build must NOT rerun
    assert(serve() == 2L && builds == 1)
    // in-place regeneration → new fingerprint → retrain, fresh result
    Seq(1L, 2L, 3L, 4L, 5L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(corpus)
    assert(serve() == 5L,
      "artifact served stale training output after corpus regeneration")
    assert(builds == 2)
  }

  test("eventsByDate partitions identically across ts encodings") {
    // the partitioned serving layout rides Tables.load, so both pinned
    // encodings (nanos fixture, micros fixture) must produce the same
    // event_date dirs and the same rows-per-date — a regeneration that
    // flips the encoding cannot silently shift the layout's dates
    def layout(name: String): Seq[(String, Long)] = {
      val dir = tmp(s"graft-ebd-$name")
      val in = getClass.getResourceAsStream(s"/fixtures/$name.parquet")
      Files.copy(in, java.nio.file.Paths.get(dir, "events.parquet"))
      Tables.eventsByDate(spark, dir)
        .groupBy(col("event_date").cast(StringType)).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    }
    val a = layout("events_micros")
    val b = layout("events_nanos")
    assert(a == b, s"layouts diverge across encodings: $a vs $b")
    assert(a.nonEmpty && a.head._1 == "2023-11-14")
  }

  test("eventsByDate files are ts-sorted inside each date partition") {
    // the two-level skip: q41's layout prunes DIRECTORIES by date; rows
    // inside each date file must be ts-clustered so an intra-day
    // predicate can also skip row groups (tight footer min/max per
    // group). Single-file reads preserve row order, so sortedness is
    // directly observable.
    val files = Tables.eventsByDate(spark, SharedSpark.sf0001).inputFiles
    assert(files.length > 1)
    files.take(5).foreach { f =>
      val ts = spark.read.parquet(f).select(col("ts"))
        .collect().map(_.getTimestamp(0).getTime)
      assert(ts.nonEmpty && ts.sameElements(ts.sorted), s"$f not ts-sorted")
    }
  }

  test("schema evolution: merged read sees every generation's columns") {
    // two snapshot generations of an events table in ONE directory:
    // gen1 predates the `channel` column, gen2 carries it — the shape a
    // long-lived table always reaches
    val dir = tmp("graft-evolve")
    val base = Tables.load(spark, SharedSpark.sf0001, "events")
    base.where(col("event_id") % 2 === 0)
      .write.parquet(s"$dir/events.parquet")
    base.where(col("event_id") % 2 === 1)
      .withColumn("channel", concat(lit("ch-"), col("event_id") % 3))
      .write.mode("append").parquet(s"$dir/events.parquet")
    val merged = Tables.load(spark, dir, "events", mergeSchema = true)
    // deterministic union schema: the late column is always visible
    assert(merged.columns.contains("channel"))
    assert(merged.count() == base.count())
    // pre-addition rows read as null, post-addition rows keep values
    assert(merged.where(col("event_id") % 2 === 0)
      .where(col("channel").isNotNull).count() == 0)
    assert(merged.where(col("event_id") % 2 === 1)
      .where(col("channel").isNull).count() == 0)
    // ts dispatch still applies through the merged read (micros cast
    // path here), and filters still reach the scan
    assert(merged.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val filtered = merged.where(col("event_type") === "view")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type)"),
      s"filter not pushed through merged scan:\n$scan")
  }

  test("eventsByDate hot-date cap splits files without breaking sort or pruning") {
    val cap = 20L // hottest sf0.001 date has 50 events → must split
    val layout = Tables.eventsByDate(spark, SharedSpark.sf0001,
      maxRecordsPerFile = cap)
    // same rows as the uncapped layout
    assert(layout.count() ==
      Tables.load(spark, SharedSpark.sf0001, "events").count())
    val byDir = layout.inputFiles.groupBy(f =>
      f.substring(0, f.lastIndexOf('/')))
    // at least one hot date actually split…
    assert(byDir.exists(_._2.length > 1))
    // …and every file respects the cap and keeps its ts clustering
    byDir.values.flatten.foreach { f =>
      val ts = spark.read.parquet(f).select(col("ts"))
        .collect().map(_.getTimestamp(0).getTime)
      assert(ts.length <= cap, s"$f exceeds cap: ${ts.length}")
      assert(ts.sameElements(ts.sorted), s"$f not ts-sorted")
    }
  }

  test("eventsClustered: files are disjoint ts slices covering every row") {
    // the mechanism row-group skipping rests on: range-partition + sort
    // on ts means each data file's [min,max] is a tight, pairwise-
    // disjoint slice — so a footer-stats check can discard whole files
    val layout = Tables.eventsClustered(spark, SharedSpark.sf0001)
    val ranges = layout
      .groupBy(input_file_name().as("f"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("lo").getTime,
        r.getAs[java.sql.Timestamp]("hi").getTime, r.getAs[Long]("n")))
      .sortBy(_._1)
    assert(ranges.length > 1, "clustered layout collapsed to one file")
    assert(ranges.map(_._3).sum == 1000L)
    ranges.sliding(2).foreach {
      case Array((_, hiA, _), (loB, _, _)) =>
        assert(hiA <= loB, s"file slices overlap: $hiA > $loB")
      case _ =>
    }
    // serving copy is value-complete: same rows as the source of truth
    assert(layout.count() ==
      Tables.load(spark, SharedSpark.sf0001, "events").count())
  }

  test("tricky partition values: round-trip-safe ones compact; a non-canonical dir aborts intact") {
    import spark.implicits._
    // "01" tempts integer inference (would become 1 and break the
    // plan-key ↔ routed-value match); Spark's round-trip-safe inference
    // keeps it a string, and the rewrite must preserve value and rows.
    // "02" holds one file — already at its target, so compaction must
    // leave its manifest entry alone
    val path = s"${tmp("graft-badpart")}/layout"
    Seq((1L, 20L, "01"), (3L, 30L, "02")).toDF("event_id", "ts_ms", "event_date")
      .coalesce(1).write.partitionBy("event_date").parquet(path)
    Seq((2L, 10L, "01")).toDF("event_id", "ts_ms", "event_date")
      .coalesce(1).write.mode("append").partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date")
    def filesOf(part: String): Seq[String] =
      Snapshot.currentFiles(spark, path)._2.filter(_.startsWith(s"$part/"))
    val untouched = filesOf("event_date=02")
    val res = Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    assert(res == Seq(("event_date=01", 2, 1)))
    assert(filesOf("event_date=02") == untouched)
    assert(Snapshot.readSnapshot(spark, path).select("event_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // storage identity preserved: the rewritten file lands under the
    // exact dir name (a serving read infers "01" as int 1 — same before
    // and after, that is reader semantics; maintenance must not rewrite
    // the dir to "event_date=1" or lose it)
    assert(filesOf("event_date=01").size == 1)
    assert(!new java.io.File(s"$path/event_date=1").exists())
    // idempotent: a second sweep finds nothing to do
    assert(Snapshot.compact(spark, path, "event_date", 1L << 30,
      Seq("ts_ms")).isEmpty)

    // an EXTERNALLY-written dir with non-canonical escaping ("a%62"
    // unescapes to "ab", which re-escapes to "ab" — a different dir
    // name): the staged rewrite lands under the canonical name, so the
    // pre-commit validation must abort with the snapshot unchanged
    // instead of committing the partition away
    val path2 = s"${tmp("graft-badpart")}/external"
    val flat = s"${tmp("graft-badpart")}/flat"
    Seq((3L, 30L)).toDF("event_id", "ts_ms").coalesce(1).write.parquet(flat)
    Seq((4L, 40L)).toDF("event_id", "ts_ms").coalesce(1)
      .write.mode("append").parquet(flat)
    val dir = new java.io.File(s"$path2/event_date=a%62")
    assert(dir.mkdirs())
    new java.io.File(flat).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(dir, f.getName).toPath)
      }
    Snapshot.init(spark, path2, "event_date")
    def state(): (Option[Long], Set[Long]) =
      (Snapshot.currentVersion(spark, path2),
        Snapshot.readSnapshot(spark, path2).select("event_id").collect()
          .map(_.getLong(0)).toSet)
    val before = state()
    assert(before == (Some(1L), Set(3L, 4L)))
    val ex = intercept[IllegalStateException] {
      Snapshot.compact(spark, path2, "event_date", 1L << 30, Seq("ts_ms"))
    }
    assert(ex.getMessage.contains("staged rewrite missing"),
      s"wrong failure mode: ${ex.getMessage}")
    // nothing committed: same version, same rows
    assert(state() == before)
  }

  test("fingerprint retention sweep keeps current + N, deletes older prints") {
    import spark.implicits._
    val base = s"${tmp("graft-gc")}/family"
    // three published prints with distinct mtimes (oldest → newest)
    Seq("aaa", "bbb", "ccc").foreach { fp =>
      Seq(1L).toDF("k").coalesce(1).write.parquet(s"$base/fp_$fp")
      new java.io.File(s"$base/fp_$fp")
        .setLastModified(System.currentTimeMillis() - (if (fp == "aaa") 200000L
          else if (fp == "bbb") 100000L else 0L)): Unit
    }
    val deleted = Sink.pruneStaleFingerprints(spark, base, current = "ccc",
      keepPrevious = 1)
    // current ccc survives by name, bbb survives as the 1 newest other,
    // aaa (oldest) is retired
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("fp_aaa"))
    val left = new java.io.File(base).listFiles().map(_.getName).toSet
    assert(left == Set("fp_bbb", "fp_ccc"))
    // live print still reads
    assert(spark.read.parquet(s"$base/fp_ccc").count() == 1)
    // a second sweep is a no-op
    assert(Sink.pruneStaleFingerprints(spark, base, "ccc", 1).isEmpty)
  }

  test("a partial (uncommitted) artifact dir is rebuilt, not served") {
    // ADVICE r13: exists() alone would trust a dir a crashed legacy
    // writer left half-written; the committed _SUCCESS marker gates reuse.
    import spark.implicits._
    val root = tmp("graft-partial-artifact")
    val path = s"$root/model_artifact"
    // fake a crashed unstaged writer: parquet data present, no _SUCCESS
    Seq((1L, "stale")).toDF("k", "v").coalesce(1)
      .write.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_SUCCESS"), false)
    val served = Sink.publishedArtifact(spark, path) {
      Seq((1L, "rebuilt"), (2L, "rebuilt")).toDF("k", "v").coalesce(1)
    }
    assert(served.count() == 2, "partial artifact dir was served as-is")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
  }

  test("CSV malformed rows land in the corrupt-record column, not dropped") {
    val dir = tmp("graft-csv-bad")
    Files.writeString(java.nio.file.Paths.get(dir, "part.csv"),
      "k,v\n1,one\nnot_an_int,two\n3,three\n")
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val df = Csv.read(spark, dir, schema).cache()
    assert(df.count() == 3)
    assert(df.where(col(Csv.corruptCol).isNotNull).count() == 1)
  }

  test("bucketed sink writes once with n files, same rows back") {
    val dir = tmp("graft-bucketed")
    val src = Tables.load(spark, SharedSpark.sf0001, "orders")
    Sink.overwriteBucketed(src, dir, "o_custkey", 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 8)
  }

  test("partitioned sink enables partition pruning on read") {
    val dir = tmp("graft-partitioned")
    val src = Tables.load(spark, SharedSpark.sf0001, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
    Sink.overwritePartitioned(src, dir, "order_year")
    val pruned = spark.read.parquet(dir).where(col("order_year") === 1995)
    // physical proof: the scan's input files all come from one partition dir
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      src.where(col("order_year") === 1995).count())
    assert(new java.io.File(dir).listFiles().exists(_.getName == "order_year=1995"))
    assert(!plan.contains("order_year=1994")) // no cross-partition file refs
  }

  test("bucketed tables join with zero shuffle") {
    val o = Tables.load(spark, SharedSpark.sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    val li = Tables.load(spark, SharedSpark.sf0001, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Sink.saveBucketedTable(o, "b_orders", "o_orderkey", 4)
    Sink.saveBucketedTable(li, "b_lineitem", "o_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      val plainCount = o.join(li, Seq("o_orderkey")).count()
      assert(joined.count() == plainCount)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("JDBC sink round trip: append, re-append, truncate-overwrite") {
    // Embedded Derby (ships with Spark) stands in for the reference's
    // serving database; same Sink call path as any JDBC target.
    val url = s"jdbc:derby:${tmp("graft-derby")}/db;create=true"
    val src = Tables.load(spark, SharedSpark.sf0001, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val n = src.count()
    Sink.jdbcAppend(src, url, "nation_t", batchSize = 7, numPartitions = Some(2))
    val back = Sink.jdbcRead(spark, url, "nation_t")
    assert(back.count() == n)
    assert(back.columns.map(_.toLowerCase).sorted
      sameElements Array("n_name", "n_nationkey", "n_regionkey"))
    val a = src.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val b = back.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(a == b)
    // append accumulates...
    Sink.jdbcAppend(src, url, "nation_t")
    assert(Sink.jdbcRead(spark, url, "nation_t").count() == 2 * n)
    // ...truncate-overwrite resets to exactly one copy, table intact
    Sink.jdbcOverwrite(src, url, "nation_t")
    assert(Sink.jdbcRead(spark, url, "nation_t").count() == n)
    // partitioned read-back fans out without changing the result
    val ranged = Sink.jdbcRead(spark, url, "nation_t",
      partitionColumn = Some(("n_nationkey", 0L, 25L, 3)))
    assert(ranged.rdd.getNumPartitions == 3)
    assert(ranged.count() == n)

    // staged atomic refresh: serving table swaps to the new content,
    // staging and displaced copies are gone afterwards
    val half = src.where(col("n_nationkey") < 12)
    Sink.jdbcStagedRefresh(half, url, "nation_t")
    val swapped = Sink.jdbcRead(spark, url, "nation_t")
    assert(swapped.count() == half.count())
    assert(swapped.collect().map(_.getInt(0)).toSet ==
      half.collect().map(_.getInt(0)).toSet)
    intercept[Exception](Sink.jdbcRead(spark, url, "nation_t_stg").collect())
    intercept[Exception](Sink.jdbcRead(spark, url, "nation_t_old").collect())
    // works as the FIRST load too (no serving table yet to displace)
    Sink.jdbcStagedRefresh(src, url, "nation_fresh")
    assert(Sink.jdbcRead(spark, url, "nation_fresh").count() == n)
  }

  test("salted join equals the plain equi-join") {
    val li = Tables.load(spark, SharedSpark.sf0001, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, SharedSpark.sf0001, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = SkewJoin.salted(li, o, "l_orderkey", 7).count()
    assert(salted == plain)
  }

  test("local-dir chooser: tmpfs only with headroom, else JVM default") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-localdir").toFile
    try {
      // plenty of headroom (1 byte bound) → candidate wins, subdir appended
      val won = Tables.chooseLocalDir(tmp, minFree = 1L, fallback = "/fb")
      assert(won == new java.io.File(tmp, "graft-spark-local").getPath)
      // impossible bound (more free space than any filesystem reports)
      // → fallback, protecting a near-full tmpfs from mid-stage ENOSPC
      assert(Tables.chooseLocalDir(tmp, minFree = Long.MaxValue,
        fallback = "/fb") == "/fb")
      // candidate not a directory → fallback
      assert(Tables.chooseLocalDir(new java.io.File(tmp, "absent"),
        minFree = 1L, fallback = "/fb") == "/fb")
      // the shipped default bound is sane: positive and far below the
      // 126 GiB this class of box provisions
      assert(Tables.MinTmpfsFreeBytes > 0 &&
        Tables.MinTmpfsFreeBytes < (64L << 30))
    } finally tmp.delete(): Unit
  }
}
