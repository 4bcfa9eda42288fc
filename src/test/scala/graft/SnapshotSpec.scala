package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot-manifest contract (VERDICT r14 #1): readers list from a
  * committed manifest, writers commit a whole maintenance pass with one
  * atomic rename — so a reader concurrent with compaction or deletion
  * sees exactly the old or the new snapshot, never an error or a gap. */
class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** 3 dates × users {3,5,7}, several files per date (compaction fodder). */
  private def buildLayout(): String = {
    import spark.implicits._
    val path = s"${tmp("graft-snap")}/events_by_date"
    val rows = for {
      d <- 1 to 3
      u <- Seq(3L, 5L, 7L)
      i <- 0 until 4
    } yield (d * 100L + u * 10 + i, u, (d * 100 + i).toLong, f"2024-01-0$d%d")
    rows.toDF("event_id", "user_id", "ts_ms", "event_date")
      .repartition(4)
      .write.partitionBy("event_date").parquet(path)
    path
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("event_id").collect().map(_.getLong(0)).toSet

  test("init bootstraps v1; readSnapshot ≡ the directory read, partition column intact") {
    val path = buildLayout()
    assert(Snapshot.init(spark, path, "event_date") == 1L)
    // idempotent: a second init adopts the existing manifest
    assert(Snapshot.init(spark, path, "event_date") == 1L)
    val snap = Snapshot.readSnapshot(spark, path)
    val dir = spark.read.parquet(path)
    assert(snap.columns.sorted.sameElements(dir.columns.sorted),
      s"snapshot lost columns: ${snap.columns.mkString(",")}")
    assert(ids(snap) == ids(dir))
    // the partition column came through the basePath read
    assert(snap.select("event_date").distinct().count() == 3)
  }

  test("create commits an empty declared-schema v1; reads serve zero typed rows; the first append fills it") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = s"${tmp("graft-create")}/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("day", StringType)))
    assert(Snapshot.create(spark, path, schema, "day") == 1L)
    // declared schema, zero rows — through the plain, the pinned, and
    // the lineage-shaped read alike
    val empty = Snapshot.readSnapshot(spark, path)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v", "day"))
    assert(empty.count() == 0L)
    assert(Snapshot.readVersion(spark, path, 1L).count() == 0L)
    // a created lineage table serves the id column empty too
    val lpath = s"${tmp("graft-create")}/lt"
    Snapshot.create(spark, lpath, schema, "day",
      meta = Map("rowids" -> "on")): Unit
    val lempty = Snapshot.readVersionLineage(spark, lpath,
      Snapshot.currentVersion(spark, lpath).get)
    assert(lempty.columns.contains("_row_id") && lempty.count() == 0L)
    // refusals: duplicate create; partition column outside the schema
    intercept[IllegalArgumentException](
      Snapshot.create(spark, path, schema, "day"))
    intercept[IllegalArgumentException](
      Snapshot.create(spark, s"${tmp("graft-create")}/t2", schema, "nope"))
    // first data = a normal append, rebase-committed on the create
    Snapshot.append(spark, path, "day",
      Seq((1L, 1.5, "d1"), (2L, 2.5, "d2")).toDF("id", "v", "day")): Unit
    assert(ids(Snapshot.readSnapshot(spark, path)
      .withColumnRenamed("id", "event_id")) == Set(1L, 2L))
  }

  test("a concurrent reader NEVER sees a gap or an error across delete + compact commits") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val s0 = ids(Snapshot.readSnapshot(spark, path))
    val s1 = s0.filterNot(id => (id / 10) % 10 == 3) // after forget-user 3
    val s2 = s1.filterNot(id => (id / 10) % 10 == 5) // after forget-user 5
    val valid = Set(s0, s1, s2)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val nReads = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val got = ids(Snapshot.readSnapshot(spark, path))
          nReads.incrementAndGet(): Unit
          if (!valid(got))
            bad.add(s"inconsistent snapshot: ${got.toSeq.sorted.mkString(",")}"): Unit
        } catch {
          case e: Throwable => bad.add(s"reader failed: $e"): Unit
        }
      }
    })
    reader.start()
    try {
      // four maintenance commits interleaving with the reader: two
      // deletes (row-set transitions) and two compactions (file-set
      // transitions at a FIXED row set — the pure swap case the raw-Hive
      // two-rename window breaks)
      assert(Snapshot.deleteWhere(spark, path, "event_date",
        col("user_id") === 3L, Seq("ts_ms")).map(_._2).sum == 12L)
      Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
      assert(Snapshot.deleteWhere(spark, path, "event_date",
        col("user_id") === 5L, Seq("ts_ms")).map(_._2).sum == 12L)
      Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(bad.isEmpty, s"reader observed: ${bad.toArray.mkString("; ")}")
    assert(nReads.get() > 0, "reader never completed a snapshot read")
    assert(ids(Snapshot.readSnapshot(spark, path)) == s2)
    // compaction restored clustering inside the rewritten partitions
    val ts = Snapshot.readSnapshot(spark, path)
      .where(col("event_date") === "2024-01-02")
      .select("ts_ms").collect().map(_.getLong(0))
    assert(ts.sameElements(ts.sorted), "compaction lost the sort contract")
  }

  test("delete leaves clean partitions' manifest entries and files untouched") {
    import spark.implicits._
    val path = s"${tmp("graft-snap-clean")}/layout"
    // event 4 has a NULL user_id: `user_id === 3` is NULL there, and
    // three-valued logic must KEEP the row (a bare !pred filter loses it)
    Seq((1L, java.lang.Long.valueOf(3L), "2024-01-01"),
        (2L, java.lang.Long.valueOf(7L), "2024-01-01"),
        (3L, java.lang.Long.valueOf(7L), "2024-01-02"),
        (4L, null.asInstanceOf[java.lang.Long], "2024-01-01"))
      .toDF("event_id", "user_id", "event_date").coalesce(1)
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date")
    val before = Snapshot.currentFiles(spark, path)._2
      .filter(_.startsWith("event_date=2024-01-02"))
    def fileStats(rel: Seq[String]): Set[(String, Long)] = rel.map { r =>
      val f = new java.io.File(s"$path/$r")
      (r, f.lastModified())
    }.toSet
    val statsBefore = fileStats(before)
    val res = Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L)
    assert(res.map(_._1) == Seq("event_date=2024-01-01"))
    val after = Snapshot.currentFiles(spark, path)._2
      .filter(_.startsWith("event_date=2024-01-02"))
    assert(after == before, "clean partition's manifest entries changed")
    assert(fileStats(after) == statsBefore, "clean partition's files rewritten")
    // the NULL-user row survived the rewrite of its partition
    assert(ids(Snapshot.readSnapshot(spark, path)) == Set(2L, 3L, 4L))
    assert(Snapshot.readSnapshot(spark, path)
      .where(col("user_id").isNull).count() == 1)
    // idempotent: nothing left to delete
    assert(Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L).isEmpty)
  }

  test("a fully-matching partition drops from the manifest with zero data work") {
    import spark.implicits._
    val path = s"${tmp("graft-snap-drop")}/layout"
    Seq((1L, 3L, "2024-01-01"), (2L, 7L, "2024-01-02"))
      .toDF("event_id", "user_id", "event_date").coalesce(1)
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date")
    val res = Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L).toMap
    assert(res == Map("event_date=2024-01-01" -> 1L))
    assert(Snapshot.currentFiles(spark, path)._2
      .forall(_.startsWith("event_date=2024-01-02")))
    assert(ids(Snapshot.readSnapshot(spark, path)) == Set(2L))
    // the emptied partition's FILES still exist (an older snapshot may be
    // pinned) — they retire at expiry, not at commit
    assert(Snapshot.readVersion(spark, path, 1L).count() == 2)
  }

  test("uncommitted files in partition dirs are invisible to snapshot readers") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val before = ids(Snapshot.readSnapshot(spark, path))
    // a crashed writer's debris: a valid parquet file landed in a live
    // partition dir but never committed to any manifest
    Seq((999L, 9L, 9L)).toDF("event_id", "user_id", "ts_ms").coalesce(1)
      .write.parquet(s"$path/.orphan")
    val orphan = new java.io.File(s"$path/.orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$path/event_date=2024-01-01/${orphan.getName}")
    assert(orphan.renameTo(dst))
    assert(ids(Snapshot.readSnapshot(spark, path)) == before,
      "snapshot read picked up an uncommitted file")
    // ... while a DIRECTORY read cannot tell debris from data — the
    // exact failure mode the manifest exists to prevent
    assert(ids(spark.read.parquet(path)) == before + 999L)
  }

  test("append lands atomically with metadata; old files, pinned versions and new partitions coexist") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val (v1, files1) = Snapshot.currentFiles(spark, path)
    val delta = Seq(
      (9001L, 9L, 1L, "2024-01-03"), // existing partition
      (9002L, 9L, 2L, "2024-01-04")) // brand-new partition
      .toDF("event_id", "user_id", "ts_ms", "event_date")
    val v2 = Snapshot.append(spark, path, "event_date", delta,
      Map("source" -> "spec"))
    assert(v2 == v1 + 1)
    val meta = Snapshot.metaOf(spark, path, v2)
    assert(meta.get("op").contains("append"))
    assert(meta.get("source").contains("spec"))
    val files2 = Snapshot.currentFiles(spark, path)._2
    assert(files1.toSet.subsetOf(files2.toSet),
      "append dropped pre-existing manifest entries")
    assert(files2.exists(_.startsWith("event_date=2024-01-04/")),
      "append did not create the new partition")
    val before = ids(Snapshot.readVersion(spark, path, v1))
    assert(ids(Snapshot.readSnapshot(spark, path)) == before ++ Set(9001L, 9002L))
    // the pinned pre-append version never sees the new rows
    assert(!ids(Snapshot.readVersion(spark, path, v1)).contains(9001L))
  }

  test("an empty append advances the version carrying metadata only") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val empty = Seq.empty[(Long, Long, Long, String)]
      .toDF("event_id", "user_id", "ts_ms", "event_date")
    val v2 = Snapshot.append(spark, path, "event_date", empty, Map("batch" -> "7"))
    assert(v2 == 2L)
    assert(Snapshot.metaOf(spark, path, 2L).get("batch").contains("7"))
    assert(Snapshot.changes(spark, path, 1L, 2L).count() == 0)
    assert(ids(Snapshot.readSnapshot(spark, path)) ==
      ids(Snapshot.readVersion(spark, path, 1L)))
  }

  test("changes returns exactly the appended rows and refuses to cross a rewrite") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date") // v1
    def delta(id: Long) = Seq((id, 9L, id, "2024-01-05"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
    Snapshot.append(spark, path, "event_date", delta(9001L)) // v2
    Snapshot.append(spark, path, "event_date", delta(9002L)) // v3
    assert(ids(Snapshot.changes(spark, path, 1L, 2L)) == Set(9001L))
    assert(ids(Snapshot.changes(spark, path, 2L, 3L)) == Set(9002L))
    assert(ids(Snapshot.changes(spark, path, 1L, 3L)) == Set(9001L, 9002L))
    // the partition column rides the feed (basePath read)
    assert(Snapshot.changes(spark, path, 1L, 3L)
      .select("event_date").distinct().count() == 1)
    // a delete commit re-files surviving rows — incremental attribution
    // breaks, and the feed says so instead of double-reading
    Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L, Seq("ts_ms")) // v4
    val ex = intercept[IllegalStateException](
      Snapshot.changes(spark, path, 1L, 4L))
    assert(ex.getMessage.contains("op=delete"))
    // ...while a window that stops before the rewrite still serves
    assert(ids(Snapshot.changes(spark, path, 1L, 3L)) == Set(9001L, 9002L))
  }

  test("transaction identity survives maintenance commits and expiry; O(1) replay guard stays sound") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    Snapshot.append(spark, path, "event_date",
      Seq((9001L, 9L, 1L, "2024-01-05"))
        .toDF("event_id", "user_id", "ts_ms", "event_date"),
      Map("run" -> "run-X", "batch" -> "7"))
    // a rewrite commit carries the ingest identity forward (table state,
    // the Delta txn-appId discipline)...
    assert(Snapshot.compact(spark, path, "event_date", 1L << 30,
      Seq("ts_ms")).nonEmpty)
    val m = Snapshot.currentMeta(spark, path).get
    assert(m.get("op").contains("compact"))
    assert(m.get("run").contains("run-X") && m.get("batch").contains("7"),
      s"maintenance commit dropped the ingest identity: $m")
    // ...and survives expiring the append manifest itself
    Snapshot.expire(spark, path, "event_date", keep = 1)
    val m2 = Snapshot.currentMeta(spark, path).get
    assert(m2.get("run").contains("run-X") && m2.get("batch").contains("7"))
    // so the current-manifest-only replay guard still works: a replayed
    // batch no-ops, a foreign run still fails loudly
    val before = Snapshot.versions(spark, path)
    val batch = Seq((9002L, 9L, 2L, "2024-01-05"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
    graft.streaming.EventStreams.appendBatchToSnapshot(batch, path, 7L, Some("run-X"))
    assert(Snapshot.versions(spark, path) == before, "replay was re-ingested")
    intercept[IllegalStateException] {
      graft.streaming.EventStreams.appendBatchToSnapshot(batch, path, 8L, Some("run-Y"))
    }
  }

  test("a snapshot-managed corpus fingerprints from the manifest, not the listing") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val fp1 = graft.sources.Sink.corpusFingerprint(spark, path)
    assert(graft.sources.Sink.corpusFingerprint(spark, path) == fp1)
    // uncommitted debris in a live partition dir moves a LISTING print but
    // not the manifest print — the staleness key tracks committed content
    Seq((999L, 9L, 9L)).toDF("event_id", "user_id", "ts_ms").coalesce(1)
      .write.parquet(s"$path/.orphan")
    val orphan = new java.io.File(s"$path/.orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(orphan.renameTo(
      new java.io.File(s"$path/event_date=2024-01-01/${orphan.getName}")))
    assert(graft.sources.Sink.corpusFingerprint(spark, path) == fp1,
      "uncommitted debris moved the manifest-keyed fingerprint")
    // every commit moves it
    Snapshot.append(spark, path, "event_date",
      Seq((9001L, 9L, 1L, "2024-01-05"))
        .toDF("event_id", "user_id", "ts_ms", "event_date"))
    assert(graft.sources.Sink.corpusFingerprint(spark, path) != fp1)
  }

  test("snapshot delete + compact rewrites are ONE job: constant count vs dirty-partition count") {
    import spark.implicits._
    def build(nParts: Int): String = {
      val path = s"${tmp("graft-snapjobs")}/layout"
      // every date: users 3 and 7 interleaved, 4 files (oversplit AND
      // partially dirty for user-3 deletion) — the forget-user shape
      val rows = (0 until nParts * 8).map { i =>
        (i.toLong, if (i % 4 == 0) 3L else 7L, i.toLong,
          f"2024-01-${i % nParts + 1}%02d")
      }
      rows.toDF("event_id", "user_id", "ts_ms", "event_date")
        .repartition(4).write.partitionBy("event_date").parquet(path)
      Snapshot.init(spark, path, "event_date")
      path
    }
    val small = build(3)
    val big = build(9)
    val delSmall = TestJobs.jobsDuring(spark) {
      assert(Snapshot.deleteWhere(spark, small, "event_date",
        col("user_id") === 3L, Seq("ts_ms")).size == 3)
    }
    val delBig = TestJobs.jobsDuring(spark) {
      assert(Snapshot.deleteWhere(spark, big, "event_date",
        col("user_id") === 3L, Seq("ts_ms")).size == 9)
    }
    assert(delSmall == delBig,
      s"snapshot delete scales with dirty count: $delSmall vs $delBig jobs")
    // the clustering contract is per-FILE: every survivor file of the
    // one-job rewrite holds a sorted ts range (what footer min/max
    // skipping needs)
    Snapshot.currentFiles(spark, big)._2
      .filter(_.startsWith("event_date=2024-01-02/")).foreach { f =>
        val ts = spark.read.parquet(s"$big/$f")
          .select("ts_ms").collect().map(_.getLong(0))
        assert(ts.sameElements(ts.sorted),
          s"sort clustering lost in rewrite file $f")
      }
    // fresh layouts for the compact pin with file counts on the same
    // side of Spark's parallel-listing threshold (the snapshot read
    // lists EXACT manifest files; past 32 paths Spark adds one parallel
    // listing job — a scale feature, not a per-partition loop)
    def build2(nParts: Int): String = {
      val path = s"${tmp("graft-snapjobs")}/layout2"
      val rows = (0 until nParts * 8).map { i =>
        (i.toLong, 7L, i.toLong, f"2024-01-${i % nParts + 1}%02d")
      }
      rows.toDF("event_id", "user_id", "ts_ms", "event_date")
        .repartition(2).write.partitionBy("event_date").parquet(path)
      Snapshot.init(spark, path, "event_date")
      path
    }
    val small2 = build2(3)
    val big2 = build2(9)
    val cmpSmall = TestJobs.jobsDuring(spark) {
      assert(Snapshot.compact(spark, small2, "event_date", 1L << 30,
        Seq("ts_ms")).size == 3)
    }
    val cmpBig = TestJobs.jobsDuring(spark) {
      // every oversplit partition lands at its bin-packed target of one
      assert(Snapshot.compact(spark, big2, "event_date", 1L << 30,
        Seq("ts_ms")).map(_._3) == Seq.fill(9)(1))
    }
    assert(cmpSmall == cmpBig,
      s"snapshot compact scales with partition count: $cmpSmall vs $cmpBig jobs")
    // the vector write and the survivor rewrite the delete/compact pins
    // share: a merge-on-read delete, an update, and the materialization
    // of their vectors also run a constant number of jobs (build2's
    // file counts: both layouts stay under the listing threshold)
    def build3(nParts: Int): String = {
      val path = s"${tmp("graft-snapjobs")}/layout3"
      val rows = (0 until nParts * 8).map { i =>
        (i.toLong, if (i % 4 == 0) 3L else 7L, i.toLong,
          f"2024-01-${i % nParts + 1}%02d")
      }
      rows.toDF("event_id", "user_id", "ts_ms", "event_date")
        .repartition(2).write.partitionBy("event_date").parquet(path)
      Snapshot.init(spark, path, "event_date")
      path
    }
    val small3 = build3(3)
    val big3 = build3(9)
    Seq[(String, String => Unit)](
      "deleteWhereMoR" -> { p =>
        assert(Snapshot.deleteWhereMoR(spark, p, "event_date",
          col("user_id") === 3L)._2 > 0) },
      "updateWhere" -> { p =>
        assert(Snapshot.updateWhere(spark, p, "event_date",
          col("user_id") === 7L, Map("ts_ms" -> (col("ts_ms") + 1L)))._2 > 0) },
      "materializeDeletes" -> { p =>
        assert(Snapshot.materializeDeletes(spark, p, "event_date",
          Seq("ts_ms")).nonEmpty) }
    ).foreach { case (name, op) =>
      val s = TestJobs.jobsDuring(spark)(op(small3))
      val b = TestJobs.jobsDuring(spark)(op(big3))
      assert(s == b,
        s"snapshot $name scales with dirty-partition count: $s vs $b jobs")
    }
    val snap3 = Snapshot.readSnapshot(spark, big3)
    assert(Snapshot.deletesOf(spark, big3,
      Snapshot.currentVersion(spark, big3).get).isEmpty)
    assert(snap3.where(col("user_id") === 3L).count() == 0)
    assert(snap3.count() == 9 * 8 * 3 / 4)
    assert(snap3.where(col("ts_ms") === col("event_id") + 1L).count() ==
      9 * 8 * 3 / 4)
    // the one-job passes still produced the right tables
    val snap = Snapshot.readSnapshot(spark, big)
    assert(snap.where(col("user_id") === 3L).count() == 0)
    assert(snap.count() == 9 * 8 * 3 / 4)
    assert(Snapshot.readSnapshot(spark, big2).count() == 9 * 8)
  }

  test("a snapshot write runs only its data writes: pinned job counts, the same at 3 and 9 partitions") {
    import spark.implicits._
    // a table with stats and null counts, 2 files per date (both layouts
    // stay under Spark's 32-path parallel-listing threshold)
    def build(nParts: Int): String = {
      val path = s"${tmp("graft-snappins")}/layout"
      Snapshot.append(spark, path, "event_date",
        (0 until nParts * 8).map { i =>
          (i.toLong, Seq(3L, 5L, 7L, 7L)(i % 4), i.toLong,
            f"2024-01-${i % nParts + 1}%02d")
        }.toDF("event_id", "user_id", "ts_ms", "event_date").repartition(2),
        meta = Map("stats" -> "event_id,user_id", "nullstats" -> "on"))
      path
    }
    // each op's pinned count, in order: the append's write; the
    // delete's staged match write and its one-task vector write; the
    // update's broadcast of the delete's vector, its staged match write,
    // and its vector and image writes (the image clusters through a
    // shuffle: 2); the fold's vector audit (its per-file pass feeds the
    // fold), survivor routing (2) and rewrite. No op runs a statistics,
    // count or distinct job.
    val ops = Seq[(String, Int, String => Unit)](
      ("append", 1, p => Snapshot.append(spark, p, "event_date",
        Seq((1000L, 9L, 1000L, "2024-01-01"))
          .toDF("event_id", "user_id", "ts_ms", "event_date")): Unit),
      ("deleteWhereMoR", 2, p => assert(Snapshot.deleteWhereMoR(spark, p,
        "event_date", col("user_id") === 3L)._2 > 0)),
      ("updateWhere", 5, p => assert(Snapshot.updateWhere(spark, p,
        "event_date", col("user_id") === 7L,
        Map("ts_ms" -> (col("ts_ms") + 1L)))._2 > 0)),
      ("maintain fold", 4, p => assert(Snapshot.maintain(spark, p,
        "event_date", Snapshot.MaintainPolicy(maxVectors = 0L))
        .exists(a => a.signal == "deletion_vectors" && a.fired))))
    val small = build(3)
    val big = build(9)
    ops.foreach { case (name, pinned, op) =>
      Seq(small -> 3, big -> 9).foreach { case (p, n) =>
        val sites = TestJobs.jobSitesDuring(spark)(op(p))
        assert(sites.size == pinned,
          s"$name at $n partitions ran ${sites.size} jobs, pinned $pinned:" +
            TestJobs.describe(sites))
      }
    }
    // the writes landed: user 3 gone, user 7 re-imaged, the append kept
    val snap = Snapshot.readSnapshot(spark, big)
    assert(snap.count() == 9 * 8 * 3 / 4 + 1)
    assert(snap.where(col("user_id") === 5L).count() == 9 * 8 / 4)
    assert(snap.where(col("user_id") === 3L).count() == 0)
    assert(snap.where(col("user_id") === 7L && col("ts_ms") =!= col("event_id") + 1L)
      .count() == 0)
  }

  test("snapshot reads keep the partition-pruning contract: a date predicate is a PartitionFilter") {
    // manifest isolation must not cost data skipping: readSnapshot feeds
    // Spark an explicit file list, and a partition-column predicate on it
    // must still prune at PLANNING time — fewer partitions and files
    // selected, not all-files-then-filter (the 100 TB serving contract,
    // same pin as q41's raw layout)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    val full = scanOf(Snapshot.readSnapshot(spark, path))
    val pruned = scanOf(Snapshot.readSnapshot(spark, path)
      .where(col("event_date") === "2024-01-02"))
    assert(pruned.partitionFilters.exists(_.references.exists(_.name == "event_date")),
      s"date predicate not a partition filter: ${pruned.partitionFilters}")
    assert(pruned.selectedPartitions.partitionCount <
      full.selectedPartitions.partitionCount)
    assert(pruned.selectedPartitions.totalNumberOfFiles <
      full.selectedPartitions.totalNumberOfFiles)
    // and the pruned read returns exactly that date's rows
    assert(ids(Snapshot.readSnapshot(spark, path)
      .where(col("event_date") === "2024-01-02")) ==
      ids(Snapshot.readSnapshot(spark, path)).filter(id => id >= 200 && id < 300))
  }

  test("history reads the full commit story: op, live count, file-list delta per version") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    Snapshot.append(spark, path, "event_date",                     // v2
      Seq((9001L, 9L, 1L, "2024-01-05"))
        .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1),
      Map("run" -> "ingest-7", "batch" -> "42"))
    Snapshot.deleteWhere(spark, path, "event_date",                // v3
      col("user_id") === 3L, Seq("ts_ms"))
    Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms")) // v4
    val h = Snapshot.history(spark, path)
      .orderBy("version").collect()
    assert(h.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "init"), (2L, "append"), (3L, "delete"), (4L, "compact")))
    // the delta columns reconstruct each op's shape
    val byV = h.map(r => r.getLong(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byV(1L)._2 == byV(1L)._1 && byV(1L)._3 == 0L, "init adds everything")
    assert(byV(2L)._2 == 1L && byV(2L)._3 == 0L, "append adds 1 file, removes none")
    assert(byV(3L)._3 > 0L, "delete removed dirty partitions' files")
    assert(byV(4L)._1 < byV(3L)._1, "compact shrank the live file count")
    // the manifest header reads straight off the history — including
    // INHERITED identity keys surviving the maintenance commits
    val meta = h.map(r => r.getLong(0) -> r.getMap[String, String](5)).toMap
    assert(meta(2L).get("run").contains("ingest-7"))
    assert(meta(4L).get("run").contains("ingest-7") &&
      meta(4L).get("batch").contains("42"),
      "inherited txn identity missing from a maintenance commit's history row")
  }

  test("restore rolls the table back as a new commit: un-deletes, preserves history, feeds expire correctly") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    val before = ids(Snapshot.readSnapshot(spark, path))
    Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L, Seq("ts_ms"))                         // v2
    val afterDelete = ids(Snapshot.readSnapshot(spark, path))
    assert(afterDelete.size < before.size)
    // restore to pre-delete: a NEW version with v1's exact file list
    val v3 = Snapshot.restore(spark, path, 1L)
    assert(v3 == 3L)
    assert(ids(Snapshot.readSnapshot(spark, path)) == before)
    assert(Snapshot.filesOf(spark, path, 3L).toSet ==
      Snapshot.filesOf(spark, path, 1L).toSet)
    assert(Snapshot.metaOf(spark, path, 3L).get("restore_of").contains("1"))
    // intermediate history intact: the delete's version still reads
    assert(ids(Snapshot.readVersion(spark, path, 2L)) == afterDelete)
    // the change feed refuses to cross the rollback span (rows
    // un-happened; the span also contains the delete — either rewrite
    // must trip the guard). A feed STARTING at the restore also refuses.
    val ex = intercept[IllegalStateException] {
      Snapshot.changes(spark, path, 1L, 3L)
    }
    assert(ex.getMessage.contains("re-sync from a full snapshot read"))
    val ex2 = intercept[IllegalStateException] {
      Snapshot.changes(spark, path, 2L, 3L)
    }
    assert(ex2.getMessage.contains("op=restore"))
    // a rollback can itself be rolled back
    assert(Snapshot.restore(spark, path, 2L) == 4L)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterDelete)
    // expire keeps exactly the current (post-restore) file set live
    Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterDelete)
    // and a restore to an EXPIRED version refuses loudly
    val gone = intercept[IllegalArgumentException] {
      Snapshot.restore(spark, path, 1L)
    }
    assert(gone.getMessage.contains("expired or never existed"))
  }

  test("merge-on-read delete: vector commit touches zero data bytes; reads subtract; materialize folds") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    val before = ids(Snapshot.readSnapshot(spark, path))
    val dataFiles1 = Snapshot.currentFiles(spark, path)._2.toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig(rel: String): (Long, Long) = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$rel"))
      (st.getLen, st.getModificationTime)
    }
    val sigs1 = dataFiles1.map(f => f -> sig(f)).toMap
    val (v2, n) = Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("user_id") === 3L)
    assert(v2 == 2L && n == 12L, s"got v=$v2 n=$n")
    // the commit added ONE vector and moved zero data bytes
    assert(Snapshot.filesOf(spark, path, 2L).toSet == dataFiles1)
    assert(Snapshot.deletesOf(spark, path, 2L).size == 1)
    dataFiles1.foreach(f => assert(sig(f) == sigs1(f),
      s"mor-delete touched data file $f"))
    val afterU3 = before.filterNot(id => (id / 10) % 10 == 3)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterU3)
    // the pinned pre-delete version still reads the full corpus
    assert(ids(Snapshot.readVersion(spark, path, 1L)) == before)
    // rerun: reads are vector-aware, so the predicate matches nothing
    // and no commit lands
    assert(Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("user_id") === 3L) == ((2L, 0L)))
    // vectors stack
    val (v3, n3) = Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("user_id") === 5L)
    assert(v3 == 3L && n3 == 12L)
    val afterU5 = afterU3.filterNot(id => (id / 10) % 10 == 5)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterU5)
    assert(Snapshot.deletesOf(spark, path, 3L).size == 2)
    // partition-grain rewrites refuse over outstanding vectors
    val ex = intercept[IllegalArgumentException] {
      Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    }
    assert(ex.getMessage.contains("materializeDeletes"))
    // materialize: file-grain rewrite retires both vectors atomically
    val applied = Snapshot.materializeDeletes(spark, path, "event_date",
      Seq("ts_ms"))
    assert(applied.map(_._2).sum == 24L, s"applied: $applied")
    val cur = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.deletesOf(spark, path, cur).isEmpty)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterU5)
    // now the compaction is legal again, and the row set is stable
    Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterU5)
    // expire retires the retired vectors' files with everything else
    Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterU5)
    val dvDir = new org.apache.hadoop.fs.Path(s"$path/_deletes")
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "expire left unreferenced deletion vectors behind")
  }

  test("materialize: a partition whose touched files empty out drops; one that kept rows restages under its canonical dir") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val before = ids(Snapshot.readSnapshot(spark, path))
    // every row of 2024-01-02 hidden, and user 3's rows elsewhere
    Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("event_date") === "2024-01-02" || col("user_id") === 3L)
    val applied = Snapshot.materializeDeletes(spark, path, "event_date")
    assert(applied.map(_._1).toSet ==
      Set("event_date=2024-01-01", "event_date=2024-01-02", "event_date=2024-01-03"))
    val (v, files) = Snapshot.currentFiles(spark, path)
    assert(Snapshot.deletesOf(spark, path, v).isEmpty)
    assert(!files.exists(_.startsWith("event_date=2024-01-02/")),
      s"the emptied partition kept files: $files")
    assert(ids(Snapshot.readSnapshot(spark, path)) == before.filterNot(id =>
      id / 100 == 2 || (id / 10) % 10 == 3))

    // an externally-written dir with non-canonical escaping ("a'b",
    // which a partitioned write escapes as "a%27b"): its survivor
    // restages under the escaped name, and the same commit retires the
    // old dir's file — the partition moves to its canonical dir
    import spark.implicits._
    val path2 = s"${tmp("graft-snap-matext")}/external"
    val flat = s"${tmp("graft-snap-matext")}/flat"
    Seq((3L, 30L), (4L, 40L)).toDF("event_id", "ts_ms").coalesce(1)
      .write.parquet(flat)
    val dir = new java.io.File(s"$path2/event_date=a'b")
    assert(dir.mkdirs())
    new java.io.File(flat).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath)
      }
    Snapshot.init(spark, path2, "event_date")
    Snapshot.deleteWhereMoR(spark, path2, "event_date", col("event_id") === 3L)
    assert(Snapshot.materializeDeletes(spark, path2, "event_date") ==
      Seq("event_date=a'b" -> 1L))
    val (v2, files2) = Snapshot.currentFiles(spark, path2)
    assert(Snapshot.deletesOf(spark, path2, v2).isEmpty)
    assert(files2.nonEmpty && files2.forall(_.startsWith("event_date=a%27b/")),
      s"$files2")
    assert(Snapshot.readSnapshot(spark, path2).select("event_id", "event_date")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((4L, "a'b")))
  }

  test("row file identities are manifest paths under escaped dir names: an a%62 dir materializes, a+b round-trips") {
    import spark.implicits._
    // a layout over externally written dirs, one file each
    def external(dirs: (String, Seq[(Long, Long)])*): String = {
      val path = s"${tmp("graft-snap-uri")}/external"
      dirs.foreach { case (d, rows) =>
        val flat = s"${tmp("graft-snap-uri")}/flat"
        rows.toDF("event_id", "ts_ms").coalesce(1).write.parquet(flat)
        val dir = new java.io.File(s"$path/event_date=$d")
        assert(dir.mkdirs())
        new java.io.File(flat).listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath)
          }
      }
      Snapshot.init(spark, path, "event_date")
      path
    }
    // `a%62` holds partition value "ab", and its file URI spells the
    // dir `a%2562`: the vector must name the manifest path. Its rows
    // all go, so it drops; the other partition restages its survivor.
    val p1 = external("a%62" -> Seq((3L, 30L), (4L, 40L)),
      "2024-01-01" -> Seq((5L, 50L), (6L, 60L)))
    Snapshot.deleteWhereMoR(spark, p1, "event_date", col("event_id") =!= 6L)
    assert(Snapshot.materializeDeletes(spark, p1, "event_date").map(_._1).toSet ==
      Set("event_date=a%62", "event_date=2024-01-01"))
    val (v1, files1) = Snapshot.currentFiles(spark, p1)
    assert(Snapshot.deletesOf(spark, p1, v1).isEmpty)
    assert(files1.forall(_.startsWith("event_date=2024-01-01/")), s"$files1")
    assert(ids(Snapshot.readSnapshot(spark, p1)) == Set(6L))
    // `+` is literal in a URI path: it must not decode to a space
    val p2 = external("a+b" -> Seq((3L, 30L), (4L, 40L)))
    Snapshot.deleteWhereMoR(spark, p2, "event_date", col("event_id") === 3L)
    assert(Snapshot.materializeDeletes(spark, p2, "event_date") ==
      Seq("event_date=a+b" -> 1L))
    val (v2, files2) = Snapshot.currentFiles(spark, p2)
    assert(Snapshot.deletesOf(spark, p2, v2).isEmpty)
    assert(files2.forall(_.startsWith("event_date=a+b/")), s"$files2")
    assert(Snapshot.readSnapshot(spark, p2).select("event_id", "event_date")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((4L, "a+b")))
  }

  test("a non-canonically escaped dir (day=a'b) folds its vector into its canonical dir, and MERGE works again") {
    import spark.implicits._
    // an external writer named the dir `a'b`; a partitioned write names
    // the same value `a%27b`
    val wh = tmp("graft-snap-quote")
    val path = s"$wh/t"
    val flat = s"${tmp("graft-snap-quote")}/flat"
    Seq((3L, 30.0), (4L, 40.0)).toDF("id", "value").coalesce(1).write.parquet(flat)
    val dir = new java.io.File(s"$path/day=a'b")
    assert(dir.mkdirs())
    new java.io.File(flat).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, new java.io.File(dir, f.getName).toPath))
    Snapshot.init(spark, path, "day", statsCols = Seq("id"))
    spark.conf.set("spark.sql.catalog.gquote",
      classOf[graft.sources.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gquote.warehouse", wh)
    def rows(): Seq[(Long, Double, String)] =
      spark.sql("SELECT id, value, day FROM gquote.t").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    // a DELETE that leaves a row in the dir: a vector over it
    spark.sql("DELETE FROM gquote.t WHERE id = 3")
    assert(rows() == Seq((4L, 40.0, "a'b")))
    Seq((4L, 44.0, "a'b"), (5L, 50.0, "a'b")).toDF("id", "value", "day")
      .createOrReplaceTempView("quote_src")
    val merge = """MERGE INTO gquote.t AS t USING quote_src AS s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    // copy-on-write MERGE refuses over the outstanding vector
    val ex = intercept[IllegalArgumentException](spark.sql(merge))
    assert(ex.getMessage.contains("outstanding deletion vector"), ex.getMessage)
    // the fold restages the survivor under the canonical dir name and
    // retires the old dir's file in the same commit
    val fired = spark.sql("CALL gquote.maintain('t')").collect()
      .map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(fired("deletion_vectors"), s"maintain: $fired")
    val (v, files) = Snapshot.currentFiles(spark, path)
    assert(Snapshot.deletesOf(spark, path, v).isEmpty)
    assert(files.nonEmpty && files.forall(_.startsWith("day=a%27b/")), s"$files")
    assert(rows() == Seq((4L, 40.0, "a'b")))
    spark.sql(merge)
    assert(rows() == Seq((4L, 44.0, "a'b"), (5L, 50.0, "a'b")))
  }

  test("vectors read under their declared schema: planning a read over them runs no job; dvAudit runs one") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    val before = ids(Snapshot.readSnapshot(spark, path))
    Snapshot.deleteWhereMoR(spark, path, "event_date", col("user_id") === 3L)
    // building the frame only plans it: the data scan takes the recorded
    // schema, so any job here is parquet footer inference on the vectors
    var snap: org.apache.spark.sql.DataFrame = null
    val planJobs = TestJobs.jobsDuring(spark) {
      snap = Snapshot.readSnapshot(spark, path)
    }
    assert(planJobs == 0, s"planning the read ran $planJobs job(s)")
    assert(ids(snap) == before.filterNot(id => (id / 10) % 10 == 3))
    var audit: Snapshot.DvAudit = null
    val auditJobs = TestJobs.jobsDuring(spark) {
      audit = Snapshot.dvAudit(spark, path)
    }
    assert(audit.vectors == 1L && audit.hiddenRows == 12L &&
      audit.referencedFiles > 0L, s"audit: $audit")
    assert(auditJobs == 1, s"dvAudit ran $auditJobs job(s)")
  }

  test("merge-on-read update: ONE commit hides old images and lands new ones; no doubling, no gap") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    val before = ids(Snapshot.readSnapshot(spark, path))
    val dataFiles1 = Snapshot.currentFiles(spark, path)._2.toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig(rel: String): (Long, Long) = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$rel"))
      (st.getLen, st.getModificationTime)
    }
    val sigs1 = dataFiles1.map(f => f -> sig(f)).toMap
    // refusals first: SET on the partition column, SET on a ghost column
    val exPart = intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, path, "event_date",
        col("user_id") === 3L, Map("event_date" -> lit("2024-01-09")))
    }
    assert(exPart.getMessage.contains("partition column"))
    val exCol = intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, path, "event_date",
        col("user_id") === 3L, Map("nope" -> lit(1)))
    }
    assert(exCol.getMessage.contains("unknown column"))
    // user 3's rows on date 1 re-imaged: user_id -> 30, ts_ms shifted.
    // SET expressions read the row's CURRENT image (ts_ms + 1000000).
    val (v2, n) = Snapshot.updateWhere(spark, path, "event_date",
      col("user_id") === 3L &&
        col("event_date") === lit("2024-01-01").cast("date"),
      Map("user_id" -> lit(30L), "ts_ms" -> (col("ts_ms") + 1000000L)))
    assert(v2 == 2L && n == 4L, s"got v=$v2 n=$n")
    // the commit: every old data file still referenced and byte-identical,
    // PLUS one vector and the new-image file(s) — atomically together
    val files2 = Snapshot.filesOf(spark, path, 2L).toSet
    assert(dataFiles1.subsetOf(files2), "update dropped old data files")
    dataFiles1.foreach(f => assert(sig(f) == sigs1(f),
      s"update rewrote data file $f"))
    assert(Snapshot.deletesOf(spark, path, 2L).size == 1)
    val newFiles = files2 -- dataFiles1
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.startsWith("event_date=2024-01-01/")),
      s"new images landed outside the touched partition: $newFiles")
    // row set: same ids (event_id untouched), no doubling, images updated
    val snap = Snapshot.readSnapshot(spark, path)
    assert(ids(snap) == before, "update doubled or lost rows")
    assert(snap.count() == 36L)
    val updated = snap.where(col("event_id").between(130L, 133L))
    assert(updated.where(col("user_id") === 30L).count() == 4L)
    assert(updated.where(col("ts_ms") >= 1000000L).count() == 4L)
    // time travel: the pinned pre-update version serves the old images
    assert(Snapshot.readVersion(spark, path, 1L)
      .where(col("event_id") === 130L)
      .select("user_id").collect().head.getLong(0) == 3L)
    // DV-aware + self-falsifying predicate: a rerun matches nothing
    assert(Snapshot.updateWhere(spark, path, "event_date",
      col("user_id") === 3L &&
        col("event_date") === lit("2024-01-01").cast("date"),
      Map("user_id" -> lit(30L))) == ((2L, 0L)))
    // updates stack with MoR deletes: the RE-IMAGED rows are live rows
    // like any others — a later delete of user 30 hides them
    val (v3, n3) = Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("user_id") === 30L)
    assert(v3 == 3L && n3 == 4L)
    assert(Snapshot.readSnapshot(spark, path).count() == 32L)
    // the change feed refuses to cross the update (rows changed in place)
    val exFeed = intercept[IllegalStateException] {
      Snapshot.changes(spark, path, 1L, 2L)
    }
    assert(exFeed.getMessage.contains("op=update"))
    // materialize folds BOTH vectors; the answer is unchanged
    Snapshot.materializeDeletes(spark, path, "event_date", Seq("ts_ms"))
    val cur = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.deletesOf(spark, path, cur).isEmpty)
    val afterMat = Snapshot.readSnapshot(spark, path)
    assert(afterMat.count() == 32L)
    assert(afterMat.where(col("user_id") === 30L).count() == 0L)
    assert(ids(afterMat) == before.filterNot(id => id >= 130L && id <= 133L))
    Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(Snapshot.readSnapshot(spark, path).count() == 32L)
  }

  test("merge upserts by key: updates replace, inserts land, untouched partitions byte-identical") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val before = Snapshot.currentFiles(spark, path)._2
    // touches ONLY date-1: two corrections of existing keys, one insert
    val updates = Seq(
        (130L, 3L, 99990L, "2024-01-01"),
        (131L, 3L, 99991L, "2024-01-01"),
        (888L, 8L, 99992L, "2024-01-01"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
      .withColumn("event_date", col("event_date").cast("date"))
    val v2 = Snapshot.merge(spark, path, "event_date", updates, Seq("event_id"))
    assert(v2 == 2L)
    assert(Snapshot.metaOf(spark, path, 2L).get("merge_keys")
      .contains("event_id"))
    val snap = Snapshot.readSnapshot(spark, path)
    assert(snap.count() == 37L) // 36 + 1 insert, replacements in place
    assert(snap.groupBy("event_id").count()
      .where(col("count") > 1).count() == 0L, "merge duplicated a key")
    assert(snap.where(col("event_id") === 130L)
      .select("ts_ms").as[Long].head() == 99990L, "update did not replace")
    assert(snap.where(col("event_id") === 888L).count() == 1L)
    // untouched partitions keep their exact manifest entries (and so
    // their bytes); in the touched partition exactly the files that
    // held an updated key are re-filed
    val after = Snapshot.currentFiles(spark, path)._2
    val untouched = before.filterNot(_.startsWith("event_date=2024-01-01"))
    assert(untouched.forall(after.contains), "merge touched a clean partition")
    val (holding, clean) = before.filter(_.startsWith("event_date=2024-01-01"))
      .partition(f => spark.read.parquet(s"$path/$f")
        .where(col("event_id").isin(130L, 131L)).count() > 0)
    assert(holding.nonEmpty && !holding.exists(after.contains),
      "a file holding an updated key kept its entry")
    assert(clean.nonEmpty && clean.forall(after.contains),
      "merge re-filed a file holding no batch key")
    // rerun with the same updates: same rows, no duplicates
    Snapshot.merge(spark, path, "event_date", updates, Seq("event_id"))
    assert(ids(Snapshot.readSnapshot(spark, path)) ==
      ids(snap))
  }

  test("merge reads only the partitions its batch touches") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val before = Snapshot.currentFiles(spark, path)._2
    val updates = Seq((130L, 3L, 1L, "2024-01-01"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
      .withColumn("event_date", col("event_date").cast("date"))
    val read = TestJobs.recordsReadDuring(spark)(
      Snapshot.merge(spark, path, "event_date", updates, Seq("event_id")): Unit)
    val removed = before.filterNot(Snapshot.currentFiles(spark, path)._2.contains)
    assert(removed.nonEmpty &&
      removed.forall(_.startsWith("event_date=2024-01-01/")))
    // the candidate scan reads date-1's 12 rows (of 36), the rewrite the
    // removed files' rows again
    val removedRows = spark.read.parquet(removed.map(f => s"$path/$f"): _*).count()
    assert(read >= 12L && read <= 12L + removedRows,
      s"merge read $read rows; one partition plus its rewrite is ${12L + removedRows}")
    assert(Snapshot.readSnapshot(spark, path).count() == 36L)
  }

  test("deleteWhereMoR and updateWhere on a table maintained down to no files commit nothing") {
    import spark.implicits._
    Seq(false, true).foreach { lineage =>
      val path = s"${tmp("graft-snap-nofiles")}/t"
      Seq((1L, 3L, 10L, "2024-01-01"))
        .toDF("event_id", "user_id", "ts_ms", "event_date")
        .write.partitionBy("event_date").parquet(path)
      Snapshot.init(spark, path, "event_date", rowIds = lineage)
      assert(Snapshot.deleteWhereMoR(spark, path, "event_date",
        col("event_id") === 1L)._2 == 1L)
      Snapshot.maintain(spark, path, "event_date")
      val v = Snapshot.currentVersion(spark, path).get
      assert(Snapshot.filesOf(spark, path, v).isEmpty &&
        Snapshot.deletesOf(spark, path, v).isEmpty,
        s"maintain left entries behind (lineage=$lineage)")
      assert(Snapshot.deleteWhereMoR(spark, path, "event_date", lit(true)) ==
        (v, 0L))
      assert(Snapshot.updateWhere(spark, path, "event_date", lit(true),
        Map("ts_ms" -> lit(0L))) == (v, 0L))
      assert(Snapshot.currentVersion(spark, path).get == v)
      assert(Snapshot.readSnapshot(spark, path).count() == 0L)
    }
  }

  test("schema evolution: an appended column widens the table; old files read NULL; maintenance keeps it") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")                       // v1
    val s1 = Snapshot.schemaOf(spark, path, 1L).get
    assert(s1.fieldNames.toSeq ==
      Seq("event_id", "user_id", "ts_ms", "event_date"))
    // a batch carrying a column the table has never seen widens it
    Snapshot.append(spark, path, "event_date",
      Seq((9001L, 9L, 999L, "tagged", "2024-01-04"))
        .toDF("event_id", "user_id", "ts_ms", "source", "event_date")) // v2
    val s2 = Snapshot.schemaOf(spark, path, 2L).get
    assert(s2.fieldNames.toSeq ==
      Seq("event_id", "user_id", "ts_ms", "source", "event_date"))
    val snap = Snapshot.readSnapshot(spark, path)
    assert(snap.columns.toSeq == s2.fieldNames.toSeq,
      "reader does not follow the recorded schema")
    // pre-evolution rows read NULL in the new column — regardless of
    // which file Spark would have inferred from
    assert(snap.where(col("source").isNull).count() == 36L)
    assert(snap.where(col("source") === "tagged")
      .select("event_id").as[Long].collect().toSeq == Seq(9001L))
    // a pinned pre-evolution version keeps its own (old) schema
    assert(Snapshot.readVersion(spark, path, 1L).columns.toSeq ==
      s1.fieldNames.toSeq)
    // shared-column type conflicts refuse loudly — add-column only
    val ex = intercept[IllegalArgumentException] {
      Snapshot.append(spark, path, "event_date",
        Seq(("oops", 1L, 1L, "2024-01-05"))
          .toDF("event_id", "user_id", "ts_ms", "event_date"))
    }
    assert(ex.getMessage.contains("schema conflict"))
    // maintenance rewrites read through the RECORDED schema: the dirty
    // partitions' old files predate 'source', and sample-file inference
    // would silently drop the column from every rewritten row
    Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L, Seq("ts_ms"))
    val afterDelete = Snapshot.readSnapshot(spark, path)
    assert(afterDelete.columns.toSeq == s2.fieldNames.toSeq)
    assert(afterDelete.where(col("source") === "tagged").count() == 1L)
    assert(afterDelete.where(col("source").isNull).count() == 24L)
    Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    val afterCompact = Snapshot.readSnapshot(spark, path)
    assert(afterCompact.where(col("source") === "tagged").count() == 1L)
    assert(afterCompact.where(col("source").isNull).count() == 24L)
  }

  test("manifest file stats plan a pruned file subset with zero data IO; every commit keeps them") {
    import spark.implicits._
    val path = s"${tmp("graft-snap-stats")}/layout"
    // 2 type dirs × ts_ms 0..199, range-clustered on ts_ms into ~8
    // slices — each data file covers a disjoint ts_ms band, so bounds
    // in the manifest can prune where the partition dirs cannot (a ts
    // window wants ALL types)
    val rows = for { t <- Seq("a", "b"); i <- 0 until 200 }
      yield (t.hashCode * 1000L + i, i.toLong, t)
    rows.toDF("event_id", "ts_ms", "event_type")
      .repartitionByRange(8, col("ts_ms"))
      .sortWithinPartitions(col("ts_ms"))
      .write.partitionBy("event_type").parquet(path)
    assert(Snapshot.init(spark, path, "event_type",
      statsCols = Seq("ts_ms")) == 1L)
    assert(Snapshot.statsColumns(spark, path).headOption.contains("ts_ms"))
    assert(Snapshot.entriesOf(spark, path, 1L).forall(_._2.isDefined),
      "bootstrap left entries without bounds")
    val all = Snapshot.currentFiles(spark, path)._2
    val hit = Snapshot.filesInRange(spark, path, 40L, 59L)
    assert(hit.nonEmpty && hit.size < all.size,
      s"stats pruned nothing: ${hit.size}/${all.size} files")
    def slice(df: org.apache.spark.sql.DataFrame): Set[Long] =
      ids(df.where(col("ts_ms").between(40L, 59L)))
    val expected = slice(Snapshot.readSnapshot(spark, path))
    val pruned = Snapshot.readSnapshotRange(spark, path, 40L, 59L)
    // the scan's file set IS the planned subset — nothing else is touched
    assert(pruned.inputFiles.length == hit.size)
    assert(slice(pruned) == expected, "pruned read lost in-range rows")
    // a survivor rewrite (delete) re-states its new files in the same
    // commit; pruning and exactness hold on the rewritten snapshot
    Snapshot.deleteWhere(spark, path, "event_type",
      col("event_id") % 10L === 0L, Seq("ts_ms"))
    val v2 = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.entriesOf(spark, path, v2).forall(_._2.isDefined),
      "rewrite dropped file bounds")
    val hit2 = Snapshot.filesInRange(spark, path, 40L, 59L)
    assert(hit2.size < Snapshot.currentFiles(spark, path)._2.size)
    assert(slice(Snapshot.readSnapshotRange(spark, path, 40L, 59L)) ==
      slice(Snapshot.readSnapshot(spark, path)))
    // append honors the inherited declaration without being told
    Snapshot.append(spark, path, "event_type",
      Seq((9001L, 45L, "c")).toDF("event_id", "ts_ms", "event_type"))
    val v3 = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.entriesOf(spark, path, v3).forall(_._2.isDefined),
      "appended files missing bounds")
    assert(slice(Snapshot.readSnapshotRange(spark, path, 40L, 59L))
      .contains(9001L), "pruned read missed the appended in-range row")
    // a layout that never declared stats keeps every file — conservative
    val plain = buildLayout()
    Snapshot.init(spark, plain, "event_date")
    assert(Snapshot.statsColumns(spark, plain).headOption.isEmpty)
    assert(Snapshot.filesInRange(spark, plain, 0L, 0L).size ==
      Snapshot.currentFiles(spark, plain)._2.size)
  }

  test("expire retires old versions and unreferenced files; current version unharmed") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L, Seq("ts_ms"))
    Snapshot.compact(spark, path, "event_date", 1L << 30, Seq("ts_ms"))
    val (v, live) = Snapshot.currentFiles(spark, path)
    assert(v == 3L)
    val expected = ids(Snapshot.readSnapshot(spark, path))
    // pinned time travel works pre-expiry
    assert(ids(Snapshot.readVersion(spark, path, 1L)).size > expected.size)
    val deleted = Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(deleted.exists(_.startsWith("_manifests/")), "old manifests kept")
    assert(Snapshot.currentVersion(spark, path).contains(v))
    assert(ids(Snapshot.readSnapshot(spark, path)) == expected)
    // on-disk files now = exactly the live set (plus nothing)
    val onDisk = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("event_date=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getParentFile.getName}/${f.getName}").toSet
    assert(onDisk == live.toSet,
      s"expiry left garbage or deleted live files: ${onDisk.diff(live.toSet)}")
  }
}
