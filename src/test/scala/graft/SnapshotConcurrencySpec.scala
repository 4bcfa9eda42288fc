package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.sources.{Snapshot, SnapshotConflictException}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic gates for the writer-vs-writer races: a racing
  * writer's Spark-side read carries [[SnapshotConcurrencySpec.hold]]
  * in its plan, so its tasks signal `started` and then block on `gate`
  * — AFTER the writer read its base snapshot version, BEFORE it
  * commits. The test thread lands a competing commit in that window
  * and releases the gate, forcing the exact interleaving the
  * optimistic-commit rebase/conflict logic exists for (no sleeps, no
  * luck). */
object SnapshotConcurrencySpec {
  @volatile var started: CountDownLatch = null
  @volatile var gate: CountDownLatch = null

  def hold(x: Long): Long = {
    val s = started
    if (s != null) s.countDown()
    val g = gate
    if (g != null && !g.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("concurrency gate never released")
    x
  }
}

/** The optimistic-concurrency half of the snapshot contract: commits
  * are (base version, removed files, added files); losers of the
  * version race REBASE when their change still applies (appends always
  * do — they remove nothing; rewrites of disjoint files do too) and
  * abort with [[SnapshotConflictException]] only when a concurrent
  * rewrite re-filed the same data files — in which case the table is
  * untouched and a rerun against the new snapshot succeeds. */
class SnapshotConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** 3 dates × users {3,5,7}, `filesPerDate` files per date. Default 4
    * (compaction fodder); the gated-probe races use 1 — the probe gets
    * one scan task per file, and the test session is local[4], so a
    * 12-file layout's blocked probe would pin every executor slot and
    * starve the competing commit it is supposed to race (three blocked
    * tasks leave a slot free for the single-task competing write). */
  private def buildLayout(filesPerDate: Int = 4): String = {
    val path = s"${tmp("graft-snapcc")}/events_by_date"
    buildRows().repartition(filesPerDate)
      .write.partitionBy("event_date").parquet(path)
    path
  }

  private def buildRows(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rows = for {
      d <- 1 to 3
      u <- Seq(3L, 5L, 7L)
      i <- 0 until 4
    } yield (d * 100L + u * 10 + i, u, (d * 100 + i).toLong, f"2024-01-0$d%d")
    rows.toDF("event_id", "user_id", "ts_ms", "event_date")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("event_id").collect().map(_.getLong(0)).toSet

  private val holdUdf = udf(SnapshotConcurrencySpec.hold _)

  private def inThread[T](body: => T): (Thread, () => Either[Throwable, T]) = {
    var out: Either[Throwable, T] = null
    val t = new Thread(() => {
      out = try Right(body) catch { case e: Throwable => Left(e) }
    })
    t.setDaemon(true)
    t.start()
    (t, () => out)
  }

  test("concurrent appends all land exactly once: dense versions, no lost update") {
    import spark.implicits._
    val path = s"${tmp("graft-snapcc")}/hammer"
    val nThreads = 6
    val nAppends = 3
    val workers = (0 until nThreads).map { w =>
      inThread {
        (0 until nAppends).foreach { i =>
          val batch = Seq((w * 100L + i, s"d${w % 3}"))
            .toDF("event_id", "event_date").coalesce(1)
          Snapshot.append(spark, path, "event_date", batch,
            Map("writer" -> s"w$w", "seq" -> s"$i"))
        }
      }
    }
    workers.foreach(_._1.join(120000))
    workers.foreach { case (_, r) =>
      assert(r() != null, "worker did not finish")
      assert(r().isRight, s"worker failed: ${r()}")
    }
    // every commit took exactly one version; none clobbered another
    val vs = Snapshot.versions(spark, path)
    assert(vs == (1L to (nThreads * nAppends).toLong),
      s"versions not dense: $vs")
    vs.foreach { v =>
      assert(Snapshot.metaOf(spark, path, v).get("op").contains("append"))
    }
    val want = (for (w <- 0 until nThreads; i <- 0 until nAppends)
      yield w * 100L + i).toSet
    assert(ids(Snapshot.readSnapshot(spark, path)) == want)
  }

  test("append racing a compact rebases onto it: both commits survive") {
    import spark.implicits._
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val before = ids(Snapshot.readSnapshot(spark, path))

    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t, result) = try {
      val pair = inThread {
        // the gated column blocks the staging write's task after append
        // has read base v=1 but before it commits
        val batch = Seq((9001L, 9L, 1L, "2024-01-01"))
          .toDF("event_id", "user_id", "ts_ms", "event_date")
          .withColumn("ts_ms", holdUdf(col("ts_ms")))
          .coalesce(1)
        Snapshot.append(spark, path, "event_date", batch)
      }
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      // append is now mid-flight on base v=1; land a competing compact
      val compacted = Snapshot.compact(spark, path, "event_date", 1L << 40)
      assert(compacted.nonEmpty && Snapshot.currentVersion(spark, path).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    assert(result() == Right(3L), s"append should rebase to v3: ${result()}")
    // the rebase kept the compact's file list AND added the new rows
    val v2 = Snapshot.filesOf(spark, path, 2L).toSet
    val v3 = Snapshot.filesOf(spark, path, 3L).toSet
    assert(v2.subsetOf(v3), "rebase dropped the concurrent compact's files")
    assert(ids(Snapshot.readSnapshot(spark, path)) == before + 9001L)
  }

  test("delete racing a rewrite of the same partition aborts cleanly, rerun succeeds") {
    import spark.implicits._
    val path = buildLayout(filesPerDate = 1)
    Snapshot.init(spark, path, "event_date")
    val before = ids(Snapshot.readSnapshot(spark, path))

    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t, result) = try {
      val pair = inThread {
        // the gated predicate blocks the dirty-partition probe after
        // deleteWhere pinned base v=1
        Snapshot.deleteWhere(spark, path, "event_date",
          holdUdf(col("user_id")) === 3L)
      }
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      // competing rewrite re-files 2024-01-01 — a partition the delete
      // (whose dirty set is ALL three dates) must rewrite: true conflict
      Snapshot.replacePartitions(spark, path, "event_date",
        Seq((9101L, 9L, 1L, "2024-01-01"))
          .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
      assert(Snapshot.currentVersion(spark, path).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    result() match {
      case Left(_: SnapshotConflictException) => // the contract
      case other => fail(s"expected SnapshotConflictException, got $other")
    }
    // the aborted delete changed NOTHING beyond the replace that won
    assert(Snapshot.currentVersion(spark, path).contains(2L))
    val afterReplace = before.filterNot(id => id >= 100 && id < 200) + 9101L
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterReplace)
    // rerun against the new snapshot: the standard recovery
    val deleted = Snapshot.deleteWhere(spark, path, "event_date",
      col("user_id") === 3L)
    assert(deleted.map(_._2).sum == 8L) // dates 2 and 3; date 1 now has only user 9
    assert(Snapshot.currentVersion(spark, path).contains(3L))
    assert(ids(Snapshot.readSnapshot(spark, path)) ==
      afterReplace.filterNot(id => id < 1000 && (id / 10) % 10 == 3))
  }

  test("rewrites of DISJOINT partitions rebase past each other") {
    import spark.implicits._
    val path = buildLayout(filesPerDate = 1)
    Snapshot.init(spark, path, "event_date")

    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t, result) = try {
      val pair = inThread {
        // dirty set = only 2024-01-01 (the only date matching the gate'd
        // predicate), so its removed files are disjoint from date-3's
        Snapshot.deleteWhere(spark, path, "event_date",
          holdUdf(col("user_id")) === 3L && col("event_date") === "2024-01-01")
      }
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      // competing rewrite touches ONLY date 3
      Snapshot.replacePartitions(spark, path, "event_date",
        Seq((9301L, 9L, 1L, "2024-01-03"))
          .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
      assert(Snapshot.currentVersion(spark, path).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    result() match {
      case Right(deleted) => assert(deleted.map(_._2).sum == 4L)
      case other => fail(s"disjoint rewrite should rebase, got $other")
    }
    // both effects present: date-3 replaced AND date-1's user 3 gone
    val snap = Snapshot.readSnapshot(spark, path)
    val got = ids(snap)
    assert(got.contains(9301L))
    assert(!got.exists(id => id >= 300 && id < 400 && id != 9301L))
    assert(!got.exists(id => id >= 100 && id < 200 && (id / 10) % 10 == 3))
    assert(got.exists(id => id >= 100 && id < 200))
  }

  test("mor-delete racing a rewrite of its referenced files aborts; a disjoint vector rebases") {
    import spark.implicits._
    // phase 1 — TRUE conflict: the vector's positions reference files a
    // concurrent replace re-filed; committing it would delete by
    // position into files that no longer exist (mustBeLive)
    val path = buildLayout(filesPerDate = 1)
    Snapshot.init(spark, path, "event_date")
    val before = ids(Snapshot.readSnapshot(spark, path))
    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t, result) = try {
      val pair = inThread {
        // marks rows in ALL three dates — date-1's file is referenced
        Snapshot.deleteWhereMoR(spark, path, "event_date",
          holdUdf(col("user_id")) === 3L)
      }
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      Snapshot.replacePartitions(spark, path, "event_date",
        Seq((9401L, 9L, 1L, "2024-01-01"))
          .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
      assert(Snapshot.currentVersion(spark, path).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    result() match {
      case Left(_: SnapshotConflictException) => // the contract
      case other => fail(s"expected SnapshotConflictException, got $other")
    }
    // the aborted vector left no trace; the replace stands alone
    assert(Snapshot.currentVersion(spark, path).contains(2L))
    assert(Snapshot.deletesOf(spark, path, 2L).isEmpty)
    val afterReplace = before.filterNot(id => id >= 100 && id < 200) + 9401L
    assert(ids(Snapshot.readSnapshot(spark, path)) == afterReplace)
    // rerun against the new snapshot: the standard recovery
    val (v3, n) = Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("user_id") === 3L)
    assert(v3 == 3L && n == 8L) // dates 2 and 3; date 1 now has only user 9
    assert(ids(Snapshot.readSnapshot(spark, path)) ==
      afterReplace.filterNot(id => id < 1000 && (id / 10) % 10 == 3))

    // phase 2 — DISJOINT: a vector referencing only date-1 commutes
    // with a replace of date-3 exactly like an append (removes nothing,
    // depends on nothing the replace touched) and rebases past it
    val path2 = buildLayout(filesPerDate = 1)
    Snapshot.init(spark, path2, "event_date")
    val before2 = ids(Snapshot.readSnapshot(spark, path2))
    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t2, result2) = try {
      val pair = inThread {
        Snapshot.deleteWhereMoR(spark, path2, "event_date",
          holdUdf(col("user_id")) === 3L && col("event_date") === "2024-01-01")
      }
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      Snapshot.replacePartitions(spark, path2, "event_date",
        Seq((9402L, 9L, 1L, "2024-01-03"))
          .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
      assert(Snapshot.currentVersion(spark, path2).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t2.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    result2() match {
      case Right((v, n2)) => assert(v == 3L && n2 == 4L,
        s"disjoint vector should rebase to v3 marking 4 rows, got v=$v n=$n2")
      case other => fail(s"disjoint vector should rebase, got $other")
    }
    // both effects present: date-3 replaced AND date-1's user 3 hidden
    val want = (before2.filterNot(id => id >= 300 && id < 400) + 9402L)
      .filterNot(id => id >= 130 && id < 140)
    assert(ids(Snapshot.readSnapshot(spark, path2)) == want)
  }

  /** A SQL MERGE of one row (event 130, on 2024-01-01) into a two-file-
    * per-date catalog table, gated inside its clause condition — after
    * it read its candidate file at its base version, before it commits
    * — while the test thread lands an append of event 9501 into
    * `appendDate`. Returns the MERGE's outcome. */
  private def mergeRacingAppend(appendDate: String)
      : (String, Either[Throwable, org.apache.spark.sql.DataFrame]) = {
    import spark.implicits._
    val wh = tmp("graft-snapccmerge")
    val path = s"$wh/t"
    Snapshot.append(spark, path, "event_date",
      buildRows().repartition(2))
    val cat = s"gcc${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.udf.register("graft_hold", SnapshotConcurrencySpec.hold _)
    Seq((130L, 3L, 7L, "2024-01-01"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
      .createOrReplaceTempView("race_src")
    assert(Snapshot.filesOf(spark, path, 1L)
      .count(_.startsWith("event_date=2024-01-01/")) == 2)
    SnapshotConcurrencySpec.started = new CountDownLatch(1)
    SnapshotConcurrencySpec.gate = new CountDownLatch(1)
    val (t, result) = try {
      val pair = inThread(spark.sql(
        s"""MERGE INTO $cat.t AS t USING race_src AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND graft_hold(s.ts_ms) >= 0 THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      assert(SnapshotConcurrencySpec.started.await(60, TimeUnit.SECONDS))
      Snapshot.append(spark, path, "event_date",
        Seq((9501L, 9L, 1L, appendDate))
          .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
      assert(Snapshot.currentVersion(spark, path).contains(2L))
      pair
    } finally {
      SnapshotConcurrencySpec.gate.countDown()
    }
    t.join(120000)
    SnapshotConcurrencySpec.started = null
    SnapshotConcurrencySpec.gate = null
    (path, result())
  }

  test("MERGE racing an append into a partition it rewrites aborts; one elsewhere rebases") {
    // the append lands a file in 2024-01-01, where the MERGE rewrites
    // one of two files: a file the MERGE never read — true conflict
    val (path, clash) = mergeRacingAppend("2024-01-01")
    clash match {
      case Left(_: SnapshotConflictException) => // the contract
      case other => fail(s"expected SnapshotConflictException, got $other")
    }
    assert(Snapshot.currentVersion(spark, path).contains(2L))
    val ts130 = Snapshot.readSnapshot(spark, path)
      .where(col("event_id") === 130L).select("ts_ms").collect()
    assert(ts130.map(_.getLong(0)).toSeq == Seq(100L),
      "the aborted MERGE left a trace")

    // the append lands in 2024-01-03, which the MERGE neither read nor
    // wrote: it rebases — the untouched file of 2024-01-01 stays live
    // at the base and is no intruder
    val (path2, rebased) = mergeRacingAppend("2024-01-03")
    assert(rebased.isRight, s"disjoint MERGE should rebase, got $rebased")
    assert(Snapshot.currentVersion(spark, path2).contains(3L))
    val snap = Snapshot.readSnapshot(spark, path2)
    assert(ids(snap) == buildRows().select("event_id").collect()
      .map(_.getLong(0)).toSet + 9501L)
    assert(snap.where(col("event_id") === 130L).select("ts_ms").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("rebase dedups a file the winner already listed: no double-counted rows") {
    import spark.implicits._
    // the init-vs-in-flight-append race: an append MOVES its staged
    // files into the partition dirs before committing; a concurrent
    // init's bootstrap listing sees them and wins v1 with them included.
    // When the append then rebases (removes nothing — appends commute),
    // its adds are already in the winner's list and must not appear
    // twice, or every row in those files double-counts.
    val path = s"${tmp("graft-snapcc")}/dedup"
    Seq((1L, "d0"), (2L, "d0")).toDF("event_id", "event_date").coalesce(1)
      .write.partitionBy("event_date").parquet(path)
    assert(Snapshot.init(spark, path, "event_date") == 1L)
    val (_, files) = Snapshot.currentFiles(spark, path)
    val theFile = files.head
    // replay the loser's rebase at the commit layer: base=None (it
    // started before init won), adding the file init already listed
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2 = Snapshot.commit(fs, root, None, Set.empty, Seq(theFile),
      Map("op" -> "append"))
    assert(v2 == 2L)
    assert(Snapshot.filesOf(spark, path, v2).count(_ == theFile) == 1,
      "rebase listed the same data file twice")
    assert(Snapshot.readSnapshot(spark, path).count() == 2L,
      "double-listed file double-counted its rows")
  }

  test("publish primitive: exactly one of two same-version racers wins, loser untouched") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    def stage(content: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(mdir, s".tmp-test-${java.util.UUID.randomUUID()}")
      val out = fs.create(p, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p
    }
    val a = stage("winner-bytes")
    val b = stage("loser-bytes")
    val target = new org.apache.hadoop.fs.Path(mdir, "m-000000000099")
    assert(Snapshot.publishIfAbsent(fs, a, target))
    assert(!Snapshot.publishIfAbsent(fs, b, target),
      "second publish to the same version must lose")
    // the target holds the WINNER's bytes — the loser clobbered nothing
    val len = fs.getFileStatus(target).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(target)
    try in.readFully(0, buf) finally in.close()
    assert(new String(buf, "UTF-8") == "winner-bytes")
    // loser's staged bytes are intact for its rebase retry
    assert(fs.exists(b))
    Seq(a, b, target).foreach(p => fs.delete(p, false): Unit)
  }

  test("CROSS-PROCESS commits: racing JVMs land dense versions, no lost update") {
    val path = s"${tmp("graft-snapcc")}/xproc"
    val nProcs = 3
    val nCommits = 4
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    val procs = (0 until nProcs).map { w =>
      val pb = new ProcessBuilder(
        javaBin, "-cp", cp, "graft.CommitRaceProbe", path, s"w$w", s"$nCommits")
      pb.redirectErrorStream(true)
      (w, pb.start())
    }
    val outputs = procs.map { case (w, p) =>
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, TimeUnit.SECONDS), s"probe w$w timed out")
      (w, p.exitValue(), out)
    }
    outputs.foreach { case (w, code, out) =>
      assert(code == 0 && out.contains(s"PROBE-OK w$w"),
        s"probe w$w failed (exit $code):\n$out")
    }
    // the write-if-absent publish is per-PROCESS atomic (hard link):
    // all 12 commits landed, versions dense, every entry exactly once
    val vs = Snapshot.versions(spark, path)
    assert(vs == (1L to (nProcs * nCommits).toLong), s"versions not dense: $vs")
    val (_, files) = Snapshot.currentFiles(spark, path)
    val want = (for (w <- 0 until nProcs; i <- 0 until nCommits)
      yield s"event_date=d0/w$w-$i.parquet").toSet
    assert(files.toSet == want && files.size == want.size,
      s"lost/duplicated commit: ${files.sorted}")
    // each version's header names the single writer that won it
    vs.foreach { v =>
      val m = Snapshot.metaOf(spark, path, v)
      assert(m.contains("writer") && m.contains("seq"), s"v=$v missing identity")
    }
  }

  test("torn commit: a staged-but-unpublished manifest is invisible, swept under the grace rule") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    // simulate a writer that died between writing and publishing
    val torn = new org.apache.hadoop.fs.Path(mdir, ".tmp-dead-writer-1234")
    val out = fs.create(torn, false)
    try out.write("event_date=2024-01-01/ghost.parquet".getBytes("UTF-8"))
    finally out.close()
    // readers never see it: not a committed version, snapshot unchanged
    assert(Snapshot.versions(spark, path) == Seq(1L))
    val before = ids(Snapshot.readSnapshot(spark, path))
    // the NEXT commit is unobstructed (takes v2, ignores the debris)
    import spark.implicits._
    Snapshot.append(spark, path, "event_date",
      Seq((9901L, 9L, 1L, "2024-01-01"))
        .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1))
    assert(Snapshot.currentVersion(spark, path).contains(2L))
    assert(ids(Snapshot.readSnapshot(spark, path)) == before + 9901L)
    // expiry protects it while young, reclaims it once aged out
    val guarded = Snapshot.expire(spark, path, "event_date",
      keep = 2, orphanGraceMs = 3600000L)
    assert(!guarded.exists(_.contains(".tmp-dead-writer")) && fs.exists(torn))
    val swept = Snapshot.expire(spark, path, "event_date", keep = 2)
    assert(swept.exists(_.contains(".tmp-dead-writer")) && !fs.exists(torn))
  }

  test("expire's orphan grace protects an in-flight writer's moved files") {
    val path = buildLayout()
    Snapshot.init(spark, path, "event_date")
    // simulate a concurrent writer that moved a staged file into a
    // partition dir but has not yet committed its manifest
    val orphan = new java.io.File(
      s"$path/event_date=2024-01-01/part-inflight-writer.parquet")
    Files.write(orphan.toPath, Array[Byte](80, 65, 82, 49))
    val guarded = Snapshot.expire(spark, path, "event_date",
      keep = 1, orphanGraceMs = 3600000L)
    assert(!guarded.exists(_.contains("part-inflight-writer")),
      "grace window failed to protect a young unreferenced file")
    assert(orphan.exists())
    // the quiesced sweep (no grace) reclaims it
    val swept = Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(swept.exists(_.contains("part-inflight-writer")))
    assert(!orphan.exists())
  }
}
