package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The EQUALITY-DELETE tier's contracts (Iceberg v2 equality deletes,
  * re-expressed on the manifest store):
  *
  *  - O(KEYS) WRITES: deleteByKeys commits without reading a data file
  *    (pinned by destroying every data file first); upsertByKeys lands
  *    a batch plus its key delete in ONE commit.
  *  - SEQUENCING: a delete hides only rows in files committed BEFORE
  *    it — the upserted batch's own rows survive their own delete, and
  *    a later re-append of a deleted key is visible.
  *  - TRANSIENT TIER: convertEqDeletes folds the key sidecars into
  *    position vectors with visible rows IDENTICAL before and after,
  *    unlocking the normal maintenance ladder (materialize → compact),
  *    which refuses loudly while equality deletes are outstanding.
  *  - FEEDS: changeDiff across an upsert emits exactly the replaced
  *    images as deletes and the new images as inserts.
  *  - GUARDS: eqdel is birth-only, the key list is fixed at first use,
  *    branches refuse on eqdel layouts, and a rewrite racing an
  *    equality delete aborts instead of resurrecting its rows.
  */
class EqualityDeleteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def row(id: Long, v: Long, date: String) = (id, v, date)

  /** Bootstrap an eqdel table via one upsert batch. */
  private def build(prefix: String, rows: Seq[(Long, Long, String)]): String = {
    import spark.implicits._
    val path = s"${tmp(prefix)}/t"
    Snapshot.upsertByKeys(spark, path, "event_date",
      rows.toDF("event_id", "value", "event_date"), Seq("event_id"))
    path
  }

  private def state(path: String): Map[Long, Long] =
    Snapshot.readSnapshot(spark, path).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("value")).toMap

  test("upsert ladder: latest batch wins per key, deletes hide, sequencing exempts later appends") {
    import spark.implicits._
    val path = build("graft-eq-ladder",
      (1L to 6L).map(i => row(i, 10 * i, if (i <= 3) "2024-01-01" else "2024-01-02")))
    assert(state(path) == (1L to 6L).map(i => i -> 10 * i).toMap)
    // upsert keys 4,5 with new values + new key 7 — ONE commit
    val vBefore = Snapshot.currentVersion(spark, path).get
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(4, 400, "2024-01-02"), row(5, 500, "2024-01-01"),
        row(7, 700, "2024-01-02")).toDF("event_id", "value", "event_date"),
      Seq("event_id"))
    assert(Snapshot.currentVersion(spark, path).get == vBefore + 1,
      "an upsert is ONE atomic commit")
    assert(state(path) == Map(1L -> 10L, 2L -> 20L, 3L -> 30L,
      4L -> 400L, 5L -> 500L, 6L -> 60L, 7L -> 700L))
    // note key 5 MOVED partitions (01-02 -> 01-01): equality deletes
    // hide by key table-wide, the partition-stable contract merge
    // needs does not apply here
    // time travel: the pre-upsert image is intact
    assert(Snapshot.readVersion(spark, path, vBefore).count() == 6)
    // plain delete
    Snapshot.deleteByKeys(spark, path, Seq(2L, 7L).toDF("event_id"))
    assert(state(path).keySet == Set(1L, 3L, 4L, 5L, 6L))
    // sequencing: re-append key 2 AFTER its delete — visible (the
    // delete applies only below its own version)
    Snapshot.append(spark, path, "event_date",
      Seq(row(2, 2222, "2024-01-01")).toDF("event_id", "value", "event_date"))
    assert(state(path) == Map(1L -> 10L, 2L -> 2222L, 3L -> 30L,
      4L -> 400L, 5L -> 500L, 6L -> 60L))
    // deleting a key that never existed hides nothing
    Snapshot.deleteByKeys(spark, path, Seq(99L).toDF("event_id"))
    assert(state(path).size == 6)
  }

  test("equality sidecars read under the key columns' recorded types: planning a read over them runs no job") {
    import spark.implicits._
    val path = build("graft-eq-plan",
      (1L to 6L).map(i => row(i, 10 * i, if (i <= 3) "2024-01-01" else "2024-01-02")))
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(2, 200, "2024-01-01")).toDF("event_id", "value", "event_date"),
      Seq("event_id"))
    // INT keys against the LONG key column: stored at the recorded type
    Snapshot.deleteByKeys(spark, path, Seq(5).toDF("event_id"))
    var snap: org.apache.spark.sql.DataFrame = null
    val planJobs = TestJobs.jobsDuring(spark) {
      snap = Snapshot.readSnapshot(spark, path)
    }
    assert(planJobs == 0, s"planning the read ran $planJobs job(s)")
    assert(snap.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("value")).toMap ==
      Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 4L -> 40L, 6L -> 60L))
  }

  test("deleteByKeys commits with ZERO table reads — every data file destroyed first") {
    import spark.implicits._
    val path = build("graft-eq-zeroio",
      Seq(row(1, 10, "2024-01-01"), row(2, 20, "2024-01-02")))
    val dirFs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(dirFs.nonEmpty)
    dirFs.foreach { f =>
      val w = new java.io.FileOutputStream(f)
      try w.write("garbage".getBytes) finally w.close()
    }
    // the delete never opens a data file — it still commits
    val v = Snapshot.deleteByKeys(spark, path, Seq(1L).toDF("event_id"))
    assert(v == 2L)
  }

  test("convertEqDeletes preserves visible rows exactly and unlocks the maintenance ladder") {
    import spark.implicits._
    val path = build("graft-eq-convert",
      (1L to 8L).map(i => row(i, i, if (i % 2 == 0) "2024-01-02" else "2024-01-01")))
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(3, 333, "2024-01-01"), row(4, 444, "2024-01-02"))
        .toDF("event_id", "value", "event_date"), Seq("event_id"))
    Snapshot.deleteByKeys(spark, path, Seq(7L).toDF("event_id"))
    val before = state(path)
    assert(before == Map(1L -> 1L, 2L -> 2L, 3L -> 333L, 4L -> 444L,
      5L -> 5L, 6L -> 6L, 8L -> 8L))
    // maintenance refuses while the equality tier is outstanding
    intercept[IllegalArgumentException](
      Snapshot.materializeDeletes(spark, path, "event_date"))
    intercept[IllegalArgumentException](
      Snapshot.updateWhere(spark, path, "event_date",
        col("event_id") === 1L, Map("value" -> lit(99L))))
    intercept[IllegalArgumentException](
      Snapshot.deleteWhereMoR(spark, path, "event_date",
        col("event_id") === 1L))
    // partition rewrites name the equality tier's own first step, not
    // materializeDeletes (which itself refuses until the conversion)
    Seq(
      () => Snapshot.compact(spark, path, "event_date", 64L << 20),
      () => Snapshot.merge(spark, path, "event_date",
        Seq(row(1, 11, "2024-01-01")).toDF("event_id", "value", "event_date"),
        Seq("event_id"))
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("convertEqDeletes"),
        s"refusal names the wrong first step: ${e.getMessage}")
    }
    // fold: keys -> positions, visible rows identical
    val (_, n) = Snapshot.convertEqDeletes(spark, path)
    assert(n == 3L, s"expected 3 hidden rows (old 3, old 4, key 7), got $n")
    assert(state(path) == before)
    val (_, lines) = (Snapshot.currentVersion(spark, path).get,
      Snapshot.deletesOf(spark, path, Snapshot.currentVersion(spark, path).get))
    assert(lines.forall(f => !f.contains("/eq-")),
      s"eq sidecars must retire at conversion, still live: $lines")
    // the normal ladder now applies
    assert(Snapshot.materializeDeletes(spark, path, "event_date").nonEmpty)
    assert(state(path) == before)
    Snapshot.compact(spark, path, "event_date", targetBytes = 64L << 20)
    assert(state(path) == before)
    // a second convert is a no-op
    assert(Snapshot.convertEqDeletes(spark, path)._2 == 0L)
  }

  test("changeDiff across an upsert emits replaced images as deletes, new images as inserts") {
    import spark.implicits._
    val path = build("graft-eq-diff",
      Seq(row(1, 10, "2024-01-01"), row(2, 20, "2024-01-01"),
        row(3, 30, "2024-01-02")))
    val v1 = Snapshot.currentVersion(spark, path).get
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(2, 200, "2024-01-01"), row(4, 40, "2024-01-02"))
        .toDF("event_id", "value", "event_date"), Seq("event_id"))
    val v2 = Snapshot.currentVersion(spark, path).get
    val d = Snapshot.changeDiff(spark, path, v1, v2).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("value"),
        r.getAs[String]("_change_type"))).toSet
    assert(d == Set((2L, 20L, "delete"), (2L, 200L, "insert"),
      (4L, 40L, "insert")))
    // and across a plain key delete
    Snapshot.deleteByKeys(spark, path, Seq(1L, 3L).toDF("event_id"))
    val v3 = Snapshot.currentVersion(spark, path).get
    val d2 = Snapshot.changeDiff(spark, path, v2, v3).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("_change_type")))
      .toSet
    assert(d2 == Set((1L, "delete"), (3L, "delete")))
    // the conversion is row-preserving: diff across it is EMPTY
    Snapshot.convertEqDeletes(spark, path)
    val v4 = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.changeDiff(spark, path, v3, v4).isEmpty)
    // and the composed diff across everything still nets out exactly
    val all = Snapshot.changeDiff(spark, path, v1, v4).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("value"),
        r.getAs[String]("_change_type"))).toSet
    assert(all == Set((1L, 10L, "delete"), (2L, 20L, "delete"),
      (2L, 200L, "insert"), (4L, 40L, "insert"), (3L, 30L, "delete")))
  }

  test("guards: birth-only, fixed key list, no branches, rewrite-vs-delete race aborts") {
    import spark.implicits._
    // birth-only: a plain table cannot take equality deletes
    val plain = s"${tmp("graft-eq-plain")}/t"
    Snapshot.append(spark, plain, "event_date",
      Seq(row(1, 1, "2024-01-01")).toDF("event_id", "value", "event_date"))
    intercept[IllegalArgumentException](
      Snapshot.deleteByKeys(spark, plain, Seq(1L).toDF("event_id")))
    intercept[IllegalArgumentException](
      Snapshot.upsertByKeys(spark, plain, "event_date",
        Seq(row(2, 2, "2024-01-01")).toDF("event_id", "value", "event_date"),
        Seq("event_id")))
    // fixed key list
    val path = build("graft-eq-guards",
      Seq(row(1, 10, "2024-01-01"), row(2, 20, "2024-01-02")))
    intercept[IllegalArgumentException](
      Snapshot.deleteByKeys(spark, path, Seq(10L).toDF("value")))
    // branches refuse
    intercept[IllegalArgumentException](
      Snapshot.createBranch(spark, path, "audit"))
    // rewrite racing an equality delete: a commit whose base predates
    // the delete and that re-files rows must abort (its images would
    // be stamped above the delete and resurrect its rows)
    val base = Snapshot.currentVersion(spark, path).get
    Snapshot.deleteByKeys(spark, path, Seq(1L).toDF("event_id"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = Snapshot.filesOf(spark, path, base).head
    intercept[graft.sources.SnapshotConflictException](
      Snapshot.commit(fs, root, Some(base), Set(victim),
        Seq(victim), Map("op" -> "compact")))
  }

  test("row lineage composes with equality deletes: untouched ids survive, the typed feed classifies an upsert as delete+insert") {
    import spark.implicits._
    val path = s"${tmp("graft-eq-lineage")}/t"
    Snapshot.upsertByKeys(spark, path, "event_date",
      (1L to 4L).map(i => row(i, 10 * i, "2024-01-01"))
        .toDF("event_id", "value", "event_date"), Seq("event_id"),
      meta = Map("rowids" -> "on"))
    val v1 = Snapshot.currentVersion(spark, path).get
    def idsOf(): Map[Long, Long] =
      Snapshot.readVersionLineage(spark, path,
        Snapshot.currentVersion(spark, path).get).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("_row_id"))
        .toMap
    val ids1 = idsOf()
    assert(ids1.keySet == Set(1L, 2L, 3L, 4L) &&
      ids1.values.toSet.size == 4)
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(2, 200, "2024-01-01"), row(3, 300, "2024-01-01"))
        .toDF("event_id", "value", "event_date"), Seq("event_id"))
    val v2 = Snapshot.currentVersion(spark, path).get
    val ids2 = idsOf()
    assert(ids2(1L) == ids1(1L) && ids2(4L) == ids1(4L),
      "rows untouched by the upsert keep their durable ids")
    assert(ids2(2L) != ids1(2L) && ids2(3L) != ids1(3L),
      "an upsert REPLACES rows — the new images are new identities")
    // the typed feed: replaced images pair as delete(old id) +
    // insert(new id) — an upsert is replace-by-key, not update-in-place
    val d = Snapshot.changeDiffLineage(spark, path, v1, v2).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("value"),
        r.getAs[Long]("_row_id"), r.getAs[String]("_change_type"))).toSet
    assert(d == Set(
      (2L, 20L, ids1(2L), "delete"), (2L, 200L, ids2(2L), "insert"),
      (3L, 30L, ids1(3L), "delete"), (3L, 300L, ids2(3L), "insert")))
    // the bag feed takes the same eq-delta branch to the same rows
    val (bag, typedBag) = ChangeFeeds.bags(
      Snapshot.changeDiff(spark, path, v1, v2),
      Snapshot.changeDiffLineage(spark, path, v1, v2))
    assert(bag == typedBag, s"bag feed $bag vs typed feed $typedBag")
    // conversion is invisible to the typed feed, and ids survive the
    // whole maintenance ladder
    Snapshot.convertEqDeletes(spark, path)
    val v3 = Snapshot.currentVersion(spark, path).get
    assert(Snapshot.changeDiffLineage(spark, path, v2, v3).isEmpty)
    Snapshot.materializeDeletes(spark, path, "event_date")
    Snapshot.compact(spark, path, "event_date", targetBytes = 64L << 20)
    assert(idsOf() == ids2,
      "ids must ride convert -> materialize -> compact unchanged")
  }

  test("partitionStats degrades on eq-reachable files and recovers after conversion") {
    import spark.implicits._
    // stats + null counts declared so entries carry n: (count inputs)
    val path = s"${tmp("graft-eq-pstats")}/t"
    Snapshot.upsertByKeys(spark, path, "event_date",
      Seq(row(1, 10, "2024-01-01"), row(2, 20, "2024-01-02"))
        .toDF("event_id", "value", "event_date"), Seq("event_id"),
      meta = Map("stats" -> "value", "nullstats" -> "on"))
    Snapshot.deleteByKeys(spark, path, Seq(1L).toDF("event_id"))
    val degraded = Snapshot.partitionStatsAt(spark, path,
      Snapshot.currentVersion(spark, path).get).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(degraded.values.forall(r => r.isNullAt(r.fieldIndex("n_live"))),
      "eq-reachable files must degrade n_live to NULL, never guess")
    Snapshot.convertEqDeletes(spark, path)
    val exact = Snapshot.partitionStatsAt(spark, path,
      Snapshot.currentVersion(spark, path).get).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact("event_date=2024-01-01").getAs[Long]("n_live") == 0L)
    assert(exact("event_date=2024-01-02").getAs[Long]("n_live") == 1L)
  }
}
