package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-partition MERGE contracts: a key that moves partitions is
  * delete+insert in ONE commit, files holding no batch key keep their
  * exact manifest entries (pinned by file identity), a fully-drained
  * partition retires, and the op is rerun-idempotent. */
class MergeAnywhereSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rows(r: Seq[(Long, Double, String)]) = {
    import spark.implicits._
    r.toDF("k", "v", "day")
  }

  test("moving keys rewrite only old+new partitions; drained partitions retire; rerun is idempotent") {
    val base = tmp("graft-xmerge")
    val path = s"$base/t"
    // d1 holds ONLY key 1 (will drain), d2 holds 2..3, d3 holds 4..6
    Snapshot.append(spark, path, "day", rows(Seq(
      (1L, 10.0, "d1"),
      (2L, 20.0, "d2"), (3L, 30.0, "d2"),
      (4L, 40.0, "d3"), (5L, 50.0, "d3"), (6L, 60.0, "d3"))))
    val v1 = Snapshot.currentVersion(spark, path).get
    val before = Snapshot.filesOf(spark, path, v1).toSet

    // key 1 moves d1 -> d2; key 2 stays in d2 with a new image
    Snapshot.mergeAnywhere(spark, path, "day",
      rows(Seq((1L, 11.0, "d2"), (2L, 22.0, "d2"))), Seq("k"))
    val v2 = Snapshot.currentVersion(spark, path).get
    val after = Snapshot.filesOf(spark, path, v2).toSet

    // O(touched): d3's files carry by IDENTITY; d1 and d2 re-filed
    val d3Before = before.filter(_.startsWith("day=d3/"))
    assert(d3Before.nonEmpty && d3Before.subsetOf(after),
      "untouched partition was rewritten")
    assert(!after.exists(_.startsWith("day=d1/")),
      "drained partition still holds files")
    assert(before.filter(_.startsWith("day=d2/")).intersect(after).isEmpty,
      "old-location partition files were not replaced")

    def state(): Set[(Long, Double, String)] =
      Snapshot.readSnapshot(spark, path)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
    val expected = Set(
      (1L, 11.0, "d2"), (2L, 22.0, "d2"), (3L, 30.0, "d2"),
      (4L, 40.0, "d3"), (5L, 50.0, "d3"), (6L, 60.0, "d3"))
    assert(state() == expected)

    // rerun with the SAME updates: same final state, d3 still untouched
    Snapshot.mergeAnywhere(spark, path, "day",
      rows(Seq((1L, 11.0, "d2"), (2L, 22.0, "d2"))), Seq("k"))
    assert(state() == expected)
    assert(d3Before.subsetOf(
      Snapshot.filesOf(spark, path,
        Snapshot.currentVersion(spark, path).get).toSet),
      "rerun rewrote the untouched partition")
  }

  test("pure inserts with new keys and new partitions need no old locations") {
    val path = s"${tmp("graft-xmerge2")}/t"
    Snapshot.append(spark, path, "day", rows(Seq((1L, 1.0, "d1"))))
    val before = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    Snapshot.mergeAnywhere(spark, path, "day",
      rows(Seq((7L, 7.0, "d9"))), Seq("k"))
    assert(Snapshot.readSnapshot(spark, path).count() == 2L)
    assert(before.subsetOf(Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet),
      "an insert-only merge re-filed a file holding no batch key")
  }
}
