package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ROW LINEAGE (the r17 top ask): a lineage-enabled layout assigns every
  * row a durable `_row_id` at its first commit and carries it through
  * every rewrite. Pinned here:
  *
  *  - IDS ARE BORN UNIQUE and virtual (entry `r:<base>` + row position,
  *    zero stored bytes); a rewrite materializes them physically
  *    (`r:p`) and the (event_id → _row_id) map is BYTE-IDENTICAL across
  *    compact, CoW delete, DV materialization, update, merge survivors,
  *    and restore.
  *  - AN UPDATE KEEPS THE ROW'S ID — what lets [[Snapshot.changeDiffLineage]]
  *    emit paired update_preimage/update_postimage rows instead of
  *    unmatched delete+insert bags.
  *  - THE COMPOSED DIFF SKIPS row-preserving commits (compaction /
  *    materialization contribute zero candidate rows) and composes
  *    endpoint images per id: insert→delete nets to nothing, an update
  *    later REVERTED nets to nothing, chained updates collapse to one
  *    (first pre, last post) pair.
  *  - A RETENTION HOLE falls back to the two-state id-join diff — same
  *    typed answer, still exact.
  *  - THE ALLOCATOR never hands two concurrent committers overlapping
  *    ranges (`rid-` markers via the create-if-absent primitive).
  */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `nFiles` single-row-ish files across 3 date partitions, lineage on. */
  private def buildLineage(nFiles: Int, prefix: String): String = {
    import spark.implicits._
    val path = s"${tmp(prefix)}/events_by_date"
    (0 until nFiles).map { i =>
      (i.toLong, (i % 5).toLong, i.toLong, f"2024-01-0${i % 3 + 1}%d")
    }.toDF("event_id", "user_id", "ts_ms", "event_date")
      .repartition(nFiles)
      .write.partitionBy("event_date").parquet(path)
    assert(Snapshot.init(spark, path, "event_date", rowIds = true) == 1L)
    path
  }

  private def idMap(df: DataFrame): Map[Long, Long] =
    df.select("event_id", Snapshot.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def delta(id: Long, date: String): DataFrame = {
    import spark.implicits._
    Seq((id, 1L, id, date))
      .toDF("event_id", "user_id", "ts_ms", "event_date").coalesce(1)
  }

  private def entryLinesOf(path: String): Seq[String] = {
    val v = Snapshot.currentVersion(spark, path).get
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve through the public read: entry tags are private — assert
    // via the manifest dir instead
    val dir = new java.io.File(s"$path/_manifests")
    dir.listFiles().filter(_.getName.startsWith("seg-")).toSeq
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
  }

  test("ids are born unique, non-null, and row-count dense") {
    val path = buildLineage(6, "graft-lin-birth")
    val rows = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .select("event_id", Snapshot.RowIdCol).collect()
    assert(rows.length == 6)
    assert(rows.forall(!_.isNullAt(1)), "every row must have an id")
    assert(rows.map(_.getLong(1)).distinct.length == 6, "ids must be unique")
    // virtual at birth: the init segment carries r:<base> tags, no
    // physical column in the files
    assert(entryLinesOf(path).filter(_.contains("event_date="))
      .forall(_.matches(".*\\tr:\\d+.*")),
      "bootstrap entries must carry virtual r:<base> tags")
  }

  test("the (event_id -> _row_id) map is IDENTICAL across compact, update, materialize, CoW delete, restore") {
    val path = buildLineage(9, "graft-lin-stable")
    val born = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    // v2 compact: every partition packs its 3 files into 1
    val compacted = Snapshot.compact(spark, path, "event_date", 1L << 30,
      Seq("ts_ms"))
    assert(compacted.nonEmpty, "fixture must actually compact")
    val afterCompact = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    assert(afterCompact == born, "compaction must not move a single id")
    // rewritten files materialize ids physically
    assert(entryLinesOf(path).exists(_.contains("\tr:p")),
      "compacted entries must be marked physical (r:p)")
    // v3 MoR update keeps the id on the NEW image
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 4L, Map("user_id" -> lit(99L)))
    val afterUpdate = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    assert(afterUpdate == born, "an update must keep the row's id")
    assert(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .where(col("event_id") === 4L).select("user_id")
      .collect().head.getLong(0) == 99L)
    // v4 materialize, v5 CoW delete of one row
    Snapshot.materializeDeletes(spark, path, "event_date", Seq("ts_ms"))
    assert(idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)) == born)
    Snapshot.deleteWhere(spark, path, "event_date",
      col("event_id") === 7L, Seq("ts_ms"))
    val afterDelete = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    assert(afterDelete == born - 7L, "CoW survivors must keep their ids")
    // restore to the post-update version resurrects row 7 WITH its id
    val vAfterMat = 4L
    Snapshot.restore(spark, path, vAfterMat)
    assert(idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)) == born,
      "restore must bring back the exact ids (file algebra carries tags)")
  }

  test("merge: survivors keep ids, updated keys get fresh ids, inserts get fresh unique ids") {
    import spark.implicits._
    val path = buildLineage(6, "graft-lin-merge")
    val born = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    val updates = Seq(
      (2L, 42L, 222L, "2024-01-03"), // key 2 lives in partition 03 (2 % 3 + 1)
      (100L, 43L, 1000L, "2024-01-03")) // new key
      .toDF("event_id", "user_id", "ts_ms", "event_date")
    Snapshot.merge(spark, path, "event_date", updates, Seq("event_id"))
    val after = idMap(Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get))
    assert(after.size == 7)
    // untouched rows keep their ids (including rows in the rewritten
    // partition that were not keyed by the update)
    (born - 2L).foreach { case (k, id) =>
      assert(after(k) == id, s"survivor $k lost its id") }
    // the replaced image and the insert carry FRESH ids, unique overall
    assert(!born.values.toSet.contains(after(100L)))
    assert(after(2L) != born(2L),
      "merge replaces the row under its key — a NEW image, new id " +
      "(updateWhere is the id-keeping update)")
    assert(after.values.toSet.size == 7)
  }

  test("changeDiffLineage pairs update pre/post images ACROSS materialize+compact; re-filings contribute nothing") {
    val path = buildLineage(9, "graft-lin-diff")
    val v1 = 1L
    Snapshot.append(spark, path, "event_date", delta(800L, "2024-01-02")) // v2
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 4L, Map("ts_ms" -> (col("ts_ms") * 10))) // v3
    Snapshot.materializeDeletes(spark, path, "event_date", Seq("ts_ms")) // v4
    val compacted = Snapshot.compact(spark, path, "event_date", 1L << 30,
      Seq("ts_ms")) // v5
    assert(compacted.nonEmpty)
    val cur = Snapshot.currentVersion(spark, path).get
    assert(cur == 5L)
    val diff = Snapshot.changeDiffLineage(spark, path, v1, cur)
    val typed = diff.select("event_id", "_change_type", Snapshot.RowIdCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exactly: one insert (the append), one update PAIR (same id)
    assert(typed.count(_._2 == "insert") == 1)
    assert(typed.filter(_._2 == "insert").head._1 == 800L)
    val pre = typed.filter(_._2 == "update_preimage")
    val post = typed.filter(_._2 == "update_postimage")
    assert(pre.length == 1 && post.length == 1)
    assert(pre.head._1 == 4L && post.head._1 == 4L)
    assert(pre.head._3 == post.head._3,
      "pre and post images must share the row's durable id")
    assert(typed.length == 3, s"re-filed rows must cancel, got: ${typed.toSeq}")
    // the pair carries the actual images
    val tsByType = diff.where(col("event_id") === 4L)
      .select("_change_type", "ts_ms").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tsByType("update_postimage") == tsByType("update_preimage") * 10)
    // the bag feed over the same gap is the typed feed in bag form
    val (bag, typedBag) = ChangeFeeds.bags(
      Snapshot.changeDiff(spark, path, v1, cur), diff)
    assert(bag == typedBag, s"bag feed $bag vs typed feed $typedBag")
  }

  test("composed endpoints: insert-then-delete nets NOTHING, a reverted update nets NOTHING, chained updates collapse") {
    val path = buildLineage(6, "graft-lin-compose")
    val v1 = 1L
    Snapshot.append(spark, path, "event_date", delta(900L, "2024-01-01")) // v2
    Snapshot.deleteWhereMoR(spark, path, "event_date",
      col("event_id") === 900L) // v3: the inserted row dies in-gap
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 3L, Map("ts_ms" -> (col("ts_ms") + 100L))) // v4
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 3L, Map("ts_ms" -> (col("ts_ms") - 100L))) // v5: revert
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 5L, Map("user_id" -> lit(7L))) // v6
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 5L, Map("user_id" -> lit(8L))) // v7: chain
    val cur = Snapshot.currentVersion(spark, path).get
    val typed = Snapshot.changeDiffLineage(spark, path, v1, cur)
      .select("event_id", "_change_type", "user_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // only event 5 changed end-to-end: ONE pair, first pre + last post
    assert(typed.length == 2, s"got: ${typed.toSeq}")
    assert(typed.count(t => t._1 == 5L && t._2 == "update_preimage" &&
      t._3 == 0L) == 1)
    assert(typed.count(t => t._1 == 5L && t._2 == "update_postimage" &&
      t._3 == 8L) == 1)
  }

  test("a retention HOLE falls back to the two-state id-join diff — same typed answer") {
    val path = buildLineage(6, "graft-lin-hole")
    Snapshot.tag(spark, path, "pinned", 1L)
    Snapshot.append(spark, path, "event_date", delta(800L, "2024-01-05")) // v2
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 2L, Map("ts_ms" -> (col("ts_ms") * 10))) // v3
    Snapshot.materializeDeletes(spark, path, "event_date", Seq("ts_ms")) // v4
    Snapshot.expire(spark, path, "event_date", keep = 1)
    assert(Snapshot.versions(spark, path) == Seq(1L, 4L),
      s"fixture needs a hole, got ${Snapshot.versions(spark, path)}")
    val typed = Snapshot.changeDiffLineage(spark, path, 1L, 4L)
      .select("event_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(typed == Set((800L, "insert"), (2L, "update_preimage"),
      (2L, "update_postimage")))
  }

  test("consumeChanges on a lineage table: delta frames carry ids; a row-changing gap feeds TYPED UPDATES") {
    val path = buildLineage(6, "graft-lin-consume")
    var state = Map.empty[Long, Long] // _row_id -> ts_ms (keyed by identity)
    def applyTyped(ch: DataFrame): Unit =
      ch.select(Snapshot.RowIdCol, "_change_type", "ts_ms").collect()
        .foreach { r =>
          val (id, ct, ts) = (r.getLong(0), r.getString(1), r.getLong(2))
          ct match {
            case "insert" | "update_postimage" => state += id -> ts
            case "delete" | "update_preimage" =>
              assert(state.get(id).contains(ts),
                s"retraction of unknown image: $id -> $ts")
              if (ct == "delete") state -= id
          }
        }
    assert(Snapshot.consumeChanges(spark, path, "g")(applyTyped)(applyTyped)
      .mode == "bootstrap")
    Snapshot.append(spark, path, "event_date", delta(700L, "2024-01-02"))
    assert(Snapshot.consumeChanges(spark, path, "g")(applyTyped)(applyTyped)
      .mode == "delta")
    Snapshot.updateWhere(spark, path, "event_date",
      col("event_id") === 1L, Map("ts_ms" -> (col("ts_ms") + 500L)))
    assert(Snapshot.consumeChanges(spark, path, "g")(applyTyped)(applyTyped)
      .mode == "diff")
    val expected = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .select(Snapshot.RowIdCol, "ts_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == expected,
      "id-keyed state maintained purely from the typed feed must equal " +
      "the table")
  }

  test("the id allocator never hands two racing committers overlapping ranges") {
    import java.util.concurrent.{CountDownLatch, Executors}
    val path = buildLineage(3, "graft-lin-race")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val futures = (0 until 4).map { k =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          Snapshot.append(spark, path, "event_date",
            delta(1000L + k, "2024-01-01")): Unit
        }
      })
    }
    start.countDown()
    futures.foreach(_.get())
    pool.shutdown()
    val rows = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .select(Snapshot.RowIdCol).collect().map(_.getLong(0))
    assert(rows.distinct.length == rows.length,
      s"racing appends produced duplicate ids: ${rows.sorted.toSeq}")
  }

  test("lineage reads refuse non-lineage tables and pre-lineage files") {
    import spark.implicits._
    val path = s"${tmp("graft-lin-refuse")}/t"
    Seq((1L, 1L, 1L, "2024-01-01"))
      .toDF("event_id", "user_id", "ts_ms", "event_date")
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date") // NOT lineage-enabled
    val ex = intercept[IllegalArgumentException](
      Snapshot.readVersionLineage(spark, path,
        Snapshot.currentVersion(spark, path).get))
    assert(ex.getMessage.contains("not lineage-enabled"))
  }
}
