package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PARTITION-SPEC EVOLUTION (the r17 #3 ask): the manifest records the
  * active spec per version; old-spec and new-spec files coexist and
  * serve one table. Pinned here:
  *
  *  - after [[Snapshot.evolvePartitionSpec]] new appends write the NEW
  *    spec's dirs, OLD-spec appends refuse, and the mixed read returns
  *    every generation's rows (each generation's partition column NULL
  *    on the other's rows);
  *  - directory pruning survives on BOTH generations — each
  *    generation's scan keeps a partition filter on ITS spec column;
  *  - partition-grain maintenance and the keyed merges refuse mixed
  *    layouts LOUDLY; maintenance works again after
  *    [[Snapshot.migratePartitionSpec]];
  *  - migration preserves rows byte-identically (the old partition
  *    column becomes a stored data column, recorded type), is
  *    row-preserving for the change feed, and carries row ids.
  */
class PartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Daily-partitioned base: 6 rows over 3 dates; ts_ms encodes the
    * hour so an hourly spec is derivable. */
  private def build(prefix: String, rowIds: Boolean = false): String = {
    import spark.implicits._
    val path = s"${tmp(prefix)}/t"
    (0 until 6).map { i =>
      (i.toLong, (i % 5).toLong, (i % 2).toLong * 3600000L,
        f"2024-01-0${i % 3 + 1}%d")
    }.toDF("event_id", "user_id", "ts_ms", "event_date")
      .repartition(2)
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date", rowIds = rowIds)
    path
  }

  private def hourly(id: Long, date: String, hour: Int): DataFrame = {
    import spark.implicits._
    Seq((id, 1L, hour.toLong * 3600000L, date, f"$date%s-$hour%02d"))
      .toDF("event_id", "user_id", "ts_ms", "event_date", "event_hour")
      // the old partition column rides new-spec batches as a DATA
      // column — typed to the RECORDED type, like any data column
      .withColumn("event_date", col("event_date").cast("date"))
      .coalesce(1)
  }

  private def hourExpr: org.apache.spark.sql.Column =
    concat(col("event_date").cast("string"), lit("-"),
      lpad((col("ts_ms") / 3600000L).cast("long").cast("string"), 2, "0"))

  test("evolve: new-spec appends land, old-spec appends refuse, the mixed read serves both generations") {
    import spark.implicits._
    val path = build("graft-pe-basic")
    assert(Snapshot.partitionSpec(spark, path).contains("event_date"))
    Snapshot.evolvePartitionSpec(spark, path, "event_hour") // v2
    assert(Snapshot.partitionSpec(spark, path).contains("event_hour"))
    Snapshot.append(spark, path, "event_hour",
      hourly(100L, "2024-01-04", 7)) // v3
    // an old-spec append refuses BEFORE staging anything
    val ex = intercept[IllegalArgumentException] {
      Snapshot.append(spark, path, "event_date",
        Seq((101L, 1L, 0L, "2024-01-04"))
          .toDF("event_id", "user_id", "ts_ms", "event_date"))
    }
    assert(ex.getMessage.contains("active spec"))
    val snap = Snapshot.readSnapshot(spark, path)
    val rows = snap.select("event_id", "event_date", "event_hour")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString), Option(r.get(2)).map(_.toString)))
      .toSet
    // old generation: date from its dirs, hour NULL; new generation:
    // hour from its dirs, date from its stored column
    assert(rows.count(_._3.isEmpty) == 6)
    assert(rows((100L, Some("2024-01-04"), Some("2024-01-04-07"))))
    // time travel to v1 still serves the pure-daily layout
    assert(Snapshot.readVersion(spark, path, 1L).count() == 6)
  }

  test("directory pruning survives on BOTH generations of the mixed read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = build("graft-pe-prune")
    Snapshot.evolvePartitionSpec(spark, path, "event_hour")
    Snapshot.append(spark, path, "event_hour", hourly(100L, "2024-01-04", 7))
    Snapshot.append(spark, path, "event_hour", hourly(101L, "2024-01-04", 9))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def scansOf(df: DataFrame): Seq[FileSourceScanExec] =
        df.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f
        }
      val byDate = Snapshot.readSnapshot(spark, path)
        .where(col("event_date") === lit("2024-01-01").cast("date"))
      val dateScans = scansOf(byDate)
      assert(dateScans.size == 2, s"expected one scan per generation")
      // the old generation's scan prunes event_date DIRECTORIES
      assert(dateScans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "event_date"))),
        s"no event_date partition filter: ${dateScans.map(_.partitionFilters)}")
      val byHour = Snapshot.readSnapshot(spark, path)
        .where(col("event_hour") === "2024-01-04-07")
      val hourScans = scansOf(byHour)
      // the new generation's scan prunes event_hour DIRECTORIES
      assert(hourScans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "event_hour"))),
        s"no event_hour partition filter: ${hourScans.map(_.partitionFilters)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("maintenance refuses the mixed layout loudly; migrate retires it and maintenance works again") {
    val path = build("graft-pe-maint")
    Snapshot.evolvePartitionSpec(spark, path, "event_hour")
    Snapshot.append(spark, path, "event_hour", hourly(100L, "2024-01-04", 7))
    val ex = intercept[IllegalArgumentException](
      Snapshot.compact(spark, path, "event_hour", 1L << 30))
    assert(ex.getMessage.contains("migratePartitionSpec"))
    val before = Snapshot.readSnapshot(spark, path)
      .select("event_id", "user_id", "ts_ms", "event_date")
      .collect().map(_.toSeq).toSet
    val moved = Snapshot.migratePartitionSpec(spark, path, hourExpr)
    assert(moved.nonEmpty && moved.forall(_.startsWith("event_hour=")))
    // rows byte-identical; the old partition column survived as a
    // stored DATE column
    val after = Snapshot.readSnapshot(spark, path)
    assert(after.schema("event_date").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(after.select("event_id", "user_id", "ts_ms", "event_date")
      .collect().map(_.toSeq).toSet == before)
    assert(after.where(col("event_hour").isNull).count() == 0)
    // single-spec again: maintenance works
    assert(Snapshot.migratePartitionSpec(spark, path, hourExpr).isEmpty)
    Snapshot.compact(spark, path, "event_hour", 1L << 30): Unit
    assert(Snapshot.readSnapshot(spark, path).count() == 7)
  }

  test("merge and mergeAnywhere refuse the mixed layout before committing") {
    val path = build("graft-pe-merge")
    Snapshot.evolvePartitionSpec(spark, path, "event_hour")
    val v = Snapshot.append(spark, path, "event_hour",
      hourly(100L, "2024-01-04", 7))
    // event_id 0 lives in an old-spec file: a merge scoped on the new
    // column would miss it and keep both rows
    val batch = hourly(0L, "2024-01-01", 0)
    for (pcol <- Seq("event_hour", "event_date")) {
      val ex = intercept[IllegalArgumentException](
        Snapshot.merge(spark, path, pcol, batch, Seq("event_id")))
      assert(ex.getMessage.contains("migratePartitionSpec"), ex.getMessage)
    }
    val ex = intercept[IllegalArgumentException](
      Snapshot.mergeAnywhere(spark, path, "event_hour", batch, Seq("event_id")))
    assert(ex.getMessage.contains("migratePartitionSpec"), ex.getMessage)
    assert(Snapshot.currentVersion(spark, path).contains(v))
    assert(Snapshot.readSnapshot(spark, path).count() == 7)
  }

  test("the feed crosses evolve-spec; a migration DEGRADES to diff and DELIVERS the backfill") {
    val path = build("graft-pe-feed")
    // keyed mirror: (event_id, event_hour) — what a downstream actually
    // materializes, so a silently-crossed migration would leave stale
    // NULL hours behind
    var mirror = Map.empty[Long, Option[String]]
    def apply(df0: DataFrame): Unit = {
      // pre-evolution frames have no event_hour column yet — the mirror
      // starts it NULL, exactly what the table serves at that version
      val df = if (df0.columns.contains("event_hour")) df0
        else df0.withColumn("event_hour", lit(null).cast("string"))
      // retractions first: a bag diff delivers delete(old)+insert(new)
      // pairs unordered, and a keyed mirror must not let the retraction
      // of the OLD image erase the already-applied NEW one
      val rows = df.select("event_id", "event_hour", "_change_type")
        .collect()
      rows.filter(_.getString(2) == "delete")
        .foreach(r => mirror -= r.getLong(0))
      rows.filterNot(_.getString(2) == "delete")
        .foreach(r => mirror += r.getLong(0) -> Option(r.getString(1)))
    }
    assert(Snapshot.consumeChanges(spark, path, "g")(apply)(apply)
      .mode == "bootstrap")
    Snapshot.evolvePartitionSpec(spark, path, "event_hour") // v2
    Snapshot.append(spark, path, "event_hour",
      hourly(100L, "2024-01-04", 7)) // v3
    // one cycle across BOTH the metadata-only commit and the new-spec
    // append: attributable, O(batch)
    assert(Snapshot.consumeChanges(spark, path, "g")(apply)(apply)
      .mode == "delta")
    assert(mirror.keySet == (0L until 6L).toSet + 100L)
    Snapshot.migratePartitionSpec(spark, path, hourExpr) // v4
    Snapshot.append(spark, path, "event_hour",
      hourly(101L, "2024-01-05", 3)) // v5
    // the migration BACKFILLS event_hour on every old row — a visible
    // image change, so the feed must NOT cross it silently: the typed
    // consumer degrades to the diff and receives the backfill as
    // delete(NULL-hour image) + insert(valued image) pairs
    val r = Snapshot.consumeChanges(spark, path, "g")(apply)(apply)
    assert(r.mode == "diff",
      s"a backfilling migration must degrade the feed to diff: ${r.mode}")
    val expected = Snapshot.readSnapshot(spark, path)
      .select("event_id", "event_hour").collect()
      .map(r0 => r0.getLong(0) -> Option(r0.getString(1))).toMap
    assert(mirror == expected,
      "the mirror must hold the backfilled hours after the diff cycle")
    assert(mirror.values.forall(_.nonEmpty),
      "no stale NULL hours may survive the migration's diff")
  }

  test("row ids survive the spec migration (lineage read spans generations)") {
    val path = build("graft-pe-lineage", rowIds = true)
    def idMap = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
      .select("event_id", Snapshot.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val born = idMap
    Snapshot.evolvePartitionSpec(spark, path, "event_hour")
    Snapshot.append(spark, path, "event_hour", hourly(100L, "2024-01-04", 7))
    val mixed = idMap
    born.foreach { case (k, id) => assert(mixed(k) == id) }
    assert(mixed.values.toSet.size == 7, "new row needs a fresh unique id")
    Snapshot.migratePartitionSpec(spark, path, hourExpr)
    assert(idMap == mixed, "migration must not move a single id")
  }
}
