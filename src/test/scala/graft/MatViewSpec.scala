package graft

import graft.operators.MatView
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized-rollup contract: algebraic partials merge exactly.
  * q43/q44's oracle hash-grades the SERVED reports; these tests pin the
  * maintenance algebra itself, on splits chosen to stress the folds. */
class MatViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("merge(R(base), R(delta)) ≡ R(full) row-for-row on an overlapping-key split") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val base = MatView.eventPartials(ev.where(pmod(col("event_id"), lit(4)) =!= 3))
    val delta = MatView.eventPartials(ev.where(pmod(col("event_id"), lit(4)) === 3))
    // the split is by event id, not by grain key — grain keys must appear
    // in BOTH cohorts, otherwise this test degenerates to concatenation
    // and a broken sum/min/max fold could still pass
    val grain = Seq("event_date", "event_type", "user_id")
    val overlap = base.select(grain.map(col): _*)
      .intersect(delta.select(grain.map(col): _*)).count()
    assert(overlap > 0, "degenerate split: no grain key spans both cohorts")
    val merged = MatView.merge(base, delta)
    val full = MatView.eventPartials(ev)
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "merge(base, delta) diverged from the full-corpus rollup")
  }

  test("merge with an empty delta is identity (idempotent daily run with no arrivals)") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val r = MatView.eventPartials(ev)
    val none = MatView.eventPartials(ev.where(lit(false)))
    val merged = MatView.merge(r, none)
    assert(merged.exceptAll(r).isEmpty && r.exceptAll(merged).isEmpty)
  }

  test("retract(R, deleted) ≡ R(events ∖ deleted), including lost extrema") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val deleted = ev.where(pmod(col("event_id"), lit(10)) === 7)
    val remaining = ev.where(pmod(col("event_id"), lit(10)) =!= 7)
    val full = MatView.eventPartials(ev)
    // non-vacuity: some grain must lose its extremum to the deletion —
    // the case subtract-only retraction gets wrong
    val extremumLost = full
      .where(pmod(col("min_event"), lit(10)) === 7
        || pmod(col("max_event"), lit(10)) === 7).count()
    assert(extremumLost > 0, "deletion never held a grain extremum — test degenerate")
    val got = MatView.retract(full, deleted, remaining)
    val want = MatView.eventPartials(remaining)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "retraction diverged from the rebuild-from-remaining rollup")
  }

  test("retract with nothing deleted is identity") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val r = MatView.eventPartials(ev)
    val none = ev.where(lit(false))
    val got = MatView.retract(r, none, ev)
    assert(got.exceptAll(r).isEmpty && r.exceptAll(got).isEmpty)
  }

  test("sketch mergeability: unioning per-day sketches ≡ sketching the whole slice") {
    // the property that makes the sketch rollup maintainable at all:
    // a union of partial sketches must estimate exactly what one
    // whole-slice sketch estimates (associative, order-independent)
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
      .withColumn("event_date", to_date(col("ts")))
    val viaUnion = ev.groupBy(col("event_date"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"))
    val joined = viaUnion.join(direct, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("est_union") == r.getAs[Long]("est_direct"),
        s"sketch union drifted for ${r.getAs[String]("event_type")}")
    }
  }

  test("snapshot maintenance: atomic data+ledger commit, touched-only swaps, replay no-op, foreign run refused, time travel") {
    import graft.sources.Snapshot
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
      .withColumn("d", to_date(col("ts")))
    val late = col("d") === "2024-01-10" && pmod(col("event_id"), lit(5)) === 0
    val isDelta = col("d") > "2024-01-23" || late
    val base = ev.where(!isDelta).drop("d")
    val delta = ev.where(isDelta).drop("d")
    val path = s"${java.nio.file.Files.createTempDirectory("graft-rollup-snap")}/rollup"
    MatView.eventPartials(base).repartition(col("event_date"))
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date")
    val v1Files = Snapshot.currentFiles(spark, path)._2
    MatView.maintainSnapshot(spark, path, delta, deltaId = 1L, runId = Some("run-A"))
    val (v2, v2Files) = Snapshot.currentFiles(spark, path)
    assert(v2 == 2L)
    // the ledger entry committed IN the same manifest as the data
    val meta = Snapshot.metaOf(spark, path, 2L)
    assert(meta.get("op").contains("replace"))
    assert(meta.get("delta").contains("1"))
    assert(meta.get("run").contains("run-A"))
    // untouched dates keep their exact manifest entries; the straggler
    // date swapped; the new dates appeared
    def byPart(fs: Seq[String]) = fs.groupBy(_.split("/")(0))
    val b = byPart(v1Files)
    val a = byPart(v2Files)
    b.keys.filterNot(_ == "event_date=2024-01-10").foreach { k =>
      assert(a(k).toSet == b(k).toSet, s"$k was rewritten without cause")
    }
    assert(a("event_date=2024-01-10").toSet != b("event_date=2024-01-10").toSet)
    assert(a.keySet.exists(_ > "event_date=2024-01-23"))
    // read-back ≡ the full-corpus rollup
    val cols = Seq("event_date", "event_type", "user_id", "n_events",
      "sum_value", "min_event", "max_event")
    val got = Snapshot.readSnapshot(spark, path).select(cols.map(col): _*)
    val want = MatView.eventPartials(ev.drop("d")).select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "snapshot-maintained rollup diverged from the full rollup")
    // replay of the same (run, delta): detected from the manifest, no
    // new version, no double merge
    MatView.maintainSnapshot(spark, path, delta, deltaId = 1L, runId = Some("run-A"))
    assert(Snapshot.currentVersion(spark, path).contains(2L))
    // a foreign run id fails loudly instead of re-merging from scratch
    val ex = intercept[IllegalStateException] {
      MatView.maintainSnapshot(spark, path, delta, deltaId = 1L, runId = Some("run-B"))
    }
    assert(ex.getMessage.contains("pairing is broken"))
    // time travel: the pre-maintenance version still reads as the base rollup
    val v1got = Snapshot.readVersion(spark, path, 1L).select(cols.map(col): _*)
    val v1want = MatView.eventPartials(base).select(cols.map(col): _*)
    assert(v1got.exceptAll(v1want).isEmpty && v1want.exceptAll(v1got).isEmpty,
      "maintenance leaked into the pinned pre-maintenance version")
  }

  test("q50 growth identities: dau ≥ new, cum monotone, final cum = total users") {
    val rows = SparkEntry.queries("q50_growth_accounting")(spark, SharedSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("new_users") <= r.getAs[Long]("dau"),
        "more first-time users than active users on a day")
    }
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("cum_users") <= b.getAs[Long]("cum_users"))
    }
    assert(rows.map(_.getAs[Long]("new_users")).sum
      == rows.last.getAs[Long]("cum_users"),
      "cumulative series is not the running sum of first-times")
    val totalUsers = Tables.load(spark, SharedSpark.sf0001, "events")
      .select("user_id").distinct().count()
    assert(rows.last.getAs[Long]("cum_users") == totalUsers,
      "growth accounting lost or invented users")
  }

  test("q52 is rerun-safe: the manifest ledger makes maintenance exactly-once") {
    // a second invocation must find the delta applied (the ledger entry
    // in the current manifest's header) and serve the same rows —
    // without it the rerun would re-merge the delta and double-count
    // every touched grain
    val first = SparkEntry.queries("q52_maintained_rollup_serving")(spark, SharedSpark.sf0001)
      .collect().toSeq
    val second = SparkEntry.queries("q52_maintained_rollup_serving")(spark, SharedSpark.sf0001)
      .collect().toSeq
    assert(first == second, "rerun re-applied the delta — maintenance not exactly-once")
  }

  test("sketch rollup maintains: mergeSketch(base, delta) ≡ rebuild, grain-for-grain") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val base = MatView.sketchPartials(ev.where(pmod(col("event_id"), lit(4)) =!= 3))
    val delta = MatView.sketchPartials(ev.where(pmod(col("event_id"), lit(4)) === 3))
    val merged = MatView.mergeSketch(base, delta)
      .select(col("event_date"), col("event_type"), col("n_events"),
        hll_sketch_estimate(col("user_sketch")).as("est"))
    val full = MatView.sketchPartials(ev)
      .select(col("event_date"), col("event_type"), col("n_events"),
        hll_sketch_estimate(col("user_sketch")).as("est"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "sketch merge diverged from the full-corpus sketch rollup")
  }

  test("retractSketch ≡ rebuild-from-remaining; untouched grains keep their sketch BYTES") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val deleted = ev.where(pmod(col("event_id"), lit(10)) === 7)
    val remaining = ev.where(pmod(col("event_id"), lit(10)) =!= 7)
    val full = MatView.sketchPartials(ev)
    val key = Seq("event_date", "event_type")
    // non-vacuity: the deletion must leave BOTH touched grains (the
    // recompute path) and untouched grains (the pass-through path)
    val touched = MatView.sketchPartials(deleted).select(key.map(col): _*)
    val nTouched = touched.count()
    val nUntouched = full.join(touched, key, "left_anti").count()
    assert(nTouched > 0 && nUntouched > 0,
      s"degenerate split: $nTouched touched / $nUntouched untouched grains")
    def view(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_date"), col("event_type"), col("n_events"),
        hll_sketch_estimate(col("user_sketch")).as("est"))
    val got = MatView.retractSketch(full, deleted, remaining)
    val want = MatView.sketchPartials(remaining)
    assert(view(got).exceptAll(view(want)).isEmpty
        && view(want).exceptAll(view(got)).isEmpty,
      "sketch retraction diverged from the rebuild-from-remaining rollup")
    // pass-through is literal: untouched grains carry the ORIGINAL sketch
    // bytes (their stored state is never re-aggregated by a retraction)
    val origUntouched = full.join(touched, key, "left_anti")
    val gotUntouched = got.join(touched, key, "left_anti")
    assert(gotUntouched.exceptAll(origUntouched).isEmpty
        && origUntouched.exceptAll(gotUntouched).isEmpty,
      "retraction re-aggregated untouched grains")
  }

  test("retractSketch with nothing deleted is identity") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val r = MatView.sketchPartials(ev)
    val got = MatView.retractSketch(r, ev.where(lit(false)), ev)
    assert(got.exceptAll(r).isEmpty && r.exceptAll(got).isEmpty)
  }

  test("rollup compresses: grain rows strictly below event rows, totals conserved") {
    val ev = Tables.load(spark, SharedSpark.sf0001, "events")
    val r = MatView.eventPartials(ev)
    assert(r.count() < ev.count(), "rollup grain did not aggregate anything")
    val folded = r.agg(sum(col("n_events"))).head.getLong(0)
    assert(folded == ev.count(), "partial counts lost rows")
  }
}
