package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gates: the properties PERF.md narrates —
  * pushdown, broadcast, no Expand, top-k pushdown — asserted against
  * the formatted plan so a plan regression fails `sbt test` instead of
  * surfacing as a bench slowdown a round later. (The q06 countDistinct
  * Expand regression of round 2 is exactly the class this catches.) */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def fmt(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SharedSpark.sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q06/q09: two-level aggregation — no Expand, no distinct state") {
    val p6 = fmt("q06_sales_by_month")
    val p9 = fmt("q09_late_risk_by_geo")
    assert(!p6.contains("Expand"), s"q06 regressed to Expand:\n$p6")
    assert(!p9.contains("Expand"), s"q09 regressed to Expand:\n$p9")
  }

  test("q09: returnflag filter reaches the parquet scan (PushedFilters)") {
    val p = fmt("q09_late_risk_by_geo")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"),
      s"filter not pushed down:\n$p")
  }

  test("q07/q09: dimension sides broadcast, never shuffled") {
    assert(fmt("q07_profit_by_hierarchy").contains("BroadcastHashJoin"))
    assert(fmt("q09_late_risk_by_geo").contains("BroadcastHashJoin"))
  }

  test("q11: global top-k lowers to TakeOrderedAndProject, not a full sort") {
    val p = fmt("q11_top_k")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
  }

  test("q01: scan prunes to the referenced columns only") {
    val p = fmt("q01_pricing_summary")
    // the lineitem scan must not read untouched wide columns
    assert(!p.contains("l_shipdate"), s"column pruning lost:\n$p")
    assert(p.contains("ReadSchema"))
  }

  // Broadcast-hint policy: explicit broadcast() is reserved for dims whose
  // cardinality is bounded by an enumeration (nation/region, flag combos,
  // status, dept/category, dates, geo triples). Dims that grow with the
  // data (customer, part, supplier, product, route shapes) carry NO hint —
  // AQE broadcasts them while they fit the threshold and falls back to
  // sort-merge beyond it, instead of OOMing at 100 TB. These counts pin
  // that policy per fact build.
  test("fact builds: broadcast hints only on bounded-cardinality dims") {
    // Every hint in a fact build must be a dim-level hint on an
    // enumeration-bounded dim (the policy above); SurrogateKeys.dense
    // adds none. Anything else (customer/part/supplier…) must stay
    // unhinted so AQE can fall back to sort-merge beyond the broadcast
    // threshold.
    def hints(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, SharedSpark.sf0001)
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    }
    assert(hints("q20_fact_star") == 1, "q20: junk dim only") // not customer
    assert(hints("q05_fact_assembly") == 0, "q05: AQE decides all") // not part/supplier/customer
  }

  test("q10: bucket predicate is scan-level — no hash shuffle") {
    val p = fmt("q10_bucket_filter")
    // the only Exchange allowed is the range partitioning for the
    // contract-mandated deterministic ORDER BY; the filter itself must
    // not force a hash shuffle
    assert(!p.contains("hashpartitioning"),
      s"unexpected hash shuffle in scan-level filter:\n$p")
  }

  test("d10: per-doc rank filter lowers to WindowGroupLimit, no Cartesian") {
    val p = fmt("d10_top_terms")
    // rk <= 3 must push into the window as a group limit (partial top-k
    // per partition before the final window) — a plain Window + Filter
    // would sort and rank EVERY (doc, term) row globally first
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("c03: language census broadcasts; the corpus is never re-shuffled") {
    val p = fmt("c03_balanced_sample")
    // thresholds (|languages| rows) must reach the corpus as a broadcast
    // join; a sort-merge here would shuffle the whole corpus on lang
    assert(p.contains("BroadcastHashJoin"), s"census not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on lang:\n$p")
  }

  test("n05: final canonical join is plain equi-join over checkpointed labels") {
    val p = fmt("n05_neardup_components")
    // the iterative propagation happens before this plan (checkpointed);
    // the visible plan must be label ⋈ component-size only — no
    // Cartesian, no nested-loop fallback
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"n05 plan degraded:\n$p")
  }

  test("d16: tf+df via two-level aggregate — no Expand, top-k pushed") {
    val p = fmt("d16_vocab_heavy_hitters")
    // a single groupBy mixing COUNT(*) with COUNT(DISTINCT doc_id) would
    // plan an Expand doubling the exploded token stream (the q06 class)
    assert(!p.contains("Expand"), s"d16 regressed to Expand:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 not pushed:\n$p")
  }

  test("d15: packing window is shard-partitioned — never SinglePartition") {
    val p = fmt("d15_sequence_pack")
    // the running-sum window must hash-partition on the doc-hash shard;
    // a window without a partition key would collapse the whole corpus
    // into one task (the scale-killer the sharding exists to prevent)
    assert(p.contains("hashpartitioning(shard"), s"shard partitioning lost:\n$p")
    val windowSection = p.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windowSection.nonEmpty && windowSection.forall(_.contains("shard")),
      s"window not keyed on shard:\n$p")
  }

  test("c05: eval side is deduped before the join — equi-join, no explosion") {
    val p = fmt("c05_ngram_decontamination")
    // the train⋈eval shingle join must stay an equi-join (the eval side
    // carries one row per DISTINCT shingle, so no pair blow-up is even
    // representable); any nested-loop fallback means the join key was lost
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"c05 join degraded:\n$p")
    assert(p.contains("HashAggregate"), s"eval dedup/agg missing:\n$p")
    // the eval-shingle bloom must probe the train stream BEFORE the join
    // (the d13 shape): definitely-clean shingles — the overwhelming mass
    // — never reach the shuffle; only the maybe sliver pays the equi-join
    assert(p.contains("might_contain"), s"c05 bloom prefilter lost:\n$p")
    assert(p.contains("Subquery"), s"c05 bloom not a scalar subquery:\n$p")
  }

  test("d13: bloom probe is a reused scalar subquery; one anti-join only") {
    val p = fmt("d13_bloom_incremental_dedup")
    // the bloom probe must be pushed into the batch-side scan FILTERS
    // (so definitely-new rows never reach a join), fed by a scalar
    // subquery; only the candidate sliver pays the LeftAnti confirm.
    // The batch is a 2-branch union, so the pushed filter and the
    // anti-join each appear once per branch (and the formatted plan
    // repeats every node in its detail section).
    assert(p.contains("might_contain"), s"bloom probe lost:\n$p")
    assert(p.contains("Subquery"), s"filter not a scalar subquery:\n$p")
    assert(p.contains("LeftAnti"), s"exact confirm join lost:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("d18: per-source cap is a bounded aggregate, never a rank window") {
    val p = fmt("d18_source_cap")
    // the whole point of TopKSmallest: map-side partial aggregation caps
    // state at K pairs per source per mapper, so the shuffle carries
    // ≤ mappers·K rows per source — a rank window here would sort the
    // hottest domain's full row set on one task
    assert(p.contains("partial_topk_smallest"),
      s"map-side partial top-k lost:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"d18 regressed to a rank window:\n$p")
    // the final explode/rank works on K-length arrays, after the agg
    assert(p.contains("ObjectHashAggregate"), s"typed agg missing:\n$p")
  }

  test("r01: term filter precedes every shuffle; top-k pushed down") {
    val p = fmt("r01_keyword_search")
    // global top-k over scores must lower to TakeOrderedAndProject; the
    // trailing Window then ranks TopK rows, bounded at any corpus size
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
    // the only nested-loop join is the broadcast single-row doc count;
    // postings join idf as broadcast hash
    assert(!p.contains("CartesianProduct"), s"pair space materialized:\n$p")
    // the term filter must land on the exploded stream BEFORE the first
    // Exchange — in the formatted tree the Filter's node id sits between
    // the Generate and the first Exchange
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.matches(".*\\+- Generate.*"))
    val filt = lines.indexWhere(_.matches(".*\\+- Filter.*"))
    assert(gen >= 0 && filt >= 0 && filt < gen,
      s"term filter not directly above the explode:\n$p")
  }

  test("d20: vocab funnel aggregates before the pair explode; top-k pushed") {
    val p = fmt("d20_bpe_pair_counts")
    // the corpus-scale reduction must sit between the two explodes: the
    // pair Generate consumes the AGGREGATED vocab, never the raw token
    // stream (tree prints root-first, so pair explode < agg < token
    // explode by line index)
    val lines = p.linesIterator.toSeq
    // tree lines only ("+- Generate (7)"), not the detail section
    val gens = lines.zipWithIndex.collect {
      case (l, i) if l.matches(".*\\+- Generate \\(\\d+\\)\\s*") => i
    }
    val aggs = lines.zipWithIndex.collect {
      case (l, i) if l.matches(".*\\+- HashAggregate \\(\\d+\\)\\s*") => i
    }
    assert(gens.length == 2, s"expected token+pair explodes:\n$p")
    assert(aggs.exists(a => gens.head < a && a < gens.last),
      s"no vocab aggregate between the explodes:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
  }

  test("d21: keeper election is a min-aggregate, never a rank window") {
    val p = fmt("d21_subdoc_dedup")
    // a hot segment digest (corpus-wide boilerplate) must cost the
    // shuffle (digest, doc_id, seg_idx) — a rank window would sort the
    // hottest digest's full occurrence list on one task
    val windows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(windows == 0, s"keeper election regressed to a window:\n$p")
    assert(p.contains("min("), s"min-struct keeper aggregate missing:\n$p")
  }

  test("q39: correlated subqueries decorrelate — no per-row execution") {
    val p = fmt("q39_correlated_subquery")
    // Catalyst must rewrite both scalar subqueries into aggregate+join;
    // a surviving nested-loop over the outer rows would be per-row
    // subquery execution
    assert(!p.contains("CartesianProduct"), s"subquery not decorrelated:\n$p")
    assert(p.contains("Join"), s"decorrelated join missing:\n$p")
    assert(p.contains("HashAggregate"), s"per-nation aggregate missing:\n$p")
  }

  test("q34: stage filters reach the events scan; no per-user lists") {
    val p = fmt("q34_funnel")
    // each funnel stage scans only its event type
    Seq("view", "click", "purchase").foreach { t =>
      assert(p.contains(s"EqualTo(event_type,$t)"),
        s"stage filter '$t' not pushed to scan:\n$p")
    }
    // stage chaining is min()-only: no collect_list/sort-within-user
    assert(!p.contains("collect_list"), s"per-user buffer appeared:\n$p")
  }

  test("q35: cohort via user-partitioned window, never SinglePartition") {
    val p = fmt("q35_retention_cohorts")
    assert(p.contains("Window"), s"cohort window missing:\n$p")
    assert(!p.contains("SinglePartition"),
      s"cohort min collapsed to one partition:\n$p")
  }

  test("n09: served LSH probe joins the saved index with ZERO Exchange") {
    // The serving contract: once the band index and the probe batch are
    // saved co-bucketed on the band key, the probe join itself must not
    // shuffle EITHER side — the whole point of paying the bucketed write.
    val tables = operators.Dedup.buildServedLshIndex(spark, SharedSpark.sf0001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path: a broadcast would also avoid an
      // Exchange, but only the bucketed SMJ proves the co-partitioning
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = operators.Dedup.servedLshJoin(spark, tables)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"served probe join shuffled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q41: events week predicate prunes date PARTITIONS, not just rows") {
    // The 100 TB contract for date-keyed tables: the predicate must reach
    // the scan as a PartitionFilter (planning-time directory pruning),
    // and the pruned scan must select strictly fewer partitions than the
    // full layout — fewer files read, not all-files-then-filter.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def eventsScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_by_date")) => f
      }.head
    val pruned = eventsScan(
      SparkEntry.queries("q41_partition_pruned_events")(spark, SharedSpark.sf0001))
    assert(pruned.partitionFilters.exists(_.references.exists(_.name == "event_date")),
      s"week predicate not a partition filter: ${pruned.partitionFilters}")
    val full = eventsScan(graft.sources.Tables.eventsByDate(spark, SharedSpark.sf0001))
    val nPruned = pruned.selectedPartitions.partitionCount
    val nFull = full.selectedPartitions.partitionCount
    assert(nPruned < nFull,
      s"pruning read $nPruned of $nFull partitions — nothing pruned")
    // the filtered scan also reads fewer FILES than the layout holds
    assert(pruned.selectedPartitions.totalNumberOfFiles <
      full.selectedPartitions.totalNumberOfFiles)
    // and the report itself prunes columns: props (the wide payload
    // column) must not be read
    val p = fmt("q41_partition_pruned_events")
    assert(!p.contains("props"), s"q41 reads the unused payload column:\n$p")
  }

  test("q42: time predicate skips row groups in the ts-clustered layout") {
    // The sub-partition data-skipping contract: the slice predicate must
    // reach parquet as a PushedFilter on ts, and on the range-clustered
    // layout (disjoint per-file ts slices, footer min/max) the reader
    // must DECODE only the slice's neighborhood — proven on the executed
    // plan's scan metric, not inferred from the layout.
    import org.apache.spark.sql.execution.FileSourceScanExec
    // AQE wraps executed scans in leaf query stages that hide them from
    // plan.collect; the skip under test is reader-level (footer stats),
    // unaffected by adaptive planning — assert on the plain plan.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q42_clustered_time_slice")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_clustered")) => f
      }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
      s"slice predicate not pushed to parquet: $pushed")
    // the skip is real: the scan decoded a fraction of the layout — a
    // 12-hour slice of a 30-day corpus on 8 range files must read ≤ 2
    // files' worth of rows (the slice's file + at most one boundary)
    val total = graft.sources.Tables.eventsClustered(spark, SharedSpark.sf0001).count()
    val decoded = scan.metrics("numOutputRows").value
    assert(decoded > 0, "q42 scan decoded nothing — slice predicate degenerate")
    assert(decoded * 2 <= total,
      s"no row-group skipping: scan decoded $decoded of $total layout rows")
    // and the report prunes columns: props (the wide payload) never read
    val p = fmt("q42_clustered_time_slice")
    assert(!p.contains("props"), s"q42 reads the unused payload column:\n$p")
  }

  test("q43: the report is served from the rollup artifact — raw events never scanned") {
    // the materialized-view contract: after the one-time publish, a
    // report's plan touches ONLY rollup-grain rows; the events corpus
    // re-enters a plan only when its fingerprint changes
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scans = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q43_rollup_serving")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(scans.nonEmpty, "no file scan found in the q43 plan")
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains("events_rollup")),
      s"q43 read something besides the rollup artifact: $roots")
    // and serving is cheaper than scanning: the rollup has fewer rows
    // than the corpus it summarizes
    val rollupRows = graft.operators.MatView
      .servedRollup(spark, SharedSpark.sf0001).count()
    val eventRows = graft.sources.Tables
      .load(spark, SharedSpark.sf0001, "events").count()
    assert(rollupRows < eventRows,
      s"rollup ($rollupRows rows) does not compress events ($eventRows)")
  }

  test("q50/q52: rollup-served reports never scan raw events; q50 has one calendar window") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    for ((name, artifact) <- Seq(
        "q50_growth_accounting" -> "events_rollup",
        "q52_maintained_rollup_serving" -> "events_rollup_part")) {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      val scans = try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val df = SparkEntry.queries(name)(spark, SharedSpark.sf0001)
        df.collect()
        df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(roots.nonEmpty && roots.forall(_.contains(artifact)),
        s"$name read something besides its store: $roots")
    }
    // q50's only window is the cumulative series over |dates| rows —
    // calendar-bounded, not data-bounded; a second window means the
    // distinct/first-seen steps regressed to window form
    val p = fmt("q50_growth_accounting")
    assert(p.sliding("Window".length).count(_ == "Window") <= 2, // plan text: node + detail line
      s"q50 grew extra windows:\n$p")
  }

  test("q57: feed-maintained serve scans the frozen base rollup plus ONLY the appended files") {
    // the change-feed maintenance contract at scale: after the one-time
    // base publish, a maintenance serve reads O(rollup grain) + O(delta)
    // — if either the base-rollup artifact drops out of the plan (base
    // corpus re-aggregated per serve) or a v1 data file appears in the
    // feed read (the table re-scanned), the O(batch) claim is gone
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scans = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q57_snapshot_change_feed")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains("events_snapfeed")),
      s"q57 read outside its snapshot family: $roots")
    assert(roots.exists(_.contains("-baserollup")),
      "q57 lost the frozen base rollup — it would re-aggregate the base corpus per serve")
    val tag = SharedSpark.sf0001.replaceAll("[^A-Za-z0-9]", "_")
    val fp = graft.sources.Sink.corpusFingerprint(
      spark, s"${SharedSpark.sf0001}/events.parquet")
    val layout = s"${graft.sources.Sink.artifactRoot}/events_snapfeed/$tag/fp_$fp"
    val v1Files = graft.sources.Snapshot.filesOf(spark, layout, 1L).toSet
    val dataRoots = roots.filterNot(_.contains("-baserollup"))
    assert(dataRoots.nonEmpty, "q57's feed read vanished from the plan")
    assert(dataRoots.forall(r => !v1Files.exists(f => r.endsWith(f))),
      s"q57's feed read touched base (v1) files: $dataRoots")
  }

  test("q60: the manifest alone plans the scan's file subset — a fraction of the store") {
    // manifest-level skipping (tier above q41's directory pruning and
    // q42's footer skipping): the query's scan must read only the files
    // whose manifest bounds overlap the 3-day window — a fraction of
    // the ~300-file store — and the subset is planned from manifest
    // text, no listing and no footer IO. inputFiles IS the planned set.
    val df = SparkEntry.queries("q60_manifest_skip_slice")(spark, SharedSpark.sf0001)
    val pruned = df.inputFiles.length
    val tag = SharedSpark.sf0001.replaceAll("[^A-Za-z0-9]", "_")
    val fp = graft.sources.Sink.corpusFingerprint(
      spark, s"${SharedSpark.sf0001}/events.parquet")
    val store = s"${graft.sources.Sink.artifactRoot}/events_statstore/$tag/fp_$fp"
    val total = graft.sources.Snapshot.currentFiles(spark, store)._2.size
    assert(pruned > 0 && pruned * 2 < total,
      s"manifest skipping pruned nothing: $pruned of $total files read")
  }

  test("maintainSnapshot's merge read prunes to the touched dates at PLANNING time") {
    // the merge's read side must be O(touched dates), not a full-store
    // scan semi-joined down at runtime. maintainSnapshot reads the store
    // as readSnapshot + a literal isin over the partition column; this
    // pins both the PartitionFilters and that the scan lists only the
    // touched dates' files.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.Snapshot
    val ev = graft.sources.Tables.load(spark, SharedSpark.sf0001, "events")
    val path = s"${java.nio.file.Files.createTempDirectory("graft-slice")}/rollup"
    graft.operators.MatView.eventPartials(ev)
      .write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date")
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    val full = scanOf(Snapshot.readSnapshot(spark, path))
    val nFull = full.selectedPartitions.partitionCount
    assert(nFull > 2, s"store has only $nFull date partitions — test degenerate")
    val dates = Seq("2024-01-10", "2024-01-11")
    val slice = scanOf(Snapshot.readSnapshot(spark, path)
      .where(org.apache.spark.sql.functions.col("event_date")
        .isin(dates.map(java.sql.Date.valueOf): _*)))
    assert(slice.partitionFilters.exists(_.references.exists(_.name == "event_date")),
      s"touched-date set not a partition filter: ${slice.partitionFilters}")
    assert(slice.selectedPartitions.partitionCount == dates.size,
      s"slice read ${slice.selectedPartitions.partitionCount} of $nFull partitions")
    val touchedFiles = Snapshot.currentFiles(spark, path)._2
      .count(f => dates.exists(d => f.startsWith(s"event_date=$d/")))
    assert(slice.selectedPartitions.totalNumberOfFiles == touchedFiles,
      s"slice listed ${slice.selectedPartitions.totalNumberOfFiles} files, " +
        s"the touched dates hold $touchedFiles")
  }

  test("q53: the join-derived date set prunes partitions at RUNTIME (DPP)") {
    // the date set arrives through a join, so static pruning cannot
    // apply; the layout scan must carry a dynamicpruningexpression in
    // its PartitionFilters — Spark's runtime partition pruning, the
    // mechanism that keeps dim-driven date reports O(qualifying dates)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q53_dynamic_partition_pruning")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_by_date"))
            && f.output.map(_.name).contains("user_id") => f
      }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val pf = scan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("dynamicpruning"),
      s"no runtime partition pruning on the layout scan: $pf")
  }

  test("q45: user predicate skips files in the Z-ordered layout") {
    // the multi-dimension skipping contract: on the Morton layout a
    // USER slice — the predicate the ts-clustered layout cannot serve —
    // must reach parquet as a PushedFilter and decode a fraction of the
    // corpus, proven on the executed scan metric like q42
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q45_zorder_user_slice")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_zorder")) => f
      }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(user_id")
      && pushed.contains("LessThanOrEqual(user_id"),
      s"user predicate not pushed to parquet: $pushed")
    val layout = graft.sources.Tables.eventsZOrdered(spark, SharedSpark.sf0001)
    val total = layout.count()
    val decoded = scan.metrics("numOutputRows").value
    assert(decoded > 0, "q45 scan decoded nothing — slice predicate degenerate")
    assert(decoded * 2 <= total,
      s"no user-dimension skipping: scan decoded $decoded of $total layout rows")
    // value-completeness of the serving copy against its source of truth
    val src = graft.sources.Tables.load(spark, SharedSpark.sf0001, "events")
    assert(layout.count() == src.count()
      && layout.select("event_id").exceptAll(src.select("event_id")).isEmpty,
      "Z-ordered layout lost or duplicated rows")
  }

  test("zorder layout: a ts slice skips too — locality holds in BOTH dimensions") {
    // same layout, other dimension: a 12-hour slice of the 30-day corpus
    // must also decode a fraction — this is what Z-order buys over
    // single-key clustering (which serves only its own sort key)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types.TimestampType
    import org.apache.spark.sql.functions.{col, lit}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = graft.sources.Tables.eventsZOrdered(spark, SharedSpark.sf0001)
        .where(col("ts") >= lit("2024-01-10 00:00:00").cast(TimestampType)
          && col("ts") < lit("2024-01-10 12:00:00").cast(TimestampType))
        .groupBy(col("event_type")).count()
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_zorder")) => f
      }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val total = graft.sources.Tables.eventsZOrdered(spark, SharedSpark.sf0001).count()
    val decoded = scan.metrics("numOutputRows").value
    assert(decoded > 0)
    assert(decoded * 2 <= total,
      s"no ts-dimension skipping on the Z layout: decoded $decoded of $total")
  }

  test("q47: id point lookup skips row groups by CONTENT in the bloom layout") {
    // min/max cannot help here by construction (the layout hash-
    // partitions by id, so every file spans ~the full id range); only
    // the content sketches — bloom filter, dictionary — can prune, and
    // the executed scan metric proves they did
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val scan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("q47_bloom_point_lookup")(spark, SharedSpark.sf0001)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_bloom")) => f
      }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("event_id"), s"id probe not pushed to parquet: $pushed")
    val total = graft.sources.Tables.eventsBloom(spark, SharedSpark.sf0001).count()
    val decoded = scan.metrics("numOutputRows").value
    assert(decoded > 0, "q47 scan decoded nothing — probe ids missing from corpus")
    assert(decoded * 2 <= total,
      s"no content-based skipping: scan decoded $decoded of $total layout rows")
  }

  test("d29: LM scoring is windowless — no Window, no Expand, no Sort before agg") {
    // the bigram LM trains and scores through joins + hash aggregates
    // only; a Window or Expand here means the plan regressed to a
    // per-doc sequential shape that dies on a 10^7-token doc
    val p = fmt("d29_perplexity_filter")
    assert(!p.contains("Window"), s"d29 grew a window:\n$p")
    assert(!p.contains("Expand"), s"d29 grew an Expand:\n$p")
  }

  test("c14: fixed benchmark suite broadcasts — the corpus never shuffles on shingle") {
    // the claim c05's scaladoc makes (a bounded eval set is broadcast by
    // AQE, so the corpus-side shingle stream joins map-side) — proven on
    // the FINAL adaptive plan, which requires executing the query
    val df = SparkEntry.queries("c14_benchmark_decontamination")(
      spark, SharedSpark.sf0001)
    try {
      assert(df.count() > 0, "c14 must be non-vacuous at sf0.001")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"benchmark shingles not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"corpus shuffled on shingle:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("v01/v06/v17: vector top-k is a bounded aggregate, never a corpus rank window") {
    // the flat-scan ANN queries score |corpus| rows per query; ranking
    // them with row_number() would hash-shuffle the whole scored corpus
    // into ONE task per query and sort it to keep 10–50 survivors. The
    // TopKSmallest aggregate caps map-side state at k pairs per query,
    // so the q_id exchange carries ≤ mappers·k rows (the d18 discipline,
    // proved ≡ the oracle's rank-window SQL by the hash gate).
    Seq("v01_cosine_topk", "v06_quantized_topk").foreach { n =>
      val p = fmt(n)
      assert(p.contains("partial_topk_smallest"),
        s"$n map-side partial top-k lost:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$n regressed to a rank window:\n$p")
    }
    // v17 keeps ONE window — the full-dim rerank over the ≤ shortlist·|q|
    // broadcast-joined frame (bounded by construction); neither the
    // stage-1 prefix scan (pre_cos) nor the exact audit (xcos) may rank
    // corpus-grain rows via a window
    val p17 = fmt("v17_truncated_rerank")
    assert(p17.contains("partial_topk_smallest"),
      s"v17 map-side partial top-k lost:\n$p17")
    Seq("pre_cos", "xcos").foreach { c =>
      assert(!p17.linesIterator.exists(l =>
        l.contains("windowspecdefinition") && l.contains(c)),
        s"v17 $c ranking regressed to a corpus-grain window:\n$p17")
    }
    // the exact audit's query scan is gated by the md5 hash-sample
    // predicate, so the second corpus pass prices at 1/MrlAuditMod
    assert(p17.contains("audit:"),
      s"v17 exact audit not gated by the sample predicate:\n$p17")
    // v18's Hamming prefilter is likewise a bounded aggregate — ranking
    // the sketch scan with a window would sort |corpus| rows per query
    val p18 = fmt("v18_binary_hamming_rerank")
    assert(p18.contains("partial_topk_smallest"),
      s"v18 map-side partial top-k lost:\n$p18")
    assert(!p18.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("ham#")),
      s"v18 hamming ranking regressed to a corpus-grain window:\n$p18")
  }

  test("r05: both RRF input lists lower to TakeOrderedAndProject") {
    val p = fmt("r05_rrf_fusion")
    val hits = "TakeOrderedAndProject".r.findAllIn(p).length
    // one bounded top-N per list + the bounded fused top — never a
    // corpus-wide global Sort feeding a Limit
    assert(hits >= 3, s"expected >=3 bounded top-k operators, got $hits:\n$p")
  }
}
