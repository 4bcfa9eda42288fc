package graft

import graft.operators.Dedup
import graft.operators.TextOps
import graft.sources.{Sink, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end training-corpus curation — the LLM-data analog of the
  * warehouse pipelines (`Pipeline`, `DataCoPipeline`): raw documents →
  * quality filter → exact dedup → MinHash-LSH near-dup removal →
  * deterministic train/val/test split → partitioned parquet. Each stage
  * is the already-graded operator (d03 quality, d01 dedup, n01/n02
  * LSH, d08 split) chained into one DAG, and the WHOLE chain is itself
  * driver-graded: c01's DuckDB oracle re-derives the curated corpus
  * from scratch, so a hash match proves no stage drops, duplicates, or
  * reorders anything it shouldn't.
  *
  * Scale shape, stage by stage (the 100 TB story):
  *  - annotate/filter: per-row codegen'd expressions, zero shuffle;
  *  - exact dedup: one shuffle on the content digest (rows must move
  *    anyway — survivors carry their text into LSH);
  *  - LSH: per-row signatures, one shuffle on (band_id, band_key),
  *    buckets capped at [[Dedup.MaxBucket]] before the pair explode;
  *  - near-dup drop: LEFT ANTI join against the (tiny) candidate-pair
  *    id set — never materializes the pair texts;
  *  - split: per-row content hash (layout/partitioning independent);
  *  - write: Hive-partitioned by split so downstream training jobs
  *    prune to their slice at the scan.
  *
  * All thresholds are integer math (10·distinct ≥ 3·total instead of a
  * float type-token ratio) so Spark and DuckDB agree bit-for-bit.
  */
object CurationPipeline {

  /** Per-document quality features + integer quality points (0..3):
    * length band, minimum token count, type-token ratio — d03's score
    * with the ratio leg kept in exact integer form. Input columns pass
    * through untouched (the streaming intake needs its event-time column
    * to survive this stage); callers project at the end, and Catalyst
    * prunes whatever they drop. */
  def annotate(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      .withColumn("nc", length(col("text")).cast(LongType))
      .withColumn("nt", size(toks).cast(LongType))
      .withColumn("ndt", size(array_distinct(toks)).cast(LongType))
      // individual rule flags exposed so c15's ablation census and
      // q_points share one derivation (the oracle's `scored` CTE is the
      // DuckDB mirror of exactly these three conditions)
      .withColumn("f_len", when(col("nc").between(100L, 400L), 1L).otherwise(0L))
      .withColumn("f_tok", when(col("nt") >= 20L, 1L).otherwise(0L))
      .withColumn("f_ttr", when(col("ndt") * 10L >= col("nt") * 3L, 1L).otherwise(0L))
      .withColumn("q_points", col("f_len") + col("f_tok") + col("f_ttr"))
  }

  /** Keep documents scoring at least 2 of the 3 quality points. */
  def qualityFilter(annotated: DataFrame): DataFrame =
    annotated.where(col("q_points") >= 2L)

  /** Exact dedup, d01 semantics: keeper = min doc_id per content
    * digest, with the group's copy count kept as provenance. One
    * shuffle on the digest. */
  def exactDedup(df: DataFrame): DataFrame = {
    val byHash = Window.partitionBy(col("__h"))
    df.withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(byHash.orderBy(col("doc_id"))))
      .withColumn("n_copies", count(lit(1)).over(byHash))
      .where(col("__rn") === 1)
      .drop("__h", "__rn")
  }

  /** Near-dup removal: MinHash-LSH candidate pairs over the survivors
    * (buckets capped), then drop the GREATER doc of every candidate
    * pair — the deterministic "keep the first seen" rule. LEFT ANTI on
    * the pair ids only. The input is persisted because it is referenced
    * twice (signature build + anti-join left side) and Spark duplicates
    * non-identical subtrees — without it the whole upstream
    * filter/dedup chain would run twice. */
  def nearDupDrop(df: DataFrame): DataFrame = {
    // persist() returns `df` itself, so a caller that drives its own
    // terminal action ([[main]]) can simply unpersist ITS input frame
    // afterwards; the QueryDef path is freed by Verify/Bench's per-query
    // spark.catalog.clearCache().
    val survivors = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.cappedLshPairs(
      Dedup.bandRows(Dedup.minhashSignatures(survivors)))
    survivors.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** d08's deterministic content-hash split (80/10/10), keyed on doc_id
    * so a revised text never migrates a document between splits. */
  def withSplit(df: DataFrame): DataFrame =
    df.withColumn("split", TextOps.splitFor(col("doc_id")))

  /** The full curated corpus: doc_id, lang, n_tokens, q_points,
    * n_copies, split — deterministically ordered. */
  def curate(docs: DataFrame): DataFrame =
    withSplit(nearDupDrop(exactDedup(qualityFilter(annotate(docs)))))
      .select(col("doc_id"), col("lang"),
        col("nt").as("n_tokens"), col("q_points"), col("n_copies"),
        col("split"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // c01 — the whole chain as one graded query. The oracle re-derives
  // every stage in DuckDB: the quality CTE mirrors annotate/filter, the
  // dedup CTE d01's keeper rule, the minhash/bands CTEs are the SAME
  // parametrized SQL n01/n02 are graded with (over the survivors), and
  // the split CASE is d08's. Integer math end to end.
  // ---------------------------------------------------------------------
  private def c01(s: SparkSession, dir: String): DataFrame =
    curate(Tables.load(s, dir, "documents"))

  /** The curation chain's CTE ladder (base → scored → kept → deduped →
    * curated) shared by c01's and c13's oracles — one source, so a
    * stage-rule change cannot desynchronize the funnel report from the
    * graded corpus (the splitCaseSql discipline). */
  private val curateCtesSql: String =
    s"""base AS (
       |  SELECT doc_id, text, lang, source,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS nt,
       |    CAST(len(list_distinct(${TextOps.tokensSql})) AS BIGINT) AS ndt
       |  FROM documents),
       |scored AS (
       |  SELECT *,
       |    CAST(CASE WHEN nc BETWEEN 100 AND 400 THEN 1 ELSE 0 END
       |       + CASE WHEN nt >= 20 THEN 1 ELSE 0 END
       |       + CASE WHEN ndt * 10 >= nt * 3 THEN 1 ELSE 0 END AS BIGINT) AS q_points
       |  FROM base),
       |kept AS (SELECT * FROM scored WHERE q_points >= 2),
       |groups AS (
       |  SELECT md5(text) AS h, MIN(doc_id) AS keeper,
       |    CAST(COUNT(*) AS BIGINT) AS n_copies
       |  FROM kept GROUP BY 1),
       |deduped AS (
       |  SELECT k.doc_id, k.text, k.lang, k.source, k.nt, k.q_points, g.n_copies
       |  FROM kept k JOIN groups g ON k.doc_id = g.keeper),
       |${Dedup.minhashCtesSql("deduped")},
       |${Dedup.lshBandsCtesSql()},
       |drops AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  JOIN kept_buckets kb
       |    ON a.band_id = kb.band_id AND a.band_key = kb.band_key),
       |curated AS (
       |  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM drops))""".stripMargin

  private val c01Sql =
    s"""WITH $curateCtesSql
       |SELECT doc_id, lang, nt AS n_tokens, q_points, n_copies,
       |  ${TextOps.splitCaseSql} AS split
       |FROM curated
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // c02 — the corpus budget report: docs / token totals / duplicate mass
  // per (split, lang) over the CURATED corpus — the "how many training
  // tokens do I actually have" number every pre-training run starts
  // from. One tiny aggregate over c01's output; the oracle wraps c01's
  // full re-derivation in the same GROUP BY.
  // ---------------------------------------------------------------------
  private def c02(s: SparkSession, dir: String): DataFrame =
    curate(Tables.load(s, dir, "documents"))
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_copies") - 1L).as("n_exact_dups_absorbed"))
      .orderBy(col("split"), col("lang"))

  private val c02Sql =
    s"""WITH c01 AS (
       |$c01Sql
       |)
       |SELECT split, lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_copies - 1) AS BIGINT) AS n_exact_dups_absorbed
       |FROM c01
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------------
  // c03 — language-balanced downsampling: cap every language at the
  // smallest language's document count, selecting docs by deterministic
  // content hash — the domain/language rebalancing step of corpus
  // assembly (and the reason hash sampling, not rand(), is the d08
  // rule: the same doc survives on any cluster, any partitioning, any
  // rerun). keep_ppm = 10^6·min_lang_count/lang_count in integer math;
  // a doc survives iff hash("sample:"+doc_id) mod 10^6 < its language's
  // keep_ppm, so the smallest language keeps everything (ppm = 10^6)
  // and larger ones keep an unbiased ~min_count subset.
  //
  // Scale: the per-language census is a tiny aggregate (|languages|
  // rows — the empty-frame window below runs on that frame, not the
  // corpus), broadcast back; the corpus itself sees one column-pruned
  // aggregate scan + one per-row hash filter. No full-corpus shuffle.
  // ---------------------------------------------------------------------
  private def c03(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val thresholds = counts
      .withColumn("min_n",
        min(col("n_lang")).over(Window.partitionBy()))
      .withColumn("keep_ppm", expr("min_n * 1000000 div n_lang"))
      .select(col("lang"), col("n_lang"), col("keep_ppm"))
    docs.join(broadcast(thresholds), Seq("lang"))
      .withColumn("h_ppm",
        pmod(conv(substring(md5(concat(lit("sample:"), col("doc_id"))), 1, 15), 16, 10)
          .cast(LongType), lit(1000000L)))
      .where(col("h_ppm") < col("keep_ppm"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("keep_ppm"),
        col("h_ppm"))
      .orderBy(col("doc_id"))
  }
  private val c03Sql =
    """WITH counts AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
      |  FROM documents GROUP BY 1),
      |thresholds AS (
      |  SELECT lang, n_lang,
      |    CAST((MIN(n_lang) OVER ()) * 1000000 // n_lang AS BIGINT) AS keep_ppm
      |  FROM counts)
      |SELECT d.doc_id, d.lang, t.n_lang, t.keep_ppm,
      |  CAST(concat('0x', substr(md5(concat('sample:', d.doc_id)), 1, 15)) AS BIGINT) % 1000000 AS h_ppm
      |FROM documents d JOIN thresholds t ON d.lang = t.lang
      |WHERE CAST(concat('0x', substr(md5(concat('sample:', d.doc_id)), 1, 15)) AS BIGINT) % 1000000 < t.keep_ppm
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // c04 — split-contamination report (decontamination): near-duplicate
  // documents whose two copies land in DIFFERENT train/val/test splits —
  // the leakage every eval pipeline has to rule out. d08's split keys on
  // doc_id precisely so that near-identical texts under different ids
  // CAN straddle splits; this report surfaces every LSH candidate pair
  // that does. (The curated corpus is immune by construction — c01
  // dedups and near-dup-drops BEFORE splitting — so this runs on the RAW
  // corpus, where the leakage actually lives.)
  //
  // Scale: the pair list is already capped and tiny relative to the
  // corpus (n02's bucket caps); the split side carries (doc_id, split)
  // only, so the two resolution joins shuffle narrow rows on doc_id.
  // ---------------------------------------------------------------------
  private def c04(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val pairs = Dedup.cappedLshPairs(
      Dedup.bandRows(Dedup.minhashSignatures(docs)))
    val sp = withSplit(docs).select(col("doc_id"), col("split"))
    pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val c04Sql =
    s"""WITH ${Dedup.minhashCtesSql("documents")},
       |${Dedup.lshBandsCtesSql()},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  JOIN kept_buckets k ON a.band_id = k.band_id AND a.band_key = k.band_key),
       |sp AS (
       |  SELECT doc_id,
       |    ${TextOps.splitCaseSql} AS split
       |  FROM documents)
       |SELECT doc_a, doc_b, a.split AS split_a, b.split AS split_b
       |FROM pairs
       |JOIN sp a ON doc_a = a.doc_id
       |JOIN sp b ON doc_b = b.doc_id
       |WHERE a.split <> b.split
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // c05 — exact n-gram decontamination (the GPT-3-report recipe, the
  // complement of c04's near-dup view): a train document is contaminated
  // if any of its word 3-gram shingles appears verbatim in any val/test
  // document. Output: every contaminated train doc with its distinct-
  // shingle total, overlap count, and integer contamination ppm.
  //
  // Scale shape: the eval side collapses to a DISTINCT shingle set
  // before the join, so the join is at most one match per train shingle
  // — no hot-shingle pair explosion possible (contrast n04, where both
  // sides carry doc ids). The train side is Bloom-PREFILTERED (the d13
  // shape): a bloom over the eval shingle hashes — built in one narrow
  // pass with NO shuffle (partial blooms merge) — probes every train
  // shingle in the scan filter, so definitely-clean shingles (the
  // overwhelming mass: decontamination overlap is ppm-scale) never
  // shuffle at all; only the maybe-contaminated sliver (true overlaps +
  // bloom FPs) pays the exact shingle join, and per-doc totals ride the
  // explode as a doc-grain column instead of a second aggregation of
  // the full stream. Bloom FPs cost only wasted join rows — matches are
  // still counted exactly against the DISTINCT eval set, so the result
  // is exact at any FP rate (no false negatives). The eval set is left
  // to AQE rather than force-broadcast: here eval = 20% of the corpus,
  // which grows with the data, and a broadcast hint on an
  // unbounded-cardinality side breaks at scale; c14 is the
  // fixed-benchmark variant where the broadcast claim is real (and
  // pinned).
  // ---------------------------------------------------------------------

  /** Bloom sizing for the eval shingle set: 2^22 expected items at
    * 2^25 bits (4 MiB, ~8 bits/item ⇒ ~2% FP) — broadcast-scale even
    * sized for a benchmark suite far larger than any real one. */
  private val EvalBloomItems = 1L << 22
  private val EvalBloomBits = 1L << 25

  private def c05(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    // loadHeavy: the persisted token cache inherits the scan's
    // partitioning, and the one-row-group corpus scans as ~3 splits —
    // so without it tokenization AND all three shingle-exploding
    // consumers run 3-wide however many cores exist. The adaptive
    // rebalance widens the cache to core count;
    // no-op at production file counts (Tables.rebalanceStarved ladder).
    val sp = withSplit(Tables.loadHeavy(s, dir, "documents")
      .select(col("doc_id"), col("text")))
    // All three branches (bloom build, eval-distinct side, train side)
    // need the tokenized corpus; without persist() it is scanned and
    // tokenized once per branch, and tokenization dominates at scale.
    // Persist at DOC grain (doc_id, split, toks) — the narrowest frame
    // that kills the recompute — NOT the exploded shingle frame, which
    // is ~shingle× larger and spills at scale.
    // Each branch re-derives explode(array_distinct(shingles)) from
    // cache; the shingle explode is cheap relative to tokenization.
    // Cleanup is Verify/Bench's per-query clearCache, same as v07.
    val toksDf = sp.select(col("doc_id"), col("split"),
      TextOps.tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The eval side is shingled ONCE: both the bloom build and the exact
    // join probe read the persisted DISTINCT eval shingle set instead of
    // each re-exploding the eval corpus from the token cache (two
    // passes that otherwise dominate the profile after the train
    // probe). A bloom over the distinct set is the same
    // bloom (insertion is idempotent). Persisting here is not a new
    // scale liability: the distinct set is exactly the frame the join
    // already shuffles/holds, MEMORY_AND_DISK spills rather than OOMs,
    // and the cache is freed by Verify/Bench's per-query clearCache.
    val evalShingles = toksDf.where(col("split") =!= "train")
      .select(explode(array_distinct(Dedup.shingles(col("toks")))).as("shingle"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bloom_filter_agg / might_contain are internal Catalyst nodes (the
    // runtime-filter machinery), constructed through the Bridge; the
    // aggregate becomes a scalar subquery probed in the train-side scan.
    // (CacheManager substitutes the persisted evalShingles inside the
    // subquery plan too — its execution is what materializes the cache.)
    // coalesce(16) bounds the bloom's partial fan-in: the final merge
    // ORs one 4 MiB partial PER INPUT PARTITION on a single task — cost
    // #partitions × bits at ANY data size (a 2000-partition cluster run
    // would OR 8 GB serially). A narrow coalesce keeps inserts
    // parallel over 16 tasks while capping the serial merge at
    // 16 × 4 MiB; constant fan-in is the right shape at every scale
    // because the merge cost never depends on row count.
    val bloomPlan = evalShingles.coalesce(16).select(Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("shingle"))),
        Literal(EvalBloomItems), Literal(EvalBloomBits))
        .toAggregateExpression()).as("bf"))
    val maybeContam: Column = Bridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomPlan.queryExecution.analyzed, Seq.empty),
      Bridge.expression(xxhash64(col("shingle")))))
    toksDf.where(col("split") === "train")
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("toks"))).as("shings"))
      .select(col("doc_id"),
        size(col("shings")).cast(LongType).as("n_shingles"),
        explode(col("shings")).as("shingle"))
      .where(maybeContam)
      // INNER join against the distinct eval set: each train shingle
      // matches at most once, so survivors are exactly the true overlaps
      // (bloom FPs die here, before the doc-grain shuffle) and the
      // contaminated-only output needs no post-aggregation filter
      .join(evalShingles, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        min(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("n_contaminated"))
      .withColumn("contamination_ppm",
        expr("n_contaminated * 1000000 div n_shingles"))
      .orderBy(col("doc_id"))
  }
  private val c05Sql =
    s"""WITH sp AS (
       |  SELECT doc_id, text,
       |    ${TextOps.splitCaseSql} AS split
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id, split, unnest(list_distinct(${Dedup.shinglesSql})) AS shingle
       |  FROM sp),
       |ev AS (
       |  SELECT DISTINCT shingle FROM shingled WHERE split <> 'train'),
       |agg AS (
       |  SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(COUNT(e.shingle) AS BIGINT) AS n_contaminated
       |  FROM shingled t LEFT JOIN ev e ON t.shingle = e.shingle
       |  WHERE t.split = 'train'
       |  GROUP BY 1)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  CAST(n_contaminated * 1000000 // n_shingles AS BIGINT) AS contamination_ppm
       |FROM agg
       |WHERE n_contaminated > 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // c14 — FIXED-benchmark decontamination: c05's semantics when the eval
  // side is a real benchmark suite (here doc_id % 97 == 0 — a handful of
  // documents that does NOT grow with the corpus, standing in for
  // MMLU/GSM8K/etc). This is the mode c05's scaladoc argues about: with
  // a bounded eval set there is no need for the bloom machinery — the
  // distinct benchmark shingle set is KBs, AQE broadcasts it, and the
  // corpus-side shingle stream joins map-side with ZERO shuffle before
  // the contaminated-only doc-grain count (the inner join drops every
  // clean shingle at the broadcast probe). PlanSpec executes the query
  // and pins the broadcast in the final adaptive plan, turning the c05
  // comment's claim into a regression gate.
  // ---------------------------------------------------------------------
  private def c14(s: SparkSession, dir: String): DataFrame = {
    val toksDf = Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchShingles = toksDf.where(pmod(col("doc_id"), lit(97L)) === 0L)
      .select(explode(array_distinct(Dedup.shingles(col("toks")))).as("shingle"))
      .distinct()
    toksDf.where(pmod(col("doc_id"), lit(97L)) =!= 0L)
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("toks"))).as("shings"))
      .select(col("doc_id"),
        size(col("shings")).cast(LongType).as("n_shingles"),
        explode(col("shings")).as("shingle"))
      .join(benchShingles, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        min(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("n_contaminated"))
      .withColumn("contamination_ppm",
        expr("n_contaminated * 1000000 div n_shingles"))
      .orderBy(col("doc_id"))
  }
  private val c14Sql =
    s"""WITH shingled AS (
       |  SELECT doc_id, unnest(list_distinct(${Dedup.shinglesSql})) AS shingle
       |  FROM documents),
       |bench AS (
       |  SELECT DISTINCT shingle FROM shingled WHERE doc_id % 97 = 0),
       |agg AS (
       |  SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(COUNT(b.shingle) AS BIGINT) AS n_contaminated
       |  FROM shingled t LEFT JOIN bench b ON t.shingle = b.shingle
       |  WHERE t.doc_id % 97 <> 0
       |  GROUP BY 1)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  CAST(n_contaminated * 1000000 // n_shingles AS BIGINT) AS contamination_ppm
       |FROM agg
       |WHERE n_contaminated > 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // c06 — temperature-scaled language mixing: c03's deterministic hash
  // sampling with the rebalancing exponent every multilingual
  // pre-training recipe actually uses. Sampling rate per language
  // ∝ n_lang^(τ-1); τ = 0.5 here, so rate = sqrt(min_n)/sqrt(n_lang),
  // normalized so the smallest language keeps everything — between τ = 0 (c03's hard
  // cap-to-min) and τ = 1 (natural distribution). sqrt is
  // correctly-rounded per IEEE-754 in both engines (unlike pow/exp,
  // which is why τ is fixed at 0.5 rather than a free parameter), so
  // keep_ppm = floor(10^6·sqrt(min_n)/sqrt(n_source)) is bit-identical
  // cross-engine. Same scale shape as c03: tiny census aggregate,
  // broadcast back, per-row hash filter — no full-corpus shuffle.
  // ---------------------------------------------------------------------
  private def c06(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val thresholds = counts
      .withColumn("min_n", min(col("n_lang")).over(Window.partitionBy()))
      // ratio FIRST, then scale: sqrt(m)/sqrt(m) is exactly 1.0, so the
      // smallest language gets exactly 10^6 ppm. The reassociated form
      // floor((10^6*sqrt(min))/sqrt(n)) lands one ulp below 10^6 for ~14%
      // of counts (fl(10^6*s)/s < 10^6), silently dropping docs of the
      // smallest language itself.
      .withColumn("keep_ppm",
        floor(lit(1000000.0) * (sqrt(col("min_n").cast(DoubleType))
          / sqrt(col("n_lang").cast(DoubleType)))))
      .select(col("lang"), col("n_lang"), col("keep_ppm"))
    docs.join(broadcast(thresholds), Seq("lang"))
      .withColumn("h_ppm",
        pmod(conv(substring(md5(concat(lit("mix:"), col("doc_id"))), 1, 15), 16, 10)
          .cast(LongType), lit(1000000L)))
      .where(col("h_ppm") < col("keep_ppm"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("keep_ppm"),
        col("h_ppm"))
      .orderBy(col("doc_id"))
  }
  private val c06Sql =
    """WITH counts AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
      |  FROM documents GROUP BY 1),
      |thresholds AS (
      |  SELECT lang, n_lang,
      |    CAST(floor(1000000.0 * (sqrt(CAST(MIN(n_lang) OVER () AS DOUBLE))
      |      / sqrt(CAST(n_lang AS DOUBLE)))) AS BIGINT) AS keep_ppm
      |  FROM counts)
      |SELECT d.doc_id, d.lang, t.n_lang, t.keep_ppm,
      |  CAST(concat('0x', substr(md5(concat('mix:', d.doc_id)), 1, 15)) AS BIGINT) % 1000000 AS h_ppm
      |FROM documents d JOIN thresholds t ON d.lang = t.lang
      |WHERE CAST(concat('0x', substr(md5(concat('mix:', d.doc_id)), 1, 15)) AS BIGINT) % 1000000 < t.keep_ppm
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // c07 — best-of-cluster representative selection: for every near-dup
  // component (n05's LSH connected components) keep the HIGHEST-QUALITY
  // member, not the lowest id — the keeper policy production dedup
  // actually wants (c01's exactDedup keeps min-id because byte-exact
  // copies are interchangeable; near-dup variants are not). Singletons
  // (docs in no candidate pair) keep themselves. Ties break to the
  // smaller doc_id, so the choice is total and rerun-stable.
  //
  // Scale shape: components exist only for docs in ≥1 LSH pair (a small
  // fraction of the corpus); the corpus joins that label set once on
  // doc_id, and the per-component argmax is ONE partial-aggregating
  // groupBy carrying (canonical_id, q_points, doc_id) — max(struct) is
  // associative, so no rank window and no component ever needs its
  // members co-resident. Component size itself is bounded by the n02
  // bucket cap upstream.
  // ---------------------------------------------------------------------
  private def c07(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val comps = Dedup.connectedComponents(
      Dedup.cappedLshPairs(Dedup.bandRows(Dedup.minhashSignatures(docs))))
      .select(col("doc_id"), col("canonical_id"))
    annotate(docs).select(col("doc_id"), col("q_points"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("canonical_id",
        coalesce(col("canonical_id"), col("doc_id")))
      .groupBy(col("canonical_id"))
      .agg(
        count(lit(1)).as("comp_size"),
        // lexicographic struct max = (best quality, then smallest id)
        max(struct(col("q_points"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(
        col("canonical_id"),
        (-col("best.neg_id")).as("keeper_doc_id"),
        col("best.q_points").as("keeper_q_points"),
        col("comp_size"),
        (col("comp_size") - 1L).as("n_dropped"))
      .orderBy(col("canonical_id"))
  }
  private val c07Sql =
    s"""WITH RECURSIVE ${Dedup.minhashCtesSql("documents")},
       |${Dedup.lshBandsCtesSql()},
       |${Dedup.componentsCtesSql},
       |feat AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS nt,
       |    CAST(len(list_distinct(${TextOps.tokensSql})) AS BIGINT) AS ndt
       |  FROM documents),
       |qp AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN nc BETWEEN 100 AND 400 THEN 1 ELSE 0 END
       |       + CASE WHEN nt >= 20 THEN 1 ELSE 0 END
       |       + CASE WHEN ndt * 10 >= nt * 3 THEN 1 ELSE 0 END AS BIGINT) AS q_points
       |  FROM feat),
       |labeled AS (
       |  SELECT q.doc_id, coalesce(c.canonical_id, q.doc_id) AS canonical_id,
       |    q.q_points
       |  FROM qp q LEFT JOIN canon c ON q.doc_id = c.doc_id),
       |ranked AS (
       |  SELECT canonical_id, doc_id, q_points,
       |    row_number() OVER (PARTITION BY canonical_id
       |      ORDER BY q_points DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY canonical_id) AS comp_size
       |  FROM labeled)
       |SELECT canonical_id, doc_id AS keeper_doc_id,
       |  q_points AS keeper_q_points,
       |  CAST(comp_size AS BIGINT) AS comp_size,
       |  CAST(comp_size - 1 AS BIGINT) AS n_dropped
       |FROM ranked
       |WHERE rn = 1
       |ORDER BY canonical_id""".stripMargin

  // ---------------------------------------------------------------------
  // c08 — curriculum ordering: assign every document a deterministic
  // global training position, highest quality band first and a
  // pseudo-random (hashed) shuffle within each band — the data-ordering
  // step of curriculum/annealing recipes ("finish training on the best
  // data" is this list reversed; either way the ORDER must be stable
  // across reruns and cluster layouts, or resumed training silently
  // sees a different epoch). Bands are c01's integer quality points;
  // intra-band order is a salted md5 in ppm space with doc_id as the
  // total tiebreak.
  //
  // Scale shape: the global dense position uses SurrogateKeys.dense
  // (one range split, per-partition offsets) — a row_number() window
  // here would funnel the whole corpus through one task, the exact
  // single-partition collapse the warehouse keys already eliminated.
  // ---------------------------------------------------------------------
  private def c08(s: SparkSession, dir: String): DataFrame = {
    val banded = annotate(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("q_points").as("band"))
      .withColumn("h_ppm",
        pmod(conv(substring(md5(concat(lit("curr:"), col("doc_id"))), 1, 15),
          16, 10).cast(LongType), lit(1000000L)))
    operators.SurrogateKeys.dense(banded, "position",
      Seq(col("band").desc, col("h_ppm"), col("doc_id")))
      .orderBy(col("position"))
  }
  private val c08Sql =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS nt,
       |    CAST(len(list_distinct(${TextOps.tokensSql})) AS BIGINT) AS ndt
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN nc BETWEEN 100 AND 400 THEN 1 ELSE 0 END
       |       + CASE WHEN nt >= 20 THEN 1 ELSE 0 END
       |       + CASE WHEN ndt * 10 >= nt * 3 THEN 1 ELSE 0 END AS BIGINT) AS band,
       |    CAST(concat('0x', substr(md5(concat('curr:', doc_id)), 1, 15))
       |      AS BIGINT) % 1000000 AS h_ppm
       |  FROM base)
       |SELECT CAST(row_number() OVER (ORDER BY band DESC, h_ppm, doc_id)
       |    AS BIGINT) AS position,
       |  doc_id, band, h_ppm
       |FROM banded
       |ORDER BY position""".stripMargin

  // ---------------------------------------------------------------------
  // c09 — training-token apportionment: split a fixed token budget
  // across sources proportionally to available tokens so the
  // allocations sum EXACTLY to the budget — the mixture manifest a
  // training run is launched with (c06 decides which docs survive; this
  // decides how many tokens each source contributes to the run).
  // Naive rounding under- or over-shoots by up to |sources|; the
  // largest-remainder (Hamilton) method allocates floor(share) to
  // everyone and distributes the leftover one token... unit at a time
  // to the largest fractional remainders, source name as the total
  // tiebreak.
  //
  // Scale: the corpus collapses to a per-source census (one partial-
  // aggregated shuffle); apportionment runs on |sources| rows — the
  // windows here are over a bounded enumeration, never the corpus.
  // Integer products n_tokens·budget fit int64 through ~10⁶ tokens per
  // source at this budget; production sizes switch to DECIMAL(38,0),
  // same plan.
  // ---------------------------------------------------------------------
  private val TokenBudget = 100000L

  private def c09(s: SparkSession, dir: String): DataFrame = {
    val census = Tables.load(s, dir, "documents")
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), size(col("toks")).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    census
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("base", expr(s"n_tokens * $TokenBudget div total"))
      .withColumn("rem", expr(s"(n_tokens * $TokenBudget) % total"))
      .withColumn("leftover", lit(TokenBudget) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRem).cast(LongType))
      .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("base"), col("extra"),
        (col("base") + col("extra")).as("alloc"))
      .orderBy(col("source"))
  }
  /** The Hamilton-apportionment CTEs shared by c09's and c12's oracles
    * (census → fractional shares → largest-remainder ranks) — one
    * source, so a tiebreak or budget change cannot desynchronize the
    * manifest from its materialization. */
  private val apportionCtesSql: String =
    s"""census AS (
       |  SELECT source,
       |    CAST(sum(len(${TextOps.tokensSql})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |q AS (
       |  SELECT source, n_tokens,
       |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
       |  FROM census),
       |b AS (
       |  SELECT source, n_tokens,
       |    CAST(n_tokens * $TokenBudget // total AS BIGINT) AS base,
       |    CAST((n_tokens * $TokenBudget) % total AS BIGINT) AS rem
       |  FROM q),
       |r AS (
       |  SELECT *, CAST($TokenBudget - sum(base) OVER () AS BIGINT) AS leftover,
       |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
       |  FROM b)""".stripMargin

  private val c09Sql =
    s"""WITH $apportionCtesSql
       |SELECT source, n_tokens, base,
       |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM r
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // c12 — epoch materialization: turn c09's token manifest into the
  // actual repeated corpus a trainer streams (the Llama/Dolma "epochs
  // over sources" recipe). Each source's epoch factor is its c09
  // allocation over its available tokens (ppm-exact, may be <1 —
  // downsample — or >1 — upsample); every doc gets floor(epochs) full
  // copies plus one more iff its content hash lands under the
  // fractional remainder, so per-source materialized tokens hit the
  // allocation in expectation with zero coordination — the same
  // layout-stable hash idiom as d08 (rand() would re-deal the corpus on
  // every re-partition).
  //
  // Scale: the manifest is source-grain (c09's bounded census) and
  // broadcast into one doc-grain pass; the only data-scaled work is the
  // explode, whose fan-out is the epoch count itself — exactly the
  // output the trainer asked for, nothing amplified beyond it.
  // ---------------------------------------------------------------------
  private def c12(s: SparkSession, dir: String): DataFrame = {
    val alloc = c09(s, dir).select(col("source"), col("n_tokens"), col("alloc"))
      .withColumn("epochs_ppm", expr("alloc * 1000000 div n_tokens"))
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("nt"))
    docs.join(broadcast(alloc.select(col("source"), col("epochs_ppm"))),
        Seq("source"))
      .withColumn("n_full", expr("epochs_ppm div 1000000"))
      .withColumn("frac_ppm", expr("epochs_ppm % 1000000"))
      .withColumn("h_ppm",
        pmod(conv(substring(md5(concat(lit("epoch:"), col("doc_id"))), 1, 15), 16, 10)
          .cast(LongType), lit(1000000L)))
      .withColumn("n_copies",
        col("n_full") + when(col("h_ppm") < col("frac_ppm"), 1L).otherwise(0L))
      .where(col("n_copies") >= 1L)
      .select(col("doc_id"), col("source"), col("nt"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }
  private val c12Sql =
    s"""WITH $apportionCtesSql,
       |ep AS (
       |  SELECT source,
       |    CAST((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
       |      * 1000000 // n_tokens AS BIGINT) AS epochs_ppm
       |  FROM r),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS nt
       |  FROM documents),
       |j AS (
       |  SELECT doc_id, d.source, nt,
       |    CAST(epochs_ppm // 1000000 AS BIGINT) AS n_full,
       |    CAST(epochs_ppm % 1000000 AS BIGINT) AS frac_ppm,
       |    CAST(concat('0x', substr(md5(concat('epoch:', doc_id)), 1, 15)) AS BIGINT)
       |      % 1000000 AS h_ppm
       |  FROM d JOIN ep ON d.source = ep.source),
       |c AS (
       |  SELECT doc_id, source, nt,
       |    CAST(n_full + CASE WHEN h_ppm < frac_ppm THEN 1 ELSE 0 END AS BIGINT)
       |      AS n_copies
       |  FROM j)
       |SELECT doc_id, source, nt,
       |  CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
       |FROM c WHERE n_copies >= 1
       |ORDER BY doc_id, copy_idx""".stripMargin

  // ---------------------------------------------------------------------
  // c13 — the funnel-attrition report: per source, how many documents
  // survive each curation stage (raw → quality → exact-unique →
  // near-dup-final) with per-stage drop rates in exact ppm — the loss
  // accounting every production pipeline ships next to its curated
  // corpus, and the first place a mis-weighted source or a
  // crawl-duplicate storm shows up. The stages are the REAL stage
  // functions (annotate/qualityFilter/exactDedup/nearDupDrop) counted
  // per frame, and the oracle reads the intermediate CTEs of c01's
  // shared ladder — so the report cannot drift from the graded corpus.
  //
  // Scale: the annotated doc-grain frame (doc_id, source, text,
  // q_points) is persisted ONCE and all four stage counts derive from
  // it — the narrowest frame that kills the recompute (the c05 grain
  // rule); each count is a source-grain aggregate with map-side
  // partials, and the final report joins at source grain (bounded by
  // the source enumeration, broadcast-sized).
  // ---------------------------------------------------------------------
  private def c13(s: SparkSession, dir: String): DataFrame = {
    val ann = annotate(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("text"), col("q_points"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = qualityFilter(ann)
    val d = exactDedup(q)
    val f = nearDupDrop(d)
    def cnt(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    cnt(ann, "n_raw")
      .join(cnt(q, "n_quality"), Seq("source"), "left")
      .join(cnt(d, "n_unique"), Seq("source"), "left")
      .join(cnt(f, "n_final"), Seq("source"), "left")
      .na.fill(0L, Seq("n_quality", "n_unique", "n_final"))
      .withColumn("quality_drop_ppm",
        expr("(n_raw - n_quality) * 1000000 div greatest(n_raw, 1)"))
      .withColumn("dup_drop_ppm",
        expr("(n_quality - n_unique) * 1000000 div greatest(n_quality, 1)"))
      .withColumn("neardup_drop_ppm",
        expr("(n_unique - n_final) * 1000000 div greatest(n_unique, 1)"))
      .withColumn("survival_ppm",
        expr("n_final * 1000000 div greatest(n_raw, 1)"))
      .orderBy(col("source"))
  }
  private val c13Sql =
    s"""WITH $curateCtesSql,
       |raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw FROM base GROUP BY 1),
       |qual AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality FROM kept GROUP BY 1),
       |uniq AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_unique FROM deduped GROUP BY 1),
       |fin AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final FROM curated GROUP BY 1)
       |SELECT r.source, n_raw,
       |  CAST(coalesce(n_quality, 0) AS BIGINT) AS n_quality,
       |  CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique,
       |  CAST(coalesce(n_final, 0) AS BIGINT) AS n_final,
       |  CAST((n_raw - coalesce(n_quality, 0)) * 1000000
       |    // greatest(n_raw, 1) AS BIGINT) AS quality_drop_ppm,
       |  CAST((coalesce(n_quality, 0) - coalesce(n_unique, 0)) * 1000000
       |    // greatest(coalesce(n_quality, 0), 1) AS BIGINT) AS dup_drop_ppm,
       |  CAST((coalesce(n_unique, 0) - coalesce(n_final, 0)) * 1000000
       |    // greatest(coalesce(n_unique, 0), 1) AS BIGINT) AS neardup_drop_ppm,
       |  CAST(coalesce(n_final, 0) * 1000000 // greatest(n_raw, 1) AS BIGINT)
       |    AS survival_ppm
       |FROM raw r
       |LEFT JOIN qual USING (source)
       |LEFT JOIN uniq USING (source)
       |LEFT JOIN fin USING (source)
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // c16 — delivery shuffle + shard manifest: the step between c12's
  // epoch corpus and the trainer's data loader. c08 orders by
  // curriculum; this is the OTHER delivery mode — a seed-stable uniform
  // shuffle (i.i.d. batches) sharded for parallel readers. Each epoch
  // row gets an md5 shuffle key from (seed, doc_id, copy_idx) — the
  // d08 layout-stable idiom, so re-partitioning or re-running never
  // re-deals the order, and changing the seed re-deals ALL of it —
  // then a shard from the same key, a dense position within its shard,
  // and the running token offset a reader needs to seek its slice.
  //
  // Scale shape: the naive version is one GLOBAL row_number over the
  // shuffled corpus — the single-partition scale-killer (the d15
  // lesson). Instead the shard is assigned FIRST from the key and both
  // the position and the token offset are per-shard windows over the
  // same (partition, order), so Catalyst plans ONE shard shuffle + one
  // sort serving both window functions, every shard runs in parallel,
  // and a loader streams shard files concurrently. Uniformity across
  // shards is the hash's, so no shard is a straggler.
  // ---------------------------------------------------------------------
  private val ShuffleSeed = 1337
  private val DeliveryShards = graft.Config.DeliveryShards

  private def c16(s: SparkSession, dir: String): DataFrame = {
    val keyed = c12(s, dir)
      .withColumn("skey", md5(concat(lit(s"shuffle:$ShuffleSeed:"),
        col("doc_id").cast(StringType), lit(":"),
        col("copy_idx").cast(StringType))))
      // INVARIANT the oracle mirror depends on: exactly 15 hex digits
      // (never 16) enter conv(), so the value is < 16^15 = 2^60 — always
      // NON-NEGATIVE in a signed 64-bit long. That is what makes Spark's
      // pmod and DuckDB's % interchangeable here (they differ only on
      // negative operands). A 16th digit could set the sign bit and
      // silently split the hash gate. CurationSpec pins shard ∈ [0, n).
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 15), 16, 10).cast(LongType),
          lit(DeliveryShards)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"), col("copy_idx"))
    keyed
      .withColumn("pos_in_shard", row_number().over(w).cast(LongType))
      .withColumn("cum_tokens", sum(col("nt"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("shard"), col("pos_in_shard"), col("doc_id"), col("copy_idx"),
        col("nt"), col("cum_tokens"))
      .orderBy(col("shard"), col("pos_in_shard"))
  }
  private val c16Sql =
    s"""WITH epoch AS ($c12Sql),
       |keyed AS (
       |  SELECT doc_id, copy_idx, nt,
       |    md5(concat('shuffle:$ShuffleSeed:', doc_id, ':', copy_idx)) AS skey,
       |    CAST(concat('0x', substr(md5(concat('shuffle:$ShuffleSeed:', doc_id,
       |      ':', copy_idx)), 1, 15)) AS BIGINT) % $DeliveryShards AS shard
       |  FROM epoch)
       |SELECT shard,
       |  CAST(row_number() OVER w AS BIGINT) AS pos_in_shard,
       |  doc_id, copy_idx, nt,
       |  CAST(SUM(nt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_tokens
       |FROM keyed
       |WINDOW w AS (PARTITION BY shard ORDER BY skey, doc_id, copy_idx)
       |ORDER BY shard, pos_in_shard""".stripMargin

  // ---------------------------------------------------------------------
  // c15 — quality-rule ablation census: for every admission rule in the
  // suite — the three c01 quality points (length band, minimum tokens,
  // type-token ratio), d31's Gopher repetition verdict, d29's
  // perplexity-tail cut — how many documents fail it, how many ONLY it
  // kills (its unique contribution), where the fixed cascade first stops
  // each document, and how many survive the cascade prefix. This is the
  // table a data team reads before touching thresholds: a rule with zero
  // unique kills is redundant at the margin; one that dominates
  // first-fails is doing all the work.
  //
  // Single-source discipline: the rule signals are CONSUMED from their
  // graded queries, never restated — d31/d29 run via their own QueryDef
  // fns Spark-side and ride their own oracle SQL as nested CTEs
  // oracle-side; the three quality flags come from annotate's f_len/
  // f_tok/f_ttr (Spark) and the same `scored` CTE c01 grades (oracle).
  // Docs the perplexity filter never scores (the DSIR target sources
  // that TRAIN its LM) pass that rule by definition — both sides.
  //
  // Scale shape: each signal is doc-grain (one narrow id-join), the
  // census is ONE conditional aggregate to a single row, and the 5-row
  // long format is a driver-side stack of that row — no per-rule corpus
  // passes, no shuffle beyond the id-joins the signals already pay.
  // ---------------------------------------------------------------------
  private def ruleDef(name: String): QueryDef =
    (TextOps.defs ++ graft.operators.Classifier.defs ++
      graft.operators.Similarity.defs)
      .find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"missing rule query $name"))

  private val c15Rules = Seq(
    ("len_band", 1L), ("min_tokens", 2L), ("ttr", 3L),
    ("gopher_repetition", 4L), ("ppl_not_tail", 5L))

  private def c15(s: SparkSession, dir: String): DataFrame = {
    val ann = annotate(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("f_len").as("f1"), col("f_tok").as("f2"),
        col("f_ttr").as("f3"))
    val rep = ruleDef("d31_ngram_repetition").fn(s, dir)
      .select(col("doc_id"),
        when(col("verdict") === "keep", 1L).otherwise(0L).as("f4"))
    val ppl = ruleDef("d29_perplexity_filter").fn(s, dir)
      .select(col("doc_id"),
        when(col("ppl_bucket") =!= "tail", 1L).otherwise(0L).as("f5"))
    val flags = ann
      .join(rep, Seq("doc_id"))
      .join(ppl, Seq("doc_id"), "left")
      .na.fill(1L, Seq("f5")) // unscored target-source docs pass the ppl rule
      .withColumn("n_fails",
        lit(5L) - col("f1") - col("f2") - col("f3") - col("f4") - col("f5"))
    def nf(k: Int) = sum(lit(1L) - col(s"f$k")).as(s"nf$k")
    def uq(k: Int) = sum(when(col(s"f$k") === 0L && col("n_fails") === 1L, 1L)
      .otherwise(0L)).as(s"uq$k")
    def ff(k: Int) = sum(when(
      (1 until k).foldLeft(col(s"f$k") === 0L) { (acc, j) =>
        acc && col(s"f$j") === 1L
      }, 1L).otherwise(0L)).as(s"ff$k")
    def sa(k: Int) = sum((1 to k).map(j => col(s"f$j")).reduce(_ * _)).as(s"sa$k")
    val one = flags.agg(
      count(lit(1L)).as("n_docs"),
      (1 to 5).flatMap(k => Seq(nf(k), uq(k), ff(k), sa(k))): _*)
    val stackArgs = c15Rules.map { case (name, k) =>
      s"'$name', ${k}L, nf$k, uq$k, ff$k, sa$k"
    }.mkString(", ")
    one.selectExpr("n_docs",
      s"stack(${c15Rules.size}, $stackArgs) AS " +
        "(rule, rule_order, n_fail, n_unique_kill, n_first_fail, n_survive_after)")
      .select(col("rule"), col("rule_order"), col("n_docs"), col("n_fail"),
        col("n_unique_kill"), col("n_first_fail"), col("n_survive_after"))
      .orderBy(col("rule_order"))
  }

  private val c15Sql = {
    val d31Sql = ruleDef("d31_ngram_repetition").oracle.get
    val d29Sql = ruleDef("d29_perplexity_filter").oracle.get
    // one row per rule via per-rule aggregate branches over ONE flags
    // CTE; `scored` comes from the shared curation ladder (unused later
    // CTEs of the ladder are never evaluated)
    val branches = c15Rules.map { case (name, k) =>
      val prefix = (1 to k.toInt).map(j => s"f$j").mkString(" * ")
      val earlier = (1 until k.toInt).map(j => s"f$j = 1 AND ").mkString
      s"""SELECT '$name' AS rule, CAST($k AS BIGINT) AS rule_order,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) FILTER (WHERE f$k = 0) AS BIGINT) AS n_fail,
         |  CAST(COUNT(*) FILTER (WHERE f$k = 0 AND f1+f2+f3+f4+f5 = 4)
         |    AS BIGINT) AS n_unique_kill,
         |  CAST(COUNT(*) FILTER (WHERE ${earlier}f$k = 0 ) AS BIGINT)
         |    AS n_first_fail,
         |  CAST(SUM($prefix) AS BIGINT) AS n_survive_after
         |FROM flags""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $curateCtesSql,
       |r31 AS ($d31Sql),
       |r29 AS ($d29Sql),
       |flags AS (
       |  SELECT s.doc_id,
       |    CASE WHEN s.nc BETWEEN 100 AND 400 THEN 1 ELSE 0 END AS f1,
       |    CASE WHEN s.nt >= 20 THEN 1 ELSE 0 END AS f2,
       |    CASE WHEN s.ndt * 10 >= s.nt * 3 THEN 1 ELSE 0 END AS f3,
       |    CASE WHEN g.verdict = 'keep' THEN 1 ELSE 0 END AS f4,
       |    CASE WHEN p.doc_id IS NULL OR p.ppl_bucket <> 'tail'
       |      THEN 1 ELSE 0 END AS f5
       |  FROM scored s
       |  JOIN r31 g ON s.doc_id = g.doc_id
       |  LEFT JOIN r29 p ON s.doc_id = p.doc_id)
       |$branches
       |ORDER BY rule_order""".stripMargin
  }

  // ---------------------------------------------------------------------
  // c17 — decontamination ablation census (c15's discipline applied to
  // the OTHER admission suite): for each of the five leakage detectors —
  // cross-split near-dup pairs (c04), exact n-gram doc contamination
  // (c05), semantic paraphrase sources (c11, train side), span-level
  // window excision (d32), fixed-benchmark n-gram hits (c14) — how many
  // TRAIN documents each flags, how many only it flags (its unique
  // contribution), where a fixed review cascade first catches each doc,
  // and how many remain clean after the cascade prefix. This is the
  // table that decides whether a detector earns its corpus pass: a
  // method with zero unique flags is subsumed at the margin; the clean-
  // after column prices each additional method in remaining risk.
  //
  // Single-source discipline (the c15 rule): every signal is CONSUMED
  // from its graded query — the QueryDef fns run Spark-side, their
  // oracle SQL rides as nested CTEs oracle-side — with only the grain
  // adapter stated here (c04 pairs → train-side ids; c11 eval rows →
  // implicated train_id set; d32 → n_excised > 0; c14 restricted to
  // d08-train docs by the census join itself).
  //
  // Scale shape: each signal is doc-grain or collapses to a distinct id
  // set far smaller than the corpus (flag sets are ppm–%-scale), so the
  // census is five narrow left joins on doc_id, one conditional
  // aggregate to a single row, and a 5-row driver-side stack — the
  // detectors themselves already paid their (bounded) corpus passes as
  // graded queries.
  // ---------------------------------------------------------------------
  private val c17Methods = Seq(
    ("xsplit_neardup", 1L), ("ngram_doc", 2L), ("semantic_source", 3L),
    ("span_excision", 4L), ("benchmark_ngram", 5L))

  private def c17(s: SparkSession, dir: String): DataFrame = {
    val train = withSplit(Tables.load(s, dir, "documents"))
      .where(col("split") === "train").select(col("doc_id"))
    val c04o = c04(s, dir)
    val m1 = c04o.where(col("split_a") === "train")
      .select(col("doc_a").as("doc_id"))
      .union(c04o.where(col("split_b") === "train")
        .select(col("doc_b").as("doc_id")))
      .distinct().withColumn("g1", lit(1L))
    val m2 = c05(s, dir).select(col("doc_id")).withColumn("g2", lit(1L))
    val m3 = ruleDef("c11_semantic_contamination").fn(s, dir)
      .select(col("train_id").as("doc_id")).distinct().withColumn("g3", lit(1L))
    val m4 = ruleDef("d32_span_decontamination").fn(s, dir)
      .where(col("n_excised") > 0L).select(col("doc_id")).withColumn("g4", lit(1L))
    val m5 = c14(s, dir).select(col("doc_id")).withColumn("g5", lit(1L))
    val flags = train
      .join(m1, Seq("doc_id"), "left")
      .join(m2, Seq("doc_id"), "left")
      .join(m3, Seq("doc_id"), "left")
      .join(m4, Seq("doc_id"), "left")
      .join(m5, Seq("doc_id"), "left")
      .na.fill(0L, Seq("g1", "g2", "g3", "g4", "g5"))
      .withColumn("n_flags",
        col("g1") + col("g2") + col("g3") + col("g4") + col("g5"))
    def fl(k: Int) = sum(col(s"g$k")).as(s"fl$k")
    def uq(k: Int) = sum(when(col(s"g$k") === 1L && col("n_flags") === 1L, 1L)
      .otherwise(0L)).as(s"uq$k")
    def ff(k: Int) = sum(when(
      (1 until k).foldLeft(col(s"g$k") === 1L) { (acc, j) =>
        acc && col(s"g$j") === 0L
      }, 1L).otherwise(0L)).as(s"ff$k")
    def cl(k: Int) = sum((1 to k).map(j => lit(1L) - col(s"g$j"))
      .reduce(_ * _)).as(s"cl$k")
    val one = flags.agg(
      count(lit(1L)).as("n_train"),
      (1 to 5).flatMap(k => Seq(fl(k), uq(k), ff(k), cl(k))): _*)
    val stackArgs = c17Methods.map { case (name, k) =>
      s"'$name', ${k}L, fl$k, uq$k, ff$k, cl$k"
    }.mkString(", ")
    one.selectExpr("n_train",
      s"stack(${c17Methods.size}, $stackArgs) AS " +
        "(method, method_order, n_flagged, n_unique_flag, n_first_flag, n_clean_after)")
      .select(col("method"), col("method_order"), col("n_train"),
        col("n_flagged"), col("n_unique_flag"), col("n_first_flag"),
        col("n_clean_after"))
      .orderBy(col("method_order"))
  }

  private val c17Sql = {
    val c11SqlText = ruleDef("c11_semantic_contamination").oracle.get
    val d32SqlText = ruleDef("d32_span_decontamination").oracle.get
    val branches = c17Methods.map { case (name, k) =>
      val prefix = (1 to k.toInt).map(j => s"(1 - g$j)").mkString(" * ")
      val earlier = (1 until k.toInt).map(j => s"g$j = 0 AND ").mkString
      s"""SELECT '$name' AS method, CAST($k AS BIGINT) AS method_order,
         |  CAST(COUNT(*) AS BIGINT) AS n_train,
         |  CAST(SUM(g$k) AS BIGINT) AS n_flagged,
         |  CAST(COUNT(*) FILTER (WHERE g$k = 1 AND g1+g2+g3+g4+g5 = 1)
         |    AS BIGINT) AS n_unique_flag,
         |  CAST(COUNT(*) FILTER (WHERE ${earlier}g$k = 1 ) AS BIGINT)
         |    AS n_first_flag,
         |  CAST(SUM($prefix) AS BIGINT) AS n_clean_after
         |FROM flags""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH r04 AS ($c04Sql),
       |r05 AS ($c05Sql),
       |r11 AS ($c11SqlText),
       |r32 AS ($d32SqlText),
       |r14 AS ($c14Sql),
       |train AS (
       |  SELECT doc_id FROM documents
       |  WHERE ${TextOps.splitCaseSql} = 'train'),
       |m1 AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM r04 WHERE split_a = 'train'
       |    UNION ALL
       |    SELECT doc_b AS doc_id FROM r04 WHERE split_b = 'train')),
       |m3 AS (SELECT DISTINCT train_id AS doc_id FROM r11),
       |m4 AS (SELECT doc_id FROM r32 WHERE n_excised > 0),
       |flags AS (
       |  SELECT t.doc_id,
       |    CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g1,
       |    CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g2,
       |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g3,
       |    CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g4,
       |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g5
       |  FROM train t
       |  LEFT JOIN m1 a ON t.doc_id = a.doc_id
       |  LEFT JOIN (SELECT doc_id FROM r05) b ON t.doc_id = b.doc_id
       |  LEFT JOIN m3 c ON t.doc_id = c.doc_id
       |  LEFT JOIN m4 d ON t.doc_id = d.doc_id
       |  LEFT JOIN (SELECT doc_id FROM r14) e ON t.doc_id = e.doc_id)
       |$branches
       |ORDER BY method_order""".stripMargin
  }

  // ---------------------------------------------------------------------
  // c18 — loader resume manifest: the crash-recovery half of c16's
  // delivery contract. A trainer checkpoints mid-epoch; on restart each
  // parallel reader must seek to the first undelivered row of ITS shard
  // without replaying or skipping tokens. The checkpoint here is the
  // half-epoch high-water mark (tokens_total div 2 per shard — the
  // self-normalizing mid-epoch shape), and the manifest reports, per
  // shard: total rows/tokens, the resume position (first row whose
  // running token offset exceeds the mark), the (doc, copy) identity at
  // that position, and the tokens already consumed before it. The
  // consumed + remaining accounting is exact integer arithmetic over
  // c16's running offsets — CONSUMED from the graded c16 (fn Spark-side,
  // its SQL as a nested CTE oracle-side), never restated.
  //
  // Scale shape: c16's manifest is already shard-partitioned; the
  // resume point is one conditional aggregate per shard (an argmin over
  // the rows past the mark — min(struct), no second window), so the
  // whole report is |shards| rows from one shuffle-free pass over the
  // manifest plus the per-shard totals aggregate.
  // ---------------------------------------------------------------------
  private def c18(s: SparkSession, dir: String): DataFrame = {
    // the manifest feeds both the totals aggregate and the resume scan —
    // persist at manifest grain so c16's window pass runs once (the c05
    // persist rule; Verify/Bench's per-query clearCache frees it)
    val m = c16(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = m.groupBy(col("shard"))
      .agg(count(lit(1)).as("rows_total"), max(col("cum_tokens")).as("tokens_total"))
    m.join(tot, Seq("shard"))
      .where(col("cum_tokens") * 2 > col("tokens_total"))
      .groupBy(col("shard"), col("rows_total"), col("tokens_total"))
      .agg(min(struct(
        col("pos_in_shard"), col("doc_id"), col("copy_idx"),
        col("nt"), col("cum_tokens"))).as("r"))
      .select(
        col("shard"), col("rows_total"), col("tokens_total"),
        col("r.pos_in_shard").as("resume_pos"),
        col("r.doc_id").as("resume_doc"),
        col("r.copy_idx").as("resume_copy"),
        (col("r.cum_tokens") - col("r.nt")).as("tokens_before"))
      .orderBy(col("shard"))
  }
  private val c18Sql =
    s"""WITH manifest AS ($c16Sql),
       |tot AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS rows_total,
       |    MAX(cum_tokens) AS tokens_total
       |  FROM manifest GROUP BY 1),
       |past AS (
       |  SELECT m.shard, m.pos_in_shard, m.doc_id, m.copy_idx, m.nt,
       |    m.cum_tokens,
       |    row_number() OVER (PARTITION BY m.shard ORDER BY m.pos_in_shard) AS rn
       |  FROM manifest m JOIN tot USING (shard)
       |  WHERE m.cum_tokens * 2 > tokens_total)
       |SELECT shard, rows_total, tokens_total,
       |  pos_in_shard AS resume_pos, doc_id AS resume_doc,
       |  copy_idx AS resume_copy,
       |  CAST(cum_tokens - nt AS BIGINT) AS tokens_before
       |FROM past JOIN tot USING (shard)
       |WHERE rn = 1
       |ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // c19 — planted-leak CONTRACT audit for the benchmark decontaminator
  // (the n12 discipline applied to c14's fixed-benchmark rule): a
  // synthetic one-doc benchmark whose tokens cannot occur organically
  // ("zzleak1 zzleak2 zzleak3" — zero base contamination BY
  // CONSTRUCTION, which is what makes the contract visible: the real
  // corpus is organically saturated against its own eval split, so a
  // corpus-eval plant audit degenerates to all-caught). Three cohorts
  // prove all three sides of the rule: FULL plants (doc_id % 10 = 1,
  // the whole 3-gram appended) must ALL be caught; PARTIAL plants
  // (% 10 = 2, only 2 of the 3 tokens — below the shingle width) must
  // NONE be caught; UNPLANTED docs are the false-positive control and
  // must also be zero. A 'zzseparator' token isolates each plant so
  // boundary shingles never match. Unlike n12's probabilistic LSH
  // tail, this detector is exact — its contract is all-or-nothing, and
  // CurationSpec pins the 10⁶/0/0 column. Single-source: tokens and
  // shingles come from the shared builders on both sides.
  // ---------------------------------------------------------------------
  private val LeakText = "zzleak1 zzleak2 zzleak3"

  private def c19(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 1,
        concat(col("text"), lit(s" zzseparator $LeakText")))
        .when(pmod(col("doc_id"), lit(10)) === 2,
          concat(col("text"), lit(" zzseparator zzleak1 zzleak2")))
        .otherwise(col("text")).as("text"),
      when(pmod(col("doc_id"), lit(10)) === 1, lit("full_plant"))
        .when(pmod(col("doc_id"), lit(10)) === 2, lit("partial_plant"))
        .otherwise(lit("unplanted")).as("kind"))
    val benchSh = s.range(1).select(lit(LeakText).as("text"))
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(explode(array_distinct(graft.operators.Dedup.shingles(col("toks"))))
        .as("shingle"))
      .distinct()
    val flagged = planted
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(graft.operators.Dedup.shingles(col("toks"))))
          .as("shingle"))
      .join(broadcast(benchSh), Seq("shingle")) // c14's broadcast shape
      .select(col("doc_id")).distinct()
      .withColumn("f", lit(1L))
    planted
      .join(flagged, Seq("doc_id"), "left")
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("f")).as("n_caught"))
      .withColumn("catch_ppm", expr("n_caught * 1000000 div n_docs"))
      .orderBy(col("kind"))
  }
  private val c19Sql = {
    val sh = graft.operators.Dedup.shinglesSql
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 1
       |           THEN concat(text, ' zzseparator $LeakText')
       |         WHEN doc_id % 10 = 2
       |           THEN concat(text, ' zzseparator zzleak1 zzleak2')
       |         ELSE text END AS text,
       |    CASE WHEN doc_id % 10 = 1 THEN 'full_plant'
       |         WHEN doc_id % 10 = 2 THEN 'partial_plant'
       |         ELSE 'unplanted' END AS kind
       |  FROM documents),
       |bench AS (SELECT '$LeakText' AS text),
       |bench_sh AS (SELECT DISTINCT unnest($sh) AS shingle FROM bench),
       |flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest($sh) AS shingle FROM planted) p
       |  JOIN bench_sh USING (shingle))
       |SELECT kind,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(f.doc_id) AS BIGINT) AS n_caught,
       |  CAST(COUNT(f.doc_id) * 1000000 // COUNT(*) AS BIGINT) AS catch_ppm
       |FROM planted
       |LEFT JOIN flagged f USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("c01_curation_pipeline", c01, Some(c01Sql), headline = true),
    QueryDef("c02_corpus_budget", c02, Some(c02Sql)),
    QueryDef("c03_balanced_sample", c03, Some(c03Sql)),
    QueryDef("c04_split_contamination", c04, Some(c04Sql)),
    QueryDef("c05_ngram_decontamination", c05, Some(c05Sql), headline = true),
    QueryDef("c14_benchmark_decontamination", c14, Some(c14Sql)),
    QueryDef("c06_temperature_mix", c06, Some(c06Sql)),
    QueryDef("c07_cluster_keeper", c07, Some(c07Sql)),
    QueryDef("c08_curriculum_order", c08, Some(c08Sql)),
    QueryDef("c09_token_apportionment", c09, Some(c09Sql)),
    QueryDef("c12_epoch_materialize", c12, Some(c12Sql)),
    QueryDef("c13_funnel_report", c13, Some(c13Sql)),
    QueryDef("c15_quality_ablation", c15, Some(c15Sql)),
    QueryDef("c16_delivery_shuffle", c16, Some(c16Sql)),
    QueryDef("c17_decontamination_ablation", c17, Some(c17Sql)),
    QueryDef("c18_resume_manifest", c18, Some(c18Sql)),
    QueryDef("c19_planted_leak_audit", c19, Some(c19Sql)))

  /** Usage: runMain graft.CurationPipeline <sfDir> <outDir> — writes the
    * curated corpus Hive-partitioned by split and prints per-stage
    * retention counts. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CurationPipeline <sfDir> <outDir>")
    val spark = GraftSession.local(GraftSession.envCpus(8))
    val docs = Tables.load(spark, args(0), "documents")
    val kept = qualityFilter(annotate(docs))
    // nearDupDrop persists `deduped` (its fan-in point — persist() marks
    // the same frame); caching `curated` keeps the retention counts below
    // from re-running the chain the write just materialized. Both are
    // unpersisted once the last count is taken.
    val deduped = exactDedup(kept)
    val curated = withSplit(nearDupDrop(deduped)).cache()
    // Written schema matches the curated-corpus contract (and c01's graded
    // output): the internal token count `nt` goes out as `n_tokens`.
    Sink.overwritePartitioned(
      curated.select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
        col("q_points"), col("n_copies"), col("split")),
      args(1), "split")
    // input/quality counts come from cheap scans; dedup/curated from the
    // cached frames the write just materialized.
    println(s"input=${docs.count()} quality=${kept.count()} " +
      s"exact_dedup=${deduped.count()} curated=${curated.count()}")
    deduped.unpersist()
    curated.unpersist()
    spark.stop()
  }
}
