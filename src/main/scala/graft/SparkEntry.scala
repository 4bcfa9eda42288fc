package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory aggregates every operator family:
  *  - [[operators.Parity]]     q01-q17: reference-parity surface (SURVEY §2)
  *  - [[operators.Warehouse]]  q18-q20: snowflake dims, junk dim, star fact
  *  - [[operators.Analytics]]  q21-q40: rollup/cube/pivot/grouping sets,
  *                             set ops, as-of join, HLL, range join,
  *                             quantiles, grouped top-k, SCD-1 upsert,
  *                             SCD-2 history, ordered event funnel,
  *                             weekly retention cohorts, native
  *                             session_window sessionization proved
  *                             against gaps-and-islands SQL,
  *                             tolerance-bounded as-of join,
  *                             sliding-window aggregation, correlated
  *                             scalar subqueries (decorrelation-proved),
  *                             salted skew join (result-invariance
  *                             proved against the plain-join oracle);
  *                             q41: partition-pruned report over the
  *                             date-partitioned events serving layout
  *                             (PartitionFilters PlanSpec-pinned);
  *                             q42: row-group-skipping time slice over
  *                             the ts-clustered layout (skip proven on
  *                             the executed scan metric); q45: Z-order
  *                             (Morton) layout — slice predicates on
  *                             EITHER of (ts, user) skip ~3/4 of files;
  *                             q47: bloom-filtered id point lookup
  *                             (content-based skipping where min/max is
  *                             useless by construction); q49:
  *                             forget-user graded through the
  *                             snapshot-committed storage delete;
  *                             q55/q58/q60/q61: the snapshot-manifest
  *                             store — forget-user with reader
  *                             isolation, pinned-version time travel
  *                             graded against UNION SQL, manifest-level
  *                             file skipping (per-file stats bounds
  *                             plan the scan's file subset with zero
  *                             listing or footer IO), merge-on-read
  *                             deletion vectors (O(matched rows)
  *                             forget-user, both phases graded), and
  *                             schema evolution (q62: appends widen the
  *                             manifest-recorded schema; old files
  *                             read NULL in later columns), and MERGE
  *                             INTO (q63: keyed upsert, one atomic
  *                             commit, O(touched partitions));
  *                             q74: ROW LINEAGE — durable _row_id
  *                             assigned at first commit, carried
  *                             through every rewrite; changeDiffLineage
  *                             pairs update pre/post images by id and
  *                             skips row-preserving commits entirely;
  *                             q76: BRANCHES — multi-batch
  *                             write-audit-publish with atomic
  *                             fast-forward and divergence refusal;
  *                             q77: PARTITION-SPEC EVOLUTION — per-
  *                             version spec, mixed-generation reads,
  *                             one-rewrite migration; q78: NULL-COUNT
  *                             manifest stats — IS NULL / IS NOT NULL
  *                             file skipping the min/max tier cannot
  *                             express; q80: METADATA-ONLY AGGREGATE
  *                             PUSHDOWN — count/min/max/null-count per
  *                             partition answered from the manifest
  *                             with ZERO data IO, exact-or-NULL, row
  *                             counts exact through deletion vectors;
  *                             q81: EQUALITY DELETES — O(batch)
  *                             streaming upsert (new images + key
  *                             sidecar in ONE commit, zero table
  *                             reads), version-stamped sequencing,
  *                             and the convertEqDeletes → materialize
  *                             → compact ladder graded against the
  *                             same latest-per-key oracle; q83:
  *                             SECONDARY KEY INDEX — (key → files) as
  *                             its own hash-bucketed snapshot table,
  *                             point-lookup skipping where min/max is
  *                             useless, append-only gaps refreshed by
  *                             scanning ONLY added files; q84: HYBRID
  *                             EXACT COUNT — interior files answered
  *                             from manifest row counts, only
  *                             straddlers and DV-touched files scanned
  *  - [[operators.MatView]]    q43/q44/q46/q48: materialized-aggregate
  *                             rollup — full-corpus rollup served from
  *                             the fingerprinted artifact store, the
  *                             incremental base+delta merge path, the
  *                             surgical retraction path (deletes with
  *                             exact min/max repair), and the mergeable
  *                             HLL-sketch sibling for distincts, all
  *                             graded against raw-events SQL; q57:
  *                             rollup maintenance consumed from the
  *                             snapshot change feed, graded against the
  *                             full-corpus oracle verbatim; q59: the
  *                             maintained store on the snapshot
  *                             manifest — applied-delta ledger atomic
  *                             with the partition swap, q52's oracle
  *                             verbatim; q65/q70/q75: the CDC consumer
  *                             ladder — persisted offsets, typed
  *                             retractions, and lineage-paired typed
  *                             UPDATES (post − pre applied in place);
  *                             q79: the consumer-group LAG REPORT —
  *                             every group's next cycle classified and
  *                             priced from manifest metadata alone;
  *                             q82: ATOMIC MULTI-TABLE TRANSACTIONS —
  *                             the Catalog's CAS pointer publishes a
  *                             fact+rollup pair in one swing, each
  *                             past transaction's pairing audited and
  *                             served via catalog time travel
  *  - [[operators.TextOps]]    d01-d19, d21-d24: exact dedup, text
  *                             stats/quality, lang-id, fingerprint, BPE
  *                             counting, stopwords, hash split,
  *                             repetition quality, per-doc top terms,
  *                             token-window chunking, PII scrubbing,
  *                             Bloom-prefiltered incremental dedup,
  *                             chunk-grain boilerplate detection,
  *                             sharded sequence packing, vocabulary
  *                             heavy hitters, normalization-aware dedup,
  *                             per-source domain cap, cross-snapshot
  *                             corpus delta, sub-document dedup with
  *                             reconstruction, per-source snapshot
  *                             drift (histogram total variation),
  *                             n-gram novelty scoring, packing
  *                             utilization report; d27/d31-d33: exact
  *                             substring dedup, Gopher n-gram repetition
  *                             filters, span-level eval decontamination,
  *                             and the packed-sequence attention
  *                             manifest
  *  - [[operators.Bpe]]        d20, d25: distributed BPE tokenizer
  *                             training — corpus→vocab funnel +
  *                             iterative merges, with the merge loop
  *                             oracle-replayed to depth 10
  *  - [[operators.DataCoSynthetic]] b01-b04: the reference's dashboard
  *                             measures over the full DataCo warehouse
  *                             build, hash-checked against direct SQL
  *  - [[operators.Dedup]]      n01-n09: MinHash/LSH, SimHash, n-gram
  *                             Jaccard, near-dup connected components,
  *                             incremental batch-vs-corpus LSH probing,
  *                             MinHash estimate-vs-exact audit, SimHash
  *                             Hamming pairs via pigeonhole banding,
  *                             persisted-index serving (co-bucketed
  *                             band index + zero-Exchange probe join)
  *  - [[operators.Retrieval]]  r01-r04: tf·idf keyword search (integer
  *                             idf), positional phrase search, BM25
  *                             ranking, min-gap proximity ranking;
  *                             r08: BM25 behind a served inverted index
  *                             (term-clustered postings artifact, zero
  *                             tokenization on the probe path, graded
  *                             against r03's oracle verbatim)
  *  - [[operators.Similarity]] v01-v13: cosine top-k, near-dup, LSH-ANN,
  *                             IVF, LSH-blocked near-dup, int8-quantized
  *                             top-k, hybrid semantic+lexical rescore,
  *                             quantized-vs-exact recall audit,
  *                             multi-probe IVF, index balance +
  *                             boundary-margin audit, product-
  *                             quantization ANN + its recall audit,
  *                             trained-IVF recall audit (centroids and
  *                             codebooks via deterministic integer
  *                             k-means, mirrored in the oracle CTEs);
  *                             v14-v20: SemDeDup semantic dedup, PQ
  *                             rerank, IVFADC, truncated-dim two-stage
  *                             retrieval with a hash-sampled exact
  *                             audit, binary sign-quantization Hamming
  *                             prefilter + rerank, its served
  *                             published-sketch variant, the
  *                             binary-tier recall audit (raw Hamming
  *                             vs reranked, graded against v01), and
  *                             v21: IVF-pruned binary ANN (coarse
  *                             quantizer × sign sketches × exact
  *                             rerank — the three-tier serving stack),
  *                             v22: its recall audit with the
  *                             compound loss decomposed into the IVF
  *                             ceiling and the Hamming-shortlist gap,
  *                             and v23: the same decomposed audit for
  *                             v16's IVF×PQ stack (gap = pure ADC
  *                             quantization error); v24-v27: staleness
  *                             audits + served-index seams for the
  *                             trained tiers; v28: the nprobe
  *                             operating-curve sweep (recall vs
  *                             candidate volume around v13's point)
  *  - [[operators.Multimodal]] m01-m05: binary columns, frame sampling,
  *                             real javax.imageio decode + bilinear
  *                             resize, real javax.sound.sampled WAV
  *                             decode, single-pass media+text pairing,
  *                             shared-frame media near-dup pairs,
  *                             storage dedup report; m06: the near-dup
  *                             pairing behind a served frame-digest
  *                             store (zero payload arithmetic at serve
  *                             time, m04's oracle verbatim)
  *  - [[CurationPipeline]]     c01-c09: quality filter → exact dedup →
  *                             LSH near-dup removal → split, graded
  *                             end-to-end, plus the corpus budget report,
  *                             language-balanced downsampling, the
  *                             cross-split near-dup contamination report,
  *                             exact n-gram decontamination,
  *                             temperature-scaled language mixing,
  *                             best-of-cluster representative selection,
  *                             deterministic curriculum ordering, and
  *                             exact token-budget apportionment;
  *                             c10-c18: DSIR importance weighting,
  *                             semantic split contamination, epoch
  *                             materialization, funnel attrition,
  *                             fixed-benchmark decontamination, the
  *                             quality-rule ablation census, the
  *                             delivery shuffle, the decontamination
  *                             ablation census, and the loader resume
  *                             manifest
  */
object SparkEntry {

  val allDefs: Seq[QueryDef] =
    operators.Parity.defs ++
    operators.Warehouse.defs ++
    operators.Analytics.defs ++
    operators.MatView.defs ++
    operators.DataCoSynthetic.defs ++
    operators.TextOps.defs ++
    operators.Bpe.defs ++
    operators.Dedup.defs ++
    operators.Retrieval.defs ++
    operators.Similarity.defs ++
    operators.Multimodal.defs ++
    operators.Classifier.defs ++
    CurationPipeline.defs

  /** Names benchmarked by graft.Bench each round. */
  val headlines: Seq[String] = allDefs.filter(_.headline).map(_.name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_profit_by_hierarchy")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
