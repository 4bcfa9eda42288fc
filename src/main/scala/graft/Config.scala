package graft

/** Engine tuning knobs, env-overridable with defaults unchanged
  * (SURVEY §2.6 L1: "row-caps a config, not a constant" — generalized
  * to every compile-time cap a deployment would want to turn).
  *
  * Each knob is read ONCE at class load and interpolated into BOTH the
  * Spark plan and its oracle SQL mirror, so an override can never
  * desynchronize the two sides of the hash gate — both always see the
  * same value. Defaults reproduce the graded behavior exactly; the
  * driver sets none of these.
  *
  * Why env and not SparkConf: these constants shape QUERY TEXT (oracle
  * SQL strings built at object init) and artifact paths, both of which
  * exist before any SparkSession — a conf read would force an
  * init-order dependency on the session. Env is process-stable, which
  * is exactly the consistency the hash gate needs.
  */
object Config {

  private[graft] def longFrom(env: Map[String, String],
                              name: String, default: Long): Long =
    env.get(name).map { v =>
      val n = try v.trim.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$name must be a positive integer, got '$v'")
      }
      require(n > 0, s"$name must be positive, got $n")
      n
    }.getOrElse(default)

  private[graft] def intFrom(env: Map[String, String],
                             name: String, default: Int): Int = {
    val n = longFrom(env, name, default.toLong)
    require(n <= Int.MaxValue, s"$name out of int range: $n")
    n.toInt
  }

  /** q11 / §2.6: top-k row cap (the reference's hardcoded LIMIT). */
  val TopKRows: Int = intFrom(sys.env, "GRAFT_TOPK_ROWS", 50)

  /** d15/d24/d33: token budget of one packed training sequence. */
  val SeqBudget: Int = intFrom(sys.env, "GRAFT_SEQ_BUDGET", 512)

  /** c16: shard count of the delivery shuffle. */
  val DeliveryShards: Long = longFrom(sys.env, "GRAFT_DELIVERY_SHARDS", 16L)

  /** n02-family: LSH per-bucket cap before the pair explode. */
  val MaxBucket: Int = intFrom(sys.env, "GRAFT_LSH_MAX_BUCKET", 10000)

  /** m04: per-frame-fingerprint bucket cap (the MaxBucket analog). */
  val MaxFrameBucket: Int = intFrom(sys.env, "GRAFT_FRAME_MAX_BUCKET", 10000)

  /** v17: exact-audit sampling modulus (1/mod of queries audited). */
  val MrlAuditMod: Long = longFrom(sys.env, "GRAFT_AUDIT_MOD", 2L)

  /** eventsClustered: range-partition count of the ts-clustered serving
    * layout (at 100 TB this is files-per-date-partition; here it is the
    * whole layout's file count). */
  val ClusterFiles: Int = intFrom(sys.env, "GRAFT_CLUSTER_FILES", 8)

  /** eventsZOrdered: range-partition count of the Morton-clustered
    * serving layout. A power of 4 keeps the two interleaved dimensions
    * symmetric: 16 files fix 4 leading z bits = the top 2 bits of BOTH
    * ts and user, so each file covers ~1/4 of each dimension's range
    * and a slice predicate on EITHER dimension skips ~3/4 of the data. */
  val ZOrderFiles: Int = intFrom(sys.env, "GRAFT_ZORDER_FILES", 16)

  /** eventsByDate: rows-per-file cap inside a date partition. The
    * default (one file per date) is right at graded SFs; a 100 TB
    * deployment caps it so a HOT date splits into several ts-sorted
    * files instead of one giant single-writer file — the write stays
    * one shuffle, the layout contract (partition pruning + in-file ts
    * clustering) is unchanged. */
  val MaxRecordsPerFile: Long =
    longFrom(sys.env, "GRAFT_MAX_RECORDS_PER_FILE", Long.MaxValue)

  /** Snapshot store: segments a manifest list may reference before the
    * committing writer folds them into one consolidated segment. Each
    * commit writes O(its change); every `ManifestSegments` commits, one
    * writer pays an O(live files) consolidation — the amortized bound
    * that keeps BOTH the per-commit write and the per-read segment count
    * constant-ish at any commit rate (the Iceberg manifest-list
    * discipline). */
  val ManifestSegments: Int = intFrom(sys.env, "GRAFT_MANIFEST_SEGMENTS", 24)

  /** Snapshot store: rows per deletion-vector FILE. A merge-on-read
    * delete/update stages its matched (file, position) pairs with the
    * scan's parallelism, then packs them into ceil(n / this) vector
    * files — so no single task ever funnels an unbounded match set (a
    * repartition(1) write, capped), while the common forget-user
    * sized delete still lands as one sidecar file. */
  val MaxVectorFileRows: Long =
    longFrom(sys.env, "GRAFT_DV_FILE_ROWS", 16L * 1024 * 1024)
}
