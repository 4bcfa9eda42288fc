package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat,
  floor, greatest, hash, least, lit, max, min, pmod, raise_error, when}

/** Warehouse sinks. Replaces the reference's write patterns:
  *
  *  - TRUNCATE-then-append "soft overwrite" (S5, glue_master_etl.py:
  *    46-59 + 8 call sites) → atomic `mode(Overwrite)`; the reference's
  *    version leaves the table empty if the job dies mid-append.
  *  - driver-side hash-bucket append loops (glue_master_etl.py:150-162,
  *    352-362: the full plan re-executed once per bucket, 20-50×) →
  *    ONE write with `repartition(n, key)`; the shuffle's native hash
  *    partitioning is exactly the reference's pmod(hash(key), n) split,
  *    executed once.
  *
  * Scale: per-key repartitioning also sets up downstream co-located
  * reads; pair with partitionBy for predicate-prunable layouts.
  */
object Sink {

  /** Per-process discriminator for serving/model artifacts: a concurrent
    * test JVM and a driver Verify sharing one metastore (in-memory Derby
    * per process, but the temp FILESYSTEM is shared) must never write
    * the same paths or race DROP TABLE/saveAsTable on the same catalog
    * names — suffix both with this tag. */
  val procTag: String = ProcessHandle.current().pid().toString

  /** Per-process root for build-once/serve-many artifacts (the served
    * LSH index, trained tokenizer merge tables, …), deleted on JVM exit
    * so repeated bench/verify rounds don't accumulate copies in tmp. */
  lazy val artifactRoot: String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft-serving-$procTag"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(root))
    }))
    root
  }

  /** Recursive file listing WITHOUT the per-file permission fork (r21):
    * `fs.listFiles(p, recursive)` materializes `LocatedFileStatus`es,
    * whose constructor eagerly resolves permissions — and with the
    * native Hadoop library absent, `RawLocalFileSystem` loads them by
    * FORKING `ls -ld` per file (driver thread dumps showed
    * `Shell.runCommand` under `loadPermissionInfoByNonNativeIO`
    * dominating q55's 1.2 s frame construction: ~100 process forks per
    * store walk). A plain `listStatus` walk keeps permissions LAZY —
    * none of our callers reads them; path/length/mtime are all free. */
  private[sources] def walkFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    def go(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { s =>
        if (s.isDirectory) go(s.getPath) else out += s
      }
    go(root)
    out.toSeq
  }

  /** Atomic overwrite (reference: TRUNCATE + append, non-atomic). */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Content fingerprint of a corpus path: digest of the recursive data-
    * file listing — (relative path, byte length, mtime) per file, sorted.
    * Hidden/metadata entries (`_SUCCESS`, `.staging-*`, checksums) are
    * excluded so a republish of identical data files keeps its print.
    *
    * This is the staleness key for trained artifacts: an in-place
    * regeneration of the corpus (same path, new files) changes the
    * print, so a path-keyed artifact can never be served against data it
    * was not trained on. A listing digest is the filesystem-generic
    * fallback; a SNAPSHOT-MANAGED corpus ([[Snapshot]]) short-circuits to
    * a digest of its current manifest — every content change commits a
    * new manifest, so the manifest bytes ARE the content key, and the
    * probe is O(1) reads at any file count (the "at 100 TB the
    * fingerprint is a manifest read, not a listing" path; a table
    * format's snapshot id is the same idea). */
  def corpusFingerprint(spark: SparkSession, corpusPath: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Snapshot.currentVersion(spark, corpusPath) match {
      case Some(v) =>
        md.update(s"snapshot-manifest\nv=$v\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // ALL entry lines (data + stats + deletion vectors): anything
        // that changes what a reader sees must change this digest — a
        // merge-on-read delete alters content while touching no data file
        Snapshot.manifestLines(spark, corpusPath, v).sorted.foreach(f =>
          md.update(s"$f\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case None =>
        val p = new org.apache.hadoop.fs.Path(corpusPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val base = fs.makeQualified(p).toString
        val entries = walkFiles(fs, p).collect {
          case f if !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith(".") =>
            s"${f.getPath.toString.stripPrefix(base)}|${f.getLen}|${f.getModificationTime}"
        }
        entries.sorted.foreach(e =>
          md.update(e.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** [[publishedArtifact]] keyed by corpus CONTENT, not just path: the
    * artifact lands under `base/fp_<fingerprint>`, so retraining happens
    * exactly when the corpus actually changed and reuse happens exactly
    * when it did not. Closes the staleness hole where a corpus
    * regenerated in place (same dir, new rows) kept serving the old
    * trained artifact because only the path was checked. */
  def fingerprintedArtifact(spark: SparkSession, base: String, corpusPath: String)
                           (build: => DataFrame): DataFrame =
    publishedArtifact(spark, s"$base/fp_${corpusFingerprint(spark, corpusPath)}")(build)

  /** Retention sweep for a fingerprinted artifact family: under `base`,
    * keep `current` (the live print) plus the `keepPrevious` most
    * recently modified other `fp_*` publishes, delete the rest. NOT
    * called from the serve path — a pinned reader may still be
    * mid-scan on an older print, so retiring prints is an operational
    * decision with a retention window, exactly like table-format
    * snapshot expiry. Returns the deleted paths. */
  def pruneStaleFingerprints(spark: SparkSession, base: String,
                             current: String, keepPrevious: Int = 1): Seq[String] = {
    val b = new org.apache.hadoop.fs.Path(base)
    val fs = b.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(b)) Seq.empty
    else {
      val prints = fs.listStatus(b).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("fp_"))
        .filterNot(_.getPath.getName == s"fp_$current")
      val stale = prints.sortBy(-_.getModificationTime).drop(keepPrevious)
      stale.map { s =>
        fs.delete(s.getPath, true)
        s.getPath.toString
      }
    }
  }

  /** Build-once/serve-many artifact publish with shared-storage-safe
    * semantics: write to a staging dir, then atomically rename into
    * place. A bare `exists + write.parquet(path)` lets a concurrent
    * reader observe a half-written directory; here `path` either does
    * not exist or holds a COMPLETE artifact, because rename is atomic
    * on a single filesystem (HDFS guarantees it; object stores need a
    * rename-capable committer, same contract). Concurrent publishers
    * race on the rename: the loser discards its staging copy and reads
    * the winner's — training is idempotent, so either copy is valid.
    * Goes through Hadoop-FS (not java.io.File) so the same code serves
    * file://, hdfs:// and s3a:// artifact roots. */
  def publishedArtifact(spark: SparkSession, path: String)
                       (build: => DataFrame): DataFrame =
    publishedArtifactUsing(spark, path)(stg => build.write.parquet(stg))

  /** [[publishedArtifact]] with a caller-supplied staging writer, for
    * artifacts whose LAYOUT matters (e.g. a `partitionBy` serving copy):
    * `write` receives the staging path and must produce a complete
    * Spark-readable directory there (including the committer's _SUCCESS
    * marker — any `df.write...` does); the publish/rename/read contract
    * is unchanged. */
  def publishedArtifactUsing(spark: SparkSession, path: String)
                            (write: String => Unit): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The exists() fast-path only proves a DIRECTORY is there, not that a
    // write COMPLETED: a legacy unstaged writer (or a non-atomic committer
    // on an object store) that died mid-write leaves a partial dir this
    // code did not publish. Gate reuse on the committer's _SUCCESS marker
    // — our own staged writes always carry it through the rename — and
    // clear anything without one so it is rebuilt, not served.
    if (fs.exists(p) &&
        !fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      fs.delete(p, true): Unit
    if (!fs.exists(p)) {
      // dot-prefixed staging: Spark/Hadoop readers skip hidden paths, so
      // even a mid-copy staging dir can never leak rows into a listing
      val staging = new org.apache.hadoop.fs.Path(p.getParent,
        s".staging-${p.getName}-$procTag-${java.util.UUID.randomUUID()}")
      write(staging.toString)
      fs.mkdirs(p.getParent)
      if (!fs.rename(staging, p)) {
        // rename refused: either a concurrent winner is already in place
        // (drop ours) or the filesystem genuinely failed (surface it —
        // silently serving a missing artifact would fail downstream
        // with a confusing path-not-found instead).
        if (!fs.exists(p))
          throw new IllegalStateException(s"artifact publish failed: $path")
        fs.delete(staging, true): Unit
      } else {
        // POSIX-style local rename can move staging INSIDE an existing
        // target instead of refusing; the winner's files are intact at
        // `path`, so just remove the nested loser copy.
        val nested = new org.apache.hadoop.fs.Path(p, staging.getName)
        if (fs.exists(nested)) fs.delete(nested, true): Unit
      }
    }
    spark.read.parquet(path)
  }

  /** Single-pass keyed write: n shuffle partitions hashed on key — the
    * reference's N-bucket driver loop as one distributed write. */
  def overwriteBucketed(df: DataFrame, path: String, key: String, n: Int): Unit =
    df.repartition(n, col(key)).write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned layout for partition-pruned scans (the
    * 100 TB default: prune before you read). */
  def overwritePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** Maintenance-internal read of a partitioned layout with the
    * partition column typed STRING — the raw (unescaped) dir value, no
    * partition-type inference. Inference would turn dir
    * `event_date=01` into int 1 and break the maintenance identity
    * chain (probe value ↔ rewrite-plan key ↔ staged dir name); with an
    * explicit schema the value IS the dir string at every step.
    * Serving reads keep inference; only maintenance needs dir-name
    * identity. */
  private[sources] def readForMaintenance(spark: SparkSession,
      basePath: String, paths: Seq[String], partitionCol: String,
      dataSchemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    // a snapshot layout passes its RECORDED data schema: after schema
    // evolution a single sampled file may predate a column, and
    // inferring from it would silently drop that column from every
    // rewritten row. A legacy manifest records no schema, so the
    // rewrite must UNION the planned files' schemas (mergeSchema —
    // distributed footer reads over files the rewrite reads anyway):
    // per-partition schema drift then survives the rewrite as NULLs in
    // the files that lacked a column, instead of the column vanishing
    // because the sample happened to predate it. The merged schema can
    // surface the partition column (dir inference on a bare multi-dir
    // read) — strip it; the explicit read below adds it back as STRING.
    val dataSchema = dataSchemaOverride.getOrElse {
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(paths: _*).schema
      if (merged.fieldNames.contains(partitionCol)) {
        // the bare multi-dir read surfaces the partition column either
        // by DIR INFERENCE (benign — the explicit read below re-adds it
        // as the raw STRING dir value) or because an external writer
        // PHYSICALLY embedded it in the data files (not benign: dropping
        // it here would silently overwrite every rewritten row's stored
        // value with the dir-derived one). Distinguish by reading one
        // leaf file's own footer — a single-file read has no dir context,
        // so any partition column it shows is physically present.
        val probe = spark.read.parquet(paths.head).schema
        require(!probe.fieldNames.contains(partitionCol),
          s"data file ${paths.head} physically embeds partition column " +
          s"'$partitionCol' — a maintenance rewrite would silently " +
          "replace its stored values with dir-derived ones; rewrite the " +
          "layout (or rename the column) before running maintenance")
      }
      org.apache.spark.sql.types.StructType(
        merged.fields.filterNot(_.name == partitionCol))
    }
    require(!dataSchema.fieldNames.contains(partitionCol),
      s"data files already carry partition column '$partitionCol'")
    spark.read
      .schema(dataSchema.add(partitionCol, org.apache.spark.sql.types.StringType))
      .option("basePath", basePath)
      .parquet(paths: _*)
  }

  /** Cluster `rows` so a `partitionBy(partitionCol)` write hits each
    * partition's file-count target EXACTLY, in one distributed pass.
    * The DataFrame shuffle primitives can't express this routing —
    * hash repartitioning merges buckets on collision (over-sized
    * files), range repartitioning splits by row quantiles (a large
    * partition overshoots its target) — so each row gets a GLOBAL file
    * index and an exact custom partitioner routes index i to task i:
    *
    *  - within a partition targeted at n files, rows bucket by linear
    *    interpolation of the primary sort column between the
    *    partition's min/max (ONE tiny aggregate job), so every bucket
    *    is a contiguous sort range → every staged file carries tight,
    *    non-overlapping min/max on the sort key (the data-skipping
    *    contract), ~bytes/target sized on evenly-spread keys (key skew
    *    shifts bytes between a partition's files, never across
    *    partitions);
    *  - without sort columns there is no clustering contract and rows
    *    spread by row hash;
    *  - the file index = the partition's offset + its bucket; the
    *    custom partitioner is the identity on it. The RDD hop costs a
    *    row conversion on this write-only path; job count stays
    *    constant no matter how many partitions the rewrite touches. */
  private[sources] def packPartitioned(rows: DataFrame, partitionCol: String,
      sortCols: Seq[String], targets: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = rows.sparkSession
    val norm = targets.view.mapValues(n => math.max(1, n)).toMap
    val offsets = {
      var acc = 0
      norm.toSeq.sortBy(_._1).map { case (p, n) =>
        val o = acc; acc += n; (p, o, n)
      }
    }
    val total = offsets.map(_._3).sum
    val keys = (partitionCol +: sortCols).map(col)
    val pstr = col(partitionCol).cast("string")
    val sortKey: Option[org.apache.spark.sql.Column] =
      sortCols.headOption.flatMap { c =>
        rows.schema(c).dataType match {
          case _: NumericType => Some(col(c).cast("double"))
          case TimestampType | TimestampNTZType => Some(col(c).cast("double"))
          case DateType => Some(col(c).cast("timestamp").cast("double"))
          case StringType =>
            // lexicographic proxy: the first 4 bytes packed into a
            // number, monotone in string order up to 4-byte ties —
            // files keep contiguous key ranges (ties past the prefix
            // can blur only ADJACENT file boundaries), which range
            // bucketing needs and a hash spread would destroy
            val b = (i: Int) => coalesce(
              org.apache.spark.sql.functions.ascii(
                org.apache.spark.sql.functions.substring(col(c), i, 1)),
              lit(0)).cast("double")
            Some(b(1) * 16777216d + b(2) * 65536d + b(3) * 256d + b(4))
          case _ => None
        }
      }
    import spark.implicits._
    val route = offsets.toDF("__gp", "__goff", "__gn")
    sortKey match {
      case Some(key) if total != offsets.size =>
        // some partition packs to 2+ files: bucket by sort-key range
        val stats = rows.groupBy(pstr.as("__gsp"))
          .agg(min(key).as("__gmn"), max(key).as("__gmx"))
        val frac = (key - col("__gmn")) /
          greatest(col("__gmx") - col("__gmn"), lit(1e-9))
        packRouted(
          rows.join(broadcast(stats), pstr === col("__gsp"), "left"),
          route, pstr, keys, total,
          greatest(lit(0), least(floor(frac * col("__gn")),
            col("__gn") - 1)).cast("int"),
          dropExtra = Seq("__gsp", "__gmn", "__gmx"))
      case None if total != offsets.size =>
        packRouted(rows, route, pstr, keys, total,
          pmod(hash(rows.columns.map(col): _*), col("__gn")), Nil)
      case _ => // every partition → one file
        packRouted(rows, route, pstr, keys, total, lit(0), Nil)
    }
  }

  /** The exact-routing tail of [[packPartitioned]]: attach (offset, n),
    * compute the global file index, route index i to task i, restore
    * the sort clustering inside each task. */
  private def packRouted(rows: DataFrame, route: DataFrame,
      pstr: org.apache.spark.sql.Column,
      keys: Seq[org.apache.spark.sql.Column], total: Int,
      bucket: org.apache.spark.sql.Column,
      dropExtra: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    // Partition identity guard: `targets` is keyed by the caller's
    // partition-value string, the rows carry the INFERRED partition
    // column — if the two disagree (a value that does not round-trip
    // Spark's partition-type inference, e.g. dir "event_date=01"
    // inferred as int 1), routing silently misfiles the partition and
    // the caller's commit could drop its rows. Fail the STAGING write
    // instead, before anything is committed: a row matching no route
    // entry aborts the job with the offending value named.
    val guardedOff = when(col("__goff").isNull,
      raise_error(concat(
        lit(s"partition value not in the rewrite plan (dir-name vs " +
          "inferred-value mismatch?): '"), pstr, lit("'"))))
      .otherwise(col("__goff"))
    val withIdx = rows.join(broadcast(route), pstr === col("__gp"), "left")
      .withColumn("__gidx",
        (guardedOff + coalesce(bucket, lit(0))).cast("int"))
      .drop((Seq("__gp", "__goff", "__gn") ++ dropExtra): _*)
    val schema = withIdx.schema
    val idxAt = schema.fieldIndex("__gidx")
    val routed = withIdx.rdd
      .map(r => (r.getInt(idxAt), r))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = math.max(1, total)
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
    spark.createDataFrame(routed, schema)
      .sortWithinPartitions(keys: _*)
      .drop("__gidx")
  }

  /** Catalog-backed bucketed + sorted table: two tables bucketed the
    * same way join with ZERO shuffle (no Exchange in the plan — proven
    * in SourcesSpec). At 100 TB this is the layout for fact↔fact joins
    * that recur on the same key: pay the partitioning once at write
    * time, never again at read time. */
  def saveBucketedTable(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode(SaveMode.Overwrite).saveAsTable(table)

  /** [[saveBucketedTable]] with an EXPLICIT external location, for
    * sessions whose warehouse dir is not under the caller's control
    * (the graded-query path: the driver owns the SparkSession, so a
    * managed table would land wherever its cwd happens to be). Same
    * zero-Exchange read-side contract. */
  def saveBucketedTableAt(df: DataFrame, table: String, path: String,
                          key: String, buckets: Int): Unit = {
    // Overwrite on an external table re-resolves against the OLD
    // location if the name already exists; drop first so the (name,
    // path) binding is always the caller's.
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    // Cluster on the bucket key BEFORE the bucketed write (r22, guide
    // §6 "small files hurt twice"): a bucketed writer emits one file
    // per (task, bucket) pair, so a many-partition input (e.g. a
    // rebalanced upstream) multiplies the file count — n09's served
    // probe slowed 1.7× when its index went from 3 to 32 writer tasks.
    // Repartitioning by the key collapses it to one file per bucket at
    // any input width; the shuffle is build-time, never serving-time.
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.format("parquet").option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .mode(SaveMode.Overwrite).saveAsTable(table)
  }

  // -------------------------------------------------------------------
  // JDBC batch sink/source (S4/S3): the reference's warehouse output is
  // JDBC batch loads into the serving database with a fixed batchsize
  // of 10000 (glue_master_etl.py:71-85), TRUNCATE-then-load semantics
  // for refreshes, and JDBC read-back of dimension tables for surrogate
  // keys (glue_master_etl.py:61-69). Spark-side: each shuffle partition
  // opens its own connection and flushes `batchsize`-row batches, so
  // the load parallelism IS the partition count — cap `numPartitions`
  // to what the target DB's connection pool tolerates (a 1000-executor
  // cluster would otherwise open 1000 writers).
  // -------------------------------------------------------------------

  private def writer(df: DataFrame, batchSize: Int, numPartitions: Option[Int]) = {
    val capped = numPartitions.map(df.coalesce).getOrElse(df)
    capped.write.format("jdbc").option("batchsize", batchSize)
  }

  /** Plain batch append (reference's incremental load path). */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 batchSize: Int = 10000, numPartitions: Option[Int] = None): Unit =
    writer(df, batchSize, numPartitions)
      .option("url", url).option("dbtable", table)
      .mode(SaveMode.Append).save()

  /** TRUNCATE-then-load refresh: `truncate=true` keeps the table's DDL,
    * indexes, and grants (vs Overwrite's default drop-and-recreate) —
    * the same observable behavior as the reference's explicit TRUNCATE
    * preaction. NOT atomic: Spark still issues TRUNCATE TABLE and then
    * batch-appends, so a mid-load failure leaves a truncated or
    * partially-loaded table, exactly like the reference. An atomic
    * refresh needs a staging-table load + rename/swap on the DB side. */
  def jdbcOverwrite(df: DataFrame, url: String, table: String,
                    batchSize: Int = 10000, numPartitions: Option[Int] = None): Unit =
    writer(df, batchSize, numPartitions)
      .option("url", url).option("dbtable", table).option("truncate", "true")
      .mode(SaveMode.Overwrite).save()

  /** Staged ATOMIC refresh — the upgrade [[jdbcOverwrite]]'s scaladoc
    * points at: the load lands in `<table>_stg` first, then the swap is
    * two RENAMEs committed in ONE transaction, so a reader sees the old
    * serving table or the complete new one — never TRUNCATE-then-half-
    * loaded. A failure anywhere before the commit leaves the serving
    * table untouched (at worst an orphaned staging table, overwritten
    * by the next run); the displaced copy is dropped only after the
    * swap commits. Works on any JDBC backend with transactional DDL
    * (Derby here; Postgres/Redshift use the same three-statement swap).
    * Load parallelism/batching follow [[jdbcAppend]]. */
  def jdbcStagedRefresh(df: DataFrame, url: String, table: String,
                        batchSize: Int = 10000, numPartitions: Option[Int] = None): Unit = {
    val stg = s"${table}_stg"
    val displaced = s"${table}_old"
    writer(df, batchSize, numPartitions)
      .option("url", url).option("dbtable", stg)
      .mode(SaveMode.Overwrite).save()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        def exists(t: String): Boolean = {
          // getTables takes a LIKE pattern: '_' is a single-char
          // wildcard, so an unescaped NATION_T_OLD could match a
          // similarly named table and trigger a spurious DROP/RENAME.
          val md = conn.getMetaData
          // Some drivers report no escape string (null/""): replace("",…)
          // would insert the replacement between every character, so fall
          // back to the raw name — at worst the pre-escape wildcard
          // behavior, never a corrupted pattern.
          val esc = md.getSearchStringEscape
          val pat =
            if (esc == null || esc.isEmpty) t.toUpperCase
            else t.toUpperCase
              .replace(esc, esc + esc)
              .replace("_", esc + "_")
              .replace("%", esc + "%")
          val rs = md.getTables(null, null, pat, null)
          try rs.next() finally rs.close()
        }
        // leftover _old from a previous crash-after-commit: clear it first
        if (exists(displaced)) st.executeUpdate(s"DROP TABLE $displaced")
        if (exists(table)) st.executeUpdate(s"RENAME TABLE $table TO $displaced")
        st.executeUpdate(s"RENAME TABLE $stg TO $table")
        conn.commit() // <- the atomic instant: both renames or neither
        if (exists(displaced)) st.executeUpdate(s"DROP TABLE $displaced")
        conn.commit()
      } catch {
        // A failed swap (e.g. lock timeout from a concurrent reader)
        // must roll back before close: embedded Derby refuses to close
        // a connection with an open transaction, which would mask the
        // real failure and leak the connection (and its table locks).
        case e: Throwable =>
          try conn.rollback() catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      } finally st.close()
    } finally conn.close()
  }

  /** JDBC read-back (reference: dimension key lookups). Single-partition
    * by default — pass a numeric `partitionColumn` + bounds to fan the
    * read across executors for large tables. */
  def jdbcRead(spark: SparkSession, url: String, table: String,
               partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    partitionColumn.map { case (c, lo, hi, n) =>
      r.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.getOrElse(r).load()
  }
}
