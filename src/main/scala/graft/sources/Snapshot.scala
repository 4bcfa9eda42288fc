package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, concat_ws, count, input_file_name, lit, replace, slice, split, sum, url_decode, when, max => fmax, min => fmin}
import org.apache.spark.sql.types.LongType

/** A snapshot commit lost its optimistic race in a way rebase cannot
  * repair: a concurrent rewrite re-filed data files this commit had
  * replaced, so the two results can no longer be merged by file-list
  * algebra. The operation made NO change to the table (staged files are
  * unreferenced and retire via [[Snapshot.expire]]); rerun it against
  * the new snapshot. */
final class SnapshotConflictException(msg: String)
  extends IllegalStateException(msg)

/** Snapshot manifests for a Hive-partitioned layout — the engine's one
  * commit protocol for changing a partitioned layout. A reader listing
  * a directory while a writer swaps its files sees a gap or an error;
  * table formats (Delta/Iceberg) close that window by making the FILE
  * LIST, not the directory, the source of truth, and this is that
  * mechanism at its minimum viable size:
  *
  *  - `<root>/_manifests/m-<version>` is a text file naming every live
  *    data file (root-relative, one per line). Readers list from the
  *    highest committed manifest — NEVER from the directory.
  *  - Writers stage new files INTO the partition dirs (unique names, so
  *    nothing collides), then commit by renaming a temp manifest to the
  *    next version — one atomic filesystem op. Until that instant the
  *    new files are invisible (no manifest names them); after it they
  *    are the snapshot. A reader therefore sees exactly the old or the
  *    new file set, no matter how it interleaves with maintenance.
  *  - Replaced files are NOT deleted at commit — a reader pinned to an
  *    older manifest keeps a consistent view — and retire later through
  *    [[expire]], the snapshot-expiry retention step.
  *
  * Every change to a layout takes this one shape — stage files, swing
  * a single pointer: maintenance ([[compact]], [[deleteWhere]],
  * [[replacePartitions]], whose caller metadata such as an
  * applied-delta id commits in the same rename as the data) and ingest
  * alike. Streaming micro-batches commit through [[append]] with their
  * run/batch identity in the header, so replays are detectable, and
  * [[changes]] gives consumers an incremental feed over the appends.
  *
  * Scale: a manifest is O(files) text — at 100 TB that is the same
  * metadata a table format keeps, and the commit cost is one rename
  * regardless of how many partitions a maintenance pass rewrote (the
  * whole pass commits atomically). Concurrency contract: any number of
  * readers, and OPTIMISTIC multi-writer commits — a commit is (base
  * version, removed files, added files); a writer that loses the
  * version race rebases onto the new snapshot when its change still
  * applies (appends remove nothing, so they always commute; a rewrite
  * revalidates that every file it replaced is still live) and aborts
  * with [[SnapshotConflictException]] only on a TRUE conflict: two
  * rewrites re-filing the same data files, whose results file-list
  * algebra cannot merge. The caller of an aborted rewrite reruns it
  * against the new snapshot — the standard table-format contract.
  *
  * Every public write is an argument mapping over the same private
  * steps, each written once: [[headOf]] opens the table at its current
  * version (one manifest read, data and delete entries split);
  * [[stagePartitioned]] lands data files through a hidden staging dir;
  * [[stageMatches]] stages a row-level write's matches and reports
  * their count and referenced files from the same job;
  * [[writeVectors]] packs and moves a deletion vector;
  * [[rewriteSurvivors]] re-clusters and rewrites a maintenance read's
  * survivors and [[statLines]] turns new files into manifest entries
  * from their parquet footers; [[commit]] swings the pointer. A commit
  * runs only its data writes: every count, file set and statistic it
  * records comes from the write that produced it, not from a job of
  * its own. SQL MERGE and the library upserts ([[merge]],
  * [[mergeAnywhere]]) compose them in [[rewriteKeyed]]: candidate
  * files from the manifest's key bounds, one [[keyedScan]] of them,
  * one staged write of the new contents of the files holding an acting
  * row, one commit replacing those files.
  *
  * Every read is likewise built from three private steps:
  * [[vectorsOf]] reads a version's position vectors under the declared
  * pair schema ([[PairSchema]]); [[keyedScan]] scans a file list per
  * partition spec with its (file, pos) keys, and row ids on lineage;
  * [[diffSides]] builds both change diffs' plus and minus candidates.
  */
object Snapshot {

  private val ManifestDir = "_manifests"
  private val DeletesDir = "_deletes"
  private val Charset = java.nio.charset.StandardCharsets.UTF_8

  /** INCREMENTAL MANIFESTS: `m-<version>` is no longer a
    * full live-file listing but a MANIFEST LIST — header metadata plus
    * `@seg-…` lines referencing immutable SEGMENT files in application
    * order. Each commit writes ONE segment naming only its change
    * (`-path` removes, `+entry` adds) and a new tiny list, so a k-file
    * commit writes O(k + segments) bytes where the old format wrote
    * O(live files) — and re-wrote it on every rebase attempt; the
    * segment is immutable, so a rebase re-writes only the list. Readers
    * fold the referenced segments (remove, then add, last-add-wins by
    * path) into the live entry set. Every `Config.ManifestSegments`
    * commits, the committing writer folds the chain into one
    * consolidated segment — amortized O(1) listing rewrites, bounded
    * read fan-out. */
  private val SegFoldThreshold: Int = graft.Config.ManifestSegments

  /** A manifest entry under `_deletes/` is a DELETION VECTOR file —
    * (data-file, row-position) pairs a reader subtracts — not a data
    * file. Unambiguous: data entries live under `partitionCol=…/` dirs,
    * which always carry an `=`; nothing else starts with `_deletes/`. */
  private def isDeleteEntry(line: String): Boolean =
    pathOf(line).startsWith(DeletesDir + "/")

  /** EQUALITY-DELETE recognition, by sidecar name: position vectors are
    * staged parquet part files moved verbatim; equality-delete sidecars
    * are always written `eq-…` ([[deleteByKeys]]). The two tiers carry
    * different schemas — (dv_file, dv_pos) vs the table's key columns —
    * so every delete-file read splits on this predicate first. */
  private def isEqFile(path: String): Boolean =
    path.startsWith(DeletesDir + "/") &&
      path.stripPrefix(DeletesDir + "/").startsWith("eq-")

  private def isEqDeleteEntry(line: String): Boolean = isEqFile(pathOf(line))

  private def fsOf(spark: SparkSession, root: org.apache.hadoop.fs.Path) =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(root, f"$ManifestDir/m-$v%012d")

  private[graft] def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("m-\\d+"))
      .map(_.stripPrefix("m-").toLong)
      .sorted
  }

  /** Highest committed snapshot version, if the layout has one. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    committedVersions(fsOf(spark, root), root).lastOption
  }

  /** All committed snapshot versions, oldest first — the time-travel /
    * change-feed enumeration surface. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    committedVersions(fsOf(spark, root), root)
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, Charset)
  }

  private def manifestText(spark: SparkSession, path: String, v: Long): String =
    manifestTextFs(fsOf(spark, new org.apache.hadoop.fs.Path(path)),
      new org.apache.hadoop.fs.Path(path), v)

  private def manifestTextFs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): String =
    readSmallFile(fs, manifestPath(root, v))

  private def parseMeta(text: String): Map[String, String] =
    text.split("\n").toSeq
      .map(_.trim).filter(_.startsWith("#"))
      .map(_.stripPrefix("#").split("=", 2))
      .collect { case Array(k, value) => k -> value }
      .toMap

  /** Raw body lines of a manifest file (header skipped): `@segment`
    * references in the list format, or verbatim entry lines in a
    * pre-segment manifest. */
  private def parseLines(text: String): Seq[String] =
    text.split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Segment file names (`seg-…`) the manifest list references, in
    * application order. */
  private def parseRefs(text: String): Seq[String] =
    parseLines(text).filter(_.startsWith("@")).map(_.stripPrefix("@"))

  /** The data-file path of a manifest entry line (stats suffix, if any,
    * stripped). */
  private def pathOf(line: String): String = {
    val t = line.indexOf('\t')
    if (t < 0) line else line.substring(0, t)
  }

  /** ROW-LINEAGE column name — the durable per-row identity a lineage-
    * enabled layout (`rowids=on`, declared at [[init]] or bootstrap
    * append) assigns at first commit and carries through every rewrite.
    * Reserved: never part of the recorded TABLE schema; surfaced only by
    * the lineage read surface ([[readVersionLineage]],
    * [[changeDiffLineage]]). Ids are Iceberg-v3-shaped: a file written
    * by an append carries a manifest-entry base (`r:<base>`) and a row's
    * id is `base + its position in the file` (zero stored bytes); a file
    * written by a rewrite MATERIALIZES the column physically (`r:p`) so
    * re-filed rows keep the ids they were born with. */
  val RowIdCol = "_row_id"

  /** Trailing entry-line fields that are NOT positional stats bounds —
    * prefix-keyed so parsers can skip them: `r:<base>`/`r:p` (row-id
    * base / physically materialized), `n:<rows>` (file row count),
    * `z:<c0,c1,…>` (per-stats-column null counts), `v:<version>` (the
    * commit that added the entry — the equality-delete sequence tier),
    * `k:<c0,c1,…>` (an equality-delete sidecar's key columns). Bound
    * tokens are numeric, `-`, or `s:`-prefixed — never these. */
  private def isExtraField(f: String): Boolean =
    f.startsWith("r:") || f.startsWith("n:") || f.startsWith("z:") ||
      f.startsWith("v:") || f.startsWith("k:")

  /** The commit version that added an entry (`v:` field, stamped by
    * [[commit]] on eqdel layouts). Entries predating the declaration
    * read 0 — "older than every equality delete", which errs toward
    * DELETING (an old row stays subject to every delete), never toward
    * resurrecting. */
  private def addVersionOf(line: String): Long =
    line.split("\t").find(_.startsWith("v:"))
      .flatMap(f => scala.util.Try(f.stripPrefix("v:").toLong).toOption)
      .getOrElse(0L)

  /** One equality-delete sidecar: its path, the commit version it
    * landed in (`d` — it deletes matching rows from every data file
    * with a strictly SMALLER add-version), and its key columns. */
  private final case class EqDelete(file: String, d: Long,
      keyCols: Seq[String])

  private def eqDeletesOf(lines: Seq[String]): Seq[EqDelete] =
    lines.filter(isEqDeleteEntry).map { l =>
      val cols = l.split("\t").find(_.startsWith("k:"))
        .map(_.stripPrefix("k:").split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      require(cols.nonEmpty,
        s"equality-delete entry without key columns: '$l'")
      EqDelete(pathOf(l), addVersionOf(l), cols)
    }

  /** The positional bound tokens of an entry line (extras stripped). */
  private def boundFields(line: String): Array[String] =
    line.split("\t").drop(1).filterNot(isExtraField)

  /** Per-column `(min, max)` statistics of a manifest entry line, in
    * the layout's declared stats-column order. A column with no bounds
    * in this file (all-NULL values) is encoded `-\t-` → None; a bare
    * path carries no bounds for any column; STRING-typed bounds
    * (`s:…` — see [[strBoundsOf]]) are None in the LONG view. */
  private def statsListOf(line: String): Seq[Option[(Long, Long)]] =
    boundFields(line).grouped(2).collect {
      case Array(mn, mx) =>
        if (mn == "-" || mx == "-") None
        else scala.util.Try((mn.toLong, mx.toLong)).toOption
    }.toSeq

  /** The row-id tag of an entry line: `Some("p")` (ids physically
    * materialized in the file), `Some("<base>")` (virtual ids
    * `base + row position`), or None (pre-lineage entry). */
  private def rowIdTagOf(line: String): Option[String] =
    line.split("\t").find(_.startsWith("r:")).map(_.stripPrefix("r:"))

  /** The recorded row count of an entry line, if the committing write
    * recorded one (`n:<rows>` — always present on lineage- or
    * null-stats-enabled layouts). */
  private[graft] def rowCountOf(line: String): Option[Long] =
    line.split("\t").find(_.startsWith("n:"))
      .flatMap(f => scala.util.Try(f.stripPrefix("n:").toLong).toOption)

  /** Per-stats-column null counts of an entry line (`z:` field,
    * declaration order; `-` = unknown), empty when never recorded. */
  private def nullCountsOf(line: String): Seq[Option[Long]] =
    line.split("\t").find(_.startsWith("z:")).map {
      _.stripPrefix("z:").split(",", -1).toSeq
        .map(t => scala.util.Try(t.toLong).toOption)
    }.getOrElse(Nil)

  // ----- STRING-typed manifest statistics ------------------------------
  // A string stats column records per-file bounds in UTF-8 BYTE order —
  // the exact order Spark's UTF8String min/max uses — percent-encoded
  // (`s:` prefix) so a bound can never contain the manifest's tab /
  // newline separators or invalid UTF-8. Long values truncate: the
  // lower bound is a ≤-prefix, the upper bound increments its last
  // non-0xFF byte after truncation (the Iceberg truncate-and-increment
  // upper), so pruning stays CONSERVATIVE — only false keeps, never a
  // false skip.

  private val StrBoundCap = 64

  private[graft] def encStrBound(bs: Array[Byte]): String = {
    val sb = new StringBuilder("s:")
    bs.foreach { b =>
      val i = b & 0xFF
      if (i > 0x20 && i < 0x7F && i != '%') sb.append(i.toChar)
      else sb.append(f"%%$i%02X")
    }
    sb.toString
  }

  private[graft] def decStrBound(v: String): Array[Byte] = {
    val s = v.stripPrefix("s:")
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%') {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(s.charAt(i).toInt); i += 1 }
    }
    out.toByteArray
  }

  private[graft] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Lower bound: a UTF-8 byte prefix is always ≤ the full string. */
  private[graft] def strLowerBound(s: String): Array[Byte] =
    s.getBytes(Charset).take(StrBoundCap)

  /** Upper bound: exact when it fits; otherwise truncate and increment
    * the last non-0xFF byte (None = unbounded → the reader keeps the
    * file). */
  private[graft] def strUpperBound(s: String): Option[Array[Byte]] = {
    val bs = s.getBytes(Charset)
    if (bs.length <= StrBoundCap) Some(bs)
    else {
      var i = StrBoundCap - 1
      while (i >= 0 && (bs(i) & 0xFF) == 0xFF) i -= 1
      if (i < 0) None
      else {
        val u = java.util.Arrays.copyOf(bs, i + 1)
        u(i) = ((u(i) & 0xFF) + 1).toByte
        Some(u)
      }
    }
  }

  /** The `(lower, upper)` string bounds of entry `line` for stats
    * column index `i`, when that column recorded string-typed bounds. */
  private def strBoundsOf(line: String,
      i: Int): Option[(Array[Byte], Array[Byte])] = {
    val parts = boundFields(line)
    (parts.lift(2 * i), parts.lift(2 * i + 1)) match {
      case (Some(mn), Some(mx))
          if mn.startsWith("s:") && mx.startsWith("s:") =>
        Some((decStrBound(mn), decStrBound(mx)))
      case _ => None
    }
  }

  /** Immutable-segment content cache: a segment file never changes once
    * written (commits write new segments; expire only deletes
    * unreferenced ones), so its parsed lines are cacheable across every
    * resolution that references it — without it, each snapshot read
    * would re-fetch O(segments) small files. BYTE-capped, because fold
    * segments are O(live files) each: at the 10⁵–10⁶-file scale one
    * fold is tens of MB, so an entry-count cap would let history walks
    * over several stores pin gigabytes on the driver. Over-size
    * segments are served uncached; overflow clears wholesale (the
    * entries are re-readable files, never the only copy). */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val segCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val SegCacheMaxBytes = 256L * 1024 * 1024
  private val SegCacheMaxEntryBytes = 16L * 1024 * 1024

  private def segBytes(lines: Seq[String]): Long =
    lines.foldLeft(0L)(_ + _.length + 40L) // chars + overhead

  private def segLines(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String): Seq[String] = {
    val key = fs.makeQualified(
      new org.apache.hadoop.fs.Path(root, s"$ManifestDir/$name")).toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val lines = readSmallFile(fs,
      new org.apache.hadoop.fs.Path(root, s"$ManifestDir/$name"))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    if (segBytes(lines) > SegCacheMaxEntryBytes) lines
    else {
      // computeIfAbsent dedupes concurrent loads (one store,
      // one byte charge — two threads missing the same key no longer
      // both charge the counter for a single stored copy), and overflow
      // RECOMPUTES the counter from actual contents before deciding to
      // evict, so accounting drift can never trigger a premature
      // wholesale clear
      val stored = segCache.computeIfAbsent(key, { _ =>
        segCacheBytes.addAndGet(segBytes(lines)): Unit
        lines
      })
      if (segCacheBytes.get() > SegCacheMaxBytes) segCache.synchronized {
        val actual = segCache.values.iterator()
        var sum = 0L
        while (actual.hasNext) sum += segBytes(actual.next())
        segCacheBytes.set(sum)
        if (sum > SegCacheMaxBytes) {
          segCache.clear()
          segCacheBytes.set(0L)
        }
      }
      stored
    }
  }

  /** Fold a manifest body into the snapshot's live entry lines: segment
    * references apply in order (`-path` removes, `+entry` adds,
    * last-add-wins by path — which is also what dedups an entry a
    * rebased writer re-added after a racing init already listed it);
    * verbatim entry lines (pre-segment manifests, mixed bodies) add
    * directly. Sorted for deterministic fingerprints. */
  private def resolveBodyFs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, body: Seq[String]): Seq[String] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, String]
    body.foreach {
      case ref if ref.startsWith("@") =>
        segLines(fs, root, ref.stripPrefix("@")).foreach { l =>
          if (l.startsWith("-")) live.remove(l.substring(1)): Unit
          else {
            val entry = if (l.startsWith("+")) l.substring(1) else l
            live.update(pathOf(entry), entry)
          }
        }
      case entry => live.update(pathOf(entry), entry)
    }
    live.values.toSeq.sorted
  }

  private def resolvedLinesFs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Seq[String] =
    resolveBodyFs(fs, root, parseLines(manifestTextFs(fs, root, v)))

  private def resolvedLines(spark: SparkSession, path: String,
      v: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    resolvedLinesFs(fsOf(spark, root), root, v)
  }

  /** ONE manifest read of version `v` feeding everything a consistent
    * read needs — (header metadata, resolved entry lines): file list,
    * deletion vectors, recorded schema, and stats all come from the
    * SAME manifest bytes, so a commit landing mid-call can never mix
    * version v's files with v+1's vectors or schema (the
    * snapshot-isolation contract, per read). */
  private def stateOf(spark: SparkSession, path: String,
      v: Long): (Map[String, String], Seq[String]) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val text = manifestTextFs(fs, root, v)
    (parseMeta(text), resolveBodyFs(fs, root, parseLines(text)))
  }

  /** The DATA-file list of snapshot `v` (root-relative paths, sorted).
    * Metadata lines (`#key=value` — see [[metaOf]]) and deletion-vector
    * entries ([[deletesOf]]) are skipped. */
  def filesOf(spark: SparkSession, path: String, v: Long): Seq[String] =
    resolvedLines(spark, path, v).filterNot(isDeleteEntry).map(pathOf)

  /** The deletion-vector files of snapshot `v` — outstanding
    * merge-on-read deletes a reader of that version subtracts
    * (see [[deleteWhereMoR]]). Empty on a fully-materialized layout. */
  def deletesOf(spark: SparkSession, path: String, v: Long): Seq[String] =
    resolvedLines(spark, path, v).filter(isDeleteEntry).map(pathOf)

  /** ALL resolved entry lines of snapshot `v` (data entries with their
    * stats, deletion vectors) — the content-identity surface
    * [[Sink.corpusFingerprint]] digests: anything that changes what a
    * reader of the snapshot sees must change these lines. */
  private[graft] def manifestLines(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    resolvedLines(spark, path, v)

  /** Commit metadata of snapshot `v`: the `#key=value` header lines —
    * `op` (init/append/replace/compact/delete) set by the committing op,
    * caller-supplied pairs (e.g. the streaming ingest's run/batch
    * identity), and the INHERITED transaction keys ([[InheritedMeta]])
    * carried forward from the previous manifest when the commit did not
    * set them itself. Manifests from before the metadata format return
    * empty. */
  def metaOf(spark: SparkSession, path: String, v: Long): Map[String, String] =
    parseMeta(manifestText(spark, path, v))

  /** The CURRENT manifest's metadata, if the layout has one — the O(1)
    * transaction-state read replay guards use (sound at any history
    * depth because [[InheritedMeta]] keys survive every commit). */
  def currentMeta(spark: SparkSession, path: String): Option[Map[String, String]] =
    currentVersion(spark, path).map(v => metaOf(spark, path, v))

  /** Transaction-identity keys that persist across commits: ingest and
    * maintenance ledger state is TABLE state (the Delta-txn-appId
    * discipline), so it must survive maintenance commits and snapshot
    * expiry — a replay guard that reads only the CURRENT manifest stays
    * sound no matter how many compactions ran or how much history was
    * expired since the last append/maintenance. A commit that sets one
    * of these keys overrides the carried value. `stats` (the layout's
    * file-statistics column, see [[entriesOf]]) rides here too: it is
    * a property of the TABLE, declared once at [[init]], that every
    * later commit must keep honoring. */
  private val InheritedMeta =
    Set("run", "batch", "delta", "stats", "schema", "rowids", "nullstats",
      "pcol", "eqdel", "eqkeys", "sort", "aliases")

  /** The layout's RECORDED SORT ORDER (`sort` inherited header,
    * `l:c0,c1` linear or `z:c0,c1` Morton): the clustering every
    * maintenance rewrite preserves when the caller passes no explicit
    * columns — without it, each compact/materialize/delete caller must
    * re-know the layout's clustering or silently destroy the file
    * skipping it paid for (the Iceberg table-sort-order property).
    * Declared at [[init]] or bootstrap; re-declared by any commit's
    * meta (caller meta overrides inherited — an empty [[append]] with
    * `sort=...` is ALTER TABLE WRITE ORDERED BY). Returns (linear
    * cols, zorder cols) — at most one side non-empty. */
  private def sortOrderOf(meta: Map[String, String]): (Seq[String], Seq[String]) =
    meta.get("sort") match {
      case Some(s) if s.startsWith("z:") =>
        (Nil, s.stripPrefix("z:").split(",").toSeq.filter(_.nonEmpty))
      case Some(s) if s.startsWith("l:") =>
        (s.stripPrefix("l:").split(",").toSeq.filter(_.nonEmpty), Nil)
      case Some(s) => (s.split(",").toSeq.filter(_.nonEmpty), Nil)
      case None => (Nil, Nil)
    }

  /** The recorded sort order of the current snapshot: (linear cols,
    * zorder cols). */
  def sortOrder(spark: SparkSession, path: String): (Seq[String], Seq[String]) =
    sortOrderOf(currentMeta(spark, path).getOrElse(Map.empty))

  /** The table schema snapshot `v`'s manifest records (header key
    * `schema`, Spark StructType JSON, partition column included) — the
    * SCHEMA-EVOLUTION anchor: the manifest, not any one parquet footer,
    * says what columns the table has, so files written before a column
    * existed read as NULL in it and no reader's answer depends on WHICH
    * file Spark happened to infer from. Recorded at [[init]], widened by
    * [[append]], inherited by every other commit. Manifests predating
    * the key return None (legacy inference read). */
  def schemaOf(spark: SparkSession, path: String,
      v: Long): Option[org.apache.spark.sql.types.StructType] =
    recordedSchema(metaOf(spark, path, v))

  private def recordedSchema(meta: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] =
    meta.get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** [[recordedSchema]] for package callers already holding a resolved
    * meta map — avoids a second manifest read where [[schemaOf]] would
    * re-resolve (the KeyIndex refresh validation path). */
  private[sources] def recordedSchemaOf(meta: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] = recordedSchema(meta)

  /** A RETIRED physical column name left behind by [[renameColumn]]:
    * files written before the rename carry `old` (at `tpe`, the
    * column's recorded type AT rename time — a later [[promoteColumn]]
    * widens only the current name); every read folds it into `current`.
    * This is the Iceberg field-id indirection re-expressed for a
    * name-matched parquet reader: instead of resolving columns by id
    * inside a custom reader, the manifest remembers every name a field
    * ever had and the read requests them ALL, coalescing newest-first —
    * a file holds at most one generation of the name, so the fold is
    * exact, and re-ADDING a retired name is refused for life
    * ([[widenRecordedSchema]]) to keep it so. */
  private[sources] case class ColAlias(
      old: String, tpe: org.apache.spark.sql.types.DataType, current: String)

  /** Alias records from the `aliases` inherited header — encoded as a
    * StructType JSON (field name = retired physical name, field type =
    * its physical type at rename, field metadata `current` = the name
    * it now serves under), reusing the same parser/printer as the
    * recorded schema itself. Declaration order = rename order. */
  private[sources] def aliasesOf(meta: Map[String, String]): Seq[ColAlias] =
    meta.get("aliases").map { j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.toSeq.map(f =>
          ColAlias(f.name, f.dataType, f.metadata.getString("current")))
    }.getOrElse(Nil)

  private def aliasesJson(as: Seq[ColAlias]): String =
    org.apache.spark.sql.types.StructType(as.map(a =>
      org.apache.spark.sql.types.StructField(a.old, a.tpe, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("current", a.current).build()))).json

  /** The PHYSICAL read schema: the recorded schema plus one nullable
    * field per retired name, so pre-rename files surface their old
    * column for [[resolveRenames]] to fold (a file never holds two
    * generations of one name, so each row populates exactly one).
    * Identical to the recorded schema on a never-renamed table — the
    * zero-cost common case. */
  private[sources] def physReadSchema(meta: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] = {
    val as = aliasesOf(meta)
    recordedSchema(meta).map { rec =>
      if (as.isEmpty) rec
      else org.apache.spark.sql.types.StructType(rec.fields ++ as.map(a =>
        org.apache.spark.sql.types.StructField(a.old, a.tpe, nullable = true)))
    }
  }

  /** Fold retired physical names into the columns they now serve:
    * `current = coalesce(current, cast(old_1, t), cast(old_2, t), …)`
    * — the current name first, then the aliases in declaration
    * (rename) order. The order among aliases is IMMATERIAL, and that
    * is the invariant the fold relies on: a file holds at most ONE
    * generation of a name (each rename retires the previous physical
    * name for the layout's life), so per row at most one coalesce arm
    * is non-NULL and any ordering folds identically. Then drop the
    * retired columns. Name-based and in-place (`withColumn`), so
    * engine key columns (`__dv_*`, `__lin_*`, `_row_id`) pass through
    * untouched; identity when the table was never renamed. The cast
    * covers a rename whose column was LATER promoted — the alias
    * keeps the physical type its files were written at.
    *
    * The closing `.as(…)` is load-bearing, not cosmetic: a bare
    * `drop()` is a Project, and Spark's missing-reference resolution
    * reaches THROUGH Projects — `df.where(col(retiredName))` above the
    * fold would silently re-resolve the dropped physical column, and a
    * predicate on a retired name would then match pre-rename files but
    * read NULL in post-rename ones (the exact silent-miss class the
    * fold exists to kill). A SubqueryAlias is a resolution barrier, so
    * retired names fail LOUDLY above every read. Consequence: `_metadata`
    * does not resolve above the barrier either — callers that need
    * (file, pos) keys materialize them BEFORE folding (they all do). */
  private[sources] def resolveRenames(df: DataFrame, meta: Map[String, String])
      : DataFrame = {
    val as = aliasesOf(meta)
    if (as.isEmpty) df
    else {
      val rec = recordedSchema(meta).getOrElse(throw new IllegalStateException(
        "alias records without a recorded schema — rename needs the " +
        "schema-evolution anchor"))
      val typed = rec.fields.map(f => f.name -> f.dataType).toMap
      val present = df.columns.toSet
      val folded = as.filter(a => present(a.old)).groupBy(_.current)
        .foldLeft(df) { case (d, (cur, list)) =>
          d.withColumn(cur, coalesce(
            (col(cur) +: list.map(a => col(a.old).cast(typed(cur)))): _*))
        }
      folded.drop(as.map(_.old).filter(present): _*).as("__graft_renamed")
    }
  }

  /** The schema shaped for [[Sink.readForMaintenance]]: the PHYSICAL
    * name set ([[physReadSchema]]) minus the partition column, which
    * the maintenance read adds back as a raw STRING dir value. Physical,
    * not recorded: a maintenance rewrite over pre-rename files must read
    * their retired columns to fold them, so the rewritten files carry
    * the CURRENT names (rename converges physically through normal
    * compaction, never via a table-width rewrite job). */
  private def maintPhysSchema(meta: Map[String, String], partitionCol: String)
      : Option[org.apache.spark.sql.types.StructType] =
    physReadSchema(meta).map(s => org.apache.spark.sql.types.StructType(
      s.fields.filterNot(_.name == partitionCol)))

  /** A layout opened at its CURRENT version: everything one manifest
    * read yields — root, filesystem, qualified root, version, header
    * metadata and resolved entry lines, with data and delete entries
    * already split — so an entry point plans, checks and commits
    * against one consistent state. */
  private final case class Head(root: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, qualified: String, v: Long,
      meta: Map[String, String], lines: Seq[String]) {
    val dataLines: Seq[String] = lines.filterNot(isDeleteEntry)
    val deleteLines: Seq[String] = lines.filter(isDeleteEntry)
    def files: Seq[String] = dataLines.map(pathOf)
    def deletes: Seq[String] = deleteLines.map(pathOf)
  }

  /** Open `path` at its current version; the one refusal of a layout
    * with no committed snapshot, `hint` naming the caller's next step. */
  private def headOf(spark: SparkSession, path: String, hint: String): Head = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $path" +
        (if (hint.isEmpty) "" else s" — $hint")))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val (meta, lines) = stateOf(spark, path, v)
    Head(root, fs, fs.makeQualified(root).toString, v, meta, lines)
  }

  private def headOf(spark: SparkSession, path: String): Head =
    headOf(spark, path, "")

  /** (current version, its file list). */
  def currentFiles(spark: SparkSession, path: String): (Long, Seq[String]) = {
    val h = headOf(spark, path, "call Snapshot.init first")
    (h.v, h.files)
  }

  private val MaxCommitAttempts = 24

  /** Claim a contiguous range of `n` fresh row ids for a lineage-enabled
    * layout, returning its first id. The high-water mark lives in
    * `_manifests/rid-<seq>` files (`#base`, `#n` — the claimed range),
    * advanced with the same [[publishIfAbsent]] create-if-absent
    * primitive as manifests: of N racing writers exactly one lands
    * `rid-<seq+1>`, losers re-read and retry, so two commits can never
    * claim overlapping ranges — WITHOUT touching the manifest commit
    * loop (a rebased commit keeps the range it claimed; an aborted
    * commit burns its range, which is fine: ids need to be unique and
    * stable, not dense). O(1): one directory listing + one small read
    * per claim; [[expire]] sweeps all but the newest marker. */
  private def allocateRowIds(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Long): Long = {
    require(n > 0, s"row-id allocation needs n > 0, got $n")
    val dir = new org.apache.hadoop.fs.Path(root, ManifestDir)
    fs.mkdirs(dir)
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val seqs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.matches("rid-\\d+")).map(_.stripPrefix("rid-").toLong)
      val read: Option[(Long, Long)] =
        if (seqs.isEmpty) Some((0L, 0L))
        else {
          val s = seqs.max
          try {
            val m = parseMeta(readSmallFile(fs,
              new org.apache.hadoop.fs.Path(dir, f"rid-$s%012d")))
            Some((s,
              m.getOrElse("base", "0").toLong + m.getOrElse("n", "0").toLong))
          } catch {
            // a retention sweep deleted a just-superseded marker between
            // our listing and the read — re-list (the newest survives
            // every sweep)
            case _: java.io.FileNotFoundException => None
          }
        }
      if (read.isEmpty) Thread.sleep(5L)
      else {
        val (prevSeq, base) = read.get
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s".tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try out.write(s"#base=$base\n#n=$n".getBytes(Charset))
        finally out.close()
        val won = publishIfAbsent(fs, tmp,
          new org.apache.hadoop.fs.Path(dir, f"rid-${prevSeq + 1}%012d"))
        fs.delete(tmp, false): Unit
        if (won) return base
        Thread.sleep((2L << math.min(attempt, 6)) +
          scala.util.Random.nextInt(11).toLong)
      }
    }
    throw new IllegalStateException(
      s"row-id allocation on $root still contended after $MaxCommitAttempts attempts")
  }

  /** Publish a staged manifest as `target` with WRITE-IF-ABSENT
    * semantics — the one primitive the whole commit protocol rests on.
    * Exactly one of N same-version racers returns true; every loser
    * returns false with `target` untouched. Per scheme:
    *
    *  - `file`: POSIX hard-link creation (`link(2)`) fails with EEXIST
    *    if the target name exists — atomic create-if-absent ACROSS
    *    PROCESSES, not just across threads (a bare exists+rename pair
    *    is not: POSIX `rename(2)` silently REPLACES an existing
    *    destination, so two same-version winners would clobber each
    *    other; a JVM lock fixes threads but not a second driver on the
    *    same volume). The tmp name keeps pointing at the same inode —
    *    the caller unlinks it after.
    *  - HDFS: `rename` refuses an existing destination atomically at
    *    the NameNode — the contract comes free.
    *  - An object store swaps this seam for a conditional put
    *    (if-none-match) — same contract, one method to replace. */
  private[graft] def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getScheme == "file") {
      val src = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val dst = java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath)
      try { java.nio.file.Files.createLink(dst, src); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      !fs.exists(target) && fs.rename(tmp, target)
    }

  /** The widened type two generations of one column can SHARE under
    * Spark 4's native parquet type-widening read (int32 served as LONG,
    * float as DOUBLE — verified against both the vectorized and
    * row-based readers): the promotion lattice is Iceberg's safe set,
    * int→long and float→double, nothing else. None = incompatible. */
  private def promotedType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{IntegerType, LongType => LT, FloatType, DoubleType}
    if (a == b) Some(a)
    else (a, b) match {
      case (IntegerType, LT) | (LT, IntegerType) => Some(LT)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** The recorded-schema merge runs INSIDE the
    * commit retry loop against the LATEST manifest's schema, so a
    * rebasing append widens the concurrent winner's schema instead of
    * overriding it with a stale precomputation — and two appends adding
    * the SAME column with different types now collide on the type check
    * no matter which order they land. Type PROMOTION rides the same
    * merge: a batch whose column is the wider lattice type
    * ([[promotedType]]) promotes the recorded schema in the same commit
    * as its files; a batch narrower than the recorded type is accepted
    * as-is (its files read widened natively). `aliases` guards rename
    * hygiene: a batch may never ADD a retired name — its rows belong
    * under the current name ([[renameColumn]]). */
  private def widenRecordedSchema(
      old: Option[org.apache.spark.sql.types.StructType],
      batch: org.apache.spark.sql.types.StructType, pcol: String,
      bootstrap: Boolean,
      aliases: Seq[ColAlias] = Nil): Map[String, String] =
    old match {
      case Some(o) =>
        val oldByName = o.fields.map(f => f.name -> f).toMap
        val retired = aliases.map(a => a.old -> a.current).toMap
        // the partition column is exempt: its batch-side type only
        // shapes directory names, and readers cast dir values to the
        // recorded type regardless. The lineage column is exempt too:
        // a rewrite-carry batch materializes it physically, but it is
        // ENGINE metadata, never part of the recorded table schema.
        val promoted = batch.fields
          .filterNot(f => f.name == pcol || f.name == RowIdCol)
          .flatMap { f =>
            oldByName.get(f.name).flatMap { ex =>
              val t = promotedType(ex.dataType, f.dataType).getOrElse(
                throw new IllegalArgumentException(
                  s"append schema conflict on '${f.name}': table has " +
                  s"${ex.dataType}, batch has ${f.dataType} — only " +
                  "ADD-column evolution and safe promotion (int→long, " +
                  "float→double) are supported"))
              if (t == ex.dataType) None else Some(f.name -> t)
            }
          }.toMap
        // NO pcol exclusion here: a post-evolvePartitionSpec append's NEW
        // spec column enters the recorded schema as an added column —
        // only the lineage column is engine metadata
        val added = batch.fields
          .filterNot(f => oldByName.contains(f.name) || f.name == RowIdCol)
          .map(_.copy(nullable = true))
        added.foreach(f => retired.get(f.name).foreach(cur =>
          throw new IllegalArgumentException(
            s"append adds column '${f.name}', a RETIRED name of column " +
            s"'$cur' — write the batch under the current name (re-adding " +
            "a retired name would make the rename fold ambiguous)")))
        if (added.isEmpty && promoted.isEmpty) Map.empty[String, String]
        else {
          // partition column stays LAST — the position the partitioned
          // read surfaces it in regardless of the user schema's order
          val (dataF, partF) = o.fields.partition(_.name != pcol)
          val widenedF = dataF.map(f =>
            promoted.get(f.name).fold(f)(t => f.copy(dataType = t)))
          Map("schema" ->
            org.apache.spark.sql.types.StructType(widenedF ++ added ++ partF).json)
        }
      case None if bootstrap =>
        // bootstrap append: this batch DEFINES the table schema (minus
        // the reserved lineage column, which is engine metadata)
        val (data, part) = batch.fields.filterNot(_.name == RowIdCol)
          .partition(_.name != pcol)
        Map("schema" ->
          org.apache.spark.sql.types.StructType(data ++ part).json)
      case None => Map.empty[String, String] // pre-evolution layout
    }

  /** Atomic OPTIMISTIC commit. The change is (base version, removed
    * files, added files), written ONCE as an immutable SEGMENT file
    * (`-path` removes, `+entry` adds); each attempt then publishes a
    * tiny MANIFEST LIST — latest's segment refs plus this segment — by
    * renaming a hidden temp file to the next version number: one atomic
    * filesystem op, so a reader can never observe a half-written
    * snapshot, and a k-file commit writes O(k + segments) bytes instead
    * of re-listing every live file (and re-listing it again per rebase
    * attempt). Past [[SegFoldThreshold]] segments the committing writer
    * folds the chain into one consolidated segment — the amortized
    * O(live files) write a table format pays in its manifest rewrite.
    *
    * If another writer took the version number first, REBASE and retry:
    * re-read the latest manifest list, re-validate, re-publish (the
    * segment is reused untouched). Rebase is sound exactly when every
    * file this commit removed is still live in the latest snapshot —
    * appends remove nothing, so they always commute (and skip the fold
    * read entirely: a pure append never reads a segment); concurrent
    * rewrites of DISJOINT files pass; two rewrites re-filing the SAME
    * file abort with [[SnapshotConflictException]], caller reruns.
    * `allowRebase=false` (bootstrap) refuses instead — two concurrent
    * inits would both list the same pre-manifest files and a rebase
    * would double-count them.
    *
    * `removed` holds data-file PATHS; `added` holds manifest entry
    * LINES (path + optional per-column stats — see [[statLines]]), so
    * stats attach in the same atomic commit as the files they describe.
    * `mustBeLive` names files this commit DEPENDS on without removing
    * them — a deletion vector's referenced data files: its row
    * positions are meaningless against a rewrite's new files.
    * `dvRefs` declares the files this commit's deletion vector marks;
    * it lands in the header as `dv_refs`, and a rebase aborts when a
    * CONCURRENT commit's `dv_refs` overlaps this commit's `dvRefs` or
    * `removed` (two vectors hiding rows of the same file
    * could double-apply an update or resurrect a delete; a rewrite
    * racing a fresh vector would orphan its positions).
    * `replacedParts` names partition dirs whose rows this commit
    * rewrote from its base; a rebase aborts if the latest snapshot
    * holds a data file in one of them that was not live at the base
    * and that this commit did not add — a concurrently-added file the
    * rewrite never read (the Iceberg validateAddedDataFiles check).
    * A whole-partition replace and a file-grain rewrite of some of a
    * partition's files get the same verdict.
    * `widenSchema = (batch schema, partition col)` requests the
    * recorded-schema merge, recomputed per attempt ([[widenRecordedSchema]]).
    * `evolve` requests a DECLARED schema change (rename / promotion),
    * validated and computed per attempt against the latest manifest
    * ([[evolveRecordedMeta]]) — a rebase re-validates, so racing two
    * renames of one column, or a rename against an append that re-used
    * the name, conflicts loudly instead of folding wrong. */
  private[graft] def commit(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, baseV: Option[Long],
      removed: Set[String], added: Seq[String],
      meta: Map[String, String], allowRebase: Boolean = true,
      mustBeLive: Set[String] = Set.empty,
      widenSchema: Option[(org.apache.spark.sql.types.StructType, String)] = None,
      replacedParts: Set[String] = Set.empty,
      dvRefs: Set[String] = Set.empty,
      evolve: Seq[SchemaChange] = Nil): Long = {
    meta.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") && !k.contains("\n") &&
        !v.contains("\n"), s"invalid manifest metadata pair: '$k'='$v'")
    }
    val dir = new org.apache.hadoop.fs.Path(root, ManifestDir)
    fs.mkdirs(dir)
    def writeSeg(lines: Seq[String]): String = {
      val name = s"seg-${Sink.procTag}-${java.util.UUID.randomUUID()}"
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), false)
      try out.write(lines.mkString("\n").getBytes(Charset))
      finally out.close()
      name
    }
    // this commit's change, written ONCE on a plain layout — every
    // rebase attempt re-publishes only the manifest list that
    // references it. An empty change (metadata-only commit, e.g. an
    // empty streaming batch advancing its marker) writes no segment at
    // all. EXCEPTION: on an eqdel layout every added entry must be
    // stamped with the version it lands at (`v:` — the equality-delete
    // sequence), which a rebase CHANGES, so there the segment is
    // (re)written inside the retry loop — one tiny rewrite per
    // contention attempt, the price of a correct stamp. Lines already
    // carrying `v:` keep it (restore re-commits old entries, whose
    // visibility epoch is their ORIGINAL commit, not the restore).
    val addsEq = added.exists(isEqDeleteEntry)
    def stampedAdds(stamping: Boolean, next: Long): Seq[String] =
      if (!stamping) added
      else added.map(l =>
        if (l.split("\t").exists(_.startsWith("v:"))) l
        else s"$l\tv:$next")
    var seg: Option[String] = None
    def segFor(adds: Seq[String], rewrite: Boolean): Option[String] = {
      if (removed.isEmpty && added.isEmpty) return None
      if (seg.isEmpty || rewrite) {
        // a stamped attempt's segment is version-specific: drop the
        // stale one before writing this attempt's
        seg.foreach(s =>
          fs.delete(new org.apache.hadoop.fs.Path(dir, s), false): Unit)
        seg = Some(writeSeg(
          removed.toSeq.sorted.map("-" + _) ++ adds.map("+" + _)))
      }
      seg
    }
    val addedPaths = added.map(pathOf).toSet
    // this commit's vector targets, declared in the header so LATER
    // concurrent committers can run the overlap rule against it from
    // one header read (the symmetric half of the dv_refs check below)
    val dvMeta =
      if (dvRefs.isEmpty) Map.empty[String, String]
      else Map("dv_refs" -> dvRefs.toSeq.sorted.mkString(","))
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val committed = committedVersions(fs, root)
      val latest = committed.lastOption
      // ONE read of the latest manifest list per attempt feeds the
      // segment refs, the inherited-metadata header, and the carried
      // schema — it is O(segments) small, never O(live files)
      val latestText = latest.map(v => manifestTextFs(fs, root, v))
      val latestMeta = latestText.map(parseMeta).getOrElse(Map.empty)
      val latestBody = latestText.map(parseLines).getOrElse(Seq.empty)
      if (latest != baseV) {
        if (!allowRebase)
          throw new SnapshotConflictException(
            s"snapshot under $root moved $baseV -> $latest during a " +
            "non-rebaseable commit")
        // header-only conflict rule first: concurrent deletion-vector
        // commits declare their marked files in `dv_refs` — overlap
        // with this commit's vector targets or removed files is a TRUE
        // conflict (double-hide / orphaned positions), caught from
        // O(versions-delta) header reads with no segment fold
        if ((dvRefs ++ removed).nonEmpty) {
          val gapMetas = committed
            .filter(v => v > baseV.getOrElse(0L))
            .map(v => parseMeta(manifestTextFs(fs, root, v)))
          val concDvRefs = gapMetas.flatMap(_.get("dv_refs"))
            .flatMap(_.split(",")).filter(_.nonEmpty).toSet
          val clash = concDvRefs & (dvRefs ++ removed)
          if (clash.nonEmpty)
            throw new SnapshotConflictException(
              s"concurrent deletion-vector commit marked ${clash.size} " +
              s"file(s) this commit also marks or re-files (base " +
              s"v=${baseV.getOrElse(0L)}, latest v=${latest.getOrElse(0L)}): " +
              clash.toSeq.sorted.take(3).mkString(", "))
          // EQUALITY-DELETE rule: a commit that re-files rows or writes
          // row positions derived from a base read must abort when a
          // concurrent equality delete landed in the gap — its re-filed
          // images would be stamped ABOVE the delete's version and the
          // delete's hidden rows would resurrect (and base-read
          // positions were computed blind to it). The reverse
          // interleaving is safe: files landed BEFORE the delete carry
          // smaller stamps and stay subject to it.
          if (gapMetas.exists(_.get("eqd").contains("1")))
            throw new SnapshotConflictException(
              s"concurrent equality-delete commit landed between base " +
              s"v=${baseV.getOrElse(0L)} and latest " +
              s"v=${latest.getOrElse(0L)} — this rewrite read its base " +
              "blind to that delete; re-run against the new head")
        }
        // file-liveness rules need the latest FOLD (pure appends never
        // reach this read)
        if ((removed ++ mustBeLive).nonEmpty || replacedParts.nonEmpty) {
          val latestResolved = resolveBodyFs(fs, root, latestBody)
          val livePaths = latestResolved.map(pathOf).toSet
          val gone = (removed ++ mustBeLive) -- livePaths
          if (gone.nonEmpty)
            throw new SnapshotConflictException(
              s"concurrent rewrite already re-filed ${gone.size} file(s) " +
              s"this commit replaced or depends on (base " +
              s"v=${baseV.getOrElse(0L)}, latest v=${latest.getOrElse(0L)}): " +
              gone.toSeq.sorted.take(3).mkString(", "))
          if (replacedParts.nonEmpty) {
            val baseLive = baseV.map(b =>
              resolveBodyFs(fs, root, parseLines(manifestTextFs(fs, root, b)))
                .map(pathOf).toSet).getOrElse(Set.empty[String])
            val intruders = latestResolved.map(pathOf).filter(p =>
              !p.startsWith(DeletesDir + "/") &&
                replacedParts(p.split("/")(0)) &&
                !baseLive(p) && !addedPaths(p))
            if (intruders.nonEmpty)
              throw new SnapshotConflictException(
                s"concurrent commit added ${intruders.size} file(s) into " +
                s"partition(s) this commit replaces wholesale — the " +
                s"replacement never read them (base v=${baseV.getOrElse(0L)}, " +
                s"latest v=${latest.getOrElse(0L)}): " +
                intruders.sorted.take(3).mkString(", "))
          }
        }
      }
      // transaction identity is table state: carry the inherited keys
      // forward from the latest manifest unless this commit sets them
      val carried = latestMeta.view.filterKeys(InheritedMeta).toMap
      // the stats declaration is FIXED at bootstrap — it
      // keys how every existing entry's positional bounds are read, so a
      // commit re-declaring a different list would silently re-interpret
      // them (wrong file skips → wrong results). Enforced HERE, at the
      // one seam every committer passes through, not just in the
      // streaming ingest's own pre-check.
      for (c <- carried.get("stats"); m <- meta.get("stats"))
        require(m == c,
          s"layout under $root already declares stats columns [$c]; this " +
          s"commit redeclares [$m] — a layout's stats declaration is " +
          "fixed at bootstrap (positional bounds would be re-keyed)")
      // eqdel is BIRTH-ONLY for the same class of reason: enabling it
      // mid-life would leave pre-enablement entries unstamped, and a
      // later restore would re-stamp them at the restore version —
      // exempting them from deletes they were visible to (resurrection)
      require(!(meta.get("eqdel").contains("on") && latest.nonEmpty &&
          !carried.get("eqdel").contains("on")),
        s"layout under $root predates its eqdel declaration — equality " +
        "deletes must be enabled at table birth (init or bootstrap)")
      // ... and the equality key list is fixed at first use: older
      // sidecars would become uninterpretable under a different list
      for (c <- carried.get("eqkeys"); m <- meta.get("eqkeys"))
        require(m == c,
          s"layout under $root keys equality deletes on [$c]; this " +
          s"commit redeclares [$m] — the key list is fixed at first use")
      val schemaMeta = widenSchema match {
        case None => Map.empty[String, String]
        case Some((batchSchema, pcol)) =>
          widenRecordedSchema(recordedSchema(latestMeta), batchSchema, pcol,
            bootstrap = latest.isEmpty, aliases = aliasesOf(latestMeta))
      }
      // declared evolution (rename / promotion / add), recomputed per
      // attempt so a rebase validates against the concurrent winner's
      // schema. A LIST folds sequentially into ONE commit — the whole
      // statement lands or none of it does, even under concurrent
      // committers (any change refused on any attempt aborts the
      // attempt, and the retry re-validates the full list).
      val evolveMeta = evolve.foldLeft(
        (latestMeta, Map.empty[String, String])) { case ((m, acc), ch) =>
          val d = evolveRecordedMeta(root, m, ch)
          (m ++ d, acc ++ d)
        }._2
      // commit timestamp, STRICTLY monotonic across versions even when
      // two commits land within one clock tick — the readAsOf(ts)
      // resolution and age-based retention both lean on it. A caller-
      // supplied `ts` (tests) wins via `meta`.
      val prevTs = latestMeta.get("ts")
        .flatMap(t => scala.util.Try(t.toLong).toOption).getOrElse(0L)
      val tsMeta =
        Map("ts" -> math.max(System.currentTimeMillis(), prevTs + 1).toString)
      // the eqdel declaration rides inherited meta (or this commit's own
      // meta when it bootstraps/enables the tier); every added entry on
      // such a layout is stamped with the version it lands at
      val stamping = (carried ++ meta).get("eqdel").contains("on")
      val next = latest.getOrElse(0L) + 1
      val adds = stampedAdds(stamping, next)
      val eqMeta =
        if (addsEq) Map("eqd" -> "1") else Map.empty[String, String]
      val full =
        carried ++ tsMeta ++ schemaMeta ++ evolveMeta ++ dvMeta ++ eqMeta ++ meta
      val latestRefs = latestText.map(parseRefs).getOrElse(Seq.empty)
      // a pre-segment manifest (verbatim entry body) folds like an
      // over-long chain: both consolidate into one fresh segment
      val legacyBody = latestBody.exists(l => !l.startsWith("@"))
      val chained = latestRefs ++ segFor(adds, rewrite = stamping).toSeq
      val refs =
        if (!legacyBody && chained.size <= SegFoldThreshold) chained
        else {
          // FOLD: consolidate chain + this change into one segment —
          // the amortized O(live files) write, paid every
          // SegFoldThreshold commits instead of on every commit
          val resolvedNow = resolveBodyFs(fs, root, latestBody)
          val fold = scala.collection.mutable.LinkedHashMap.empty[String, String]
          (resolvedNow.filterNot(l => removed(pathOf(l))) ++ adds)
            .foreach(l => fold.update(pathOf(l), l))
          val name = s"seg-fold-${Sink.procTag}-${java.util.UUID.randomUUID()}"
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), false)
          try out.write(fold.values.toSeq.sorted.map("+" + _)
            .mkString("\n").getBytes(Charset))
          finally out.close()
          Seq(name)
        }
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
      val header = full.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
      val out = fs.create(tmp, false)
      try out.write((header ++ refs.map("@" + _)).mkString("\n").getBytes(Charset))
      finally out.close()
      val target = manifestPath(root, next)
      val won = publishIfAbsent(fs, tmp, target)
      // either way the tmp NAME is done: the winner's manifest lives
      // under the version name (hard link / rename), the loser's bytes
      // are garbage — unlink it so no debris outlives the commit
      fs.delete(tmp, false): Unit
      if (won) return next
      // lost the race for this version number — rebase and go again,
      // backing off exponentially so sustained multi-writer contention
      // cannot exhaust the attempt budget (flat jitter has a failure
      // cliff at ~6 steady writers; growing sleeps de-synchronize them)
      Thread.sleep((5L << math.min(attempt, 6)) +
        scala.util.Random.nextInt(25).toLong)
    }
    throw new IllegalStateException(
      s"snapshot commit on $root still contended after $MaxCommitAttempts attempts")
  }

  /** Bootstrap a manifest over an existing Hive layout: ONE recursive
    * listing of the `partitionCol=` dirs becomes snapshot 1. Idempotent
    * — an already-initialized layout returns its current version.
    * `meta` rides the init commit's header (a bootstrapping maintenance
    * step can land its ledger entry atomically with the bootstrap).
    *
    * `statsCols` declares the file-statistics columns for the LAYOUT:
    * every manifest entry, here and in every later commit, carries each
    * column's per-file min/max so readers plan a file subset from the
    * manifest alone (see [[filesInRange]] / [[filesInRanges]]). Lead
    * with the column the files are clustered on (the write's sort key);
    * later columns prune when their values correlate with file
    * boundaries (time-ordered ids, sessionized users) — stats on a
    * fully-unclustered column are valid but prune nothing, since every
    * file spans the whole value range. The bootstrap reads the existing
    * files' footers to backfill their bounds ([[statLines]]; a file
    * whose footer cannot say costs one aggregate job for all such
    * files); each later commit stats only its new files the same way. */
  def init(spark: SparkSession, path: String, partitionCol: String,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      rowIds: Boolean = false,
      nullCounts: Boolean = false,
      eqDeletes: Boolean = false,
      sortOrderCols: Seq[String] = Nil,
      zOrderSortCols: Seq[String] = Nil): Long = {
    require(sortOrderCols.isEmpty || zOrderSortCols.isEmpty,
      "declare sortOrderCols (linear) OR zOrderSortCols (Morton), not both")
    require(!statsCols.contains(partitionCol),
      s"statsCols contains '$partitionCol', the partition column — " +
      "partition values prune at the directory level already; stats " +
      "bound DATA columns")
    require(!nullCounts || statsCols.nonEmpty,
      "nullCounts records per-file null counts FOR the declared stats " +
      "columns — declare statsCols too")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    committedVersions(fs, root).lastOption.getOrElse {
      val qualified = fs.makeQualified(root).toString
      val rel = listDataFiles(fs, root, partitionCol)
        .map(_.getPath.toString.stripPrefix(qualified).stripPrefix("/"))
      require(rel.nonEmpty, s"no data files under $path to snapshot")
      val statsMeta =
        (if (statsCols.isEmpty) Map.empty[String, String]
         else Map("stats" -> statsCols.mkString(","))) ++
        (if (rowIds) Map("rowids" -> "on") else Map.empty) ++
        (if (nullCounts) Map("nullstats" -> "on") else Map.empty) ++
        (if (eqDeletes) Map("eqdel" -> "on") else Map.empty) ++
        (if (sortOrderCols.nonEmpty)
          Map("sort" -> ("l:" + sortOrderCols.mkString(",")))
         else if (zOrderSortCols.nonEmpty)
          Map("sort" -> ("z:" + zOrderSortCols.mkString(",")))
         else Map.empty)
      // record the table schema (partition column included, as the
      // basePath read infers it) — the anchor later appends widen
      val schema = spark.read.option("basePath", qualified)
        .parquet(rel.map(f => s"$qualified/$f"): _*).schema
      val lines = statLines(spark, fs, root, rel, statsMeta, schema)
      require(!rowIds || !schema.fieldNames.contains(RowIdCol),
        s"'$RowIdCol' is the reserved lineage column — the bootstrap " +
        "files must not already carry it")
      try commit(fs, root, None, Set.empty, lines,
        Map("op" -> "init", "schema" -> schema.json,
          "pcol" -> partitionCol) ++ statsMeta ++ meta,
        allowRebase = false)
      catch {
        // two inits racing list the SAME pre-manifest files — the loser
        // adopts the winner's bootstrap instead of double-counting
        // (idempotent init, same answer as the sequential second call)
        case _: SnapshotConflictException =>
          committedVersions(fs, root).lastOption.getOrElse(
            throw new IllegalStateException(
              s"init conflict under $root but no committed version found"))
      }
    }
  }

  /** CREATE an EMPTY table: v1 commits the declared recorded schema and
    * partition column with ZERO file entries — the `CREATE TABLE` half
    * [[init]] (which bootstraps over EXISTING files) cannot express,
    * and the way every warehouse table actually starts (the reference
    * ships exactly this DDL: `ddl_snowflake_schema.sql`). The first
    * data arrives through the normal [[append]] (or SQL INSERT), which
    * rebase-commits on the create exactly as on any other version;
    * every reader serves the declared schema with zero rows until
    * then. Refuses an already-committed layout (CREATE is not
    * idempotent — a second CREATE of a live table is a bug, not a
    * bootstrap) and a partition column missing from the schema. */
  def create(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, partitionCol: String,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Long = {
    require(schema.fieldNames.contains(partitionCol),
      s"create: partition column '$partitionCol' is not in the declared " +
      s"schema (${schema.fieldNames.mkString(", ")})")
    require(!statsCols.contains(partitionCol),
      s"statsCols contains '$partitionCol', the partition column — " +
      "stats bound DATA columns")
    statsCols.foreach(c => require(schema.fieldNames.contains(c),
      s"create: stats column '$c' is not in the declared schema"))
    require(!schema.fieldNames.contains(RowIdCol),
      s"'$RowIdCol' is the reserved lineage column")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    require(committedVersions(fs, root).isEmpty,
      s"create: $path already holds a committed snapshot — append to " +
      "it, or expire/remove the layout first")
    val statsMeta =
      if (statsCols.isEmpty) Map.empty[String, String]
      else Map("stats" -> statsCols.mkString(","))
    commit(fs, root, None, Set.empty, Seq.empty,
      Map("op" -> "create", "schema" -> schema.json,
        "pcol" -> partitionCol) ++ statsMeta ++ meta,
      allowRebase = false)
  }

  /** The declared-schema EMPTY frame an empty table serves — zero rows,
    * every reader path's answer when a created table has no data yet
    * (or a pruned plan kept no files). Needs the recorded schema: a
    * LEGACY empty state (no schema anchor) stays a loud refusal, since
    * inferring columns from zero files is impossible. */
  private def emptyTyped(spark: SparkSession, where: String,
      meta: Map[String, String]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      recordedSchema(meta).getOrElse(throw new IllegalStateException(
        s"$where is empty and records no schema — nothing to serve")))

  /** All data files under the layout's partition dirs — the bootstrap /
    * expiry listing (manifest readers never call this). */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, partitionCol: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val qualified = fs.makeQualified(root)
    // Sink.walkFiles, not fs.listFiles: the recursive lister's
    // LocatedFileStatus resolves permissions EAGERLY, which without the
    // native Hadoop library forks `ls -ld` once per file
    Sink.walkFiles(fs, qualified).filter { f =>
      val name = f.getPath.getName
      val parent = f.getPath.getParent
      // ANY `key=` dir, not just the active spec's: a mid-evolution
      // layout (evolvePartitionSpec) holds both generations, and the
      // expiry sweep must see every generation's files
      f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
        parent != null && parent.getParent == qualified &&
        parent.getName.contains("=")
    }
  }

  /** The current snapshot as a DataFrame: the manifest's files read with
    * the layout root as basePath, so the partition column is inferred
    * exactly as a directory read would — but from a CONSISTENT file
    * list. Safe to call at any instant during maintenance. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, currentFiles(spark, path)._1)

  /** The partition-spec key of a root-relative entry path — the dir
    * name's `col=` prefix. A layout mid partition-spec evolution
    * ([[evolvePartitionSpec]]) holds files under MORE than one key. */
  private def specKeyOf(f: String): String = f.split("/")(0).split("=")(0)

  /** Read a consistent file set under `meta`'s recorded schema with the
    * version's deletes subtracted. A single-spec file set with no
    * deletes takes the untouched one-scan plan; anything else reads
    * through [[keyedScan]] (per-generation scans, (file, pos) keys) and
    * subtracts position vectors and equality deletes on those keys. */
  private def readDataAt(spark: SparkSession, qualified: String,
      meta: Map[String, String], fileLines: Seq[String],
      deleteLines: Seq[String]): DataFrame = {
    val files = fileLines.map(pathOf)
    // zero files — a created-but-empty table, or a plan that pruned
    // everything (a contradictory predicate): the declared schema with
    // zero rows, never a zero-path parquet read
    if (files.isEmpty) return emptyTyped(spark, qualified, meta)
    if (deleteLines.isEmpty && files.map(specKeyOf).distinct.size == 1)
      resolveRenames(scanFiles(spark, qualified, physReadSchema(meta), files),
        meta)
    else
      applyEqKeyed(spark, qualified,
          applyDeletesKeyed(spark, qualified,
            keyedScan(spark, qualified, meta, files, None),
            deleteLines.map(pathOf)),
          fileLines, eqDeletesOf(deleteLines))
        .drop("__dv_file", "__dv_pos")
  }

  /** A PINNED snapshot version — the time-travel read; valid until
    * [[expire]] retires the version. Serves mid-evolution layouts
    * (old-spec and new-spec files side by side) transparently. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val (meta, lines) = stateOf(spark, path, v)
    val fileLines = lines.filterNot(isDeleteEntry)
    // the RECORDED schema, not footer inference: after evolution, which
    // columns exist must not depend on which file Spark sampled — old
    // files read NULL in columns added after they were written. An
    // EMPTY version (a created table before its first append) serves
    // the declared schema with zero rows via readDataAt's guard.
    readDataAt(spark, qualified, meta, fileLines,
      lines.filter(isDeleteEntry))
  }

  /** TIME TRAVEL BY TIMESTAMP: the newest committed version whose
    * commit timestamp (`ts` header millis, STRICTLY monotonic across
    * versions — [[commit]] enforces it even under same-millisecond
    * commits) is <= `tsMillis`. The SQL `TIMESTAMP AS OF` resolution:
    * monotonicity makes the answer unique and stable — later commits
    * can only append later timestamps, never re-order the past.
    * O(versions) header reads (manifest lists are tiny); a version
    * predating the `ts` header counts as timestamp 0 (always eligible).
    * Throws if every version is newer than `tsMillis`. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val vs = committedVersions(fs, root)
    require(vs.nonEmpty, s"no committed snapshot under $path")
    val eligible = vs.filter { v =>
      parseMeta(manifestTextFs(fs, root, v)).get("ts")
        .flatMap(t => scala.util.Try(t.toLong).toOption)
        .getOrElse(0L) <= tsMillis
    }
    require(eligible.nonEmpty,
      s"no snapshot of $path committed at or before ts=$tsMillis " +
      s"(earliest retained version is newer — expired, or the table " +
      "did not exist yet)")
    eligible.last
  }

  /** The table AS OF a wall-clock instant — [[versionAsOf]] resolved,
    * then the pinned [[readVersion]] read (recorded schema, deletion
    * vectors, and file list all of THAT version). Valid until [[expire]]
    * retires the resolved version. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readVersion(spark, path, versionAsOf(spark, path, tsMillis))

  /** Commit wall-clock of version `v` (millis; 0 for versions predating
    * the `ts` header). */
  def commitTs(spark: SparkSession, path: String, v: Long): Long =
    metaOf(spark, path, v).get("ts")
      .flatMap(t => scala.util.Try(t.toLong).toOption).getOrElse(0L)

  /** The row identity a deletion vector records: (root-relative data
    * file, position within it) — `_metadata` is the file source's hidden
    * column, so the identity costs no stored bytes and survives nothing
    * short of rewriting the file (exactly when [[materializeDeletes]]
    * retires the vector). Both the DV writer and every DV-applying
    * reader derive the relative path through [[relFileOf]], so it is
    * always the file's manifest path. */
  private def dvKeyCols(qualified: String): Seq[Column] = Seq(
    relFileOf(qualified, col("_metadata.file_path")).as("dv_file"),
    col("_metadata.row_index").as("dv_pos"))

  /** A data file's root-relative manifest path from `uri`, a file scan's
    * `_metadata.file_path` under the layout at `qualified`. The scan
    * names files by URI, so a dir named `event_date=a%62` reads as
    * `a%2562`: the path is URI-decoded first (`+` is literal in a URI
    * path, so it is escaped before `url_decode`, which form-decodes it
    * to a space), then the root prefix is stripped. Builtins only. */
  private[sources] def relFileOf(qualified: String, uri: Column): Column =
    replace(url_decode(replace(uri, lit("+"), lit("%2B"))), lit(s"$qualified/"), lit(""))

  /** The declared schema of every (data-file, row-position) pair file:
    * deletion vectors and the match sets writers stage before packing
    * them. Reads name it, because footer inference costs one Spark job
    * per read for a schema that never varies. */
  private val PairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dv_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dv_pos", LongType)))

  private def readPairFiles(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(PairSchema).parquet(paths: _*)

  /** The one vector reader: the POSITION vectors among `deletes` (root-
    * relative delete entries; `eq-` sidecars carry key columns and are
    * skipped) as one (dv_file, dv_pos) frame, or None when there are
    * none. */
  private def vectorsOf(spark: SparkSession, qualified: String,
      deletes: Seq[String]): Option[DataFrame] = {
    val dvs = deletes.filterNot(isEqFile)
    if (dvs.isEmpty) None
    else Some(readPairFiles(spark, dvs.map(f => s"$qualified/$f")))
  }

  // ----- ROW LINEAGE ---------------------------------------------------
  // Stable per-row identity (the Iceberg-v3 / Delta-row-tracking
  // primitive): a lineage-enabled layout assigns every row a durable
  // LONG `_row_id` at its first commit and carries it through every
  // rewrite. Appended files store NOTHING — their entry records an
  // allocated base (`r:<base>`) and a row's id is base + its position in
  // the file; rewrite paths (compact / CoW delete / materialize /
  // update / merge survivors) read ids and MATERIALIZE the column
  // physically into the files they write (`r:p`), so re-filed rows keep
  // the ids they were born with. Readers compute
  // `coalesce(physical, base + _metadata.row_index)` — one broadcast
  // hash join against an O(files) base map, no data-sized state.

  private def rowIdsOn(meta: Map[String, String]): Boolean =
    meta.get("rowids").contains("on")

  private def lineageReadSchema(recorded: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    require(!recorded.fieldNames.contains(RowIdCol),
      s"recorded schema already contains reserved column '$RowIdCol'")
    recorded.add(RowIdCol, LongType, nullable = true)
  }

  /** file → allocated id base, from the entries whose ids are virtual
    * (`r:<base>`); physically-materialized files (`r:p`) are absent. */
  private def basesOf(lines: Seq[String]): Map[String, Long] =
    lines.filterNot(isDeleteEntry).flatMap { l =>
      rowIdTagOf(l).filter(_ != "p").map(b => pathOf(l) -> b.toLong)
    }.toMap

  private def requireLineageEntries(lines: Seq[String], path: String): Unit = {
    val untagged = lines.filterNot(isDeleteEntry)
      .filter(l => rowIdTagOf(l).isEmpty).map(pathOf)
    require(untagged.isEmpty,
      s"lineage read on $path: ${untagged.size} file(s) predate the " +
      s"rowids declaration (${untagged.sorted.take(3).mkString(", ")}) — " +
      "row lineage must be enabled at table birth (init(rowIds = true) " +
      "or a bootstrap append with meta rowids=on)")
  }

  /** Materialize (file, position) key columns ONCE, directly on a file
    * scan — `_metadata` resolves only there, so every downstream join
    * (id attach, DV subtract) must share these columns instead of
    * re-deriving them after a join has hidden the scan. */
  private def withFilePos(df: DataFrame, qualified: String): DataFrame = {
    val k = dvKeyCols(qualified)
    df.withColumn("__dv_file", k(0)).withColumn("__dv_pos", k(1))
  }

  /** `files` read with the layout root as basePath, under `schema` when
    * the layout records one. */
  private def scanFiles(spark: SparkSession, qualified: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", qualified)
    schema.fold(reader)(reader.schema)
      .parquet(files.map(f => s"$qualified/$f"): _*)
  }

  /** Fill `_row_id` on a keyed scan: physical ids win; a NULL physical
    * id takes the file's allocated base + row position (unique because
    * the base range covers the file's full row count). */
  private def attachRowIdsKeyed(spark: SparkSession, keyed: DataFrame,
      bases: Map[String, Long]): DataFrame =
    if (bases.isEmpty) keyed
    else {
      import spark.implicits._
      val baseDf = org.apache.spark.sql.functions.broadcast(
        bases.toSeq.toDF("__lin_bfile", "__lin_base"))
      keyed.join(baseDf, col("__dv_file") === col("__lin_bfile"), "left")
        .withColumn(RowIdCol,
          coalesce(col(RowIdCol), col("__lin_base") + col("__dv_pos")))
        .drop("__lin_bfile", "__lin_base")
    }

  /** The one KEYED scan of `files` at `meta`. Files group BY PARTITION
    * SPEC: a mid-evolution layout scans each generation separately
    * (Spark refuses mixed partition keys in one scan, and per-generation
    * scans keep each one's directory pruning), every generation under
    * the same PHYSICAL schema — recorded plus retired names, plus
    * [[RowIdCol]] when `bases` asks for lineage — so the other
    * generation's partition column reads NULL like any evolved-in
    * column. The (file, pos) keys materialize on each scan BEFORE the
    * union (no join can derive `_metadata` through it), the generations
    * union, retired names fold ([[resolveRenames]]), and on lineage each
    * row's id fills from the caller's `bases`. No files: the recorded
    * schema with the same key (and id) columns and zero rows. */
  private def keyedScan(spark: SparkSession, qualified: String,
      meta: Map[String, String], files: Seq[String],
      bases: Option[Map[String, Long]]): DataFrame = {
    if (files.isEmpty) {
      val empty = emptyTyped(spark, qualified, meta)
        .withColumn("__dv_file", lit(null).cast("string"))
        .withColumn("__dv_pos", lit(null).cast(LongType))
      return bases.fold(empty)(_ =>
        empty.withColumn(RowIdCol, lit(null).cast(LongType)))
    }
    val bySpec = files.groupBy(specKeyOf).toSeq.sortBy(_._1)
    val schema = bases match {
      case Some(_) => Some(lineageReadSchema(physReadSchema(meta).getOrElse(
        throw new IllegalStateException(
          s"lineage scan under $qualified needs a recorded schema"))))
      case None =>
        require(bySpec.size <= 1 || recordedSchema(meta).nonEmpty,
          "a read across a partition-spec evolution needs a recorded " +
          "schema — the partition columns of BOTH generations must be " +
          "declared, not inferred")
        physReadSchema(meta)
    }
    val keyed = resolveRenames(bySpec.map { case (_, fs) =>
      withFilePos(scanFiles(spark, qualified, schema, fs), qualified)
    }.reduce(_.unionByName(_)), meta)
    bases.fold(keyed)(attachRowIdsKeyed(spark, keyed, _))
  }

  /** Subtract the position vectors among `deletes` from a keyed scan —
    * the merge-on-read half of [[deleteWhereMoR]]'s contract: one
    * anti-join on (file, position). The vector side is O(deleted rows)
    * and carries no join hint, so AQE broadcasts it while it fits and
    * degrades to shuffle instead of OOMing when someone deletes half the
    * corpus. No vectors → the scan unchanged. */
  private def applyDeletesKeyed(spark: SparkSession, qualified: String,
      keyed: DataFrame, deletes: Seq[String]): DataFrame =
    vectorsOf(spark, qualified, deletes).fold(keyed)(dv =>
      keyed.join(dv,
        keyed("__dv_file") === dv("dv_file") &&
          keyed("__dv_pos") === dv("dv_pos"),
        "left_anti"))

  // ----- EQUALITY DELETES ----------------------------------------------
  // The O(keys) delete tier (Iceberg v2 equality deletes): where a
  // position vector costs a table SCAN to find its (file, pos) pairs,
  // an equality delete writes ONLY the key set — "delete every row
  // whose key is in this sidecar" — and readers apply it as an
  // anti-join. Sequencing makes it sound under appends: every entry on
  // an eqdel layout is stamped with the commit version that added it
  // (`v:` — [[commit]] stamps inside its retry loop, so a rebase
  // re-stamps), and a delete landed at version d applies ONLY to data
  // files with add-version STRICTLY below d. A batch upserted in the
  // same commit as its own delete ([[upsertByKeys]]) therefore
  // survives it, and a concurrent append rebased above the delete is
  // exempt — the rows it lands were never visible to the deleter.
  // This is what makes O(batch) STREAMING UPSERTS possible: append new
  // images + equality-delete their keys, one commit, zero table reads.
  // The tier is transient by design: [[convertEqDeletes]] folds
  // outstanding equality deletes into position vectors (one key-scan),
  // after which the DV maintenance ladder (materialize → compact)
  // applies unchanged. Partition-rewrite maintenance refuses while any
  // equality delete is outstanding ([[requireNoDeletes]] checks this
  // tier first and names convertEqDeletes as the step to run).

  /** The EQ-DELTA branch both diff tiers share: when the equality-
    * delete set CHANGED between two snapshots, retained files'
    * visibility changes by KEY (no pair set names it), so recompute it
    * exactly as visible@from vs visible@to over only the files a
    * CHANGED hider can reach — those referenced by a DV delta plus
    * those below the newest delta'd eq version (an entry present at
    * both endpoints hits identically; its rows cancel unread). Returns
    * (un-hidden candidates, newly-hidden candidates) in the caller's
    * finished shape ([[diffSides]]' `readKeyed`/`finish`/`empty`). */
  private def eqDeltaRetained(spark: SparkSession, qualified: String,
      readKeyed: Seq[String] => DataFrame,
      finish: DataFrame => DataFrame,
      empty: => DataFrame,
      retained: Set[String], allLines: Seq[String],
      delFrom: Set[String], delTo: Set[String],
      eqFrom: Seq[EqDelete], eqTo: Seq[EqDelete])
      : (DataFrame, DataFrame) = {
    val eqToFiles = eqTo.map(_.file).toSet
    val eqFromFiles = eqFrom.map(_.file).toSet
    val maxDeltaD = (eqTo.filterNot(e => eqFromFiles(e.file)) ++
      eqFrom.filterNot(e => eqToFiles(e.file))).map(_.d).max
    val dvRefFiles = vectorsOf(spark, qualified,
        ((delTo -- delFrom) ++ (delFrom -- delTo)).toSeq.sorted)
      .fold(Set.empty[String])(_.select(col("dv_file")).distinct()
        .collect().map(_.getString(0)).toSet)
    val addVOf = allLines.filterNot(isDeleteEntry)
      .map(l => pathOf(l) -> addVersionOf(l)).toMap
    val cand = retained.filter(f =>
      dvRefFiles(f) || addVOf.getOrElse(f, 0L) < maxDeltaD)
      .toSeq.sorted
    if (cand.isEmpty) (empty, empty)
    else {
      val scan = readKeyed(cand)
      def visible(dels: Set[String], eqs: Seq[EqDelete]): DataFrame =
        applyEqKeyed(spark, qualified,
          applyDeletesKeyed(spark, qualified, scan, dels.toSeq.sorted),
          allLines, eqs)
      val visF = visible(delFrom, eqFrom)
      val visT = visible(delTo, eqTo)
      def keysOf(df: DataFrame): DataFrame =
        df.select(col("__dv_file").as("dv_file"),
          col("__dv_pos").as("dv_pos"))
      val un = finish(visT.join(keysOf(visF),
        visT("__dv_file") === col("dv_file") &&
          visT("__dv_pos") === col("dv_pos"), "left_anti"))
      val newly = finish(visF.join(keysOf(visT),
        visF("__dv_file") === col("dv_file") &&
          visF("__dv_pos") === col("dv_pos"), "left_anti"))
      (un, newly)
    }
  }

  /** Stage `keys` (pre-projected to the key columns) and move the
    * non-empty part files into `_deletes/` under `eq-` names. The
    * staged write keeps the key frame's own parallelism — a massive
    * forget-key list never funnels through one task; a micro-batch's
    * handful of keys lands as however many non-empty parts its shuffle
    * produced (AQE coalesces small ones). Returns the moved sidecars'
    * root-relative paths — empty when the key set was empty. */
  private def stageEqSidecars(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      keys: DataFrame): Seq[String] = {
    val stg = stagingDir(root, "eqdel")
    val distinctKeys = keys.distinct()
    distinctKeys.write.parquet(stg.toString)
    val staged = spark.read.schema(distinctKeys.schema).parquet(stg.toString)
    // ONE pass over the staged keys answers both boundary questions —
    // which parts hold rows, and whether any key is NULL (a separate
    // NULL-check job would tax every upsert micro-batch a full job)
    val anyNull =
      if (staged.columns.isEmpty) lit(false)
      else staged.columns.map(c => col(c).isNull).reduce(_ || _)
    val perFile = staged
      .groupBy(input_file_name().as("__f"))
      .agg(org.apache.spark.sql.functions.max(anyNull).as("__has_null"))
      .collect()
    // NULL keys refused LOUDLY at the write boundary: readers apply
    // the tier with SQL equality, so a NULL key would match nothing —
    // an upsert stream carrying one would silently accumulate every
    // prior NULL-keyed image instead of hiding it (Iceberg v2 treats
    // null-equal; we keep SQL semantics on the read and make the
    // divergence unreachable here instead)
    require(!perFile.exists(_.getBoolean(1)),
      "equality-delete keys contain NULL values — a NULL key matches " +
      "nothing under the reader's SQL-equality anti-join, so the " +
      "delete/upsert would silently leave prior images live; filter " +
      "or backfill the keys first")
    // only parts that actually hold rows become sidecars (zero-row
    // parts vanish from a row-grouped read — exactly the filter)
    val nonEmpty = perFile
      .map(_.getString(0).split("/").last).toSet
    val delDir = new org.apache.hadoop.fs.Path(root, DeletesDir)
    fs.mkdirs(delDir)
    val moved = fs.listStatus(stg).toSeq
      .filter(f => f.isFile && nonEmpty(f.getPath.getName))
      .map { f =>
        val dst = new org.apache.hadoop.fs.Path(delDir,
          s"eq-${Sink.procTag}-${java.util.UUID.randomUUID()}.parquet")
        if (!fs.rename(f.getPath, dst))
          throw new IllegalStateException(s"equality-delete move failed: $dst")
        s"$DeletesDir/${dst.getName}"
      }
    fs.delete(stg, true): Unit
    moved
  }

  /** All of a layout's equality deletes share ONE key-column list —
    * re-keying mid-stream would make older sidecars uninterpretable. */
  private def eqKeyColsOf(eqs: Seq[EqDelete]): Seq[String] = {
    val sets = eqs.map(_.keyCols).distinct
    require(sets.size == 1,
      s"equality deletes disagree on key columns: ${sets.mkString(" vs ")}")
    sets.head
  }

  /** The union key set of `eqs` as one frame: the key columns plus
    * `__eq_d` — the NEWEST delete version naming each key. One scan of
    * all sidecars (`max d > addV ⟺ ∃ d > addV`, addV fixed per file,
    * so keeping only the max loses nothing), read under the key
    * columns' types in `table` (the data frame the keys apply to):
    * footer inference would cost one Spark job per read. */
  private def eqKeyFrame(spark: SparkSession, qualified: String,
      eqs: Seq[EqDelete],
      table: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    val keyCols = eqKeyColsOf(eqs)
    def relKey(p: String): String = p.split("/").takeRight(2).mkString("/")
    val dMap = org.apache.spark.sql.functions.broadcast(
      eqs.map(e => relKey(e.file) -> e.d).toDF("__eq_sfile", "__eq_sd"))
    spark.read.schema(org.apache.spark.sql.types.StructType(keyCols.map(table(_))))
      .parquet(eqs.map(e => s"$qualified/${e.file}"): _*)
      .withColumn("__eq_sfile",
        concat_ws("/", slice(split(input_file_name(), "/"), -2, 2)))
      .join(dMap, "__eq_sfile")
      .groupBy(keyCols.map(col): _*)
      .agg(fmax(col("__eq_sd")).as("__eq_d"))
  }

  /** Subtract equality deletes from a keyed scan ([[keyedScan]]): a
    * row drops iff a delete with version STRICTLY above its file's
    * add-version names its key. NULL key
    * values never match (SQL equality — a NULL-keyed row is
    * undeletable by key, exactly like `DELETE WHERE k = …`). The
    * delete side is O(keys) and unhinted — AQE broadcasts while it
    * fits and degrades to shuffle instead of OOMing. */
  private def applyEqKeyed(spark: SparkSession, qualified: String,
      data: DataFrame, dataLines: Seq[String],
      eqs: Seq[EqDelete]): DataFrame =
    if (eqs.isEmpty) data
    else {
      import spark.implicits._
      val keyCols = eqKeyColsOf(eqs)
      keyCols.foreach(c => require(data.columns.contains(c),
        s"equality-delete key column '$c' missing from the read schema"))
      val addv = org.apache.spark.sql.functions.broadcast(
        dataLines.filterNot(isDeleteEntry)
          .map(l => (pathOf(l), addVersionOf(l)))
          .toDF("__eq_file", "__eq_addv"))
      val withV = data
        .join(addv, data("__dv_file") === addv("__eq_file"), "left")
        .withColumn("__eq_v", coalesce(col("__eq_addv"), lit(0L)))
        .drop("__eq_file", "__eq_addv")
      val eqk = eqKeyFrame(spark, qualified, eqs, data.schema)
      withV.join(eqk,
          keyCols.map(c => withV(c) === eqk(c)).reduce(_ && _) &&
            eqk("__eq_d") > withV("__eq_v"),
          "left_anti")
        .drop("__eq_v")
    }

  /** A pinned snapshot read WITH row lineage: the table's data columns
    * plus [[RowIdCol]] — each row's durable identity, stable across
    * compaction, DV materialization, updates (an updated row keeps its
    * id), and restore. The id is Iceberg-v3-virtual on appended files
    * (entry base + row position, zero stored bytes) and physical on
    * rewritten ones; this read coalesces the two transparently. */
  def readVersionLineage(spark: SparkSession, path: String,
      v: Long, onlyFiles: Option[Seq[String]] = None): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val qualified = fsOf(spark, root).makeQualified(root).toString
    val (meta, lines) = stateOf(spark, path, v)
    require(rowIdsOn(meta),
      s"$path is not lineage-enabled (no rowids=on in its manifest) — " +
      "declare rowIds at init or bootstrap")
    val recorded = recordedSchema(meta).getOrElse(throw new IllegalStateException(
      s"lineage-enabled $path lacks a recorded schema — corrupted manifest?"))
    requireLineageEntries(lines, path)
    // optional file-subset restriction (the split-bootstrap seam): ids
    // are per-file (entry base + position), so a subset read assigns
    // every served row the SAME id a full read would
    val wanted = onlyFiles.map(_.toSet)
    val allFileLines = lines.filterNot(isDeleteEntry)
    val fileLines = wanted match {
      case None => allFileLines
      case Some(w) => allFileLines.filter(l => w(pathOf(l)))
    }
    wanted.foreach { w =>
      val unknown = w -- allFileLines.map(pathOf).toSet
      require(unknown.isEmpty,
        s"readVersionLineage: ${unknown.take(3).mkString(", ")} not in " +
        s"version $v of $path")
    }
    // a created-but-empty lineage table serves the declared schema +
    // the id column with zero rows (readDataAt's empty rule, lineage-
    // shaped)
    if (fileLines.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        lineageReadSchema(recorded))
    val deleteLines = lines.filter(isDeleteEntry)
    applyEqKeyed(spark, qualified,
        applyDeletesKeyed(spark, qualified,
          keyedScan(spark, qualified, meta, fileLines.map(pathOf),
            Some(basesOf(lines))),
          deleteLines.map(pathOf)),
        fileLines, eqDeletesOf(deleteLines))
      .drop("__dv_file", "__dv_pos")
  }

  /** The layout's declared stats columns in declaration order — the
    * `stats` inherited-meta key holds a comma-separated LIST
    * (multi-column manifest statistics): every manifest entry carries
    * per-file min/max for EACH declared column, so predicates on any of
    * them — or a conjunction across several — plan their file subset
    * from the manifest alone ([[filesInRanges]]). */
  def statsColumns(spark: SparkSession, path: String): Seq[String] =
    statsColsOf(currentMeta(spark, path).getOrElse(Map.empty))

  private def statsColsOf(meta: Map[String, String]): Seq[String] =
    meta.get("stats").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Manifest entries of snapshot `v`: (path, optional (min, max) bounds
    * of the FIRST declared stats column). Bounds are the column cast to
    * LONG at file-write time. Multi-column planning:
    * [[filesInRanges]]. */
  def entriesOf(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[(Long, Long)])] =
    resolvedLines(spark, path, v).filterNot(isDeleteEntry)
      .map(l => (pathOf(l), statsListOf(l).headOption.flatten))

  /** The file subset whose per-column bounds overlap EVERY queried
    * range — the conjunction planner over one (meta, resolved lines)
    * state, shared by all range entry points so file list, bounds, and
    * schema always come from the same manifest read. Conservative:
    * a file missing bounds for a queried column is always kept. */
  private def filesInRangesAt(meta: Map[String, String], lines: Seq[String],
      ranges: Seq[(String, Long, Long)],
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil): Seq[String] = {
    require(ranges.nonEmpty || isNull.nonEmpty || isNotNull.nonEmpty,
      "filesInRanges needs at least one range or nullability predicate")
    ranges.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"range on '$c' needs lo <= hi, got [$lo, $hi]") }
    val cols = statsColsOf(meta)
    def idxOf(c: String): Int = {
      val i = cols.indexOf(c)
      require(i >= 0, s"no manifest statistics declared for column '$c' " +
        s"(declared: ${if (cols.isEmpty) "none" else cols.mkString(",")})")
      i
    }
    val colIdx =
      (ranges.map(_._1) ++ isNull ++ isNotNull).distinct.map(c => c -> idxOf(c)).toMap
    lines.filterNot(isDeleteEntry).filter { l =>
      val bounds = statsListOf(l)
      lazy val nulls = nullCountsOf(l)
      ranges.forall { case (c, lo, hi) =>
        bounds.lift(colIdx(c)).flatten match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true // no bounds for this column — never skip
        }
      } &&
      // NULL-COUNT pruning (conservative exactly like bounds): a file
      // recording ZERO nulls in the column provably has no IS NULL
      // match; a file whose null count equals its row count provably
      // has no IS NOT NULL match. Entries predating the nullstats
      // declaration (no z:/n: fields) always keep.
      isNull.forall { c =>
        nulls.lift(colIdx(c)).flatten match {
          case Some(0L) => false
          case _ => true
        }
      } &&
      isNotNull.forall { c =>
        (nulls.lift(colIdx(c)).flatten, rowCountOf(l)) match {
          case (Some(nc), Some(n)) => nc < n
          case _ => true
        }
      }
    }.map(pathOf)
  }

  /** MANIFEST-LEVEL FILE SKIPPING: the current snapshot's files whose
    * stats bounds overlap `[lo, hi]` (both inclusive, in the FIRST
    * declared stats column's long domain — timestamps floor to epoch
    * seconds). This is the pruning tier ABOVE q41's directory pruning
    * and q42's row-group skipping: it needs no directory listing and no
    * parquet footer — the file subset is planned from one manifest
    * read, which at 100 TB is the difference between a metadata lookup
    * and 100k footer GETs before the first data byte. Conservative:
    * files without bounds (no stats column declared, all-NULL stats
    * values, or entries predating the declaration) are always kept.
    * Returns root-relative paths; the caller still applies the exact
    * row predicate — skipping yields a file SUPERSET of the matching
    * rows, never a subset. */
  def filesInRange(spark: SparkSession, path: String, lo: Long,
      hi: Long): Seq[String] = {
    val h = headOf(spark, path)
    val first = statsColsOf(h.meta).headOption.getOrElse(
      // no stats declared: every data file is a candidate (validity
      // contract unchanged — skipping is best-effort)
      return h.files)
    filesInRangesAt(h.meta, h.lines, Seq((first, lo, hi)))
  }

  /** [[filesInRange]] generalized to a CONJUNCTION of per-column
    * ranges: a file survives only if its bounds overlap EVERY queried
    * range, so a two-column predicate plans a subset at most as large
    * as either single-column plan — usually strictly smaller, because
    * files clustered on one column still vary on the other.
    *
    * `isNull` / `isNotNull` add NULLABILITY clauses over the same
    * manifest stats (per-file null counts, recorded when the layout
    * declares `nullCounts` at [[init]]): `IS NULL` skips files that
    * provably hold no nulls in the column, `IS NOT NULL` skips files
    * that are entirely null in it — the pruning tier min/max bounds
    * cannot express (an all-NULL file records NO bounds, so a range
    * alone must keep it). Conservative like everything here: entries
    * without null counts always keep. */
  def filesInRanges(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)],
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil): Seq[String] = {
    val h = headOf(spark, path)
    filesInRangesAt(h.meta, h.lines, ranges, isNull, isNotNull)
  }

  /** [[filesInRanges]] PINNED to snapshot `v` — the planner the SQL
    * surface ([[graft.sources.sql.GraftCatalog]]) runs for `VERSION AS
    * OF` / `TIMESTAMP AS OF` scans: the file subset, the bounds it was
    * planned from, and the schema the read serves all come from the
    * same manifest state, so time travel prunes exactly like a current
    * read does. */
  def filesInRangesOf(spark: SparkSession, path: String, v: Long,
      ranges: Seq[(String, Long, Long)],
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil): Seq[String] = {
    val (meta, lines) = stateOf(spark, path, v)
    filesInRangesAt(meta, lines, ranges, isNull, isNotNull)
  }

  /** The current snapshot restricted to files overlapping `[lo, hi]` on
    * the first stats column ([[filesInRange]]) — rows OUTSIDE the range
    * can still appear (file grain is coarse); apply the exact predicate
    * on top. The point is what the scan never touches: files whose
    * bounds exclude the range contribute no IO, no tasks, no footer
    * reads. */
  def readSnapshotRange(spark: SparkSession, path: String, lo: Long,
      hi: Long): DataFrame = {
    val h = headOf(spark, path)
    val ranges = statsColsOf(h.meta).headOption
      .map(c => Seq((c, lo, hi))).getOrElse(Seq.empty)
    readRangesAt(spark, path, h.meta, h.lines, ranges)
  }

  /** [[readSnapshotRange]] over a multi-column range conjunction, with
    * optional nullability clauses ([[filesInRanges]]'s contract: the
    * caller still applies the exact predicate on top). */
  def readSnapshotRanges(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)],
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil): DataFrame = {
    val h = headOf(spark, path)
    readRangesAt(spark, path, h.meta, h.lines, ranges, isNull, isNotNull)
  }

  private def filesInStringRangeAt(meta: Map[String, String],
      lines: Seq[String], c: String, lo: String, hi: String): Seq[String] = {
    val cols = statsColsOf(meta)
    val i = cols.indexOf(c)
    require(i >= 0, s"no manifest statistics declared for column '$c' " +
      s"(declared: ${if (cols.isEmpty) "none" else cols.mkString(",")})")
    val loB = lo.getBytes(Charset)
    val hiB = hi.getBytes(Charset)
    require(cmpBytes(loB, hiB) <= 0,
      s"string range on '$c' needs lo <= hi, got ['$lo', '$hi']")
    lines.filterNot(isDeleteEntry).filter { l =>
      strBoundsOf(l, i) match {
        // keep iff [lower, upper] overlaps [lo, hi]; bounds are
        // conservative (lower ≤ true min, upper ≥ true max), so a miss
        // can only be a false keep
        case Some((lower, upper)) =>
          cmpBytes(upper, loB) >= 0 && cmpBytes(lower, hiB) <= 0
        case None => true // LONG-typed or absent bounds — never skip
      }
    }.map(pathOf)
  }

  /** [[filesInRange]] for a STRING stats column: the current snapshot's
    * files whose UTF-8-byte-order bounds overlap `[lo, hi]` (both
    * inclusive) — categorical slices (event type, language, source
    * domain) plan their file subset from the manifest alone when the
    * writer clustered on the column. Conservative exactly like the LONG
    * tier: truncated bounds and LONG-typed entries always keep. */
  def filesInStringRange(spark: SparkSession, path: String, c: String,
      lo: String, hi: String): Seq[String] = {
    val h = headOf(spark, path)
    filesInStringRangeAt(h.meta, h.lines, c, lo, hi)
  }

  /** The current snapshot restricted to files overlapping the string
    * range — the caller still applies the exact predicate on top
    * ([[readSnapshotRange]]'s contract, string-typed). */
  def readSnapshotStringRange(spark: SparkSession, path: String, c: String,
      lo: String, hi: String): DataFrame = {
    val h = headOf(spark, path)
    readSubsetAt(spark, path, h.meta, h.lines,
      filesInStringRangeAt(h.meta, h.lines, c, lo, hi))
  }

  /** One consistent pruned read: files, deletion vectors, and recorded
    * schema ALL from the `(meta, lines)` state the caller resolved in a
    * single manifest read — a commit landing mid-call can no longer mix
    * version v's file plan with v+1's vectors or schema. */
  private def readRangesAt(spark: SparkSession, path: String,
      meta: Map[String, String], lines: Seq[String],
      ranges: Seq[(String, Long, Long)],
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil): DataFrame = {
    val files =
      if (ranges.isEmpty && isNull.isEmpty && isNotNull.isEmpty)
        lines.filterNot(isDeleteEntry).map(pathOf)
      else filesInRangesAt(meta, lines, ranges, isNull, isNotNull)
    readSubsetAt(spark, path, meta, lines, files)
  }

  /** One consistent read of `files` (a subset the caller planned from
    * the SAME `(meta, lines)` state): recorded schema + outstanding
    * deletion vectors applied, schema-faithful empty frame when the
    * plan excluded everything. */
  private def readSubsetAt(spark: SparkSession, path: String,
      meta: Map[String, String], lines: Seq[String],
      files: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val qualified = fsOf(spark, root).makeQualified(root).toString
    if (files.isEmpty) {
      // schema-faithful empty frame — same columns a full read yields
      readDataAt(spark, qualified, meta,
        lines.filterNot(isDeleteEntry), Nil).limit(0)
    } else {
      val fileSet = files.toSet
      // outstanding merge-on-read deletes apply here too — a pruned
      // read must never resurrect rows the full read hides
      readDataAt(spark, qualified, meta,
        lines.filter(l => !isDeleteEntry(l) && fileSet(pathOf(l))),
        lines.filter(isDeleteEntry))
    }
  }

  /** One consistent read of an EXTERNALLY-PLANNED file subset (a
    * secondary-index probe, an operator's own pruning) at the current
    * version: recorded schema, deletion vectors, and equality deletes
    * all apply — a pruned read never resurrects rows the full read
    * hides. Every file must be live in the current snapshot (a stale
    * plan fails loudly instead of reading re-filed bytes). */
  def readSnapshotFiles(spark: SparkSession, path: String,
      files: Seq[String]): DataFrame = {
    val h = headOf(spark, path)
    val live = h.files.toSet
    val dead = files.filterNot(live)
    require(dead.isEmpty,
      s"readSnapshotFiles: ${dead.size} planned file(s) are not live at " +
      s"v=${h.v} (e.g. ${dead.headOption.getOrElse("")}) — the plan is " +
      "stale; re-plan against the current snapshot")
    readSubsetAt(spark, path, h.meta, h.lines, files)
  }

  /** [[readSnapshotFiles]] PINNED to snapshot `v`: one consistent read
    * of an externally-planned file subset under THAT version's recorded
    * schema with its deletion vectors / equality deletes subtracted —
    * the read half of the SQL surface's time-travel scan (plan with
    * [[filesInRangesOf]] at the same `v`). `files` must be live at `v`. */
  def readVersionFiles(spark: SparkSession, path: String, v: Long,
      files: Seq[String]): DataFrame = {
    val (meta, lines) = stateOf(spark, path, v)
    val live = lines.filterNot(isDeleteEntry).map(pathOf).toSet
    val dead = files.filterNot(live)
    require(dead.isEmpty,
      s"readVersionFiles: ${dead.size} planned file(s) are not live at " +
      s"v=$v (e.g. ${dead.headOption.getOrElse("")}) — plan and read " +
      "must pin the same version")
    readSubsetAt(spark, path, meta, lines, files)
  }

  /** A fresh hidden staging dir `.staging-<tag>-…` under the root —
    * readers never list it, and every writer deletes its own. */
  private def stagingDir(root: org.apache.hadoop.fs.Path,
      tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root,
      s".staging-$tag-${Sink.procTag}-${java.util.UUID.randomUUID()}")

  /** The one data-file write: `rows` (already shaped by the caller)
    * land through a `partitionBy` write into a [[stagingDir]] and move
    * into the live partition dirs. Returns the moved files'
    * root-relative paths — invisible until a commit names them. */
  private def stagePartitioned(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tag: String, rows: DataFrame,
      partitionCol: String): Seq[String] = {
    val stg = stagingDir(root, tag)
    rows.write.partitionBy(partitionCol).parquet(stg.toString)
    movePartitionedStaging(fs, root, stg, partitionCol)
  }

  /** The partition value a root-relative entry path or dir name
    * (`<partitionCol>=<escaped value>[/<file>]`) names. */
  private[graft] def partValueOf(f: String, partitionCol: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(f.split("/")(0).stripPrefix(s"$partitionCol="))

  /** MOVE a `partitionBy`-staged write's data files into the live
    * `partitionCol=` dirs (unique task-UUID names — nothing collides,
    * and nothing references them until the manifest commit). Deletes
    * the staging dir. Returns the moved files' root-relative paths. */
  private def movePartitionedStaging(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, stg: org.apache.hadoop.fs.Path,
      partitionCol: String): Seq[String] = {
    val moved = fs.listStatus(stg).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$partitionCol="))
      .flatMap { d =>
        val partDir = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
        fs.mkdirs(partDir)
        partFiles(fs, d.getPath).map { f =>
          val dst = new org.apache.hadoop.fs.Path(partDir, f.getPath.getName)
          if (!fs.rename(f.getPath, dst))
            throw new IllegalStateException(s"staging move failed: $dst")
          s"${partDir.getName}/${f.getPath.getName}"
        }
      }
    fs.delete(stg, true): Unit
    moved
  }

  /** Position-delete writers and DV maintenance must not run over
    * outstanding EQUALITY deletes: their base-read scans are blind to
    * key-hidden rows (an update would re-image them; a materialize
    * would resurrect them), and [[materializeDeletes]] reads every
    * `_deletes/` sidecar under the (dv_file, dv_pos) schema. The
    * documented order is [[convertEqDeletes]] first — one key-scan
    * folds the equality tier into position vectors. */
  private def requireNoEqDeletes(lines: Seq[String], path: String,
      op: String): Unit = {
    val eqn = lines.count(isEqDeleteEntry)
    require(eqn == 0,
      s"$op on $path with $eqn outstanding equality delete(s) — run " +
      "convertEqDeletes first: this op's base read is blind to " +
      "key-hidden rows")
  }

  /** Partition-grain rewrite ops must not run over outstanding deletion
    * vectors: they read files directly (NOT DV-aware — their probes
    * count raw rows) and re-file them, which would resurrect deleted
    * rows AND orphan the vectors' file-position references. The
    * minimum-viable contract is the loud refusal; [[materializeDeletes]]
    * first is the documented pipeline (a table format interleaves the
    * two transparently — same ordering, hidden). Equality deletes are
    * checked first: their first step is [[convertEqDeletes]], which
    * materializeDeletes itself requires. */
  private def requireNoDeletes(lines: Seq[String], path: String,
      op: String): Unit = {
    requireNoEqDeletes(lines, path, op)
    val dvs = lines.count(isDeleteEntry)
    require(dvs == 0,
      s"$op on $path with $dvs outstanding deletion vector(s) — " +
      "run materializeDeletes first (SQL surface: CALL <catalog>." +
      "maintain(table => '<table>')): a partition rewrite would " +
      "resurrect merge-on-read deleted rows and orphan the vectors' " +
      "positions")
  }

  /** Turn freshly written data files into manifest entry LINES, attaching
    * per-file `min\tmax` bounds for EACH declared stats column (comma-
    * separated `statsMeta`, declaration order) — the Iceberg-manifest
    * discipline: the bounds live in table METADATA, so a reader plans
    * its file set without opening a single parquet footer (at 100 TB,
    * the difference between one manifest read and 100k footer GETs).
    * The writer opens the footers instead, once, on the driver: each
    * new file's bounds, null counts and row count come from the
    * statistics its parquet writer recorded ([[footerStats]]), so a
    * commit runs no Spark job for them — Iceberg's metrics-from-footer
    * discipline. A file whose footer lacks one (an oversized string,
    * an INT96 or otherwise unmapped type, the partition column) falls
    * back to ONE aggregate over those files only ([[aggregateStats]]),
    * which derives the same line. Bounds are the column cast to LONG
    * (timestamps floor to epoch seconds), which keeps the overlap test
    * conservative: a file is skipped only if its floored bounds
    * provably exclude the floored query range. A column that is
    * all-NULL in a file — or absent from the batch entirely (schema
    * drift) — encodes `-\t-` and never prunes that file. `written` is
    * the schema of the frame the writer staged. */
  private def statLines(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      moved: Seq[String], tableMeta: Map[String, String],
      written: org.apache.spark.sql.types.StructType): Seq[String] = {
    val cols = statsColsOf(tableMeta)
    val lineage = rowIdsOn(tableMeta)
    val nullStats = tableMeta.get("nullstats").contains("on")
    if (moved.isEmpty || (cols.isEmpty && !lineage && !nullStats)) moved
    else {
      val qualified = fs.makeQualified(root).toString
      val fromFooters = footerFileStats(spark, qualified, moved, tableMeta, written)
      // a zero-row file never reaches the aggregate, and is left out
      // here the same way: its line is written below
      val byFile: Map[String, FileStats] =
        fromFooters.collect { case (f, Some((rows, st))) if rows > 0 => f -> st }.toMap ++
          aggregateStats(spark, qualified, fromFooters.collect { case (f, None) => f },
            tableMeta, written)
      // id-base allocation: ONE claimed range covers every file that
      // needs fresh ids this commit (a file with fully-materialized ids
      // needs none → `r:p`); per-file bases are assigned in sorted-file
      // order inside the range, each sized by the file's ROW COUNT so
      // `base + position` stays unique even for rows whose physical id
      // is non-null (their slots simply go unused)
      val needIds = moved.sorted.filter(f =>
        lineage && byFile.get(f).exists(_.missing > 0))
      val baseOf: Map[String, Long] =
        if (needIds.isEmpty) Map.empty
        else {
          val counts = needIds.map(f => f -> byFile(f).n.get)
          var acc = allocateRowIds(fs, root, counts.map(_._2).sum)
          counts.map { case (f, c) => val b = acc; acc += c; f -> b }.toMap
        }
      moved.map { f =>
        byFile.get(f) match {
          case None if lineage || nullStats =>
            // a zero-row file: no rows → no ids to assign, zero nulls
            val extras = (if (lineage) Seq("r:p") else Nil) ++ Seq("n:0") ++
              (if (nullStats) Seq("z:" + cols.map(_ => "0").mkString(","))
               else Nil)
            (Seq(f) ++ cols.map(_ => "-\t-") ++ extras).mkString("\t")
          case None => f
          case Some(st) =>
            val extras =
              (if (!lineage) Nil
               else Seq("r:" + baseOf.get(f).map(_.toString).getOrElse("p"))) ++
              st.n.map(v => s"n:$v").toSeq ++
              st.nulls.map(z => s"z:$z").toSeq
            (Seq(f) ++ st.bounds ++ extras).mkString("\t")
        }
      }
    }
  }

  /** What a manifest entry records about one data file beyond its path:
    * the bound field of each stats column ([[boundField]]), the `z:`
    * null counts (null-count layouts), the `n:` row count (lineage or
    * null-count layouts), and how many of its rows still need a fresh
    * row id (lineage layouts). */
  private[graft] final case class FileStats(bounds: Seq[String],
      nulls: Option[String], n: Option[Long], missing: Long)

  /** One stats column's manifest bound field from a file's minimum and
    * maximum (`null` when it holds no value): `min\tmax`, strings
    * through [[strLowerBound]]/[[strUpperBound]] — `-\t-` when the
    * file holds no value, or a string has no finite upper bound. */
  private def boundField(mn: Any, mx: Any): String = (mn, mx) match {
    case (null, _) | (_, null) => "-\t-"
    case (lo: String, hi: String) =>
      strUpperBound(hi).fold("-\t-")(up =>
        s"${encStrBound(strLowerBound(lo))}\t${encStrBound(up)}")
    case (lo, hi) => s"$lo\t$hi"
  }

  /** How many driver threads read one commit's footers. */
  private val FooterThreads = 8

  /** Driver-side threads for a commit's side work: footer reads, and
    * an UPDATE's vector write running beside its image write. */
  private lazy val sidePool = java.util.concurrent.Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "graft-snapshot-side")
      t.setDaemon(true)
      t
  }

  /** The result of a task on [[sidePool]], its own failure rethrown. */
  private def await[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  /** Run `a` on a [[sidePool]] thread — the caller's session and job
    * properties captured, so its jobs attribute like the caller's —
    * while `b` runs on this one: two independent writes submit their
    * jobs at once. Both finish before this returns; a failure of
    * either is rethrown after both have. */
  private def concurrently[A, B](spark: SparkSession)(a: => A)(b: => B): (A, B) = {
    val fa = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], sidePool)(a)
    val rb = scala.util.Try(b)
    val ra = scala.util.Try(await(fa))
    (ra.get, rb.get)
  }

  /** The parquet footers of `files` (qualified paths), in order, read on
    * the driver by at most [[FooterThreads]] threads — the shape of
    * Spark's own parallel footer reader. */
  private def footersOf(spark: SparkSession, files: Seq[String])
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def read(f: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getFooter finally r.close()
    }
    if (files.size <= 1) files.map(read)
    else {
      val per = (files.size + FooterThreads - 1) / FooterThreads
      files.grouped(per).toSeq
        .map(g => sidePool.submit(new java.util.concurrent.Callable[
          Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata]] {
          def call() = g.map(read)
        }))
        .flatMap(await)
    }
  }

  /** A parquet footer's row count. */
  private def rowsOf(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long = {
    import scala.jdk.CollectionConverters._
    footer.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** Each of `files` (root-relative, under `qualified`) with its (row
    * count, [[FileStats]]) from its parquet footer ([[footerStats]]),
    * None where the footer cannot say, for a layout declaring
    * `tableMeta`'s stats, lineage and null counts. */
  private[graft] def footerFileStats(spark: SparkSession, qualified: String,
      files: Seq[String], tableMeta: Map[String, String],
      written: org.apache.spark.sql.types.StructType)
      : Seq[(String, Option[(Long, FileStats)])] = {
    val cols = statsColsOf(tableMeta)
    val lineage = rowIdsOn(tableMeta)
    val nullStats = tableMeta.get("nullstats").contains("on")
    files.zip(footersOf(spark, files.map(f => s"$qualified/$f"))).map {
      case (f, footer) => f -> footerStats(footer, specKeyOf(f), cols,
        written, lineage, nullStats)
    }
  }

  /** A data file's (row count, [[FileStats]]) from its parquet footer,
    * derived as [[aggregateStats]] derives them from its rows: integral
    * bounds as LONG, timestamp bounds floor-divided to epoch seconds,
    * string bounds from the UTF-8 byte-order minimum and maximum (the
    * order parquet and Spark both sort strings in), null counts and
    * the rows missing a physical row id from the column null counts.
    * None when the footer cannot say: a row group without a column's
    * statistics (parquet drops them for oversized values), a type or
    * encoding whose LONG cast has no footer form (INT96, dates,
    * floats, decimals), or a stats column read from the partition dir
    * (`pcolOfFile`) rather than the file. */
  private def footerStats(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      pcolOfFile: String, cols: Seq[String],
      written: org.apache.spark.sql.types.StructType, lineage: Boolean,
      nullStats: Boolean): Option[(Long, FileStats)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType, StringType, TimestampType}
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = rowsOf(footer)
    val schema = footer.getFileMetaData.getSchema
    val present = written.fieldNames.toSet
    // (min, max, nulls) of a file column, min/max null when every value
    // is NULL, values through `conv`; None when the footer cannot say
    def colStats(c: String, conv: Option[Any => Any])
        : Option[(Any, Any, Long)] = {
      val path = org.apache.parquet.hadoop.metadata.ColumnPath.get(c)
      val chunks = blocks.map(_.getColumns.asScala.find(_.getPath == path))
      if (chunks.exists(_.isEmpty)) None
      else {
        val stats = chunks.flatten.map(ch => (ch.getStatistics, ch.getValueCount))
        if (stats.exists { case (s, nv) =>
            s == null || s.isEmpty || !s.isNumNullsSet ||
              (conv.nonEmpty && !s.hasNonNullValue && s.getNumNulls < nv) })
          None
        else {
          val vals = stats.collect { case (s, _) if conv.nonEmpty && s.hasNonNullValue =>
            (conv.get(s.genericGetMin), conv.get(s.genericGetMax))
          }
          val nulls = stats.map(_._1.getNumNulls).sum
          if (vals.isEmpty) Some((null, null, nulls))
          else vals.head._1 match {
            case _: Array[Byte] =>
              val bs = vals.map { case (a, b) =>
                (a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]) }
              Some((new String(bs.map(_._1).reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b), Charset),
                new String(bs.map(_._2).reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b), Charset),
                nulls))
            case _ =>
              Some((vals.map(_._1.asInstanceOf[Long]).min,
                vals.map(_._2.asInstanceOf[Long]).max, nulls))
          }
        }
      }
    }
    // the footer form of `cast(c AS LONG)` (or the string itself)
    def convOf(c: String): Option[Any => Any] = {
      val t = schema.getType(schema.getFieldIndex(c))
      if (!t.isPrimitive) None
      else {
        val p = t.asPrimitiveType
        (written(c).dataType, p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
          case (StringType, BINARY, _: StringLogicalTypeAnnotation) =>
            Some((v: Any) => v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
          case (ByteType | ShortType | IntegerType | LongType, INT32 | INT64, a)
              if a == null || a.isInstanceOf[IntLogicalTypeAnnotation] &&
                a.asInstanceOf[IntLogicalTypeAnnotation].isSigned =>
            Some((v: Any) => v.asInstanceOf[Number].longValue)
          case (TimestampType, INT64, a: TimestampLogicalTypeAnnotation)
              if a.isAdjustedToUTC =>
            val perSecond = a.getUnit match {
              case TimeUnit.MILLIS => 1000L
              case TimeUnit.MICROS => 1000000L
              case TimeUnit.NANOS => 1000000000L
            }
            Some((v: Any) => Math.floorDiv(v.asInstanceOf[Number].longValue, perSecond))
          case _ => None
        }
      }
    }
    // per stats column: (bound field, null count), None when unknown
    val perCol: Seq[Option[(String, Long)]] = cols.map { c =>
      if (!present(c)) Some(("-\t-", rows))
      else if (!schema.containsField(c))
        if (c == pcolOfFile) None else Some(("-\t-", rows))
      else convOf(c).flatMap(conv => colStats(c, Some(conv)))
        .map { case (mn, mx, z) => (boundField(mn, mx), z) }
    }
    val physIds = lineage && present(RowIdCol)
    val missing: Option[Long] =
      if (physIds)
        if (schema.containsField(RowIdCol)) colStats(RowIdCol, None).map(_._3)
        else Some(rows)
      else if (lineage) Some(rows) // no physical column: all rows need ids
      else Some(0L)
    if (perCol.exists(_.isEmpty) || missing.isEmpty) None
    else Some(rows -> FileStats(perCol.map(_.get._1),
      if (nullStats) Some(perCol.map(_.get._2).mkString(",")) else None,
      if (lineage || nullStats) Some(rows) else None, missing.get))
  }

  /** [[FileStats]] of `files` (root-relative, under `qualified`) from
    * their rows, for a layout declaring `tableMeta`'s stats, lineage and
    * null counts: ONE grouped aggregate over those files only, every
    * column and count together, read under `written` (footer inference
    * would cost a job of its own) and keyed back to each entry through
    * [[relFileOf]]. The fallback for files [[footerStats]] cannot
    * derive; a zero-row file yields no entry. */
  private[graft] def aggregateStats(spark: SparkSession, qualified: String,
      files: Seq[String], tableMeta: Map[String, String],
      written: org.apache.spark.sql.types.StructType): Map[String, FileStats] =
    if (files.isEmpty) Map.empty
    else {
      val cols = statsColsOf(tableMeta)
      val lineage = rowIdsOn(tableMeta)
      val nullStats = tableMeta.get("nullstats").contains("on")
      val df = spark.read.option("basePath", qualified).schema(written)
        .parquet(files.map(f => s"$qualified/$f"): _*)
      val present = df.columns.toSet
      // a rewrite's files carry the materialized row-id column; an
      // append's don't (virtual ids — zero stored bytes)
      val physIds = lineage && present(RowIdCol)
      // per-column mode from the batch's own schema: STRING columns
      // record UTF-8-byte-order bounds (Spark's string min/max order),
      // everything else keeps the LONG cast (timestamps → epoch seconds)
      val boundAggs = cols.zipWithIndex.flatMap { case (c, i) =>
        val v =
          if (!present(c)) lit(null).cast(LongType)
          else if (df.schema(c).dataType == org.apache.spark.sql.types.StringType) col(c)
          else col(c).cast(LongType)
        Seq(fmin(v).as(s"__mn$i"), fmax(v).as(s"__mx$i"))
      }
      val nullAggs =
        if (!nullStats) Nil
        else cols.zipWithIndex.map { case (c, i) =>
          val v = if (present(c)) col(c) else lit(null).cast(LongType)
          sum(when(v.isNull, 1L).otherwise(0L)).as(s"__z$i")
        }
      val countAggs =
        (if (lineage || nullStats) Seq(count(lit(1)).as("__n")) else Nil) ++
        (if (physIds)
          Seq(sum(when(col(RowIdCol).isNull, 1L).otherwise(0L)).as("__miss"))
        else Nil)
      val aggs = boundAggs ++ nullAggs ++ countAggs
      // grouped by the raw URI, so each file's path decodes once
      df.groupBy(col("_metadata.file_path").as("__uri"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("__file", relFileOf(qualified, col("__uri")))
        .collect()
        .map { r =>
          def at(name: String): Any = r.get(r.fieldIndex(name))
          val n =
            if (lineage || nullStats) Some(r.getLong(r.fieldIndex("__n")))
            else None
          r.getString(r.fieldIndex("__file")) -> FileStats(
            cols.indices.map(i => boundField(at(s"__mn$i"), at(s"__mx$i"))),
            if (!nullStats) None
            else Some(cols.indices.map(i => at(s"__z$i").toString).mkString(",")),
            n,
            if (physIds) r.getLong(r.fieldIndex("__miss"))
            else if (lineage) n.get // no physical column: all rows need ids
            else 0L)
        }.toMap
    }

  // ----- SCHEMA EVOLUTION: RENAME + TYPE PROMOTION ----------------------
  // Add-column evolution ([[widenRecordedSchema]]) covers a table's
  // growth; a LONG-LIVED table also hits a rename ("qty" was always
  // "quantity") and a type outgrowing its width (an int id crossing
  // 2^31). Both are METADATA-ONLY commits here — no file rewrite, no
  // table-width job: rename leaves the old physical name behind as an
  // ALIAS record the readers fold ([[ColAlias]], [[resolveRenames]]),
  // promotion leans on Spark 4's native parquet widening read (int32
  // files served as LONG, float as DOUBLE). Renamed files converge to
  // the new physical name through whatever maintenance rewrite touches
  // them next; per-file manifest stats are POSITIONAL against the
  // declared list, so the rename re-keys the declaration and every
  // existing entry's bounds stay valid verbatim.

  /** A declared schema change, applied atomically by [[commit]]
    * (validated per rebase attempt against the latest manifest). */
  private[graft] sealed trait SchemaChange
  private[graft] final case class RenameCol(from: String, to: String)
      extends SchemaChange
  private[graft] final case class PromoteCol(name: String,
      to: org.apache.spark.sql.types.DataType) extends SchemaChange
  private[graft] final case class AddCol(name: String,
      tpe: org.apache.spark.sql.types.DataType) extends SchemaChange

  /** The manifest-meta delta a [[SchemaChange]] produces against
    * `latestMeta` — the rename/promotion twin of [[widenRecordedSchema]],
    * run INSIDE the commit retry loop. Refusals are the documented
    * boundaries of the alias design:
    *  - the partition column (its name is baked into every directory
    *    path and both spec-evolution generations' keys);
    *  - an equality-delete key column (existing `_deletes/` sidecars
    *    physically carry the key under its old name);
    *  - the reserved lineage column;
    *  - a name already live, or RETIRED by an earlier rename (re-using
    *    it would make the fold ambiguous for life);
    *  - promotion outside the safe lattice (int→long, float→double).
    * A secondary key index over a renamed column fails loudly at its
    * next refresh (the old name no longer resolves) — rebuild it over
    * the new name ([[KeyIndex.rebuild]]). */
  private def evolveRecordedMeta(root: org.apache.hadoop.fs.Path,
      latestMeta: Map[String, String], change: SchemaChange)
      : Map[String, String] = {
    val rec = recordedSchema(latestMeta).getOrElse(
      throw new IllegalStateException(
        s"layout under $root has no recorded schema — rename/promotion " +
        "needs the schema-evolution anchor (re-init or append once)"))
    val pcol = latestMeta.get("pcol")
    val eqKeys = latestMeta.get("eqkeys")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val aliases = aliasesOf(latestMeta)
    def rekeyList(l: Seq[String], from: String, to: String): Seq[String] =
      l.map(c => if (c == from) to else c)
    change match {
      case RenameCol(from, to) =>
        require(from != to, s"rename '$from' to itself is a no-op")
        require(rec.fieldNames.contains(from),
          s"rename: no column '$from' in the recorded schema " +
          s"(${rec.fieldNames.mkString(", ")})")
        require(!pcol.contains(from) && !pcol.contains(to),
          s"rename touches partition column '${pcol.getOrElse("")}' — its " +
          "name is baked into every directory path; evolve the partition " +
          "spec instead (evolvePartitionSpec + migratePartitionSpec)")
        require(!eqKeys.contains(from),
          s"rename: '$from' is an equality-delete key — outstanding " +
          "sidecars carry it physically under this name; run " +
          "convertEqDeletes first, then the key list still pins the name " +
          "for the layout's life")
        require(from != RowIdCol && to != RowIdCol,
          s"'$RowIdCol' is the reserved lineage column")
        require(!rec.fieldNames.contains(to),
          s"rename: column '$to' already exists in the recorded schema")
        require(!aliases.exists(_.old == to),
          s"rename: '$to' is a RETIRED name (of column " +
          s"'${aliases.find(_.old == to).get.current}') — re-using it " +
          "would make the alias fold ambiguous")
        val fromType = rec(from).dataType
        val newSchema = org.apache.spark.sql.types.StructType(
          rec.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        val newAliases = aliases.map(a =>
          if (a.current == from) a.copy(current = to) else a) :+
          ColAlias(from, fromType, to)
        // stats + sort declarations are re-keyed IN PLACE: positional
        // per-file bounds keep their meaning (position i still bounds
        // the same physical data), only the name position i answers to
        // changes — the one legitimate stats re-key, which is why it
        // happens HERE and not via caller meta (the commit-layer guard
        // on caller-supplied `stats` stays absolute)
        val statsMeta = latestMeta.get("stats").map(s =>
          "stats" -> rekeyList(s.split(",").toSeq.filter(_.nonEmpty),
            from, to).mkString(",")).toMap
        val sortMeta = latestMeta.get("sort").map { s =>
          val (pre, cols) = s.span(_ != ':')
          "sort" -> (pre + ":" + rekeyList(
            cols.stripPrefix(":").split(",").toSeq.filter(_.nonEmpty),
            from, to).mkString(","))
        }.toMap
        Map("schema" -> newSchema.json,
          "aliases" -> aliasesJson(newAliases)) ++ statsMeta ++ sortMeta
      case PromoteCol(name, to) =>
        require(rec.fieldNames.contains(name),
          s"promote: no column '$name' in the recorded schema " +
          s"(${rec.fieldNames.mkString(", ")})")
        require(!pcol.contains(name),
          s"promote: '$name' is the partition column — its type is " +
          "cast from directory values at read; promotion is undefined")
        val cur = rec(name).dataType
        require(cur != to, s"promote: '$name' is already $to")
        require(promotedType(cur, to).contains(to),
          s"promote: $cur → $to is not a safe widening — only int→long " +
          "and float→double are (narrowing or cross-family changes " +
          "would corrupt existing files' values)")
        val newSchema = org.apache.spark.sql.types.StructType(
          rec.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f))
        Map("schema" -> newSchema.json)
      case AddCol(name, tpe) =>
        require(!rec.fieldNames.contains(name),
          s"add column: '$name' already exists in the recorded schema")
        require(!aliases.exists(_.old == name),
          s"add column: '$name' is a RETIRED name (of column " +
          s"'${aliases.find(_.old == name).get.current}') — re-using it " +
          "would make the rename fold ambiguous")
        require(!pcol.contains(name) && name != RowIdCol,
          s"add column: '$name' is reserved")
        // nullable by construction (existing files read NULL in it),
        // inserted before the partition column — the widen's order rule
        val (dataF, partF) = rec.fields.partition(f => !pcol.contains(f.name))
        Map("schema" -> org.apache.spark.sql.types.StructType(
          (dataF :+ org.apache.spark.sql.types.StructField(name, tpe,
            nullable = true)) ++ partF).json)
    }
  }

  /** Apply a LIST of schema evolutions as ONE atomic metadata commit —
    * all changes land or none do, even under CONCURRENT committers:
    * the whole list validates and folds inside the commit retry loop
    * ([[commit]]'s `evolve` param), so a rebase re-validates every
    * change against the concurrent winner's schema and a refusal of
    * ANY change aborts the whole statement with nothing durably
    * committed. The SQL catalog's multi-change `ALTER TABLE` commits
    * through this (atomic DDL — without it `ADD COLUMNS (a INT,
    * b INT)` with a refused `b` would durably commit `a`). Sequential
    * folding matters: a list may legally reference its own earlier
    * changes (promote-after-rename of the NEW name validates against
    * the renamed schema; re-adding a just-retired name still refuses).
    *
    * The combined `evolve-schema` commit is change-feed-CROSSABLE
    * (listed in `RowPreservingOps`): it is
    * metadata-only — zero data files, no visible row change — so a feed
    * crossing it loses nothing, exactly like the single rename/promote/
    * add-column ops committed via their own methods. */
  private[graft] def evolveSchema(spark: SparkSession, path: String,
      changes: Seq[SchemaChange]): Long = {
    require(changes.nonEmpty, "evolveSchema with no changes")
    val h = headOf(spark, path)
    commit(h.fs, h.root, Some(h.v), Set.empty, Seq.empty,
      Map("op" -> "evolve-schema", "changes" -> changes.size.toString),
      evolve = changes)
  }

  /** RENAME a column — ALTER TABLE RENAME COLUMN as ONE metadata-only
    * atomic commit: no file is touched, old files keep their physical
    * name and every read folds it into the new one
    * ([[resolveRenames]]); manifest stats and the recorded sort order
    * follow the name; appends under the OLD name are refused for the
    * layout's life. Returns the committed version. Boundaries (loud):
    * see [[evolveRecordedMeta]]. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    val h = headOf(spark, path)
    commit(h.fs, h.root, Some(h.v), Set.empty, Seq.empty,
      Map("op" -> "rename-column", "rename_from" -> from, "rename_to" -> to),
      evolve = Seq(RenameCol(from, to)))
  }

  /** PROMOTE a column's type along the safe lattice (int→long,
    * float→double) — ALTER TABLE ALTER COLUMN TYPE as ONE metadata-only
    * atomic commit: existing files keep their narrow physical type and
    * Spark's parquet reader widens them natively at scan time; later
    * appends may write either width ([[widenRecordedSchema]] accepts
    * both sides of the lattice). Returns the committed version. */
  def promoteColumn(spark: SparkSession, path: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val h = headOf(spark, path)
    commit(h.fs, h.root, Some(h.v), Set.empty, Seq.empty,
      Map("op" -> "promote-column", "promote_col" -> name,
        "promote_to" -> to.typeName),
      evolve = Seq(PromoteCol(name, to)))
  }

  /** ADD a nullable column — ALTER TABLE ADD COLUMN as ONE
    * metadata-only atomic commit: existing files read NULL in it, the
    * first batch carrying values lands through the normal [[append]].
    * The declarative twin of append-side widening (which adds columns
    * implicitly with their first data batch) — a SQL surface needs the
    * explicit form. Retired names are refused for life. */
  def addColumn(spark: SparkSession, path: String, name: String,
      tpe: org.apache.spark.sql.types.DataType): Long = {
    val h = headOf(spark, path)
    commit(h.fs, h.root, Some(h.v), Set.empty, Seq.empty,
      Map("op" -> "add-column", "add_col" -> name,
        "add_type" -> tpe.typeName),
      evolve = Seq(AddCol(name, tpe)))
  }

  // ----- PARTITION-SPEC EVOLUTION --------------------------------------
  // A table that outgrows its partition grain (daily → hourly is the
  // canonical case) must not need a table rewrite to change it. The
  // manifest records the ACTIVE spec per version (`pcol` header,
  // inherited); after [[evolvePartitionSpec]] new appends write the new
  // spec's dirs while old files stay put, readers scan each generation
  // separately and union ([[readDataAt]] — each generation keeps its own
  // directory pruning), and [[migratePartitionSpec]] retires the old
  // generation with ONE atomic row-preserving rewrite when (or if) the
  // operator chooses. Partition-grain maintenance refuses mixed layouts
  // loudly ([[requireUniformSpec]]) — its partition algebra is
  // single-spec by construction, and migrate-first is cheap and atomic.

  /** Loud refusal for partition-grain ops on a mid-evolution layout:
    * their probe/rewrite algebra groups by ONE dir key. */
  private def requireUniformSpec(files: Seq[String], partitionCol: String,
      op: String): Unit = {
    val foreign = files.filterNot(f => specKeyOf(f) == partitionCol)
    require(foreign.isEmpty,
      s"$op with partition column '$partitionCol' on a mid-evolution " +
      s"layout: ${foreign.size} file(s) still live under a different " +
      s"spec (e.g. ${foreign.headOption.getOrElse("")}) — run " +
      "migratePartitionSpec first, or pass the spec those files use")
  }

  /** The layout's ACTIVE partition spec (the `pcol` header), when the
    * manifest records one (layouts initialized since the header exist
    * always do). */
  def partitionSpec(spark: SparkSession, path: String): Option[String] =
    currentMeta(spark, path).flatMap(_.get("pcol"))

  /** Switch the ACTIVE partition spec to `newPartitionCol` — a
    * METADATA-ONLY commit (no file moves, no data read): later appends
    * must write the new spec's directories, existing files stay under
    * the old spec and keep serving reads ([[readDataAt]] unions the
    * generations). The new partition column enters the recorded schema
    * with the first new-spec append (the normal widen); the change feed
    * crosses this commit (row-preserving — no rows changed). Returns
    * the committed version. */
  def evolvePartitionSpec(spark: SparkSession, path: String,
      newPartitionCol: String): Long = {
    val h = headOf(spark, path)
    val cur = h.meta.get("pcol").getOrElse(
      // pre-header layouts: the current spec is the files' dir key
      h.files.headOption.map(specKeyOf).getOrElse(
        throw new IllegalStateException(s"empty layout under $path")))
    require(newPartitionCol != cur,
      s"$path already partitions by '$newPartitionCol'")
    require(recordedSchema(h.meta).nonEmpty,
      "partition-spec evolution needs a recorded schema — which columns " +
      "exist must not depend on footer sampling once two generations " +
      "coexist")
    commit(h.fs, h.root, Some(h.v), Set.empty, Seq.empty,
      Map("op" -> "evolve-spec", "pcol" -> newPartitionCol,
        "pcol_prev" -> cur))
  }

  /** Retire the legacy partition generation: every file still under an
    * old spec rewrites into the ACTIVE spec's directories — `value` is
    * the new partition column's expression, evaluated against the old
    * rows WITH their old partition column (recorded type), e.g.
    * `date_format(col("ts"), "yyyy-MM-dd-HH")` for daily → hourly. ONE
    * distributed job, ONE atomic row-preserving commit (the change feed
    * crosses it; row ids carry — the read is lineage-aware). The old
    * partition column becomes a STORED data column in the rewritten
    * files, so its values survive byte-identically. Returns the new
    * files; no-op when the layout is already uniform. */
  def migratePartitionSpec(spark: SparkSession, path: String,
      value: Column): Seq[String] = {
    val h = headOf(spark, path)
    val newPcol = h.meta.getOrElse("pcol",
      throw new IllegalStateException(
        s"$path declares no partition spec — evolvePartitionSpec first"))
    requireNoDeletes(h.lines, path, "migratePartitionSpec")
    val oldFiles = h.files.filterNot(f => specKeyOf(f) == newPcol)
    if (oldFiles.isEmpty) return Seq.empty
    val oldKeys = oldFiles.map(specKeyOf).distinct.sorted
    require(oldKeys.size == 1,
      s"migratePartitionSpec found ${oldKeys.size} legacy specs " +
      s"(${oldKeys.mkString(", ")}) — migrate one evolution at a time")
    val oldPcol = oldKeys.head
    val recorded = recordedSchema(h.meta).getOrElse(
      throw new IllegalStateException(
        s"mid-evolution $path lacks a recorded schema"))
    // lineage-aware old-generation read: the old partition column comes
    // back dir-typed STRING — cast it to its RECORDED type before it
    // becomes a stored data column, so values survive byte-identically
    val rows = readForMaintenanceLineage(spark, h.qualified, oldFiles,
        oldPcol, h.meta, h.lines)
      .withColumn(oldPcol, col(oldPcol).cast(recorded(oldPcol).dataType))
      .withColumn(newPcol,
        if (recorded.fieldNames.contains(newPcol))
          value.cast(recorded(newPcol).dataType)
        else value)
    val moved = stagePartitioned(h.fs, h.root, "migrate",
      rows.repartition(col(newPcol)), newPcol)
    // widen: evolve → migrate with NO intervening new-spec append must
    // still surface the new partition column to readers — the recorded
    // schema gains it here if the first new-spec append hasn't already
    commit(h.fs, h.root, Some(h.v), oldFiles.toSet,
      statLines(spark, h.fs, h.root, moved, h.meta, rows.schema),
      Map("op" -> "migrate-spec"),
      widenSchema = Some((rows.schema, newPcol))): Unit
    moved
  }

  /** [[Sink.readForMaintenance]] with the lineage column attached when
    * the layout is lineage-enabled: every row surfaces its durable
    * `_row_id` (virtual entries resolved to base + position, physical
    * ones read directly) as a REAL column, so the rewrite that consumes
    * this read materializes ids into the files it writes — the carry
    * that keeps row identity stable across maintenance. */
  private def readForMaintenanceLineageKeyed(spark: SparkSession,
      qualified: String, relFiles: Seq[String], partitionCol: String,
      vMeta: Map[String, String], vLines: Seq[String]): DataFrame =
    if (!rowIdsOn(vMeta))
      resolveRenames(withFilePos(Sink.readForMaintenance(spark, qualified,
        relFiles.map(f => s"$qualified/$f"), partitionCol,
        maintPhysSchema(vMeta, partitionCol)), qualified), vMeta)
    else {
      val s = maintPhysSchema(vMeta, partitionCol).getOrElse(
        throw new IllegalStateException(
          s"lineage-enabled layout lacks a recorded schema — corrupted " +
          "manifest?"))
      val subset = relFiles.toSet
      val subsetLines = vLines.filter(l => subset(pathOf(l)))
      requireLineageEntries(subsetLines, qualified)
      // the PHYSICAL schema + fold: pre-rename files surface retired
      // names and the rewrite consuming this read writes CURRENT names
      // — maintenance is how a rename converges physically. Keys
      // materialize BEFORE the fold (its barrier hides `_metadata`).
      val base = resolveRenames(withFilePos(
        Sink.readForMaintenance(spark, qualified,
          relFiles.map(f => s"$qualified/$f"), partitionCol,
          Some(lineageReadSchema(s))), qualified), vMeta)
      attachRowIdsKeyed(spark, base, basesOf(subsetLines))
    }

  private def readForMaintenanceLineage(spark: SparkSession,
      qualified: String, relFiles: Seq[String], partitionCol: String,
      vMeta: Map[String, String], vLines: Seq[String]): DataFrame =
    readForMaintenanceLineageKeyed(spark, qualified, relFiles, partitionCol,
      vMeta, vLines).drop("__dv_file", "__dv_pos")

  /** The MORTON (Z-order) clustering key over `zCols`: each column
    * min-max-scales to `bits` bits against the rewrite set's own range
    * (ONE tiny aggregate), and the bits interleave — column j's bit b
    * lands at position `b * k + j` — so sorting by the key gives every
    * output file a tight bounding BOX in all k dimensions at once,
    * where a linear sort gives tight bounds on the leading column only.
    * Pure `functions._` arithmetic (floor / shiftright / bitwiseAND /
    * shiftleft / sum): whole-stage-codegen'd, 16·k terms. */
  private def mortonColumn(rows: DataFrame, zCols: Seq[String],
      bits: Int = 16): Column = {
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType, TimestampType}
    require(zCols.size >= 2,
      s"Z-order needs >= 2 columns (got ${zCols.mkString(",")}) — one " +
      "column is a plain sort (sortCols)")
    zCols.foreach { c =>
      val dt = rows.schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == TimestampType ||
        dt == TimestampNTZType || dt == DateType,
        s"Z-order column '$c' must be numeric/timestamp/date, got $dt")
    }
    val k = zCols.size
    // the interleaved key must fit the NON-NEGATIVE range of a Long:
    // position b*k+j tops out below 62, or the sign bit would invert
    // the most-significant interleave (and Spark's shiftleft masks
    // shift amounts to 6 bits, silently wrapping past 63)
    val effBits = math.min(bits, 62 / k)
    require(effBits >= 4,
      s"Z-order over $k columns leaves only $effBits bits per column — " +
      "too coarse to cluster; interleave at most ~8 columns")
    val max = (1L << effBits) - 1
    val aggs = zCols.flatMap(c => Seq(
      fmin(col(c).cast("double")).as(s"mn_$c"),
      fmax(col(c).cast("double")).as(s"mx_$c")))
    val s = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
    val scaled = zCols.zipWithIndex.map { case (c, j) =>
      val mn = s.getAs[Double](s"mn_$c")
      val mx = s.getAs[Double](s"mx_$c")
      val span = math.max(mx - mn, 1e-12)
      val v = org.apache.spark.sql.functions.floor(
        (coalesce(col(c).cast("double"), lit(mn)) - mn) / span * max)
      org.apache.spark.sql.functions.greatest(lit(0L),
        org.apache.spark.sql.functions.least(lit(max), v))
    }
    (for (b <- 0 until effBits; j <- 0 until k) yield
      org.apache.spark.sql.functions.shiftleft(
        org.apache.spark.sql.functions.shiftright(scaled(j), b)
          .bitwiseAND(lit(1L)), b * k + j))
      .reduce(_ + _)
  }

  /** The one survivor rewrite: ONE distributed job re-files `rows` (a
    * maintenance read of the files being replaced, already filtered to
    * its survivors) into `targets` files per partition value
    * ([[Sink.packPartitioned]]), clustered on the explicit columns when
    * the caller names any, else on the layout's RECORDED sort order —
    * maintenance preserves clustering without every caller re-knowing
    * it. A Z-order clusters on the Morton key of its columns, so every
    * output file gets a tight bounding box in all of them and the
    * declared stats columns record those boxes. Survivors restage under
    * their value's CANONICAL dir name (the partitioned writer's
    * escaping), so a dir an external writer escaped another way
    * (`day=a'b`, which a write names `a%27b`) moves to its canonical
    * dir in the commit that removes its old entries; readers decode
    * both names to the same value. Every partition value in `touched`
    * must restage before that commit, unless `rows` holds none of its
    * rows (its files emptied out — legal, and checked only for values
    * that did not restage): a miss with survivors aborts with the
    * snapshot untouched; the moved files are unreferenced and retire
    * via expire. Returns the moved files' manifest entry lines
    * ([[statLines]]). */
  private def rewriteSurvivors(h: Head, tag: String, rows: DataFrame,
      partitionCol: String, sortCols: Seq[String], zOrderCols: Seq[String],
      targets: Map[String, Int], touched: Iterable[String]): Seq[String] = {
    val (lin, z) =
      if (sortCols.nonEmpty || zOrderCols.nonEmpty) (sortCols, zOrderCols)
      else sortOrderOf(h.meta)
    val keyed =
      if (z.isEmpty) rows else rows.withColumn("__z", mortonColumn(rows, z))
    val moved = stagePartitioned(h.fs, h.root, tag,
      Sink.packPartitioned(keyed, partitionCol,
        if (z.isEmpty) lin else Seq("__z"), targets).drop("__z"),
      partitionCol)
    val movedValues = moved.map(f => partValueOf(f, partitionCol)).toSet
    val unstaged = touched.toSeq.distinct
      .map(d => d -> partValueOf(d, partitionCol))
      .filterNot { case (_, value) => movedValues(value) }
    if (unstaged.nonEmpty) {
      val kept = rows.where(col(partitionCol).isin(unstaged.map(_._2): _*))
        .select(col(partitionCol)).distinct().collect().map(_.getString(0)).toSet
      unstaged.find { case (_, value) => kept(value) }.foreach {
        case (part, _) => throw new IllegalStateException(
          s"staged rewrite missing for partition '$part' — aborting " +
          "before the commit; the snapshot is unchanged")
      }
    }
    statLines(rows.sparkSession, h.fs, h.root, moved, h.meta, rows.schema)
  }

  /** Small-file compaction committed through the manifest: oversplit
    * partitions rewrite to their bin-packed target (re-clustered on
    * `sortCols`), and the WHOLE pass lands as one atomic snapshot —
    * readers see the fully-old or fully-new file set, never a partition
    * mid-swap. Partitions already at target keep their exact manifest
    * entries and physical files. Returns (partition, files before,
    * files after).
    *
    * The rewrite is ONE distributed job over every oversplit partition
    * (range-clustered on (partition, sortCols), `partitionBy` staged,
    * metadata-renamed into place), not a job per partition — a nightly
    * compaction that touches 3,650 date partitions costs the same
    * number of Spark jobs as one that touches 3. Per-partition file
    * counts follow the range partitioner's row balance, so the byte
    * target is a bin-packing hint, exact at uniform row width. */
  def compact(spark: SparkSession, path: String, partitionCol: String,
      targetBytes: Long, sortCols: Seq[String] = Nil,
      zOrderCols: Seq[String] = Nil): Seq[(String, Int, Int)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(sortCols.isEmpty || zOrderCols.isEmpty,
      "pass sortCols (linear clustering) OR zOrderCols (Morton " +
      "clustering), not both — they contradict")
    val h = headOf(spark, path)
    val files = h.files
    requireNoDeletes(h.lines, path, "compact")
    requireUniformSpec(files, partitionCol, "compact")
    val sizes: Map[String, Long] = listDataFiles(h.fs, h.root, partitionCol)
      .map(f => f.getPath.toString.stripPrefix(h.qualified).stripPrefix("/") ->
        f.getLen)
      .toMap
    val byPart = files.groupBy(f => f.split("/")(0)).toSeq.sortBy(_._1)
    // the compaction plan: (partition, its files, its bin-packed target)
    val plan = byPart.flatMap { case (part, fsOfPart) =>
      val bytes = fsOfPart.map(f => sizes.getOrElse(f,
        throw new IllegalStateException(s"manifest names missing file $f"))).sum
      val nTarget = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (fsOfPart.size > nTarget) Some((part, fsOfPart, nTarget)) else None
    }
    if (plan.isEmpty) return Seq.empty
    val oldFiles = plan.flatMap(_._2)
    val targets = plan.map { case (part, _, nTarget) =>
      partValueOf(part, partitionCol) -> nTarget
    }.toMap
    // maintenance read: partition column typed STRING (raw dir value,
    // no inference) so the plan key ↔ routed value ↔ staged dir name
    // identity holds for values inference would mangle ("01" → int 1);
    // on a lineage-enabled layout the read also surfaces `_row_id`, so
    // the rewritten files materialize it — compaction keeps row identity
    val lines = rewriteSurvivors(h, "compact",
      readForMaintenanceLineage(spark, h.qualified, oldFiles, partitionCol,
        h.meta, h.lines),
      partitionCol, sortCols, zOrderCols, targets, plan.map(_._1))
    val movedByValue = lines.map(pathOf).groupBy(partValueOf(_, partitionCol))
    commit(h.fs, h.root, Some(h.v), oldFiles.toSet, lines,
      Map("op" -> "compact")): Unit
    plan.map { case (part, fsOfPart, _) =>
      (part, fsOfPart.size,
        movedByValue.get(partValueOf(part, partitionCol)).fold(0)(_.size))
    }
  }

  /** Row deletion committed through the manifest. Discovery is a
    * single-job probe (per-partition delete/keep counts from one
    * aggregate over the SNAPSHOT's files); dirty partitions rewrite to
    * survivors (re-clustered on `sortCols`), fully emptied partitions
    * simply drop out of the manifest (zero data work), clean partitions
    * keep their exact entries and files. One atomic commit for the
    * whole delete. Returns (partition, rows deleted).
    *
    * The rewrite is ALSO one distributed job across every partially-
    * dirty partition ([[compact]]'s staged `partitionBy` discipline) —
    * the case that matters is forget-user, whose rows live in EVERY
    * date partition: probe + rewrite stay a constant number of Spark
    * jobs whether the delete dirties 3 partitions or 3,650. */
  def deleteWhere(spark: SparkSession, path: String, partitionCol: String,
      predicate: Column, sortCols: Seq[String] = Nil): Seq[(String, Long)] = {
    val h = headOf(spark, path)
    val files = h.files
    requireNoDeletes(h.lines, path, "deleteWhere")
    requireUniformSpec(files, partitionCol, "deleteWhere")
    val byPart = files.groupBy(f => f.split("/")(0))
    // NULL-predicate guard, SQL DELETE semantics: delete exactly where
    // the predicate is TRUE; a row where it is NULL (`col === x` on a
    // null cell) is kept, not lost to a bare `where(!predicate)`
    val del = coalesce(predicate, lit(false))
    // maintenance read: partition column typed STRING (raw dir value,
    // no inference) — probe value ↔ manifest dir name ↔ staged dir
    // name stay one identity (see Sink.readForMaintenance)
    val dirty = resolveRenames(Sink.readForMaintenance(spark, h.qualified,
        files.map(f => s"${h.qualified}/$f"), partitionCol,
        maintPhysSchema(h.meta, partitionCol)), h.meta)
      .groupBy(col(partitionCol).as("__part"))
      .agg(
        sum(when(del, 1L).otherwise(0L)).as("n_del"),
        count(lit(1)).as("n_rows"))
      .where(col("n_del") > 0)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (dirty.isEmpty) return Seq.empty
    def partDirName(value: String): String =
      s"$partitionCol=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)}"
    val removed = scala.collection.mutable.Set.empty[String]
    val partial = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    dirty.foreach { case (value, nDel, nRows) =>
      val part = partDirName(value)
      val old = byPart.getOrElse(part,
        throw new IllegalStateException(
          s"probe returned partition '$part' not present in snapshot v=${h.v}"))
      removed ++= old
      if (nDel < nRows) partial += ((value, old))
    }
    // ONE survivor-rewrite job for ALL partially-dirty partitions, each
    // keeping its old file width, and each must restage (it has
    // survivors by construction). basePath read so a predicate
    // referencing the PARTITION column resolves exactly as in the
    // probe; partitionBy strips it from the staged data files, as a
    // Hive layout requires. Lineage layouts read survivors WITH their
    // ids — the rewrite keeps them.
    val added =
      if (partial.isEmpty) Seq.empty[String]
      else rewriteSurvivors(h, "delete",
        readForMaintenanceLineage(spark, h.qualified,
          partial.flatMap(_._2).toSeq, partitionCol, h.meta, h.lines)
          .where(!del),
        partitionCol, sortCols, Nil,
        partial.map { case (value, old) => value -> old.size }.toMap,
        partial.map { case (value, _) => partDirName(value) })
    commit(h.fs, h.root, Some(h.v), removed.toSet, added,
      Map("op" -> "delete")): Unit
    dirty.toSeq.map { case (value, nDel, _) => (partDirName(value), nDel) }
  }

  /** The staged part files under a write's output dir. */
  private def partFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))

  /** Stage a row-level write's matches under `dir` with the scan's
    * parallelism — no single task funnels the match set — in ONE job
    * that also reports what the commit needs: how many rows landed,
    * summed from the staged footers (exact under task retries), and the
    * data files `fileCol` references, observed on the same write as a
    * set (a retried task cannot skew it) — the commit's `mustBeLive`
    * and `dvRefs`. */
  private def stageMatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, rows: DataFrame,
      fileCol: String): (Long, Set[String]) = {
    val seen = org.apache.spark.sql.Observation()
    rows.observe(seen, collect_set(col(fileCol)).as("files"))
      .write.parquet(dir.toString)
    val n = footersOf(rows.sparkSession,
      partFiles(fs, dir).map(_.getPath.toString)).map(rowsOf).sum
    (n, seen.get("files").asInstanceOf[scala.collection.Seq[String]].toSet)
  }

  /** The one deletion-vector write: pack `n` staged `(dv_file, dv_pos)`
    * pairs into [[vectorFileCount]] files under `stg`, then move them
    * under `_deletes/`. A vector of at most `cap` rows is one file
    * written by one task without a shuffle (a single job); a larger one
    * spreads over ceil(n / cap) tasks, so no single task funnels an
    * unbounded match set. Returns the moved vectors' root-relative
    * paths. The caller owns `stg` and deletes it. */
  private def writeVectors(h: Head, stg: org.apache.hadoop.fs.Path,
      pairs: DataFrame, n: Long, cap: Long): Seq[String] = {
    val vecStg = new org.apache.hadoop.fs.Path(stg, "vec")
    val k = vectorFileCount(n, cap)
    (if (k == 1) pairs.coalesce(1) else pairs.repartition(k))
      .write.parquet(vecStg.toString)
    val dvDir = new org.apache.hadoop.fs.Path(h.root, DeletesDir)
    h.fs.mkdirs(dvDir)
    partFiles(h.fs, vecStg).map { f =>
      val dst = new org.apache.hadoop.fs.Path(dvDir, f.getPath.getName)
      if (!h.fs.rename(f.getPath, dst))
        throw new IllegalStateException(s"deletion-vector move failed: $dst")
      s"$DeletesDir/${f.getPath.getName}"
    }
  }

  /** MERGE-ON-READ row deletion: where [[deleteWhere]] REWRITES every
    * dirty partition (copy-on-write), this commits a DELETION VECTOR —
    * the matched rows' (file, position) pairs as a parquet sidecar under
    * `_deletes/` — and readers subtract it ([[applyDeletesKeyed]]). Write
    * cost is O(matched rows), not O(dirty partitions): at 100 TB a
    * forget-user request whose rows touch every date partition commits
    * in one small write instead of rewriting the table's width, which
    * is why Delta/Iceberg v2 made this their default delete path. The
    * read-side anti-join is the price, paid until
    * [[materializeDeletes]] folds the vectors into a file-grain rewrite.
    * Two jobs when the match set fits one vector file: the scan stages
    * the matches and reports their count and referenced files
    * ([[stageMatches]]), and [[writeVectors]] packs them.
    *
    * Idempotent stacking: vectors accumulate across calls, rows an
    * outstanding vector already hides are never re-marked, and a rerun
    * of the same predicate matches nothing (reads are DV-aware).
    * Concurrency: the commit removes nothing but DEPENDS on the
    * referenced data files (`mustBeLive`) — racing a rewrite that
    * re-files them aborts instead of committing positions into files
    * that no longer exist. Returns (version, rows marked); a no-match
    * call makes no commit and returns the current version. */
  def deleteWhereMoR(spark: SparkSession, path: String, partitionCol: String,
      predicate: Column,
      vectorRowCap: Long = graft.Config.MaxVectorFileRows): (Long, Long) = {
    require(vectorRowCap > 0, s"vectorRowCap must be positive, got $vectorRowCap")
    // ONE manifest resolution feeds files, vectors, and schema
    val h = headOf(spark, path)
    val qualified = h.qualified
    requireNoEqDeletes(h.lines, path, "deleteWhereMoR")
    requireUniformSpec(h.files, partitionCol, "deleteWhereMoR")
    val del = coalesce(predicate, lit(false))
    // recorded schema: the predicate may reference an evolved column,
    // which must read NULL in pre-evolution files exactly as it does
    // for the snapshot reader — and a RENAMED column must fold from its
    // retired physical name, or the predicate would silently miss every
    // pre-rename row (the keyed scan does both)
    val markedAll = keyedScan(spark, qualified, h.meta, h.files, None)
      .where(del)
      .select(col("__dv_file").as("dv_file"), col("__dv_pos").as("dv_pos"))
    val marked = vectorsOf(spark, qualified, h.deletes).fold(markedAll)(dv =>
      markedAll.join(dv, Seq("dv_file", "dv_pos"), "left_anti"))
    // stage the matches, then pack them into vector files
    val stg = stagingDir(h.root, "mor")
    val raw = new org.apache.hadoop.fs.Path(stg, "raw")
    val (n, referenced) = stageMatches(h.fs, raw, marked, "dv_file")
    if (n == 0L) { h.fs.delete(stg, true): Unit; return (h.v, 0L) }
    val moved = writeVectors(h, stg, readPairFiles(spark, Seq(raw.toString)),
      n, vectorRowCap)
    h.fs.delete(stg, true): Unit
    val nv = commit(h.fs, h.root, Some(h.v), Set.empty, moved,
      Map("op" -> "mor-delete"), mustBeLive = referenced,
      dvRefs = referenced)
    (nv, n)
  }

  /** MERGE-ON-READ row update (SQL `UPDATE … SET … WHERE …`), completing
    * the store's DML triad (append / delete / upsert / update): the
    * matched rows' current images are HIDDEN by a deletion vector and
    * their re-imaged rows land as fresh data files — BOTH in ONE atomic
    * commit, so a reader sees the table fully pre-update or fully
    * post-update, never doubled (new images visible while the old still
    * live) and never gapped (old images hidden before the new exist).
    * An update IS a delete plus a reinsert of re-imaged rows; fusing
    * them into one manifest rename is what makes it transactional.
    *
    * Write cost is O(matched rows) — the copy-on-write alternative
    * re-files every dirty partition, which for a cross-partition
    * correction at 100 TB is a table-width rewrite for a few thousand
    * changed rows (the [[deleteWhereMoR]] asymmetry, generalized). ONE
    * scan of the table stages the matches ([[stageMatches]], which also
    * reports their count and referenced files); the vector and the new
    * images both derive from the staged match set and are written at
    * the same time, so everything after the scan is O(matched).
    *
    * `set` maps existing DATA columns to their new expressions
    * (evaluated against the row's CURRENT image — `value * 2` doubles
    * the old value). The partition column cannot be set: a row changing
    * partitions is a delete plus an append ([[merge]]'s partition-stable
    * contract). Updates are DV-aware — rows an outstanding vector hides
    * are invisible to the predicate — and the new images land in files
    * no vector references. Concurrency: the commit removes nothing but
    * depends on the files its vector marks (`mustBeLive`), so racing a
    * rewrite that re-files them aborts instead of committing positions
    * into dead files. NOT idempotent by design (SQL UPDATE: a rerun
    * whose predicate still matches re-applies) — use a self-falsifying
    * predicate or a ledger key in `meta` where reruns must no-op.
    * Returns (version, rows updated); a no-match call commits nothing. */
  def updateWhere(spark: SparkSession, path: String, partitionCol: String,
      predicate: Column, set: Map[String, Column],
      meta: Map[String, String] = Map.empty,
      vectorRowCap: Long = graft.Config.MaxVectorFileRows): (Long, Long) = {
    require(vectorRowCap > 0, s"vectorRowCap must be positive, got $vectorRowCap")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    require(!set.contains(partitionCol),
      s"updateWhere cannot SET partition column '$partitionCol' — a row " +
      "changing partitions is a delete plus an append (partition-stable " +
      "rows, the merge contract)")
    require(!set.contains(RowIdCol),
      s"updateWhere cannot SET '$RowIdCol' — row identity is engine-" +
      "managed (an update KEEPS the row's id; that is the point)")
    // ONE manifest resolution feeds files, vectors, schema, and stats
    val h = headOf(spark, path)
    requireNoEqDeletes(h.lines, path, "updateWhere")
    requireUniformSpec(h.files, partitionCol, "updateWhere")
    val pred = coalesce(predicate, lit(false))
    val lineage = rowIdsOn(h.meta)
    // recorded schema: the predicate or a SET expression may reference
    // an evolved column, which must read NULL in pre-evolution files
    // exactly as it does for the snapshot reader — renamed columns fold
    // from their retired physical names for the same reason. Lineage
    // layouts read `_row_id` too — an UPDATE is the same row re-imaged,
    // so the new image keeps the id (what lets changeDiffLineage pair
    // pre/post).
    if (lineage) requireLineageEntries(h.lines, path)
    val data = keyedScan(spark, h.qualified, h.meta, h.files,
      if (lineage) Some(basesOf(h.lines)) else None)
    set.keys.foreach(k => require(data.columns.contains(k),
      s"updateWhere SET references unknown column '$k' " +
      s"(table has: ${data.columns.filterNot(_.startsWith("__dv_")).mkString(", ")})"))
    // match against LIVE rows only: a row an outstanding vector already
    // hides is deleted — the update must neither re-image nor resurrect it
    val hits = applyDeletesKeyed(spark, h.qualified, data, h.deletes)
      .where(pred)
    // ONE scan of the table stages the matches (old identity + full
    // image); vector and new images derive from the staged copy
    val stg = stagingDir(h.root, "update")
    val matchedDir = new org.apache.hadoop.fs.Path(stg, "matched")
    val (n, referenced) = stageMatches(h.fs, matchedDir, hits, "__dv_file")
    if (n == 0L) { h.fs.delete(stg, true): Unit; return (h.v, 0L) }
    val matched = spark.read.schema(hits.schema).parquet(matchedDir.toString)
    // the new images: SET expressions over the old image, clustered one
    // file per touched partition
    val images = set.foldLeft(matched) { case (df, (k, e)) => df.withColumn(k, e) }
      .drop("__dv_file", "__dv_pos")
    // the vector hiding the old images (deleteWhereMoR's sidecar shape)
    // and the images are independent writes: they run at once
    val (dvMoved, moved) = concurrently(spark)(writeVectors(h, stg,
        matched.select(col("__dv_file").as("dv_file"),
          col("__dv_pos").as("dv_pos")), n, vectorRowCap))(
      stagePartitioned(h.fs, h.root, "update",
        images.repartition(col(partitionCol)), partitionCol))
    h.fs.delete(stg, true): Unit
    val nv = commit(h.fs, h.root, Some(h.v), Set.empty,
      dvMoved ++ statLines(spark, h.fs, h.root, moved, h.meta, images.schema),
      Map("op" -> "update") ++ meta, mustBeLive = referenced,
      dvRefs = referenced)
    (nv, n)
  }

  /** How many files a deletion vector of `n` rows packs into:
    * ceil(n / cap) (cap defaults to [[graft.Config.MaxVectorFileRows]]),
    * so the common forget-user sized vector stays one sidecar file
    * while a pathological table-wide predicate splits across tasks
    * instead of funneling through one (a `repartition(1)` write,
    * capped). */
  private[graft] def vectorFileCount(n: Long, cap: Long): Int =
    math.max(1L, (n + cap - 1) / cap).toInt

  /** Retire every outstanding deletion vector by rewriting EXACTLY the
    * data files it touches — file-grain copy-on-write, the compaction
    * half of the merge-on-read bargain. Untouched files (including
    * other files of the same partition) keep their manifest entries and
    * physical bytes; touched files rewrite to their survivors (one
    * [[Sink.packPartitioned]] job, per-partition file counts preserved,
    * re-clustered on `sortCols`); the vectors and the old files retire
    * in the SAME atomic commit, so a reader sees vectors+old-files or
    * survivors — never both, never neither. Constant number of Spark
    * jobs regardless of how many files the vectors touch. Returns
    * (partition dir, vector rows applied). */
  def materializeDeletes(spark: SparkSession, path: String,
      partitionCol: String, sortCols: Seq[String] = Nil): Seq[(String, Long)] =
    materializeAt(spark, headOf(spark, path), partitionCol, sortCols, None)

  /** [[materializeDeletes]] at `h`. `perFileKnown` is the vectors' per-file
    * row counts ([[vectorCounts]]) when the caller already holds them —
    * [[maintain]] hands over its audit's pass — else computed here. */
  private def materializeAt(spark: SparkSession, h: Head,
      partitionCol: String, sortCols: Seq[String],
      perFileKnown: Option[Seq[(String, Long)]]): Seq[(String, Long)] = {
    val dvs = h.deletes
    if (dvs.isEmpty) return Seq.empty
    requireNoEqDeletes(h.lines, h.root.toString, "materializeDeletes")
    requireUniformSpec(h.files, partitionCol, "materializeDeletes")
    // every delete entry is a position vector here (no equality tier)
    val dvDf = vectorsOf(spark, h.qualified, dvs).get
    // O(touched files) driver state — the vectors' reference set
    val perFile = perFileKnown.getOrElse(vectorCounts(spark, h))
    val affected = perFile.map(_._1)
    val live = h.files.toSet
    affected.foreach(f => require(live(f),
      s"deletion vector references non-live file $f — corrupted manifest?"))
    val targets = affected.groupBy(partValueOf(_, partitionCol))
      .view.mapValues(_.size).toMap
    // lineage-aware read surfaces `_row_id` so the rewrite carries it;
    // the (file, pos) keys it materializes double as the DV-subtract
    // join key (one derivation, shared — _metadata would no longer
    // resolve after the id-attach join)
    val keyed = readForMaintenanceLineageKeyed(spark, h.qualified,
      affected.toSeq, partitionCol, h.meta, h.lines)
    val survivors = keyed.join(dvDf,
        keyed("__dv_file") === dvDf("dv_file") &&
          keyed("__dv_pos") === dvDf("dv_pos"),
        "left_anti")
      .drop("__dv_file", "__dv_pos")
    // a partition whose touched files emptied out does not restage —
    // legal; one that kept survivors must
    val lines = rewriteSurvivors(h, "materialize", survivors,
      partitionCol, sortCols, Nil, targets, affected.map(_.split("/")(0)))
    commit(h.fs, h.root, Some(h.v), affected.toSet ++ dvs.toSet, lines,
      Map("op" -> "materialize")): Unit
    perFile.groupBy { case (f, _) => f.split("/")(0) }.view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
  }

  /** Atomic APPEND: land `rows` as a new snapshot version — the ingest
    * half of the manifest protocol ([[compact]]/[[deleteWhere]] are the
    * maintenance half). Files stage through a hidden dir, move into
    * their `partitionCol=…` dirs (unique writer names — nothing
    * collides, nothing is referenced until the commit), and the new
    * manifest = previous files + new files lands with ONE atomic rename:
    * a concurrent reader sees the pre-append or post-append snapshot,
    * never a partial batch. On a layout with no manifest yet, the append
    * bootstraps version 1 (batch backfill and streaming ingest share one
    * code path).
    *
    * `meta` rides in the manifest header (`#key=value`) — the streaming
    * ingest stores its (run, batch) identity there, which is what makes
    * micro-batch replays detectable WITHOUT a separate transaction log
    * (see [[graft.streaming.EventStreams.appendBatchToSnapshot]]).
    * An empty `rows` still commits (metadata-only version): an empty
    * micro-batch must advance the batch marker or its replay would
    * re-run forever.
    *
    * Scale: the data write is the caller's partitioned write (same cost
    * as any ingest); the commit adds one manifest write + one rename
    * regardless of batch size or partition count. */
  def append(spark: SparkSession, path: String, partitionCol: String,
      rows: DataFrame, meta: Map[String, String] = Map.empty): Long = {
    require(rows.columns.contains(partitionCol),
      s"append rows lack partition column '$partitionCol'")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    val prev = committedVersions(fs, root).lastOption
    // honor the layout's declared stats / lineage / null-count state
    // (inherited manifest keys) — an appended batch's files must prune
    // and id-assign like any others; a BOOTSTRAP append may declare them
    // via `meta` (the streaming-ingest seam)
    val prevMeta = prev.map(v => parseMeta(manifestTextFs(fs, root, v)))
      .getOrElse(Map.empty)
    // after evolvePartitionSpec, appends must target the ACTIVE spec —
    // an old-spec append would silently grow the generation a migration
    // is trying to retire (fail BEFORE staging anything)
    prevMeta.get("pcol").foreach(p => require(p == partitionCol,
      s"append with partition column '$partitionCol' but the table's " +
      s"active spec is '$p' — after evolvePartitionSpec, writers use " +
      "the new spec"))
    val moved = stagePartitioned(fs, root, "append", rows, partitionCol)
    val tableMeta = Seq("stats", "rowids", "nullstats")
      .flatMap(k => prevMeta.get(k).orElse(meta.get(k)).map(k -> _)).toMap
    val lines = statLines(spark, fs, root, moved, tableMeta, rows.schema)
    // SCHEMA EVOLUTION: a batch may carry columns the table has never
    // seen — the recorded-schema widen happens INSIDE commit's retry
    // loop against the LATEST manifest ([[widenRecordedSchema]]), so a
    // rebase widens the concurrent winner's schema instead of
    // overriding it with a stale precomputation (two racing appends
    // each adding a column both survive; two adding the SAME column
    // with different types collide on the type check either order).
    // Removes nothing → commutes with ANY concurrent commit: a lost
    // version race rebases onto the winner's file list and retries.
    commit(fs, root, prev, Set.empty, lines,
      Map("op" -> "append") ++
        (if (prev.isEmpty) Map("pcol" -> partitionCol)
         else Map.empty[String, String]) ++ meta,
      widenSchema = Some((rows.schema, partitionCol)))
  }

  /** EQUALITY DELETE: delete every row whose key is in `keys`, in
    * O(keys) — the commit writes ONLY the key sidecar, never reads a
    * data file or computes a position. Where [[deleteWhereMoR]] pays a
    * table SCAN to find (file, position) pairs, this is the delete a
    * STREAMING writer can afford on every batch; readers apply it as
    * an anti-join against files older than the delete ([[applyEqKeyed]]
    * — the Iceberg v2 equality-delete contract). Requires an
    * `eqdel`-enabled layout ([[init]]`(eqDeletes = true)` or a
    * bootstrap append with meta `eqdel=on`): only then is every entry
    * version-stamped, which is what sequences deletes against appends.
    * The key-column list is fixed at the layout's first equality
    * delete. NULL key values match nothing (SQL equality) — and the
    * WRITE path refuses them ([[stageEqSidecars]]), so the divergence
    * from Iceberg v2's null-equal reference can never silently leave
    * prior images live. Returns the committed version; an empty key
    * set commits nothing.
    *
    * The tier is TRANSIENT by design: each outstanding sidecar costs
    * every reader one anti-join, so fold them with
    * [[convertEqDeletes]] (one key-scan → position vectors), after
    * which the normal DV ladder (materialize → compact) applies.
    * Partition-rewrite maintenance refuses while any equality delete
    * is outstanding. Branches don't compose with equality deletes
    * (branch-local version numbering would alias the stamps) —
    * [[createBranch]] refuses on eqdel layouts. */
  def deleteByKeys(spark: SparkSession, path: String, keys: DataFrame,
      meta: Map[String, String] = Map.empty): Long = {
    val h = headOf(spark, path)
    val vMeta = h.meta
    require(vMeta.get("eqdel").contains("on"),
      s"$path is not equality-delete enabled — declare eqDeletes at init " +
      "or bootstrap (entry version stamps must exist from table birth)")
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    vMeta.get("eqkeys").foreach(k => require(k == keyCols.mkString(","),
      s"layout's equality deletes are keyed on [$k]; this delete uses " +
      s"[${keyCols.mkString(",")}] — the key list is fixed at first use"))
    // sidecars store the keys at the recorded types, the types every
    // reader declares for them ([[eqKeyFrame]])
    val typed = recordedSchema(vMeta).fold(keys) { rec =>
      keyCols.foreach(c => require(rec.fieldNames.contains(c),
        s"equality-delete key column '$c' is not in the table schema"))
      keys.select(keyCols.map(c => col(c).cast(rec(c).dataType).as(c)): _*)
    }
    val moved = stageEqSidecars(spark, h.fs, h.root, typed)
    if (moved.isEmpty) return h.v // empty key set: nothing to delete
    val lines = moved.map(f => s"$f\tk:${keyCols.mkString(",")}")
    commit(h.fs, h.root, Some(h.v), Set.empty, lines,
      Map("op" -> "eq-delete", "eqkeys" -> keyCols.mkString(",")) ++ meta)
  }

  /** STREAMING UPSERT: land `batch` and equality-delete its keys in ONE
    * commit — every key's previous row is hidden, the batch's own rows
    * survive (they are stamped AT the commit version; the delete
    * applies strictly below it). Cost is O(batch): the batch's
    * partitioned write plus one key sidecar — the table is never read,
    * which is what makes per-micro-batch MERGE affordable at 100 TB
    * (the [[merge]] path reads the candidate files and rewrites every
    * file that holds a batch key).
    * Within-batch duplicate keys all survive — dedup the batch first
    * if downstream expects one row per key. Schema evolution matches
    * [[append]] (the recorded schema widens). */
  def upsertByKeys(spark: SparkSession, path: String, partitionCol: String,
      batch: DataFrame, keyCols: Seq[String],
      meta: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "upsertByKeys needs at least one key column")
    require(batch.columns.contains(partitionCol),
      s"upsert batch lacks partition column '$partitionCol'")
    keyCols.foreach(c => require(batch.columns.contains(c),
      s"upsert batch lacks key column '$c'"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    val prev = committedVersions(fs, root).lastOption
    val prevMeta = prev.map(v => parseMeta(manifestTextFs(fs, root, v)))
      .getOrElse(Map.empty)
    require(prev.isEmpty || prevMeta.get("eqdel").contains("on"),
      s"$path is not equality-delete enabled — declare eqDeletes at init " +
      "or bootstrap (entry version stamps must exist from table birth)")
    prevMeta.get("eqkeys").foreach(k => require(k == keyCols.mkString(","),
      s"layout's equality deletes are keyed on [$k]; this upsert uses " +
      s"[${keyCols.mkString(",")}] — the key list is fixed at first use"))
    prevMeta.get("pcol").foreach(p => require(p == partitionCol,
      s"upsert with partition column '$partitionCol' but the table's " +
      s"active spec is '$p'"))
    // stage the data like an append
    val movedData = stagePartitioned(fs, root, "upsert", batch, partitionCol)
    val tableMeta = Seq("stats", "rowids", "nullstats")
      .flatMap(k => prevMeta.get(k).orElse(meta.get(k)).map(k -> _)).toMap
    val dataLines = statLines(spark, fs, root, movedData, tableMeta, batch.schema)
    // stage the key sidecar — a fresh upserted table (no previous rows)
    // still writes it: replayed or out-of-order batches must hide older
    // images exactly like steady-state ones
    val movedKeys =
      stageEqSidecars(spark, fs, root, batch.select(keyCols.map(col): _*))
    val eqLines = movedKeys.map(f => s"$f\tk:${keyCols.mkString(",")}")
    commit(fs, root, prev, Set.empty, dataLines ++ eqLines,
      Map("op" -> "upsert", "eqdel" -> "on",
        "eqkeys" -> keyCols.mkString(",")) ++
        (if (prev.isEmpty) Map("pcol" -> partitionCol)
         else Map.empty[String, String]) ++ meta,
      widenSchema = Some((batch.schema, partitionCol)))
  }

  /** Fold every outstanding equality delete into POSITION vectors: one
    * key-scan of the files subject to any delete (add-version below the
    * newest delete — older generations only, never the whole table on
    * an append-mostly layout) finds the hidden rows' (file, position)
    * pairs, which commit as normal DV sidecars WHILE the equality
    * entries retire — one atomic, row-preserving commit (`eq-convert`;
    * change feeds cross it silently). After it, the standard
    * maintenance ladder ([[maintainDeletes]] → [[materializeDeletes]]
    * → [[compact]]) applies unchanged. Returns (version, positions
    * written); no outstanding equality deletes → no commit. */
  def convertEqDeletes(spark: SparkSession, path: String,
      vectorRowCap: Long = graft.Config.MaxVectorFileRows): (Long, Long) = {
    require(vectorRowCap > 0, s"vectorRowCap must be positive, got $vectorRowCap")
    val h = headOf(spark, path)
    val qualified = h.qualified
    val eqs = eqDeletesOf(h.deleteLines)
    if (eqs.isEmpty) return (h.v, 0L)
    val maxD = eqs.map(_.d).max
    // candidate files: only those some delete can reach
    val candLines = h.dataLines.filter(l => addVersionOf(l) < maxD)
    if (candLines.isEmpty) {
      // nothing reachable — the sidecars are dead weight; retire them
      val nv = commit(h.fs, h.root, Some(h.v), eqs.map(_.file).toSet, Nil,
        Map("op" -> "eq-convert"))
      return (nv, 0L)
    }
    // rows already position-hidden need no second position
    val visible = applyDeletesKeyed(spark, qualified,
      keyedScan(spark, qualified, h.meta, candLines.map(pathOf), None),
      h.deletes)
    val eqk = eqKeyFrame(spark, qualified, eqs, visible.schema)
    val keyCols = eqKeyColsOf(eqs)
    val addv = org.apache.spark.sql.functions.broadcast {
      import spark.implicits._
      candLines.map(l => (pathOf(l), addVersionOf(l)))
        .toDF("__eq_file", "__eq_addv")
    }
    val withV = visible
      .join(addv, visible("__dv_file") === addv("__eq_file"), "left")
      .withColumn("__eq_v", coalesce(col("__eq_addv"), lit(0L)))
    val marked = withV.join(eqk,
        keyCols.map(c => withV(c) === eqk(c)).reduce(_ && _) &&
          eqk("__eq_d") > withV("__eq_v"),
        "left_semi")
      .select(col("__dv_file").as("dv_file"), col("__dv_pos").as("dv_pos"))
    val stg = stagingDir(h.root, "eqconv")
    val raw = new org.apache.hadoop.fs.Path(stg, "raw")
    val (n, referenced) = stageMatches(h.fs, raw, marked, "dv_file")
    val moved =
      if (n == 0L) Nil
      else writeVectors(h, stg, readPairFiles(spark, Seq(raw.toString)),
        n, vectorRowCap)
    h.fs.delete(stg, true): Unit
    val nv = commit(h.fs, h.root, Some(h.v), eqs.map(_.file).toSet, moved,
      Map("op" -> "eq-convert"), mustBeLive = referenced,
      dvRefs = referenced)
    (nv, n)
  }

  /** Rewrite-commit for a partition subset: every partition named by
    * `replacement`'s `partitionCol` values gets its files REPLACED by
    * the replacement rows; every other partition keeps its exact
    * manifest entries and physical files. The whole rewrite lands as ONE
    * atomic manifest commit — which makes this the table-format answer
    * to the maintenance-ledger problem: the caller's `meta` (e.g. a
    * delta id) commits in the SAME rename as the data, so "was this
    * delta applied?" is a manifest read and a crash can never separate
    * the ledger from the rewrite. Crash before the commit leaves only
    * invisible staged files — a rerun redoes the whole pass.
    *
    * The caller shapes the replacement's file layout (repartition /
    * sortWithinPartitions before the call — same contract as a
    * partitioned write). Partitions absent from `replacement` are
    * untouched; producing an EMPTY partition is not expressible here
    * (use [[deleteWhere]] to drop rows). */
  def replacePartitions(spark: SparkSession, path: String, partitionCol: String,
      replacement: DataFrame, meta: Map[String, String] = Map.empty): Long = {
    require(replacement.columns.contains(partitionCol),
      s"replacement rows lack partition column '$partitionCol'")
    val h = headOf(spark, path, "call Snapshot.init first")
    requireNoDeletes(h.lines, path, "replacePartitions")
    requireUniformSpec(h.files, partitionCol, "replacePartitions")
    val moved = stagePartitioned(h.fs, h.root, "replace", replacement,
      partitionCol)
    val touched = moved.map(_.split("/")(0)).toSet
    val replaced = h.files.filter(f => touched(f.split("/")(0))).toSet
    val lines = statLines(spark, h.fs, h.root, moved, h.meta,
      replacement.schema)
    // `replacedParts`: a rebase aborts if a CONCURRENT commit landed a
    // file into a partition this commit replaces wholesale — that file
    // was never read into the replacement, so rebasing would silently
    // drop its rows (the Iceberg validateAddedDataFiles check)
    commit(h.fs, h.root, Some(h.v), replaced, lines,
      Map("op" -> "replace") ++ meta, replacedParts = touched)
  }

  /** UPSERT (MERGE INTO) committed through the manifest: every row of
    * `updates` REPLACES the current rows with the same `keyCols` value,
    * or INSERTS if the key is new — one atomic [[rewriteKeyed]] commit.
    * Only partitions holding an update's `partitionCol` value are read
    * (the isin is a literal list, so a planning-time partition filter
    * on the candidate scan), and only the files there that hold an
    * updated key are rewritten, clustered by `sortCols`: every other
    * file keeps its exact manifest entry and bytes. Updated keys are
    * new images with fresh row ids on a lineage layout (a batch's
    * `_row_id` is dropped); [[updateWhere]] is the id-keeping update.
    *
    * Contract: keys are PARTITION-STABLE — an update must carry the
    * partition value its key already lives under (the date-keyed upsert
    * every warehouse load runs); [[mergeAnywhere]] finds keys that
    * moved. `updates` must match the table's column set (use [[append]]
    * for schema-evolving batches). The batch's distinct keys collect to
    * the driver once, O(batch) memory, as for SQL MERGE. */
  def merge(spark: SparkSession, path: String, partitionCol: String,
      updates: DataFrame, keyCols: Seq[String],
      sortCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(updates.columns.contains(partitionCol),
      s"merge updates lack partition column '$partitionCol'")
    // one collect of the distinct (partition, key) pairs gives the
    // touched partitions as a native-typed literal list (a planning-time
    // PartitionFilter; a cast would defeat pruning) and the keys
    val pairs = updates.select((partitionCol +: keyCols).map(col): _*)
      .distinct().collect()
    val touched = pairs.map(_.get(0)).distinct.toIndexedSeq
    val keys = localRows(spark,
      pairs.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.tail)).distinct,
      updates.select(keyCols.map(col): _*).schema)
    rewriteKeyed(spark, path, partitionCol, keys, sortCols)(
      upsertRows(keys, updates.drop(RowIdCol),
        Some(col(partitionCol).isin(touched: _*))))
      .getOrElse(throw new IllegalArgumentException(
        "merge with an empty updates batch"))
  }

  /** MERGE with CROSS-PARTITION keys, the contract [[merge]] does not
    * serve: an update's key may live under another partition value than
    * the update carries. Old locations come from the manifest's key
    * bounds ([[rewriteKeyed]]'s candidates, as for SQL MERGE — declare
    * stats on the key, or every file is a candidate), and a key that
    * moved is delete-from-old + insert-into-new inside ONE commit: each
    * file holding an updated key is rewritten without it (a file left
    * empty retires), and the images land in their new partitions.
    * Every other file keeps its exact manifest entry. A batch that
    * carries `_row_id` passes it through on a lineage layout; a plain
    * batch takes fresh ids. Rerun-idempotent: a second run finds the
    * keys at their new locations and lands the same rows again. */
  def mergeAnywhere(spark: SparkSession, path: String, partitionCol: String,
      updates: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "mergeAnywhere needs at least one key column")
    (partitionCol +: keyCols).foreach(c => require(updates.columns.contains(c),
      s"mergeAnywhere updates lack column '$c'"))
    val distinct = updates.select(keyCols.map(col): _*).distinct()
    val keys = localRows(spark, distinct.collect(), distinct.schema)
    rewriteKeyed(spark, path, partitionCol, keys)(upsertRows(keys, updates, None))
      .getOrElse(throw new IllegalArgumentException(
        "mergeAnywhere with an empty updates batch"))
  }

  /** `rows` as a local relation: the batch keys' later reads (the
    * candidate probe, the hit semi-join, the survivors' anti-join) take
    * no job and never recompute the batch. */
  private def localRows(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** The [[rewriteKeyed]] callback of [[merge]] and [[mergeAnywhere]]:
    * drop every candidate row (within `scope`, when given) whose key is
    * in `keys` and add every row of `images` — duplicated batch keys
    * all land. On lineage an image without `_row_id` takes a fresh id
    * (NULL, minted at commit). Only the files that held a dropped row
    * are replaced. */
  private def upsertRows(keys: DataFrame, images: DataFrame,
      scope: Option[Column])(cand: DataFrame, scan: Seq[String] => DataFrame)
      : (Set[String], Option[DataFrame]) = {
    val keyCols = keys.columns.toSeq
    val hit = scope.fold(cand)(cand.where).join(keys, keyCols, "left_semi")
      .select("__dv_file").distinct().collect().map(_.getString(0)).toSet
    val out = cand.columns.toSeq.filterNot(Set("__dv_file", "__dv_pos"))
    val withIds =
      if (!out.contains(RowIdCol) || images.columns.contains(RowIdCol)) images
      else images.withColumn(RowIdCol, lit(null).cast(LongType))
    // the kept rows' scan is typed even when no file is hit, so the
    // union widens the images to the table's types
    (hit, Some(scan(hit.toSeq.sorted).join(keys, keyCols, "left_anti")
      .select(out.map(col): _*)
      .unionByName(withIds.select(out.map(col): _*))))
  }

  /** The FILE-GRAIN keyed rewrite under SQL MERGE
    * ([[graft.sources.sql.GraftMergeIntoCommand]]) and the library
    * upserts ([[merge]], [[mergeAnywhere]]). `keys` (columns = the key
    * columns) is a point-lookup set: it collects once, and no
    * rows means a no-op (None, nothing read). The candidates are the
    * live data files whose manifest bounds can hold a key
    * ([[keyCandidates]]); `rewrite` gets them as ONE [[keyedScan]] at
    * the head — every row carries its `(__dv_file, __dv_pos)`
    * identity, plus its `_row_id` on a lineage layout — and the same
    * scan over any subset of them. It returns the candidate files it
    * replaces and the new rows (those files' new contents plus the rows
    * to add, each carrying the table's columns, plus `_row_id` on
    * lineage — NULL mints a fresh id); no rows commits nothing. The
    * rows stage in one write, one file per partition they land in
    * (sorted by `sortCols` within it, when given), and
    * commit against the head the candidates were read at, removing
    * exactly the returned files: every other file keeps its entry and
    * bytes. A concurrent commit that re-files a removed file or adds a
    * file to a partition this one rewrote or wrote into aborts it
    * ([[commit]]'s `replacedParts`); commits elsewhere rebase.
    * Copy-on-write: outstanding deletion vectors refuse first, and so
    * does a mid-evolution layout ([[requireUniformSpec]]). Returns
    * the committed version, if any. */
  private[graft] def rewriteKeyed(spark: SparkSession, path: String,
      partitionCol: String, keys: DataFrame, sortCols: Seq[String] = Nil)(
      rewrite: (DataFrame, Seq[String] => DataFrame) =>
        (Set[String], Option[DataFrame]))
      : Option[Long] = {
    val probe = keys.collect()
    if (probe.isEmpty) return None
    val h = headOf(spark, path)
    requireNoDeletes(h.lines, path, "MERGE")
    // an old-spec row reads the active partition column as NULL, so a
    // scope on it would miss the row and its survivors would restage
    // into the default partition
    requireUniformSpec(h.files, partitionCol, "MERGE")
    val candLines = keyCandidates(h, keys.schema, probe)
    val cand = candLines.map(pathOf)
    val lineage = rowIdsOn(h.meta)
    if (lineage) requireLineageEntries(candLines, path)
    def scan(files: Seq[String]): DataFrame =
      keyedScan(spark, h.qualified, h.meta, files,
        if (lineage) Some(basesOf(candLines)) else None)
    val (removed, rows) = rewrite(scan(cand), scan)
    require(removed.subsetOf(cand.toSet),
      s"keyed rewrite of $path replaces non-candidate files ${removed -- cand}")
    rows.map { r =>
      val shaped = r.repartition(col(partitionCol))
      val moved = stagePartitioned(h.fs, h.root, "merge",
        if (sortCols.isEmpty) shaped
        else shaped.sortWithinPartitions((partitionCol +: sortCols).map(col): _*),
        partitionCol)
      commit(h.fs, h.root, Some(h.v), removed,
        statLines(spark, h.fs, h.root, moved, h.meta, r.schema),
        Map("op" -> "replace", "merge_keys" -> keys.columns.mkString(",")),
        replacedParts = (removed.toSeq ++ moved).map(_.split("/")(0)).toSet)
    }
  }

  /** The live data entries of `h` that can hold a row keyed by one of
    * `probe` (rows under `schema`, the key columns). An entry drops
    * only when its recorded bounds for some key column contain none of
    * that column's values — a binary search over the sorted values, not
    * one `[min, max]` hull: new keys lie above every file, so a hull
    * would keep nearly all of them. Only integral key columns with
    * declared stats prune, and only against integral values, which
    * widen exactly to LONG (the bounds' domain) as the ON equality
    * widens both sides. Entries without bounds, and layouts without
    * stats on a key column, keep every file. */
  private def keyCandidates(h: Head,
      schema: org.apache.spark.sql.types.StructType,
      probe: Array[org.apache.spark.sql.Row]): Seq[String] = {
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, ShortType}
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val stats = statsColsOf(h.meta)
    val recorded = recordedSchema(h.meta).map(_.fields.toSeq).getOrElse(Nil)
    val sortedKeys: Seq[(Int, IndexedSeq[Long])] =
      schema.fields.toSeq.zipWithIndex.collect {
        case (f, j) if integral(f.dataType) && stats.contains(f.name) &&
            recorded.exists(t => t.name == f.name && integral(t.dataType)) =>
          stats.indexOf(f.name) -> probe.filterNot(_.isNullAt(j))
            .map(_.get(j).asInstanceOf[Number].longValue).distinct.sorted.toIndexedSeq
      }
    h.dataLines.filter { l =>
      sortedKeys.forall { case (i, vs) =>
        statsListOf(l).lift(i).flatten.forall { case (mn, mx) =>
          // the first value >= mn, by binary search
          val next = vs.search(mn).insertionPoint
          next < vs.length && vs(next) <= mx
        }
      }
    }
  }

  /** Commits a change feed may cross WITHOUT losing attribution: they
    * re-file existing rows but change no visible row — a compaction
    * re-clusters survivors byte-identically, and a deletion-vector
    * materialization rewrites files to rows the vectors already hid. A
    * feed crossing one hands the consumer exactly the gap's APPENDED
    * files, which is still the row delta. Everything else (delete,
    * update, mor-delete, replace, restore, merge) changes what a reader
    * sees and forces a re-sync. */
  // NOTE: migrate-spec is NOT here. A spec migration re-files rows AND
  // backfills the new partition column (NULL → derived value) on every
  // migrated row — a visible image change. Crossing it silently would
  // hand consumers stale NULLs while table reads show values, and the
  // composed lineage walk would disagree with the two-state fallback.
  // Consumers therefore take the diff/resync path across a migration:
  // the diff emits the backfill as update pairs (typed consumers apply
  // O(table-sized-backfill) once, exactly what happened).
  // add-column and the combined evolve-schema commit are crossable for
  // the same reason rename/promote are: metadata-only, zero data
  // files, no visible row changes — existing rows read NULL in an
  // added column exactly as they do across a schema-WIDENING append,
  // which the feed already crosses (gap adds read under toV's recorded
  // schema).
  private val RowPreservingOps =
    Set("compact", "materialize", "evolve-spec", "eq-convert",
      "rename-column", "promote-column", "add-column", "evolve-schema")

  /** The files appended in `(fromV, toV]` when the gap is ATTRIBUTABLE —
    * every commit is an append or row-preserving, and no gap-appended
    * file was itself re-filed before consumption (a compaction that
    * swallowed an unconsumed batch folds its rows in with old ones —
    * the one case a crossable op breaks attribution, Iceberg's
    * incremental-scan rule). Left(reason) when the consumer must
    * re-sync. O(gap appends) manifest resolutions, all segment-cached —
    * never a data read. */
  private def deltaAddsInGap(spark: SparkSession, path: String,
      fromV: Long, toV: Long): Either[String, Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val committed = committedVersions(fs, root)
    if (!committed.contains(fromV) || !committed.contains(toV))
      return Left(
        s"change feed $fromV -> $toV references uncommitted/expired " +
        s"versions (committed: ${committed.mkString(",")})")
    val gap = committed.filter(v => v > fromV && v <= toV)
    // retention can leave HOLES between retained versions (a tag pins
    // an old version while expire sweeps the middle); an expired
    // intermediate's op is unknowable — it may have re-filed rows — so
    // per-append file diffs against the previous RETAINED version would
    // silently mis-attribute. Contiguous gaps only; [[changeDiff]]
    // (a pinned two-state diff) stays sound across holes.
    if (gap.size != toV - fromV)
      return Left(
        s"change feed $fromV -> $toV: ${toV - fromV - gap.size} " +
        "intermediate version(s) expired out of the gap — their commits " +
        "are unknowable, so appends can no longer be attributed — " +
        "re-sync from a full snapshot read")
    val ops = gap.map(v =>
      v -> metaOf(spark, path, v).getOrElse("op", "unknown"))
    ops.collectFirst {
      case (v, op) if op != "append" && !RowPreservingOps(op) =>
        s"change feed $fromV -> $toV crosses commit v=$v (op=$op): the " +
        "commit changes visible rows, so file-list difference no " +
        "longer equals the row delta — re-sync from a full snapshot read"
    } match {
      case Some(reason) => Left(reason)
      case None =>
        val adds = ops.collect { case (v, "append") => v }.flatMap { v =>
          val prev = committed.takeWhile(_ < v).last
          (filesOf(spark, path, v).toSet --
            filesOf(spark, path, prev).toSet).toSeq
        }
        val live = filesOf(spark, path, toV).toSet
        val consumedAway = adds.filterNot(live)
        if (consumedAway.nonEmpty) Left(
          s"change feed $fromV -> $toV: ${consumedAway.size} file(s) " +
          "appended in the gap were re-filed by a later rewrite before " +
          s"consumption (${consumedAway.sorted.take(2).mkString(", ")}) — " +
          "their rows fold in with re-filed old rows, so the feed can no " +
          "longer attribute them — re-sync from a full snapshot read")
        else Right(adds.sorted)
    }
  }

  /** Incremental change feed: the rows APPENDED between snapshot `fromV`
    * (exclusive) and `toV` (inclusive) — what a downstream consumer
    * (rollup maintenance, index append, replication) reads instead of
    * re-scanning the table. Sound because appends only ADD manifest
    * entries, so the union of the gap's per-append file adds IS the row
    * delta. The feed CROSSES row-preserving maintenance (compaction,
    * DV materialization) — routine upkeep must not force every
    * downstream into a table re-read — but REFUSES any commit that
    * changes visible rows (delete/update/replace/restore), and refuses
    * when maintenance re-filed a not-yet-consumed appended batch
    * ([[deltaAddsInGap]]); the consumer then re-syncs from a full
    * snapshot read (the Delta/Iceberg CDC contract). At 100 TB this is
    * the difference between maintenance jobs that read one batch and
    * jobs that re-read the table. */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"change feed needs fromV < toV, got $fromV -> $toV")
    val added = deltaAddsInGap(spark, path, fromV, toV) match {
      case Left(reason) => throw new IllegalStateException(reason)
      case Right(adds) => adds
    }
    changesFromAdds(spark, path, toV, added)
  }

  /** The TYPED change frame for the gap `(fromV, toV]` — the
    * [[consumeChanges]] dispatch exposed as a pure READ for callers
    * that manage their own positions (the streaming change-feed
    * source, whose offsets live in the query checkpoint): an
    * attributable gap (appends + row-preserving maintenance) returns
    * the appended rows typed `insert` — O(batch); a row-changing gap
    * returns the change diff — O(changed rows), typed
    * insert|delete (plus update pre/post pairs with `_row_id` on
    * lineage tables). Unlike consumeChanges there is NO resync
    * degradation: a positioned reader whose `fromV` expired has no
    * base to diff against and must fail loudly (its owner restarts
    * from a fresh position — the Delta-source-after-vacuum rule). */
  def changeFrame(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"change frame needs fromV <= toV, got $fromV -> $toV")
    val vs = versions(spark, path)
    require(vs.contains(toV), s"version $toV of $path is not committed")
    require(vs.contains(fromV),
      s"change frame base v$fromV of $path expired — a positioned " +
      "reader has no base to diff against; restart from a fresh position")
    val lineage = rowIdsOn(metaOf(spark, path, toV))
    def asInserts(df: DataFrame): DataFrame =
      df.withColumn("_change_type", lit("insert"))
    if (fromV == toV)
      return asInserts(
        if (lineage) readVersionLineage(spark, path, toV).limit(0)
        else readVersion(spark, path, toV).limit(0))
    deltaAddsInGap(spark, path, fromV, toV) match {
      case Right(adds) => asInserts(
        if (lineage) changesFromAddsLineage(spark, path, toV, adds)
        else changesFromAdds(spark, path, toV, adds))
      case Left(_) =>
        if (lineage) changeDiffLineage(spark, path, fromV, toV)
        else changeDiff(spark, path, fromV, toV)
    }
  }

  /** [[changesFromAdds]] with row lineage: the gap's appended rows WITH
    * their durable ids — what a typed consumer of a lineage table
    * receives on the delta path, so its keyed state lines up with the
    * diff path's update pairs. */
  private def changesFromAddsLineage(spark: SparkSession, path: String,
      toV: Long, added: Seq[String]): DataFrame =
    if (added.isEmpty) readVersionLineage(spark, path, toV).limit(0)
    else {
      val root = new org.apache.hadoop.fs.Path(path)
      val qualified = fsOf(spark, root).makeQualified(root).toString
      val (metaTo, linesTo) = stateOf(spark, path, toV)
      require(recordedSchema(metaTo).nonEmpty,
        s"lineage-enabled $path lacks a recorded schema")
      val addedSet = added.toSet
      val subsetLines = linesTo.filter(l => addedSet(pathOf(l)))
      requireLineageEntries(subsetLines, path)
      keyedScan(spark, qualified, metaTo, added, Some(basesOf(subsetLines)))
        .drop("__dv_file", "__dv_pos")
    }

  /** The read half of [[changes]], for callers that already resolved
    * the gap's adds via [[deltaAddsInGap]] (the consumers — one gap
    * resolution per cycle, not two). */
  private def changesFromAdds(spark: SparkSession, path: String, toV: Long,
      added: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val qualified = fsOf(spark, root).makeQualified(root).toString
    if (added.isEmpty) readVersion(spark, path, toV).limit(0)
    else
      // toV's recorded schema: a feed spanning a schema-evolving append
      // reads earlier batches' files NULL in the added columns, exactly
      // as readVersion(toV) would — and a gap spanning a partition-spec
      // evolution scans each generation's adds separately
      readDataAt(spark, qualified, metaOf(spark, path, toV), added, Nil)
  }

  /** FULL-FIDELITY CHANGE DATA FEED: the visible-row multiset
    * difference between two snapshots, one row per net change with
    * `_change_type` `insert` | `delete` — the feed that crosses ANY
    * commit, where [[changes]] (append attribution) refuses row-changing
    * rewrites. An UPDATE surfaces as its old image deleted + its new
    * image inserted; a compaction surfaces as NOTHING (re-filed
    * identical rows cancel); a delete as its rows deleted.
    *
    * Never a table read. Both versions resolve from one manifest read
    * each; the diff touches only
    *  - files ADDED between the versions (their toV-visible rows are
    *    candidate inserts),
    *  - files REMOVED (their fromV-visible rows are candidate deletes),
    *  - deletion-vector DELTAS on files retained in both (newly hidden
    *    pairs fetch as deletes; un-hidden pairs — a restore dropping a
    *    vector — fetch as inserts),
    * then cancels identical candidates by bag difference (group by full
    * row content, net count, re-emit |net| copies — `EXCEPT ALL` both
    * directions in one aggregation). Cost: O(re-filed + changed rows)
    * read + one shuffle at diff grain; a compaction-heavy gap reads its
    * re-filed bytes but emits zero rows, and the output is always
    * exactly the logical change. Rows read under toV's recorded schema
    * on BOTH sides, so a schema-evolving gap diffs NULL-filled old rows
    * consistently (an old row unchanged by the gap still cancels).
    *
    * This is the degraded-path upgrade for CDC consumers: where
    * [[consume]] re-syncs O(table), a caller needing row-grain deltas
    * across a delete/update/restore pays O(changed) here instead. */
  def changeDiff(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV < toV, s"change diff needs fromV < toV, got $fromV -> $toV")
    val root = new org.apache.hadoop.fs.Path(path)
    val qualified = fsOf(spark, root).makeQualified(root).toString
    val (metaTo, linesTo) = stateOf(spark, path, toV)
    val (_, linesFrom) = stateOf(spark, path, fromV)
    def finish(df: DataFrame): DataFrame = df.drop("__dv_file", "__dv_pos")
    // schema anchor: toV's files, or fromV's when the gap deleted the
    // table down to zero entries (the diff is then all deletes); scanned
    // only if some candidate set is empty
    val anchorFiles = Seq(linesTo, linesFrom)
      .map(_.filterNot(isDeleteEntry).map(pathOf)).find(_.nonEmpty)
    require(anchorFiles.nonEmpty,
      s"change diff $fromV -> $toV between two empty snapshots of $path")
    // endpoint schema = TO's (a diff across a rename serves the new
    // names; removed pre-rename files fold like any other read)
    val (plus, minus) = diffSides(spark, qualified, linesFrom, linesTo,
      keyedScan(spark, qualified, metaTo, _, None), finish,
      finish(keyedScan(spark, qualified, metaTo, anchorFiles.get.sorted, None))
        .limit(0))
    val dataCols = plus.columns.toSeq
    val weighted = plus.withColumn("__w", lit(1L))
      .unionByName(minus.withColumn("__w", lit(-1L)))
    import org.apache.spark.sql.functions.{abs, array_repeat, explode}
    weighted.groupBy(dataCols.map(col): _*)
      .agg(sum(col("__w")).as("__net"))
      .where(col("__net") =!= 0L)
      .withColumn("_change_type",
        when(col("__net") > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn("__rep",
        explode(array_repeat(lit(1), abs(col("__net")).cast("int"))))
      .drop("__net", "__rep")
  }

  /** The one change-diff sides builder both diff tiers share. Between
    * two versions' entry lines it returns the PLUS side — rows of files
    * added in the gap, visible at `toV`, and retained rows a vector
    * delta un-hid — and the MINUS side — rows of removed files, visible
    * at `fromV`, and retained rows newly hidden. These are candidates:
    * the caller cancels re-filed rows (bag count, id join). It touches
    * only
    *  - files ADDED or REMOVED between the versions,
    *  - deletion-vector DELTAS on files retained in both (the pairs a
    *    vector delta names fetch from retained files only; a pair on an
    *    added/removed file is already covered by the file diff),
    *  - on an equality-delete delta, the retained files a changed hider
    *    can reach ([[eqDeltaRetained]]).
    * Rows the (static) equality tier hides were visible at NEITHER
    * endpoint, so hiding or un-hiding them positionally is no change.
    * `readKeyed` is the caller's [[keyedScan]], `finish` shapes each
    * candidate frame, and `empty` (built at most once) types an empty
    * candidate set. */
  private def diffSides(spark: SparkSession, qualified: String,
      linesFrom: Seq[String], linesTo: Seq[String],
      readKeyed: Seq[String] => DataFrame, finish: DataFrame => DataFrame,
      empty: => DataFrame): (DataFrame, DataFrame) = {
    lazy val none = empty
    val filesTo = linesTo.filterNot(isDeleteEntry).map(pathOf).toSet
    val filesFrom = linesFrom.filterNot(isDeleteEntry).map(pathOf).toSet
    val delTo = linesTo.filter(isDeleteEntry).map(pathOf).toSet
    val delFrom = linesFrom.filter(isDeleteEntry).map(pathOf).toSet
    val eqTo = eqDeletesOf(linesTo.filter(isDeleteEntry))
    val eqFrom = eqDeletesOf(linesFrom.filter(isDeleteEntry))
    val retained = filesFrom & filesTo
    // entry lines are immutable once committed, so either endpoint's
    // line serves the add-version lookup — union covers removed files
    val allLines = (linesFrom ++ linesTo).distinct
    def visible(files: Set[String], dels: Set[String],
        eqs: Seq[EqDelete]): DataFrame =
      if (files.isEmpty) none
      else finish(applyEqKeyed(spark, qualified,
        applyDeletesKeyed(spark, qualified, readKeyed(files.toSeq.sorted),
          dels.toSeq.sorted), allLines, eqs))
    // the rows the `changed` vectors name that the `cover` vectors (the
    // other endpoint's) do not: a pair covered at both ends stayed
    // hidden, so it is no change — a restore dropping vector A then a
    // re-delete writing vector B with the same pairs diffs to NOTHING
    def fetchPairRows(changed: Set[String],
        cover: Set[String]): DataFrame =
      vectorsOf(spark, qualified, changed.toSeq.sorted).fold(none) { dv =>
        val pairs = vectorsOf(spark, qualified, cover.toSeq.sorted)
          .fold(dv)(c => dv.join(c, Seq("dv_file", "dv_pos"), "left_anti"))
        val refs = pairs.select(col("dv_file")).distinct().collect()
          .map(_.getString(0)).filter(retained).toSeq.sorted
        if (refs.isEmpty) none
        else {
          val keyed = readKeyed(refs)
          finish(applyEqKeyed(spark, qualified, keyed.join(pairs,
            keyed("__dv_file") === pairs("dv_file") &&
              keyed("__dv_pos") === pairs("dv_pos"), "left_semi"),
            allLines, eqTo))
        }
      }
    val (unHidden, newlyHidden) =
      if (eqTo.map(_.file).toSet == eqFrom.map(_.file).toSet)
        (fetchPairRows(delFrom -- delTo, delTo),
          fetchPairRows(delTo -- delFrom, delFrom))
      else
        // an eq-delete DELTA (a key sidecar landed or retired in the
        // gap) changes retained files' visibility by KEY, which no pair
        // set names: recompute it over the files the delta can reach.
        // The tier is transient (convertEqDeletes), so the reach shrinks
        // to zero after maintenance
        eqDeltaRetained(spark, qualified, readKeyed, finish, none, retained,
          allLines, delFrom, delTo, eqFrom, eqTo)
    (visible(filesTo -- filesFrom, delTo, eqTo).unionByName(unHidden),
      visible(filesFrom -- filesTo, delFrom, eqFrom).unionByName(newlyHidden))
  }

  // ----- LINEAGE CHANGE DATA FEED --------------------------------------
  // changeDiff with row identity: instead of cancelling re-filed rows by
  // BAG difference (group on full row content), pair every candidate by
  // its durable _row_id. Three upgrades fall out:
  //  - an UPDATE surfaces as a PAIRED update_preimage/update_postimage
  //    (same _row_id), not as unmatched delete+insert;
  //  - a contiguous gap composes PER-STEP diffs and SKIPS row-preserving
  //    commits entirely, so a compaction-heavy gap costs O(changed rows)
  //    read — the bag diff had to read every re-filed byte to cancel it;
  //  - duplicate row contents never collapse (ids differ), so no
  //    array_repeat multiplicity reconstruction.

  /** Max row-changing commits a composed diff walks before falling back
    * to one two-state diff (fewer, larger jobs win past this). */
  private val MaxLineageSteps = 16

  /** The (id, pre-image, post-image) PAIR FRAME between two snapshots of
    * a lineage table: `_row_id`, `__f` (the row's image visible at
    * `fromV` where it changed, else the row is absent), `__t` (same for
    * `toV`). Candidates come from the same file/DV delta sets as
    * [[changeDiff]]; both sides join FULL OUTER on the id, so a re-filed
    * unchanged row yields `__f <=> __t` (dropped by the classifier) and
    * an update yields one (pre, post) row. `metaOverride` lets the
    * composed walk read every step under the FINAL version's schema —
    * the full META, not just the schema, so a step that predates a
    * rename still folds its old physical names through the final
    * version's alias records. */
  private def lineagePairFrame(spark: SparkSession, path: String,
      fromV: Long, toV: Long,
      metaOverride: Option[Map[String, String]] = None)
      : DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val qualified = fsOf(spark, root).makeQualified(root).toString
    val (metaTo, linesTo) = stateOf(spark, path, toV)
    val (_, linesFrom) = stateOf(spark, path, fromV)
    require(rowIdsOn(metaTo),
      s"$path is not lineage-enabled — changeDiff (bag diff) is the " +
      "feed for id-less layouts")
    val readMeta = metaOverride.getOrElse(metaTo)
    val recorded = recordedSchema(readMeta).getOrElse(
      throw new IllegalStateException(
        s"lineage-enabled $path lacks a recorded schema"))
    requireLineageEntries(linesFrom, path)
    requireLineageEntries(linesTo, path)
    require((linesFrom ++ linesTo).exists(l => !isDeleteEntry(l)),
      s"lineage diff $fromV -> $toV between two empty snapshots of $path")
    // a file's entry (and so its id base) is immutable once committed —
    // the union map serves both sides
    val bases = basesOf((linesFrom ++ linesTo).distinct)
    val dataCols = recorded.fieldNames.toSeq
    // schema-only placeholder, no relation resolution: a per-step diff
    // usually leaves several candidate sets empty, and an anchor-wide
    // scan just to type an empty frame is O(all files) driver work
    val (plus, minus) = diffSides(spark, qualified, linesFrom, linesTo,
      keyedScan(spark, qualified, readMeta, _, Some(bases)),
      _.select((dataCols :+ RowIdCol).map(col): _*),
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          lineageReadSchema(recorded).fields
            .filter(f => dataCols.contains(f.name) || f.name == RowIdCol))))
    val imgStruct = org.apache.spark.sql.functions.struct(
      dataCols.map(col): _*)
    val f = minus.select(col(RowIdCol), imgStruct.as("__f"))
    val t = plus.select(col(RowIdCol), imgStruct.as("__t"))
    // pre-join structs: an unmatched side surfaces as ONE null column,
    // which is what the classifier keys absence on
    f.join(t, Seq(RowIdCol), "full_outer")
  }

  /** Classify a pair frame into the typed feed: equal images cancel,
    * one-sided rows are insert/delete, two-sided differing rows explode
    * into an update_preimage/update_postimage pair sharing the id. */
  private def classifyLineagePairs(pairs: DataFrame,
      dataCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array, explode, struct}
    val f = col("__f")
    val t = col("__t")
    pairs.where(!(f <=> t))
      .select(col(RowIdCol), explode(
        when(f.isNull, array(struct(t.as("img"), lit("insert").as("ct"))))
          .when(t.isNull, array(struct(f.as("img"), lit("delete").as("ct"))))
          .otherwise(array(
            struct(f.as("img"), lit("update_preimage").as("ct")),
            struct(t.as("img"), lit("update_postimage").as("ct")))))
        .as("__e"))
      .select(dataCols.map(c => col(s"__e.img.$c").as(c)) ++
        Seq(col(RowIdCol), col("__e.ct").as("_change_type")): _*)
  }

  /** ROW-LINEAGE CHANGE DATA FEED: the visible-row difference between
    * two snapshots of a lineage-enabled table, one row per change with
    * `_row_id` and `_change_type` in insert | delete | update_preimage |
    * update_postimage — [[changeDiff]] upgraded by durable row identity:
    *
    *  - an UPDATE is a PAIRED pre/post image (same `_row_id`), where the
    *    bag diff emitted unmatched delete+insert;
    *  - a CONTIGUOUS gap composes per-step diffs and SKIPS row-preserving
    *    commits (compact, DV materialization) entirely — a compaction-
    *    heavy gap costs O(changed rows) read, never the re-filed bytes
    *    the bag diff had to read to cancel;
    *  - the pairing rides ids across rewrites, so the feed is exact even
    *    when the changed rows were later re-filed.
    *
    * Non-contiguous gaps (retention holes) fall back to ONE two-state
    * id-join diff — still exact, reads the re-filed bytes. Composition
    * is a full-outer id join per step plus one id-grain aggregation:
    * first pre-image wins, last post-image wins, equal endpoints cancel
    * (an update later reverted diffs to NOTHING). */
  def changeDiffLineage(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV < toV, s"change diff needs fromV < toV, got $fromV -> $toV")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val committed = committedVersions(fs, root)
    require(committed.contains(fromV) && committed.contains(toV),
      s"lineage diff $fromV -> $toV references uncommitted/expired " +
      s"versions (committed: ${committed.mkString(",")})")
    val (metaTo, _) = stateOf(spark, path, toV)
    val recorded = recordedSchema(metaTo).getOrElse(
      throw new IllegalStateException(
        s"lineage-enabled $path lacks a recorded schema"))
    val dataCols = recorded.fieldNames.toSeq
    val gap = committed.filter(v => v > fromV && v <= toV)
    val contiguous = gap.size == toV - fromV
    // row-preserving maintenance and metadata-only commits change no
    // visible row — the composed walk skips their file churn entirely
    val skippable = RowPreservingOps
    val changing = gap.map(v =>
        v -> metaOf(spark, path, v).getOrElse("op", "unknown"))
      .filterNot { case (_, op) => skippable(op) }
    if (!contiguous || changing.size > MaxLineageSteps)
      classifyLineagePairs(
        lineagePairFrame(spark, path, fromV, toV), dataCols)
    else if (changing.isEmpty)
      // a purely row-preserving gap diffs to NOTHING — type the empty
      // frame from the recorded schema, never from a placeholder plan
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        lineageReadSchema(recorded)
          .add("_change_type", org.apache.spark.sql.types.StringType))
    else {
      import org.apache.spark.sql.functions.{max_by, min_by, struct}
      val steps = changing.map(_._1).zipWithIndex.map { case (v, i) =>
        lineagePairFrame(spark, path, v - 1, v, Some(metaTo))
          .withColumn("__s", lit(i))
      }
      val all = steps.reduce(_.unionByName(_))
      // endpoint composition per id: the FIRST step's pre-image is the
      // row's image at fromV (null = did not exist), the LAST step's
      // post-image its image at toV (null = deleted). Wrapper structs
      // keep min_by/max_by null-safe: the wrapper is never null even
      // when the image inside is.
      val composed = all.groupBy(col(RowIdCol)).agg(
        min_by(struct(col("__f").as("v")), col("__s"))
          .getField("v").as("__f"),
        max_by(struct(col("__t").as("v")), col("__s"))
          .getField("v").as("__t"))
      classifyLineagePairs(composed, dataCols)
    }
  }

  private val ConsumersDir = "_consumers"

  /** What one [[consume]] call did: `mode` is `bootstrap` (first contact
    * — full snapshot handed to `resync`), `delta` (the change feed
    * `(fromV, toV]` handed to `process`), `resync` (the feed could not
    * cross a rewrite/restore or the position expired — full snapshot
    * re-handed to `resync`), `caught-up` (nothing new; no callbacks, no
    * position write), or `lost-race` (another instance of the SAME
    * group advanced first — this call's work was redundant but its
    * position did not move twice). */
  final case class ConsumeResult(mode: String, fromV: Long, toV: Long)

  /** The persisted position of CDC consumer `group` on this table: the
    * newest snapshot version the group has durably processed, or None
    * if the group never consumed. The position lives IN the table
    * directory (`_consumers/<group>/p-<seq>`, one immutable file per
    * advancement, published with the same create-if-absent primitive as
    * manifests), so it survives process restarts and is shared by every
    * instance of the group — the consumer-group offset pattern. */
  def consumerPosition(spark: SparkSession, path: String,
      group: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    lastPosition(fsOf(spark, root), root, group).map(_._2)
  }

  /** Retained superseded position files per group: enough of a window
    * that a reader racing several advancements can still open the file
    * it listed, small enough that a long-lived consumer's directory
    * stays O(1). */
  private val PosRetain = 8L

  /** `(seq, recorded version)` of the group's NEWEST position — ONE
    * directory listing plus ONE small-file read, regardless of how many
    * advancements the group has made (the sequence is the file NAME;
    * only the newest file's content matters). A concurrent sweep of a
    * just-superseded file is retried against a fresh listing. */
  private def lastPosition(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      group: String): Option[(Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(root, s"$ConsumersDir/$group")
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      if (!fs.exists(dir)) return None
      val seqs = fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith("p-"))
        .map(_.stripPrefix("p-").toLong)
      if (seqs.isEmpty) return None
      val seq = seqs.max
      try {
        val v = parseMeta(readSmallFile(fs,
            new org.apache.hadoop.fs.Path(dir, f"p-$seq%012d")))
          .getOrElse("v", throw new IllegalStateException(
            s"consumer position p-$seq of $group lacks a version"))
        return Some((seq, v.toLong))
      } catch {
        // the newest-at-listing-time file can only vanish to a sweep
        // racing 8+ advancements past it — re-list and read the new max
        case _: java.io.FileNotFoundException =>
      }
    }
    throw new IllegalStateException(
      s"consumer position of $group kept vanishing mid-read — " +
      "position churn faster than the retained window")
  }

  /** Advance the group's position to `toV` as position-sequence `seq` —
    * EXACTLY-ONCE via [[publishIfAbsent]]: of N instances that processed
    * the same delta concurrently, exactly one lands `p-<seq>`; the
    * losers learn their work was redundant (`lost-race`) and the
    * position never double-advances or goes backwards. The winner
    * sweeps positions more than [[PosRetain]] behind, so a continuous
    * consumer's directory stays O(1) files instead of O(cycles). */
  private def advancePosition(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, group: String, seq: Long,
      toV: Long, mode: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(root, s"$ConsumersDir/$group")
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(
      s"#v=$toV\n#mode=$mode\n#ts=${System.currentTimeMillis()}"
        .getBytes(Charset))
    finally out.close()
    val won = publishIfAbsent(fs, tmp,
      new org.apache.hadoop.fs.Path(dir, f"p-$seq%012d"))
    fs.delete(tmp, false): Unit
    if (won && seq > PosRetain) {
      fs.listStatus(dir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          n.startsWith("p-") && n.stripPrefix("p-").toLong <= seq - PosRetain
        }
        .foreach(s => fs.delete(s.getPath, false): Unit)
    }
    won
  }

  /** CONTINUOUS CDC CONSUMPTION with persisted offsets — the consumer
    * wrapper [[changes]] was missing: a downstream job (index append,
    * replication, rollup upkeep) calls `consume` per cycle and never
    * tracks versions by hand.
    *
    *  - First contact → `resync(full current snapshot)`, position
    *    bootstraps at the current version.
    *  - Position behind, the gap ATTRIBUTABLE (appends plus
    *    row-preserving maintenance — compaction / DV materialization —
    *    that re-filed no unconsumed batch) →
    *    `process(changes(pos, current))` — O(delta batch), the whole
    *    point at 100 TB: routine upkeep does not force downstreams
    *    into table re-reads.
    *  - A row-CHANGING rewrite (delete/update/replace/restore) in the
    *    gap, an unconsumed batch swallowed by maintenance, or the
    *    position version expired → the feed cannot attribute rows, so
    *    the graded degradation is a FULL RE-SYNC: `resync(full current
    *    snapshot)`; the position jumps to current.
    *  - Nothing new → `caught-up`, no callbacks, no writes.
    *
    * Delivery contract: PROCESS-then-ADVANCE. The position write is
    * exactly-once ([[advancePosition]]); the callback is at-least-once
    * (a crash between process and advance replays the same delta, and
    * a concurrent same-group instance may process it redundantly and
    * lose the advance race — `lost-race`). At-least-once processing +
    * exactly-once advancement + an idempotent downstream apply (key the
    * write by `(group, toV)` — the manifest-header ledger idiom) is
    * end-to-end exactly-once, the standard consumer-group formula. */
  def consume(spark: SparkSession, path: String, group: String)(
      process: DataFrame => Unit)(
      resync: DataFrame => Unit): ConsumeResult = {
    require(group.nonEmpty && !group.contains("/"),
      s"consumer group must be a plain name, got '$group'")
    val h = headOf(spark, path, "nothing to consume")
    val (root, fs, cur) = (h.root, h.fs, h.v)
    val position = lastPosition(fs, root, group)
    val nextSeq = position.map(_._1 + 1).getOrElse(1L)
    position.map(_._2) match {
      case Some(p) if p >= cur => ConsumeResult("caught-up", p, p)
      case Some(p) =>
        // the feed is attributable iff the position version is still
        // retained, every gap commit is an append or row-preserving
        // maintenance, and no gap-appended batch was re-filed before
        // this consumer read it ([[deltaAddsInGap]] — one rule for the
        // feed and its consumers)
        val gap = deltaAddsInGap(spark, path, p, cur)
        if (gap.isRight) {
          process(changesFromAdds(spark, path, cur, gap.toOption.get))
          if (advancePosition(fs, root, group, nextSeq, cur, "delta"))
            ConsumeResult("delta", p, cur)
          else ConsumeResult("lost-race", p, cur)
        } else {
          resync(readVersion(spark, path, cur))
          if (advancePosition(fs, root, group, nextSeq, cur, "resync"))
            ConsumeResult("resync", p, cur)
          else ConsumeResult("lost-race", p, cur)
        }
      case None =>
        resync(readVersion(spark, path, cur))
        if (advancePosition(fs, root, group, nextSeq, cur, "bootstrap"))
          ConsumeResult("bootstrap", 0L, cur)
        else ConsumeResult("lost-race", 0L, cur)
    }
  }

  /** CONTINUOUS CHANGE CONSUMPTION for downstreams that can apply
    * RETRACTIONS — the upgrade over [[consume]] for additive state
    * (counts, sums, retractable rollups): `apply` always receives a
    * TYPED change frame (the data columns plus `_change_type`
    * insert|delete), so a row-changing rewrite costs the consumer
    * O(changed rows) via [[changeDiff]] where [[consume]] degrades to
    * an O(table) re-sync.
    *
    *  - First contact → `reset(full snapshot as inserts)` (`bootstrap`).
    *  - Attributable gap (appends + row-preserving maintenance) →
    *    `apply(append feed as inserts)` (`delta`) — O(batch).
    *  - Row-CHANGING gap (delete/update/replace/restore, or maintenance
    *    that swallowed an unconsumed batch) →
    *    `apply(changeDiff(pos, current))` (`diff`) — O(changed rows):
    *    deletes retract, inserts add, and the downstream never re-reads
    *    the table.
    *  - Position version EXPIRED → no base to diff against; the one
    *    remaining degradation is `reset(full current snapshot as
    *    inserts)` (`resync`) — the downstream rebuilds.
    *  - Nothing new → `caught-up`; no callbacks, no writes.
    *
    * Same group/position semantics as [[consume]]: PROCESS-then-ADVANCE,
    * at-least-once callbacks, exactly-once advancement
    * ([[advancePosition]]), `lost-race` when a same-group twin advanced
    * first. Key downstream writes by `(group, toV)` for end-to-end
    * exactly-once. */
  def consumeChanges(spark: SparkSession, path: String, group: String)(
      apply: DataFrame => Unit)(
      reset: DataFrame => Unit): ConsumeResult = {
    require(group.nonEmpty && !group.contains("/"),
      s"consumer group must be a plain name, got '$group'")
    val h = headOf(spark, path, "nothing to consume")
    val (root, fs, cur) = (h.root, h.fs, h.v)
    val position = lastPosition(fs, root, group)
    val nextSeq = position.map(_._1 + 1).getOrElse(1L)
    // LINEAGE upgrade: on a rowids=on table every frame carries _row_id
    // and the diff path emits TYPED UPDATES (update_preimage /
    // update_postimage pairs sharing the id, via [[changeDiffLineage]])
    // instead of unmatched delete+insert — a keyed downstream applies an
    // update in place; an additive one applies (post − pre). Id-less
    // tables keep the insert|delete contract unchanged.
    val lineage = rowIdsOn(h.meta)
    def asInserts(df: DataFrame): DataFrame =
      df.withColumn("_change_type", lit("insert"))
    def full(): DataFrame = asInserts(
      if (lineage) readVersionLineage(spark, path, cur)
      else readVersion(spark, path, cur))
    position.map(_._2) match {
      case Some(p) if p >= cur => ConsumeResult("caught-up", p, p)
      case Some(p) if !committedVersions(fs, root).contains(p) =>
        reset(full())
        if (advancePosition(fs, root, group, nextSeq, cur, "resync"))
          ConsumeResult("resync", p, cur)
        else ConsumeResult("lost-race", p, cur)
      case Some(p) =>
        val gap = deltaAddsInGap(spark, path, p, cur)
        val mode = if (gap.isRight) "delta" else "diff"
        gap match {
          case Right(adds) =>
            apply(asInserts(
              if (lineage) changesFromAddsLineage(spark, path, cur, adds)
              else changesFromAdds(spark, path, cur, adds)))
          case Left(_) =>
            apply(if (lineage) changeDiffLineage(spark, path, p, cur)
                  else changeDiff(spark, path, p, cur))
        }
        if (advancePosition(fs, root, group, nextSeq, cur, mode))
          ConsumeResult(mode, p, cur)
        else ConsumeResult("lost-race", p, cur)
      case None =>
        reset(full())
        if (advancePosition(fs, root, group, nextSeq, cur, "bootstrap"))
          ConsumeResult("bootstrap", 0L, cur)
        else ConsumeResult("lost-race", 0L, cur)
    }
  }

  /** One consumer group's lag against the table head — see
    * [[consumerLag]]. `pendingFiles`/`pendingRows` are set only on the
    * `delta` row (attributable gaps are the only ones whose cost is
    * knowable from metadata alone; rows require the gap entries' `n:`
    * counts, recorded on lineage/null-stats layouts). */
  final case class ConsumerLag(group: String, positionV: Long,
      currentV: Long, behind: Long, mode: String,
      pendingFiles: Option[Long], pendingRows: Option[Long])

  /** CONSUMER-GROUP LAG REPORT — the monitoring surface a deployment
    * alerts on (the [[dvAudit]] discipline applied to consumers): one
    * row per group under `_consumers/`, classifying what the group's
    * NEXT cycle will do and what it will cost.
    *
    *  - `current`: position at the head — next cycle is a no-op.
    *  - `delta`: the gap is attributable (appends + row-preserving
    *    maintenance) — next cycle reads `pending_files` files /
    *    `pending_rows` rows, straight off the manifest entries (zero
    *    data reads, zero footer reads).
    *  - `diff`: a row-changing commit sits in the gap — a typed
    *    consumer ([[consumeChanges]]) pays O(changed rows) via the
    *    change diff; an append-only consumer ([[consume]]) would
    *    re-sync. The cost is not knowable from metadata — pending
    *    fields are null.
    *  - `resync`: the position version EXPIRED — no base remains to
    *    diff against; any consumer rebuilds from the full snapshot.
    *
    * Metadata-only: O(groups) position reads + O(gap) header reads,
    * all segment-cached — never a data file. */
  def consumerLag(spark: SparkSession, path: String): Seq[ConsumerLag] = {
    val h = headOf(spark, path)
    val (root, fs, cur) = (h.root, h.fs, h.v)
    val dir = new org.apache.hadoop.fs.Path(root, ConsumersDir)
    val groups =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).sorted
    groups.flatMap { g =>
      lastPosition(fs, root, g).map(_._2).map { p =>
        if (p >= cur)
          ConsumerLag(g, p, cur, 0L, "current", Some(0L), Some(0L))
        else if (!committedVersions(fs, root).contains(p))
          ConsumerLag(g, p, cur, cur - p, "resync", None, None)
        else deltaAddsInGap(spark, path, p, cur) match {
          case Right(adds) =>
            val addSet = adds.toSet
            val counts = h.lines.filter(l => addSet(pathOf(l))).map(rowCountOf)
            val rows =
              if (counts.nonEmpty && counts.forall(_.nonEmpty))
                Some(counts.flatten.sum)
              else if (adds.isEmpty) Some(0L)
              else None // entries predate the n: row counts
            ConsumerLag(g, p, cur, cur - p, "delta",
              Some(adds.size.toLong), rows)
          case Left(_) =>
            ConsumerLag(g, p, cur, cur - p, "diff", None, None)
        }
      }
    }
  }

  /** [[consumerLag]] as a DataFrame (the graded/report shape). */
  def consumerLagReport(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    consumerLag(spark, path)
      .map(l => (l.group, l.positionV, l.currentV, l.behind, l.mode,
        l.pendingFiles, l.pendingRows))
      .toDF("group", "position_version", "current_version",
        "versions_behind", "mode", "pending_files", "pending_rows")
  }

  /** DELETION-VECTOR READ-AMPLIFICATION AUDIT — the staleness-audit
    * discipline (v24 IVF drift, v25 PQ drift, d34 BPE fertility)
    * applied to the merge-on-read debt: what does serving the current
    * snapshot's stacked vectors cost, and when should
    * [[materializeDeletes]] retire them?
    *
    *  - `vectors`: outstanding vector FILES — each is one more input in
    *    the anti-join's build side.
    *  - `hiddenRows`: total (file, pos) pairs — the anti-join's build
    *    cardinality, the read-side memory/IO the debt costs per query.
    *  - `referencedFiles` / `referencedShare`: how much of the live
    *    file set must flow through the DV-aware (join-bearing) plan —
    *    the fold's rewrite bill is O(referencedFiles), so a high share
    *    says "fold now, the rewrite costs little more than the reads".
    *
    * Metadata + vector-sidecar reads only — never the data files. */
  final case class DvAudit(version: Long, vectors: Long, hiddenRows: Long,
      referencedFiles: Long, liveFiles: Long) {
    def referencedShare: Double =
      if (liveFiles == 0) 0.0 else referencedFiles.toDouble / liveFiles
  }

  def dvAudit(spark: SparkSession, path: String): DvAudit =
    auditAt(spark, headOf(spark, path))._1

  /** [[dvAudit]] at `h`, with the per-file counts its one pass computed
    * — what a fold at `h` needs ([[materializeAt]]). POSITION vectors
    * only: equality sidecars carry key columns, not (dv_file, dv_pos) —
    * their debt is audited by their count (each is one reader
    * anti-join) and folded by convertEqDeletes. */
  private def auditAt(spark: SparkSession, h: Head)
      : (DvAudit, Seq[(String, Long)]) = {
    val perFile = vectorCounts(spark, h)
    (DvAudit(h.v, h.deletes.count(f => !isEqFile(f)).toLong,
      perFile.map(_._2).sum, perFile.size.toLong, h.dataLines.size.toLong),
      perFile)
  }

  /** Per referenced data file, how many rows the position vectors at
    * `h` hide, sorted by file — one tiny aggregate over the O(hidden
    * rows) sidecars, in one task: a single input partition needs no
    * exchange, so it is one Spark job where a shuffled aggregate would
    * be two or three. */
  private def vectorCounts(spark: SparkSession, h: Head): Seq[(String, Long)] =
    vectorsOf(spark, h.qualified, h.deletes).fold(Seq.empty[(String, Long)]) { dv =>
      dv.coalesce(1).groupBy(col("dv_file")).agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    }

  /** THRESHOLD-DRIVEN FOLD: audit the vector debt and call
    * [[materializeDeletes]] exactly when it crosses the policy — more
    * than `maxVectors` stacked vector files (anti-join build fan-in) or
    * more than `maxReferencedShare` of the live files flowing through
    * the DV-aware plan (the fold's rewrite bill is already close to
    * what reads pay). Returns (audit BEFORE, whether it folded) —
    * callers log the audit either way, which is the observability the
    * trained-tier staleness audits established. */
  def maintainDeletes(spark: SparkSession, path: String,
      partitionCol: String, maxVectors: Long = 8L,
      maxReferencedShare: Double = 0.25,
      sortCols: Seq[String] = Nil): (DvAudit, Boolean) = {
    val audit = dvAudit(spark, path)
    val fold = audit.vectors > maxVectors ||
      (audit.vectors > 0 && audit.referencedShare > maxReferencedShare)
    if (fold) materializeDeletes(spark, path, partitionCol, sortCols): Unit
    (audit, fold)
  }

  /** Threshold maintenance for the EQUALITY tier — [[maintainDeletes]]'s
    * discipline one level up: every outstanding key sidecar costs every
    * reader one anti-join, so once more than `maxSidecars` accumulate
    * (a steady upsert stream adds one per batch), fold them into
    * position vectors ([[convertEqDeletes]] — after which
    * [[maintainDeletes]]'s own policy governs the vectors). Returns
    * (outstanding sidecars, Some(positions folded) when it fired).
    * The streaming upsert ingest calls this per micro-batch, making
    * the equality tier self-limiting. */
  def maintainEqDeletes(spark: SparkSession, path: String,
      maxSidecars: Long = 8L): (Long, Option[Long]) = {
    val n = headOf(spark, path).lines.count(isEqDeleteEntry).toLong
    if (n > maxSidecars) (n, Some(convertEqDeletes(spark, path)._2))
    else (n, None)
  }

  /** Thresholds for the unified [[maintain]] policy driver. A
    * `keepVersions` of Int.MaxValue disables retention (the default —
    * history is destroyed only when a policy says so explicitly). */
  final case class MaintainPolicy(
      maxEqSidecars: Long = 8L,
      maxVectors: Long = 8L,
      maxReferencedShare: Double = 0.25,
      maxFilesPerPartition: Int = 8,
      compactTargetBytes: Long = 128L << 20,
      keepVersions: Int = Int.MaxValue)

  /** One [[maintain]] ladder step's outcome. `rowsAffected` is the
    * ROW-grain measure of what the step retired (hidden images folded /
    * materialized away) — row counts are deterministic where file
    * counts depend on shuffle parallelism. */
  final case class MaintainAction(step: Int, signal: String,
      fired: Boolean, rowsAffected: Long)

  /** UNIFIED MAINTENANCE POLICY: one entry
    * point that reads the store's debt signals from METADATA ONLY —
    * outstanding equality sidecars, the deletion-vector audit
    * ([[dvAudit]]), per-partition file counts from the manifest,
    * retained version count — and runs exactly the maintenance ops the
    * policy demands, in the only order that composes:
    *
    *  1. `eq_deletes` → [[convertEqDeletes]] — fires over threshold OR
    *     as a PREREQUISITE (a compaction this pass will run refuses
    *     over equality deletes, whose key-blind base reads it would
    *     corrupt);
    *  2. `deletion_vectors` → [[materializeDeletes]] — fires on
    *     [[maintainDeletes]]'s thresholds OR as a prerequisite for the
    *     compaction (partition rewrites refuse over vectors), auditing
    *     AFTER step 1 so freshly-converted vectors count;
    *  3. `small_files` → [[compact]] — fires when any partition holds
    *     more manifest entries than the policy allows (file counts from
    *     ONE manifest read, never a listing);
    *  4. `expired_versions` → [[expire]] — fires when retention is
    *     enabled and history exceeds it.
    *
    * Idempotent to convergence: a second call on an unchanged store
    * fires nothing (the q89 pin). Every step that does not fire costs
    * one metadata read — safe to run at any cadence. */
  def maintain(spark: SparkSession, path: String, partitionCol: String,
      policy: MaintainPolicy = MaintainPolicy()): Seq[MaintainAction] = {
    val h = headOf(spark, path)
    val filesPerPart = h.files.groupBy(_.split("/")(0)).view.mapValues(_.size)
    val needCompact = filesPerPart.exists(_._2 > policy.maxFilesPerPartition)
    // 1. equality tier — threshold, or prerequisite of a pending compact
    val eqN = h.lines.count(isEqDeleteEntry).toLong
    val eqFired = eqN > policy.maxEqSidecars || (eqN > 0 && needCompact)
    val eqRows = if (eqFired) convertEqDeletes(spark, path)._2 else 0L
    // 2. vector tier — audited AFTER the conversion so its vectors
    // count; the fold reuses the audit's per-file pass
    val hv = if (eqFired) headOf(spark, path) else h
    val (audit, perFile) = auditAt(spark, hv)
    val dvFired = audit.vectors > policy.maxVectors ||
      (audit.vectors > 0 &&
        (audit.referencedShare > policy.maxReferencedShare || needCompact))
    if (dvFired) materializeAt(spark, hv, partitionCol, Nil, Some(perFile)): Unit
    // 3. file shape
    if (needCompact)
      compact(spark, path, partitionCol, policy.compactTargetBytes): Unit
    // 4. retention
    val nVersions = committedVersions(h.fs, h.root).size
    val exFired = policy.keepVersions < nVersions
    if (exFired)
      expire(spark, path, partitionCol, keep = policy.keepVersions): Unit
    Seq(
      MaintainAction(1, "eq_deletes", eqFired, eqRows),
      MaintainAction(2, "deletion_vectors", dvFired,
        if (dvFired) audit.hiddenRows else 0L),
      MaintainAction(3, "small_files", needCompact, 0L),
      MaintainAction(4, "expired_versions", exFired, 0L))
  }

  /** ROLL BACK the table to snapshot `toVersion` — as a NEW commit
    * whose file list is the target version's, never by deleting
    * history (the table-format RESTORE): readers pinned to intermediate
    * versions keep them, the change feed sees the restore as a rewrite
    * crossing (op=restore — consumers re-sync, which is correct: a
    * restore un-happens rows), and a second restore can roll the
    * rollback back. The target must not be expired. Works because
    * replaced data files are retained until [[expire]] — restoring v3
    * re-references exactly the files v3's manifest names. Returns the
    * new version. No-op (still commits, marking the intent) when the
    * current file list already equals the target's. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val committed = committedVersions(fs, root)
    require(committed.contains(toVersion),
      s"cannot restore $path to v=$toVersion: not a committed version " +
      s"(committed: ${committed.mkString(",")}) — expired or never existed")
    val cur = committed.last
    // entry LINES both sides, so restored entries keep their file
    // statistics and the diff covers deletion vectors too (a restore
    // across a mor-delete must re-reference the vector, or drop it)
    val curPaths = resolvedLinesFs(fs, root, cur).map(pathOf).toSet
    val targetLines = resolvedLinesFs(fs, root, toVersion)
    val targetPaths = targetLines.map(pathOf).toSet
    commit(fs, root, Some(cur), curPaths -- targetPaths,
      targetLines.filterNot(l => curPaths(pathOf(l))),
      Map("op" -> "restore", "restore_of" -> toVersion.toString))
  }

  /** Commit history of the layout, one row per snapshot version oldest
    * first — the DESCRIBE HISTORY ops surface: which op landed each
    * version, its live-file count, and the file-list delta against the
    * previous version (an append shows n_removed=0; a compact shows
    * both sides; a pure-metadata commit shows 0/0). `meta` carries the
    * full manifest header, so run/batch identity and caller ledger
    * entries (delta ids) read straight off the history. Driver-side
    * O(versions × files) — manifest metadata, never data. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed snapshot under $path")
    var prev = Set.empty[String]
    val rows = vs.map { v =>
      // one manifest resolution feeds both the entry list and the
      // header; ALL entry paths, so a mor-delete's vector shows as its
      // one add (segment folds are cached — [[segLines]] — so walking
      // the history is O(versions) list reads, not O(versions × files))
      val (m, lines) = stateOf(spark, path, v)
      val fl = lines.map(pathOf).toSet
      val r = (v, m.getOrElse("op", "unknown"), fl.size.toLong,
        (fl -- prev).size.toLong, (prev -- fl).size.toLong, m)
      prev = fl
      r
    }
    rows.toDF("version", "op", "n_files", "n_added", "n_removed", "meta")
  }

  // ----- METADATA-ONLY AGGREGATES (aggregate pushdown) -----------------
  // The manifest already carries, per data file: its partition dir, row
  // count (`n:`), per-stats-column min/max bounds, and per-column null
  // counts — exactly the inputs of `SELECT count(*), min(c), max(c),
  // count(c) ... GROUP BY partition`. Answering that from the manifest
  // is the aggregate-pushdown tier (Iceberg answers COUNT(*) from
  // manifests the same way): at 100 TB the difference between a
  // metadata read and a full-table scan for the most common dashboard
  // query there is. The contract is EXACT OR NULL, never approximate:
  // a statistic the manifest cannot prove exactly (entries predating
  // the n:/z: declarations, string-typed bounds — truncated by design —
  // or a partition whose files an outstanding deletion vector touches,
  // where a hidden row may hold the extreme) comes back NULL, so a
  // caller can always fall back to the data scan for just those
  // partitions. Row counts stay exact THROUGH deletion vectors: the
  // hidden-row count per file is read from the vector sidecars
  // (O(deleted rows) — delete-file IO only, never a data file).

  /** Per-partition aggregates of snapshot `v`, computed from manifest
    * entries (plus deletion-vector sidecars when present) with ZERO
    * data-file IO. Columns: `partition` (the entry's dir name, e.g.
    * `event_date=2021-01-03`), `n_files`, `n_rows` (committed rows),
    * `n_hidden` (DV-hidden), `n_live` (= n_rows − n_hidden), then per
    * declared stats column `c`: `min_c`, `max_c` (the LONG-domain
    * bounds; timestamps floor to epoch seconds), `nulls_c`. Every
    * value column is exact-or-NULL — see the tier note above. */
  def partitionStatsAt(spark: SparkSession, path: String, v: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val (meta, lines) = stateOf(spark, path, v)
    val cols = statsColsOf(meta)
    // outstanding EQUALITY deletes hide an unknowable number of rows
    // from every file below their version — files they can reach
    // degrade to NULL like DV-touched ones, counts included (a key
    // sidecar names keys, not row counts)
    val eqMaxD = eqDeletesOf(lines.filter(isDeleteEntry))
      .map(_.d).maxOption.getOrElse(Long.MinValue)
    // DV-hidden rows per data file: the one non-manifest input, and it
    // reads ONLY the vector sidecars (O(deleted rows))
    val hiddenByFile: Map[String, Long] =
      vectorsOf(spark, qualified, lines.filter(isDeleteEntry).map(pathOf))
        .fold(Map.empty[String, Long])(_.groupBy(col("dv_file"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    final case class E(file: String, n: Option[Long],
        bounds: Seq[Option[(Long, Long)]], nulls: Seq[Option[Long]],
        eqTouched: Boolean)
    val entries = lines.filterNot(isDeleteEntry).map { l =>
      val p = pathOf(l)
      p.split("/")(0) -> E(p, rowCountOf(l), statsListOf(l), nullCountsOf(l),
        addVersionOf(l) < eqMaxD)
    }
    val out = entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (part, es) =>
      val fsE = es.map(_._2)
      val nRows =
        if (fsE.forall(_.n.isDefined)) Some(fsE.flatMap(_.n).sum) else None
      val hidden = fsE.map(e => hiddenByFile.getOrElse(e.file, 0L)).sum
      val touched = fsE.exists(e =>
        hiddenByFile.contains(e.file) || e.eqTouched)
      val nLive = if (fsE.exists(_.eqTouched)) None
                  else nRows.map(_ - hidden)
      val colStats = cols.indices.flatMap { i =>
        // a file contributes provably-complete bounds when it records
        // them, is empty, or is PROVABLY all-NULL in the column (null
        // count == row count) — anything else poisons exactness
        def accounted(e: E): Boolean =
          e.n.contains(0L) || e.bounds.lift(i).flatten.isDefined ||
            ((e.nulls.lift(i).flatten, e.n) match {
              case (Some(z), Some(n)) => z == n
              case _ => false
            })
        val exact = !touched && fsE.forall(accounted)
        val bs = fsE.flatMap(_.bounds.lift(i).flatten)
        val mn = if (exact && bs.nonEmpty) Some(bs.map(_._1).min) else None
        val mx = if (exact && bs.nonEmpty) Some(bs.map(_._2).max) else None
        val zs = fsE.map(_.nulls.lift(i).flatten)
        val z = if (!touched && zs.forall(_.isDefined)) Some(zs.flatten.sum)
                else None
        Seq(mn.map(Long.box).orNull, mx.map(Long.box).orNull,
          z.map(Long.box).orNull)
      }
      Row.fromSeq(Seq[Any](part, fsE.size.toLong,
        nRows.map(Long.box).orNull, hidden,
        nLive.map(Long.box).orNull) ++ colStats)
    }
    val schema = StructType(
      Seq(StructField("partition", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("n_hidden", LongType, nullable = false),
        StructField("n_live", LongType, nullable = true)) ++
      cols.flatMap(c => Seq(
        StructField(s"min_$c", LongType, nullable = true),
        StructField(s"max_$c", LongType, nullable = true),
        StructField(s"nulls_$c", LongType, nullable = true))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, schema)
  }

  /** What a [[countRange]] cost: how many files were answered from the
    * manifest alone vs actually scanned. */
  final case class CountRangeResult(count: Long, metadataFiles: Long,
      scannedFiles: Long)

  /** HYBRID EXACT COUNT — `SELECT count(*) WHERE c BETWEEN lo AND hi`
    * with data IO on the BOUNDARY only: a file whose manifest bounds
    * lie fully inside the range contributes its recorded row count
    * minus its null count (rows where `c` is NULL fail the predicate)
    * with zero IO; a file fully outside contributes zero; only files
    * STRADDLING the range edges — plus any file a deletion vector or
    * equality delete touches, whose live membership metadata cannot
    * prove — are scanned, in ONE DV/eq-aware subset read. On a
    * range-clustered layout the boundary is O(range edges), not
    * O(range size): at 100 TB a month-slice count reads two files'
    * worth of edges instead of a month of data. EXACT always — the
    * hybrid changes where the answer comes from, never the answer.
    * Requires declared stats + null counts for `c` (the metadata the
    * interior shortcut consumes); timestamps compare in their floored
    * LONG domain (epoch seconds), same as [[filesInRange]]. */
  def countRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long): CountRangeResult = {
    require(lo <= hi, s"countRange needs lo <= hi, got [$lo, $hi]")
    val h = headOf(spark, path)
    val (qualified, meta, lines) = (h.qualified, h.meta, h.lines)
    val cols = statsColsOf(meta)
    val idx = cols.indexOf(c)
    require(idx >= 0, s"no manifest statistics declared for column '$c' " +
      s"(declared: ${if (cols.isEmpty) "none" else cols.mkString(",")})")
    val eqMaxD = eqDeletesOf(h.deleteLines).map(_.d).maxOption
      .getOrElse(Long.MinValue)
    val dvTouched: Set[String] =
      vectorsOf(spark, qualified, h.deletes).fold(Set.empty[String])(
        _.select(col("dv_file")).distinct()
          .collect().map(_.getString(0)).toSet)
    var interior = 0L
    var metaFiles = 0L
    val scanFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    h.dataLines.foreach { l =>
      val p = pathOf(l)
      val hidden = dvTouched(p) || addVersionOf(l) < eqMaxD
      (statsListOf(l).lift(idx).flatten, rowCountOf(l),
        nullCountsOf(l).lift(idx).flatten) match {
        case (Some((mn, mx)), _, _) if mx < lo || mn > hi =>
          // fully outside — contributes nothing even when DV-touched
          // (hiding rows can only shrink a zero)
          metaFiles += 1
        case (Some((mn, mx)), Some(n), Some(z))
            if !hidden && mn >= lo && mx <= hi =>
          // fully inside, membership provable: all non-NULL rows match
          interior += n - z
          metaFiles += 1
        case _ => scanFiles += p
      }
    }
    val scanned =
      if (scanFiles.isEmpty) 0L
      else readSubsetAt(spark, path, meta, lines, scanFiles.toSeq)
        .where(col(c).between(lo, hi)).count()
    CountRangeResult(interior + scanned, metaFiles, scanFiles.size.toLong)
  }

  // ----- WRITE-AUDIT-PUBLISH ------------------------------------------
  // The quality-gate ingest pattern (Iceberg's WAP): a batch lands in
  // the partition dirs and is described by a STAGED pointer
  // (`_manifests/wap-<id>`) that no reader resolves — main readers keep
  // seeing the current snapshot — until an audit passes and
  // [[publishStaged]] folds the staged entries into a normal append
  // commit (optimistic rebase and schema widening included). A failed
  // audit [[abortStaged]]s: the pointer goes away and the orphaned
  // files retire through [[expire]]'s grace sweep. Staged entries are
  // stat'd like any committed batch, so the published files prune
  // immediately. Crash safety: a publish that died between its commit
  // and its pointer cleanup can simply re-publish — the adds are
  // path-keyed and the fold dedups by path, so the replay commit is
  // content-identical (one extra version, same live set).

  private def wapPath(root: org.apache.hadoop.fs.Path, id: String) = {
    require(id.nonEmpty && id.matches("[A-Za-z0-9._-]+"),
      s"staged-batch id must be [A-Za-z0-9._-]+, got '$id'")
    new org.apache.hadoop.fs.Path(root, f"$ManifestDir/wap-$id")
  }

  /** Stage `rows` for audit: files land (invisible — nothing references
    * them), their stats are computed, and the staged pointer records
    * the entry lines. Returns the staged-batch id. */
  def stageAppend(spark: SparkSession, path: String, partitionCol: String,
      rows: DataFrame, meta: Map[String, String] = Map.empty): String = {
    require(rows.columns.contains(partitionCol),
      s"staged rows lack partition column '$partitionCol'")
    val h = headOf(spark, path, "bootstrap with init/append")
    val (root, fs, cur, curMeta) = (h.root, h.fs, h.v, h.meta)
    curMeta.get("pcol").foreach(p => require(p == partitionCol,
      s"stageAppend with partition column '$partitionCol' but the " +
      s"table's active spec is '$p'"))
    val moved = stagePartitioned(fs, root, "wap", rows, partitionCol)
    // an empty batch would stage a header-only pointer that
    // readStaged/publishStaged then feed to an empty-path parquet read
    // (unhelpful AnalysisException). There is nothing to audit in an
    // empty batch — refuse at stage time, loudly.
    require(moved.nonEmpty,
      s"stageAppend on $path with an EMPTY batch — nothing to stage or " +
      "audit (an empty micro-batch advancing a marker is append's job)")
    val lines = statLines(spark, fs, root, moved, curMeta, rows.schema)
    val id = java.util.UUID.randomUUID().toString
    // pcol rides the pointer so publish never has to GUESS the
    // partition column from schema inference
    val header = (Map("base" -> cur.toString, "op" -> "wap-append",
        "pcol" -> partitionCol) ++ meta)
      .toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$ManifestDir/.tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write((header ++ lines).mkString("\n").getBytes(Charset))
    finally out.close()
    val won = publishIfAbsent(fs, tmp, wapPath(root, id))
    fs.delete(tmp, false): Unit
    if (!won)
      throw new IllegalStateException(s"staged pointer collision for $id")
    id
  }

  /** The staged batch's rows — what a quality audit reads. The staged
    * files only; union with [[readSnapshot]] to audit the would-be
    * table. */
  def readStaged(spark: SparkSession, path: String, id: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val p = wapPath(root, id)
    require(fs.exists(p), s"no staged batch '$id' on $path")
    val files = parseLines(readSmallFile(fs, p)).map(pathOf)
    spark.read.option("basePath", qualified)
      .parquet(files.map(f => s"$qualified/$f"): _*)
  }

  /** Ids of the outstanding staged batches. */
  def stagedIds(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("wap-")).map(_.stripPrefix("wap-")).sorted
  }

  /** The audit passed: fold the staged entries into a normal append
    * commit (rebase semantics — removes nothing, commutes) and retire
    * the pointer. Returns the published version. */
  def publishStaged(spark: SparkSession, path: String, id: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val p = wapPath(root, id)
    require(fs.exists(p), s"no staged batch '$id' on $path")
    val text = readSmallFile(fs, p)
    val lines = parseLines(text)
    val header = parseMeta(text)
    val stagedMeta = header -- Seq("base", "op", "pcol")
    // the staged batch's own schema (all its files), for the widen
    val schema = spark.read.option("mergeSchema", "true")
      .option("basePath", qualified)
      .parquet(lines.map(l => s"$qualified/${pathOf(l)}"): _*).schema
    // the pointer recorded the partition column at stage time; last-
    // field inference only for pointers predating the header key
    val pcol = header.getOrElse("pcol", schema.fields.last.name)
    val cur = currentVersion(spark, path)
    val v = commit(fs, root, cur, Set.empty, lines,
      Map("op" -> "append", "wap_id" -> id) ++ stagedMeta,
      widenSchema = Some((schema, pcol)))
    fs.delete(p, false): Unit
    v
  }

  /** The audit failed: drop the pointer; the staged files are orphans
    * and retire through [[expire]]'s grace sweep. Returns whether the
    * staged batch existed. */
  def abortStaged(spark: SparkSession, path: String, id: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    fsOf(spark, root).delete(wapPath(root, id), false)
  }

  // ----- BRANCHES (movable refs) ---------------------------------------
  // The multi-batch write-audit-publish workflow (Iceberg branch + WAP):
  // where a q73 staged batch is ONE pointer, a branch is a sequence of
  // them — create it at the current main version, commit appends to it
  // repeatedly (each invisible to main readers), audit the whole branch
  // state with [[readBranch]], then FAST-FORWARD: main adopts every
  // branch commit in one atomic manifest publish, refused if main moved
  // since the branch was created (diverged — the caller rebases by
  // re-branching, the Iceberg fast_forward contract). A failed audit
  // [[deleteBranch]]s; the staged files retire through [[expire]]'s
  // grace sweep, and un-published branch files are PINNED by the sweep
  // exactly like q73's staged pointers.
  //
  // Mechanics: `_branches/<name>/c-<seq>` immutable pointer files
  // published with [[publishIfAbsent]] — c-0 records the base version,
  // each later c-<seq> one staged append's entry lines (stats, row-id
  // bases and null counts included, computed at stage time). Two racing
  // committers on one branch serialize on the seq number — the loser
  // re-reads and takes the next slot; branch appends on a lineage table
  // claim id ranges from the same global allocator, so a fast-forwarded
  // branch's ids never collide with main's.

  private val BranchesDir = "_branches"

  private def branchDir(root: org.apache.hadoop.fs.Path, name: String) = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"branch name must be [A-Za-z0-9._-]+, got '$name'")
    new org.apache.hadoop.fs.Path(root, s"$BranchesDir/$name")
  }

  private def branchSeqs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("c-\\d+")).map(_.stripPrefix("c-").toLong).sorted

  private def publishBranchFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, seq: Long,
      content: String): Boolean = {
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(Charset)) finally out.close()
    val won = publishIfAbsent(fs, tmp,
      new org.apache.hadoop.fs.Path(dir, f"c-$seq%012d"))
    fs.delete(tmp, false): Unit
    won
  }

  /** Create branch `name` at the CURRENT main version. Returns the base
    * version. Refuses an existing name (delete it first). Refuses
    * eqdel layouts: branch commits number their entries branch-locally,
    * which would alias the equality-delete version stamps (`v:`) on
    * fast-forward — delete-by-key and branches don't compose yet. */
  def createBranch(spark: SparkSession, path: String, name: String): Long = {
    val h = headOf(spark, path, "nothing to branch from")
    val (root, fs, base) = (h.root, h.fs, h.v)
    require(!h.meta.get("eqdel").contains("on"),
      s"$path is equality-delete enabled — branches would alias the " +
      "entry version stamps on fast-forward; the two don't compose yet")
    val dir = branchDir(root, name)
    require(branchSeqs(fs, dir).isEmpty,
      s"branch '$name' already exists on $path — deleteBranch first")
    if (!publishBranchFile(fs, dir, 0L,
        s"#base=$base\n#ts=${System.currentTimeMillis()}"))
      throw new SnapshotConflictException(
        s"branch '$name' on $path was created concurrently")
    base
  }

  /** (base version, committed branch entry lines in commit order). */
  private def branchState(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String)
      : (Long, Seq[(Long, Map[String, String], Seq[String])]) = {
    val dir = branchDir(root, name)
    val seqs = branchSeqs(fs, dir)
    require(seqs.contains(0L), s"no branch '$name' on ${root}")
    val head = parseMeta(readSmallFile(fs,
      new org.apache.hadoop.fs.Path(dir, f"c-${0L}%012d")))
    val base = head.getOrElse("base", throw new IllegalStateException(
      s"branch '$name' head lacks a base version")).toLong
    val commits = seqs.filter(_ > 0L).map { s =>
      val text = readSmallFile(fs,
        new org.apache.hadoop.fs.Path(dir, f"c-$s%012d"))
      (s, parseMeta(text), parseLines(text))
    }
    (base, commits)
  }

  /** Commit an append to branch `name`: files land in the partition
    * dirs (invisible — only the branch pointer references them), stats
    * / row-id bases computed exactly as a main-line append would.
    * Returns the branch sequence number of the commit. */
  def appendToBranch(spark: SparkSession, path: String, name: String,
      partitionCol: String, rows: DataFrame,
      meta: Map[String, String] = Map.empty): Long = {
    require(rows.columns.contains(partitionCol),
      s"branch append rows lack partition column '$partitionCol'")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val (base, _) = branchState(fs, root, name)
    val baseMeta = metaOf(spark, path, base)
    baseMeta.get("pcol").foreach(p => require(p == partitionCol,
      s"appendToBranch with partition column '$partitionCol' but the " +
      s"branch base's active spec is '$p'"))
    val moved = stagePartitioned(fs, root, "branch", rows, partitionCol)
    require(moved.nonEmpty,
      s"appendToBranch on $path@$name with an EMPTY batch — nothing to " +
      "stage or audit")
    // table-state keys (stats / rowids / nullstats) from the branch
    // BASE: the declarations are fixed at bootstrap, so base == current
    val lines = statLines(spark, fs, root, moved, baseMeta, rows.schema)
    val header = (Map("op" -> "branch-append") ++ meta)
      .toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
    val dir = branchDir(root, name)
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val seqs = branchSeqs(fs, dir)
      // a fastForward/deleteBranch racing this append swept the branch
      // away mid-stage: fail LOUDLY with the files unreferenced (they
      // retire via the grace sweep) instead of resurrecting a headless
      // branch dir (publishBranchFile would happily re-mkdir it)
      if (!seqs.contains(0L))
        throw new IllegalStateException(
          s"branch '$name' on $path was published or deleted while this " +
          "append was staging — the batch is abandoned (re-branch and " +
          "re-append against the new state)")
      val next = seqs.max + 1
      if (publishBranchFile(fs, dir, next,
          (header ++ lines).mkString("\n")))
        return next
      Thread.sleep((2L << math.min(attempt, 6)) +
        scala.util.Random.nextInt(11).toLong)
    }
    throw new IllegalStateException(
      s"branch '$name' on $path still contended after $MaxCommitAttempts attempts")
  }

  /** The branch's WOULD-BE table: the base snapshot plus every branch
    * commit's files — what a multi-batch audit reads before deciding to
    * fast-forward. Served under the base version's recorded schema. */
  def readBranch(spark: SparkSession, path: String, name: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val (base, commits) = branchState(fs, root, name)
    val baseDf = readVersion(spark, path, base)
    val branchLines = commits.flatMap(_._3)
    if (branchLines.isEmpty) baseDf
    else baseDf.unionByName(readDataAt(spark, qualified,
      metaOf(spark, path, base), branchLines, Nil))
  }

  /** Branch names on the layout, with (base version, commit count).
    * Directories WITHOUT a base marker (`c-0`) are debris — a crashed
    * createBranch, or an append that raced a fastForward/deleteBranch
    * cleanup — and are SKIPPED, never thrown on: this listing feeds the
    * retention sweep, which must not be poisoned by an orphan dir (the
    * orphan's staged files retire through the grace sweep like any
    * unreferenced file). */
  def branches(spark: SparkSession, path: String): Seq[(String, Long, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, BranchesDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
      .filter(n => branchSeqs(fs, branchDir(root, n)).contains(0L))
      .map { n =>
        val (base, commits) = branchState(fs, root, n)
        (n, base, commits.size)
      }
  }

  /** FAST-FORWARD main to the branch: every branch commit's entries fold
    * into ONE atomic manifest publish against the branch's base — the
    * single-pointer-swing publish. REFUSED with
    * [[SnapshotConflictException]] when main moved past the base
    * (diverged: the branch never saw those commits; re-branch and
    * replay). Crash-replay safe: a publish that died between its commit
    * and the branch-dir cleanup detects its own header on re-run and
    * just finishes the cleanup. Returns the published version. */
  def fastForward(spark: SparkSession, path: String, name: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val (base, commits) = branchState(fs, root, name)
    require(commits.nonEmpty,
      s"fast-forward of empty branch '$name' on $path — nothing to publish")
    val committed = committedVersions(fs, root)
    // replay detection: our ff commit already landed (crash before
    // cleanup) — finish the cleanup instead of refusing on divergence
    val replayed = committed.filter(_ > base).find { v =>
      val m = metaOf(spark, path, v)
      m.get("branch").contains(name) &&
        m.get("branch_base").contains(base.toString)
    }
    replayed match {
      case Some(v) =>
        fs.delete(branchDir(root, name), true): Unit
        v
      case None =>
        val lines = commits.flatMap(_._3)
        // the merged schema over the branch files drives the widen —
        // a branch batch may add columns, exactly like a direct append
        val schema = spark.read.option("mergeSchema", "true")
          .option("basePath", qualified)
          .parquet(lines.map(l => s"$qualified/${pathOf(l)}"): _*).schema
        val pcol = lines.head.split("/")(0).split("=")(0)
        // allowRebase=false against the branch base IS the divergence
        // refusal: any commit since the base loses the version race and
        // aborts instead of silently merging commits the audit never saw
        val v = try commit(fs, root, Some(base), Set.empty, lines,
          Map("op" -> "append", "branch" -> name,
            "branch_base" -> base.toString),
          allowRebase = false,
          widenSchema = Some((schema, pcol)))
        catch {
          case e: SnapshotConflictException =>
            throw new SnapshotConflictException(
              s"fast-forward of branch '$name' on $path refused: main " +
              s"moved past the branch base v=$base — the branch never " +
              s"saw those commits; re-branch from the new head and " +
              s"replay (${e.getMessage})")
        }
        fs.delete(branchDir(root, name), true): Unit
        v
    }
  }

  /** Abandon a branch: drop its pointers; the staged files are orphans
    * and retire through [[expire]]'s grace sweep. Returns whether the
    * branch existed. */
  def deleteBranch(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    fsOf(spark, root).delete(branchDir(root, name), true)
  }

  private val RefsDir = "_refs"

  private def tagPath(root: org.apache.hadoop.fs.Path, name: String) = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    new org.apache.hadoop.fs.Path(root, s"$RefsDir/$name")
  }

  /** TAG a snapshot version under an immutable name — the
    * reproducibility primitive a training pipeline needs: tag the exact
    * corpus snapshot a model trained on, and [[readTag]] reproduces
    * that training set byte-identically for as long as the tag lives,
    * because [[expire]] RETAINS tagged versions (and their files) no
    * matter what the count/age rules say. Tags are immutable
    * ([[publishIfAbsent]] — racing taggers of the same name resolve to
    * exactly one); re-tagging the SAME version is an idempotent no-op,
    * a different version fails loudly; [[deleteTag]] releases the pin
    * so the next sweep may retire the version. */
  def tag(spark: SparkSession, path: String, name: String, v: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    require(committedVersions(fs, root).contains(v),
      s"cannot tag $path@$name: v=$v is not a committed version")
    val target = tagPath(root, name)
    fs.mkdirs(target.getParent)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$RefsDir/.tmp-${Sink.procTag}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(s"#v=$v\n#ts=${System.currentTimeMillis()}".getBytes(Charset))
    finally out.close()
    val won = publishIfAbsent(fs, tmp, target)
    fs.delete(tmp, false): Unit
    if (!won) {
      val existing = tagVersion(spark, path, name)
      require(existing.contains(v),
        s"tag '$name' on $path already names v=${existing.orNull}, " +
        s"refusing to move it to v=$v — tags are immutable (deleteTag first)")
    } else if (!committedVersions(fs, root).contains(v)) {
      // a concurrent expire swept v between the pre-check and the
      // publish: the tag would dangle. Un-publish and fail loudly; the
      // caller re-tags against a retained version. (The reverse
      // interleaving — tag published after expire read the refs — is
      // the pinned-reader-vs-retention contract every table format
      // documents: run retention with a grace window.)
      fs.delete(target, false): Unit
      throw new SnapshotConflictException(
        s"v=$v expired while tagging $path@$name — re-tag a retained version")
    }
  }

  /** The version a tag names, if the tag exists. */
  def tagVersion(spark: SparkSession, path: String,
      name: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val p = tagPath(root, name)
    if (!fs.exists(p)) None
    else parseMeta(readSmallFile(fs, p)).get("v").map(_.toLong)
  }

  /** The table AS OF a tag — the pinned [[readVersion]] read of the
    * tagged version. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    readVersion(spark, path, tagVersion(spark, path, name).getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' on $path")))

  /** All tags on the layout: (name, version), name-sorted. */
  def tags(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(root, RefsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map { s =>
        s.getPath.getName ->
          parseMeta(readSmallFile(fs, s.getPath)).getOrElse("v",
            throw new IllegalStateException(
              s"tag file ${s.getPath} lacks a version")).toLong
      }
      .sortBy(_._1)
  }

  /** Remove a tag, releasing its retention pin. Returns whether it
    * existed. */
  def deleteTag(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    fsOf(spark, root).delete(tagPath(root, name), false)
  }

  /** Snapshot expiry — the retention sweep: keep the newest `keep`
    * manifests, delete older ones plus every data file no retained
    * manifest references (including orphans from crashed writers).
    * Operational step with a retention window, never part of a serve or
    * maintenance path — a pinned reader on a retired version loses it
    * here, exactly like table-format snapshot expiry. Returns deleted
    * paths.
    *
    * `orphanGraceMs` protects IN-FLIGHT writers: a concurrent commit
    * has moved its staged files into the partition dirs but not yet
    * swung the manifest, so they look unreferenced. An expiry running
    * alongside live writers must pass a grace window longer than any
    * write (the orphan-removal age threshold every table format
    * applies); unreferenced files younger than it are left for the
    * next sweep. The default 0 is the quiesced-table sweep.
    *
    * `keepAgeMs` is the AGE-based retention policy (keep-last-N and
    * keep-age compose — a version survives if EITHER rule retains it):
    * any version whose commit timestamp (`ts` header, strictly
    * monotonic) is within the window stays, so "keep 7 days of
    * time travel, at least the current snapshot" is
    * `keep = 1, keepAgeMs = Some(7d)`. */
  def expire(spark: SparkSession, path: String, partitionCol: String,
      keep: Int = 1, orphanGraceMs: Long = 0L,
      keepAgeMs: Option[Long] = None): Seq[String] = {
    require(keep >= 1, s"must keep at least the current snapshot, got $keep")
    keepAgeMs.foreach(a => require(a >= 0, s"keepAgeMs must be >= 0, got $a"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(root).toString
    val versions = committedVersions(fs, root)
    val byCount = versions.drop(math.max(0, versions.size - keep)).toSet
    val byAge = keepAgeMs match {
      case None => Set.empty[Long]
      case Some(age) =>
        val cutoffTs = System.currentTimeMillis() - age
        versions.filter(v =>
          parseMeta(manifestTextFs(fs, root, v)).get("ts")
            .flatMap(t => scala.util.Try(t.toLong).toOption)
            .exists(_ >= cutoffTs)).toSet
    }
    // tagged versions are PINNED: a tag is the caller's statement that
    // this exact snapshot must stay reproducible (the training-set
    // lineage case), so the sweep retains it — and every file it
    // references — until deleteTag releases the pin. Branch BASES pin
    // the same way: a branch audit reads base ∪ branch files, so the
    // base must out-live the branch.
    val byTag = tags(spark, path).map(_._2).toSet
    val liveBranches = branches(spark, path)
    val byBranch = liveBranches.map(_._2).toSet
    val retainedSet = byCount ++ byAge ++ byTag ++ byBranch
    val retained = versions.filter(retainedSet)
    val stale = versions.filterNot(retainedSet)
    // ALL entry paths — a retained version's deletion vectors are as
    // load-bearing as its data files; outstanding STAGED batches
    // (write-audit-publish pointers) and BRANCH commits pin their files
    // too, or a sweep racing an audit would delete the batch under it
    val stagedRefs = stagedIds(spark, path).flatMap { id =>
      parseLines(readSmallFile(fs, wapPath(root, id))).map(pathOf)
    }
    val branchRefs = liveBranches.flatMap { case (n, _, _) =>
      val dir = branchDir(root, n)
      branchSeqs(fs, dir).filter(_ > 0L).flatMap { s =>
        parseLines(readSmallFile(fs,
          new org.apache.hadoop.fs.Path(dir, f"c-$s%012d"))).map(pathOf)
      }
    }
    val referenced = retained.flatMap(v =>
      manifestLines(spark, path, v).map(pathOf)).toSet ++ stagedRefs ++
      branchRefs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    listDataFiles(fs, root, partitionCol).foreach { f =>
      val rel = f.getPath.toString.stripPrefix(qualified).stripPrefix("/")
      if (!referenced(rel) &&
          (orphanGraceMs <= 0 || f.getModificationTime <= cutoff)) {
        fs.delete(f.getPath, false)
        deleted += rel
        // drop the partition dir too once its last file is gone, so a
        // fully-deleted partition leaves no empty husk
        val parent = f.getPath.getParent
        if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
          fs.delete(parent, false): Unit
      }
    }
    stale.foreach { sv =>
      fs.delete(manifestPath(root, sv), false)
      deleted += f"$ManifestDir/m-$sv%012d"
    }
    // deletion vectors live under _deletes/ (outside the partition
    // dirs the data sweep above walks) — retire the ones no retained
    // manifest references, under the same grace rule
    val dvDir = new org.apache.hadoop.fs.Path(root, DeletesDir)
    if (fs.exists(dvDir)) fs.listStatus(dvDir).toSeq
      .filter { s =>
        val rel = s"$DeletesDir/${s.getPath.getName}"
        s.isFile && !referenced(rel) &&
          (orphanGraceMs <= 0 || s.getModificationTime <= cutoff)
      }
      .foreach { s =>
        fs.delete(s.getPath, false)
        deleted += s"$DeletesDir/${s.getPath.getName}"
      }
    // manifest-dir debris, two kinds under the same grace rule that
    // protects in-flight commits:
    //  - `.tmp-*`: a writer crashed between writing and publishing its
    //    staged manifest list — invisible to readers, pure debris
    //  - `seg-*` no RETAINED manifest list references: stale versions'
    //    exclusive change segments, chains a fold consolidated away,
    //    and crashed writers' never-published segments (grace matters
    //    here — a LIVE committer writes its segment BEFORE the list
    //    that references it)
    val refSegs = retained.flatMap(v =>
      parseRefs(manifestTextFs(fs, root, v))).toSet
    val mdir = new org.apache.hadoop.fs.Path(root, ManifestDir)
    // row-id allocator markers: only the NEWEST carries the high-water
    // mark — older ones are superseded debris
    val maxRid =
      if (!fs.exists(mdir)) None
      else fs.listStatus(mdir).toSeq.map(_.getPath.getName)
        .filter(_.matches("rid-\\d+"))
        .map(_.stripPrefix("rid-").toLong).maxOption
    if (fs.exists(mdir)) fs.listStatus(mdir).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile &&
          (n.startsWith(".tmp-") || (n.startsWith("seg-") && !refSegs(n)) ||
            (n.matches("rid-\\d+") &&
              maxRid.exists(_ > n.stripPrefix("rid-").toLong))) &&
          (orphanGraceMs <= 0 || s.getModificationTime <= cutoff)
      }
      .foreach { s =>
        fs.delete(s.getPath, false)
        deleted += s"$ManifestDir/${s.getPath.getName}"
      }
    // headless branch dirs (no c-0 base marker — a crashed createBranch
    // or an append that raced a cleanup) are debris: branches() skips
    // them, nothing pins them, sweep them under the same grace rule
    val bdir = new org.apache.hadoop.fs.Path(root, BranchesDir)
    if (fs.exists(bdir)) fs.listStatus(bdir).toSeq
      .filter(s => s.isDirectory &&
        !branchSeqs(fs, s.getPath).contains(0L) &&
        (orphanGraceMs <= 0 || s.getModificationTime <= cutoff))
      .foreach { s =>
        fs.delete(s.getPath, true)
        deleted += s"$BranchesDir/${s.getPath.getName}"
      }
    deleted.toSeq
  }
}
