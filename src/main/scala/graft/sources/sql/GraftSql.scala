package graft.sources.sql

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import graft.sources.Snapshot
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL ENTRY SURFACE over the [[Snapshot]] table format — the r17 top
  * ask: the reference's entire consumer side speaks SQL (Redshift +
  * Power BI dashboards, report pp.16-18; `README.md:123-125` validates
  * via Athena SQL), so every table-format feature must be reachable
  * from `spark.sql(...)`, not only from the library API.
  *
  * Two public entry points, both planning through the manifest:
  *
  *  - [[GraftCatalog]] — a DataSourceV2 `TableCatalog`. Register once
  *    (`spark.sql.catalog.graft = graft.sources.sql.GraftCatalog`,
  *    `spark.sql.catalog.graft.warehouse = <dir>`) and every snapshot
  *    table under the warehouse is a SQL table:
  *    `SELECT … FROM graft.events WHERE …`, with time travel via the
  *    standard clauses — `VERSION AS OF 3` (or a tag name) resolves
  *    through the manifest chain, `TIMESTAMP AS OF '…'` through the
  *    strictly-monotonic commit timestamps ([[Snapshot.versionAsOf]]).
  *  - [[GraftDataSource]] — a `TableProvider` registered under the
  *    short name `graft`, so `spark.read.format("graft")` and
  *    `CREATE TABLE … USING graft OPTIONS (path …)` work without a
  *    catalog, with `versionAsOf` / `timestampAsOf` reader options.
  *
  * The scan is a V2 scan with V1 execution (the JDBC-connector
  * pattern, `org.apache.spark.sql.connector.read.V1Scan`): Spark's
  * pushdown negotiation happens at the V2 layer —
  * `SupportsPushDownFilters` + `SupportsPushDownRequiredColumns` —
  * and the accepted filters drive MANIFEST planning on the driver
  * (partition-directory pruning from the `pcol=` entry paths, min/max
  * and null-count file skipping via [[Snapshot.filesInRangesOf]], all
  * version-pinned metadata reads, never data IO). The planned file
  * subset then executes through the library's one battle-tested read
  * path ([[Snapshot.readVersionFiles]]), so deletion vectors,
  * equality deletes, recorded-schema evolution, and mid-evolution
  * layouts apply to SQL readers exactly as to library readers — one
  * semantics, two surfaces. The relation hands Spark the inner plan's
  * `InternalRow`s directly (`needConversion = false`), so no
  * per-row conversion tax is paid at the seam, and the accepted
  * filters are ALSO applied inside the inner plan, where Catalyst
  * pushes them into the parquet scan for row-group pruning below the
  * file-level manifest pruning.
  *
  * At 100 TB: a SQL point query plans its file subset from one
  * manifest read (no listing, no footers), reads only those files,
  * and row-group-prunes inside them — the same three-tier skipping
  * the library surface grades in q41/q42/q66, now reachable from a
  * dashboard. INSERT INTO lands as a manifest-committed
  * [[Snapshot.append]] (`V1Write` fallback), so SQL writers get the
  * same atomicity and schema-widening rules as library writers.
  */
object GraftSql {

  /** Conjunctive normal split of a pushed filter array: top-level
    * `And`s flatten to conjuncts (each independently usable for
    * pruning); anything else stays whole. */
  private[sql] def conjuncts(filters: Seq[Filter]): Seq[Filter] =
    filters.flatMap {
      case And(l, r) => conjuncts(Seq(l, r))
      case f => Seq(f)
    }

  /** Exact Column translation of a pushed source Filter — `Some` only
    * when the translation is COMPLETE (same rows under Catalyst
    * semantics), because accepted filters are not re-evaluated above a
    * V1 scan. Unsupported shapes return None and stay Spark-side. */
  private[sql] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case StringContains(a, p) => Some(col(a).contains(p))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** A literal's CONSERVATIVE interval in the manifest-stats long
    * domain (values cast to LONG at file-write time, timestamps
    * FLOORED to epoch seconds): the returned [lo, hi] always contains
    * the literal's recorded image, so range pruning keeps a file
    * superset. None → the domain mapping is unknown for this type and
    * no manifest pruning happens (the filter still executes exactly). */
  private[sql] def statsInterval(v: Any): Option[(Long, Long)] = v match {
    case x: java.lang.Byte => Some((x.longValue, x.longValue))
    case x: java.lang.Short => Some((x.longValue, x.longValue))
    case x: java.lang.Integer => Some((x.longValue, x.longValue))
    case x: java.lang.Long => Some((x.longValue, x.longValue))
    case x: java.sql.Timestamp =>
      val s = Math.floorDiv(x.getTime, 1000L); Some((s, s))
    case x: java.time.Instant => Some((x.getEpochSecond, x.getEpochSecond))
    case x: java.lang.Double =>
      Some((math.floor(x.doubleValue).toLong, math.ceil(x.doubleValue).toLong))
    case x: java.lang.Float =>
      Some((math.floor(x.doubleValue).toLong, math.ceil(x.doubleValue).toLong))
    case x: java.math.BigDecimal =>
      Some((x.setScale(0, java.math.RoundingMode.FLOOR).longValueExact(),
        x.setScale(0, java.math.RoundingMode.CEILING).longValueExact()))
    case _ => None
  }

  /** Render a partition-predicate literal as the directory value
    * string Spark's `partitionBy` writes, when the rendering is
    * unambiguous (strings, integrals, booleans, dates); None skips
    * directory pruning (timestamps escape characters in dir names —
    * conservative keep). */
  private[sql] def renderPartitionValue(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case x: java.lang.Byte => Some(x.toString)
    case x: java.lang.Short => Some(x.toString)
    case x: java.lang.Integer => Some(x.toString)
    case x: java.lang.Long => Some(x.toString)
    case x: java.lang.Boolean => Some(x.toString)
    case x: java.sql.Date => Some(x.toString)
    case x: java.time.LocalDate => Some(x.toString)
    case _ => None
  }

  /** MANIFEST FILE PLANNING from the accepted filters, version-pinned:
    * partition-directory pruning (equality / IN on the partition
    * column against the `pcol=value/` entry-path prefix), then min/max
    * + null-count file skipping on the declared stats columns
    * ([[Snapshot.filesInRangesOf]]). Metadata-only — no listing, no
    * footer, no data byte. Returns (planned files, total files). */
  private[sql] def planFiles(spark: SparkSession, path: String, v: Long,
      meta: Map[String, String], accepted: Seq[Filter])
      : (Seq[String], Int) = {
    val all = Snapshot.filesOf(spark, path, v)
    val cj = conjuncts(accepted)
    // partition-directory pruning — only entries under the ACTIVE
    // spec's prefix prune (a mid-evolution layout's other-spec files
    // keep conservatively)
    val partPruned = meta.get("pcol") match {
      case Some(p) =>
        val keepValues: Option[Set[String]] = {
          val sets = cj.collect {
            case EqualTo(a, value) if a == p =>
              renderPartitionValue(value).map(Set(_))
            case In(a, vs) if a == p =>
              val rendered = vs.toSeq.map(renderPartitionValue)
              if (rendered.forall(_.isDefined)) Some(rendered.flatten.toSet)
              else None
          }.flatten
          if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
        }
        keepValues match {
          case None => all
          case Some(keep) => all.filter { f =>
            if (!f.startsWith(s"$p=")) true // other-spec generation
            else keep(Snapshot.partValueOf(f, p))
          }
        }
      case None => all
    }
    // stats-range pruning: accumulate per-column conjunctive intervals
    val statsCols = meta.get("stats")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil).toSet
    var ranges = Map.empty[String, (Long, Long)]
    var contradiction = false
    def narrow(c: String, lo: Long, hi: Long): Unit = {
      val (plo, phi) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      val nlo = math.max(plo, lo); val nhi = math.min(phi, hi)
      if (nlo > nhi) contradiction = true else ranges += c -> (nlo, nhi)
    }
    val isNull = scala.collection.mutable.ListBuffer.empty[String]
    val isNotNull = scala.collection.mutable.ListBuffer.empty[String]
    cj.foreach {
      case EqualTo(c, value) if statsCols(c) =>
        statsInterval(value).foreach { case (lo, hi) => narrow(c, lo, hi) }
      case GreaterThan(c, value) if statsCols(c) =>
        statsInterval(value).foreach { case (lo, _) =>
          narrow(c, lo, Long.MaxValue) }
      case GreaterThanOrEqual(c, value) if statsCols(c) =>
        statsInterval(value).foreach { case (lo, _) =>
          narrow(c, lo, Long.MaxValue) }
      case LessThan(c, value) if statsCols(c) =>
        statsInterval(value).foreach { case (_, hi) =>
          narrow(c, Long.MinValue, hi) }
      case LessThanOrEqual(c, value) if statsCols(c) =>
        statsInterval(value).foreach { case (_, hi) =>
          narrow(c, Long.MinValue, hi) }
      case In(c, vs) if statsCols(c) && vs.nonEmpty =>
        val ivs = vs.toSeq.map(statsInterval)
        if (ivs.forall(_.isDefined)) {
          val flat = ivs.flatten
          narrow(c, flat.map(_._1).min, flat.map(_._2).max)
        }
      case IsNull(c) if statsCols(c) => isNull += c
      case IsNotNull(c) if statsCols(c) => isNotNull += c
      case _ => ()
    }
    val planned =
      if (contradiction) Seq.empty[String]
      else if (ranges.isEmpty && isNull.isEmpty && isNotNull.isEmpty)
        partPruned
      else {
        val kept = Snapshot.filesInRangesOf(spark, path, v,
          ranges.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) },
          isNull.toSeq, isNotNull.toSeq).toSet
        partPruned.filter(kept)
      }
    (planned, all.size)
  }
}

/** One snapshot table pinned to version `v`, exposed through the
  * connector API. `pinned` marks a time-travel load (refuses writes,
  * including DML). DELETE/UPDATE/MERGE route through [[GraftDmlRule]]
  * onto the snapshot primitives; the table itself only reads (manifest
  * planned, [[GraftScanBuilder]]) and appends (INSERT INTO). */
class GraftTable(path: String, v: Long, tableName: String, pinned: Boolean)
    extends Table with SupportsRead with SupportsWrite {
  private def spark: SparkSession = SparkSession.active
  private lazy val meta: Map[String, String] = Snapshot.metaOf(spark, path, v)

  /** The layout root, for the DML rule — with the shared write
    * refusals applied at plan time (a pinned time-travel load is
    * immutable; DML needs the recorded partition column). */
  private[sql] def dmlPath(verb: String): String = {
    if (pinned) throw new UnsupportedOperationException(
      s"cannot $verb time-travel pinned $tableName (VERSION/TIMESTAMP " +
      "AS OF reads are immutable)")
    path
  }
  private[sql] def dmlPartitionCol(verb: String): String =
    meta.getOrElse("pcol", throw new UnsupportedOperationException(
      s"$tableName has no recorded partition column — SQL $verb needs " +
      "a manifest with pcol metadata (every snapshot commit records it)"))

  private lazy val tableSchema: StructType =
    Snapshot.schemaOf(spark, path, v).getOrElse(
      // legacy layout without a recorded schema: one plan-time
      // inference read (footers only, no data)
      Snapshot.readVersion(spark, path, v).schema)

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def version(): String = v.toString
  override def partitioning(): Array[Transform] =
    meta.get("pcol").map(Expressions.identity).toArray
  override def properties(): JMap[String, String] =
    (Map("provider" -> "graft", "location" -> path,
      "snapshot-version" -> v.toString) ++
      meta.view.filterKeys(Set("pcol", "stats", "sort", "rowids",
        "eqdel", "nullstats")).toMap).asJava
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, v, tableSchema, meta)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinned) throw new UnsupportedOperationException(
      s"cannot write to time-travel pinned $tableName (VERSION/TIMESTAMP " +
      "AS OF reads are immutable)")
    val pcol = meta.getOrElse("pcol", throw new UnsupportedOperationException(
      s"$tableName has no recorded partition column — SQL INSERT needs " +
      "a manifest with pcol metadata (every snapshot commit records it)"))
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwrite) throw new UnsupportedOperationException(
                "INSERT OVERWRITE is not supported — use " +
                "Snapshot.replacePartitions (partition-grain, validated " +
                "against concurrent appends)")
              Snapshot.append(SparkSession.active, path, pcol, data): Unit
            }
          }
      }
    }
  }
}

/** V2 pushdown negotiation: accepted filters are the exactly-
  * translatable ones (they drive manifest planning AND execute inside
  * the inner plan); everything else stays residual for Spark. */
class GraftScanBuilder(path: String, v: Long, full: StructType,
    meta: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(f => GraftSql.toColumn(f).isDefined)
    accepted = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new GraftScan(path, v, required, accepted.toIndexedSeq, meta)
}

/** The V2 scan: manifest file planning on the driver at build time;
  * execution through the library read path via the V1 fallback seam
  * (`needConversion = false` — the inner plan's InternalRows pass
  * through unconverted). */
class GraftScan(path: String, v: Long, required: StructType,
    accepted: Seq[Filter], meta: Map[String, String]) extends V1Scan {

  private[sql] lazy val (plannedFiles, totalFiles) =
    GraftSql.planFiles(SparkSession.active, path, v, meta, accepted)

  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftSnapshot $path v=$v files=${plannedFiles.size}/$totalFiles " +
    s"pushed=[${accepted.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val planned = plannedFiles
    val total = totalFiles
    new GraftRelation(context, path, v, planned, total, required, accepted)
      .asInstanceOf[T]
  }
}

/** V1 execution shim: builds the inner DataFrame (version-pinned
  * subset read + the accepted filters + the pruned projection) and
  * hands its compiled RDD straight through. The toString surfaces the
  * manifest plan in `explain` (`Scan GraftSnapshot(... files=k/N)`). */
class GraftRelation(context: SQLContext, path: String, v: Long,
    planned: Seq[String], total: Int, required: StructType,
    accepted: Seq[Filter]) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val spark = context.sparkSession
    val base = Snapshot.readVersionFiles(spark, path, v, planned)
    val filtered = accepted.flatMap(GraftSql.toColumn)
      .foldLeft(base)(_ where _)
    val projected =
      if (required.isEmpty) filtered.select()
      else filtered.select(required.fieldNames.toIndexedSeq.map(col): _*)
    // the inner plan's rows ARE InternalRows; needConversion=false
    // tells Spark to take them as-is (the JDBC-relation contract)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  override def toString: String =
    s"GraftSnapshot($path, v=$v, files=${planned.size}/$total)"
}

/** The `TableCatalog`: identifiers resolve to snapshot layouts under
  * the configured warehouse directory; time travel via the standard
  * `loadTable` overloads (`VERSION AS OF` takes a version number or a
  * tag name; `TIMESTAMP AS OF` resolves through commit timestamps). */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  /** SQL MAINTENANCE VERB (r19 ask #5) through Spark 4's public
    * procedure seam — `CALL graft.maintain('t')` (optionally any
    * [[Snapshot.MaintainPolicy]] knob by name: `CALL graft.maintain(
    * 'events', max_files_per_partition => 4, keep_versions => 3)`)
    * runs the unified maintenance ladder [[Snapshot.maintain]] grades
    * in q89 — eq-convert → materialize → compact → expire — and
    * returns the ladder's actions as rows (step, signal, fired,
    * rows_affected). Idempotent to convergence like the library call:
    * a second CALL on an unchanged store fires nothing. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql
      .connector.catalog.procedures.UnboundProcedure =
    (ident.namespace().toSeq, ident.name()) match {
      case (Seq() | Seq("system"), "maintain") =>
        new GraftMaintainProcedure(this)
      case (Seq() | Seq("system"), "purge_dropped") =>
        new GraftPurgeDroppedProcedure(this)
      case _ => throw new UnsupportedOperationException(
        s"catalog '$catalogName' has no procedure " +
        s"'${(ident.namespace() :+ ident.name()).mkString(".")}' — " +
        "available: maintain(table, max_eq_sidecars, max_vectors, " +
        "max_referenced_share, max_files_per_partition, " +
        "compact_target_bytes, keep_versions); purge_dropped(grace_ms)")
    }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "maintain"),
        Identifier.of(namespace, "purge_dropped"))
    else Array.empty

  /** The warehouse's `.dropped/` trash entries: (path, dropMillis). */
  private[sql] def droppedLayouts()
      : Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val trash = new org.apache.hadoop.fs.Path(warehouse, ".dropped")
    val fs = trash.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(trash)) Seq.empty
    else fs.listStatus(trash).toSeq.filter(_.isDirectory).map { s =>
      // name = <table>-<dropMillis>-<uuid8>. Only entries matching the
      // FULL shape graft's own DDL writes are purgeable: the last token
      // must be the 8-hex uuid prefix and the stamp a plausible
      // epoch-millis (2000..3000 CE) — a foreign dir parked in the
      // trash (e.g. 'backup-123') previously parsed ts=123, reported a
      // huge age, and was deleted at ANY grace (ADVICE r20). Anything
      // unparsable reports age 0 so a sweep never deletes it.
      val parts = s.getPath.getName.split("-")
      val graftShape = parts.length >= 3 &&
        parts.last.length == 8 &&
        parts.last.forall(c => c.isDigit || ('a' <= c && c <= 'f'))
      val ts = if (graftShape)
        parts(parts.length - 2).toLongOption
          .filter(t => t >= 946684800000L && t < 32503680000000L)
          .getOrElse(Long.MaxValue)
      else Long.MaxValue
      (s.getPath, ts)
    }
  }
  private[sql] def deleteDropped(p: org.apache.hadoop.fs.Path): Boolean = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only ever delete inside this warehouse's `.dropped/` trash
    require(p.getParent != null && p.getParent.getName == ".dropped",
      s"refusing to delete outside the trash: $p")
    fs.delete(p, true)
  }

  /** The layout root a procedure's `table` argument names — same
    * identifier rules as table resolution. */
  private[sql] def tablePathOf(table: String): String = {
    val parts = table.split("\\.").toSeq
    pathOf(Identifier.of(parts.init.toArray, parts.last))
  }

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName
  private def spark: SparkSession = SparkSession.active

  private def pathOf(ident: Identifier): String = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(
      !p.contains("/") && p != ".." && !p.startsWith("."),
      s"illegal table identifier part '$p'"))
    (warehouse +: parts).mkString("/")
  }

  private def load(ident: Identifier, v: Long, pinned: Boolean): Table =
    new GraftTable(pathOf(ident), v,
      (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString("."),
      pinned)

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    val v = Snapshot.currentVersion(spark, p).getOrElse(
      throw new NoSuchTableException(ident))
    load(ident, v, pinned = false)
  }

  /** `VERSION AS OF x` — a snapshot version number, or a tag name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    val v = version.toLongOption
      .filter(Snapshot.versions(spark, p).contains)
      .orElse(Snapshot.tagVersion(spark, p, version))
      .getOrElse(throw new NoSuchTableException(ident))
    load(ident, v, pinned = true)
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    if (Snapshot.currentVersion(spark, p).isEmpty)
      throw new NoSuchTableException(ident)
    load(ident, Snapshot.versionAsOf(spark, p,
      Math.floorDiv(timestampMicros, 1000L)), pinned = true)
  }

  override def tableExists(ident: Identifier): Boolean =
    Snapshot.currentVersion(spark, pathOf(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path(
      (warehouse +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_manifests")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  /** `CREATE TABLE graft.t (… ) USING graft PARTITIONED BY (pcol)` —
    * maps to [[Snapshot.create]]: v1 commits the declared schema +
    * partition column with zero files (the reference's own entry point
    * is exactly this DDL — `ddl_snowflake_schema.sql`), and the table
    * serves zero typed rows until the first INSERT/append. Loud
    * boundaries: exactly ONE top-level identity partition column
    * (the store's layout contract — bucket/temporal transforms are a
    * different physical design), no external location, no unsupported
    * properties silently dropped. DROP TABLE retires the layout into
    * the warehouse trash (see [[dropTable]]); deletion happens only
    * through the grace-ruled `purge_dropped` procedure. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val p = pathOf(ident)
    if (Snapshot.currentVersion(spark, p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    val pcol = partitions.toSeq match {
      case Seq(t) if t.name == "identity" &&
          t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"graft tables are partitioned by exactly ONE top-level " +
        s"identity column — got [${other.mkString(", ")}]; " +
        "PARTITIONED BY (col) is the supported shape")
    }
    // properties Spark itself injects are fine; the manifest-backed
    // ones (`rowids`, `stats` — r19 ask #3: lineage was unreachable
    // from SQL, so a SQL-created table could never serve typed update
    // pairs and a graft-cdf stream over it refused its first UPDATE)
    // map onto the create commit; anything else would be silently
    // dropped — refuse loudly
    val ignorable = Set("provider", "owner",
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val known = Set("rowids", "stats")
    val unknown = properties.asScala.keySet
      .filterNot(k => ignorable(k) || known(k))
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"unsupported table properties ${unknown.mkString(", ")} — " +
      "supported: 'rowids'='on' (row lineage from birth), " +
      "'stats'='c1,c2' (min/max file-skipping columns); accepting " +
      "others would silently drop them")
    if (properties.asScala.contains(TableCatalog.PROP_LOCATION) ||
        properties.asScala.contains(TableCatalog.PROP_EXTERNAL))
      throw new UnsupportedOperationException(
        "external LOCATION is not supported — a catalog table lives " +
        "under its warehouse directory (the identifier IS the location)")
    val lineageMeta = properties.asScala.get("rowids") match {
      case None => Map.empty[String, String]
      case Some("on") => Map("rowids" -> "on")
      case Some(other) => throw new UnsupportedOperationException(
        s"TBLPROPERTIES rowids must be 'on', got '$other' — omit the " +
        "property for a table without row lineage (it cannot be " +
        "turned on later: ids exist from birth or not at all)")
    }
    val statsCols = properties.asScala.get("stats")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    Snapshot.create(spark, p, schema, pcol, meta = lineageMeta,
      statsCols = statsCols): Unit
    loadTable(ident)
  }
  /** SCHEMA EVOLUTION through SQL DDL — each supported change maps to
    * the library's metadata-only atomic commit, so `ALTER TABLE
    * graft.t RENAME COLUMN a TO b`, `ALTER COLUMN c TYPE BIGINT`
    * (int→long / float→double, the safe lattice), and `ADD COLUMN d
    * STRING` carry the SAME semantics and refusals as
    * [[Snapshot.renameColumn]] / [[Snapshot.promoteColumn]] /
    * [[Snapshot.addColumn]]: one manifest commit each, no file
    * rewrite, pre-evolution files keep serving (renamed columns fold
    * from their retired names, promoted ones read natively widened).
    * Nested fields and every other change shape refuse loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (Snapshot.currentVersion(spark, p).isEmpty)
      throw new NoSuchTableException(ident)
    def top(fieldNames: Array[String], what: String): String = {
      if (fieldNames.length != 1) throw new UnsupportedOperationException(
        s"$what on nested field '${fieldNames.mkString(".")}' is not " +
        "supported — graft schemas evolve at the top level")
      fieldNames(0)
    }
    // translate EVERY change first (unsupported shapes refuse before
    // anything happens); a multi-change statement then commits as ONE
    // atomic evolve — all changes or none, even under concurrent
    // committers (r18 ADVICE: the per-change loop used to durably
    // commit the earlier changes of a statement whose later change was
    // refused). Single changes keep their own op labels (rename /
    // promote stay change-feed-crossable).
    val evolutions: Seq[Snapshot.SchemaChange] = changes.map {
      case r: TableChange.RenameColumn =>
        Snapshot.RenameCol(top(r.fieldNames(), "RENAME COLUMN"), r.newName())
      case u: TableChange.UpdateColumnType =>
        Snapshot.PromoteCol(top(u.fieldNames(), "ALTER COLUMN TYPE"),
          u.newDataType())
      case a: TableChange.AddColumn =>
        if (!a.isNullable) throw new UnsupportedOperationException(
          "ADD COLUMN must be nullable — existing files read NULL in it")
        if (a.position() != null) throw new UnsupportedOperationException(
          "ADD COLUMN ... FIRST/AFTER is not supported — graft inserts " +
          "added columns before the partition column (the widen order " +
          "rule); a silent different position would lie to the caller")
        if (a.comment() != null) throw new UnsupportedOperationException(
          "ADD COLUMN ... COMMENT is not supported — the manifest " +
          "records no column comments; accepting one would silently " +
          "drop it")
        Snapshot.AddCol(top(a.fieldNames(), "ADD COLUMN"), a.dataType())
      case c => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $c — supported: RENAME COLUMN, " +
        "ALTER COLUMN TYPE (int→long, float→double), ADD COLUMN " +
        "(nullable, top-level, no position/comment)")
    }.toSeq
    evolutions match {
      case Seq(Snapshot.RenameCol(from, to)) =>
        Snapshot.renameColumn(spark, p, from, to): Unit
      case Seq(Snapshot.PromoteCol(name, to)) =>
        Snapshot.promoteColumn(spark, p, name, to): Unit
      case Seq(Snapshot.AddCol(name, tpe)) =>
        Snapshot.addColumn(spark, p, name, tpe): Unit
      case many =>
        Snapshot.evolveSchema(spark, p, many): Unit
    }
    loadTable(ident)
  }
  /** DROP TABLE as POINTER RETIREMENT (r19 ask #6): the layout
    * directory — manifests, data, sidecars, everything — moves
    * ATOMICALLY (one rename) into the warehouse's `.dropped/` trash,
    * stamped with the drop time. Nothing is deleted at drop time: the
    * destructive half is the GRACE-RULE sweep (`CALL <catalog>.
    * purge_dropped(grace_ms => …)`), mirroring how [[Snapshot.expire]]
    * separates retirement from deletion. Recreating the name gets a
    * FRESH directory — no debris resurrection is possible because the
    * old layout is no longer under the table's path at all. `.`-prefixed
    * identifier parts are refused everywhere, so trash is unreachable
    * through the catalog. Also what Spark's non-staging CREATE OR
    * REPLACE lowers onto (drop + create). */
  override def dropTable(ident: Identifier): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pathOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Snapshot.currentVersion(spark, pathOf(ident)).isEmpty) false
    else {
      val stamp = s"${System.currentTimeMillis()}-" +
        java.util.UUID.randomUUID().toString.take(8)
      val trash = new org.apache.hadoop.fs.Path(warehouse,
        s".dropped/${(ident.namespace() :+ ident.name()).mkString("_")}" +
        s"-$stamp")
      fs.mkdirs(trash.getParent)
      if (!fs.rename(p, trash)) throw new IllegalStateException(
        s"could not retire $p — concurrent drop?")
      true
    }
  }
  /** RENAME TABLE as one atomic directory rename — the same pointer
    * mechanics as [[dropTable]], but to a live name instead of trash. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new org.apache.hadoop.fs.Path(pathOf(oldIdent))
    val to = new org.apache.hadoop.fs.Path(pathOf(newIdent))
    val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Snapshot.currentVersion(spark, pathOf(oldIdent)).isEmpty)
      throw new NoSuchTableException(oldIdent)
    if (fs.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent.toString)
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to)) throw new IllegalStateException(
      s"could not rename $from to $to — concurrent DDL?")
  }

  // ----- SupportsNamespaces (directory-grain, read-only) -----------------
  override def listNamespaces(): Array[Array[String]] = {
    val dir = new org.apache.hadoop.fs.Path(warehouse)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith(".") && // `.dropped/` trash etc.
        !fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_manifests")))
      .map(s => Array(s.getPath.getName)).toArray
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = new org.apache.hadoop.fs.Path(
        (warehouse +: namespace.toSeq).mkString("/"))
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
    }
  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      "namespaces are warehouse directories — create them with the layout")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("DROP NAMESPACE is not supported")
}

/** `CALL <catalog>.maintain(table, …policy knobs…)` — the maintenance
  * ladder as a SQL procedure (Spark 4's `ProcedureCatalog` seam, the
  * Iceberg system-procedure idiom; Delta spells the same ops OPTIMIZE/
  * VACUUM, which Spark's parser does not own). Every knob defaults to
  * the [[Snapshot.MaintainPolicy]] default, so the common call is just
  * the table name; the partition column comes from the table's own
  * manifest. Output rows mirror [[Snapshot.MaintainAction]] so a SQL
  * caller sees exactly what fired. */
class GraftMaintainProcedure(catalog: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.types._

  override def name(): String = "maintain"
  override def description(): String =
    "Run the snapshot maintenance ladder (eq-convert -> materialize " +
    "-> compact -> expire) to convergence under the given policy"

  private val defaults = graft.sources.Snapshot.MaintainPolicy()

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "maintain"
      override def description(): String =
        GraftMaintainProcedure.this.description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("max_eq_sidecars", LongType)
          .defaultValue(defaults.maxEqSidecars.toString).build(),
        ProcedureParameter.in("max_vectors", LongType)
          .defaultValue(defaults.maxVectors.toString).build(),
        ProcedureParameter.in("max_referenced_share", DoubleType)
          .defaultValue(defaults.maxReferencedShare.toString).build(),
        ProcedureParameter.in("max_files_per_partition", IntegerType)
          .defaultValue(defaults.maxFilesPerPartition.toString).build(),
        ProcedureParameter.in("compact_target_bytes", LongType)
          .defaultValue(defaults.compactTargetBytes.toString).build(),
        ProcedureParameter.in("keep_versions", IntegerType)
          .defaultValue(defaults.keepVersions.toString).build())

      private val outSchema = StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("signal", StringType, nullable = false),
        StructField("fired", BooleanType, nullable = false),
        StructField("rows_affected", LongType, nullable = false)))

      override def call(input: org.apache.spark.sql.catalyst.InternalRow)
          : java.util.Iterator[Scan] = {
        val spark = SparkSession.active
        val table = input.getUTF8String(0).toString
        val policy = graft.sources.Snapshot.MaintainPolicy(
          maxEqSidecars = input.getLong(1),
          maxVectors = input.getLong(2),
          maxReferencedShare = input.getDouble(3),
          maxFilesPerPartition = input.getInt(4),
          compactTargetBytes = input.getLong(5),
          keepVersions = input.getInt(6))
        val path = catalog.tablePathOf(table)
        val pcol = Snapshot.currentMeta(spark, path)
          .flatMap(_.get("pcol")).getOrElse(
            throw new UnsupportedOperationException(
              s"$table has no recorded partition column — CALL maintain " +
              "needs a manifest with pcol metadata"))
        val actions = Snapshot.maintain(spark, path, pcol, policy)
        val report: Array[org.apache.spark.sql.catalyst.InternalRow] =
          actions.map { a =>
            org.apache.spark.sql.catalyst.InternalRow(
              a.step, org.apache.spark.unsafe.types.UTF8String
                .fromString(a.signal), a.fired, a.rowsAffected)
          }.toArray
        val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = outSchema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            report
        }
        java.util.Collections.singletonList(scan).iterator()
      }
    }
}

/** `CALL <catalog>.purge_dropped(grace_ms => …)` — the destructive
  * half of DROP TABLE: permanently deletes `.dropped/` trash entries
  * whose drop time is at least `grace_ms` old (default 7 days — the
  * same separation of retirement from deletion [[Snapshot.expire]]
  * applies to versions). Returns one row per trash entry: (retired,
  * age_ms, purged). Unparsable trash names never purge. */
class GraftPurgeDroppedProcedure(catalog: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.types._

  override def name(): String = "purge_dropped"
  override def description(): String =
    "Delete dropped-table trash older than grace_ms (default 7 days)"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "purge_dropped"
      override def description(): String =
        GraftPurgeDroppedProcedure.this.description()
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("grace_ms", LongType)
          .defaultValue((7L * 24 * 3600 * 1000).toString).build())
      private val outSchema = StructType(Seq(
        StructField("retired", StringType, nullable = false),
        StructField("age_ms", LongType, nullable = false),
        StructField("purged", BooleanType, nullable = false)))
      override def call(input: org.apache.spark.sql.catalyst.InternalRow)
          : java.util.Iterator[Scan] = {
        val grace = input.getLong(0)
        require(grace >= 0, s"grace_ms must be >= 0, got $grace")
        val now = System.currentTimeMillis()
        val report = catalog.droppedLayouts().map { case (p, ts) =>
          val age = math.max(0L, now - ts)
          val purge = ts != Long.MaxValue && age >= grace
          val done = purge && catalog.deleteDropped(p)
          org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(p.getName),
            age, done)
        }.toArray
        val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = outSchema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            report
        }
        java.util.Collections.singletonList(scan).iterator()
      }
    }
}

/** The `TableProvider` behind format("graft") / `USING graft`:
  * catalog-less access to one layout by `path`, with `versionAsOf`
  * (version number or tag) / `timestampAsOf` (millis or ISO instant)
  * reader options. */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = false

  private def spark: SparkSession = SparkSession.active

  private def resolve(options: CaseInsensitiveStringMap)
      : (String, Long, Boolean) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "format(\"graft\") needs a 'path' option (the snapshot layout root)"))
    Option(options.get("versionAsOf")) match {
      case Some(vs) =>
        val v = vs.toLongOption
          .filter(Snapshot.versions(spark, path).contains)
          .orElse(Snapshot.tagVersion(spark, path, vs))
          .getOrElse(throw new IllegalArgumentException(
            s"versionAsOf '$vs' names neither a committed version nor a " +
            s"tag of $path"))
        (path, v, true)
      case None => Option(options.get("timestampAsOf")) match {
        case Some(ts) =>
          val millis = ts.toLongOption.getOrElse(
            java.time.Instant.parse(ts).toEpochMilli)
          (path, Snapshot.versionAsOf(spark, path, millis), true)
        case None =>
          val v = Snapshot.currentVersion(spark, path).getOrElse(
            throw new IllegalStateException(
              s"no committed snapshot under $path"))
          (path, v, false)
      }
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, v, _) = resolve(options)
    Snapshot.schemaOf(spark, path, v).getOrElse(
      Snapshot.readVersion(spark, path, v).schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (path, v, pinned) =
      resolve(new CaseInsensitiveStringMap(properties))
    new GraftTable(path, v, s"graft:$path", pinned)
  }
}
