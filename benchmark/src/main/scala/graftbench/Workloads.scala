package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.DataCoPipeline
import graft.operators.DataCoWarehouse
import graft.sources.Snapshot
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload records while it runs: one sample per timed call,
  * and every failed call or failed check. */
final class Recorder {
  val reads = mutable.ArrayBuffer.empty[Double]
  val writes = mutable.ArrayBuffer.empty[Double]
  val loads = mutable.ArrayBuffer.empty[Double]
  val inputs = mutable.ArrayBuffer.empty[Double]
  /** Every timed call's latency, by call. */
  val byCall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  private var reported = 0

  def fail(what: String): Unit = {
    failed += 1
    if (reported < 5) { System.err.println(s"[bench] FAILED $what"); reported += 1 }
  }

  /** Times `call`, records it under `into`, and counts it as attempted.
    * A call that throws counts as failed and yields None. */
  def timed[T](into: mutable.ArrayBuffer[Double], what: String)(call: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = call
      val ms = (System.nanoTime() - t0) / 1e6
      into += ms
      byCall.getOrElseUpdate(what, mutable.ArrayBuffer.empty) += ms
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(what: String, got: Seq[String], want: Seq[String]): Unit =
    if (got != want) fail(s"$what: got ${got.take(3).mkString("; ")} … " +
      s"(${got.size} rows), want ${want.take(3).mkString("; ")} … (${want.size} rows)")
}

object Check {
  /** A result row as the reference renders it: fields joined by '|'. */
  def render(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case v => v.toString
  }.mkString("|"))
}

/** One benchmark workload. [[prepare]] is one set-up pass, run
  * [[setupPasses]] times (the last pass's state is what the timed
  * section uses); [[step]] is one closed-loop iteration of the single
  * client. */
trait Workload {
  def setupPasses: Int
  def prepare(spark: SparkSession, probe: Probe, seed: Long, dir: String, rec: Recorder): Unit
  /** Untimed checks of the set-up's result, and a warm-up. */
  def warmUp(spark: SparkSession, rec: Recorder): Unit
  def step(spark: SparkSession, probe: Probe, i: Int, rec: Recorder): Unit
  /** Iterations that form one round of the op mix. The timed loop only
    * stops between rounds, and trace mode alternates whole rounds. */
  def round: Int = 1
  /** Iterations the timed loop runs at least, a whole number of rounds,
    * however soon `--seconds` ends: the percentiles' sample count. */
  def minIterations: Int = round
  /** Extra per-layer numbers only the traced run measures. */
  def extras: Map[String, Double] = Map.empty
  def tracing(on: Boolean): Unit = ()
}

object Workloads {
  /** Order items in the DataCo CSV. The reference's full dataset has
    * ~180k; a build's cost is mostly fixed (see README.md), and 10k keeps
    * a run inside the runner's time budget. */
  val DataCoRows = 10000
  /** ~100k events over 30 partitions, the testdata events shape. */
  val EventRows = 100000

  def apply(name: String, work: String): Workload = name match {
    case "bi_dashboard" => new BiDashboard(work)
    case "snapshot_dml" => new SnapshotDml(work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(Files.delete)
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from); val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** A seeded Fisher-Yates shuffle. */
  def shuffled[T: scala.reflect.ClassTag](rng: SplittableRandom, s: Seq[T]): Seq[T] = {
    val a = s.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Sizes of every regular file under `root`, keyed by path. */
  def sizes(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => p.toString -> Files.size(p)).toMap
  }
}

/** The warehouse tables a dashboard reads, loaded once like a BI
  * server's table handles. */
final class Warehouse(spark: SparkSession, dir: String) {
  private def t(n: String) = spark.read.parquet(s"$dir/$n")
  val fact: DataFrame = t("fact_order_items")
  val prod: DataFrame = t("dim_product")
  val cat: DataFrame = t("dim_category")
  val dept: DataFrame = t("dim_department")
  val dates: DataFrame = t("dim_date")
  val status: DataFrame = t("dim_execution_status")
  val geo: DataFrame = t("dim_geography")
}

object Dashboard {
  val Measures = Seq("DataCoWarehouse.profitByHierarchy", "DataCoWarehouse.salesByMonth",
    "DataCoWarehouse.scheduleAdherence", "DataCoWarehouse.lateRiskByCountry")

  /** Runs measure `m` over the (optionally date-sliced) fact, collects
    * it, and checks it against the generator's reference. */
  def request(wh: Warehouse, ref: DataCoReference, m: Int, slice: Option[(Int, Int)],
      probe: Probe, rec: Recorder): Unit = {
    val fact = slice.fold(wh.fact)(s => wh.fact.where(
      col("order_date_key").between(ref.dateKey(s._1), ref.dateKey(s._2))))
    val name = Measures(m)
    val got = rec.timed(rec.reads, name)(probe(name)(m match {
      case 0 => DataCoWarehouse.profitByHierarchy(fact, wh.prod, wh.cat, wh.dept).collect()
      case 1 => DataCoWarehouse.salesByMonth(fact, wh.dates).collect()
      case 2 => DataCoWarehouse.scheduleAdherence(fact, wh.status).collect()
      case _ => DataCoWarehouse.lateRiskByCountry(fact, wh.geo).collect()
    }))
    val want = m match {
      case 0 => ref.b1(slice)
      case 1 => ref.b2(slice)
      case 2 => ref.b3(slice)
      case _ => ref.b4(slice)
    }
    got.foreach(rows => rec.check(s"$name slice=$slice", Check.render(rows), want))
  }
}

/** The paper's batch: DataCo CSV + GeoJSON routes to the parquet
  * snowflake warehouse, through `DataCoPipeline.run`. */
object Etl {
  /** One `DataCoPipeline.run` into `out`, timed as a load. Traced, the
    * run is cut into the public calls it makes: each table write is a
    * SQL execution whose call site names its Sink call and whose plan
    * names the table; everything before the first write is
    * `DataCoPipeline.tables` with the two source readers. */
  def build(spark: SparkSession, probe: Probe, in: DataCoGen.Files, out: String,
      rec: Recorder): Boolean =
    rec.timed(rec.loads, "DataCoPipeline.run") {
      probe.split("DataCoPipeline.tables", sinkCall(out))(
        DataCoPipeline.run(spark, in.csv, out, Some(in.geojson)))
    }.isDefined

  /** The Sink call behind a write of the build, keyed by its table. */
  def sinkCall(out: String)(e: SqlExec): Option[(String, String)] = {
    val table = (java.util.regex.Pattern.quote(out) + "/([^/,\\s\\]]+)").r
    for {
      call <- Seq("overwriteBucketed", "overwrite").find(m => e.callSite.contains(s"graft.sources.Sink$$.$m("))
      t <- table.findFirstMatchIn(e.plan)
    } yield (s"Sink.$call", t.group(1))
  }

  /** Every table's natural-key count and the routed fact rows, in one
    * query. */
  def verify(spark: SparkSession, in: DataCoGen.Files, out: String, rec: Recorder): Unit = {
    val want = in.ref.counts + ("routed_fact_rows" -> in.ref.routedRows)
    val got = (in.ref.counts.keys.toSeq.map(t => spark.read.parquet(s"$out/$t")
        .select(lit(t).as("t"))) :+
      spark.read.parquet(s"$out/fact_order_items").where(col("route_shape_key").isNotNull)
        .select(lit("routed_fact_rows").as("t")))
      .reduce(_ union _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    want.foreach { case (t, n) =>
      if (!got.get(t).contains(n)) rec.fail(s"$t has ${got.getOrElse(t, 0L)} rows, want $n")
    }
  }
}

/** bi_dashboard: set-up builds the warehouse from the seeded DataCo
  * input with `DataCoPipeline.run` (timed: the paper's batch, in a fresh
  * JVM as a nightly job runs it) and checks every table; then a seeded
  * stream of B1-B4 requests runs over it, 40% of them with an
  * order-date range slicer, two in every five by position. The stream
  * only reads. */
final class BiDashboard(work: String) extends Workload {
  private var in: DataCoGen.Files = _
  private var out: String = _
  private var wh: Warehouse = _
  private var rng: SplittableRandom = _

  // one pass: a second build would double the run's set-up time
  def setupPasses: Int = 1

  def prepare(spark: SparkSession, probe: Probe, seed: Long, dir: String, rec: Recorder): Unit = {
    in = rec.timed(rec.inputs, "generate")(DataCoGen.generate(seed, dir, Workloads.DataCoRows)).get
    out = s"$dir/warehouse"
    Etl.build(spark, probe, in, out, rec)
    rng = new SplittableRandom(seed * 31 + 7)
  }

  def warmUp(spark: SparkSession, rec: Recorder): Unit = {
    Etl.verify(spark, in, out, rec)
    wh = new Warehouse(spark, out)
    // request latency keeps falling for a few dozen requests after the
    // build; four rounds take the steepest part of that out of the window
    (0 until 4 * round).foreach(i => step(spark, NoTrace, i, rec))
  }

  // a round asks each measure once, in a seeded order
  override def round: Int = Dashboard.Measures.size
  // 24 requests, about 8 s: a p90 over fewer rests on one or two
  // samples, and a longer window would not fit the runner's time limit
  override def minIterations: Int = 6 * round
  private var order: Seq[Int] = Nil
  // which requests carry a slicer: by position, two in every five, so
  // every run's samples hold the same 40% share; the seeded measure
  // order decides which measure a slicer falls on
  private val Sliced = Seq(false, true, false, true, false)

  def step(spark: SparkSession, probe: Probe, i: Int, rec: Recorder): Unit = {
    if (i % round == 0) order = Workloads.shuffled(rng, Dashboard.Measures.indices)
    val slice =
      if (!Sliced(i % Sliced.size)) None
      else {
        val lo = rng.nextInt(DataCoGen.OrderDays - 30)
        Some((lo, math.min(DataCoGen.OrderDays - 1, lo + 29 + rng.nextInt(336))))
      }
    Dashboard.request(wh, in.ref, order(i % round), slice, probe, rec)
  }

  /** A build at `local[cores]` in a fresh session, for the scaling check. */
  def rebuild(spark: SparkSession, rec: Recorder): Unit = {
    val o = s"$work/rebuild-${spark.sparkContext.defaultParallelism}"
    if (Etl.build(spark, NoTrace, in, o, rec)) Etl.verify(spark, in, o, rec)
    Workloads.deleteTree(o)
  }

  def csvBytes: Long = in.csvBytes
}

/** snapshot_dml: half writes, half reads against a snapshot table of
  * generated events. Writes: Snapshot.append batches, SQL DELETE, UPDATE
  * and MERGE INTO through the GraftCatalog table, and a periodic
  * Snapshot.maintain. Reads: a current-version per-partition report,
  * VERSION AS OF time travel, and a Snapshot.readSnapshotRange slice.
  * Every write changes rows; every read is compared per partition
  * (count and sum) with an in-memory model of the table. */
final class SnapshotDml(work: String) extends Workload {
  private val table = s"$work/tables/events"
  private var seedTable: String = _
  private var seedEvents: Seq[EventsGen.Event] = _
  private var model: SnapshotModel = _
  private var rng: SplittableRandom = _
  private var rowBytes = 0.0

  // A round is five writes interleaved with five reads. Maintain folds
  // the round's deletion vectors before MERGE: the store's merge refuses
  // outstanding deletes. The report costs about twice the other reads,
  // so one per round keeps the median read inside one group of calls.
  // The order is fixed: a read's cost depends on the write before it
  // (new files, outstanding deletes), so a seeded order would move the
  // median from seed to seed.
  private val Writes = Seq("append", "delete", "update", "maintain", "merge")
  private val Reads = Seq("report", "time_travel", "range", "time_travel", "range")
  // time travel reads the table as it was when the round began
  private var roundStart = 0L

  // trace-only counters
  private var traced = false
  private var manifestBytes = 0L
  private var commits = 0L
  private var writtenBytes = 0L
  private var userBytes = 0.0
  private var filesPlanned = 0L
  private var filesLive = 0L

  override def round: Int = Writes.size + Reads.size
  override def tracing(on: Boolean): Unit = traced = on

  def setupPasses: Int = 3

  def prepare(spark: SparkSession, probe: Probe, seed: Long, dir: String, rec: Recorder): Unit = {
    val (csv, events) = rec.timed(rec.inputs, "generate")(
      EventsGen.generate(seed, dir, Workloads.EventRows)).get
    seedEvents = events
    seedTable = s"$dir/events"
    rec.timed(rec.loads, "seed load")(Snapshot.append(spark, seedTable, "event_date",
      spark.read.schema(EventsGen.schema).csv(csv), meta = Map("stats" -> "event_id")))
    rowBytes = events.map(e => 8 * 4 + e.kind.length + e.props.length + 10).sum.toDouble / events.size
    rng = new SplittableRandom(seed * 31 + 11)
  }

  /** A fresh copy of the seeded table, and a model that matches it. */
  private def reset(spark: SparkSession): Unit = {
    Workloads.deleteTree(s"$work/tables")
    Workloads.copyTree(seedTable, table)
    model = new SnapshotModel(seedEvents)
    model.commit(Snapshot.currentVersion(spark, table).get)
  }

  def warmUp(spark: SparkSession, rec: Recorder): Unit = {
    reset(spark)
    (0 until round).foreach(i => step(spark, NoTrace, i, rec))
    reset(spark)
  }

  private def newEvent(part: Int): EventsGen.Event = {
    model.maxId += 1
    EventsGen.event(rng, model.maxId, part)
  }

  private def frame(spark: SparkSession, es: Seq[EventsGen.Event]): DataFrame =
    spark.createDataFrame(es.map(_.toRow).asJava, EventsGen.schema)

  /** An id range of 50-300 ids holding at least one live row. */
  private def liveRange(): (Long, Long) = {
    var r: (Long, Long) = null
    while (r == null) {
      val lo = 1L + rng.nextLong(model.maxId)
      val hi = lo + 49 + rng.nextInt(251)
      if (model.liveIn(lo, hi).nonEmpty) r = (lo, hi)
    }
    r
  }

  def step(spark: SparkSession, probe: Probe, i: Int, rec: Recorder): Unit = {
    val k = i % round
    if (k == 0) roundStart = model.committed.last
    if (k % 2 == 0) write(spark, probe, Writes(k / 2), rec) else read(spark, probe, Reads(k / 2), rec)
  }

  private def write(spark: SparkSession, probe: Probe, op: String, rec: Recorder): Unit = {
    val before = if (traced) Workloads.sizes(s"$work/tables") else Map.empty[String, Long]
    val v0 = Snapshot.currentVersion(spark, table).get
    var changed = 0L
    val done = op match {
      case "append" =>
        val parts = Seq.fill(1 + rng.nextInt(3))(rng.nextInt(EventsGen.Partitions))
        val batch = (0 until 300 + rng.nextInt(900)).map(j => newEvent(parts(j % parts.size)))
        changed = batch.size
        val df = frame(spark, batch)
        rec.timed(rec.writes, "Snapshot.append")(probe("Snapshot.append")(
          Snapshot.append(spark, table, "event_date", df))).map(_ => batch.foreach(model.upsert))
      case "delete" =>
        val (lo, hi) = liveRange()
        val ids = model.liveIn(lo, hi)
        changed = ids.size
        rec.timed(rec.writes, "sql.DELETE")(probe("sql.DELETE")(spark.sql(
          s"DELETE FROM graft.events WHERE event_id BETWEEN $lo AND $hi")))
          .map(_ => ids.foreach(model.delete))
      case "update" =>
        val (lo, hi) = liveRange()
        val ids = model.liveIn(lo, hi)
        changed = ids.size
        // not BETWEEN: the engine's UPDATE rewrite throws on it (see README.md)
        rec.timed(rec.writes, "sql.UPDATE")(probe("sql.UPDATE")(spark.sql(
          s"UPDATE graft.events SET value = value + 0.5 WHERE event_id >= $lo AND event_id <= $hi")))
          .map(_ => ids.foreach(model.add(_, 0.5)))
      case "merge" =>
        // a day's late corrections: updates to one id range's rows, and
        // new rows into the partitions that range spans
        val (lo, _) = liveRange()
        val matched = model.liveIn(lo, lo + 399).take(100)
          .map(id => EventsGen.event(rng, id, model.partOf(id)))
        val parts = matched.map(_.part).distinct
        val inserted = (0 until 100).map(j => newEvent(parts(j % parts.size)))
        val src = matched ++ inserted
        changed = src.size
        frame(spark, src).createOrReplaceTempView("merge_src")
        rec.timed(rec.writes, "sql.MERGE")(probe("sql.MERGE")(spark.sql(
          """MERGE INTO graft.events AS t USING merge_src AS s ON t.event_id = s.event_id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin))).map(_ => src.foreach(model.upsert))
      case "maintain" =>
        rec.timed(rec.writes, "Snapshot.maintain")(probe("Snapshot.maintain")(
          Snapshot.maintain(spark, table, "event_date",
            Snapshot.MaintainPolicy(maxVectors = 0L))))
    }
    if (done.isEmpty) return
    val v1 = Snapshot.currentVersion(spark, table).get
    if (op != "maintain" && v1 == v0) rec.fail(s"$op committed no version")
    model.commit(v1)
    if (traced) {
      val after = Workloads.sizes(s"$work/tables")
      val added = after.filter { case (p, s) => before.get(p).forall(_ != s) }
      writtenBytes += added.values.sum
      manifestBytes += added.filter(_._1.contains("/_manifests/")).values.sum
      commits += v1 - v0
      userBytes += changed * rowBytes
    }
  }

  private def report(df: DataFrame): DataFrame = df.groupBy("event_date")
    .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).orderBy("event_date")

  private def read(spark: SparkSession, probe: Probe, op: String, rec: Recorder): Unit = op match {
    case "report" =>
      rec.timed(rec.reads, "read.report")(probe("read.report")(spark.sql(
        """SELECT event_date, count(*) AS n, sum(value) AS s FROM graft.events
          |GROUP BY event_date ORDER BY event_date""".stripMargin).collect()))
        .foreach(rows => rec.check("report", Check.render(rows), model.summary()))
    case "time_travel" =>
      val v = roundStart
      rec.timed(rec.reads, "read.time_travel")(probe("read.time_travel")(spark.sql(
        s"""SELECT event_date, count(*) AS n, sum(value) AS s FROM graft.events
           |VERSION AS OF $v GROUP BY event_date ORDER BY event_date""".stripMargin).collect()))
        .foreach(rows => rec.check(s"time travel to v$v", Check.render(rows), model.at(v)))
    case "range" =>
      val lo = 1L + rng.nextLong(model.maxId)
      val hi = lo + 1999 + rng.nextInt(6001)
      if (traced) {
        val files = Snapshot.currentFiles(spark, table)._2
        filesLive += files.count(!_.startsWith("_"))
        filesPlanned += Snapshot.filesInRange(spark, table, lo, hi).size
      }
      rec.timed(rec.reads, "Snapshot.readSnapshotRange")(probe("Snapshot.readSnapshotRange")(
        report(Snapshot.readSnapshotRange(spark, table, lo, hi)
          .where(col("event_id").between(lo, hi))).collect()))
        .foreach(rows => rec.check(s"range [$lo, $hi]", Check.render(rows),
          model.summary(id => id >= lo && id <= hi)))
  }

  override def extras: Map[String, Double] = Map(
    "Snapshot.write_bytes_per_user_byte" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0),
    "Snapshot.manifest_bytes_per_commit" -> (if (commits > 0) manifestBytes.toDouble / commits else 0.0),
    "Snapshot.files_read_ratio" -> (if (filesLive > 0) filesPlanned.toDouble / filesLive else 0.0))
}
