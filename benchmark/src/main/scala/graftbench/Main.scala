package graftbench

import java.lang.management.{ManagementFactory, MemoryPoolMXBean}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. `run.py` builds it and starts it:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   Main --selftest --work <dir>
  *
  * It prints one JSON object as its last stdout line: the contract's
  * metrics for the mode (end-to-end with trace 0, per-layer with
  * trace 1), attempt and failure counts, and a `detail` record. */
object Main {
  val Cores = 4
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    // every byte the run writes stays inside the checkout
    b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.graft", classOf[graft.sources.sql.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"$work/tables")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    if (argv.contains("--selftest")) {
      val ok = SelfTest.run(s"$work/selftest")
      System.exit(if (ok) 0 else 1)
    }
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val out = run(name, seed, seconds, trace, work)
    log("done")
    println(out)
  }

  final case class Stat(value: Double, unit: String)

  private def log(msg: String): Unit = System.err.println(
    f"[bench] ${(System.currentTimeMillis() - startMs) / 1000.0}%.1fs $msg")

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, work: String): String = {
    val w = Workloads(name, work)
    var spark = session(Cores, work)
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val setup = new Recorder
    // trace mode traces the last set-up pass (bi_dashboard's build)
    val passS = (0 until w.setupPasses).map { p =>
      val last = p == w.setupPasses - 1
      tracer.foreach(t => if (last) t.attach())
      val t0 = System.nanoTime()
      w.prepare(spark, tracer.filter(_ => last).getOrElse(NoTrace), seed, s"$work/setup-$p", setup)
      (System.nanoTime() - t0) / 1e9
    }
    val setupSpanMs = tracer.fold(0.0)(_.spanMs)
    tracer.foreach(_.detach())
    val setupS = sessionS + Stats.median(passS)
    log(f"set-up done, setup_s=$setupS%.1f")
    w.warmUp(spark, setup)
    log("warm-up done")

    val rec = new Recorder
    rec.failed += setup.failed
    val heap = new HeapPeak
    // trace mode alternates traced and untraced rounds in the order
    // T U U T T U ..., so the tracing overhead is measured on the same op
    // mix with a linear warm-up trend cancelled; it runs at least one of each
    val opMs = Map(true -> mutable.ArrayBuffer.empty[Double], false -> mutable.ArrayBuffer.empty[Double])
    var iterMs = 0.0; var spanMs = 0.0; var tracedIters = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i % w.round != 0 || i < w.minIterations ||
        (trace && i < 2 * w.round)) {
      val traced = tracer.isDefined && ((i / w.round + 1) / 2) % 2 == 0
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      w.tracing(traced)
      val ops0 = rec.reads.sum + rec.writes.sum
      val span0 = tracer.fold(0.0)(_.spanMs)
      val t0 = System.nanoTime()
      w.step(spark, tracer.filter(_ => traced).getOrElse(NoTrace), i, rec)
      val t1 = System.nanoTime()
      opMs(traced) += rec.reads.sum + rec.writes.sum - ops0
      if (traced) {
        iterMs += (t1 - t0) / 1e6; spanMs += tracer.get.spanMs - span0; tracedIters += 1
      }
      i += 1
      if (i % w.round == 0) heap.sample()
    }
    tracer.foreach(_.detach())
    w.tracing(false)
    log(s"measured $i iterations")
    val heapMb = heap.finish()
    log(s"heap samples MiB ${heap.samples.mkString(",")}")
    if (rec.attempted == 0) rec.fail("no operation completed inside the measured window")

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "master" -> s"local[$Cores]", "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "iterations" -> i, "reads" -> rec.reads.size, "writes" -> rec.writes.size,
      "setup_passes_s" -> passS, "setup_loads_ms" -> setup.loads.take(w.setupPasses),
      "call_ms_p50" -> rec.byCall.map { case (k, v) => k -> Stats.median(v.toSeq) },
      "call_count" -> rec.byCall.map { case (k, v) => k -> v.size },
      "read_ms" -> rec.reads.map(math.round), "write_ms" -> rec.writes.map(math.round),
      "fail_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted))

    val metrics: Seq[(String, Stat)] =
      if (!trace) endToEnd(w, rec, setup, setupS, heapMb)
      else {
        val phases = tracer.get.stats().toMap
        if (tracer.get.uncut > 0) rec.fail(s"${tracer.get.uncut} traced build(s) made no Sink write")
        val extra = mutable.LinkedHashMap.empty[String, Double] ++= w.extras
        val cpuMs = phases.values.map(_.taskMs).sum
        val wallMs = phases.values.map(_.wallMs).sum
        extra("busy_ratio") = if (wallMs > 0) cpuMs / (wallMs * Cores) else 0.0
        extra("trace.overhead_ratio") = Stats.mean(opMs(true)) / Stats.mean(opMs(false))
        extra("trace.loop_overhead_ms") = (iterMs - spanMs) / math.max(1, tracedIters)
        detail ++= Seq("traced_iterations" -> tracedIters, "traced_iteration_ms" -> iterMs,
          "traced_phase_ms" -> spanMs, "setup_build_phase_ms" -> setupSpanMs,
          "phase_calls" -> phases.map { case (k, v) => k -> v.calls })
        w match {
          case bi: BiDashboard =>
            val csvRead = phases.values.map(_.csvBytesRead).sum.toDouble
            extra("DataCo.csv_scan_ratio") = csvRead / bi.csvBytes
            // the same build at local[4] and local[1], both warm
            val scale = new Recorder
            bi.rebuild(spark, scale)
            spark.stop()
            spark = session(1, work)
            bi.rebuild(spark, scale)
            rec.failed += scale.failed
            if (scale.loads.size == 2) extra("etl.speedup_1core") = scale.loads(1) / scale.loads(0)
            detail("etl_local4_local1_ms") = scale.loads.toSeq
          case _ =>
        }
        extra("setup.session_s") = sessionS
        extra("setup.inputs_s") = Stats.median(setup.inputs.toSeq) / 1000
        extra("setup.build_s") = Stats.median(setup.loads.take(w.setupPasses).toSeq) / 1000
        perLayer(phases, extra.toMap)
      }
    spark.stop()

    Json.obj(Seq(
      "correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, s) =>
        k -> Json.Raw(Json.obj(Seq("value" -> s.value, "unit" -> s.unit)))
      })),
      "detail" -> Json.Raw(Json.obj(detail.toSeq))))
  }

  /** The end-to-end metrics. Each workload reports every one; where a
    * workload has no timed call of a kind, the metric covers its set-up
    * calls of that kind (see the notes in README.md). */
  private def endToEnd(w: Workload, rec: Recorder, setup: Recorder, setupS: Double,
      heapMb: Double): Seq[(String, Stat)] = {
    val loads = setup.loads.take(w.setupPasses)
    val writes = if (rec.writes.nonEmpty) rec.writes else loads
    Seq(
      "setup_s" -> Stat(setupS, "s"),
      "etl_s" -> Stat(Stats.median(loads.toSeq) / 1000, "s"),
      "query_ms_p50" -> Stat(Stats.quantile(rec.reads.toSeq, 0.5), "ms"),
      "query_ms_p90" -> Stat(Stats.quantile(rec.reads.toSeq, 0.9), "ms"),
      "commit_ms_p50" -> Stat(Stats.quantile(writes.toSeq, 0.5), "ms"),
      "commit_ms_p90" -> Stat(Stats.quantile(writes.toSeq, 0.9), "ms"),
      "heap_peak_mb" -> Stat(heapMb, "MiB"))
  }

  val Phases: Seq[String] = Seq("DataCoPipeline.tables", "Sink.overwrite",
    "Sink.overwriteBucketed") ++ Dashboard.Measures ++ Seq("Snapshot.append",
    "sql.DELETE", "sql.UPDATE", "sql.MERGE", "Snapshot.maintain", "read.report",
    "read.time_travel", "Snapshot.readSnapshotRange")

  val Extras: Seq[(String, String)] = Seq("busy_ratio" -> "ratio",
    "DataCo.csv_scan_ratio" -> "ratio", "Snapshot.write_bytes_per_user_byte" -> "ratio",
    "Snapshot.manifest_bytes_per_commit" -> "bytes", "Snapshot.files_read_ratio" -> "ratio",
    "etl.speedup_1core" -> "ratio", "trace.overhead_ratio" -> "ratio",
    "trace.loop_overhead_ms" -> "ms", "setup.session_s" -> "s", "setup.inputs_s" -> "s",
    "setup.build_s" -> "s")

  /** Every per-layer metric, for every phase: a phase this workload does
    * not call reports 0. Phase values are means per call. */
  private def perLayer(phases: Map[String, PhaseStats],
      extra: Map[String, Double]): Seq[(String, Stat)] =
    Phases.flatMap { p =>
      val s = phases.getOrElse(p, PhaseStats(0, 0, 0, 0, 0, 0, 0, 0, 0))
      val n = math.max(1L, s.calls).toDouble
      Seq("wall_ms" -> Stat(s.wallMs / n, "ms"), "plan_ms" -> Stat(s.planMs / n, "ms"),
        "gap_ms" -> Stat(s.gapMs / n, "ms"), "jobs" -> Stat(s.jobs / n, "count"),
        "task_ms" -> Stat(s.taskMs / n, "ms"), "gc_ms" -> Stat(s.gcMs / n, "ms"),
        "shuffle_mb" -> Stat(s.shuffleBytes / n / (1 << 20), "MiB"))
        .map { case (k, v) => s"$p.$k" -> v }
    } ++ Extras.map { case (k, u) => k -> Stat(extra.getOrElse(k, 0.0), u) }
}

/** The JVM's largest old-generation occupancy after a full
  * collection, i.e. its live set: sampled between rounds at most every
  * [[HeapPeak.EveryMs]] and once at the end of the timed section, never
  * inside a timed call. */
final class HeapPeak {
  private val old: Option[MemoryPoolMXBean] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peak = 0L
  private var last = System.currentTimeMillis()

  // twice: the first collection queues Spark's weakly referenced
  // broadcasts and shuffles for its cleaner, the second frees them
  private def collect(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    old.fold(0L)(_.getUsage.getUsed)
  }

  // what the set-up left for the cleaner is freed before timing starts
  collect()

  def sample(force: Boolean = false): Unit =
    if (force || System.currentTimeMillis() - last >= HeapPeak.EveryMs) {
      val used = collect()
      samples += used >> 20
      peak = math.max(peak, used)
      last = System.currentTimeMillis()
    }

  val samples = mutable.ArrayBuffer.empty[Long]

  def finish(): Double = { sample(force = true); peak / 1048576.0 }
}

object HeapPeak {
  val EveryMs = 3000L
}

object Stats {
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Just enough JSON for the result line. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
