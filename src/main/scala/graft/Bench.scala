package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints the result as three JSON lines — the full record (mins + raw
  * runs + per-query loadavg), a compact record (total + mins + loadavg
  * bounds) and a minimal record (total + failed slots) — and writes the
  * full record to BENCH_LAST.json. Queries are fully materialized
  * through the noop sink so the measurement covers the whole plan, not
  * just a count.
  *
  * `SPARK_GRAFT_BENCH_ONLY=<name>[,<name>...]` restricts the run to any
  * graded slots (headline or not); run once per scale-factor dir to
  * compare scales. The untimed pass's `build_s` is a slot's first run
  * (fixture/store build included), its timed runs the serving path. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // Fail fast on a typo'd name: silently dropping it would report a
    // "subset" that quietly measured nothing the caller asked for.
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
        s"${unknown.toSeq.sorted.mkString(",")}")
    val slots =
      if (only.isEmpty) SparkEntry.headlines
      else SparkEntry.allDefs.map(_.name).filter(only)
    val spark = GraftSession.local(GraftSession.envCpus(32))

    def runOnce(name: String): Double =
      try SlotRunner.run(spark, SparkEntry.queries(name)(_, sfDir))(
        SlotRunner.noop).totalS
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: an OutOfMemoryError must kill the run — timings
        // taken on a corrupted JVM would be recorded as if valid.
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }

    // Uncounted warm-up pass on the target SF: each slot runs once
    // untimed so per-JVM fixture stores build and verdict caches warm
    // before any timed run, and both timed runs are serving runs. Without
    // it, run 1 pays the fixture build and a loaded box bleeds that build
    // into run 2 as well, which min-of-2 cannot undo. The build cost stays
    // observable as per-slot build_s in the full record. The pass also
    // covers JVM/codegen warm-up.
    val builds: Seq[(String, Double)] = slots.map(n => n -> runOnce(n))

    // System load average (1-min) before and after the timed section:
    // totals swing widely under external load with identical bytecode, so
    // the reading that explains an outlier ships inside the artifact
    // instead of being reconstructed later.
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val load0 = loadAvg
    // De-noising: each slot runs twice back-to-back and the reported
    // per-query value is the min, so external load on one run does not
    // hide or fake a regression. Both raw runs ship in "runs" so
    // the noise itself stays inspectable.
    def emit(results: Seq[(String, Seq[Double])],
             loads: Seq[(String, Seq[Double])], partial: Boolean): Unit = {
      def best(rs: Seq[Double]): Double = {
        val ok = rs.filter(_ >= 0)
        if (ok.isEmpty) -1.0 else ok.min
      }
      def rawMap(m: Seq[(String, Seq[Double])]): String =
        m.map { case (k, rs) => "\"" + k + "\":" + rs.mkString("[", ",", "]") }
          .mkString("{", ",", "}")
      val qs = results.map { case (k, rs) => "\"" + k + "\":" + best(rs) }
        .mkString("{", ",", "}")
      val total = results.map(r => best(r._2)).filter(_ >= 0).sum
      val tag = (if (partial) ""","partial":true""" else "") +
        (if (only.nonEmpty) ""","subset":true""" else "")
      val end = loadAvg
      val buildMap = builds
        .map { case (k, s) => "\"" + k + "\":" + s }.mkString("{", ",", "}")
      val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":${rawMap(results)},"build_s":$buildMap,"load":${rawMap(loads)},"sf":"$sfDir","loadavg_start":$load0,"loadavg_end":$end$tag}"""
      println(full)
      // Compact self-contained record: the full line (mins + raw runs +
      // per-query loadavg) can outgrow a bounded tail capture of stdout,
      // so this one carries total + per-query mins + loadavg bounds only.
      println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_start":$load0,"loadavg_end":$end,"compact":true$tag}""")
      // Minimal record last: with the full headline set even the compact
      // line is ~2.4 KB, longer than a 2000-byte tail window, so the final
      // stdout record carries only the total and the failed slots' names
      // (~100 bytes + failures). Any tail window that sees the run's end
      // sees this line whole.
      val failed = results.filter(r => best(r._2) < 0).map(_._1)
      println(s"""{"metric":"total","value":$total,"unit":"sec","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"n_queries":${results.size},"sf":"$sfDir","loadavg_end":$end,"minimal":true$tag}""")
      // … and the full record goes to a file a reader can open without
      // any stdout window at all.
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LAST.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write BENCH_LAST.json: $e") }
    }
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    // Per-query load evidence: the 1-min loadavg sampled immediately
    // before each individual run ships alongside the timing, so an outlier
    // is attributable to external contention from the artifact alone, per
    // query rather than per run.
    val loads = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    def timed(n: String): Double = {
      val l = loadAvg
      val i = loads.indexWhere(_._1 == n)
      if (i < 0) loads += n -> Seq(l)
      else loads(i) = n -> (loads(i)._2 :+ l)
      runOnce(n)
    }
    try slots.foreach { n =>
      // append after EACH run, not after the pair: a fatal error in run 2
      // must not drop run 1's completed timing from the partial emit
      results += n -> Seq(timed(n))
      results(results.length - 1) = n -> (results.last._2 :+ timed(n))
    }
    catch { case fatal: Throwable =>
      // A fatal error (OOM etc.) still aborts the run — runOnce only eats
      // NonFatal — but the queries timed before it died ship as a partial
      // line first, so a long run's results aren't lost with the JVM.
      // The emit itself is guarded: under the very OOM this path exists
      // for, string building/printing can throw too, and that secondary
      // failure must not replace the original fatal cause.
      try emit(results.toSeq, loads.toSeq, partial = true)
      catch { case e: Throwable => fatal.addSuppressed(e) }
      throw fatal
    }
    emit(results.toSeq, loads.toSeq, partial = false)
    spark.stop()
  }
}
