package graftbench

import java.nio.file.{Files, Paths}

import graft.sources.DataCo
import org.apache.spark.sql.functions._

/** Checks the benchmark itself, on small inputs:
  *  - the same seed gives byte-identical input files, another seed
  *    different ones;
  *  - the DataCo rows parse under `DataCo.schema` with no corrupt
  *    record, and every date the generator wrote as valid parses under
  *    the `M/d/yyyy H:m` pattern;
  *  - a traced `DataCoPipeline.run` splits into one
  *    `DataCoPipeline.tables`, one `Sink.overwrite` per dim and one
  *    `Sink.overwriteBucketed`, whose walls add up to the run's;
  *  - the answer checks catch a perturbed answer, for a dashboard
  *    measure and for the snapshot model.
  * Prints one line per check and returns whether all passed. */
object SelfTest {
  private def same(a: String, b: String): Boolean =
    java.util.Arrays.equals(Files.readAllBytes(Paths.get(a)), Files.readAllBytes(Paths.get(b)))

  def run(dir: String): Boolean = {
    Workloads.deleteTree(dir)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(what: String)(ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what"); results += what -> ok
    }
    val rows = 20000
    val a = DataCoGen.generate(7, s"$dir/a", rows)
    val b = DataCoGen.generate(7, s"$dir/b", rows)
    val c = DataCoGen.generate(8, s"$dir/c", rows)
    expect("same seed, byte-identical DataCo CSV and GeoJSON")(
      same(a.csv, b.csv) && same(a.geojson, b.geojson))
    expect("another seed, different DataCo CSV and GeoJSON")(
      !same(a.csv, c.csv) && !same(a.geojson, c.geojson))
    val ea = EventsGen.generate(7, s"$dir/a", 5000)._1
    val eb = EventsGen.generate(7, s"$dir/b", 5000)._1
    val ec = EventsGen.generate(8, s"$dir/c", 5000)._1
    expect("same seed, byte-identical events; another seed, different")(
      same(ea, eb) && !same(ea, ec))

    val spark = Main.session(Main.Cores, s"$dir/work")
    try {
      val raw = DataCo.read(spark, a.csv).cache()
      val r = raw.agg(count(lit(1)), count(col("_corrupt_record")),
        count(DataCo.parseTs(col("order_date_dateorders")))).collect()(0)
      expect(s"CSV parses under DataCo.schema: ${r.getLong(0)} rows, " +
        s"${r.getLong(1)} corrupt")(r.getLong(0) == rows && r.getLong(1) == 0)
      val validOrders = a.ref.b2(None).filterNot(_.startsWith("null"))
        .map(_.split('|').last.toLong).sum
      expect(s"dates follow M/d/yyyy H:m: ${r.getLong(2)} parse, $validOrders written valid")(
        r.getLong(2) == validOrders)

      val out = s"$dir/warehouse"
      val tracer = new Tracer(spark)
      tracer.attach()
      val built = new Recorder
      Etl.build(spark, tracer, a, out, built)
      val phases = tracer.stats().toMap
      tracer.detach()
      val calls = phases.map { case (k, v) => k -> v.calls }
      val tables = new java.io.File(out).list().length.toLong
      expect(s"the traced build splits into its calls: $calls")(
        calls == Map("DataCoPipeline.tables" -> 1L, "Sink.overwrite" -> (tables - 1),
          "Sink.overwriteBucketed" -> 1L))
      val phaseMs = phases.values.map(_.wallMs).sum
      expect(s"the split build's phases tile its wall: $phaseMs ms of ${built.loads.head} ms")(
        built.failed == 0 && math.abs(phaseMs - built.loads.head) < 20)
      val wh = new Warehouse(spark, out)
      val honest = new Recorder
      (0 until 4).foreach(m => Dashboard.request(wh, a.ref, m, None, NoTrace, honest))
      Dashboard.request(wh, a.ref, 1, Some((30, 200)), NoTrace, honest)
      expect("engine answers match the reference")(honest.failed == 0)
      val got = Check.render(graft.operators.DataCoWarehouse
        .profitByHierarchy(wh.fact, wh.prod, wh.cat, wh.dept).collect())
      val perturbed = got.updated(0, got.head.replaceFirst("\\|(-?\\d+)\\.", "|1$1."))
      val caught = new Recorder
      caught.check("perturbed B1", perturbed, a.ref.b1(None))
      expect("a perturbed B1 answer is caught")(caught.failed == 1 && perturbed != got)

      val events = EventsGen.generate(9, s"$dir/m", 1000)._2
      val model = new SnapshotModel(events)
      val want = model.summary()
      val off = want.updated(3, want(3).replaceFirst("\\|(\\d+)\\|", "|9$1|"))
      val caught2 = new Recorder
      caught2.check("perturbed report", off, want)
      expect("a perturbed snapshot report is caught")(caught2.failed == 1)
    } finally spark.stop()
    Workloads.deleteTree(dir)
    results.forall(_._2)
  }
}
