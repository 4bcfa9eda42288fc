package graft

/** Plan-audit main: prints the formatted physical plan for each named
  * query (or every query with no args) on sf0.001 — the loop used to
  * check that filters reach the parquet scan (PushedFilters), scans
  * prune columns (ReadSchema), dims broadcast (BroadcastHashJoin), and
  * codegen spans stay wide (WholeStageCodegen ids).
  *
  * Note: n05 (and anything else built on Dedup.connectedComponents) is
  * EAGER — constructing its frame runs the full iterative job, so
  * explaining it executes it; the printed plan is the final equi-join
  * over the converged, checkpointed labels, not the per-round loop.
  *
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n=============== $name ===============")
      SparkEntry.queries.get(name) match {
        case Some(q) => q(spark, "/root/testdata/sf0.001").explain("formatted")
        case None => println(s"unknown query: $name (known: ${
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
      }
    }
    spark.stop()
  }
}
