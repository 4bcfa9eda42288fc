package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession, so every
  * main, tool and the test suites run the engine under the same
  * configuration: `local[cpus]` with one shuffle partition per core, UTC
  * session time, no UI, and every [[sources.Tables.sessionConfigs]]
  * entry (the DML extension among them). */
object GraftSession {

  /** Core count of an entry point: `SPARK_GRAFT_CPUS` when set, else the
    * entry point's own `default`. */
  def envCpus(default: Int): Int =
    Config.intFrom(sys.env, "SPARK_GRAFT_CPUS", default)

  /** A `local[cpus]` session. `extra` entries apply last, so a caller can
    * override any default above (e.g. a fixed shuffle-partition count). */
  def local(cpus: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (sources.Tables.sessionConfigs.toSeq ++ extra)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
