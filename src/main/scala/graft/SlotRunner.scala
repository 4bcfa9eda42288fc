package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one query slot: builds its frame, hands it to a sink, and times
  * both. Failure policy stays with the caller; the runner only
  * guarantees `clearCache` afterwards, so frames a query `persist()`s
  * internally never leak into the next slot, even when it fails. */
object SlotRunner {

  /** Seconds spent building the frame and running the sink. */
  final case class Timing(buildS: Double, sinkS: Double) {
    def totalS: Double = buildS + sinkS
  }

  /** Materializes the whole plan without writing anything. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, query: SparkSession => DataFrame)(
      sink: DataFrame => Unit): Timing = {
    val t0 = System.nanoTime()
    try {
      val df = query(spark)
      val t1 = System.nanoTime()
      sink(df)
      Timing((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally spark.catalog.clearCache()
  }
}
