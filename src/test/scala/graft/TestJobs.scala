package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark-job counter for the constant-job-count pins: maintenance ops
  * must launch the same number of jobs no matter how many partitions
  * (or dirty partitions) the layout has — the scaling property that
  * separates "one distributed pass" from "a driver loop of jobs". */
object TestJobs {
  def jobsDuring(spark: SparkSession)(body: => Unit): Int =
    jobPropertiesDuring(spark)(body).size

  /** The local properties (description, group, …) of every job started
    * while `body` ran, in start order. */
  def jobPropertiesDuring(spark: SparkSession)(body: => Unit): Seq[java.util.Properties] = {
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    listening(spark, new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        props.add(Option(j.properties).getOrElse(new java.util.Properties)): Unit
    })(body, () => props.size)
    props.toArray(Array.empty[java.util.Properties]).toSeq
  }

  /** Input records read by every task that ended while `body` ran. */
  def recordsReadDuring(spark: SparkSession)(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    listening(spark, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead)): Unit
    })(body, () => n.get)
    n.get
  }

  /** Run `body` with `l` registered; the listener bus is async, so
    * wait until `observed` stops changing before removing it. */
  private def listening(spark: SparkSession, l: SparkListener)(
      body: => Unit, observed: () => Any): Unit = {
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev: Any = null
      var stable = 0
      while (stable < 3) {
        val c = observed()
        if (c == prev) stable += 1 else { stable = 0; prev = c }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
