package graft

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
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        props.add(Option(j.properties).getOrElse(new java.util.Properties)): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async: wait until the count stabilizes
      var prev = -1
      var stable = 0
      while (stable < 3) {
        val c = props.size
        if (c == prev) stable += 1 else { stable = 0; prev = c }
        Thread.sleep(100)
      }
      props.toArray(Array.empty[java.util.Properties]).toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
