package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

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

  /** The engine step that launched each job started while `body` ran,
    * in start order: the innermost `graft.` frames of the stack that
    * created the job's SQL execution (a job outside one carries its own
    * call site). A pin prints these when it fails, so a regression
    * names the step that added a job. */
  def jobSitesDuring(spark: SparkSession)(body: => Unit): Seq[String] = {
    val details = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    listening(spark, new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          details.put(s.executionId.toString, s.details): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        props.add(Option(j.properties).getOrElse(new java.util.Properties)): Unit
    })(body, () => props.size)
    props.toArray(Array.empty[java.util.Properties]).toSeq.map { p =>
      val site = Option(p.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(details.get(id)))
        .getOrElse(Option(p.getProperty("callSite.long")).getOrElse(""))
      val frames = site.split("\n").map(_.trim).filter(_.startsWith("graft."))
      if (frames.isEmpty) "(no graft frame)" else frames.take(3).mkString(" <- ")
    }
  }

  /** One line per job, numbered — the failure message of a job pin. */
  def describe(sites: Seq[String]): String =
    sites.zipWithIndex.map { case (s, i) => s"  job $i: $s" }.mkString("\n", "\n", "")

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
