package graft.tools

import graft.{GraftSession, SlotRunner}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job profiling harness for one named query (guide §1: measure
  * first). Runs the query untimed once (fixture build + codegen warm),
  * then a profiled serving run through the noop sink with a listener
  * recording every job's wall time, description, task time, and shuffle
  * bytes — the map from "slot takes 2 s" to "which of its 14 jobs".
  *
  * Usage: runMain graft.tools.ProfileQuery <queryName> [sfDir]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(32)
    // ad-hoc A/B knobs for profiling runs: "k=v;k=v"
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession.local(cpus, extra)
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    def runOnce(): SlotRunner.Timing =
      SlotRunner.run(spark, fn(_, sfDir))(SlotRunner.noop)

    // fixture build + codegen warm (mirrors Bench's untimed pass)
    val build = runOnce().totalS
    val warm = runOnce().totalS

    case class StageRow(wallMs: Long, runMs: Long, gcMs: Long, shRead: Long,
        shWrite: Long, tasks: Int, name: String)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long, String)]
    val stageMetrics = scala.collection.mutable.LinkedHashMap.empty[Int, StageRow]
    val listener = new SparkListener {
      private val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts(e.jobId) = (e.time, d)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        starts.get(e.jobId).foreach { case (t0, d) =>
          jobs(e.jobId) = (t0, e.time, d)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        // the deepest in-query frame beats the generic callsite
        val where = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .map(_.trim.stripPrefix("at ")).getOrElse(si.name).take(95)
        if (tm != null)
          stageMetrics(si.stageId) = StageRow(wall, tm.executorRunTime,
            tm.jvmGCTime, tm.shuffleReadMetrics.totalBytesRead,
            tm.shuffleWriteMetrics.bytesWritten, si.numTasks, where)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val timed = runOnce()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let listener events drain
    spark.sparkContext.removeSparkListener(listener)

    println(f"\n=== $name  build=$build%.2f warm=$warm%.2f profiled=${timed.totalS}%.2f (wall $wall%.2f, frameBuild=${timed.buildS}%.2f exec=${timed.sinkS}%.2f) sf=$sfDir cpus=$cpus ===")
    println(f"${"job"}%4s ${"ms"}%7s  description")
    var total = 0L
    jobs.toSeq.sortBy(_._1).foreach { case (id, (s, e, d)) =>
      total += (e - s)
      println(f"$id%4d ${e - s}%7d  ${d.take(110)}")
    }
    println(f"sum of job wall times: ${total}ms (gaps = driver-side work)")
    println(f"\n${"stage"}%6s ${"wallMs"}%7s ${"runMs"}%8s ${"gcMs"}%6s ${"shRead"}%10s ${"shWrite"}%10s ${"tasks"}%6s  where")
    stageMetrics.toSeq.sortBy(_._1).foreach { case (id, r) =>
      println(f"$id%6d ${r.wallMs}%7d ${r.runMs}%8d ${r.gcMs}%6d ${r.shRead}%10d ${r.shWrite}%10d ${r.tasks}%6d  ${r.name}")
    }
    spark.stop()
  }
}
