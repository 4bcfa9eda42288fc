package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (suites may run concurrently —
  * SparkSession is thread-safe; a session per suite would pay JVM-wide
  * Spark init repeatedly). Built like every entry point's session. */
object SharedSpark {
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** saveAsTable target for bucketed-layout tests — kept out of cwd. */
  lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse-dir").toString

  lazy val spark: SparkSession =
    GraftSession.local(4, Seq("spark.sql.warehouse.dir" -> warehouseDir))
}
