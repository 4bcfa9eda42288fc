package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("SharedSpark is built by GraftSession: local[4], session configs, warehouse from extra") {
    val conf = spark.sparkContext.getConf
    // a fresh session's SQL conf: the values as built, whatever other
    // suites set at run time on the shared session
    val sql = spark.newSession().conf
    assert(spark.sparkContext.master == "local[4]")
    assert(sql.get("spark.sql.shuffle.partitions") == "4")
    assert(sql.get("spark.sql.session.timeZone") == "UTC")
    // no entry point sets AQE explicitly; it must be on by default
    assert(sql.get("spark.sql.adaptive.enabled") == "true")
    assert(sources.Tables.sessionConfigs.contains("spark.sql.extensions"))
    sources.Tables.sessionConfigs.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"session config $k")
    }
    // Spark qualifies the path (file:) once the shared state exists
    val warehouse = new org.apache.hadoop.fs.Path(conf.get("spark.sql.warehouse.dir"))
    assert(warehouse.toUri.getPath == SharedSpark.warehouseDir)
  }

  test("SlotRunner clears a persisted frame and rethrows when the sink fails") {
    val cache = spark.sharedState.cacheManager
    var cachedAtSink = false
    val boom = intercept[IllegalStateException] {
      SlotRunner.run(spark, s => s.range(10).toDF("id").persist()) { _ =>
        cachedAtSink = !cache.isEmpty
        throw new IllegalStateException("sink failed")
      }
    }
    assert(boom.getMessage == "sink failed")
    assert(cachedAtSink, "the query's persist() never reached the cache")
    assert(cache.isEmpty, "the runner left a cached frame behind")
  }

  test("GraftSession.scala is the only file under src/ that builds a session") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val files = Files.walk(Paths.get("src"))
    // ISO-8859-1 decodes any byte, so binary fixtures under src/ read too
    val offenders =
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
        .map(_.toString).toSeq.sorted
      finally files.close()
    assert(offenders == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
