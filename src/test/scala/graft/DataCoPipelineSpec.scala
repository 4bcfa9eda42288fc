package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DataCo pipeline: raw 58-column CSV + lambda-shaped
  * GeoJSON routes → written warehouse, with referential integrity and
  * refresh idempotence — the reference's whole deliverable
  * (glue_master_etl.py main()) runnable as one command. */
class DataCoPipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private lazy val csvPath = getClass.getResource("/dataco/rawdata.csv").getPath
  private lazy val routesPath = getClass.getResource("/dataco/routes.geojson").getPath

  private lazy val outDir: String = {
    val d = Files.createTempDirectory("graft-dataco-wh").toFile
    d.deleteOnExit()
    DataCoPipeline.run(spark, csvPath, d.getAbsolutePath, Some(routesPath))
    d.getAbsolutePath
  }

  private def tbl(name: String) = spark.read.parquet(s"$outDir/$name")

  test("all 9 warehouse tables are written and non-empty") {
    Seq("dim_department", "dim_category", "dim_product", "dim_customer",
      "dim_geography", "dim_execution_status", "dim_date",
      "dim_route_shapes", "fact_order_items").foreach { t =>
      assert(tbl(t).count() > 0, t)
    }
  }

  test("fact grain = order items; every non-null FK resolves to its dim") {
    val fact = tbl("fact_order_items")
    assert(fact.count() == 6)
    assert(fact.select("order_item_id").distinct().count() == 6)
    def orphans(fk: String, dim: String, pk: String): Long = {
      val keys = tbl(dim).select(col(pk).as("__pk"))
      fact.where(col(fk).isNotNull)
        .join(keys, fact(fk) === col("__pk"), "left_anti").count()
    }
    assert(orphans("product_key", "dim_product", "product_key") == 0)
    assert(orphans("customer_key", "dim_customer", "customer_key") == 0)
    assert(orphans("status_key", "dim_execution_status", "status_key") == 0)
    assert(orphans("order_geo_key", "dim_geography", "geo_key") == 0)
    assert(orphans("order_date_key", "dim_date", "date_key") == 0)
    assert(orphans("shipping_date_key", "dim_date", "date_key") == 0)
    assert(orphans("route_shape_key", "dim_route_shapes", "route_shape_key") == 0)
  }

  test("route dim dedupes the re-uploaded composite key; fact rows resolve it") {
    val routes = tbl("dim_route_shapes")
    assert(routes.count() == 2) // PR-1 + PR-1-reupload collapse, CA-1 stays
    assert(routes.select("route_key_composite").distinct().count() == 2)
    // every fixture fact row carries the PR coords -> all resolve
    assert(tbl("fact_order_items").where(col("route_shape_key").isNull).count() == 0)
  }

  test("snowflake chain navigates: product -> category -> department") {
    val joined = tbl("dim_product")
      .join(tbl("dim_category").select("cat_key", "dept_key"), Seq("cat_key"))
      .join(tbl("dim_department"), Seq("dept_key"))
    assert(joined.count() == tbl("dim_product").count())
  }

  test("surrogate keys are dense 1..n in every dimension") {
    Seq("dim_department" -> "dept_key", "dim_category" -> "cat_key",
      "dim_product" -> "product_key", "dim_customer" -> "customer_key",
      "dim_geography" -> "geo_key", "dim_execution_status" -> "status_key",
      "dim_route_shapes" -> "route_shape_key").foreach { case (t, k) =>
      val keys = tbl(t).select(k).collect().map(_.getLong(0)).sorted
      assert(keys.sameElements(1L to keys.length), t)
    }
  }

  private val tableNames = Seq("dim_department", "dim_category", "dim_product",
    "dim_customer", "dim_geography", "dim_execution_status", "dim_date",
    "dim_route_shapes", "fact_order_items")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty

  test("runJdbc lands the DataCo warehouse in the serving database, idempotently") {
    val dbDir = Files.createTempDirectory("graft-dataco-derby").toFile
    dbDir.deleteOnExit()
    val url = s"jdbc:derby:${dbDir.getAbsolutePath}/wh;create=true"
    DataCoPipeline.runJdbc(spark, csvPath, url, Some(routesPath), factPartitions = 2)
    // the serving tables hold exactly the parquet warehouse's rows
    tableNames.foreach { name =>
      val want = tbl(name)
      val got = graft.sources.Sink.jdbcRead(spark, url, name)
        .select(want.schema.map(f => col(f.name).cast(f.dataType)): _*)
      assert(sameRows(got, want), name)
    }
    // refresh truncates, not doubles
    DataCoPipeline.runJdbc(spark, csvPath, url, Some(routesPath), factPartitions = 2)
    assert(graft.sources.Sink.jdbcRead(spark, url, "fact_order_items").count() == 6)
  }

  test("two runs into two directories write identical tables") {
    val again = Files.createTempDirectory("graft-dataco-wh2").toFile
    again.deleteOnExit()
    DataCoPipeline.run(spark, csvPath, again.getAbsolutePath, Some(routesPath))
    tableNames.foreach { name =>
      assert(sameRows(spark.read.parquet(s"${again.getAbsolutePath}/$name"), tbl(name)), name)
    }
  }

  test("every job of a run carries its table's DataCoPipeline.run description") {
    val dir = Files.createTempDirectory("graft-dataco-wh3").toFile
    dir.deleteOnExit()
    val group = s"DataCoPipelineSpec-${System.nanoTime()}"
    val sc = spark.sparkContext
    val jobs = TestJobs.jobPropertiesDuring(spark) {
      sc.setJobGroup(group, null)
      try DataCoPipeline.run(spark, csvPath, dir.getAbsolutePath, Some(routesPath))
      finally sc.clearJobGroup()
    }.filter(p => p.getProperty("spark.jobGroup.id") == group)
    val descriptions = jobs.map(p => Option(p.getProperty("spark.job.description")))
    assert(jobs.nonEmpty)
    assert(descriptions.forall(_.exists(_.startsWith("DataCoPipeline.run/"))), descriptions)
    assert(descriptions.flatten.map(_.stripPrefix("DataCoPipeline.run/")).toSet ==
      tableNames.toSet)
  }
}
