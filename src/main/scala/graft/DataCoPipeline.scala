package graft

import graft.operators.DataCoWarehouse
import graft.sources.{DataCo, GeoJson, Sink, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's WHOLE deliverable as one Spark application: raw
  * DataCo supply-chain CSV (+ optional lambda-shaped GeoJSON routes) →
  * snowflake dims + order-item fact → parquet or JDBC serving tables —
  * i.e. glue_master_etl.py main() (:88-364) plus the Lambda
  * preprocessing (:lambda_geojson_processor.py) collapsed into a single
  * engine lifecycle over the reference's real 58-column schema.
  * `Pipeline` runs the same architecture over the testdata star schema;
  * this main runs it over actual DataCo exports unchanged.
  *
  * Usage: runMain graft.DataCoPipeline <rawCsv> <outDir> [routes.geojson]
  *
  * Scale notes: dims are orders of magnitude smaller than the fact and
  * build from dim-sized shuffles (natural-key dedup windows); the fact
  * resolves every FK via broadcast joins and is written bucketed on
  * order_id so downstream order-grain joins co-locate.
  */
object DataCoPipeline {

  /** All warehouse tables keyed by serving-table name. Each dim is
    * built ONCE and shared between its serving table and the fact's FK
    * resolution (factWith), so no dim-build subtree appears twice. */
  def tables(raw: DataFrame, routes: Option[DataFrame] = None): Map[String, DataFrame] = {
    val dept = DataCoWarehouse.dimDepartment(raw)
    val cat  = DataCoWarehouse.dimCategory(raw, dept)
    val prod = DataCoWarehouse.dimProduct(raw, cat)
    val cust = DataCoWarehouse.dimCustomer(raw)
    val geo  = DataCoWarehouse.dimGeography(raw)
    val stat = DataCoWarehouse.dimExecutionStatus(raw)
    val routeDim = routes.map(DataCoWarehouse.dimRouteShapes)
    val base = Map(
      "dim_department" -> dept,
      "dim_category" -> cat,
      "dim_product" -> prod,
      "dim_customer" -> cust,
      "dim_geography" -> geo,
      "dim_execution_status" -> stat,
      "dim_date" -> DataCoWarehouse.dimDate(raw),
      "fact_order_items" ->
        DataCoWarehouse.factWith(raw, prod, cust, geo, stat, routeDim))
    routeDim.fold(base)(d => base + ("dim_route_shapes" -> d))
  }

  def run(spark: SparkSession, csvPath: String, outDir: String,
      routesPath: Option[String] = None): Unit = {
    val raw = DataCo.read(spark, csvPath)
    val routes = routesPath.map(GeoJson.routes(spark, _))
    tables(raw, routes).foreach { case (name, df) =>
      if (name == "fact_order_items")
        Sink.overwriteBucketed(df, s"$outDir/$name", "order_id",
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
      else Sink.overwrite(df, s"$outDir/$name")
    }
  }

  /** Serving-database load, reference parity: every table batch-loaded
    * over JDBC with TRUNCATE-refresh (glue_master_etl.py:71-85). */
  def runJdbc(spark: SparkSession, csvPath: String, url: String,
      routesPath: Option[String] = None, factPartitions: Int = 8): Unit = {
    val raw = DataCo.read(spark, csvPath)
    val routes = routesPath.map(GeoJson.routes(spark, _))
    tables(raw, routes).foreach { case (name, df) =>
      val parts = if (name == "fact_order_items") factPartitions else 1
      Sink.jdbcOverwrite(df, url, name, numPartitions = Some(parts))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DataCoPipeline <rawCsv> <outDir> [routes.geojson]")
    val spark = GraftSession.local(GraftSession.envCpus(8))
    run(spark, args(0), args(1), args.lift(2))
    spark.read.parquet(s"${args(1)}/fact_order_items")
      .agg(count(lit(1))).show()
    spark.stop()
  }
}
