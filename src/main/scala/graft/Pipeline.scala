package graft

import graft.operators.SurrogateKeys
import graft.sources.{Sink, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end warehouse build — the reference's whole ETL
  * (glue_master_etl.py main(), :88-364) as one Spark application: every
  * dimension, the fact table, one atomic write each. What took the
  * reference a Lambda, two crawlers, a Glue job, 6 JDBC read-backs and
  * 70 driver-side bucket writes is here a DAG of self-contained plans.
  *
  * Usage: runMain graft.Pipeline <sfDir> <outDir>
  *
  * Scale notes: dims build from dimension-sized inputs (bounded parents
  * hint-broadcast, unbounded ones — customer, part — left to AQE; dense
  * surrogate keys, no single-partition window); the fact build's
  * only big shuffle is lineitem⋈orders on orderkey; writes go through
  * Sink (atomic overwrite; fact bucketed by orderkey so downstream
  * order-grain joins co-locate).
  */
object Pipeline {

  /** All 6 warehouse tables keyed by name, built lazily from one source
    * session. Shapes mirror ddl_snowflake_schema.sql re-keyed to the
    * testdata star schema. */
  def warehouse(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    val p = Tables.load(spark, dir, "part")

    // dim_date: union of both date sources, full attribute set (the
    // reference's DDL declares year/month/... but its ETL forgot them —
    // SURVEY §0 bug 2; populated here).
    val dimDate = o.select(to_date(col("o_orderdate")).as("date_actual"))
      .union(li.select(to_date(col("l_shipdate")).as("date_actual")))
      .distinct()
      .where(col("date_actual").isNotNull)
      .select(
        operators.DateKeys.dateKeyInt(col("date_actual")).as("date_key"),
        col("date_actual"),
        year(col("date_actual")).as("year"),
        month(col("date_actual")).as("month"),
        quarter(col("date_actual")).as("quarter"),
        dayofweek(col("date_actual")).as("day_of_week"),
        date_format(col("date_actual"), "MMMM").as("month_name"))

    // dim_customer: snowflake chain customer ← nation ← region. Keys
    // via SurrogateKeys.dense — distributed, no single-partition window.
    val dimCustomer = SurrogateKeys.dense(
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left")
        .select(
          col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"),
          col("n_name").as("nation"), col("r_name").as("region")),
      "customer_sk", Seq(col("c_custkey")))

    // dim_segment ← dim_type ← dim_part (the dept←cat←product chain).
    val withSeg = p.withColumn("seg_name", split(col("p_type"), " ").getItem(0))
    val dimSegment = SurrogateKeys.dense(
      withSeg.select(col("seg_name")).distinct(), "seg_sk", Seq(col("seg_name")))
    val dimType = SurrogateKeys.dense(
      withSeg.select(col("p_type"), col("seg_name")).distinct()
        .join(broadcast(dimSegment), Seq("seg_name"), "left")
        .select(col("p_type"), col("seg_sk")),
      "type_sk", Seq(col("p_type")))
    val dimPart = SurrogateKeys.dense(
      withSeg
        .join(broadcast(dimType.select(col("p_type"), col("type_sk"))), Seq("p_type"), "left")
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
          col("p_size"), col("p_retailprice"), col("type_sk")),
      "part_sk", Seq(col("p_partkey")))

    // dim_order_flags: junk dimension over the order status flags.
    val dimFlags = SurrogateKeys.dense(
      o.select(
          col("o_orderstatus").as("order_status"),
          col("o_orderpriority").as("order_priority"))
        .distinct(),
      "junk_sk", Seq(col("order_status"), col("order_priority")))

    // fact: grain = lineitem; FKs resolved in-engine. Only the bounded
    // flag-combo dim is hint-broadcast; customer and part scale with the
    // data (multi-GB at 100 TB), so AQE picks their join strategy —
    // broadcast while small, sort-merge once they outgrow the threshold.
    val fact = li
      .join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(dimCustomer.select(col("customer_sk"), col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .join(dimPart.select(col("part_sk"), col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(dimFlags),
        col("o_orderstatus") === col("order_status") &&
        col("o_orderpriority") === col("order_priority"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        operators.DateKeys.dateKeyInt(col("o_orderdate")).as("order_date_key"),
        operators.DateKeys.dateKeyInt(col("l_shipdate")).as("ship_date_key"),
        col("customer_sk"), col("part_sk"), col("junk_sk"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice").cast(DecimalType(18, 4))
          * (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4)))
          .cast(DoubleType).as("revenue"),
        col("l_returnflag").as("return_flag"))

    Map(
      "dim_date" -> dimDate,
      "dim_customer" -> dimCustomer,
      "dim_segment" -> dimSegment,
      "dim_type" -> dimType,
      "dim_part" -> dimPart,
      "dim_order_flags" -> dimFlags,
      "fact_lineitem" -> fact)
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit =
    warehouse(spark, sfDir).foreach { case (name, df) =>
      if (name == "fact_lineitem")
        Sink.overwriteBucketed(df, s"$outDir/$name", "l_orderkey",
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
      else Sink.overwrite(df, s"$outDir/$name")
    }

  /** The reference's actual serving path: every warehouse table batch-
    * loaded over JDBC with TRUNCATE-refresh semantics
    * (glue_master_etl.py:71-85). Dims load single-connection (they are
    * small); the fact fans out across `factPartitions` writers. */
  def runJdbc(spark: SparkSession, sfDir: String, url: String,
      factPartitions: Int = 8): Unit =
    warehouse(spark, sfDir).foreach { case (name, df) =>
      val parts = if (name == "fact_lineitem") factPartitions else 1
      Sink.jdbcOverwrite(df, url, name, numPartitions = Some(parts))
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCpus(8))
    run(spark, sfDir, outDir)
    spark.read.parquet(s"$outDir/fact_lineitem")
      .agg(count(lit(1))).show()
    spark.stop()
  }
}
