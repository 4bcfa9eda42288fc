package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's actual raw input: the 59-column DataCo supply-chain
  * CSV (source_data/metadata/DescriptionDataCoSupplyChainRefined.csv:
  * 1-59, reconstructed in FIXTURES.md §A1). The reference lets a
  * catalog crawler infer this schema (README.md:116-121); here it is
  * explicit — at 100 TB schema inference is an extra full pass and a
  * silent type-drift hazard.
  *
  * Also home of the reference's lenient timestamp parse: source dates
  * arrive as strings like "1/3/2015 9:5" and are parsed with pattern
  * "M/d/yyyy H:m" (glue_master_etl.py:183,186,302,304). Spark 2's
  * legacy parser returned NULL for malformed input; Spark 3+/4 default
  * policy THROWS mid-job instead. `try_to_timestamp` restores the
  * reference's null-on-malformed semantics per-expression — no
  * session-wide LEGACY policy flip, stays inside codegen.
  */
object DataCo {

  /** Reference source-date pattern (glue_master_etl.py:183). Single-
    * letter fields accept 1-2 digits, so "1/3/2015 9:5" and
    * "12/31/2018 23:59" both parse. */
  val datePattern = "M/d/yyyy H:m"

  /** Lenient timestamp: malformed/NULL input → NULL, never an error. */
  def parseTs(c: Column): Column = try_to_timestamp(c, lit(datePattern))

  /** Lenient date (reference to_date(col, "M/d/yyyy H:m")). */
  def parseDate(c: Column): Column = to_date(parseTs(c))

  /** yyyyMMdd integer date key (glue_master_etl.py:192,302). */
  def dateKey(c: Column): Column =
    graft.operators.DateKeys.dateKeyInt(parseDate(c))

  private def s(n: String)  = StructField(n, StringType)
  private def i(n: String)  = StructField(n, IntegerType)
  private def d(n: String)  = StructField(n, DoubleType)
  private def m(n: String)  = StructField(n, DecimalType(10, 2)) // money

  /** Column order follows the source data dictionary exactly
    * (source_data/metadata/DescriptionDataCoSupplyChainRefined.csv:2-59,
    * 58 data columns). */
  val schema: StructType = StructType(Seq(
    s("type"),
    i("days_for_shipping_real"), i("days_for_shipment_scheduled"),
    m("benefit_per_order"), m("sales_per_customer"),
    s("delivery_status"), i("late_delivery_risk"),
    i("category_id"), s("category_name"),
    s("customer_city"), s("customer_country"), s("customer_email"),
    s("customer_fname"), i("customer_id"), s("customer_lname"),
    s("customer_password"), s("customer_segment"), s("customer_state"),
    s("customer_street"), s("customer_zipcode"),
    i("department_id"), s("department_name"),
    d("latitude_src"), d("longitude_src"),
    s("market"),
    s("order_city"), s("order_country"),
    i("order_customer_id"),
    s("order_date_dateorders"),
    i("order_id"),
    i("order_item_cardprod_id"), m("order_item_discount"),
    m("order_item_discount_rate"), i("order_item_id"),
    m("order_item_product_price"), m("order_item_profit_ratio"),
    i("order_item_quantity"), m("sales"), m("order_item_total"),
    m("order_profit_per_order"),
    s("order_region"), s("order_state"), s("order_status"),
    i("product_card_id"), i("product_category_id"),
    s("product_image"), s("product_name"), m("product_price"),
    i("product_status"),
    s("shipping_date_dateorders"), s("shipping_mode"),
    d("latitude_dest"), d("longitude_dest"), s("address_dest"),
    s("order_city_en"), s("order_state_en"), s("order_country_en"),
    s("order_zipcode")))

  /** Permissive CSV read under the explicit schema: malformed rows land
    * in the corrupt-record column instead of being dropped. */
  def read(spark: SparkSession, path: String): DataFrame =
    Csv.read(spark, path, schema)
}
