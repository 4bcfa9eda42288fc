package graft

import graft.operators.DataCoWarehouse
import graft.sources.{Csv, DataCo}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden test over the reference's REAL input shape: the 58-column
  * DataCo supply-chain CSV (FIXTURES.md §A1), including the lenient
  * "M/d/yyyy H:m" date strings, mixed-case/whitespace status and geo
  * values, duplicate dim natural keys, and malformed dates. */
class DataCoSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private lazy val raw = {
    val path = getClass.getResource("/dataco/rawdata.csv").getPath
    DataCo.read(spark, path).cache()
  }

  test("fixture reads clean: 6 rows, no corrupt records, 58 columns") {
    assert(raw.count() == 6)
    assert(raw.where(col(Csv.corruptCol).isNotNull).count() == 0)
    assert(raw.columns.length == DataCo.schema.fields.length + 1) // + corrupt col
  }

  test("lenient M/d/yyyy H:m parse: single-digit fields, malformed to NULL") {
    import spark.implicits._
    val parsed = Seq("1/3/2015 9:5", "12/31/2018 23:59", "2/14/2016 0:0",
        "not_a_date", "13/45/2015 9:5", "")
      .toDF("ts_str")
      .select(DataCo.parseTs(col("ts_str")).cast("string").as("ts"))
      .collect().map(r => Option(r.getString(0)))
    assert(parsed(0).contains("2015-01-03 09:05:00"))
    assert(parsed(1).contains("2018-12-31 23:59:00"))
    assert(parsed(2).contains("2016-02-14 00:00:00"))
    assert(parsed(3).isEmpty) // text garbage
    assert(parsed(4).isEmpty) // month 13 / day 45
    assert(parsed(5).isEmpty) // empty string
  }

  test("dim_date: both timestamp columns, malformed dropped, yyyyMMdd keys") {
    val dd = DataCoWarehouse.dimDate(raw).collect()
    val keys = dd.map(_.getAs[Int]("date_key")).sorted
    assert(keys sameElements Array(20150103, 20150105, 20160214, 20160218,
      20160301, 20160303, 20181231, 20190102))
    dd.foreach { r =>
      val expect = r.getAs[java.sql.Date]("date_actual").toString.replace("-", "").toInt
      assert(r.getAs[Int]("date_key") == expect)
    }
  }

  test("date keys: the integer formula equals the yyyyMMdd formatter form on edge dates") {
    import spark.implicits._
    val src = Seq[String]("1/1/2015 0:0", "12/31/2018 23:59",
        "2/29/2016 12:30", "1/1/0001 0:0", "12/31/9999 23:59", null,
        "not_a_date").toDF("s")
    def formatted(d: org.apache.spark.sql.Column) =
      date_format(d, "yyyyMMdd").cast("int")
    val got = src.select(DataCo.dateKey(col("s")),
        formatted(DataCo.parseDate(col("s"))))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got.map(_._1) == got.map(_._2), s"source-string keys: $got")
    assert(got.map(_._1) == Seq(Some(20150101), Some(20181231),
      Some(20160229), Some(10101), Some(99991231), None, None))
    // the same edges as DATE values, independent of the source parse
    val dates = Seq("0001-01-01", "2016-02-29", "2016-12-31", "9999-12-31")
      .toDF("s").select(to_date(col("s")).as("d"))
    val byDate = dates.select(graft.operators.DateKeys.dateKeyInt(col("d")),
        formatted(col("d")))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(byDate.forall { case (a, b) => a == b }, s"date keys: $byDate")
    assert(byDate.map(_._1) == Seq(10101, 20160229, 20161231, 99991231))
  }

  test("snowflake chain dept <- category <- product resolves in-engine") {
    val dept = DataCoWarehouse.dimDepartment(raw)
    val cat  = DataCoWarehouse.dimCategory(raw, dept)
    val prod = DataCoWarehouse.dimProduct(raw, cat)
    assert(dept.count() == 2) // Fitness, Golf
    assert(cat.count() == 2)  // Cardio -> Fitness, Golf Clubs -> Golf
    assert(prod.count() == 3) // Bike, Mat, Driver
    // every category resolves its department; every product its category
    assert(cat.where(col("dept_key").isNull).count() == 0)
    assert(prod.where(col("cat_key").isNull).count() == 0)
    // surrogate keys dense 1..n
    assert(prod.select("product_key").collect().map(_.getLong(0)).sorted
      sameElements Array(1L, 2L, 3L))
  }

  test("dims dedupe natural keys; geo normalization collapses case/space") {
    assert(DataCoWarehouse.dimCustomer(raw).count() == 3)   // 501 x3 -> 1
    // Caguas vs CAGUAS and "Los Angeles" vs "los angeles " each collapse
    val geo = DataCoWarehouse.dimGeography(raw)
    assert(geo.count() == 2)
    assert(geo.where(col("city") === "CAGUAS").count() == 1)
    // status junk dim: the two COMPLETE-row spellings collapse
    assert(DataCoWarehouse.dimExecutionStatus(raw).count() == 4)
  }

  test("conflicting attributes keep one deterministic row per natural key") {
    // product 101 arrives with prices 50.00 and 60.00 -> one row, lowest kept
    val dept = DataCoWarehouse.dimDepartment(raw)
    val prod = DataCoWarehouse.dimProduct(raw, DataCoWarehouse.dimCategory(raw, dept))
    val p101 = prod.where(col("product_card_id") === 101).collect()
    assert(p101.length == 1)
    assert(p101.head.getAs[java.math.BigDecimal]("product_price")
      .compareTo(new java.math.BigDecimal("50.00")) == 0)
    // the CAGUAS geo triple arrives with regions Central America and
    // Pacific Rim -> one row, lexicographically-first region kept
    val caguas = DataCoWarehouse.dimGeography(raw)
      .where(col("city") === "CAGUAS").collect()
    assert(caguas.length == 1)
    assert(caguas.head.getAs[String]("region") == "Central America")
    // customer 503 has equal names but segments Consumer / Home Office ->
    // keeper order spans all attributes, Consumer wins
    val c503 = DataCoWarehouse.dimCustomer(raw)
      .where(col("customer_id") === 503).collect()
    assert(c503.length == 1)
    assert(c503.head.getAs[String]("segment") == "Consumer")
  }

  test("fact: order-item grain, FKs resolve, NULLs preserved where source is bad") {
    val f = DataCoWarehouse.fact(raw).cache()
    assert(f.count() == 6) // grain = order items
    // conflicting dim attributes (product 101 two prices, CAGUAS two
    // regions) must NOT fan the fact out: one fact row per order item
    assert(f.select("order_item_id").distinct().count() == 6)
    // product/customer/status always resolve in this corpus
    assert(f.where(col("product_key").isNull || col("customer_key").isNull
      || col("status_key").isNull).count() == 0)
    // order 2 had a malformed order date and empty shipping date
    val o2 = f.where(col("order_id") === 2).collect().head
    assert(o2.isNullAt(o2.fieldIndex("order_date_key")))
    assert(o2.isNullAt(o2.fieldIndex("shipping_date_key")))
    // order 3 had no order_city -> NULL geo FK (left-join path)
    val o3 = f.where(col("order_id") === 3).collect().head
    assert(o3.isNullAt(o3.fieldIndex("order_geo_key")))
    // everything else has a date key and a geo key
    assert(f.where(col("order_id") =!= 2 && col("order_date_key").isNull).count() == 0)
    assert(f.where(col("order_id") =!= 3 && col("order_geo_key").isNull).count() == 0)
    // no routes supplied -> route FK NULL everywhere (reference parity
    // with an empty processed-routes bucket)
    assert(f.where(col("route_shape_key").isNotNull).count() == 0)
  }

  test("B1-B4 dashboards are answerable from the rebuilt warehouse") {
    // the reference's four report measures (report pp.16-18) over the
    // DataCo fact + dims, against hand-computed golden values
    val dept = DataCoWarehouse.dimDepartment(raw)
    val cat  = DataCoWarehouse.dimCategory(raw, dept)
    val prod = DataCoWarehouse.dimProduct(raw, cat)
    val fact = DataCoWarehouse.fact(raw).cache()

    // B1 profit by hierarchy
    val b1 = DataCoWarehouse.profitByHierarchy(fact, prod, cat, dept).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[java.math.BigDecimal]("total_profit").doubleValue, r.getAs[Long]("n_items")))
      .toMap
    assert(b1 == Map(
      ("Fitness", "Cardio") -> (30.50, 4L),
      ("Golf", "Golf Clubs") -> (85.00, 2L)))

    // B2 sales by month: order 2's malformed date does NOT silently drop —
    // it surfaces as the (NULL, NULL) data-quality bucket (left dim join)
    val b2 = DataCoWarehouse.salesByMonth(fact, DataCoWarehouse.dimDate(raw))
      .collect()
      .map(r => (Option(r.get(r.fieldIndex("year"))), Option(r.get(r.fieldIndex("month")))) ->
        (r.getAs[java.math.BigDecimal]("total_sales").doubleValue, r.getAs[Long]("n_items")))
      .toMap
    assert(b2 == Map(
      (Some(2015), Some(1)) -> (125.00, 2L), (Some(2016), Some(2)) -> (300.00, 1L),
      (Some(2016), Some(3)) -> (60.00, 1L), (Some(2018), Some(12)) -> (150.00, 1L),
      (None, None) -> (200.00, 1L)))

    // B3 schedule adherence per shipping mode, integer ppm
    val b3 = DataCoWarehouse.scheduleAdherence(fact, DataCoWarehouse.dimExecutionStatus(raw))
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("n_on_schedule"), r.getAs[Long]("adherence_ppm")))
      .toMap
    assert(b3 == Map(
      "FIRST CLASS" -> (1L, 0L, 0L),
      "SAME DAY" -> (1L, 1L, 1000000L),
      "SECOND CLASS" -> (1L, 1L, 1000000L),
      "STANDARD CLASS" -> (3L, 2L, 666666L)))

    // B4 late risk by country (the NULL-geo row drops out)
    val b4 = DataCoWarehouse.lateRiskByCountry(fact, DataCoWarehouse.dimGeography(raw))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_late"), r.getAs[Long]("n_items")))
      .toMap
    assert(b4 == Map("PUERTO RICO" -> (0L, 3L), "USA" -> (1L, 2L)))
  }

  test("fact resolves route_shape_key via the 4-coordinate composite key") {
    import spark.implicits._
    val routes = Seq(
      (18.25, -66.03, 18.4, -66.06, "LINESTRING(-66.03 18.25, -66.06 18.4)"),
      (1.0, 2.0, 3.0, 4.0, "LINESTRING(2 1, 4 3)"))
      .toDF("origin_lat", "origin_long", "dest_lat", "dest_long", "shape_wkt")
    val dim = DataCoWarehouse.dimRouteShapes(routes)
    assert(dim.count() == 2)
    val f = DataCoWarehouse.fact(raw, Some(routes))
    // every fixture row carries the same src/dest coords -> all resolve
    assert(f.where(col("route_shape_key").isNull).count() == 0)
    assert(f.select("route_shape_key").distinct().count() == 1)
  }

  test("b05: served dashboard ≡ rebuilt dashboard, no fact scan at serve time") {
    val inline = SparkEntry.queries("b01_dataco_profit_hierarchy")(spark, SharedSpark.sf0001)
      .collect().toSeq
    val served = SparkEntry.queries("b05_dataco_profit_served")(spark, SharedSpark.sf0001)
      .collect().toSeq
    assert(served == inline, "served dashboard diverged from the warehouse rebuild")
    // the refresh loop reads |hierarchy| rollup rows — the warehouse
    // build (dim dedup, fact assembly, measure joins) never re-runs
    val plan = SparkEntry.queries("b05_dataco_profit_served")(spark, SharedSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dataco_profit_rollup"),
      s"b05 not reading the served rollup:\n$plan")
    assert(!plan.contains("lineitem") && !plan.contains("BroadcastHashJoin"),
      s"b05 re-ran the warehouse at serve time:\n$plan")
  }
}
