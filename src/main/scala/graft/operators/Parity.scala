package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity operator surface (SURVEY.md §2), re-expressed Spark-first
  * over the driver testdata star schema.
  *
  * Every operator class the reference executes appears here as a graded
  * query with a DuckDB oracle: scans/projections (glue_master_etl.py:109-348),
  * keyed dedup (A1, :112-289), union∘distinct (U1, :182-189), left equi-join
  * FK resolution (J1-J7, :123-327), surrogate keys replacing Redshift
  * IDENTITY (§2.10), hash-bucket predicates (P4, :151-153), limits (L1-L2),
  * the four BI aggregations (B1-B4, report pp.16-18), date-key derivation
  * (:301-304), upper/trim join normalization (:305-310), composite keys
  * (:296-299), and the lambda's WKT build (lambda_geojson_processor.py:37-38).
  *
  * Oracle-parity rules (see QueryDef): identical aliases both sides,
  * deterministic ORDER BY, money math in DECIMAL then cast to DOUBLE.
  *
  * Scale notes are inline per query — each plan is written to survive a
  * 1000-executor / 100 TB run: dims broadcast, fact-fact joins shuffle on
  * their join keys only, aggregates are partial-agg friendly, and no
  * driver-side collection happens anywhere.
  */
object Parity {

  /** Money arithmetic: exact DECIMAL in both engines, surfaced as DOUBLE. */
  private def dec(c: Column, scale: Int = 4): Column =
    c.cast(DecimalType(18, scale))
  private def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** SUM of a product of two scale-4 decimals, reduced back to scale 4
    * before the DOUBLE cast. The raw sum has scale 8, and once its
    * unscaled value exceeds 2^53 the DECIMAL→DOUBLE conversion is no
    * longer guaranteed bit-identical across engines (DuckDB computes
    * unscaled/10^8 in floating point). Source prices/discounts carry 2
    * decimal digits, so their scale-4 casts are exact and the scale-8
    * product's last 4 digits are always 0 — the scale-4 reduction is
    * lossless, and the unscaled value stays under 2^53 well past 100 TB
    * aggregate totals (~9·10^11 at scale 4). */
  private def dsumProd(a: Column, b: Column): Column =
    sum(dec(a) * dec(b)).cast(DecimalType(28, 4)).cast(DoubleType)

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // q01 — pricing summary: hash aggregation with partial (map-side) agg.
  // Parity target: the reference's grouped SUM measures (report p.16, B1/B2
  // pattern). Scale: group-by keys are low-cardinality → partial aggregation
  // collapses each map task to ~6 rows before the shuffle; final shuffle is
  // O(distinct keys), independent of input size.
  // ---------------------------------------------------------------------
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
          .as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q02 — dim_date build: union ∘ distinct over two date sources plus the
  // full attribute set the reference's DDL declares but its ETL forgets
  // (SURVEY.md §0 bug 2; ddl:55-59 vs glue_master_etl.py:189-198).
  // U1 union (etl:182-189) + date_key derivation (etl:192, 301-304).
  // Scale: distinct over dates is tiny after partial agg (≤ ~10k rows of
  // calendar regardless of fact size).
  // ---------------------------------------------------------------------
  private def q02(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(to_date(col("o_orderdate")).as("date_actual"))
    val l = t(s, dir, "lineitem").select(to_date(col("l_shipdate")).as("date_actual"))
    o.union(l).distinct()
      .where(col("date_actual").isNotNull)
      .select(
        col("date_actual"),
        DateKeys.dateKeyInt(col("date_actual")).as("date_key"),
        year(col("date_actual")).as("year"),
        month(col("date_actual")).as("month"),
        quarter(col("date_actual")).as("quarter"),
        dayofweek(col("date_actual")).as("day_of_week"),
        date_format(col("date_actual"), "MMMM").as("month_name"))
      .orderBy(col("date_actual"))
  }
  private val q02Sql =
    """SELECT date_actual,
      |  CAST(strftime(date_actual, '%Y%m%d') AS INT) AS date_key,
      |  CAST(year(date_actual) AS INT) AS year,
      |  CAST(month(date_actual) AS INT) AS month,
      |  CAST(quarter(date_actual) AS INT) AS quarter,
      |  CAST(dayofweek(date_actual) + 1 AS INT) AS day_of_week,
      |  monthname(date_actual) AS month_name
      |FROM (
      |  SELECT DISTINCT date_actual FROM (
      |    SELECT CAST(o_orderdate AS DATE) AS date_actual FROM orders
      |    UNION ALL
      |    SELECT CAST(l_shipdate AS DATE) AS date_actual FROM lineitem)
      |) WHERE date_actual IS NOT NULL
      |ORDER BY date_actual""".stripMargin

  // ---------------------------------------------------------------------
  // q03 — snowflake dim build with engine-generated surrogate keys:
  // customer → nation → region chain (J1/J2 pattern, glue_master_etl.py:
  // 123,135) with row_number surrogate keys replacing Redshift
  // IDENTITY(1,1) (§2.10; ddl_snowflake_schema.sql:28) — this deletes the
  // reference's write→read-back→join dance (§3.1).
  // Keys come from SurrogateKeys.dense (one distributed range split)
  // — identical assignment to row_number() OVER (ORDER BY c_custkey)
  // but with no single-partition window, so the same plan survives a
  // fact-sized input. Nation/region are broadcast (tiny).
  // ---------------------------------------------------------------------
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val joined = c
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"),
        col("n_name").as("nation"), col("r_name").as("region"))
    SurrogateKeys.dense(joined, "customer_sk", Seq(col("c_custkey")))
      .orderBy(col("c_custkey"))
  }
  private val q03Sql =
    """SELECT row_number() OVER (ORDER BY c_custkey) AS customer_sk,
      |  c_custkey, c_name, c_mktsegment, c_acctbal,
      |  n_name AS nation, r_name AS region
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q04 — deterministic keyed dedup: the reference's dropDuplicates(key)
  // (A1, 12 call sites) made deterministic as "first row per key by
  // explicit tiebreak" (SURVEY.md §7 hard parts). Scale: one shuffle on
  // the dedup key; window evaluated per-partition after hash partitioning.
  // ---------------------------------------------------------------------
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(
        col("o_custkey"),
        col("o_orderkey").as("first_orderkey"),
        to_date(col("o_orderdate")).as("first_orderdate"),
        col("o_totalprice").as("first_totalprice"))
      .orderBy(col("o_custkey"))
  }
  private val q04Sql =
    """SELECT o_custkey, first_orderkey, first_orderdate, first_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey AS first_orderkey,
      |    CAST(o_orderdate AS DATE) AS first_orderdate,
      |    o_totalprice AS first_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q05 — fact assembly: the reference's entry point 2 (§3.2,
  // glue_master_etl.py:291-348): derived date keys (:301-304), upper/trim
  // key normalization (:305-310), chained LEFT joins preserving NULL FKs
  // (:314-327), wide projection (:330-348).
  // Scale: lineitem⋈orders is the one genuinely big join — both sides
  // shuffle-partition on orderkey (sort-merge under AQE). part/supplier/
  // customer are dimension-side, but all three GROW with the data, so no
  // forced broadcast: AQE broadcasts them while they fit its threshold
  // and switches to sort-merge beyond it (a forced hint would OOM at
  // 100 TB). No driver loops: the reference's 20-bucket append loop
  // (:352-362) collapses into the shuffle's native partitioning.
  // ---------------------------------------------------------------------
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val p  = t(s, dir, "part")
    val su = t(s, dir, "supplier")
    val c  = t(s, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(p, col("l_partkey") === col("p_partkey"), "left")
      .join(su, col("l_suppkey") === col("s_suppkey"), "left")
      .join(c, col("o_custkey") === col("c_custkey"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        DateKeys.dateKeyInt(col("o_orderdate")).as("order_date_key"),
        DateKeys.dateKeyInt(col("l_shipdate")).as("ship_date_key"),
        col("l_quantity").as("quantity"),
        (dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast(DoubleType).as("revenue"),
        upper(trim(col("p_brand"))).as("brand_norm"),
        col("p_type").as("product_type"),
        col("s_name").as("supplier_name"),
        col("c_name").as("customer_name"),
        col("o_orderpriority").as("order_priority"))
      // NOT persisted before the final sort (unlike v07/q23/q29/q30):
      // interleaved bench A/B read OLD 1.19/1.22 s vs persisted
      // 1.39/1.52 s — the sort sampler's duplicate pass reuses the
      // dims' broadcasts, so it costs less than the columnar cache
      // round-trip of the full wide fact.
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val q05Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_date_key,
      |  CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS ship_date_key,
      |  l_quantity AS quantity,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      |  upper(trim(p_brand)) AS brand_norm,
      |  p_type AS product_type,
      |  s_name AS supplier_name,
      |  c_name AS customer_name,
      |  o_orderpriority AS order_priority
      |FROM lineitem
      |LEFT JOIN orders   ON l_orderkey = o_orderkey
      |LEFT JOIN part     ON l_partkey = p_partkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------------
  // q06 — B2 "Total Sales by Month/Year" (report pp.16-17): fact ⋈ date
  // dimension → time-series SUM. Plan shape: lineitem is PRE-AGGREGATED
  // by l_orderkey BEFORE the join (sum is algebraic; o_orderkey is the
  // orders PK), so (a) the join probe side shrinks ~4× and (b) n_orders
  // is a plain count of joined rows — no countDistinct, no Expand, no
  // O(#orders)-per-group distinct state. At 100 TB the only big exchange
  // is the partial-agg shuffle on orderkey; the month-level agg state is
  // O(#months). (r2 regression: countDistinct after the join fan-out
  // doubled the shuffled rows via Expand — 7.3s; this form is the
  // two-level rewrite VERDICT r2 #3 asked for.)
  // ---------------------------------------------------------------------
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .as("order_sales"))
    perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"))
      .agg(
        sum(col("order_sales")).cast(DecimalType(28, 4)).cast(DoubleType)
          .as("total_sales"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("year"), col("month"))
  }
  private val q06Sql =
    """SELECT CAST(year(o_orderdate) AS INT) AS year,
      |  CAST(month(o_orderdate) AS INT) AS month,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE) AS total_sales,
      |  COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |ORDER BY year, month""".stripMargin

  // ---------------------------------------------------------------------
  // q07 — B1 "Profitability Hierarchy" (report p.16): SUM over the
  // snowflake hierarchy region → nation → customer (the reference's
  // dept → cat → product treemap). Scale: nation/region broadcast;
  // the only shuffles are lineitem⋈orders (orderkey) and orders⋈customer
  // (custkey) — both key-partitioned, then a tiny group-by.
  // ---------------------------------------------------------------------
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
          .as("total_revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("region"), col("nation"))
  }
  private val q07Sql =
    """SELECT r_name AS region, n_name AS nation,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1, 2
      |ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------------------------
  // q08 — B3 "Schedule Adherence %" (report pp.17-18): ratio measure —
  // share of lineitems shipped within 60 days of order date, by priority.
  // The ratio is surfaced as exact parts-per-million via 64-bit integer
  // division (never a raw DOUBLE): a float ratio column is hostage to
  // each engine's division + the harness's float canonicalization (the
  // round-1 q08 hash miss), while integer math is bit-identical by
  // construction. Consumers recover the float as adherence_ppm / 1e6.
  // ---------------------------------------------------------------------
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("on_time",
        when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) <= 60, 1L)
          .otherwise(0L))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        sum(col("on_time")).as("n_on_time"),
        count(lit(1)).as("n_total"))
      .withColumn("adherence_ppm",
        expr("(n_on_time * 1000000) div n_total"))
      .orderBy(col("priority"))
  }
  // DuckDB's SUM(INTEGER) returns HUGEINT, and HUGEINT propagates through
  // `//`; the driver fetches oracle rows via pandas/arrow, where HUGEINT
  // becomes float64 ("5947.0" vs Spark's "5947" → hash miss). Every
  // integer aggregate must therefore be CAST(... AS BIGINT) on the oracle
  // side (the proven q08 r1/r2 root cause).
  private val q08Sql =
    """SELECT priority, n_on_time, n_total,
      |  CAST((n_on_time * 1000000) // n_total AS BIGINT) AS adherence_ppm
      |FROM (
      |  SELECT o_orderpriority AS priority,
      |    CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
      |    COUNT(*) AS n_total
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------------
  // q09 — B4 "Orders at Late Risk by geography" (report p.18): filtered
  // COUNT through the geo dimension chain. The risk flag analog is
  // l_returnflag = 'R'. Filter is pushed to the parquet scan
  // (PushedFilters), so only matching rows ever shuffle.
  // ---------------------------------------------------------------------
  // Two-level form (VERDICT r2 #3): the at-risk lineitems are counted
  // per orderkey BEFORE the join, so the per-nation distinct-order count
  // is a plain COUNT(*) of joined rows — no Expand, and the join input
  // shrinks from rows to orders. Filter still reaches the parquet scan.
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val perOrder = li.where(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"))
    perOrder
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        sum(col("n_items")).as("n_at_risk"),
        count(lit(1)).as("n_orders_at_risk"))
      .orderBy(col("nation"))
  }
  private val q09Sql =
    """SELECT n_name AS nation, COUNT(*) AS n_at_risk,
      |  COUNT(DISTINCT o_orderkey) AS n_orders_at_risk
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1
      |ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------------
  // q10 — bucket predicate (P4, glue_master_etl.py:151-153, 353-355): the
  // reference selects one hash bucket at a time for progressive writes.
  // Modulo on the key keeps the oracle engine-agnostic (Spark hash() is
  // Murmur3, DuckDB's differs). At scale this is a scan-level filter —
  // no shuffle at all.
  // ---------------------------------------------------------------------
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(pmod(col("o_orderkey"), lit(20)) === 3)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  private val q10Sql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 20 = 3
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q11 — top-k (L1/L2 limits + ordering the reference leaves to the BI
  // tool, §2.6): TakeOrderedAndProject — each partition keeps k rows, the
  // driver merges k·p rows; no global sort of the full table.
  // ---------------------------------------------------------------------
  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(graft.Config.TopKRows)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("order_date"))
      .orderBy(col("o_orderkey"))
  private val q11Sql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, order_date FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(o_orderdate AS DATE) AS order_date
      |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT ${graft.Config.TopKRows})
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q12 — join-key normalization (J6/J7, glue_master_etl.py:262-266,
  // 305-310): upper(trim()) materialized into a column so the equi-join /
  // group stays hashable (SURVEY.md §4).
  // ---------------------------------------------------------------------
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.withColumn("segment_norm", upper(trim(col("c_mktsegment"))))
      .join(o, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("segment_norm"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("segment_norm"))
  }
  private val q12Sql =
    """SELECT upper(trim(c_mktsegment)) AS segment_norm,
      |  COUNT(DISTINCT c_custkey) AS n_customers,
      |  COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1
      |ORDER BY segment_norm""".stripMargin

  // ---------------------------------------------------------------------
  // q13 — composite-key equi-join (J5, glue_master_etl.py:296-299): the
  // reference concatenates 4 coordinates into one route key; here the
  // composite is custkey+year. The idiomatic fix (join on the raw columns)
  // is noted in SURVEY §2.3 — this query keeps the concat form to grade
  // the reference's exact semantics.
  // ---------------------------------------------------------------------
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .withColumn("cust_year_key",
        concat_ws("_", col("o_custkey"), year(col("o_orderdate"))))
    val aggd = o.groupBy(col("cust_year_key").as("agg_key"))
      .agg(count(lit(1)).as("orders_in_year"),
        dsum(col("o_totalprice")).as("spend_in_year"))
    o.join(aggd, col("cust_year_key") === col("agg_key"), "left")
      .select(col("o_orderkey"), col("cust_year_key"),
        col("orders_in_year"), col("spend_in_year"))
      .orderBy(col("o_orderkey"))
  }
  private val q13Sql =
    """WITH keyed AS (
      |  SELECT o_orderkey,
      |    concat_ws('_', o_custkey, year(o_orderdate)) AS cust_year_key,
      |    o_totalprice
      |  FROM orders),
      |aggd AS (
      |  SELECT cust_year_key AS agg_key, COUNT(*) AS orders_in_year,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend_in_year
      |  FROM keyed GROUP BY 1)
      |SELECT o_orderkey, cust_year_key, orders_in_year, spend_in_year
      |FROM keyed LEFT JOIN aggd ON cust_year_key = agg_key
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q14 — WKT LINESTRING build via higher-order functions: the lambda's
  // per-feature Python loop (lambda_geojson_processor.py:29-40) re-done
  // as codegen'd array expressions — transform + array_join + element_at
  // (SURVEY §2.8), including origin=coords[0] / dest=coords[-1].
  // Coordinates are int-scaled so string formatting is engine-agnostic.
  // Note: emits true dest pair — the reference's end_lat-twice bug
  // (lambda:40) is deliberately not replicated (SURVEY §0 bug 1).
  // ---------------------------------------------------------------------
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // float→double BEFORE the scale-up, mirrored in the oracle: both
    // engines must round the same double, not one a float product (a
    // borderline mantissa otherwise rounds apart — seen at sf1)
    val scaled = e.withColumn("pts",
      transform(sequence(lit(0), lit(3)), i =>
        concat_ws(" ",
          round(element_at(col("embedding"), i * 2 + 1).cast(DoubleType) * 1000, 0)
            .cast(IntegerType),
          round(element_at(col("embedding"), i * 2 + 2).cast(DoubleType) * 1000, 0)
            .cast(IntegerType))))
    scaled.select(
      col("vec_id"),
      concat(lit("LINESTRING("), array_join(col("pts"), ", "), lit(")"))
        .as("shape_wkt"),
      element_at(col("pts"), 1).as("origin_pt"),
      element_at(col("pts"), -1).as("dest_pt"))
      .orderBy(col("vec_id"))
  }
  private val q14Sql =
    """WITH scaled AS (
      |  SELECT vec_id,
      |    list_transform(range(0, 4), i ->
      |      concat_ws(' ',
      |        CAST(round(CAST(embedding[i*2+1] AS DOUBLE) * 1000, 0) AS INT),
      |        CAST(round(CAST(embedding[i*2+2] AS DOUBLE) * 1000, 0) AS INT))) AS pts
      |  FROM embeddings)
      |SELECT vec_id,
      |  concat('LINESTRING(', array_to_string(pts, ', '), ')') AS shape_wkt,
      |  pts[1] AS origin_pt,
      |  pts[-1] AS dest_pt
      |FROM scaled
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q15 — window functions (§2.5 — absent in the reference, required by
  // the rebuild): ranking + running totals per customer. Scale: one
  // shuffle on the partition key; frames evaluated streaming per group.
  // ---------------------------------------------------------------------
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wRun = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"),
        row_number().over(w).cast(LongType).as("price_rn"),
        rank().over(w).cast(LongType).as("price_rank"),
        sum(dec(col("o_totalprice"), 2)).over(wRun).cast(DoubleType)
          .as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
  private val q15Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q16 — tumbling-window event aggregation: the declared-but-unbuilt
  // streaming surface (§2.9, report p.2) in its batch-equivalent form.
  // The same groupBy(window(...)) runs unchanged under readStream with a
  // watermark (see graft.streaming.EventStreams). Window start emitted as
  // a string so timestamp precision (ns vs µs) can't skew the compare.
  // ---------------------------------------------------------------------
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    // Group on the hour-truncated TIMESTAMP and format only the final
    // groups (r22, guide §2.3 "narrower types" / §1.2 step 2): the
    // formatted-string key paid a DateTimeFormatter call + a 19-char
    // string per input row and carried that string through both
    // countDistinct exchanges; the truncated timestamp is 8 bytes and
    // pure codegen arithmetic. date_format is injective on
    // hour-truncated instants (distinct hours render distinct strings,
    // session TZ pinned UTC), so the groups — and the emitted strings —
    // are identical; the ORDER BY string order equals instant order for
    // this ISO format.
    e.groupBy(date_trunc("HOUR", col("ts")).as("ws"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"),
        col("n_users"))
      .orderBy(col("window_start"), col("event_type"))
  }
  private val q16Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q17 — anti-join (set difference, §2.7): customers with no orders.
  // left_anti avoids materializing the non-matching side; at scale this
  // is a shuffle on custkey with early short-circuit per match.
  // ---------------------------------------------------------------------
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(year(col("o_orderdate")) === 1995)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }
  private val q17Sql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND year(o_orderdate) = 1995)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q27 — semi-join (the dual of q17's anti-join, §2.3): customers WITH
  // at least one 1995 order. left_semi probes the hash table and emits
  // the left row at the first match — no fan-out, no right-side columns
  // materialized; at scale it shuffles only custkeys on the right.
  // ---------------------------------------------------------------------
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(year(col("o_orderdate")) === 1995)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }
  private val q27Sql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND year(o_orderdate) = 1995)
      |ORDER BY c_custkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", q01, Some(q01Sql), headline = true),
    QueryDef("q02_dim_date", q02, Some(q02Sql)),
    QueryDef("q03_dim_customer_snowflake", q03, Some(q03Sql)),
    QueryDef("q04_keyed_dedup_first", q04, Some(q04Sql)),
    QueryDef("q05_fact_assembly", q05, Some(q05Sql), headline = true),
    QueryDef("q06_sales_by_month", q06, Some(q06Sql), headline = true),
    QueryDef("q07_profit_by_hierarchy", q07, Some(q07Sql), headline = true),
    QueryDef("q08_schedule_adherence", q08, Some(q08Sql)),
    QueryDef("q09_late_risk_by_geo", q09, Some(q09Sql)),
    QueryDef("q10_bucket_filter", q10, Some(q10Sql)),
    QueryDef("q11_top_k", q11, Some(q11Sql)),
    QueryDef("q12_normalized_join", q12, Some(q12Sql)),
    QueryDef("q13_composite_key_join", q13, Some(q13Sql)),
    QueryDef("q14_wkt_linestring", q14, Some(q14Sql)),
    QueryDef("q15_window_rank", q15, Some(q15Sql)),
    QueryDef("q16_events_window", q16, Some(q16Sql), headline = true),
    QueryDef("q17_anti_join", q17, Some(q17Sql)),
    QueryDef("q27_semi_join", q27, Some(q27Sql)))
}
