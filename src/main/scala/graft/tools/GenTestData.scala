package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-fixture generator for SCALE-ESCALATION runs:
  * reproduces the graded testdata's schemas, domains and distributions
  * (reverse-engineered from the testdata and documented per table
  * below) at any scale factor, so the headline bench can run at sf1
  * (10× the graded sf0.1) and expose super-linear slots the fixed-SF
  * gate cannot see. NOT a replacement for the graded
  * fixtures — correctness always runs against the driver's parquet; this
  * exists only to measure how plans scale.
  *
  * Determinism discipline: every random draw is a pure function of
  * (row id, salt) through xxhash64 — no RNG state, no dependence on
  * partitioning or task order, same bytes at any parallelism. That is
  * also the 100 TB-correct shape: generation is embarrassingly parallel
  * from `spark.range`.
  *
  * Usage: `runMain graft.tools.GenTestData <sf> <outDir>`.
  */
object GenTestData {

  /** uniform [0,1) from (id, salt) — the one primitive everything uses */
  private def u(salt: String): Column =
    (xxhash64(col("id"), lit(salt)).bitwiseAND(lit(Long.MaxValue)))
      .cast("double") / lit(Long.MaxValue.toDouble)

  private def uint(salt: String, n: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(n.toLong)).cast("int")

  private def money(c: Column): Column = round(c, 2)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenTestData <sf> <outDir>")
    val sf = args(0).toDouble
    val out = args(1)
    // 32 shuffle partitions at any core count: the generated file layout
    // (files per table) must not depend on the machine.
    val spark = GraftSession.local(GraftSession.envCpus(32),
      Seq("spark.sql.shuffle.partitions" -> "32"))
    generate(spark, sf, out)
    spark.stop()
  }

  def generate(spark: SparkSession, sf: Double, out: String): Unit = {
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$table.parquet")

    // region/nation: fixed enumerations (same at every sf)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(col("id").as("r_regionkey"),
      element_at(lit(regions.toArray), col("id").cast("int") + 1).as("r_name")),
      "region")
    write(spark.range(25).select(col("id").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")), "nation")

    // customer: key 0..n-1, uniform nation, acctbal U[0,10000), 5 segments
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val nCust = n(150000)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uint("c/nat", 25).as("c_nationkey"),
      money(u("c/bal") * lit(10000.0)).as("c_acctbal"),
      element_at(lit(segments.toArray), uint("c/seg", 5) + 1).as("c_mktsegment")),
      "customer")

    val nSupp = n(10000)
    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uint("s/nat", 25).as("s_nationkey"),
      money(u("s/bal") * lit(10000.0)).as("s_acctbal")), "supplier")

    // part: 8×8 adjective/noun names, Brand#1-25, 6 types, size 1-50,
    // retailprice = 900 + (key % 1000)/10 (observed in the fixture)
    val adjs = Seq("large", "hot", "small", "fast", "dark", "light", "round", "flat")
    val nouns = Seq("ring", "bolt", "screw", "plate", "wheel", "rod", "cap", "pin")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val nPart = n(200000)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(element_at(lit(adjs.toArray), uint("p/adj", 8) + 1), lit(" "),
        element_at(lit(nouns.toArray), uint("p/noun", 8) + 1)).as("p_name"),
      concat(lit("Brand#"), (uint("p/brand", 25) + 1)).as("p_brand"),
      element_at(lit(types.toArray), uint("p/type", 6) + 1).as("p_type"),
      (uint("p/size", 50) + 1).as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / lit(10.0))
        .as("p_retailprice")), "part")

    // orders: uniform custkey, O/P/F status, totalprice U[1000,500000),
    // orderdate uniform over 1995-01-01 .. 2001-08-01 (2404 days)
    val nOrders = n(1500000)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit("o/cust")), lit(nCust)).as("o_custkey"),
      element_at(lit(Array("O", "P", "F")), uint("o/stat", 3) + 1).as("o_orderstatus"),
      money(lit(1000.0) + u("o/price") * lit(499000.0)).as("o_totalprice"),
      to_timestamp(date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        uint("o/date", 2405))).as("o_orderdate"),
      element_at(lit(priorities.toArray), uint("o/prio", 5) + 1).as("o_orderpriority")),
      "orders")

    // lineitem: orderkey uniform over orders (per-order count ~Poisson(4)
    // emerges), linenumber uniform 1-7 (independent), shipdate uniform
    // over its own 1995-01-02..2001-11-04 window (independent of the
    // order date — observed: ship-order gaps span ±2400 days)
    val nLine = n(6000000)
    write(spark.range(nLine).select(
      pmod(xxhash64(col("id"), lit("l/ord")), lit(nOrders)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit("l/part")), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit("l/supp")), lit(nSupp)).as("l_suppkey"),
      (uint("l/ln", 7) + 1).as("l_linenumber"),
      (uint("l/qty", 50) + 1).cast("double").as("l_quantity"),
      money(lit(900.0) + u("l/price") * lit(104100.0)).as("l_extendedprice"),
      (uint("l/disc", 11).cast("double") / lit(100.0)).as("l_discount"),
      (uint("l/tax", 9).cast("double") / lit(100.0)).as("l_tax"),
      element_at(lit(Array("A", "N", "R")), uint("l/rf", 3) + 1).as("l_returnflag"),
      element_at(lit(Array("O", "F")), uint("l/ls", 2) + 1).as("l_linestatus"),
      to_timestamp(date_add(lit(java.sql.Date.valueOf("1995-01-02")),
        uint("l/ship", 2499))).as("l_shipdate")), "lineitem")

    // events: 30 days of Jan 2024, users = 15000·sf, 5 uniform types,
    // value ~ Exponential(mean 50) (observed: median = 50·ln2), props a
    // tiny JSON payload
    val nEvents = n(1000000)
    val nUsers = n(15000)
    val types5 = Seq("click", "error", "purchase", "signup", "view")
    val startMicros = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .toEpochMilli * 1000L
    val spanMicros = 30L * 24 * 3600 * 1000000L
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startMicros) +
        pmod(xxhash64(col("id"), lit("e/ts")), lit(spanMicros))).as("ts"),
      pmod(xxhash64(col("id"), lit("e/user")), lit(nUsers)).as("user_id"),
      element_at(lit(types5.toArray), uint("e/type", 5) + 1).as("event_type"),
      round(lit(-50.0) * log(u("e/val") + lit(1e-12)), 2).as("value"),
      concat(lit("{\"k\": "), uint("e/k", 100), lit("}")).as("props")), "events")

    // documents: 10-100 tokens uniform from the 30-word vocab; 5% of ids
    // are PLANTED near-dups — another doc's text + " dup" (the observed
    // plant scheme; two plants sharing a base yield the exact-dup pairs)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh")
    val nDocs = n(500000 / 10) // 5000 at sf0.1, 50000 at sf1
    val baseText = array_join(
      transform(sequence(lit(0), uint("d/len", 91) + lit(9)),
        i => element_at(lit(vocab.toArray),
          pmod(xxhash64(col("id"), i, lit("d/tok")), lit(30L)).cast("int") + 1)),
      " ")
    val base = spark.range(nDocs).select(col("id"), baseText.as("text"))
    val plants = base
      .where(uint("d/plant", 100) < 5)
      .select(col("id"),
        pmod(xxhash64(col("id"), lit("d/base")), lit(nDocs)).as("bid"))
    val planted = plants.join(
        base.select(col("id").as("bid"), col("text").as("btext")), Seq("bid"))
      .select(col("id"), concat(col("btext"), lit(" dup")).as("text"))
    val docs = base.join(planted.select(col("id")), Seq("id"), "left_anti")
      .unionByName(planted)
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(lit(langs.toArray), uint("d/lang", 8) + 1).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        length(col("text")).as("n_chars"))
    write(docs.orderBy(col("doc_id")), "documents")

    // embeddings: 64-dim RANDOM unit vectors, label uniform 0-9 and
    // statistically independent of direction (verified on the driver's
    // fixtures: mean cos-to-own-label-centroid equals the 1/√n sampling
    // noise floor exactly at both sf0.01 and sf0.1 — no planted tilt).
    // Sub-linear count like the driver's (500 @ sf0.01, 2000 @ sf0.1):
    // 4× per decade.
    val nVecs = math.max(1L, math.round(2000.0 * math.pow(sf / 0.1, 0.60206)))
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * log(
        (xxhash64(col("id"), j, lit("v/u1")).bitwiseAND(lit(Long.MaxValue))
          .cast("double") / lit(Long.MaxValue.toDouble)) + lit(1e-12))) *
        cos(lit(2.0 * math.Pi) *
          (xxhash64(col("id"), j, lit("v/u2")).bitwiseAND(lit(Long.MaxValue))
            .cast("double") / lit(Long.MaxValue.toDouble))))
    val vecs = spark.range(nVecs)
      .select(col("id"), uint("v/label", 10).as("label"))
      .select(col("id"), col("label"), raw.as("raw"))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
      .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label"))
    write(vecs, "embeddings")

    println(s"[gen] sf=$sf out=$out: customer=$nCust supplier=$nSupp " +
      s"part=$nPart orders=$nOrders lineitem=$nLine events=$nEvents " +
      s"documents=$nDocs embeddings=$nVecs")
  }
}
