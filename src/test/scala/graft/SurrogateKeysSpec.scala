package graft

import graft.operators.SurrogateKeys
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** SurrogateKeys.dense: the distributed replacement for the
  * single-partition row_number window must assign IDENTICAL keys — on
  * the oracle corpus, and regardless of how the input is partitioned. */
class SurrogateKeysSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private lazy val customer =
    graft.sources.Tables.load(spark, SharedSpark.sf0001, "customer")

  test("dense == row_number window on a unique key") {
    val windowed = customer
      .select(
        row_number().over(Window.orderBy(col("c_custkey"))).cast(LongType)
          .as("sk"),
        col("c_custkey"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val dense = SurrogateKeys
      .dense(customer.select(col("c_custkey")), "sk", Seq(col("c_custkey")))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(dense == windowed)
  }

  test("keys are dense 1..n and prepended to the schema") {
    val out = SurrogateKeys.dense(
      customer.select(col("c_custkey"), col("c_name")), "sk", Seq(col("c_custkey")))
    assert(out.columns.head == "sk")
    assert(out.columns.toSeq == Seq("sk", "c_custkey", "c_name"))
    val keys = out.select("sk").collect().map(_.getLong(0)).sorted
    assert(keys.sameElements(1L to keys.length))
  }

  test("assignment is stable under adversarial repartitioning") {
    val base = SurrogateKeys
      .dense(customer.select(col("c_custkey")), "sk", Seq(col("c_custkey")))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    Seq(1, 7, 64).foreach { n =>
      val shuffled = SurrogateKeys
        .dense(customer.select(col("c_custkey")).repartition(n), "sk",
          Seq(col("c_custkey")))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(shuffled == base, s"repartition($n)")
    }
  }

  test("adversarial skew: hot duplicate prefixes, total order -> still the window form") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      // ~90% of rows share one hot prefix (the duplicate-prefix skew a
      // real dim dedup can produce); (k1, uid) stays a total order
      val rows = (1 to 2000).map { i =>
        val prefix = if (rnd.nextInt(10) < 9) "HOT" else s"k${rnd.nextInt(50)}"
        (prefix, i.toLong)
      }
      val df = rnd.shuffle(rows).toDF("k1", "uid").repartition(13)
      val windowed = df
        .select(row_number().over(Window.orderBy(col("k1"), col("uid")))
          .cast(LongType).as("sk"), col("uid"))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      val dense = SurrogateKeys.dense(df, "sk", Seq(col("k1"), col("uid")))
        .collect().map(r => r.getAs[Long]("uid") -> r.getAs[Long]("sk")).toMap
      assert(dense == windowed, s"trial $trial")
    }
  }

  test("a persisted result keeps the window form's dense 1..n keys") {
    // a cached plan is optimized apart from its readers, and AQE may
    // split its shuffles differently from an uncached run
    val df = spark.range(200).select((col("id") % 11).as("k"), col("id"))
      .groupBy("k").agg(max("id").as("m"))
    val windowed = df
      .select(row_number().over(Window.orderBy(col("k"))).cast(LongType).as("sk"), col("k"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val cached = SurrogateKeys.dense(df, "sk", Seq(col("k"))).persist()
    try {
      assert(cached.count() == 11)
      val dense = cached.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("sk")).toMap
      assert(dense == windowed)
      assert(dense.values.toSeq.sorted == (1L to 11L))
    } finally cached.unpersist()
  }

  test("multi-column order and descending order are honored") {
    import spark.implicits._
    val df = Seq(("b", 2, "x"), ("a", 9, "y"), ("a", 1, "z"), ("c", 0, "w"))
      .toDF("k1", "k2", "v")
    val out = SurrogateKeys.dense(df, "sk", Seq(col("k1"), col("k2").desc))
      .orderBy("sk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, "a", 9), (2L, "a", 1), (3L, "b", 2), (4L, "c", 0)))
  }
}
