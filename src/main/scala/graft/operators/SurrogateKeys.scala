package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dense 1..n surrogate keys WITHOUT a single-partition window.
  *
  * `row_number().over(Window.orderBy(...))` funnels the whole input
  * through one task — fine at dim scale, a straggler at 10⁷-10⁸ rows.
  * This is the scale path the Warehouse scaladoc promised: one range
  * split of the input (fully distributed), then each row's key =
  * rows-before-its-split-partition + its position inside it:
  *
  *   - position and partition size are windows over the split
  *     partition's id — one hash shuffle that keeps each range
  *     partition together;
  *   - the first row of each partition also sends the partition's size
  *     to every LATER partition (O(#partitions²) tiny rows), so after a
  *     second shuffle on the receiving partition a window sum over what
  *     arrived is the rows before it.
  *
  * The split is read ONCE, by one chain of operators, so the counts and
  * the rows they number come from the same partitions: two reads of one
  * split each sample their own range bounds and are coalesced by AQE
  * on their own, so their partition ids need not agree. No job runs at
  * construction and the plan keeps its size estimates, so small dims
  * still broadcast into fact joins.
  *
  * Determinism: when `order` is a total order (a unique natural key —
  * what every call site has after natural-key dedup), the assignment
  * equals `row_number() OVER (ORDER BY order)` exactly: the key is
  * "rows before this row in the global sort order + 1", a function of
  * the data alone, whatever the input's partitioning, the sampled range
  * bounds or AQE's coalescing (asserted in SurrogateKeysSpec against
  * the window form, under adversarial repartitioning and persisted).
  * The key column is prepended to the schema.
  *
  * Replaces the reference's sink-side IDENTITY keys
  * (ddl_snowflake_schema.sql:3-82) like the window form did, but
  * without its scale ceiling.
  */
object SurrogateKeys {

  def dense(df: DataFrame, keyName: String, order: Seq[Column]): DataFrame = {
    val pidCol = s"__${keyName}_pid"
    val posCol = s"__${keyName}_pos"
    val cntCol = s"__${keyName}_cnt"
    val sendCol = s"__${keyName}_send"
    // a split into at most `parts` partitions, so ids stay below `parts`
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val inPart = Window.partitionBy(col(pidCol))
    val later = when(col(posCol) === 1, sequence(col(pidCol) + 1, lit(parts)))
      .otherwise(typedLit(Seq.empty[Int]))
    // (receiving partition, rows sent): each row to its own partition
    // with 0, the partition's size to every later one
    val sends = concat(
      array(struct(col(pidCol).as("to"), lit(0L).as("n"))),
      transform(later, p => struct(p.as("to"), col(cntCol).as("n"))))
    df.repartitionByRange(parts, order: _*)
      .withColumn(pidCol, spark_partition_id())
      .withColumn(posCol, row_number().over(inPart.orderBy(order: _*)).cast(LongType))
      .withColumn(cntCol, count(lit(1)).over(inPart))
      .withColumn(sendCol, explode(sends))
      .withColumn(keyName,
        sum(col(s"$sendCol.n")).over(Window.partitionBy(col(s"$sendCol.to"))) + col(posCol))
      .where(col(s"$sendCol.n") === 0L)
      .select(col(keyName) +: df.columns.map(col): _*)
  }
}
