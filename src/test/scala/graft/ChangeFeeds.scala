package graft

import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

/** The two change feeds side by side: `changeDiffLineage`'s typed rows
  * mapped into `changeDiff`'s bag shape — an update pair becomes a
  * delete plus an insert, and the row id goes. Over the same gap the
  * two agree whenever no two rows share identical contents (the bag
  * diff cancels such twins, where ids keep them apart). */
object ChangeFeeds {
  def asBag(typed: DataFrame): DataFrame =
    typed.withColumn("_change_type",
        when(col("_change_type") === "update_preimage", lit("delete"))
          .when(col("_change_type") === "update_postimage", lit("insert"))
          .otherwise(col("_change_type")))
      .drop(Snapshot.RowIdCol)

  /** Both feeds' rows as one sorted multiset each, columns in the bag
    * feed's order. */
  def bags(bag: DataFrame, typed: DataFrame): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame): Seq[String] =
      df.select(bag.columns.toSeq.map(col): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted
    (rows(bag), rows(asBag(typed)))
  }
}
