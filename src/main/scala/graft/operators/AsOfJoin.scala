package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row with the same
  * key and right time ≤ left time (inclusive) — the "most recent
  * feature value before t" primitive of training-data pipelines.
  *
  * Spark has no native as-of join; rather than a custom SparkStrategy
  * this uses the classic single-shuffle formulation: tag and union
  * both sides, sort within key by (time, side) and carry the last
  * seen right payload forward with an ignore-nulls window. Exactly
  * one shuffle on the key; no join blow-up, no range predicate that
  * would force a nested-loop join.
  */
object AsOfJoin {

  /** left/right: any DataFrames. Returns every left row + `payload`
    * columns of its as-of right match (NULL when no right row
    * precedes it). Right rows tied on (key, time) are reduced to one
    * deterministically (max of each payload column) first.
    */
  def lastBefore(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payload: Seq[String]): DataFrame =
    // right sorts before left at equal ts → inclusive (≤) semantics
    asOf(left, right, key, leftTs, rightTs, payload, c => max(c), col("_ts"))

  /** Forward as-of: every left row + `payload` of the EARLIEST right
    * row with the same key and right time ≥ left time (inclusive) —
    * the "next event after t" primitive (time-to-next-action labels,
    * lead-time features). Same single-shuffle union+window shape as
    * [[lastBefore]], traversed in descending time order; right rows
    * tied on (key, time) reduce via min of each payload column.
    */
  def firstAfter(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payload: Seq[String]): DataFrame =
    // descending traversal; right first at equal ts → inclusive (≥)
    asOf(left, right, key, leftTs, rightTs, payload, c => min(c), col("_ts").desc)

  /** The one body: right rows tied on (key, time) reduced by `tie`,
    * then the last right payload carried forward in `order` within key.
    */
  private def asOf(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payload: Seq[String], tie: Column => Column, order: Column): DataFrame = {
    val leftCols = left.columns.toSeq
    // one right row per (key, ts): deterministic tie reduction
    val ties = payload.map(c => tie(col(c)).as(c))
    val r1 = right.groupBy(col(key).as("_k"), col(rightTs).as("_ts")).agg(ties.head, ties.tail: _*)
    val rTagged = r1.select(
      Seq(col("_k"), col("_ts"), lit(0).as("_side")) ++
        leftCols.map(c => lit(null).as(s"_l_$c")) ++
        payload.map(col): _*)
    val lTagged = left.select(
      Seq(col(key).as("_k"), col(leftTs).as("_ts"), lit(1).as("_side")) ++
        leftCols.map(c => col(c).as(s"_l_$c")) ++
        payload.map(c => lit(null).as(c)): _*)
    val w = Window.partitionBy("_k").orderBy(order, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rTagged.unionByName(lTagged)
      .select(
        (Seq(col("_side")) ++
          leftCols.map(c => col(s"_l_$c").as(c)) ++
          payload.map(c => last(col(c), ignoreNulls = true).over(w).as(c))): _*)
      .where(col("_side") === 1)
      .drop("_side")
  }
}
