package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reporting-summary operators (reference `App.scala:208-263`). */
object SummaryOps {

  /** Programmatic multi-column AVG (`App.scala:212-214`): one hash aggregate
    * computing `avg(c) AS avg_c` for every column in `valueCols`. Single
    * shuffle on `keys`; partial aggregation map-side keeps shuffle volume at
    * |groups| x |cols| regardless of input size. Uses [[Agg.decAvg]] so the
    * result is bit-identical under any partitioning (see Agg's scaladoc).
    * `extra` aggregates ride the same hash aggregate.
    */
  def multiAvg(df: DataFrame, keys: Seq[String], valueCols: Seq[String],
      extra: Column*): DataFrame = {
    val aggs = valueCols.map(c => Agg.decAvg(col(c)).as(s"avg_$c")) ++ extra
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Bulk rename (`App.scala:248-253`) then `round(_, 2)` (`App.scala:254-261`)
    * then projection to the final reporting column list (`App.scala:239-245`).
    * Name resolution is case-insensitive, as the reference relies on.
    */
  def finalizeReport(
      df: DataFrame,
      renames: Seq[(String, String)],
      roundCols: Seq[String],
      finalCols: Seq[String]): DataFrame = {
    val renamed = renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    val rounded = roundCols.foldLeft(renamed)((d, c) => d.withColumn(c, Agg.roundAt(col(c), 2)))
    rounded.select(finalCols.map(col): _*)
  }
}
