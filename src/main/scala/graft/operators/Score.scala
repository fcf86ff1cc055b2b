package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Min-max 0-100 score normalization (reference `App.scala:175-201`).
  *
  * The reference computes global MIN/MAX with a driver-side `.first` and
  * splices the two doubles back in as literals (`App.scala:179, 183-184`) —
  * a manual scalar-subquery materialization that costs an extra Spark job
  * and a driver round-trip. The engine's default is the lazy form: the 1-row
  * MIN/MAX aggregate is broadcast-cross-joined so the whole thing stays one
  * job and scales to arbitrarily large inputs; for inputs bounded by a
  * dimension, a whole-frame window does the same in one read. All variants
  * are provided and tested equivalent.
  *
  * Faithful edge case: when min == max the expression is 0/0 on doubles
  * -> NaN, exactly like the reference (no guard, SURVEY §2 D5).
  */
object Score {

  /** The normalization expression with the degenerate case made explicit:
    * Spark 4 runs ANSI mode by default, where even double division by zero
    * throws — the reference (Spark 3.3, ANSI off) produced IEEE 0/0 = NaN.
    * CASE WHEN branches evaluate lazily per row, so the division never sees
    * a zero denominator and the NaN semantics survive any ANSI setting.
    */
  private def scoreExpr(v: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(Double.NaN))
      .otherwise((v - mn) / (mx - mn) * 100)

  /** Lazy, scale-preferred variant: one job, no driver round-trip. */
  def minMaxScore(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val mm = broadcast(
      df.agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx")))
    df.crossJoin(mm)
      .withColumn(outCol, scoreExpr(col(valueCol), col("__mn"), col("__mx")))
      .drop("__mn", "__mx")
  }

  /** Window variant, for a `v` over a dimension-bounded input: min and max
    * over the whole frame, so it runs in one task and needs no second read
    * of the input (the cross-join form consumes it twice, which makes a
    * caller persist it). Same values as [[minMaxScore]].
    */
  def minMaxOver(v: Column): Column = {
    val all = Window.partitionBy()
    scoreExpr(v, min(v).over(all), max(v).over(all))
  }

  /** Reference-faithful variant (`App.scala:175-185`): collect the 1-row
    * MIN/MAX to the driver, fold the doubles in as literals. Runs an extra
    * job; fine for interactive use, avoid in hot pipelines.
    */
  def minMaxScoreCollect(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val mm = df.agg(min(col(valueCol)), max(col(valueCol))).first()
    if (mm.isNullAt(0) || mm.isNullAt(1)) {
      // empty or all-null input: the lazy variant yields null scores; match
      // it instead of throwing on Row.getDouble(null)
      df.withColumn(outCol, lit(null).cast("double"))
    } else {
      val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
      df.withColumn(outCol, scoreExpr(col(valueCol), lit(mn), lit(mx)))
    }
  }
}
