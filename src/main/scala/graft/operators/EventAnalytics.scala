package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Cols.{Dec, dsum}

/** Event-stream analytics primitives (w14 / a16 cores) — both built on
  * the exact-decimal moment ladder (a10's recombination pattern), so
  * scores are order-independent and reproducible run-to-run: decimal
  * sums are exact at any accumulation order, and the double
  * recombination is a fixed expression tree.
  *
  * Both are single-shuffle shapes at any corpus size: the z-score
  * carries a constant `frame` rows of window state per event, the OLS
  * fit moves six decimal sums per group.
  */
object EventAnalytics {

  /** Rolling z-score anomaly detection: each row scored against ITS OWN
    * key's trailing `frame`-row window (mean/variance in closed form
    * from exact decimal frame sums), rows with |z| > `threshold` and at
    * least `minHistory` prior observations flagged. One shuffle on
    * `keyCol`, no self-join.
    *
    * DELIBERATE contract: a zero-variance window (a constant trailing
    * history) yields NO flag — the z-score is undefined there, and
    * this operator reports z-scores, not generic change-points. A
    * spike after a flat history needs a different detector (or an
    * epsilon floor on the variance); the DuckDB oracle shares this
    * exact filter, so both engines agree.
    */
  def anomalyZscores(events: DataFrame, keyCol: String, valueCol: String,
      orderBy: Seq[Column], frame: Int = 8, minHistory: Int = 4,
      threshold: Double = 2.5): DataFrame = {
    require(frame >= 2 && minHistory >= 2 && minHistory <= frame && threshold > 0)
    val w = Window.partitionBy(keyCol).orderBy(orderBy: _*)
      .rowsBetween(-frame.toLong, -1)
    val v = col(valueCol)
    events
      .withColumn("n", count(v).over(w))
      .withColumn("sv", sum(v.cast(Dec)).over(w).cast("double"))
      .withColumn("svv", sum((v * v).cast(Dec)).over(w).cast("double"))
      .filter(col("n") >= minHistory)
      .withColumn("mu", col("sv") / col("n"))
      .withColumn("variance",
        (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1))
      .filter(col("variance") > 0)
      .withColumn("z", (v - col("mu")) / sqrt(col("variance")))
      .filter(abs(col("z")) > lit(threshold))
      .drop("n", "sv", "svv", "variance")
  }

  /** Grouped ordinary-least-squares trend fit in closed form: per
    * `groupCol` value, `yCol` regressed on `xCol` via the six moment
    * sums — ONE map-side-combinable aggregate, no iteration. Returns
    * (group, n, slope, intercept, r2) with the derived columns rounded
    * to 9 decimals (sqrt/division live in double).
    */
  def olsTrend(rows: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    rows
      .select(col(groupCol), xCol.cast("double").as("x"), yCol.cast("double").as("y"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"),
        dsum(col("x") * col("y")).as("sxy"))
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x_n", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y_n", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope", round(col("cov_n") / col("var_x_n"), 9))
      .withColumn("intercept",
        round((col("sy") - (col("cov_n") / col("var_x_n")) * col("sx")) / col("n"), 9))
      .withColumn("r2",
        round(col("cov_n") * col("cov_n") / (col("var_x_n") * col("var_y_n")), 9))
      .select(col(groupCol), col("n"), col("slope"), col("intercept"), col("r2"))
  }
}
