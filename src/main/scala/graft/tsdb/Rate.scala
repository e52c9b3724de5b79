package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL counter functions (`rate`, `increase`, `delta`) with
  * counter-reset correction and range extrapolation, compiled declaratively
  * (no driver loops, no UDAF) so the whole evaluation stays inside
  * whole-stage codegen.
  *
  * Semantics follow the public Prometheus `extrapolatedRate` algorithm
  * (prometheus/promql/functions.go), which the reference inherits by
  * embedding the engine (`api/promql/engine.go:27`). The reference's storage
  * layer only routes these functions to the Max pre-agg column
  * (`cassandra/tsdb/read.go:604-609`) — that routing lives in [[PreAgg]].
  *
  * Shape: counter resets are a per-series `lag` (one shuffle on series),
  * then a range join against the (broadcast) step grid and a hash aggregate
  * per (series, step). At 100 TB the points shuffle once; nothing is
  * collected to the driver.
  */
object Rate {

  /** Like [[overGrid]] but over a regular step grid, compiled via
    * [[RangeWindows.withEvalSteps]] (per-sample step-interval explode)
    * instead of an inequality grid join — no broadcast nested-loop, one
    * shuffle for the lag window and one for the final hash aggregate.
    */
  def overSteps(
      points: DataFrame,
      series: Seq[String],
      startMs: Long, endMs: Long, stepMs: Long, rangeMs: Long,
      counter: Boolean = true,
      tsMs: String = "ts_ms",
      value: String = "value"): DataFrame = {
    val sCols = series.map(col)
    val inWindow = RangeWindows.withEvalSteps(
      withPrev(points, sCols, counter, tsMs, value),
      startMs, endMs, stepMs, rangeMs, tsMs)
    finishRate(inWindow, sCols, rangeMs, counter, tsMs, value)
  }

  /** Per (series, eval_ms) instant-pair functions over the trailing window:
    * `irate` (rate from the LAST two samples, reset-aware), `idelta`
    * (their raw difference), `resets` (count of counter decreases whose
    * pair lies fully inside the window). Prometheus funcIrate/funcIdelta/
    * funcResets semantics; all arithmetic is per-pair subtraction/division
    * of exact values — bit-reproducible with no rounding.
    *
    * Same scale shape as [[overSteps]]: lag window + step explode + one
    * hash aggregate. Windows holding < 2 samples yield no row.
    */
  def instantOverSteps(
      points: DataFrame,
      series: Seq[String],
      startMs: Long, endMs: Long, stepMs: Long, rangeMs: Long,
      tsMs: String = "ts_ms",
      value: String = "value"): DataFrame = {
    val sCols = series.map(col)
    val wSeries = Window.partitionBy(sCols: _*).orderBy(col(tsMs))
    val withPrev = points
      .withColumn("prev_val", lag(col(value), 1).over(wSeries))
      .withColumn("prev_ts", lag(col(tsMs), 1).over(wSeries))
    val exploded =
      RangeWindows.withEvalSteps(withPrev, startMs, endMs, stepMs, rangeMs, tsMs)
    // pair counts only when BOTH ends are inside (eval-range, eval]
    val pairIn = col("prev_ts").isNotNull &&
      col("prev_ts") > col("eval_ms") - rangeMs
    val dtSec = (col(tsMs) - col("prev_ts")).cast("double") / 1000.0
    val instRate = when(pairIn,
      when(col(value) >= col("prev_val"),
        (col(value) - col("prev_val")) / dtSec)
        .otherwise(col(value) / dtSec)) // counter reset: restart from 0
    val instDelta = when(pairIn, col(value) - col("prev_val"))
    exploded
      .groupBy((sCols :+ col("eval_ms")): _*)
      .agg(
        count(col(value)).as("n_samples"),
        max(struct(col(tsMs).as("t"), instRate.as("v")))
          .getField("v").as("irate"),
        max(struct(col(tsMs).as("t"), instDelta.as("v")))
          .getField("v").as("idelta"),
        sum(when(pairIn && col(value) < col("prev_val"), 1L)
          .otherwise(0L)).as("resets"))
      .where(col("n_samples") >= 2 && col("irate").isNotNull)
  }

  /** Per (series, eval_ms) extrapolated counter increase / rate / delta.
    *
    * Window is PromQL's (eval_ms - rangeMs, eval_ms]. Steps where the window
    * holds < 2 samples yield no row (as PromQL). Output columns:
    * series..., eval_ms, n_samples, delta_raw, increase, rate.
    *
    * @param counter true for rate/increase (reset correction + zero-cut
    *                extrapolation), false for delta semantics
    */
  def overGrid(
      points: DataFrame,
      grid: DataFrame,
      series: Seq[String],
      rangeMs: Long,
      counter: Boolean = true,
      tsMs: String = "ts_ms",
      value: String = "value"): DataFrame = {
    val sCols = series.map(col)
    val inWindow = withPrev(points, sCols, counter, tsMs, value).join(
      broadcast(grid),
      col(tsMs) <= col("eval_ms") && col(tsMs) > col("eval_ms") - rangeMs)
    finishRate(inWindow, sCols, rangeMs, counter, tsMs, value)
  }

  /** The per-series predecessor pass shared by [[overSteps]] and
    * [[overGrid]]: `prev_val`/`prev_ts` (lag), `reset_corr` (when a
    * counter drops below its predecessor, the predecessor's value is the
    * amount lost) and `__rn`, the sample's rank within its series. All
    * ride ONE window ordered on (ts, value): a tied timestamp then has a
    * fixed predecessor, and `__rn` orders samples exactly as the
    * struct(ts, value) comparison does, so [[finishRate]] can take the
    * first and last values by `__rn` with no struct aggregate.
    */
  private def withPrev(
      points: DataFrame,
      sCols: Seq[Column],
      counter: Boolean,
      tsMs: String,
      value: String): DataFrame = {
    val w = Window.partitionBy(sCols: _*).orderBy(col(tsMs), col(value))
    points
      .withColumn("prev_val", lag(col(value), 1).over(w))
      .withColumn("prev_ts", lag(col(tsMs), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .withColumn("reset_corr",
        if (counter)
          when(col("prev_val").isNotNull && col(value) < col("prev_val"),
            col("prev_val")).otherwise(lit(0.0))
        else lit(0.0))
  }

  /** Shared tail: aggregate samples per (series, step) and apply the
    * Prometheus extrapolation algorithm. `inWindow` must carry eval_ms
    * and the [[withPrev]] columns.
    */
  private def finishRate(
      inWindow: DataFrame,
      sCols: Seq[Column],
      rangeMs: Long,
      counter: Boolean,
      tsMs: String,
      value: String): DataFrame = {
    // A reset pair counts only if both samples are inside the window.
    val corrInWindow = when(
      col("prev_ts").isNotNull && col("prev_ts") > col("eval_ms") - rangeMs,
      col("reset_corr")).otherwise(lit(0.0))

    val agg = inWindow
      .groupBy((sCols :+ col("eval_ms")): _*)
      .agg(
        count(col(value)).as("n_samples"),
        min(col(tsMs)).as("first_ts"),
        max(col(tsMs)).as("last_ts"),
        // first/last in (ts, value) order, deterministic under ts ties,
        // taken by rank: a min/max of struct(ts, value) buffers a struct,
        // which only a sort aggregate over the step-exploded rows can
        min_by(col(value), col("__rn")).as("first_val"),
        max_by(col(value), col("__rn")).as("last_val"),
        // DECIMAL accumulation (the a6/w2 `sumV` discipline): a window
        // can hold many resets, and a plain double sum of their
        // prev_vals is partition-order dependent — at sf0.1 a 14-reset
        // window put the two engines an ulp apart, exactly astride a
        // 6th-decimal rounding boundary. The decimal sum is an exact
        // integer fold, order-independent and engine-identical.
        sum(corrInWindow.cast("decimal(18,6)")).cast("double").as("corr"))
      .where(col("n_samples") >= 2)

    // Prometheus extrapolation, all in double ms so the DuckDB oracle can
    // reproduce the arithmetic bit-for-bit.
    val delta = col("last_val") - col("first_val") + col("corr")
    val sampledInterval = (col("last_ts") - col("first_ts")).cast("double")
    val durToStart0 =
      (col("first_ts") - (col("eval_ms") - rangeMs)).cast("double")
    val durToEnd = (col("eval_ms") - col("last_ts")).cast("double")
    val avgDur = sampledInterval / (col("n_samples") - 1).cast("double")
    val threshold = avgDur * 1.1
    // Threshold cap first, zero-cut second — Prometheus order.
    val extStart0 = when(durToStart0 >= threshold, avgDur / 2.0).otherwise(durToStart0)
    val extStart =
      if (counter) {
        val durToZero = when(delta > 0 && col("first_val") >= 0,
          sampledInterval * (col("first_val") / delta))
        when(durToZero.isNotNull && durToZero < extStart0, durToZero)
          .otherwise(extStart0)
      } else extStart0
    val extEnd = when(durToEnd >= threshold, avgDur / 2.0).otherwise(durToEnd)
    val factor = (sampledInterval + extStart + extEnd) / sampledInterval
    val increase = delta * factor

    agg
      .withColumn("delta_raw", delta)
      .withColumn("increase", increase)
      .withColumn("rate", increase / lit(rangeMs / 1000.0))
      .drop("first_ts", "last_ts", "first_val", "last_val", "corr")
  }
}
