package graft

import scala.util.Random

import graft.tsdb.Rate

/** Randomized cross-check of the declarative rate pipeline against an
  * independent straight-line Scala implementation of Prometheus
  * `extrapolatedRate` — catches algebra drift the hand goldens can't.
  */
class RatePropertySpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation (promql/functions.go extrapolatedRate),
    * written directly from the algorithm, independent of the SQL shape.
    */
  private def refIncrease(samples: Seq[(Long, Double)], evalMs: Long,
      rangeMs: Long, counter: Boolean): Option[Double] = {
    val in = samples.filter { case (t, _) => t > evalMs - rangeMs && t <= evalMs }
      .sortBy(_._1)
    if (in.size < 2) return None
    var corr = 0.0
    if (counter) {
      var prev = in.head._2
      for ((_, v) <- in.tail) {
        if (v < prev) corr += prev
        prev = v
      }
    }
    val delta = in.last._2 - in.head._2 + corr
    val si = (in.last._1 - in.head._1).toDouble
    val ds0 = (in.head._1 - (evalMs - rangeMs)).toDouble
    val de = (evalMs - in.last._1).toDouble
    val ad = si / (in.size - 1)
    val threshold = ad * 1.1
    var extStart = if (ds0 >= threshold) ad / 2.0 else ds0
    if (counter && delta > 0 && in.head._2 >= 0) {
      val dz = si * (in.head._2 / delta)
      if (dz < extStart) extStart = dz
    }
    val extEnd = if (de >= threshold) ad / 2.0 else de
    Some(delta * ((si + extStart + extEnd) / si))
  }

  test("random series: pipeline increase == reference implementation") {
    val rnd = new Random(20260812L)
    val rangeMs = 60000L
    val stepMs = 30000L
    val start = 0L
    val end = 600000L
    val series = (1 to 25).map { sid =>
      val n = 2 + rnd.nextInt(40)
      val ts = Seq.fill(n)(rnd.nextLong(end + rangeMs) - rangeMs / 2)
        .distinct.sorted
      sid.toLong -> ts.map(t => (t, math.rint(rnd.nextDouble() * 10000) / 100))
    }.toMap

    val df = series.toSeq
      .flatMap { case (sid, pts) => pts.map(p => (sid, p._1, p._2)) }
      .toDF("metric_id", "ts_ms", "value")
    val got = Rate.overSteps(df, Seq("metric_id"), start, end, stepMs,
        rangeMs, counter = true)
      .select("metric_id", "eval_ms", "increase")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

    val evals = start to end by stepMs
    var checked = 0
    for ((sid, pts) <- series; e <- evals) {
      val want = refIncrease(pts, e, rangeMs, counter = true)
      val have = got.get((sid, e))
      (want, have) match {
        case (None, None) =>
        case (Some(w), Some(h)) =>
          assert(math.abs(w - h) <= 1e-9 * math.max(1.0, math.abs(w)),
            s"series $sid eval $e: ref $w pipeline $h")
          checked += 1
        case other =>
          fail(s"series $sid eval $e presence mismatch: $other " +
            s"(samples in window: ${pts.count(p => p._1 > e - rangeMs && p._1 <= e)})")
      }
    }
    assert(checked > 200, s"only $checked windows exercised")
    assert(got.size === series.toSeq.flatMap { case (sid, pts) =>
      evals.filter(e => refIncrease(pts, e, rangeMs, true).isDefined)
        .map(e => (sid, e))
    }.size)
  }

  /** The per-step aggregate as it stood before ranking samples: first
    * and last value by min/max of struct(ts, value), over the same
    * (ts, value)-ordered lag window (ordering the lag on ts alone leaves
    * a tied timestamp's predecessor arbitrary), then the same
    * extrapolation. Kept as the reference the ranked kernel must match.
    */
  private def structRate(inWindow: org.apache.spark.sql.DataFrame,
      rangeMs: Long, counter: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val corrInWindow = when(
      col("prev_ts").isNotNull && col("prev_ts") > col("eval_ms") - rangeMs,
      col("reset_corr")).otherwise(lit(0.0))
    val agg = inWindow.groupBy(col("metric_id"), col("eval_ms")).agg(
      count(col("value")).as("n_samples"),
      min(col("ts_ms")).as("first_ts"),
      max(col("ts_ms")).as("last_ts"),
      min(struct(col("ts_ms"), col("value"))).getField("value").as("first_val"),
      max(struct(col("ts_ms"), col("value"))).getField("value").as("last_val"),
      sum(corrInWindow.cast("decimal(18,6)")).cast("double").as("corr"))
      .where(col("n_samples") >= 2)
    val delta = col("last_val") - col("first_val") + col("corr")
    val sampledInterval = (col("last_ts") - col("first_ts")).cast("double")
    val durToStart0 =
      (col("first_ts") - (col("eval_ms") - rangeMs)).cast("double")
    val durToEnd = (col("eval_ms") - col("last_ts")).cast("double")
    val avgDur = sampledInterval / (col("n_samples") - 1).cast("double")
    val threshold = avgDur * 1.1
    val extStart0 =
      when(durToStart0 >= threshold, avgDur / 2.0).otherwise(durToStart0)
    val extStart =
      if (counter) {
        val durToZero = when(delta > 0 && col("first_val") >= 0,
          sampledInterval * (col("first_val") / delta))
        when(durToZero.isNotNull && durToZero < extStart0, durToZero)
          .otherwise(extStart0)
      } else extStart0
    val extEnd = when(durToEnd >= threshold, avgDur / 2.0).otherwise(durToEnd)
    val increase =
      delta * ((sampledInterval + extStart + extEnd) / sampledInterval)
    agg.select(col("metric_id"), col("eval_ms"), col("n_samples"),
      delta.as("delta_raw"), increase.as("increase"),
      (increase / lit(rangeMs / 1000.0)).as("rate"))
  }

  test("ranked first/last equal the struct(ts, value) min/max bit for " +
    "bit under tied timestamps, and the per-step aggregate hashes") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      SortAggregateExec}
    object Plans extends AdaptiveSparkPlanHelper
    val rnd = new Random(20261019L)
    val (rangeMs, stepMs, start, end) = (60000L, 15000L, 0L, 600000L)
    // counters with resets, where a quarter of the samples share their
    // timestamp with a second one: a different value (often lower, a
    // reset across the tie), or NaN
    val rows = (1L to 30L).flatMap { sid =>
      var v = rnd.nextInt(50).toDouble
      (0 until 40).flatMap { i =>
        val t = i * 20000L - rangeMs / 2 + rnd.nextInt(5) * 1000L
        v = if (rnd.nextInt(8) == 0) rnd.nextInt(20).toDouble
          else v + rnd.nextInt(30)
        val tie = rnd.nextInt(4) match {
          case 0 => Seq((sid, t, rnd.nextInt(3) match {
            case 0 => Double.NaN
            case 1 => math.max(0.0, v - 1 - rnd.nextInt(40))
            case _ => v + 1 + rnd.nextInt(40)
          }))
          case _ => Nil
        }
        (sid, t, v) +: tie
      }
    }
    val points = rows.toDF("metric_id", "ts_ms", "value")
    assert(rows.groupBy(r => (r._1, r._2)).exists(_._2.size > 1))
    val w = Window.partitionBy(col("metric_id"))
      .orderBy(col("ts_ms"), col("value"))
    def withPrev(counter: Boolean) = points
      .withColumn("prev_val", lag(col("value"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("reset_corr",
        if (counter)
          when(col("prev_val").isNotNull && col("value") < col("prev_val"),
            col("prev_val")).otherwise(lit(0.0))
        else lit(0.0))
    val grid = graft.tsdb.RangeWindows.stepGrid(spark, start, end, stepMs)
    def bits(df: org.apache.spark.sql.DataFrame) = df
      .select("metric_id", "eval_ms", "n_samples", "delta_raw", "increase",
        "rate").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        (3 to 5).map(i => java.lang.Double.doubleToRawLongBits(
          r.getDouble(i))))).sortBy(r => (r._1, r._2)).toSeq
    for (counter <- Seq(true, false)) {
      val refSteps = structRate(graft.tsdb.RangeWindows.withEvalSteps(
        withPrev(counter), start, end, stepMs, rangeMs), rangeMs, counter)
      val refGrid = structRate(withPrev(counter).join(broadcast(grid),
        col("ts_ms") <= col("eval_ms") &&
          col("ts_ms") > col("eval_ms") - rangeMs), rangeMs, counter)
      val steps = Rate.overSteps(points, Seq("metric_id"), start, end,
        stepMs, rangeMs, counter)
      val onGrid = Rate.overGrid(points, grid, Seq("metric_id"), rangeMs,
        counter)
      val want = bits(refSteps)
      assert(want.size > 500, s"only ${want.size} windows")
      assert(want.exists(_._4.exists(b => java.lang.Double.isNaN(
        java.lang.Double.longBitsToDouble(b)))), "no NaN window exercised")
      assert(bits(steps) === want, s"overSteps, counter=$counter")
      assert(bits(onGrid) === bits(refGrid), s"overGrid, counter=$counter")
      for (df <- Seq(steps, onGrid)) {
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(Plans.collect(plan) { case a: SortAggregateExec => a }.isEmpty,
          plan.toString)
        assert(Plans.collect(plan) { case a: HashAggregateExec => a }.nonEmpty,
          plan.toString)
      }
    }
  }
}
