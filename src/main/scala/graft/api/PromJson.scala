package graft.api

import org.apache.spark.sql.{DataFrame, Row}

/** Prometheus HTTP API v1 JSON serialization (reference delegates to the
  * upstream Prometheus `api/v1` handlers wired in `api/api.go:157-233`;
  * the response envelope/shape is the public Prometheus HTTP API:
  * `{"status":"success","data":{"resultType":…,"result":[…]}}`).
  *
  * This is the SERIALIZATION boundary: the one place a result-sized
  * `collect()` belongs, and the place presentation ordering
  * (`sort`/`sort_desc`, which deliberately do NOT sort the compiled plan)
  * is applied.
  */
object PromJson {

  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }

  /** Sample values serialize as strings, Go `strconv` style: shortest
    * decimal, no exponent for integral magnitudes, `NaN`/`+Inf`/`-Inf`.
    */
  def fmtValue(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v == Double.PositiveInfinity) "+Inf"
    else if (v == Double.NegativeInfinity) "-Inf"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Timestamps serialize as float seconds with the ms fraction trimmed. */
  def fmtTs(ms: Long): String =
    if (ms % 1000 == 0) (ms / 1000).toString
    else {
      val frac = f"${math.floorMod(ms, 1000)}%03d".reverse.dropWhile(_ == '0')
        .reverse
      s"${math.floorDiv(ms, 1000)}.$frac"
    }

  def metricJson(labels: Seq[(String, String)]): String =
    labels.sortBy(_._1)
      .map { case (n, v) => s""""${escape(n)}":"${escape(v)}"""" }
      .mkString("{", ",", "}")

  /** Non-empty (label, value) pairs of a row (missing label == absent). */
  private def rowLabels(r: Row, labels: Seq[String]): Seq[(String, String)] =
    labels.flatMap { n =>
      Option(r.getAs[Any](n)).map(_.toString).filter(_.nonEmpty).map(n -> _)
    }

  /** query_range result → `matrix` JSON. Groups the (labels…, eval_ms,
    * value) rows per series, values ascending by timestamp, series ordered
    * by their label signature (deterministic output).
    */
  def matrix(df: DataFrame, labels: Seq[String]): String = {
    val present = labels.filter(df.columns.contains)
    val series = df.collect().toSeq
      .groupBy(rowLabels(_, present))
      .toSeq.sortBy { case (ls, _) => ls.map(lv => lv._1 + "\u0000" + lv._2)
        .mkString("\u0001") }
    val entries = series.map { case (ls, rows) =>
      val values = rows
        .map(r => (r.getAs[Long]("eval_ms"), r.getAs[Double]("value")))
        .sortBy(_._1)
        .map { case (t, v) => s"""[${fmtTs(t)},"${fmtValue(v)}"]""" }
        .mkString(",")
      s"""{"metric":${metricJson(ls)},"values":[$values]}"""
    }
    success(s"""{"resultType":"matrix","result":[${entries.mkString(",")}]}""")
  }

  /** Presentation ordering for a top-level sort function — applied at
    * serialization, never in the compiled plan.
    */
  sealed trait VecOrder
  /** sort / sort_desc: by sample value. */
  final case class ByValue(desc: Boolean) extends VecOrder
  /** sort_by_label / sort_by_label_desc (Prometheus 3.x experimental
    * funcSortByLabel): by the named labels in argument order (a missing
    * label compares as "", Prometheus labels.Get semantics), full label
    * set as a stable tiebreak.
    */
  final case class ByLabels(names: Seq[String], desc: Boolean)
    extends VecOrder

  /** Instant-query result → `vector` JSON. `order`: the presentation
    * ordering the compiler deliberately leaves out of the plan.
    */
  def vector(df: DataFrame, labels: Seq[String],
      order: Option[VecOrder] = None): String = {
    val present = labels.filter(df.columns.contains)
    val rows0 = df.collect().toSeq.map(r =>
      (rowLabels(r, present), r.getAs[Long]("eval_ms"),
        r.getAs[Double]("value")))
    def labelKey(ls: Seq[(String, String)]): String =
      ls.map(lv => lv._1 + "\u0000" + lv._2).mkString("\u0001")
    val rows = order match {
      case Some(ByValue(desc)) =>
        // NaN sorts last in both directions (Prometheus funcSort)
        val (nan, num) = rows0.partition(_._3.isNaN)
        (if (desc) num.sortBy(-_._3) else num.sortBy(_._3)) ++ nan
      case Some(ByLabels(names, desc)) =>
        val dir = if (desc) -1 else 1
        rows0.sortWith { (a, b) =>
          val la = a._1.toMap; val lb = b._1.toMap
          val cmp = names.iterator
            .map(n => dir * la.getOrElse(n, "").compareTo(
              lb.getOrElse(n, "")))
            .find(_ != 0)
            .getOrElse(labelKey(a._1).compareTo(labelKey(b._1)))
          cmp < 0
        }
      case None => rows0.sortBy(r => labelKey(r._1))
    }
    val entries = rows.map { case (ls, t, v) =>
      s"""{"metric":${metricJson(ls)},"value":[${fmtTs(t)},"${fmtValue(v)}"]}"""
    }
    success(s"""{"resultType":"vector","result":[${entries.mkString(",")}]}""")
  }

  /** /api/v1/labels and /api/v1/label/<n>/values payload. */
  def strings(values: Seq[String]): String =
    success(values.sorted.map(v => s""""${escape(v)}"""").mkString("[", ",", "]"))

  def success(dataJson: String): String =
    s"""{"status":"success","data":$dataJson}"""

  def error(errorType: String, msg: String): String =
    s"""{"status":"error","errorType":"${escape(errorType)}","error":"${escape(msg)}"}"""
}
