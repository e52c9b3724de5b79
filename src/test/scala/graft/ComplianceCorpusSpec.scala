package graft

import org.apache.spark.sql.functions._

import graft.promql.{Compiler, EvalParams, PromSource}

/** The reference's de-facto query-capability definition is the official
  * promql-compliance corpus (SURVEY §5.3: 119 templates expanded by
  * variant_args). This spec feeds EVERY template — variants substituted
  * with representative values — through the parser AND the compiler
  * (compilation is action-free, so this runs no Spark jobs per query).
  * `should_fail` templates are asserted to be rejected where the failure
  * is syntactic; semantic validation failures (invalid label names) are
  * out of the parser's scope and skipped.
  */
class ComplianceCorpusSpec extends SparkSpec {

  private val CorpusPath =
    "/root/reference/tests/promql-compliance-test/promql-test-queries.yml"

  /** Representative substitutions for the tester's variant defaults. */
  private val Variants = Map(
    "range" -> "5m", "offset" -> "1m",
    "simpleAggrOp" -> "sum", "topBottomOp" -> "topk",
    "quantile" -> "0.9", "arithBinOp" -> "+", "compBinOp" -> "==",
    "binOp" -> "+", "simpleTimeAggrOp" -> "avg",
    "overTimeAggrOp" -> "avg_over_time",
    "extrapolatedRateFunc" -> "rate", "instantRateFunc" -> "irate",
    "clampFunc" -> "clamp_min", "dateFunc" -> "day_of_week",
    "simpleMathFunc" -> "abs",
    "smoothingFactor" -> "0.3", "trendFactor" -> "0.1")

  /** The upstream promql-compliance-tester's variant VALUE lists (its
    * main.go `testVariantArgs` — public), trimmed to values meaningful at
    * this fixture's 5-min resolution. The full-expansion evaluation run
    * (GRAFT_COMPLIANCE_FULL=1) varies each template's declared
    * variant_args one at a time over these.
    */
  private val VariantValues: Map[String, Seq[String]] = Map(
    "range" -> Seq("5m", "15m", "1h"),
    "offset" -> Seq("1m", "5m", "10m"),
    "simpleAggrOp" -> Seq("sum", "avg", "max", "min", "count",
      "stddev", "stdvar"),
    // 3.x adds the experimental sampling aggregations with the same
    // param-first shape (a ratio of 3 clamps to 1 → identity, still a
    // valid query)
    "topBottomOp" -> Seq("topk", "bottomk", "limitk", "limit_ratio"),
    "quantile" -> Seq("-0.5", "0.1", "0.5", "0.75", "0.95", "0.99",
      "1", "1.5"),
    "arithBinOp" -> Seq("+", "-", "*", "/", "%", "^"),
    "compBinOp" -> Seq("==", "!=", "<", ">", "<=", ">="),
    "binOp" -> Seq("+", "-", "*", "/", "%", "^", "==", "!=", "<", ">",
      "<=", ">="),
    "simpleMathFunc" -> Seq("abs", "ceil", "floor", "exp", "ln",
      "log2", "log10", "sqrt", "asinh", "acosh", "atanh"),
    // the suffix list feeds `{{.simpleTimeAggrOp}}_over_time(...)`:
    // 3.x's mad / ts_of family joins the classical aggregations
    "simpleTimeAggrOp" -> Seq("sum", "avg", "max", "min", "count",
      "stddev", "stdvar", "last", "present", "mad",
      "ts_of_min", "ts_of_max", "ts_of_last"),
    "extrapolatedRateFunc" -> Seq("rate", "delta", "increase"),
    "instantRateFunc" -> Seq("irate", "idelta"),
    "clampFunc" -> Seq("clamp_min", "clamp_max"),
    "dateFunc" -> Seq("day_of_month", "day_of_week", "day_of_year",
      "days_in_month", "hour", "minute", "month", "year"),
    "smoothingFactor" -> Seq("0.1", "0.5", "0.8"),
    "trendFactor" -> Seq("0.1", "0.5", "0.8"))

  private def substitute(q: String,
      over: Map[String, String] = Variants): String =
    over.foldLeft(q) { case (acc, (k, v)) =>
      acc.replace(s"{{.$k}}", v)
    }

  /** All substituted forms of a template: the default form, plus (in
    * full mode) each declared variant arg varied one at a time over the
    * upstream value lists, plus — for templates declaring two or more
    * variant args — the FULL CROSS PRODUCT over every arg pair (r10
    * verdict: the one-axis expansion caught day_of_year and quantile
    * clamping; interactions like range × aggregation and offset ×
    * dateFunc are the next place bugs hide).
    */
  private def expand(tpl: String, args: Seq[String],
      full: Boolean): Seq[String] = {
    val base = substitute(tpl)
    if (!full) Seq(base)
    else {
      val oneAxis = args.flatMap { k =>
        VariantValues.getOrElse(k, Nil).map(v =>
          substitute(tpl, Variants.updated(k, v)))
      }
      val twoAxis = for {
        (a, ai) <- args.zipWithIndex
        b <- args.drop(ai + 1)
        va <- VariantValues.getOrElse(a, Nil)
        vb <- VariantValues.getOrElse(b, Nil)
      } yield substitute(tpl, Variants.updated(a, va).updated(b, vb))
      (base +: (oneAxis ++ twoAxis)).distinct
    }
  }

  private final case class Tpl(query: String, shouldFail: Boolean,
      variantArgs: Seq[String])

  private lazy val allTemplates: Seq[Tpl] = {
    val lines = scala.io.Source.fromFile(CorpusPath).getLines().toSeq
    val out = Seq.newBuilder[Tpl]
    var pending: Option[String] = None
    var pendingArgs: Seq[String] = Nil
    def flush(fail: Boolean): Unit = {
      pending.foreach(q => out += Tpl(q, fail, pendingArgs))
      pending = None
      pendingArgs = Nil
    }
    lines.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("- query:") || line.startsWith("query:")) {
        flush(fail = false)
        val q = line.dropWhile(_ != ':').drop(1).trim
          .stripPrefix("'").stripSuffix("'")
          .stripPrefix("\"").stripSuffix("\"")
        pending = Some(q)
      } else if (line.startsWith("variant_args:")) {
        pendingArgs = "'([A-Za-z]+)'".r.findAllMatchIn(line)
          .map(_.group(1)).toSeq
      } else if (line.startsWith("should_fail: true")) {
        flush(fail = true)
      }
    }
    flush(fail = false)
    out.result()
  }

  // the pre-r8 tuple shape the parse/print tests consume
  private lazy val templates: Seq[(String, Boolean)] =
    allTemplates.map(t => (t.query, t.shouldFail))

  // a source whose labels mirror the demo metrics' (instance, job, type, le)
  private lazy val src: PromSource = {
    import spark.implicits._
    val pts = Seq(
      ("i1", "demo", "free", "0.5", 1704067200000L, 1.0),
      ("i1", "demo", "free", "+Inf", 1704067200000L, 2.0),
      ("i2", "demo", "used", "+Inf", 1704067260000L, 3.0))
      .toDF("instance", "job", "type", "le", "ts_ms", "value")
    PromSource(pts, Seq("instance", "job", "type", "le"), {
      case "instance" => col("instance")
      case "job" => col("job")
      case "type" => col("type")
      case "le" => col("le")
      case "__name__" => lit("demo") // every demo_* metric resolves
      case other => lit(null).cast("string") // absent labels
    })
  }

  private val p = EvalParams(1704067200000L, 1704070800000L, 60000L)

  test("every corpus template parses and compiles (variants substituted)") {
    assume(new java.io.File(CorpusPath).exists())
    // should_fail templates fail in Prometheus at EVALUATION; here the
    // invalid-label-name and invalid-regex cases are rejected at COMPILE
    // (the select-all guard is a per-deployment policy, skipped).
    val compileRejected = (q: String) =>
      q.contains("~invalid") || q.contains("\"(.*\"")
    var parsed = 0
    var compiled = 0
    val failures = Seq.newBuilder[String]
    templates.foreach { case (tpl, shouldFail) =>
      val q = substitute(tpl)
      if (shouldFail && compileRejected(q)) {
        intercept[Exception](
          Compiler.compile(graft.promql.Parser.parse(q), src, p))
      } else if (!shouldFail) {
        try {
          val ast = graft.promql.Parser.parse(q)
          parsed += 1
          Compiler.compile(ast, src, p) // action-free
          compiled += 1
        } catch {
          case e: Exception => failures += s"$q -> ${e.getMessage}"
        }
      }
    }
    val fs = failures.result()
    assert(fs.isEmpty, s"corpus failures (${fs.size}):\n${fs.mkString("\n")}")
    assert(parsed >= 110, s"only $parsed templates parsed")
    assert(compiled == parsed,
      s"only $compiled of $parsed parsed templates compiled")
  }

  /** The reference validates semantics by EVALUATING this corpus against
    * vanilla Prometheus over identical data (`tests/promql-compliance-test/
    * README.md:1-35`). No second PromQL engine ships in this environment,
    * so the evaluation gate is differential instead (the two axes the
    * verdict prescribed):
    *  1. raw vs per-selector-routed: every template evaluates over the
    *     raw cold tier AND over the pre-aggregated A4 route; with
    *     bucket-aligned one-sample-per-bucket data the answers must be
    *     identical — two genuinely different physical pipelines
    *     (raw scan+window vs downsample kernel+agg scan+window).
    *  2. full-grid vs single-instant: the range-query grid rows at t must
    *     equal an independent instant evaluation at t (different plan:
    *     1-step explode vs multi-step), Prometheus' query_range/query
    *     equivalence.
    */
  test("corpus EVALUATES end-to-end: raw == routed, grid rows == " +
    "independent instant evaluation, >=100 templates asserted") {
    assume(new java.io.File(CorpusPath).exists())
    import graft.streaming.Prompb.PromSeries
    import graft.api.HttpApi
    val T0 = 1704067200000L
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus")
      .resolve("cold").toString
    val api = new HttpApi(spark, compactEvery = 1, durablePath = Some(dir))
    try {
      val insts = Seq("demo.promlabs.com:10000", "demo.promlabs.com:10001")
      val nb = 24 // 2 h of bucket-aligned 5-min samples => lossless routing
      def ts(i: Int) = T0 + i * 300000L
      def g(name: String, extra: Map[String, String],
          f: (Int, Int) => Double,
          keep: Int => Boolean = _ => true): Seq[PromSeries] =
        insts.zipWithIndex.map { case (inst, k) =>
          PromSeries(Map("__name__" -> name, "instance" -> inst,
            "job" -> "demo") ++ extra,
            (0 until nb).filter(keep).map(i => (ts(i), f(k, i))))
        }
      val mem = Seq("free", "used", "buffers", "cached").zipWithIndex
        .flatMap { case (t, ti) =>
          g("demo_memory_usage_bytes", Map("type" -> t),
            (k, i) => 1e6 * (ti + 1) + 1000.0 * k + 17.0 * i - 9.0 * (i % 5))
        }
      val cpus = g("demo_num_cpus", Map.empty, (k, _) => 4.0 + k)
      val cpu = g("demo_cpu_usage_seconds_total", Map.empty, // reset at 15
        (k, i) => if (i < 15) 10.0 * i + k else 10.0 * (i - 15))
      val disk = g("demo_disk_usage_bytes", Map.empty,
        (k, i) => 5e8 + 1e6 * i + 5e5 * k * math.sin(i / 3.0))
      val batch = g("demo_batch_last_success_timestamp_seconds", Map.empty,
        (k, i) => (ts(i) / 1000 - 120 * k).toDouble)
      val inter = g("demo_intermittent_metric", Map.empty,
        (_, i) => 1.0 + i, keep = i => (i / 3) % 2 == 0)
      val hist = Seq("0.1", "0.5", "1", "+Inf").zipWithIndex
        .flatMap { case (le, li) =>
          g("demo_api_request_duration_seconds_bucket", Map("le" -> le),
            (k, i) => (i + 1.0) * (li + 1) * (k + 1))
        }
      api.write(mem ++ cpus ++ cpu ++ disk ++ batch ++ inter ++ hist,
        "default")
      val deadline = System.nanoTime() + 120L * 1000000000L
      while ((api.pendingBatches > 0 || api.store.preAggWatermark == 0L) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(api.store.preAggWatermark > ts(nb - 1),
        "the agg table must cover the whole fixture")
      val pp = EvalParams(T0 + 1800000L, T0 + 5400000L, 600000L)
      val tMid = T0 + 3600000L // on the grid
      val mint = T0 - 1200000L
      val maxt = T0 + nb * 300000L
      def evalRows(route: Boolean, q: String,
          e: EvalParams): Map[(String, Long), Double] = {
        val src = api.querySource("default", mint, maxt,
          allowRoute = route).get
        val df = graft.api.QueryService.queryRange(q, src, e)
        if (!df.columns.contains("eval_ms")) // top-level scalar literal
          Map(("", 0L) -> df.collect().head.getAs[Double]("value"))
        else {
          val cols = df.columns.filterNot(Set("eval_ms", "value")).sorted
          df.collect().map { r =>
            (cols.map(c => c + "=" + String.valueOf(r.getAs[Any](c)))
              .mkString("||"), r.getAs[Long]("eval_ms")) ->
              r.getAs[Double]("value")
          }.toMap
        }
      }
      def closeEnough(a: Double, b: Double): Boolean =
        (a.isNaN && b.isNaN) || a == b ||
          math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
      def diff(x: Map[(String, Long), Double],
          y: Map[(String, Long), Double]): Option[String] =
        if (x.keySet != y.keySet)
          Some(s"key sets differ: only-left=${(x.keySet -- y.keySet).take(3)}"
            + s" only-right=${(y.keySet -- x.keySet).take(3)}")
        else x.collectFirst { case (k, v) if !closeEnough(v, y(k)) =>
          s"$k: $v vs ${y(k)}" }
      // GRAFT_COMPLIANCE_FULL=1 varies every template's declared variant
      // args over the upstream value lists (one at a time) — the round's
      // full-expansion run; the default single-variant pass keeps the
      // suite fast
      val full = sys.env.get("GRAFT_COMPLIANCE_FULL").contains("1")
      var evaluated = 0
      var nonEmpty = 0
      val failures = Seq.newBuilder[String]
      allTemplates.foreach { t =>
        if (!t.shouldFail) expand(t.query, t.variantArgs, full).foreach { q =>
          try {
            val raw = evalRows(route = false, q, pp)
            val routed = evalRows(route = true, q, pp)
            diff(raw, routed).foreach(d =>
              failures += s"raw!=routed  $q -> $d")
            val instant = evalRows(route = false, q,
              EvalParams(tMid, tMid, 600000L))
            val gridAtMid = raw.collect {
              case ((k, t), v) if t == tMid || t == 0L => (k, t) -> v }
            diff(gridAtMid, instant)
              .foreach(d => failures += s"grid!=instant  $q -> $d")
            evaluated += 1
            if (raw.nonEmpty) nonEmpty += 1
          } catch {
            case e: Exception =>
              failures += s"EVAL ERROR  $q -> ${e.getMessage}"
          }
        }
      }
      val fs = failures.result()
      assert(fs.isEmpty,
        s"evaluation failures (${fs.size}):\n${fs.take(10).mkString("\n")}")
      assert(evaluated >= (if (full) 400 else 100),
        s"only $evaluated query forms evaluated")
      assert(nonEmpty >= (if (full) 300 else 80),
        s"only $nonEmpty query forms produced rows — fixture too thin")
      info(s"evaluated $evaluated query forms ($nonEmpty non-empty, " +
        s"full=$full)")
    } finally api.stop()
  }

  test("printer round-trip: parse(print(ast)) == ast over the corpus") {
    assume(new java.io.File(CorpusPath).exists())
    import graft.promql.{Parser, Printer}
    var checked = 0
    val failures = Seq.newBuilder[String]
    templates.foreach { case (tpl, shouldFail) =>
      if (!shouldFail) {
        val q = substitute(tpl)
        try {
          val ast = Parser.parse(q)
          val printed = Printer.print(ast)
          val reparsed = Parser.parse(printed)
          // NaN breaks Double-field case-class equality; a second print
          // is a faithful structural comparison (print is deterministic)
          if (reparsed != ast && Printer.print(reparsed) != printed)
            failures += s"$q\n  printed: $printed\n  got:     $reparsed\n  want:    $ast"
          else checked += 1
        } catch {
          case e: Exception =>
            failures += s"$q -> ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    }
    val fs = failures.result()
    assert(fs.isEmpty, s"round-trip failures (${fs.size}):\n${fs.take(5).mkString("\n")}")
    assert(checked >= 110, s"only $checked templates round-tripped")
  }

  test("printer roundtrip: parse(print(parse(q))) == parse(q) over the corpus") {
    assume(new java.io.File(CorpusPath).exists())
    val bad = Seq.newBuilder[String]
    templates.foreach { case (tpl, shouldFail) =>
      if (!shouldFail) {
        val q = substitute(tpl)
        val ast = graft.promql.Parser.parse(q)
        val printed = graft.promql.Printer.print(ast)
        // print-normal-form fixpoint (AST == fails on NaN literals: Scala
        // Double equality), and the reprint must be identical text
        val re = scala.util.Try(graft.promql.Parser.parse(printed))
        if (re.isFailure || graft.promql.Printer.print(re.get) != printed)
          bad += s"$q  ->  $printed"
      }
    }
    val fs = bad.result()
    assert(fs.isEmpty, s"roundtrip failures (${fs.size}):\n${fs.mkString("\n")}")
  }
}
