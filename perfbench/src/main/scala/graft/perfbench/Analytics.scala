package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `analytics`: a fixed set of the batch queries (`SparkEntry.queries`),
  * chosen so every operator family runs, on the bundled sf0.001 tables.
  * One untimed warm-up pass, then a fixed number of timed passes. Every
  * output column of every result is evaluated through an order-insensitive
  * hash, and each result's row count and hash must match
  * the goldens in `analytics_goldens.txt`. The seed does not apply: the
  * tables are fixed.
  */
object Analytics {
  val Modules: Seq[String] = Seq("dedup", "similarity", "promql", "text",
    "multimodal", "tsdb", "streaming", "queries")

  /** One query per module, plus the math functions: the math functions and
    * the text scoring are the two that a `count()` timing prunes to a bare
    * row count. About 5 s a pass on 4 cores.
    */
  val Queries: Seq[String] = Seq(
    "a1_downsample_5m", "d2_minhash_sig", "mm5_image_dhash", "pql1_rate_sum",
    "sc1_math_fns", "t1_stream_window", "tpch_q5_region_revenue", "v6_kmeans",
    "x1_text_quality")

  val DataDir = "data/sf0.001"
  val GoldensFile = "analytics_goldens.txt"

  /** The module a query belongs to, from its family prefix. */
  def module(query: String): String = {
    val fam = query.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse
    fam match {
      case "d" => "dedup"
      case "v" => "similarity"
      case "pql" | "w" => "promql"
      case "x" => "text"
      case "mm" => "multimodal"
      case "a" | "f" | "j" | "m" | "o" | "s" | "sc" => "tsdb"
      case "t" => "streaming"
      case "q" | "tpch" | "p" | "e" => "queries"
      case other => sys.error(s"no module for query family $other")
    }
  }

  /** A column in a form whose hash does not depend on row, element or map
    * entry order, or on the last bits of a floating-point value.
    */
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case _: MapType => to_json(array_sort(map_entries(c)))
    case ArrayType(_: MapType, _) => to_json(c)
    case ArrayType(DoubleType | FloatType, _) =>
      to_json(transform(c, x => format_string("%.9g", x)))
    case _: ArrayType => to_json(array_sort(c))
    case _: StructType => to_json(c)
    case _ => c
  }

  /** (rows, sum of per-row hashes over every column) of a result. */
  def evaluate(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.sortBy(_.name)
      .map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = ctx.benchDir.resolve(DataDir).toString
    val tracer = ctx.tracer
    val goldens = Goldens.read(ctx.benchDir.resolve(GoldensFile))

    // ---- set-up, three times: open every table and read all its columns
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.all.foreach(t => evaluate(graft.Tables.table(spark, dir, t)))
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s") = Stats.median(setups)
    out.details("setup_s_each") = setups
    out.phase("setup")

    val req = new java.util.concurrent.atomic.AtomicLong
    /** One query: build, then evaluate; returns (total ms, build ms). */
    def once(q: String): (Double, Double) = {
      val m = module(q)
      val id = req.incrementAndGet()
      val scope = graft.store.Stage.open()
      val t0 = System.nanoTime()
      val (result, t1) = tracer.span(s"analytics.$m", id) {
        val df = tracer.span(s"analytics.$m.build", id)(SparkEntry.queries(q)(spark, dir))
        val t1 = System.nanoTime()
        (evaluate(df), t1)
      }
      val t2 = System.nanoTime()
      graft.store.Stage.clear(spark, scope)
      val want = goldens.get(q)
      out.check(want.contains(result),
        s"$q: ${result._1} rows, hash ${result._2}; golden $want")
      ((t2 - t0) / 1e6, (t1 - t0) / 1e6)
    }
    def pass(): Seq[(Double, Double)] = Queries.map { q =>
      try once(q)
      catch {
        case e: Exception =>
          out.op(ok = false, s"$q crashed: $e")
          (Double.NaN, Double.NaN)
      }
    }

    pass() // untimed warm-up; its answers are checked too
    out.phase("warmup")
    // a fixed number of timed passes, one per 3.5 s of the measuring time
    // and at least one, so every run times the same work: at 10 s that is 3
    // passes of about 5 s on 4 cores, whose 27 samples put the tail rule's
    // percentile (the 17th of 27) above the median
    val passes = Seq.fill(math.max(1, math.ceil(ctx.seconds / 3.5).toInt))(pass())
    out.phase("measure")

    val per = passes.flatten
    val total = per.map(_._1)
    val build = per.map(_._2)
    val suites = passes.map(_.map(_._1).sum / 1000)
    out.e2e("op_p50_ms") = Stats.median(total)
    out.e2e("op_tail_ms") = Stats.tail(total, 0.9).map(_.value).getOrElse(total.max)
    out.e2e("aux_ms") = Stats.median(build)
    out.e2e("throughput_per_s") = per.size / (total.sum / 1000)
    out.timing("query_ms", total, 0.9)
    out.timing("build_ms", build, 0.9)
    out.details("suite_s") = Stats.median(suites)
    out.details("suite_s_each") = suites
    out.details("queries") = Queries
    out.details("per_query_ms_p50") = Json.obj(Queries.zipWithIndex.map { case (q, i) =>
      q -> Stats.median(passes.map(_(i)._1)) }: _*)
  }
}

/** The golden row counts and hashes, one `query rows hash` line each,
  * recorded from the program the benchmark was added on (which matches the
  * DuckDB oracle on all 143 queries). A wrong answer prints the query, its
  * row count and hash.
  */
object Goldens {
  def read(p: java.nio.file.Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .map(_.trim.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }
}
