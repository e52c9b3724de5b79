package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench line is the artifact of record: it must stay valid JSON in
  * any JVM locale, and it must name the queries that crashed.
  */
class BenchSpec extends AnyFunSuite {

  private def line(errors: Seq[String]): String =
    Bench.jsonLine(Seq("a1_downsample_5m" -> 1234.5678, "sc1_math_fns" -> 0.25),
      errors, "/data/sf0.1", "sc1_math_fns", 1.5, 1.25, 2.0, 3.0)

  test("the bench line parses as JSON under a decimal-comma locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val json =
      try line(Nil)
      finally Locale.setDefault(prev)
    val root = new ObjectMapper().readTree(json)
    assert(root.get("queries").get("a1_downsample_5m").asDouble() === 1234.568)
    assert(root.get("value").asDouble() === 1234.818)
    assert(root.get("load_avg_end").asDouble() === 3.0)
    assert(root.get("errors").size() === 0)
  }

  test("the printed line keeps totals and per-family sums under 1.9 KB " +
    "for every query name; the file line keeps every query") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 143)
    val times = names.zipWithIndex.map { case (n, i) => n -> (i + 0.123456) }
    val full = Bench.jsonLine(times, Seq(names.head), "/data/sf0.1",
      "sc1_math_fns", 1.5, 1.25, 2.0, 3.0)
    val fileRoot = new ObjectMapper().readTree(full)
    assert(fileRoot.get("queries").size() === names.size)
    val printed = Bench.summaryLine(full, "BENCH.json")
    assert(printed.length <= 1900, s"${printed.length} chars")
    val root = new ObjectMapper().readTree(printed)
    assert(!root.has("queries"))
    assert(root.get("queries_file").asText() === "BENCH.json")
    assert(root.get("value").asText() === fileRoot.get("value").asText())
    assert(root.get("errors").get(0).asText() === names.head)
    assert(root.get("calib_last_sec").asDouble() === 1.25)
    assert(root.get("load_avg_start").asDouble() === 2.0)
    // families are the query names' letter prefixes; their sums add up
    // to the total exactly (3-decimal times, summed as decimals)
    val fams = root.get("families")
    assert(fams.get("pql") != null && fams.get("tpch") != null)
    def sum(n: com.fasterxml.jackson.databind.JsonNode) = n.properties().asScala
      .map(e => new java.math.BigDecimal(e.getValue.asText())).reduce(_.add(_))
    assert(sum(fams).compareTo(sum(fileRoot.get("queries"))) === 0)
  }

  test("crashed queries are listed under errors") {
    val root = new ObjectMapper().readTree(line(Seq("sc1_math_fns")))
    assert(root.get("errors").get(0).asText() === "sc1_math_fns")
    assert(root.get("errors").size() === 1)
  }
}
