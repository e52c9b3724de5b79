package graft

import java.util.Locale

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

  test("crashed queries are listed under errors") {
    val root = new ObjectMapper().readTree(line(Seq("sc1_math_fns")))
    assert(root.get("errors").get(0).asText() === "sc1_math_fns")
    assert(root.get("errors").size() === 1)
  }
}
