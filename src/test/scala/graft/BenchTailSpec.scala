package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The compact bench tail line stays parseable and under its window with
  * `"metric":"total"` first, whatever the size of its name lists.
  */
class BenchTailSpec extends AnyFunSuite {
  private val head =
    """"metric":"total","value":265.7,"unit":"sec","n_queries":283,"canary":{"base":0.412,"samples":600,"min":0.398,"max":1.911},"canary_pair":{"min":0.211,"max":0.934,"samples":580},"drift":8.412,"requeue_n":7"""
  // the real line's bounded parts at their full size: 31 families, top 10
  private val families =
    (1 to 31).map(i => f""""family_$i%02d":${i * 3.7}%.1f""").mkString("{", ",", "}")
  private val top =
    (1 to 10).map(i => f""""some_heavy_query_$i%02d":${10.0 / i}%.2f""").mkString("{", ",", "}")
  private def names(prefix: String, n: Int) = (1 to n).map(i => f"${prefix}_query_name_$i%03d")

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  test("oversized lists are cut: the line stays under 1800 chars, total first, counts kept") {
    val sf1 = BenchTail.Sf1Summary(
      n = 17,
      measured = 3,
      skipped = names("skipped", 40),
      failed = names("sf1_failed", 40),
      unknown = names("unknown", 40),
      requeued = names("requeued", 40),
      aboveBar = names("above", 40).map(k => (k, 2.5, false)),
      maxRatio = 3.14
    )
    val failed = names("failed", 283)
    val line = BenchTail.line(
      head, names("unsettled", 120), names("quiet", 150), failed, families, top, "/data/sf0.1", Right(sf1)
    )
    assert(line.length < BenchTail.MaxChars, s"${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":265.7"""))
    val js = parse(line)
    assert(js.get("families").size == 31 && js.get("top_queries").size == 10)
    val shown = strings(js.get("failed"))
    val more = shown.last
    assert(more.matches("\\+\\d+ more"), more)
    assert(shown.init == failed.take(shown.size - 1))
    assert(shown.init.size + more.drop(1).takeWhile(_.isDigit).toInt == failed.size)
    val sf1Js = js.get("sf1_subset")
    assert(sf1Js.get("n").asInt == 17 && sf1Js.get("max_ratio").asDouble == 3.14)
    assert(strings(sf1Js.get("skipped")).last.endsWith(" more"))
    assert(sf1Js.get("above_bar").fieldNames().asScala.toSeq.last.endsWith(" more"))
  }

  test("lists that fit are kept whole, with no cut marker") {
    val sf1 = BenchTail.Sf1Summary(17, 17, Nil, Nil, Nil, Seq("graph_hits"), Seq(("graph_hits", 2.2, true)), 2.2)
    val line = BenchTail.line(
      head, Seq("a_query"), Seq("b_query", "c_query"), Nil, families, top, "/data/sf0.1", Right(sf1)
    )
    assert(line.length < BenchTail.MaxChars)
    assert(!line.contains(" more"))
    val js = parse(line)
    assert(strings(js.get("above_bar_quiet")) == Seq("b_query", "c_query"))
    assert(strings(js.get("failed")).isEmpty)
    val above = js.get("sf1_subset").get("above_bar").get("graph_hits")
    assert(above.get("ratio").asDouble == 2.2 && above.get("quiet").asBoolean)
  }

  test("a disabled or failed sf1 gate passes through as its literal value") {
    for (lit <- Seq("null", "\"gate_failed\"")) {
      val line = BenchTail.line(head, Nil, Nil, names("failed", 300), families, top, "/data/sf0.1", Left(lit))
      assert(line.length < BenchTail.MaxChars)
      assert(line.contains(s""""sf1_subset":$lit,"queries_in":"bench_out.json"}"""))
      parse(line)
    }
  }
}
