package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's stdout contract with a reader that keeps only the last
  * [[Bench.TailChars]] characters: the per-query line (heaviest rows first)
  * and the total line after it must parse from that tail, trailer included.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** A JSON object's (name, seconds) entries in the line's order. */
  private def medianSeq(obj: JsonNode): Seq[(String, Double)] =
    obj.properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble)

  test("Bench's stdout tail parses to the heaviest per-query medians and the total") {
    // the committed sidecar: one full sf0.1 run's record, 232 medians
    val sidecar = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_full__root_testdata_sf0.1.json")), "UTF-8").trim
    val full = mapper.readTree(sidecar)
    val medians = medianSeq(full.get("queries"))
    assert(medians.size == 232)
    val total = Bench.totalLine(full.get("value").asDouble, full.get("sf").asText,
      full.get("suspect").size)
    val stdout = Seq(sidecar, Bench.perQueryLine(medians), total, "#" * 100)
      .mkString("", "\n", "\n")
    val lines = stdout.takeRight(Bench.TailChars).split("\n").toSeq
    assert(lines.last == "#" * 100)
    assert(lines.init.last == total, "the total line is not the last record")
    val perQuery = lines.find(_.startsWith("""{"metric":"per_query",""")).getOrElse(
      fail("no whole per_query line in the tail"))
    val kept = medianSeq(mapper.readTree(perQuery).get("values"))
    assert(kept.size >= 60, s"only ${kept.size} rows reach the tail")
    assert(kept == medians.sortBy { case (n, v) => (-v, n) }.take(kept.size),
      "the tail does not carry the heaviest rows, heaviest first")
    assert(mapper.readTree(lines.init.last).get("value").asDouble == full.get("value").asDouble)
  }

  test("the total line keeps its format") {
    assert(Bench.totalLine(97.684, "/data/sf0.1", 7) ==
      """{"metric":"total","value":97.684,"unit":"sec","sf":"/data/sf0.1","suspect_count":7}""")
  }
}
