package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench's final stdout line is what a tail-bounded capture keeps:
  * it must stay short and parseable at the full query count. */
class BenchRecordSpec extends AnyFunSuite {

  // 177 query lines over every family prefix, plus the compaction and
  // skew lines the bench adds; long names and full-precision times
  private val prefixes = Seq("q", "d", "i", "s", "t", "b", "m", "p", "g", "r", "z")
  private val lines = (0 until 177).map { i =>
    f"${prefixes(i % prefixes.size)}${i}%03d_a_rather_long_query_line_name" ->
      (1.0 + i * 0.123456789012345)
  } ++ Seq("compaction_mor" -> 3.390338144,
    "skew_d2" -> 3.097868944, "skew_d12" -> 2.736451048, "skew_i2" -> 7.804782834)
  private val first = scala.collection.mutable.LinkedHashMap(lines: _*)
  private val best = first.map { case (k, v) => k -> v * 0.9 }
  private val detail =
    ""","compaction":{"input_files":10,"input_bytes":10133454,"output_files":1,""" +
      """"output_bytes":7698118},"skew":{"docs":50000,"planted_bucket":16666,""" +
      """"d2_pairs":106378,"d12_pairs":212434,"i2_rows":21423},""" +
      """"load":{"start":[4.97,2.81,2.12],"end":[6.73,4.57,3.18],"test_sweep_min_ago":5}"""

  test("the final bench record parses and stays within 1500 characters at 181 lines") {
    assert(lines.size == 181)
    val line = Bench.record(first, best, detail, "testdata/sf0.1", Nil)
    assert(line.length <= 1500, s"${line.length} characters: $line")
    assert(!line.contains("\n"))
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(line)
    assert((j \ "metric").extract[String] == "total")
    assert((j \ "unit").extract[String] == "sec")
    assert((j \ "n_queries").extract[Int] == 181)
    assert(math.abs((j \ "value").extract[Double] - first.values.sum) < 1e-9)
    assert(math.abs((j \ "value_best").extract[Double] - best.values.sum) < 1e-9)
    val families = (j \ "families").extract[Map[String, Double]]
    assert(families.keySet == Set("q", "d_i", "s", "t_b", "m", "p", "g", "other",
      "compaction", "skew"))
    assert(math.abs(families.values.sum - first.values.sum) < 0.01)
    assert((j \ "families_best").extract[Map[String, Double]].keySet == families.keySet)
    assert((j \ "load" \ "test_sweep_min_ago").extract[Int] == 5)
    assert((j \ "sf").extract[String] == "testdata/sf0.1")
    assert((j \ "failed").extract[Int] == 0)
  }

  test("with every line failed the record still parses, stays within 1500 characters and counts them") {
    val line = Bench.record(first, best, detail, "testdata/sf0.1", lines.map(_._1))
    assert(line.length <= 1500, s"${line.length} characters: $line")
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(line)
    assert((j \ "failed").extract[Int] == 181)
    assert((j \ "failed_lines").extract[Seq[String]] == lines.take(5).map(_._1))
    assert(math.abs((j \ "value").extract[Double] - first.values.sum) < 1e-9)
  }
}
