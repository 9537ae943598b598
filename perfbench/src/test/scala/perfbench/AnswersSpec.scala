package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class AnswersSpec extends AnyFunSuite {
  private def bytes(s: String) = s.getBytes(UTF_8)

  private def reference(rows: Seq[Seq[(String, Any)]], keep: Boolean): Digest = {
    val b = new Answers.Builder(keep)
    rows.foreach(r => b.add(Answers.canonRow(r.map { case (k, v) => k -> Answers.canon(v) })))
    b.result
  }

  private val rows = Seq(
    Seq("event_type" -> "click", "n" -> 3L, "total" -> 12.5),
    Seq("event_type" -> "view", "n" -> 7L, "total" -> 1.0E7))

  test("a JSON answer matches the reference rows in any order and column order") {
    val json = """{"results":[{"total":10000000.0,"event_type":"view","n":"7"},""" +
      """{"event_type":"click","n":"3","total":12.5}]}"""
    assert(Answers.fromJson(bytes(json), rowDepth = 2, keepRows = true).matches(reference(rows, keep = true)))
  }

  test("NDJSON and JSON spell the same answer") {
    val nd = "{\"event_type\":\"click\",\"n\":\"3\",\"total\":12.5}\n" +
      "{\"event_type\":\"view\",\"n\":\"7\",\"total\":1.0E7}\n"
    val d = Answers.fromResponse("ndjson", bytes(nd), keepRows = false)
    assert(d.rows == 2)
    assert(d.matches(reference(rows, keep = false)))
  }

  test("a wrong value, a missing row or an extra row is a wrong answer") {
    val want = reference(rows, keep = true)
    val wrongValue = """{"results":[{"event_type":"click","n":"3","total":12.25},""" +
      """{"event_type":"view","n":"7","total":1.0E7}]}"""
    val missing = """{"results":[{"event_type":"click","n":"3","total":12.5}]}"""
    val extra = """{"results":[{"event_type":"click","n":"3","total":12.5},""" +
      """{"event_type":"view","n":"7","total":1.0E7},{"event_type":"view","n":"7","total":1.0E7}]}"""
    Seq(wrongValue, missing, extra).foreach { j =>
      assert(!Answers.fromJson(bytes(j), rowDepth = 2, keepRows = true).matches(want), j)
    }
  }

  test("a timestamp reads the same from JSON, from Arrow and from Spark") {
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("1996-09-13T00:00:00.000001Z"))
    val arrowNs = 842572800000001000L
    val json = """{"l_shipdate":"1996-09-13T00:00:00.000001000Z","l_linestatus":"O"}""" + "\n"
    val fromJson = Answers.fromResponse("ndjson", bytes(json), keepRows = true)
    assert(fromJson.matches(reference(Seq(Seq("l_shipdate" -> ts, "l_linestatus" -> "O")), keep = true)))
    assert(fromJson.matches(reference(Seq(Seq("l_shipdate" -> arrowNs, "l_linestatus" -> "O")), keep = true)))
    assert(Answers.canonString("""{"k": 7}""") == """{"k": 7}""")
  }

  test("the export checksum is independent of row order but not of content") {
    val a = reference(rows, keep = false)
    assert(a == reference(rows.reverse, keep = false))
    assert(a != reference(rows.map(_.map { case (k, v) => if (k == "n") k -> 4L else k -> v }), keep = false))
  }
}
