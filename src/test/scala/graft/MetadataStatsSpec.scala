package graft

import graft.CatalogBackend.{FileStat, fromJson, json, rangeCountOf, statsOf, toJson}
import org.scalatest.funsuite.AnyFunSuite

/** Boundary behavior of the shared zone-map entry model: its JSON
  * codec and metadata-aggregate derivations. */
class MetadataStatsSpec extends AnyFunSuite {
  private def e(rc: Long, mn: Long, mx: Long) = FileStat("", Some(mn), Some(mx), Some(rc))

  test("statsOf: provability is per-side; empty gives count 0, no bounds") {
    assert(statsOf(Seq(e(5, 10, 20), e(3, 30, 40))) ==
      ((Some(8L), Some((10L, 40L)))))
    assert(statsOf(Seq(e(5, 10, 20), FileStat("", Some(30L), Some(40L)))) ==
      ((None, Some((10L, 40L)))))
    assert(statsOf(Seq(e(5, 10, 20), FileStat("", None, None, Some(3L)))) ==
      ((Some(8L), None)))
    assert(statsOf(Nil) == ((Some(0L), None)))
  }

  test("rangeCountOf: fully inside counts, fully outside skips, partial kills") {
    val files = Seq(e(5, 10, 20), e(3, 30, 40), e(7, 50, 60))
    assert(rangeCountOf(files, (10, 40)) == Some(8L)) // exact boundaries
    assert(rangeCountOf(files, (0, 100)) == Some(15L))
    assert(rangeCountOf(files, (25, 45)) == Some(3L)) // middle file only
    assert(rangeCountOf(files, (15, 40)).isEmpty) // splits the first file
    assert(rangeCountOf(files, (41, 49)) == Some(0L)) // between files
    // stat-less entries are unclassifiable
    assert(rangeCountOf(files :+ FileStat("", None, None, Some(1L)), (0, 100)).isEmpty)
    // a fully-inside file without row_count kills; outside it doesn't
    assert(rangeCountOf(Seq(FileStat("", Some(10L), Some(20L))), (0, 100)).isEmpty)
    assert(rangeCountOf(Seq(FileStat("", Some(10L), Some(20L)), e(3, 30, 40)), (25, 45))
      == Some(3L))
    // sentinel (half-open) ranges from extract's asTuple
    assert(rangeCountOf(files, (Long.MinValue, 25)) == Some(5L))
    assert(rangeCountOf(files, (30, Long.MaxValue)) == Some(10L))
  }

  test("entry codec: sidecar field order, unknowns left out, round-trips") {
    val full = FileStat("p.parquet", Some(10L), Some(20L), Some(3L))
    assert(json.writeValueAsString(toJson(full)) ==
      """{"path":"p.parquet","row_count":3,"min_time":10,"max_time":20}""")
    assert(fromJson(toJson(full)) == full)
    val maxOnly = FileStat("", None, Some(20L))
    assert(json.writeValueAsString(toJson(maxOnly)) == """{"max_time":20}""")
    assert(fromJson(toJson(maxOnly)) == maxOnly)
    // a non-numeric stat decodes as unknown
    assert(fromJson(json.readTree("""{"path":"q","min_time":"x"}""")) ==
      FileStat("q", None, None))
  }
}
