package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private def take(w: String, seed: Long, client: Int, n: Int) =
    Workloads.byName(w).get.sequence(seed, client).take(n).toList

  test("the same seed yields the same request sequence") {
    Workloads.all.foreach { w =>
      (0 until w.clients).foreach { c =>
        assert(take(w.name, 42, c, 60) == take(w.name, 42, c, 60), s"${w.name} client $c")
      }
    }
  }

  test("another seed, another client or the warm-up yields another sequence") {
    Workloads.all.foreach { w =>
      val a = take(w.name, 42, 0, 30).map(_.sql)
      assert(a != take(w.name, 43, 0, 30).map(_.sql), w.name)
      assert(a != w.warmup(42, 0).take(30).toList.map(_.sql), w.name)
      if (w.clients > 1) assert(a != take(w.name, 42, 1, 30).map(_.sql), w.name)
    }
  }

  test("every block of dashboard requests holds the stated mix") {
    val total = Workloads.DashMix.map(_._2).sum
    take("dash_recent", 7, 0, total * 3).grouped(total).foreach { block =>
      assert(block.groupBy(_.kind).view.mapValues(_.size).toMap == Workloads.DashMix.toMap)
    }
  }

  test("range windows cover 2 to 12 hours once per block; exports rotate formats") {
    take("range_scan", 7, 0, 33).grouped(11).foreach { block =>
      val hours = block.map { r =>
        val Seq(a, b) = "[0-9]{19}".r.findAllIn(r.oracleSql).toSeq.map(_.toLong)
        ((b - a) / Lake.HourNs).toInt
      }
      assert(hours.sorted == (2 to 12))
    }
    assert(take("export", 7, 0, 6).map(_.format) == Seq("json", "ndjson", "arrow", "json", "ndjson", "arrow"))
  }

  test("the gateway and the reference get the same statement, literals aside") {
    take("dash_recent", 3, 0, 40).foreach { r =>
      assert(r.sql.replaceAll("'[^']*'", "?") == r.oracleSql.replaceAll("[0-9]{19}", "?"))
    }
  }

  test("ingest readers count every acknowledged slice once, then read settled hours") {
    val acked = new Ingest(_ => (), () => ())
    var k = 0
    // an append that only acknowledges: eight slices, two settled hours
    acked.run(() => { k += 1; k > 8 })
    assert(acked.settledEnd == Lake.EventsEnd + 2 * Lake.HourNs)
    val w = Workloads.byName("ingest_mix").get
    val a = w.sequence(5, 0, acked)
    val b = w.sequence(5, 1, acked)
    val first = Seq(a.next(), b.next(), a.next(), b.next(), a.next(), b.next(), a.next(), b.next())
    assert(first.forall(_.kind == "slice_count"))
    assert(first.map(_.oracleSql).distinct.size == 8)
    assert(first.map(_.ackedNs).forall(_ > 0))
    val next = a.next()
    assert(next.kind != "slice_count" && next.ackedNs == 0)
    "[0-9]{19}".r.findAllIn(next.oracleSql).map(_.toLong).foreach(t => assert(t <= acked.settledEnd))
  }
}
