package perfbench

import java.time.Instant
import java.util.SplittableRandom

/** One generated request. `sql` is what the gateway receives (time
  * literals as RFC 3339 strings, as a dashboard sends them); `oracleSql`
  * is the same statement with the literals as the epoch-ns integers the
  * gateway must rewrite them to, for the unpruned reference run.
  * `exact`: the answer is compared row for row; otherwise (raw-row
  * exports) by row count and an order-independent checksum. */
final case class Request(client: Int, seq: Int, kind: String, sql: String,
                         oracleSql: String, format: String, exact: Boolean,
                         ackedNs: Long = 0L)

/** An appended slice of a live table: its time window, its row count
  * and when its append was acknowledged (`System.nanoTime`). */
final case class Slice(index: Int, startNs: Long, endNs: Long, rows: Long, ackedNs: Long)

/** What a reader can see of a table that grows while it reads: the end
  * of the newest hour whose slices are all acknowledged, and the next
  * acknowledged slice that no reader has counted yet. */
trait Live {
  def settledEnd: Long
  def takeSlice(): Option[Slice]
}

object Live {
  /** A table that does not change. */
  val Fixed: Live = new Live {
    def settledEnd: Long = Lake.EventsEnd
    def takeSlice(): Option[Slice] = None
  }
}

/** A closed-loop traffic mix: `clients` callers, each sending its next
  * request only when the previous one has been answered. `requests`
  * turns a client's random stream into its request sequence.
  * `warmupRequests` are sent before the window: enough for latency to
  * stop falling while the JIT compiles, fewer where each request does
  * more work. With `ingest`, a writer appends to the first table while
  * the clients read. */
final case class Workload(name: String, tables: Seq[String], clients: Int,
                          requests: (SplittableRandom, Int, Live) => Iterator[Request],
                          warmupRequests: Int, ingest: Boolean = false) {

  /** The request sequence of one client; the same seed always yields
    * the same sequence over a fixed table, and the program sees nothing
    * but these requests. Over a live table the seed fixes the draws,
    * and what is acknowledged when a request is made fixes its window. */
  def sequence(seed: Long, client: Int, live: Live = Live.Fixed): Iterator[Request] =
    requests(new SplittableRandom(seed * 0x9E3779B97F4A7C15L + client * 0xC2B2AE3D27D4EB4FL + 1),
      client, live)

  /** A warm-up sequence drawn from a stream the measured one never uses. */
  def warmup(seed: Long, client: Int, live: Live = Live.Fixed): Iterator[Request] =
    sequence(~seed, client + 1000, live)
}

object Workloads {
  import Lake.{HourNs, DayNs, T0}

  private def rfc(ns: Long): String = "'" + Instant.ofEpochSecond(ns / Lake.NsPerSec).toString + "'"
  private def nsLit(ns: Long): String = ns.toString

  /** Both spellings of one statement whose time literals are `lits`. */
  private def req(client: Int, seq: Int, kind: String, format: String, exact: Boolean,
                  lits: Seq[Long])(f: Seq[String] => String): Request =
    Request(client, seq, kind, f(lits.map(rfc)), f(lits.map(nsLit)), format, exact)

  /** Start of an hour `back` hours before the one ending at `end`,
    * skewed recent: the hour index is exponential with a mean of 8 hours.
    * A synthetic choice, not observed traffic: no request log was
    * available. */
  private def recentHour(rnd: SplittableRandom, end: Long): Long = {
    val back = math.min(Lake.EventHours - 2,
      (-math.log(1.0 - rnd.nextDouble()) * 8.0).toInt)
    end - (back + 1) * HourNs
  }

  /** Cards dealt from a deck reshuffled every round: each block of
    * `cards.size` draws holds every card once, so even a short run sees
    * the mix in its stated proportions, while the order stays seeded. */
  def deck[A](rnd: SplittableRandom, cards: Seq[A]): Iterator[A] =
    Iterator.continually {
      val a = cards.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.map(_.asInstanceOf[A])
    }.flatten

  /** Dashboard panels per 20 requests. A synthetic choice, not observed
    * traffic: every panel kind the dashboard has, breakdowns and series
    * most often, the rarer kinds at least once per block. */
  val DashMix: Seq[(String, Int)] = Seq("breakdown" -> 7, "series" -> 5, "top_users" -> 3,
    "meta_count" -> 3, "show_tables" -> 1, "hour_over_hour" -> 1)

  private def dashKinds(rnd: SplittableRandom): Iterator[String] =
    deck(rnd, DashMix.flatMap { case (k, n) => Seq.fill(n)(k) })

  private def dash(rnd: SplittableRandom, client: Int, live: Live): Iterator[Request] =
    dashKinds(rnd).zipWithIndex.map {
      case (kind, seq) => dashRequest("events", kind, recentHour(rnd, live.settledEnd), client, seq)
    }

  /** Readers of `events_live`: a count over every newly acknowledged
    * slice, taken by whichever reader is free first, and dashboard
    * panels over settled hours otherwise. */
  private def ingestReads(rnd: SplittableRandom, client: Int, live: Live): Iterator[Request] = {
    val kinds = dashKinds(rnd)
    Iterator.from(0).map { seq =>
      live.takeSlice() match {
        case Some(s) =>
          req(client, seq, "slice_count", "json", true, Seq(s.startNs, s.endNs)) { l =>
            s"SELECT count(*) AS n FROM events_live WHERE time >= ${l(0)} AND time < ${l(1)}"
          }.copy(ackedNs = s.ackedNs)
        case None => dashRequest("events_live", kinds.next(), recentHour(rnd, live.settledEnd), client, seq)
      }
    }
  }

  private def dashRequest(table: String, kind: String, a: Long, client: Int, seq: Int): Request = {
    val b = a + HourNs
    kind match {
      case "breakdown" => req(client, seq, kind, "json", true, Seq(a, b)) { l =>
        s"SELECT event_type, count(*) AS n, sum(value) AS total FROM $table " +
          s"WHERE time >= ${l(0)} AND time < ${l(1)} GROUP BY event_type ORDER BY event_type"
      }
      case "series" => req(client, seq, kind, "json", true, Seq(a, b)) { l =>
        s"SELECT time div 300000000000 AS bucket, count(*) AS n, avg(value) AS mean " +
          s"FROM $table WHERE time >= ${l(0)} AND time < ${l(1)} GROUP BY 1 ORDER BY 1"
      }
      case "top_users" => req(client, seq, kind, "json", true, Seq(a, b)) { l =>
        s"SELECT user_id, count(*) AS n FROM $table WHERE time >= ${l(0)} AND time < ${l(1)} " +
          s"GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5"
      }
      case "meta_count" => req(client, seq, kind, "json", true, Seq(a, b)) { l =>
        s"SELECT count(*) AS n FROM $table WHERE time >= ${l(0)} AND time < ${l(1)}"
      }
      case "show_tables" => Request(client, seq, kind, "SHOW TABLES", "SHOW TABLES", "json", true)
      case "hour_over_hour" => req(client, seq, kind, "json", true, Seq(a - HourNs, a, b)) { l =>
        // two occurrences of one table under distinct aliases: each side
        // prunes by its own alias-qualified window
        s"SELECT c.event_type, count(*) AS pairs FROM $table c JOIN $table p " +
          s"ON c.user_id = p.user_id WHERE c.time >= ${l(1)} AND c.time < ${l(2)} " +
          s"AND p.time >= ${l(0)} AND p.time < ${l(1)} GROUP BY c.event_type ORDER BY c.event_type"
      }
    }
  }

  /** Windows of 2..12 hours, so 2..12 pruned files, each width once per
    * block of 11 requests; the start hour is uniform. */
  private def range(rnd: SplittableRandom, client: Int, live: Live): Iterator[Request] =
    deck(rnd, 2 to 12).zipWithIndex.map { case (hours, seq) =>
      val a = T0 + rnd.nextInt(Lake.EventHours - hours + 1) * HourNs
      req(client, seq, "range", "json", true, Seq(a, a + hours * HourNs)) { l =>
        s"SELECT time div 600000000000 AS bucket, event_type, count(*) AS n, " +
          s"sum(value) AS total, min(value) AS lo, max(value) AS hi FROM events " +
          s"WHERE time >= ${l(0)} AND time < ${l(1)} GROUP BY 1, 2 ORDER BY 1, 2"
      }
    }

  val ExportFormats: Seq[String] = Seq("json", "ndjson", "arrow")
  /** Export windows: an eighth of a day inside one day, so one file of
    * 10^5 rows is read and about 12.5k of its rows (10^4 or more) are
    * returned. */
  val ExportSlotsPerDay = 8

  /** Formats in rotation; the window is uniform over days and slots. */
  private def exports(rnd: SplittableRandom, client: Int, live: Live): Iterator[Request] =
    Iterator.from(0).map { seq =>
      val slotNs = DayNs / ExportSlotsPerDay
      val a = T0 + rnd.nextInt(Lake.LineDays) * DayNs + rnd.nextInt(ExportSlotsPerDay) * slotNs
      req(client, seq, "export", ExportFormats(seq % ExportFormats.size), false, Seq(a, a + slotNs)) { l =>
        s"SELECT * FROM lineitem WHERE time >= ${l(0)} AND time < ${l(1)}"
      }
    }

  val all: Seq[Workload] = Seq(
    // fixed per-request cost dominates: server, engine, catalog, one-footer
    // schema resolution, Spark job scheduling
    Workload("dash_recent", Seq("events"), 1, dash, warmupRequests = 100),
    // schema resolution grows with every kept file; encoders idle
    Workload("range_scan", Seq("events"), 1, range, warmupRequests = 20),
    // encoding and transfer of large results dominate
    Workload("export", Seq("lineitem"), 1, exports, warmupRequests = 30),
    // the catalog path under appends and compaction; write path,
    // read-your-writes and the compactor's non-transactional window
    Workload("ingest_mix", Seq("events_live"), 2, ingestReads, warmupRequests = 60, ingest = true))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
