package graft

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import graft.CatalogBackend.{FileStat, fromJson, json, toJson}

/**
 * Redis-backed catalog index — the reference's second metadata backend
 * (`metadata.Type == "redis"` → `NewRedisIndex(url, db, table, layers)`,
 * /root/reference/querier/queryClient.go:425-431, and
 * `NewRedisDbIndex(url)` :663-665). The gigapi/metadata module that
 * implements it is not vendored in the reference checkout, so the wire
 * SCHEMA below is this library's own; the PROTOCOL (RESP) and the
 * surface (databases / tables / time-range file query) are the parity
 * points.
 *
 * Schema (all keys under one redis logical db):
 *   - `graft:dbs`                 SET of database names
 *   - `graft:tables:{db}`        SET of table names
 *   - `graft:idx:{db}:{table}`   ZSET — member is the file PATH, score
 *     is `max_time` (entries with no stats get score +inf so they are
 *     never pruned). The path-as-member makes registration idempotent
 *     BY PATH: a compactor re-registering a file with new stats
 *     replaces the score instead of accumulating a second entry (which
 *     would make the scan read the file twice).
 *   - `graft:stats:{db}:{table}` HASH path → the file's zone-map entry
 *     in the sidecar JSON form without its path,
 *     `{"row_count":…,"min_time":…,"max_time":…}` — the exact int64
 *     bounds for the client-side overlap re-check (ZSET scores are
 *     lossy doubles) and the counts for `metadataStats`.
 *
 * The score-by-max_time layout makes the time-range lookup a
 * server-side `ZRANGEBYSCORE key {start} +inf` — files that END before
 * the query window never cross the wire; the remaining `min_time <=
 * end` cut happens client-side. At 100 TB the index lookup is
 * O(|answer|), not O(|files|), and it runs on the driver once per
 * query — executors never talk to redis.
 *
 * The client is a minimal single-connection RESP2 implementation
 * (arrays of bulk strings out; simple/bulk/int/array replies in) —
 * deliberately dependency-free, since the image resolves nothing
 * beyond Spark + scalatest.
 */
class RedisCatalog(url: String) extends CatalogBackend with AutoCloseable {

  // redis://[user:password@]host[:port][/dbnum]
  private val (host, port, auth, dbNum) = {
    val u = new java.net.URI(url)
    require(u.getScheme == null || u.getScheme == "redis",
      s"unsupported catalog url scheme: $url")
    // `user:pass` → two-arg AUTH (redis 6+ ACL user); bare userinfo →
    // legacy single-arg AUTH with just the password
    val authArgs = Option(u.getUserInfo).map { ui =>
      ui.split(":", 2) match {
        case Array(user, p) if user.nonEmpty => Seq(user, p)
        case Array(_, p) => Seq(p)
        case Array(p)    => Seq(p)
      }
    }
    val db = Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
      .map(_.toInt).getOrElse(0)
    (Option(u.getHost).getOrElse("localhost"),
      if (u.getPort > 0) u.getPort else 6379, authArgs, db)
  }

  private val socket = new Socket(host, port)
  private val in = new BufferedInputStream(socket.getInputStream)
  private val out = new BufferedOutputStream(socket.getOutputStream)

  auth.foreach(a => command("AUTH" +: a: _*))
  if (dbNum != 0) command("SELECT", dbNum.toString)

  // ---- RESP2 wire ----

  /** One request/response round-trip; connection is driver-side only. */
  private def command(args: String*): Any = synchronized {
    out.write(s"*${args.size}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b); out.write('\r'); out.write('\n')
    }
    out.flush()
    readReply()
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("redis connection closed")
      sb.append(c.toChar); c = in.read()
    }
    in.read() // '\n'
    sb.toString
  }

  private def readReply(): Any = in.read() match {
    case '+' => readLine()
    case '-' => throw new RuntimeException(s"redis error: ${readLine()}")
    case ':' => readLine().toLong
    case '$' =>
      val n = readLine().toInt
      if (n < 0) null
      else {
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw new EOFException("redis connection closed")
          off += r
        }
        in.read(); in.read() // trailing \r\n
        new String(buf, UTF_8)
      }
    case '*' =>
      val n = readLine().toInt
      if (n < 0) null else Seq.fill(n)(readReply())
    case c => throw new RuntimeException(s"unexpected RESP type byte: $c")
  }

  private def strings(reply: Any): Seq[String] = reply match {
    case s: Seq[_] => s.collect { case x: String => x }
    case _         => Nil
  }

  // ---- CatalogBackend ----

  private def idxKey(db: String, table: String) = s"graft:idx:$db:$table"
  private def statsKey(db: String, table: String) = s"graft:stats:$db:$table"

  override def databases: Seq[String] =
    strings(command("SMEMBERS", "graft:dbs")).sorted

  override def tables(db: String): Seq[String] =
    strings(command("SMEMBERS", s"graft:tables:$db")).sorted

  /**
   * Redis ZSET scores are IEEE doubles: at epoch-ns magnitude (~2^60)
   * an ulp is ~256 ns, so the score is a ROUNDED copy of `max_time`.
   * The server-side bound is therefore widened by 1 ms of slack and
   * the exact inclusive-overlap test re-runs client-side on the JSON
   * entry's int64 bounds — score rounding can never prune a needed
   * boundary file.
   */
  override def prunedPaths(db: String, table: String,
                           range: Option[(Long, Long)]): Seq[String] = {
    val SLACK_NS = 1000000L
    // saturate: an upper-bound-only range carries start = Long.MinValue
    // and (start - SLACK) would overflow to +huge, silently pruning
    // every stat-ful file — use -inf when the slack can't be subtracted
    val lo = range.map(_._1) match {
      case Some(start) if start > Long.MinValue + SLACK_NS =>
        (start - SLACK_NS).toString
      case _ => "-inf"
    }
    val paths = strings(
      command("ZRANGEBYSCORE", idxKey(db, table), lo, "+inf"))
    if (paths.isEmpty) return Nil
    // a pre-path-member index (ZSET member was a JSON entry) would
    // surface JSON blobs as file paths — fail loudly, don't read junk
    paths.find(_.startsWith("{")).foreach { m =>
      throw new IllegalStateException(
        s"legacy redis index format for $db.$table (JSON member ${m.take(60)}...): " +
        "clear() and re-register the table to migrate to path members")
    }
    val statsJson = command("HMGET" +: statsKey(db, table) +: paths: _*) match {
      case s: Seq[_] => s.map(Option(_).collect { case x: String => x })
      case _         => Seq.fill(paths.size)(None)
    }
    paths.zip(statsJson).collect { // no stats ⇒ keep
      case (path, j) if j.forall(v => fromJson(json.readTree(v)).overlaps(range)) => path
    }.sorted
  }

  override def tableExists(db: String, table: String): Boolean =
    command("SISMEMBER", s"graft:tables:$db", table) == 1L

  // ---- publisher side (what a writer/compactor calls after a commit) ----

  /**
   * Register a table and its file entries in the index — idempotent BY
   * PATH: the ZSET member is the path itself, so re-registering a path
   * with updated stats (a compactor rewriting min/max) replaces its
   * score and hash entry instead of accumulating a duplicate that
   * would be scanned twice.
   */
  override def register(db: String, table: String,
               entries: Seq[CatalogBackend.FileStat]): Unit = {
    command("SADD", "graft:dbs", db)
    command("SADD", s"graft:tables:$db", table)
    entries.foreach { e =>
      val score = e.maxTime.map(_.toString).getOrElse("+inf")
      command("ZADD", idxKey(db, table), score, e.path)
      command("HSET", statsKey(db, table), e.path,
        json.writeValueAsString(toJson(e.copy(path = ""))))
    }
  }

  /** Every registered entry, from one HGETALL — the index IS the
    * lake's source of truth here (no filesystem to cross-check). None
    * for an empty index: a table might be mid-registration, and a
    * confidently-wrong 0 is worse than a scan. */
  private def registered(db: String, table: String): Option[Seq[FileStat]] =
    Some(strings(command("HGETALL", statsKey(db, table))).grouped(2).collect {
      case Seq(path, v) => fromJson(json.readTree(v)).copy(path = path)
    }.toSeq).filter(_.nonEmpty)

  override def metadataStats(db: String, table: String)
      : (Option[Long], Option[(Long, Long)]) =
    registered(db, table).fold[(Option[Long], Option[(Long, Long)])]((None, None))(
      CatalogBackend.statsOf)

  override def metadataRangeCount(db: String, table: String,
                                  range: (Long, Long)): Option[Long] =
    registered(db, table).flatMap(CatalogBackend.rangeCountOf(_, range))

  /** Remove specific file entries (compaction replaced them). */
  override def deregister(db: String, table: String, paths: Seq[String]): Unit =
    if (paths.nonEmpty) {
      command("ZREM" +: idxKey(db, table) +: paths: _*)
      command("HDEL" +: statsKey(db, table) +: paths: _*)
    }

  /** Drop the table's index + stats keys (Overwrite semantics). */
  override def clear(db: String, table: String): Unit = {
    command("DEL", idxKey(db, table), statsKey(db, table))
  }

  override def close(): Unit = socket.close()
}
