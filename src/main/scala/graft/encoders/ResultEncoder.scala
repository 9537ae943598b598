package graft.encoders

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Result encoders reproducing the reference's observable contract
 * (/root/reference/querier/formatJson.go:41-67, flightsql.go:313-324,
 * queryClient.go:911-913):
 *
 *  1. int64 values are rendered as JSON **strings** (BigInt epoch-ns
 *     values overflow JS doubles); float64/bool render natively;
 *  2. timestamps render as RFC3339Nano strings in UTC;
 *  3. NULL values in `count*`-named columns coerce to 0;
 *  4. column order: `time` first, remaining columns alphabetical;
 *  5. JSON shape `{"results":[{…},…]}`; NDJSON = one object per line.
 *
 * Streaming: every format reads Spark's internal rows as the driver
 * pulls them one partition at a time ([[internalRows]]) and writes bytes
 * through one 64 KB buffer to an `OutputStream`, so driver memory is
 * bounded by a partition, not by the result (an improvement over the
 * reference's fully-materialized `[]map[string]any`).
 *
 * Each column's writer is chosen once from the schema. int64, int,
 * double, boolean, UTF-8 strings and timestamps from 1900 to 9999 are
 * written straight from the row. Every other value (float, short,
 * decimal, date, TIMESTAMP_NTZ, binary, arrays, maps, structs, an
 * earlier or later timestamp, a string that is not well-formed UTF-8)
 * is converted by [[toExternal]] and rendered by [[encodeValue]], the
 * encoder the `Row` path used, so the bytes are the same as that path's
 * for every type, but for a binary inside a map or struct: that is
 * base64 text, where the `Row` path wrote the array's identity string.
 */
object ResultEncoder {
  private val RFC3339NANO = DateTimeFormatter.ofPattern(
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX").withZone(ZoneOffset.UTC)

  /** The lake's time column first, rest alphabetical (reference
    * flightsql.go:313-324). */
  def orderedColumns(df: DataFrame): Seq[String] = {
    val names = df.schema.fieldNames.toSeq
    val (time, rest) = names.partition(_.equalsIgnoreCase(graft.CatalogBackend.TimeCol))
    time ++ rest.sorted
  }

  private def escape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One external (Scala/Java) value as JSON text. */
  private def encodeValue(v: Any, field: StructField): String = v match {
    case null =>
      if (field.name.toLowerCase.startsWith("count")) "0" // NULL count* → 0
      else "null"
    case l: Long => "\"" + l + "\"" // int64 → string
    case i: Int => i.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      "\"" + RFC3339NANO.format(t.toInstant) + "\""
    case i: java.time.Instant => "\"" + RFC3339NANO.format(i) + "\""
    case d: java.sql.Date => "\"" + d.toString + "\""
    case s: scala.collection.Seq[_] =>
      s.map(x => encodeValue(x, field)).mkString("[", ",", "]")
    case other => "\"" + escape(other.toString) + "\""
  }

  /**
   * The frame's result as Spark's internal rows. A local relation
   * (metadata answers, SHOW) is collected from memory and runs no Spark
   * job. Any other plan runs as Dataset's local-iterator action runs
   * it, one job per partition as the iterator is drained, without its
   * `Row` deserializer.
   */
  private[encoders] def internalRows(df: DataFrame): Iterator[InternalRow] = {
    val qe = df.queryExecution
    qe.executedPlan match {
      case local: LocalTableScanExec => local.executeCollect().iterator
      case plan => SQLExecution.withNewExecutionId(qe, Some("encode"))(plan.executeToIterator())
    }
  }

  /** Epoch µs from 1900-01-01 (and past Spark's last Julian-calendar
    * switch, so the external `Timestamp` is not rebased) up to year
    * 10000: the range whose RFC3339 text [[ByteSink.rfc3339]] writes. */
  private val FastMicrosFrom = math.max(-2208988800000000L, RebaseDateTime.lastSwitchGregorianTs)
  private val FastMicrosUntil = 253402300800000000L
  private[encoders] def fastMicros(us: Long): Boolean = us >= FastMicrosFrom && us < FastMicrosUntil

  /** True when `u` is well-formed UTF-8 (Unicode Table 3-7): Java
    * decodes it without replacement characters, so its bytes are the
    * bytes of its `String`. */
  private[encoders] def wellFormed(u: UTF8String): Boolean = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val len = u.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    var i = 0
    while (i < len) {
      val b = at(i)
      if (b < 0x80) i += 1
      else {
        // continuation count and the allowed range of the second byte
        var need = 0; var lo = 0x80; var hi = 0xbf
        if (b >= 0xc2 && b <= 0xdf) need = 1
        else if (b == 0xe0) { need = 2; lo = 0xa0 }
        else if (b == 0xed) { need = 2; hi = 0x9f }
        else if (b >= 0xe1 && b <= 0xef) need = 2
        else if (b == 0xf0) { need = 3; lo = 0x90 }
        else if (b >= 0xf1 && b <= 0xf3) need = 3
        else if (b == 0xf4) { need = 3; hi = 0x8f }
        else return false
        if (i + need >= len) return false
        val b1 = at(i + 1)
        if (b1 < lo || b1 > hi) return false
        var k = 2
        while (k <= need) {
          val bk = at(i + k)
          if (bk < 0x80 || bk > 0xbf) return false
          k += 1
        }
        i += need + 1
      }
    }
    true
  }

  /** A column's internal value as the external value an encoder renders
    * without a writer of its own: the Scala value, with every byte array
    * in it, at any depth, as its base64 text. */
  private[encoders] def toExternal(dt: DataType): Any => Any = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def hasBinary(t: DataType): Boolean = t match {
      case BinaryType => true
      case ArrayType(e, _) => hasBinary(e)
      case MapType(k, v, _) => hasBinary(k) || hasBinary(v)
      case StructType(fs) => fs.exists(f => hasBinary(f.dataType))
      case _ => false
    }
    def base64(v: Any): Any = v match {
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case s: scala.collection.Seq[_] => s.map(base64)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => base64(k) -> base64(x) }
      case r: org.apache.spark.sql.Row => org.apache.spark.sql.Row.fromSeq(r.toSeq.map(base64))
      case other => other
    }
    if (hasBinary(dt)) v => base64(toScala(v)) else toScala
  }

  /** Writes one non-null value of a column from an internal row. */
  private trait Put { def apply(row: InternalRow, i: Int, s: ByteSink): Unit }

  /** The value converted by [[toExternal]] and rendered by
    * [[encodeValue]], as the `Row` path did. */
  private def converted(f: StructField): Put = {
    val external = toExternal(f.dataType)
    (r, i, s) => s.bytes(encodeValue(external(r.get(i, f.dataType)), f).getBytes(UTF_8))
  }

  private val Null = "null".getBytes(UTF_8)
  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)

  private def put(f: StructField): Put = {
    val slow = converted(f)
    f.dataType match {
      case LongType => (r, i, s) => { s.byte('"'); s.long(r.getLong(i)); s.byte('"') }
      case IntegerType => (r, i, s) => s.long(r.getInt(i))
      case DoubleType => (r, i, s) => {
        val d = r.getDouble(i)
        if (d.isNaN || d.isInfinite) s.bytes(Null) else s.ascii(java.lang.Double.toString(d))
      }
      case BooleanType => (r, i, s) => s.bytes(if (r.getBoolean(i)) True else False)
      case TimestampType => (r, i, s) => {
        val us = r.getLong(i)
        if (fastMicros(us)) s.rfc3339(us) else slow(r, i, s)
      }
      case _: StringType => (r, i, s) => {
        val u = r.getUTF8String(i)
        if (wellFormed(u)) s.jsonString(u) else slow(r, i, s)
      }
      case _ => slow
    }
  }

  /** One output column: its pre-encoded `"name":` key (led by `{` or
    * `,`), its source ordinal, its null text and its value writer. */
  private final class Column(val key: Array[Byte], val idx: Int, val ifNull: Array[Byte],
                             val put: Put)

  /** A JSON object per row, with the writers chosen once for `df`. */
  private final class ObjectWriter(df: DataFrame) {
    private val schema = df.schema
    private val cols: Array[Column] = orderedColumns(df).zipWithIndex.map { case (c, k) =>
      val idx = schema.fieldIndex(c)
      val key = (if (k == 0) "{" else ",") + "\"" + escape(c) + "\":"
      new Column(key.getBytes(UTF_8), idx, encodeValue(null, schema(idx)).getBytes(UTF_8),
        put(schema(idx)))
    }.toArray

    def write(row: InternalRow, s: ByteSink): Unit = {
      if (cols.isEmpty) s.byte('{')
      var c = 0
      while (c < cols.length) {
        val col = cols(c)
        s.bytes(col.key)
        if (row.isNullAt(col.idx)) s.bytes(col.ifNull) else col.put(row, col.idx, s)
        c += 1
      }
      s.byte('}')
    }
  }

  /** `{"results":[…]}` (reference JsonFormatter shape), written to `out`
    * as the rows arrive; `out` is flushed, not closed. */
  def writeJson(df: DataFrame, out: OutputStream): Unit = {
    val w = new ObjectWriter(df)
    val s = new ByteSink(out)
    s.ascii("{\"results\":[")
    val it = internalRows(df)
    var first = true
    while (it.hasNext) {
      if (!first) s.byte(',')
      w.write(it.next(), s)
      first = false
    }
    s.ascii("]}")
    s.flush()
  }

  /** One JSON object per line (reference NDJsonFormatter); `out` is
    * flushed, not closed. */
  def writeNdjson(df: DataFrame, out: OutputStream): Unit = {
    val w = new ObjectWriter(df)
    val s = new ByteSink(out)
    val it = internalRows(df)
    while (it.hasNext) {
      w.write(it.next(), s)
      s.byte('\n')
    }
    s.flush()
  }

  /** The whole JSON document in memory. The server and the CLI stream
    * through [[writeJson]]; this wrapper stays for callers that compare
    * or measure a whole body (tests, the gateway benchmark's traced
    * encode). */
  def toJsonString(df: DataFrame): String = {
    val bos = new ByteArrayOutputStream()
    writeJson(df, bos)
    bos.toString(UTF_8)
  }

  /** The whole NDJSON body in memory; see [[toJsonString]]. */
  def toNdjsonString(df: DataFrame): String = {
    val bos = new ByteArrayOutputStream()
    writeNdjson(df, bos)
    bos.toString(UTF_8)
  }
}

/** Bytes to an `OutputStream` through one reused 64 KB array. */
private[encoders] final class ByteSink(out: OutputStream) {
  private val buf = new Array[Byte](ByteSink.Size)
  private var n = 0

  private def room(k: Int): Unit = if (buf.length - n < k) drain()

  def byte(b: Int): Unit = {
    room(1)
    buf(n) = b.toByte
    n += 1
  }

  def bytes(b: Array[Byte]): Unit = {
    if (b.length > buf.length - n) {
      drain()
      if (b.length > buf.length) { out.write(b); return }
    }
    System.arraycopy(b, 0, buf, n, b.length)
    n += b.length
  }

  /** A short string of ASCII characters (a number, a bracket). */
  def ascii(s: String): Unit = {
    val len = s.length
    room(len)
    var k = 0
    while (k < len) { buf(n + k) = s.charAt(k).toByte; k += 1 }
    n += len
  }

  /** A decimal integer. */
  def long(v: Long): Unit = {
    if (v == Long.MinValue) { ascii(v.toString); return }
    room(20)
    var x = v
    if (x < 0) { buf(n) = '-'; n += 1; x = -x }
    var digits = 1
    var p = 10L
    while (digits < 19 && x >= p) { digits += 1; p *= 10 }
    var i = n + digits
    n = i
    while ({ i -= 1; buf(i) = ('0' + x % 10).toByte; x /= 10; x != 0 }) ()
  }

  /** `width` decimal digits of `v` at `at`, zero-padded. */
  private def pad(v: Int, width: Int, at: Int): Unit = {
    var x = v
    var i = at + width
    while (i > at) { i -= 1; buf(i) = ('0' + x % 10).toByte; x /= 10 }
  }

  /** Epoch µs as a quoted RFC3339Nano UTC string,
    * `"yyyy-MM-ddTHH:mm:ss.SSSSSS000Z"`, for a 4-digit year. */
  def rfc3339(us: Long): Unit = {
    room(32)
    val secs = Math.floorDiv(us, 1000000L)
    val micros = Math.floorMod(us, 1000000L).toInt
    val days = Math.floorDiv(secs, 86400L)
    val sod = Math.floorMod(secs, 86400L).toInt
    // civil date from days since 1970-01-01 (proleptic Gregorian)
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = (era * 400L).toInt + yoe + (if (month <= 2) 1 else 0)
    val b = buf
    val at = n
    b(at) = '"'
    pad(year, 4, at + 1); b(at + 5) = '-'
    pad(month, 2, at + 6); b(at + 8) = '-'
    pad(day, 2, at + 9); b(at + 11) = 'T'
    pad(sod / 3600, 2, at + 12); b(at + 14) = ':'
    pad(sod / 60 % 60, 2, at + 15); b(at + 17) = ':'
    pad(sod % 60, 2, at + 18); b(at + 20) = '.'
    pad(micros, 6, at + 21)
    b(at + 27) = '0'; b(at + 28) = '0'; b(at + 29) = '0'; b(at + 30) = 'Z'; b(at + 31) = '"'
    n = at + 32
  }

  /** A quoted JSON string from well-formed UTF-8 bytes, escaped as the
    * encoder's `escape` escapes its `String`. */
  def jsonString(u: UTF8String): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val len = u.numBytes
    byte('"')
    var i = 0
    while (i < len) {
      room(6)
      val b = Platform.getByte(base, off + i)
      if (b < 0 || (b >= 0x20 && b != '"' && b != '\\')) { buf(n) = b; n += 1 }
      else {
        buf(n) = '\\'
        val short =
          if (b == '"' || b == '\\') b
          else if (b == '\n') 'n'.toByte
          else if (b == '\r') 'r'.toByte
          else if (b == '\t') 't'.toByte
          else 0.toByte
        if (short != 0) { buf(n + 1) = short; n += 2 }
        else {
          buf(n + 1) = 'u'; buf(n + 2) = '0'; buf(n + 3) = '0'
          buf(n + 4) = ByteSink.Hex(b >> 4); buf(n + 5) = ByteSink.Hex(b & 0xf)
          n += 6
        }
      }
      i += 1
    }
    byte('"')
  }

  /** Hands the buffered bytes to `out`. */
  private def drain(): Unit = if (n > 0) { out.write(buf, 0, n); n = 0 }

  def flush(): Unit = { drain(); out.flush() }
}

private[encoders] object ByteSink {
  val Size: Int = 64 * 1024
  private val Hex: Array[Byte] = "0123456789abcdef".getBytes(UTF_8)
}
