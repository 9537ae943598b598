package perfbench

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.DataFrame

/** What a response is checked on: its row count, an order-independent
  * checksum of its rows, and (for exact answers) the rows themselves.
  * Every format is reduced to the same canonical row text, so a JSON,
  * NDJSON or Arrow answer compares against the reference run's rows. */
final case class Digest(rows: Long, checksum: Long, sortedRows: Option[Vector[String]]) {
  def matches(expected: Digest): Boolean =
    rows == expected.rows && checksum == expected.checksum &&
      (sortedRows.isEmpty || expected.sortedRows.isEmpty || sortedRows == expected.sortedRows)
}

object Answers {

  /** Canonical text of one value: integers in decimal, doubles as Java
    * prints them, timestamps as epoch nanoseconds in decimal (Arrow sends
    * them so), strings as-is, SQL NULL as `null`. */
  def canon(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => epochNs(t.toInstant).toString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Double.toString(f.toDouble)
    case other => other.toString
  }

  /** A row as `name=value` pairs in column-name order. */
  def canonRow(cells: Seq[(String, String)]): String =
    cells.sortBy(_._1).map { case (k, v) => k + "=" + v }.mkString("\u0001")

  /** 64-bit FNV-1a of the row text. */
  def rowHash(row: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < row.length) {
      val c = row.charAt(i)
      h = (h ^ (c & 0xff)) * 0x100000001b3L
      h = (h ^ (c >>> 8)) * 0x100000001b3L
      i += 1
    }
    h
  }

  final class Builder(keepRows: Boolean) {
    private var n = 0L
    private var sum = 0L
    private val kept = Vector.newBuilder[String]
    def add(row: String): Unit = {
      n += 1; sum += rowHash(row)
      if (keepRows) kept += row
    }
    def result: Digest = Digest(n, sum, if (keepRows) Some(kept.result().sorted) else None)
  }

  private val json = new JsonFactory()

  private def epochNs(i: java.time.Instant): Long = i.getEpochSecond * 1000000000L + i.getNano

  private val Rfc3339 = "\\d{4}-\\d\\d-\\d\\dT\\d\\d:\\d\\d:\\d\\d(\\.\\d+)?(Z|[+-]\\d\\d:\\d\\d)".r

  /** A JSON string: an RFC 3339 timestamp (how the JSON encoders spell
    * one) as its epoch nanoseconds, anything else as its text. */
  def canonString(s: String): String = s match {
    case Rfc3339(_*) => epochNs(java.time.OffsetDateTime.parse(s).toInstant).toString
    case _ => s
  }

  /** `{"results":[{…},…]}` (rows at object depth 2) or NDJSON (one
    * object per line, depth 1). Numbers keep their JSON spelling class:
    * integers as decimal, fractions re-printed as Java doubles; strings
    * (int64 included, which the encoder quotes) are taken as their text,
    * except timestamps (`canonString`). */
  def fromJson(body: Array[Byte], rowDepth: Int, keepRows: Boolean): Digest = {
    val b = new Builder(keepRows)
    val p = json.createParser(body)
    try {
      var depth = 0
      var cells = Vector.empty[(String, String)]
      var field: String = null
      var t = p.nextToken()
      while (t != null) {
        t match {
          case JsonToken.START_OBJECT =>
            depth += 1
            if (depth == rowDepth) cells = Vector.empty
          case JsonToken.END_OBJECT =>
            if (depth == rowDepth) b.add(canonRow(cells))
            depth -= 1
          case JsonToken.FIELD_NAME => field = p.currentName
          case JsonToken.VALUE_NUMBER_FLOAT => cells :+= field -> canon(p.getDoubleValue)
          case JsonToken.VALUE_NULL => cells :+= field -> "null"
          case JsonToken.VALUE_STRING => cells :+= field -> canonString(p.getText)
          case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE =>
            cells :+= field -> p.getText
          case _ => ()
        }
        t = p.nextToken()
      }
    } finally p.close()
    b.result
  }

  /** An Arrow IPC stream. */
  def fromArrow(body: Array[Byte], keepRows: Boolean): Digest = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import scala.jdk.CollectionConverters._
    val b = new Builder(keepRows)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(body), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val vectors = root.getFieldVectors.asScala.toVector
      while (reader.loadNextBatch()) {
        var i = 0
        while (i < root.getRowCount) {
          b.add(canonRow(vectors.map(v => v.getName -> canon(v.getObject(i)))))
          i += 1
        }
      }
    } finally { reader.close(); alloc.close() }
    b.result
  }

  /** The reference answer: rows of a Spark DataFrame. */
  def fromDataFrame(df: DataFrame, keepRows: Boolean): Digest = {
    val names = df.columns.toVector
    val b = new Builder(keepRows)
    df.collect().foreach { r =>
      b.add(canonRow(names.indices.map(i => names(i) -> canon(r.get(i)))))
    }
    b.result
  }

  def fromResponse(format: String, body: Array[Byte], keepRows: Boolean): Digest =
    format match {
      case "arrow" => fromArrow(body, keepRows)
      case "ndjson" => fromJson(body, rowDepth = 1, keepRows)
      case _ => fromJson(body, rowDepth = 2, keepRows)
    }
}
