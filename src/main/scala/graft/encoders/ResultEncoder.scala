package graft.encoders

import java.io.Writer
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

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
 * Streaming: rows are pulled via toLocalIterator — bounded driver
 * memory even for large results (an improvement over the reference's
 * fully-materialized `[]map[string]any`). A local relation (metadata
 * answers, SHOW) already holds its rows in memory and is collected
 * instead: `toLocalIterator` would run a Spark job to hand back the
 * same rows.
 */
object ResultEncoder {
  private val RFC3339NANO = DateTimeFormatter.ofPattern(
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX").withZone(ZoneOffset.UTC)

  /** time first, rest alphabetical (reference flightsql.go:313-324). */
  def orderedColumns(df: DataFrame): Seq[String] = {
    val names = df.schema.fieldNames.toSeq
    val (time, rest) = names.partition(_.equalsIgnoreCase("time"))
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
    case b: Array[Byte] => "\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
    case s: scala.collection.Seq[_] =>
      s.map(x => encodeValue(x, field)).mkString("[", ",", "]")
    case other => "\"" + escape(other.toString) + "\""
  }

  private def encodeRow(row: Row, cols: Seq[String], df: DataFrame): String = {
    val schema = df.schema
    cols.map { c =>
      val idx = schema.fieldIndex(c)
      "\"" + escape(c) + "\":" + encodeValue(row.get(idx), schema(idx))
    }.mkString("{", ",", "}")
  }

  /** The frame's rows: a local relation's straight from memory
    * (collecting a `LocalTableScanExec` runs no Spark job), any other
    * frame's streamed through `toLocalIterator`. */
  private[encoders] def rows(df: DataFrame): Iterator[Row] =
    df.queryExecution.executedPlan match {
      case _: org.apache.spark.sql.execution.LocalTableScanExec => df.collect().iterator
      case _ => df.toLocalIterator().asScala
    }

  /** `{"results":[…]}` (reference JsonFormatter shape). */
  def writeJson(df: DataFrame, out: Writer): Unit = {
    val cols = orderedColumns(df)
    out.write("{\"results\":[")
    var first = true
    val it = rows(df)
    while (it.hasNext) {
      if (!first) out.write(",")
      out.write(encodeRow(it.next(), cols, df))
      first = false
    }
    out.write("]}")
  }

  /** One JSON object per line (reference NDJsonFormatter). */
  def writeNdjson(df: DataFrame, out: Writer): Unit = {
    val cols = orderedColumns(df)
    val it = rows(df)
    while (it.hasNext) {
      out.write(encodeRow(it.next(), cols, df))
      out.write("\n")
    }
  }

  def toJsonString(df: DataFrame): String = {
    val sw = new java.io.StringWriter()
    writeJson(df, sw)
    sw.toString
  }

  def toNdjsonString(df: DataFrame): String = {
    val sw = new java.io.StringWriter()
    writeNdjson(df, sw)
    sw.toString
  }
}
