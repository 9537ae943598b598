package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import graft.encoders.{ArrowEncoder, ResultEncoder}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/**
 * The encoders write Spark's internal rows straight to bytes. Their
 * JSON, NDJSON and Arrow output must be byte-for-byte what the earlier
 * encoders produced from deserialized `Row`s; [[RowPathEncoders]] is a
 * frozen copy of those encoders, and every case here compares the two
 * over one schema with every type and the edges of each fast writer.
 */
class EncoderGoldenSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  /** Column name and type, in source order: `time` is not first. */
  private val columns = Seq(
    "a_str" -> "STRING", "count_x" -> "BIGINT", "time" -> "BIGINT", "i64" -> "BIGINT",
    "i32" -> "INT", "i16" -> "SMALLINT", "f32" -> "FLOAT", "f64" -> "DOUBLE",
    "flag" -> "BOOLEAN", "dec" -> "DECIMAL(12,3)", "day" -> "DATE", "ts" -> "TIMESTAMP",
    "ntz" -> "TIMESTAMP_NTZ", "bin" -> "BINARY", "arr" -> "ARRAY<BIGINT>",
    "arr_s" -> "ARRAY<STRING>", "m" -> "MAP<STRING,INT>",
    "st" -> "STRUCT<x: INT, y: STRING>", "time_str" -> "STRING")

  /** One SQL expression per column for each row. */
  private val values: Seq[Seq[String]] = Seq(
    Seq("'plain'", "5", "1672531200000000123", "9223372036854775807", "2147483647", "32767",
      "1.5", "2.25", "true", "123.456", "DATE'2024-03-01'",
      "TIMESTAMP'2024-03-01 12:34:56.789012'", "TIMESTAMP_NTZ'2024-03-01 12:34:56'",
      "X'CAFE'", "array(1, NULL, 3)", "array('a', 'b')", "map('k', 1, 'l', NULL)",
      "named_struct('x', 1, 'y', 'z')", "'2024-03-01T00:00:00Z'"),
    Seq.fill(19)("NULL"),
    Seq("concat('ctl', chr(1), chr(8), chr(9), chr(10), chr(12), chr(13), chr(31), chr(34), " +
      "chr(92), chr(127), '/é日本😀')", "-1", "-1", "-9223372036854775808", "-2147483648", "-32768",
      "CAST('NaN' AS FLOAT)", "CAST('NaN' AS DOUBLE)", "false", "-0.001", "DATE'1500-01-01'",
      "TIMESTAMP'1500-06-01 00:00:00'", "TIMESTAMP_NTZ'1850-01-01 00:00:00'", "X''", "array()",
      "array(NULL, 'q\"', '')", "map()", "named_struct('x', NULL, 'y', NULL)", "'not a time'"),
    Seq("CAST(unhex('FF') AS STRING)", "0", "0", "0", "0", "0",
      "CAST('Infinity' AS FLOAT)", "CAST('Infinity' AS DOUBLE)", "true", "0", "DATE'1899-12-31'",
      "TIMESTAMP'1899-12-31 23:59:59.999999'", "TIMESTAMP_NTZ'1970-01-01 00:00:00.000001'",
      "X'00FF'", "array(0)", "array(CAST(unhex('C0AF') AS STRING))", "map('', 0)",
      "named_struct('x', 0, 'y', '')", "'2023-01-01 00:00:00'"),
    Seq("CAST(unhex('EDA080') AS STRING)", "7", "-1000", "42", "42", "42",
      "CAST('-Infinity' AS FLOAT)", "CAST('-Infinity' AS DOUBLE)", "false", "999999999.999",
      "DATE'9999-12-31'", "TIMESTAMP'1969-12-31 23:59:59.5'",
      "TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'", "X'61'", "array(7)", "array('x')",
      "map('a', 1)", "named_struct('x', 7, 'y', 'w')", "'2024'"),
    Seq("CAST(unhex('E282') AS STRING)", "9", "9", "9", "9", "9", "0.1", "-0.0", "true", "0.5",
      "DATE'1970-01-01'", "TIMESTAMP'1900-01-01 00:00:00'", "NULL", "NULL", "NULL", "NULL", "NULL",
      "NULL", "NULL"),
    Seq("'x'", "NULL", "1", "1", "1", "1", "1e30", "1e21", "false", "1", "DATE'2000-02-29'",
      "TIMESTAMP'9999-12-31 23:59:59.999999'", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL"),
    Seq("'y'", "NULL", "2", "2", "2", "2", "1e-7", "1e-7", "true", "2", "NULL",
      "timestamp_micros(253402300800000001)", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL"),
    Seq("'z'", "NULL", "3", "3", "3", "3", "3", "123456789.125", "true", "3", "NULL",
      "TIMESTAMP'1000-01-01 00:00:00.000001'", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL"))

  /** The rows as a local relation: collected from memory, no Spark job. */
  private lazy val local: DataFrame = {
    val cells = values.map(_.zip(columns).map { case (v, (_, t)) => s"CAST($v AS $t)" })
    val df = spark.sql(s"SELECT * FROM VALUES ${cells.map(_.mkString("(", ", ", ")")).mkString(", ")} " +
      s"AS t(${columns.map(_._1).mkString(", ")})")
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    df
  }

  /** The same rows read back from parquet: a scanned frame. */
  private lazy val scanned: DataFrame = {
    val dir = new java.io.File(tempDir("golden"), "rows").getAbsolutePath
    local.coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(!df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    df
  }

  /** 10,000 rows in 3 partitions: past the 64 KB buffer and over three
    * Arrow batches, with nulls, escapes and timestamps on both sides of
    * 1900 and of the epoch. */
  private lazy val large: DataFrame = spark.sql(
    """SELECT concat('r', id, chr(CAST(id % 40 AS INT)), '"') AS msg,
      |  IF(id % 11 = 0, NULL, id * 1000000000) AS time,
      |  id % 7 AS count_n,
      |  IF(id % 13 = 0, NULL, id / 7.0D) AS value,
      |  CAST(id AS INT) % 3 = 0 AS flag,
      |  timestamp_micros(id * 987654321013 - 3000000000000000) AS ts,
      |  CAST(id % 100 AS SHORT) AS small
      |FROM range(0, 10000, 1, 3)""".stripMargin)

  private def json(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ResultEncoder.writeJson(df, out)
    out.toByteArray
  }
  private def ndjson(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ResultEncoder.writeNdjson(df, out)
    out.toByteArray
  }
  private def arrow(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ArrowEncoder.writeStream(df, out)
    out.toByteArray
  }

  private def assertGolden(name: String, df: DataFrame): Unit = {
    val oldJson = RowPathEncoders.toJsonString(df)
    assert(json(df).sameElements(oldJson.getBytes(UTF_8)), s"$name: json")
    assert(ResultEncoder.toJsonString(df) == oldJson, s"$name: toJsonString")
    val oldNd = RowPathEncoders.toNdjsonString(df)
    assert(ndjson(df).sameElements(oldNd.getBytes(UTF_8)), s"$name: ndjson")
    assert(ResultEncoder.toNdjsonString(df) == oldNd, s"$name: toNdjsonString")
    // The Row path set a BINARY value into Arrow's Utf8 vector as the
    // array's identity string (`[B@1b2c3d`); the encoder sets the base64
    // text JSON writes. So the binary column is compared with that text
    // and every other column byte for byte.
    val noBinary = df.drop(df.schema.filter(_.dataType == BinaryType).map(_.name): _*)
    val oldArrow = new ByteArrayOutputStream()
    RowPathEncoders.writeArrow(noBinary, oldArrow)
    assert(arrow(noBinary).sameElements(oldArrow.toByteArray), s"$name: arrow")
    df.schema.filter(_.dataType == BinaryType).foreach { f =>
      val bin = df.select(f.name)
      val base64 = bin.collect().map(r =>
        Option(r.getAs[Array[Byte]](0)).map(java.util.Base64.getEncoder.encodeToString)).toSeq
      assert(arrowStrings(bin) == base64, s"$name: arrow ${f.name}")
    }
  }

  private def arrowStrings(df: DataFrame): Seq[Option[String]] = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(arrow(df)), alloc)
    try {
      val out = Seq.newBuilder[Option[String]]
      while (reader.loadNextBatch()) {
        val v = reader.getVectorSchemaRoot.getVector(0)
        (0 until v.getValueCount).foreach(i => out += Option(v.getObject(i)).map(_.toString))
      }
      out.result()
    } finally { reader.close(); alloc.close() }
  }

  test("every type matches the Row-path bytes: local relation") {
    assertGolden("local", local)
    // the edges are really in the output
    val out = RowPathEncoders.toJsonString(local)
    val u = "\\" + "u00"
    Seq(""""count_x":0""", """"f64":null""", """"i64":"-9223372036854775808"""",
      "ctl" + u + "01" + u + "08\\t\\n" + u + "0c\\r" + u + "1f\\\"\\\\\u007f/é日本😀", "1500-",
      "1899-12-31T23:59:59.999999000Z", "\ufffd").foreach(x => assert(out.contains(x), x))
  }

  test("every type matches the Row-path bytes: scanned frame") {
    assertGolden("scanned", scanned)
  }

  test("zero rows match the Row-path bytes") {
    assertGolden("local, no rows", local.limit(0))
    val none = scanned.where("i32 > 2147483646 AND i32 < 0")
    assert(!none.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    assertGolden("scanned, no rows", none)
    assert(new String(json(none), UTF_8) == """{"results":[]}""")
    assert(ndjson(none).isEmpty)
  }

  test("a binary nested in an array, map or struct is base64 in every format") {
    val df = spark.sql("SELECT * FROM VALUES " +
      "(1L, array(X'CAFE', NULL), map('k', X'CAFE'), named_struct('b', X'CAFE')), " +
      "(2L, array(), map('k', CAST(NULL AS BINARY)), named_struct('b', CAST(NULL AS BINARY))) " +
      "AS t(time, arr_b, map_b, st_b)")
    assert(df.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "array<binary>", "map<string,binary>", "struct<b:binary>"))
    val identity = "[B@".getBytes(UTF_8)
    Seq[(String, DataFrame => Array[Byte])]("json" -> json, "ndjson" -> ndjson, "arrow" -> arrow)
      .foreach { case (name, encode) =>
        val bytes = encode(df)
        assert(bytes.indexOfSlice(identity) < 0, s"$name: ${new String(bytes, UTF_8)}")
        assert(encode(df).sameElements(bytes), s"$name: two encodes differ")
      }
    // 0xCAFE is "yv4=" in base64; an array of binaries keeps the bytes
    // the Row path wrote
    assert(new String(json(df), UTF_8) == """{"results":[""" +
      """{"time":"1","arr_b":["yv4=",null],"map_b":"Map(k -> yv4=)","st_b":"[yv4=]"},""" +
      """{"time":"2","arr_b":[],"map_b":"Map(k -> null)","st_b":"[null]"}]}""")
    val arrays = df.select("arr_b")
    assert(ResultEncoder.toJsonString(arrays) == RowPathEncoders.toJsonString(arrays))
    Seq("arr_b", "map_b", "st_b").foreach { c =>
      val texts = arrowStrings(df.select(c))
      assert(texts.head.exists(_.contains("yv4=")), s"$c: $texts")
    }
  }

  test("a large result over several partitions and Arrow batches matches the Row-path bytes") {
    assert(json(large).length > 4 * 64 * 1024)
    assertGolden("large", large)
  }
}

/** The encoders as they were over deserialized `Row`s, frozen as the
  * reference for [[EncoderGoldenSpec]]. */
object RowPathEncoders {
  import java.time.ZoneOffset
  import java.time.format.DateTimeFormatter
  import org.apache.arrow.memory.RootAllocator
  import org.apache.arrow.vector._
  import org.apache.arrow.vector.ipc.ArrowStreamWriter
  import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
  import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}

  private val RFC3339NANO = DateTimeFormatter.ofPattern(
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX").withZone(ZoneOffset.UTC)

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
      if (field.name.toLowerCase.startsWith("count")) "0"
      else "null"
    case l: Long => "\"" + l + "\""
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

  private def rows(df: DataFrame): Iterator[Row] =
    df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => df.collect().iterator
      case _ => df.toLocalIterator().asScala
    }

  def toJsonString(df: DataFrame): String = {
    val cols = ResultEncoder.orderedColumns(df)
    val out = new StringBuilder("{\"results\":[")
    var first = true
    val it = rows(df)
    while (it.hasNext) {
      if (!first) out.append(",")
      out.append(encodeRow(it.next(), cols, df))
      first = false
    }
    out.append("]}").toString
  }

  def toNdjsonString(df: DataFrame): String = {
    val cols = ResultEncoder.orderedColumns(df)
    val out = new StringBuilder
    rows(df).foreach(r => out.append(encodeRow(r, cols, df)).append("\n"))
    out.toString
  }

  private val TIME_FORCED = Set("time", "time_str", "time_int")

  private def arrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case _ if TIME_FORCED(f.name.toLowerCase) =>
        new ArrowType.Timestamp(ArrowTimeUnit.NANOSECOND, "UTC")
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case BooleanType => ArrowType.Bool.INSTANCE
      case TimestampType | TimestampNTZType =>
        new ArrowType.Timestamp(ArrowTimeUnit.NANOSECOND, "UTC")
      case _ => ArrowType.Utf8.INSTANCE
    }
    new Field(f.name, FieldType.nullable(t), Nil.asJava)
  }

  def writeArrow(df: DataFrame, out: java.io.OutputStream, batchRows: Int = 4096): Unit = {
    val cols = ResultEncoder.orderedColumns(df)
    val schema = df.schema
    val fields = cols.map(c => schema(schema.fieldIndex(c)))
    val arrowSchema = new ArrowSchema(fields.map(arrowField).asJava)
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(arrowSchema, alloc)
    val writer = new ArrowStreamWriter(root, null, out)
    writer.start()
    try {
      val it = rows(df)
      val buf = new scala.collection.mutable.ArrayBuffer[Row](batchRows)
      while (it.hasNext) {
        buf += it.next()
        if (buf.size >= batchRows) { flush(buf, fields, schema, root, writer); buf.clear() }
      }
      if (buf.nonEmpty) flush(buf, fields, schema, root, writer)
    } finally {
      writer.end(); writer.close(); root.close(); alloc.close()
    }
  }

  private def flush(rows: scala.collection.Seq[Row], fields: Seq[StructField], schema: StructType,
                    root: VectorSchemaRoot, writer: ArrowStreamWriter): Unit = {
    root.allocateNew()
    fields.zipWithIndex.foreach { case (f, ci) =>
      val srcIdx = schema.fieldIndex(f.name)
      val vec = root.getVector(ci)
      rows.zipWithIndex.foreach { case (row, ri) =>
        if (row.isNullAt(srcIdx)) vec.asInstanceOf[FieldVector].setNull(ri)
        else (vec, row.get(srcIdx)) match {
          case (v: TimeStampNanoTZVector, x: Long) => v.setSafe(ri, x)
          case (v: TimeStampNanoTZVector, x: java.sql.Timestamp) =>
            v.setSafe(ri, x.toInstant.getEpochSecond * 1000000000L + x.toInstant.getNano)
          case (v: TimeStampNanoTZVector, x: java.time.Instant) =>
            v.setSafe(ri, x.getEpochSecond * 1000000000L + x.getNano)
          case (v: TimeStampNanoTZVector, x) =>
            v.setSafe(ri, graft.TimeRangeExtract.parseTimeLiteral(x.toString).getOrElse(0L))
          case (v: BigIntVector, x: Long) => v.setSafe(ri, x)
          case (v: IntVector, x: Int) => v.setSafe(ri, x)
          case (v: Float8Vector, x: Double) => v.setSafe(ri, x)
          case (v: Float4Vector, x: Float) => v.setSafe(ri, x)
          case (v: BitVector, x: Boolean) => v.setSafe(ri, if (x) 1 else 0)
          case (v: VarCharVector, x) => v.setSafe(ri, x.toString.getBytes(UTF_8))
          case (v, x) => throw new IllegalStateException(
            s"unsupported arrow encoding ${v.getClass.getSimpleName} <- ${x.getClass}")
        }
      }
    }
    root.setRowCount(rows.size)
    writer.writeBatch()
  }
}
