package graft.encoders

import java.io.OutputStream
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/**
 * Arrow IPC stream encoding of query results — the reference's
 * FlightSQL data plane contract (/root/reference/querier/flightsql.go:307-455)
 * without the gRPC transport (no flight/grpc jars ship with this
 * Spark distribution; the stream format is the same bytes a Flight
 * DoGet would carry, so a transport can be bolted on later).
 *
 * Contract reproduced:
 *  - column order: `time` first, remaining alphabetical (:313-324);
 *  - `time`/`time_str`/`time_int` columns are forced to
 *    Timestamp(NANOSECOND, "UTC") regardless of stored type (:430-432)
 *    — int64 values are interpreted as epoch-ns, timestamps upscaled;
 *  - schema comes from Spark's resolved schema, not per-row value
 *    inference — a documented improvement over the reference's
 *    first-non-nil-value guessing (:428-455);
 *  - results stream in batches of `batchRows`, unlike the reference's
 *    single fully-materialized Record (:157-169).
 *
 * Rows come from [[ResultEncoder.internalRows]], so a batch is written
 * to `out` before the next partition runs. Each column's setter is
 * chosen once: int64, int, double, float, boolean, well-formed UTF-8
 * strings and timestamps from 1900 to 9999 go straight from the row
 * into the typed vector; any other value is converted by
 * [[ResultEncoder.toExternal]] and set as the `Row` path set it, so the
 * IPC bytes are that path's for every type without a binary in it, and
 * a binary, top-level or nested, is the base64 text JSON writes.
 */
object ArrowEncoder {
  private val TIME_FORCED = Set(graft.CatalogBackend.TimeCol, "time_str", "time_int")

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
      case _ => ArrowType.Utf8.INSTANCE // strings + degraded complex types (§1.3)
    }
    new Field(f.name, FieldType.nullable(t), Nil.asJava)
  }

  /** Sets one non-null value of a column from an internal row. */
  private trait Setter { def apply(row: InternalRow, ri: Int): Unit }

  /** An external value into its vector, as the `Row` path set it. */
  private def setExternal(vec: FieldVector, ri: Int, x: Any): Unit = (vec, x) match {
    case (v: TimeStampNanoTZVector, x: Long) => v.setSafe(ri, x) // already ns
    case (v: TimeStampNanoTZVector, x: java.sql.Timestamp) =>
      v.setSafe(ri, x.toInstant.getEpochSecond * 1000000000L + x.toInstant.getNano)
    case (v: TimeStampNanoTZVector, x: java.time.Instant) =>
      v.setSafe(ri, x.getEpochSecond * 1000000000L + x.getNano)
    case (v: TimeStampNanoTZVector, x) => // forced time col, odd type
      v.setSafe(ri, graft.TimeRangeExtract.parseTimeLiteral(x.toString).getOrElse(0L))
    case (v: BigIntVector, x: Long) => v.setSafe(ri, x)
    case (v: IntVector, x: Int) => v.setSafe(ri, x)
    case (v: Float8Vector, x: Double) => v.setSafe(ri, x)
    case (v: Float4Vector, x: Float) => v.setSafe(ri, x)
    case (v: BitVector, x: Boolean) => v.setSafe(ri, if (x) 1 else 0)
    case (v: VarCharVector, x) =>
      v.setSafe(ri, x.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (v, x) => throw new IllegalStateException(
      s"unsupported arrow encoding ${v.getClass.getSimpleName} <- ${x.getClass}")
  }

  private def setter(f: StructField, src: Int, vec: FieldVector): Setter = {
    val external = ResultEncoder.toExternal(f.dataType)
    val slow: Setter = (r, ri) => setExternal(vec, ri, external(r.get(src, f.dataType)))
    (vec, f.dataType) match {
      case (v: TimeStampNanoTZVector, LongType) => (r, ri) => v.setSafe(ri, r.getLong(src))
      case (v: TimeStampNanoTZVector, TimestampType) => (r, ri) => {
        val us = r.getLong(src)
        if (ResultEncoder.fastMicros(us)) v.setSafe(ri, us * 1000L) else slow(r, ri)
      }
      case (v: BigIntVector, LongType) => (r, ri) => v.setSafe(ri, r.getLong(src))
      case (v: IntVector, IntegerType) => (r, ri) => v.setSafe(ri, r.getInt(src))
      case (v: Float8Vector, DoubleType) => (r, ri) => v.setSafe(ri, r.getDouble(src))
      case (v: Float4Vector, FloatType) => (r, ri) => v.setSafe(ri, r.getFloat(src))
      case (v: BitVector, BooleanType) => (r, ri) => v.setSafe(ri, if (r.getBoolean(src)) 1 else 0)
      case (v: VarCharVector, _: StringType) => (r, ri) => {
        val u = r.getUTF8String(src)
        if (ResultEncoder.wellFormed(u)) v.setSafe(ri, u.getBytes) else slow(r, ri)
      }
      case _ => slow
    }
  }

  /** Write `df` as an Arrow IPC stream with the reference contract;
    * `out` is flushed, not closed. */
  def writeStream(df: DataFrame, out: OutputStream, batchRows: Int = 4096): Unit = {
    val cols = ResultEncoder.orderedColumns(df)
    val schema = df.schema
    val src = cols.map(schema.fieldIndex).toArray
    val fields = src.map(schema(_))
    val arrowSchema = new ArrowSchema(fields.toSeq.map(arrowField).asJava)
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(arrowSchema, alloc)
    try {
      val vecs = fields.indices.map(c => root.getVector(c)).toArray
      val sets = fields.indices.map(c => setter(fields(c), src(c), vecs(c))).toArray
      val writer = new ArrowStreamWriter(root, null, out)
      writer.start()
      val it = ResultEncoder.internalRows(df)
      var ri = 0
      while (it.hasNext) {
        val row = it.next()
        if (ri == 0) root.allocateNew()
        var c = 0
        while (c < vecs.length) {
          if (row.isNullAt(src(c))) vecs(c).setNull(ri) else sets(c)(row, ri)
          c += 1
        }
        ri += 1
        if (ri == batchRows) { root.setRowCount(ri); writer.writeBatch(); ri = 0 }
      }
      if (ri > 0) { root.setRowCount(ri); writer.writeBatch() }
      writer.end()
      out.flush()
    } finally { root.close(); alloc.close() }
  }
}
