package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused md5-draw kernels — the codegen'd forms of the engine-
 * independent draw chains that previously rode the composable
 * `md5 → substring → conv/ltrim/length` hex-string pipeline.
 *
 * The composable spelling pays, per draw: a MessageDigest instance
 * from commons-codec (allocated per call), a 32-char hex-string
 * materialization, a substring slice, and a base-16 string parse
 * (`conv`) — all to read a few leading BITS of the digest. The
 * resampling family evaluates that chain B+1 ≈ 200× per input row
 * (qDF/qDH) and the sketch family once per shingle (qEB/qED), so
 * the hex plumbing IS the workload there (guide §1.2 step 2 /
 * §2.3 "narrower types": the draw value was always 40 bits).
 *
 * Exactness contract: each kernel reads the SAME md5 digest bytes
 * the hex pipeline rendered and extracts the identical value by bit
 * arithmetic, so every draw is bit-identical to the composable
 * spelling (pinned in HashExprsSpec against the original column
 * chains) and the DuckDB oracles — which replay the hex pipeline in
 * SQL — keep matching byte-for-byte. The digest instance is
 * per-thread (ThreadLocal), never per call.
 */
object HashExprs {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def md5Bytes(s: UTF8String): Array[Byte] = {
    val md = digests.get()
    md.reset()
    md.digest(s.getBytes)
  }

  /** Hex nibble `i` (0-based) of the digest — the character
    * `substring(md5hex, i+1, 1)` renders. */
  @inline private def nibble(d: Array[Byte], i: Int): Int = {
    val b = d(i >> 1) & 0xff
    if ((i & 1) == 0) b >>> 4 else b & 0xf
  }

  /** ≡ `conv(substring(md5(s), 1, 10), 16, 10).cast("long")` — the
    * [[graft.operators.Sampling.hash40]] 40-bit uniform draw: the
    * first 5 digest bytes, big-endian, as a non-negative long. */
  def md5Prefix40(s: UTF8String): Long = {
    val d = md5Bytes(s)
    ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
      ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
  }

  /** ≡ [[graft.operators.Sketches.drawFrame]]'s (j, rho) pair from
    * one digest: j = the first p/4 hex chars as a long (register
    * index), rho = the HLL rank of the NEXT 10 hex chars — with z
    * leading zero nibbles and first nonzero nibble v, rho = 4z +
    * czeros(v) + 1 (czeros = leading zero bits inside the nibble),
    * or 41 when all 10 nibbles are zero (the ltrim-to-empty
    * branch). Packed `j * 64 + rho` into one long — rho ≤ 41 < 64,
    * j < 2^p ≤ 2^16, so the pack is exact and the two consumers
    * unpack with one shift/mask each off a single digest. */
  def hllJRhoPacked(s: UTF8String, p: Int): Long = {
    val d = md5Bytes(s)
    val nj = p / 4
    var j = 0L
    var i = 0
    while (i < nj) { j = (j << 4) | nibble(d, i); i += 1 }
    var z = 0
    var v1 = 0
    var k = nj
    while (k < nj + 10 && { v1 = nibble(d, k); v1 == 0 }) { z += 1; k += 1 }
    val rho =
      if (z == 10) 41
      else {
        val cz = if (v1 >= 8) 0 else if (v1 >= 4) 1 else if (v1 >= 2) 2 else 3
        4 * z + cz + 1
      }
    j * 64L + rho
  }

  /** ≡ the [[graft.operators.Preference.pairedBootstrapCi]] drawn
    * frame for one input row: the (r, w) pairs for r ∈ [-1, b) with
    * w(−1) = 1 (the point-estimate pseudo-resample) and w(r) = the
    * Poisson(1) inverse-CDF of `md5Prefix40("<id> <r> <salt>")`,
    * thresholds = PoissonThresholds40. One kernel call replaces the
    * `explode(sequence(−1, b−1))` + per-row concat/md5/conv chain:
    * the id's decimal prefix bytes render ONCE and only the
    * suffix re-renders per resample. Returned as packed longs
    * `(r+2) * 16 + w` (w ≤ 8 < 16; the +2 keeps the pack
    * non-negative at r = −1) — exact, one shift/mask each. */
  def poissonResamples(id: UTF8String, salt: UTF8String, b: Int,
                       thresholds: Array[Long]): ArrayData = {
    val md = digests.get()
    val idB = id.getBytes
    val saltB = salt.getBytes
    val out = new Array[Long](b + 1)
    out(0) = 17L // r = -1, w = 1: (r+2)*16 + w = 17
    // buffer: "<id> <r> <salt>" — r ≤ 9999 is 4 digits
    val buf = new Array[Byte](idB.length + 1 + 11 + 1 + saltB.length)
    System.arraycopy(idB, 0, buf, 0, idB.length)
    buf(idB.length) = ' '
    var r = 0
    while (r < b) {
      var pos = idB.length + 1
      if (r == 0) { buf(pos) = '0'; pos += 1 }
      else {
        var div = 1
        while (div <= r / 10) div *= 10
        var rest = r
        while (div > 0) {
          buf(pos) = ('0' + rest / div).toByte
          rest %= div; div /= 10; pos += 1
        }
      }
      buf(pos) = ' '; pos += 1
      System.arraycopy(saltB, 0, buf, pos, saltB.length)
      pos += saltB.length
      md.reset()
      md.update(buf, 0, pos)
      val d = md.digest()
      val u = ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
      var w = 8L
      var k = 0
      while (k < thresholds.length && w == 8L) {
        if (u < thresholds(k)) w = k.toLong
        k += 1
      }
      out(r + 1) = (r + 2L) * 16L + w
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ≡ the [[graft.operators.Preference.permutationTest]] sign draw
    * for one input row: packed longs `(r+2) * 2 + (u % 2)` for
    * r ∈ [-1, p) where u = `md5Prefix40("<id> <r> <salt>")` and the
    * r = −1 pseudo-permutation draws parity 0 (sign +1, the observed
    * statistic). The consumer's sign is `1 − 2·(packed & 1)`. Same
    * buffer-reuse shape as [[poissonResamples]]. */
  def signResamples(id: UTF8String, salt: UTF8String, p: Int): ArrayData = {
    val md = digests.get()
    val idB = id.getBytes
    val saltB = salt.getBytes
    val out = new Array[Long](p + 1)
    out(0) = 2L // r = -1: parity 0 -> sign +1
    val buf = new Array[Byte](idB.length + 1 + 11 + 1 + saltB.length)
    System.arraycopy(idB, 0, buf, 0, idB.length)
    buf(idB.length) = ' '
    var r = 0
    while (r < p) {
      var pos = idB.length + 1
      if (r == 0) { buf(pos) = '0'; pos += 1 }
      else {
        var div = 1
        while (div <= r / 10) div *= 10
        var rest = r
        while (div > 0) {
          buf(pos) = ('0' + rest / div).toByte
          rest %= div; div /= 10; pos += 1
        }
      }
      buf(pos) = ' '; pos += 1
      System.arraycopy(saltB, 0, buf, pos, saltB.length)
      pos += saltB.length
      md.reset()
      md.update(buf, 0, pos)
      val d = md.digest()
      out(r + 1) = (r + 2L) * 2L + (d(4) & 1L)
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ≡ `unhex(md5(s))` — the raw 16 digest bytes, skipping the
    * hex render + re-parse. BinaryType's unsigned byte-wise order is
    * EXACTLY the lexicographic order of the lowercase-hex rendering
    * (each hex char '0'…'9','a'…'f' is ASCII-monotone in its nibble
    * value, and both compare position by position), so sorting or
    * range-partitioning by this column is order-identical to sorting
    * by [[graft.operators.Sampling.rankKey]]'s hex string at half
    * the key bytes — pinned in Round20OptSpec. */
  def md5DigestBytes(s: UTF8String): Array[Byte] = md5Bytes(s)

  def md5_bytes(c: Column): Column =
    ColumnBridge.column(Md5Bytes(ColumnBridge.expression(c)))

  def md5_prefix40(c: Column): Column =
    ColumnBridge.column(Md5Prefix40(ColumnBridge.expression(c)))

  def hll_jrho_packed(c: Column, p: Int): Column =
    ColumnBridge.column(HllJRhoPacked(ColumnBridge.expression(c), p))

  def poisson_resamples(id: Column, salt: String, b: Int,
                        thresholds: Seq[Long]): Column =
    ColumnBridge.column(PoissonResamples(ColumnBridge.expression(id),
      salt, b, thresholds))

  def sign_resamples(id: Column, salt: String, p: Int): Column =
    ColumnBridge.column(SignResamples(ColumnBridge.expression(id), salt, p))
}

/** See [[HashExprs.md5DigestBytes]]. */
case class Md5Bytes(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    HashExprs.md5DigestBytes(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashExprs.md5DigestBytes($c)")
  override protected def withNewChildInternal(c: Expression): Md5Bytes =
    copy(child = c)
  override def prettyName: String = "md5_bytes"
}

/** See [[HashExprs.md5Prefix40]]. */
case class Md5Prefix40(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashExprs.md5Prefix40(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashExprs.md5Prefix40($c)")
  override protected def withNewChildInternal(c: Expression): Md5Prefix40 =
    copy(child = c)
  override def prettyName: String = "md5_prefix40"
}

/** See [[HashExprs.hllJRhoPacked]]. */
case class HllJRhoPacked(child: Expression, p: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(Set(4, 8, 12, 16)(p), s"p must be in {4, 8, 12, 16}, got $p")
  override def inputTypes: Seq[ColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashExprs.hllJRhoPacked(v.asInstanceOf[UTF8String], p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashExprs.hllJRhoPacked($c, $p)")
  override protected def withNewChildInternal(c: Expression): HllJRhoPacked =
    copy(child = c)
  override def prettyName: String = "hll_jrho_packed"
}

/** See [[HashExprs.poissonResamples]]. `thresholds` is a Seq (not a
  * raw Array) for case-class VALUE equality — the [[LshSignatures]]
  * CSE note. */
case class PoissonResamples(child: Expression, salt: String, b: Int,
                            thresholds: Seq[Long]) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(b >= 1 && b <= 10000, s"b must be in [1, 10000], got $b")
  override def inputTypes: Seq[ColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val thrArr: Array[Long] = thresholds.toArray
  @transient private lazy val saltU: UTF8String = UTF8String.fromString(salt)
  override def nullSafeEval(v: Any): Any =
    HashExprs.poissonResamples(v.asInstanceOf[UTF8String], saltU, b, thrArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thrRef = ctx.addReferenceObj("poissonThr", thrArr, "long[]")
    val saltRef = ctx.addReferenceObj("poissonSalt", saltU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashExprs.poissonResamples($c, $saltRef, $b, $thrRef)")
  }
  override protected def withNewChildInternal(c: Expression): PoissonResamples =
    copy(child = c)
  override def prettyName: String = "poisson_resamples"
}

/** See [[HashExprs.signResamples]]. */
case class SignResamples(child: Expression, salt: String, p: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(p >= 1 && p <= 10000, s"p must be in [1, 10000], got $p")
  override def inputTypes: Seq[ColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val saltU: UTF8String = UTF8String.fromString(salt)
  override def nullSafeEval(v: Any): Any =
    HashExprs.signResamples(v.asInstanceOf[UTF8String], saltU, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("signSalt", saltU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashExprs.signResamples($c, $saltRef, $p)")
  }
  override protected def withNewChildInternal(c: Expression): SignResamples =
    copy(child = c)
  override def prettyName: String = "sign_resamples"
}
