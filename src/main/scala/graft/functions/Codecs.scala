package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Time-series compression codecs — the transform half of the reference
  * store's per-column `CODEC(...)` declarations
  * (/root/reference/trace-converter.py:86 declares `CODEC(Delta, ZSTD)`
  * for Severity; README.md:119-130 shows the CODEC column in the target
  * DDL). The general-purpose entropy stage (ZSTD/LZ4) is the file
  * format's job — parquet already applies it per page — but the
  * TRANSFORM stage (Delta, DoubleDelta, Gorilla) is what makes
  * monotone ids, timestamps and slowly-moving gauges compressible, and a
  * native engine needs it wherever data leaves parquet: wire-format
  * blocks, cold-tier archives, shuffle-side packing of series columns.
  *
  * All three are public-domain schemes implemented from their published
  * descriptions:
  *  - Delta: zigzag + unsigned-LEB128 varint of successive differences
  *    (protobuf wire-format primitives; ClickHouse `CODEC(Delta)`).
  *  - DoubleDelta: varint of the delta-of-delta — timestamps on a fixed
  *    cadence collapse to one byte per value (Pelkonen et al., "Gorilla:
  *    A Fast, Scalable, In-Memory Time Series Database", VLDB 2015 §4.1.1;
  *    ClickHouse `CODEC(DoubleDelta)`). This implementation varint-codes
  *    the residual instead of the paper's five fixed bit-windows — same
  *    asymptotics, simpler frame.
  *  - Gorilla XOR float codec: each double XORed with its predecessor;
  *    zero XOR = 1 bit, a repeat of the previous leading/trailing-zero
  *    window = 2 control bits + meaningful bits, else 2 control bits +
  *    6-bit leading-zero count + 6-bit length + meaningful bits
  *    (VLDB 2015 §4.1.2, with 6/6 header bits instead of the paper's 5/6
  *    so a full 64-bit window is representable without the 32-cap).
  *
  * Encoding is LOSSLESS BY CONSTRUCTION, including under 64-bit overflow
  * (Long arithmetic wraps symmetrically on encode and decode) and for
  * every double bit pattern (the XOR path moves raw bits — NaN payloads,
  * ±0.0 and infinities round-trip exactly).
  *
  * Scale design: codecs are BLOCK operators. Callers encode bounded
  * blocks (the store's granule size, ≤ 8192 values) produced by
  * `mapPartitions` over sorted-within-partition data — never a
  * per-unbounded-group `collect_list`, so executor memory per block is
  * constant regardless of corpus size. The Catalyst expressions below
  * run the decode kernels codegen'd over encoded block columns already
  * in the plan.
  */
object CodecKernels {

  // ------------------------------------------------------------ primitives

  @inline private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  private final class ByteW(hint: Int) {
    private var a = new Array[Byte](math.max(hint, 16))
    private var n = 0
    @inline private def ensure(k: Int): Unit =
      if (n + k > a.length) a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + k))
    def byte(b: Int): Unit = { ensure(1); a(n) = b.toByte; n += 1 }
    def varint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0L) { a(n) = ((v & 0x7f) | 0x80).toByte; n += 1; v >>>= 7 }
      a(n) = (v & 0x7f).toByte; n += 1
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(a, n)
    def size: Int = n
  }

  private final class ByteR(val b: Array[Byte]) {
    var p = 0
    def varint(): Long = {
      var shift = 0; var r = 0L; var x = 0L
      do { x = b(p) & 0xffL; p += 1; r |= (x & 0x7f) << shift; shift += 7 } while ((x & 0x80) != 0)
      r
    }
  }

  /** MSB-first bit writer over a growable byte array. */
  private final class BitW(hint: Int) {
    private var a = new Array[Byte](math.max(hint, 16))
    private var nbytes = 0
    private var cur = 0
    private var used = 0 // bits used in cur
    @inline private def flushByte(): Unit = {
      if (nbytes == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(nbytes) = cur.toByte; nbytes += 1; cur = 0; used = 0
    }
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1); used += 1
      if (used == 8) flushByte()
    }
    /** Write the low `n` bits of `v`, MSB first. */
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def result(): Array[Byte] = {
      if (used > 0) { cur <<= (8 - used); flushByte() } // pad tail with zeros
      java.util.Arrays.copyOf(a, nbytes)
    }
  }

  private final class BitR(b: Array[Byte], var p: Int) {
    private var used = 0
    def bit(): Int = {
      val v = (b(p) >>> (7 - used)) & 1
      used += 1
      if (used == 8) { used = 0; p += 1 }
      v
    }
    def bits(n: Int): Long = {
      var r = 0L; var i = 0
      while (i < n) { r = (r << 1) | bit(); i += 1 }
      r
    }
  }

  // ------------------------------------------------------------ Delta

  /** varint n, then zigzag-varint of v[i] − v[i−1] (v[−1] = 0, the
    * ClickHouse Delta convention — the first value rides as its own
    * delta). */
  def deltaEncodeLongs(vals: Array[Long]): Array[Byte] = {
    val out = new ByteW(vals.length + 8)
    out.varint(vals.length.toLong)
    var prev = 0L
    var i = 0
    while (i < vals.length) {
      out.varint(zigzag(vals(i) - prev)); prev = vals(i); i += 1
    }
    out.result()
  }

  def deltaDecodeLongs(bytes: Array[Byte]): Array[Long] = {
    val in = new ByteR(bytes)
    val n = in.varint().toInt
    val r = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) { prev += unzigzag(in.varint()); r(i) = prev; i += 1 }
    r
  }

  // ------------------------------------------------------------ DoubleDelta

  /** varint n, then zigzag-varint of (d[i] − d[i−1]) where d[i] = v[i] −
    * v[i−1] (v[−1] = 0, d[−1] = 0). A fixed-cadence timestamp column
    * degenerates to one byte per value after the first two. */
  def ddEncodeLongs(vals: Array[Long]): Array[Byte] = {
    val out = new ByteW(vals.length + 8)
    out.varint(vals.length.toLong)
    var prev = 0L
    var prevDelta = 0L
    var i = 0
    while (i < vals.length) {
      val d = vals(i) - prev
      out.varint(zigzag(d - prevDelta))
      prevDelta = d; prev = vals(i); i += 1
    }
    out.result()
  }

  def ddDecodeLongs(bytes: Array[Byte]): Array[Long] = {
    val in = new ByteR(bytes)
    val n = in.varint().toInt
    val r = new Array[Long](n)
    var prev = 0L
    var prevDelta = 0L
    var i = 0
    while (i < n) {
      prevDelta += unzigzag(in.varint()); prev += prevDelta; r(i) = prev; i += 1
    }
    r
  }

  // ------------------------------------------------------------ Gorilla XOR

  /** varint n, raw 64 bits of v[0], then per value the VLDB'15 §4.1.2
    * control scheme over xor = bits(v[i]) ^ bits(v[i−1]). */
  def gorillaEncodeDoubles(vals: Array[Double]): Array[Byte] = {
    val head = new ByteW(10)
    head.varint(vals.length.toLong)
    if (vals.length == 0) return head.result()
    val bw = new BitW(vals.length + 16)
    var prev = java.lang.Double.doubleToRawLongBits(vals(0))
    bw.bits(prev, 64)
    var winLead = 65 // out of range: first nonzero xor forces a fresh window
    var winTrail = 0
    var i = 1
    while (i < vals.length) {
      val raw = java.lang.Double.doubleToRawLongBits(vals(i))
      val xor = raw ^ prev
      if (xor == 0L) bw.bit(0)
      else {
        bw.bit(1)
        val lead = java.lang.Long.numberOfLeadingZeros(xor)
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        if (lead >= winLead && trail >= winTrail) {
          bw.bit(0)
          bw.bits(xor >>> winTrail, 64 - winLead - winTrail)
        } else {
          bw.bit(1)
          val l = math.min(lead, 63) // 6-bit header; lead==64 impossible (xor≠0)
          val len = 64 - l - trail
          bw.bits(l.toLong, 6)
          bw.bits((len - 1).toLong, 6)
          bw.bits(xor >>> trail, len)
          winLead = l; winTrail = trail
        }
      }
      prev = raw; i += 1
    }
    val headBytes = head.result()
    val body = bw.result()
    val out = java.util.Arrays.copyOf(headBytes, headBytes.length + body.length)
    System.arraycopy(body, 0, out, headBytes.length, body.length)
    out
  }

  def gorillaDecodeDoubles(bytes: Array[Byte]): Array[Double] = {
    val in = new ByteR(bytes)
    val n = in.varint().toInt
    val r = new Array[Double](n)
    if (n == 0) return r
    val br = new BitR(bytes, in.p)
    var prev = br.bits(64)
    r(0) = java.lang.Double.longBitsToDouble(prev)
    var winLead = 65
    var winTrail = 0
    var i = 1
    while (i < n) {
      if (br.bit() == 1) {
        if (br.bit() == 1) {
          winLead = br.bits(6).toInt
          val len = br.bits(6).toInt + 1
          winTrail = 64 - winLead - len
        }
        val len = 64 - winLead - winTrail
        prev ^= br.bits(len) << winTrail
      }
      r(i) = java.lang.Double.longBitsToDouble(prev)
      i += 1
    }
    r
  }

  // ---------------------------------------------- ArrayData-facing kernels
  // (called from both interpreted eval and generated code)

  def deltaDec(b: Array[Byte]): ArrayData = new GenericArrayData(deltaDecodeLongs(b))
  def ddDec(b: Array[Byte]): ArrayData = new GenericArrayData(ddDecodeLongs(b))
  def gorillaDec(b: Array[Byte]): ArrayData = new GenericArrayData(gorillaDecodeDoubles(b))
}

/** `binary → array<bigint>`: inverse of [[CodecKernels.deltaEncodeLongs]]. */
case class DeltaDecExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = CodecKernels.deltaDec(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodecKernels.deltaDec($c)")
  override protected def withNewChildInternal(c: Expression): DeltaDecExpr = copy(child = c)
  override def prettyName: String = "delta_dec"
}

/** `binary → array<bigint>`: inverse of [[CodecKernels.ddEncodeLongs]]. */
case class DdDecExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = CodecKernels.ddDec(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodecKernels.ddDec($c)")
  override protected def withNewChildInternal(c: Expression): DdDecExpr = copy(child = c)
  override def prettyName: String = "dd_dec"
}

/** `binary → array<double>`: inverse of [[CodecKernels.gorillaEncodeDoubles]]. */
case class GorillaDecExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = CodecKernels.gorillaDec(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodecKernels.gorillaDec($c)")
  override protected def withNewChildInternal(c: Expression): GorillaDecExpr = copy(child = c)
  override def prettyName: String = "gorilla_dec"
}

/** Column-API surface for the codec expressions. */
object Codecs {
  import org.apache.spark.sql.graftshim.Shim.{column, expression}
  def delta_dec(c: Column): Column = column(DeltaDecExpr(expression(c)))
  def dd_dec(c: Column): Column = column(DdDecExpr(expression(c)))
  def gorilla_dec(c: Column): Column = column(GorillaDecExpr(expression(c)))
}
