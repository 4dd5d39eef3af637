package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-trip + compression-shape coverage for the Delta / DoubleDelta /
  * Gorilla codecs, interpreted kernels and the Catalyst expressions both.
  * Fuzz is deterministic (fixed seeds) so a failure is a repro, not a
  * flake. */
class CodecSpec extends SparkSpec {

  private val rnd = new scala.util.Random(0xC0DEC5L)

  private def longCases: Seq[(String, Array[Long])] = Seq(
    "empty" -> Array.empty[Long],
    "single" -> Array(42L),
    "single-min" -> Array(Long.MinValue),
    "constant" -> Array.fill(1000)(-7L),
    "cadence" -> Array.tabulate(5000)(i => 1704067200000000L + i * 1000000L),
    "jittered-cadence" -> Array.tabulate(5000)(i =>
      1704067200000000L + i * 1000000L + (rnd.nextInt(7) - 3)),
    "sorted-gaps" -> Array.iterate(0L, 2000)(v => v + rnd.nextInt(1 << 20)),
    "full-range" -> Array.fill(2000)(rnd.nextLong()),
    "overflow-pair" -> Array(Long.MaxValue, Long.MinValue, 0L, Long.MaxValue,
      -1L, 1L, Long.MinValue),
  )

  private def doubleCases: Seq[(String, Array[Double])] = Seq(
    "empty" -> Array.empty[Double],
    "single" -> Array(math.Pi),
    "constant" -> Array.fill(1000)(21.125),
    "gauge" -> { // slowly-moving values: the Gorilla sweet spot
      var v = 100.0
      Array.fill(5000) { v += (rnd.nextInt(11) - 5) * 0.25; v }
    },
    "random" -> Array.fill(2000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10)),
    "raw-bits" -> Array.fill(2000)(java.lang.Double.longBitsToDouble(rnd.nextLong())),
    "specials" -> Array(0.0, -0.0, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L), // NaN payload
      java.lang.Double.longBitsToDouble(0xfff0000000000042L), // signaling-ish
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 1.0, -1.0),
  )

  private def bitsEq(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))

  test("delta and double-delta round-trip every long shape bit-exactly") {
    for ((name, vals) <- longCases) {
      assert(CodecKernels.deltaDecodeLongs(CodecKernels.deltaEncodeLongs(vals)).sameElements(vals),
        s"delta: $name")
      assert(CodecKernels.ddDecodeLongs(CodecKernels.ddEncodeLongs(vals)).sameElements(vals),
        s"double-delta: $name")
    }
  }

  test("gorilla round-trips every double bit pattern exactly") {
    for ((name, vals) <- doubleCases)
      assert(bitsEq(CodecKernels.gorillaDecodeDoubles(CodecKernels.gorillaEncodeDoubles(vals)), vals),
        s"gorilla: $name")
  }

  test("adversarial fuzz: random lengths and distributions") {
    val r = new scala.util.Random(1234L)
    for (_ <- 1 to 200) {
      val n = r.nextInt(300)
      val scale = 1L << r.nextInt(62)
      val longs = Array.fill(n)(r.nextLong() % scale)
      assert(CodecKernels.deltaDecodeLongs(CodecKernels.deltaEncodeLongs(longs)).sameElements(longs))
      assert(CodecKernels.ddDecodeLongs(CodecKernels.ddEncodeLongs(longs)).sameElements(longs))
      val doubles = Array.fill(n)(
        if (r.nextInt(10) == 0) java.lang.Double.longBitsToDouble(r.nextLong())
        else r.nextGaussian() * scale.toDouble)
      assert(bitsEq(CodecKernels.gorillaDecodeDoubles(CodecKernels.gorillaEncodeDoubles(doubles)), doubles))
    }
  }

  test("compression shapes match the schemes' published sweet spots") {
    // fixed-cadence timestamps: DoubleDelta ≈ 1 byte/value, Delta pays the
    // repeated gap varint, raw is 8
    val cadence = longCases.find(_._1 == "cadence").get._2
    val dd = CodecKernels.ddEncodeLongs(cadence).length.toDouble / cadence.length
    val d = CodecKernels.deltaEncodeLongs(cadence).length.toDouble / cadence.length
    assert(dd < 1.1, s"double-delta on cadence: $dd B/value")
    assert(d >= dd && d < 3.1, s"delta on cadence: $d B/value")
    // constant gauge: Gorilla ≈ 1 bit/value
    val const = doubleCases.find(_._1 == "constant").get._2
    val g = CodecKernels.gorillaEncodeDoubles(const).length.toDouble / const.length
    assert(g < 0.2, s"gorilla on constant: $g B/value")
    // slowly-moving gauge: well under raw 8 B/value
    val gauge = doubleCases.find(_._1 == "gauge").get._2
    val gg = CodecKernels.gorillaEncodeDoubles(gauge).length.toDouble / gauge.length
    assert(gg < 6.0, s"gorilla on gauge: $gg B/value")
  }

  test("catalyst expressions run the codecs inside a codegen'd plan") {
    import spark.implicits._
    val in = Seq(
      (1L, Array(10L, 20L, 35L, 35L, 60L), Array(1.0, 1.0, 2.5, -0.0, 1.0 / 3.0)),
      (2L, Array.empty[Long], Array.empty[Double]),
      (3L, Array(Long.MaxValue, Long.MinValue), Array(Double.NaN, Double.NegativeInfinity)),
    )
    val df = in.map { case (id, ls, ds) =>
      (id, CodecKernels.deltaEncodeLongs(ls), CodecKernels.ddEncodeLongs(ls),
        CodecKernels.gorillaEncodeDoubles(ds))
    }.toDF("id", "de", "dd", "ge")
    val rt = df.select(col("id"),
        Codecs.delta_dec(col("de")).as("ls1"),
        Codecs.dd_dec(col("dd")).as("ls2"),
        Codecs.gorilla_dec(col("ge")).as("ds1"))
      .orderBy("id")
      .collect()
    for (i <- in.indices) {
      assert(rt(i).getSeq[Long](1) == in(i)._2.toSeq, "delta expr")
      assert(rt(i).getSeq[Long](2) == in(i)._2.toSeq, "dd expr")
      assert(bitsEq(rt(i).getSeq[Double](3).toArray, in(i)._3), "gorilla expr")
    }
  }
}
