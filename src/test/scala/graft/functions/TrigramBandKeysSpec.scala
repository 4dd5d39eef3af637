package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Pins the fused native trigram-minhash kernel
  * ([[TrigramBandKeysExpr]] / [[ExprKernels.trigramBandKeys]]) to the
  * higher-order-function formulation it replaced in
  * `ChangeFeedQuery.bucketRows` (round-14 optimization): identical band
  * keys for every input, both bandings. The HOF reference below IS the
  * pre-optimization code, inlined — if the kernel ever drifts from it,
  * every maintained index's bucket keys silently diverge from the DuckDB
  * oracle's algebra, so this equality is the cheap canary. */
class TrigramBandKeysSpec extends SparkSpec {

  /** The replaced HOF formulation, verbatim (tokval → 4 minhash aggregates
    * → band packing) as a per-band-key array, for equality comparison. */
  private def hofBandKeys(keyCol: org.apache.spark.sql.Column, bands: Int) = {
    val tris = array_distinct(
      transform(sequence(lit(1), length(keyCol) - 2), i => substring(keyCol, i, lit(3))))
    val tvs = transform(tris, g => TextHash.tokval(g))
    def sigH(h: Int) =
      aggregate(tvs, lit(TextHash.MinHashP),
        (acc, tv) => least(acc, KernelReference.minhashTerm(tv, lit(h))))
    val p = lit(TextHash.MinHashP)
    if (bands == 2) array(sigH(0) * p + sigH(1), sigH(2) * p + sigH(3))
    else array((0 until 4).map(i => sigH(i).cast("long")): _*)
  }

  private def nativeBandKeys(keyCol: org.apache.spark.sql.Column, bands: Int) =
    Shim.column(TrigramBandKeysExpr(Shim.expression(keyCol), bands))

  test("native kernel matches the HOF formulation on structured keys, both bandings") {
    import spark.implicits._
    // the exact key shape bucketRows signs: Machine/Type/ID over a small
    // vocabulary (collisions exercised), plus length-3 edge and longer tails
    val keys = (0 until 500).map { i =>
      s"m${i % 8}/${Seq("click", "view", "purchase", "error", "scroll")(i % 5)}/$i"
    } ++ Seq("abc", "aaaa", "ab/c", "m0/x/1", "0123456789" * 8)
    val df = keys.toDF("key")
    for (bands <- Seq(2, 4)) {
      val got = df.select(
        nativeBandKeys(col("key"), bands).as("nat"),
        hofBandKeys(col("key"), bands).as("hof"))
      assert(got.filter(col("nat") =!= col("hof")).count() === 0,
        s"bands=$bands: kernel diverged from the HOF reference")
    }
  }

  test("non-ASCII text matches, supplementary plane included (code-point indexing)") {
    import spark.implicits._
    // the last keys carry supplementary-plane characters (surrogate
    // pairs in UTF-16): each is ONE character to the kernel, as to the
    // HOF form and the DuckDB oracle — "a😀b" is a single trigram
    val keys = Seq("ümlaut/é/σ123", "日本語のキー/type/42", "mix€d/票/xyz",
      "m😀/type/𝄞42", "a😀b", "😀😀😀")
    val df = keys.toDF("key")
    for (bands <- Seq(2, 4)) {
      val got = df.select(
        nativeBandKeys(col("key"), bands).as("nat"),
        hofBandKeys(col("key"), bands).as("hof"))
      assert(got.filter(col("nat") =!= col("hof")).count() === 0,
        s"bands=$bands: kernel diverged on non-ASCII text")
    }
  }

  test("short strings yield an empty array (callers filter length >= 3 anyway)") {
    import spark.implicits._
    // "😀😀" is two characters (four UTF-16 units)
    val got = Seq("", "a", "ab", "😀😀").toDF("key")
      .select(size(nativeBandKeys(col("key"), 2)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(0, 0, 0, 0))
  }
}
