package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextHash._

/** The built-in (higher-order-function) formulations the fused native
  * kernels replaced, kept as the semantic references `PropertySpec` and
  * `TrigramBandKeysSpec` compare the kernels against. */
object KernelReference {

  /** MinHash permutation h: min over tokens of (a_h * tokval + b_h) mod P,
    * with a_h/b_h derived from the permutation index by Knuth's
    * multiplicative constant. */
  def minhashTerm(tv: Column, h: Column): Column = {
    val a = (h.cast("long") * lit(2654435761L) % lit(1000003L)) * lit(2L) + lit(1L)
    val b = h.cast("long") * lit(40503L) + lit(17L)
    (a * tv + b) % lit(MinHashP)
  }

  /** The built-in (higher-order-function) JL formulation — semantic
    * reference for the fused [[graft.functions.JlProjectExpr]] kernel
    * (`PropertySpec` pins bit-for-bit equivalence; the HOF runs 8×64
    * interpreted lambdas per row). */
  def jlProjectHof(v: Column): Column =
    transform(sequence(lit(0), lit(7)), j =>
      aggregate(sequence(lit(1), lit(64)), lit(0.0),
        (acc, d) => acc + element_at(v, d).cast("double") *
          when(((j * 64 + d).cast("long") * lit(2654435761L)) % lit(2000003L) >= lit(1000001L),
            lit(1.0)).otherwise(lit(-1.0))))

  /** The built-in (higher-order-function) SimHash formulation over a
    * token-array column — the semantic reference [[graft.ext.Dedup.q27SimHash]]'s native
    * expression is spec-checked against (`PropertySpec`). */
  def simhashHof(tk: Column): Column = {
    val tvs = transform(tk, t => tokval(t))
    (0 until 16).map { j =>
      val csum = aggregate(
        transform(tvs, tv =>
          when((tv * (2 * j + 3)) % 65536 >= 32768, 1L).otherwise(-1L)),
        lit(0L), (acc, x) => acc + x)
      when(csum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
