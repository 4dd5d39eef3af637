package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine token hashing for the dedup/fingerprint
  * operators (SURVEY.md §2 C2/C4).
  *
  * The driver's correctness gate replays every query in DuckDB, so hash
  * functions must be expressible identically in both engines. Built-in
  * hashes differ (Spark xxhash64/murmur vs DuckDB hash), so the token
  * value is a position-weighted polynomial over every character —
  * expressible in DuckDB as per-character list operations, and strong
  * enough that structured vocabularies don't collide (see [[polysum]]).
  * Residual collisions only weaken (never break) the MinHash/SimHash
  * approximations, and the exact-verification stages behind them are
  * collision-proof.
  */
object TextHash {

  /** Mersenne-31 modulus for MinHash permutations. */
  val MinHashP = 2147483647L
  /** Large prime modulus for document fingerprints. */
  val FpM = 1000000007L

  /** Base-31-cycle position weights, 31^(i mod 8), shared by tokval and
    * the document fingerprint. */
  val PosW: Seq[Long] =
    Seq(1L, 31L, 961L, 29791L, 923521L, 28629151L, 887503681L, 27512614111L)

  /** Polynomial character sum: Σ char_i · 31^((i-1) mod 8) over every
    * character of the token (1-based i). Earlier rounds used only
    * (first char, last char, length) — a uniform-prefix vocabulary
    * ("w1x","w2x",…) collapsed that to a handful of values and made every
    * LSH bucket collide (quadratic blowup at 50k docs), hence the full
    * scan. Bounded: |t| ≤ ~1000 chars × 65535 × 31^7 ≈ 1.8e18 < 2^63. */
  def polysum(t: Column): Column =
    aggregate(
      transform(split(t, ""), (c, i) =>
        ascii(c).cast("long") * element_at(typedLit(PosW), (i % 8) + 1)),
      lit(0L), (acc, x) => acc + x)

  /** tokval(t) = Knuth-scrambled polynomial char hash mod 2^31-1. */
  def tokval(t: Column): Column =
    ((polysum(t) % lit(MinHashP)) * lit(2654435761L)) % lit(MinHashP)

  private val posWCase =
    "CASE (i - 1) % 8 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 WHEN 3 THEN 29791 " +
    "WHEN 4 THEN 923521 WHEN 5 THEN 28629151 WHEN 6 THEN 887503681 ELSE 27512614111 END"

  /** SQL fragment computing the same tokval for a token expression
    * (DuckDB: per-character list ops; coalesce covers the empty token). */
  def tokvalSql(t: String): String =
    s"((((coalesce(list_sum(list_transform(range(1, length($t) + 1), " +
    s"i -> unicode($t[i]) * ($posWCase)))::BIGINT, 0)) % ${MinHashP}) * 2654435761) % ${MinHashP})"

  /** SQL fragment for MinHash permutation h of a token value: (a_h *
    * tv + b_h) mod P, with a_h/b_h derived from the permutation index by
    * Knuth's multiplicative constant; a signature row is its min over the
    * document's tokens. */
  def minhashTermSql(tv: String, h: String): String =
    s"((((($h * 2654435761) % 1000003) * 2 + 1) * $tv + $h * 40503 + 17) % ${MinHashP})"

  /** Word n-gram shingles via higher-order functions — no explode/join, so
    * shingling stays inside WholeStageCodegen. 1-based element_at matches
    * DuckDB's 1-based list indexing. */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB equivalent of [[shingles3]] over a list expression. */
  def shingles3Sql(toks: String): String =
    s"list_transform(range(1, greatest(len($toks) - 1, 1)), i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])"
}
