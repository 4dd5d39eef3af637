package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Heap-based top-k aggregate (SURVEY.md §7.3: the TypedImperativeAggregate
  * candidate for kNN, realized as a typed Aggregator — the engine's
  * UDAF surface).
  *
  * Scale rationale: a window `row_number() ≤ k` must sort every group's
  * full candidate list (O(n log n) per group, full shuffle of all rows).
  * The heap aggregate keeps only k entries per partition per group —
  * partial aggregation ships k-bounded buffers (O(n log k) work, O(k)
  * shuffle per group), which is the difference between shuffling 100 TB of
  * scored pairs and shuffling k rows per query vector.
  *
  * Ordering ties break on the smaller id, matching the window formulation
  * `ORDER BY score DESC, id`.
  */
object TopK {

  type Entry = (Double, Long)   // (score, id)

  final case class Buf(var entries: List[Entry])

  /** Total order even for NaN scores: java.lang.Double.compare ranks NaN
    * above every value, matching how Spark's window sort (and the DuckDB
    * oracle) order NaN — so q47 and q30 agree on degenerate cosines too. */
  private def better(a: Entry, b: Entry): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  class TopKAgg(k: Int) extends Aggregator[Entry, Buf, Seq[Entry]] {
    require(k >= 1, s"top-k needs k >= 1, got $k") // fail at construction,
    // not as an opaque NoSuchElementException inside an executor task
    override def zero: Buf = Buf(Nil)

    /** Single-pass insertion into the sorted (best-first) bounded list:
      * O(k) per accepted element, no re-sort. For the small k of top-k
      * queries a sorted list beats a heap's constant factors; the shuffle
      * bound (k entries per partition per group) is what matters at
      * scale. */
    private def insert(es: List[Entry], e: Entry): List[Entry] = {
      val (pre, post) = es.span(better(_, e))
      (pre ::: e :: post).take(k)
    }

    override def reduce(b: Buf, e: Entry): Buf = {
      if (b.entries.lengthCompare(k) >= 0 && better(b.entries.last, e)) b
      else { b.entries = insert(b.entries, e); b }
    }

    override def merge(x: Buf, y: Buf): Buf = {
      // both inputs sorted best-first: linear merge, cap at k
      val out = List.newBuilder[Entry]
      var (a, b) = (x.entries, y.entries)
      var n = 0
      while (n < k && (a.nonEmpty || b.nonEmpty)) {
        if (b.isEmpty || (a.nonEmpty && better(a.head, b.head))) {
          out += a.head; a = a.tail
        } else { out += b.head; b = b.tail }
        n += 1
      }
      x.entries = out.result()
      x
    }

    override def finish(b: Buf): Seq[Entry] = b.entries
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** Untyped (DataFrame) form: `top_k(10)(col("score"), col("id"))` →
    * array<struct<_1: double, _2: bigint>> of the k best, sorted
    * best-first. */
  def top_k(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAgg(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))

  // ---------------------------------------------------------------- earliest-k (ascending) variant
  /** Earliest-k rows by an ascending (key1, key2) order, carrying a
    * payload — the k-bounded replacement for
    * `slice(array_sort(collect_list(...)), 1, k)`, whose aggregation
    * buffer holds the GROUP'S ENTIRE row set before sorting (unbounded
    * state; one hot group OOMs an executor at corpus scale). Buffers
    * here hold ≤ k triples per partition per group. */
  type Entry3 = (Long, Long, Long)   // (key1, key2, payload)

  final case class Buf3(var entries: List[Entry3])

  private def earlier(a: Entry3, b: Entry3): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  class FirstKAgg(k: Int) extends Aggregator[Entry3, Buf3, Seq[Entry3]] {
    require(k >= 1, s"first-k needs k >= 1, got $k")
    override def zero: Buf3 = Buf3(Nil)

    private def insert(es: List[Entry3], e: Entry3): List[Entry3] = {
      val (pre, post) = es.span(earlier(_, e))
      (pre ::: e :: post).take(k)
    }

    override def reduce(b: Buf3, e: Entry3): Buf3 = {
      if (b.entries.lengthCompare(k) >= 0 && earlier(b.entries.last, e)) b
      else { b.entries = insert(b.entries, e); b }
    }

    override def merge(x: Buf3, y: Buf3): Buf3 = {
      val out = List.newBuilder[Entry3]
      var (a, b) = (x.entries, y.entries)
      var n = 0
      while (n < k && (a.nonEmpty || b.nonEmpty)) {
        if (b.isEmpty || (a.nonEmpty && earlier(a.head, b.head))) {
          out += a.head; a = a.tail
        } else { out += b.head; b = b.tail }
        n += 1
      }
      x.entries = out.result()
      x
    }

    override def finish(b: Buf3): Seq[Entry3] = b.entries
    override def bufferEncoder: Encoder[Buf3] = Encoders.kryo[Buf3]
    override def outputEncoder: Encoder[Seq[Entry3]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry3]]()
  }

  /** `first_k(5)(unix_micros(ts), event_id, user_id)` →
    * array<struct<_1,_2,_3>> of the k earliest by (_1,_2), sorted. */
  def first_k(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new FirstKAgg(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
}
