package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Aho–Corasick multi-pattern scan — the exact-substring half of the
  * decontamination story. q70/q78 match at n-gram granularity (hashed
  * shingles, Bloom-gated); this matches RAW SUBSTRINGS: given a needle
  * dictionary (benchmark canaries, eval prompts, PII literals, blocked
  * phrases), one automaton finds every occurrence of every needle in one
  * pass over the corpus — O(text + matches), independent of the number
  * of needles. The naive alternative a SQL engine offers is one
  * `contains`/`instr` scan PER NEEDLE: at 100 TB × thousands of canaries
  * that is thousands of corpus passes; here the corpus is read once and
  * the needle count only grows a broadcast automaton (nodes ≤ total
  * needle chars, KB–MB scale for real contamination lists).
  *
  * Scale contract: the automaton is built once on the driver (needle-
  * dictionary-sized, NOT corpus-sized), broadcast, and the scan is a pure
  * map over documents — no shuffle until the per-needle aggregate, which
  * is map-side combined. Matches stream out of the scan; nothing
  * per-document is buffered beyond the current state id.
  */
object AcScan {

  /** Immutable, serializable automaton. `next` is the dense goto
    * function over a compact alphabet (unknown chars reset to root —
    * they can never extend a needle match), `out` lists
    * (patternId, patternLen) for every needle ending at the node,
    * already closed over suffix (fail) links. */
  final class Automaton(val alphabet: Map[Char, Int],
                        val next: Array[Array[Int]],
                        val out: Array[Array[(Int, Int)]]) extends Serializable {
    /** Scan `text`, invoking `f(patternId, endPos1Based)` per match. */
    def scan(text: String, f: (Int, Int) => Unit): Unit = {
      var st = 0
      var i = 0
      val n = text.length
      while (i < n) {
        val ci = alphabet.getOrElse(text.charAt(i), -1)
        st = if (ci < 0) 0 else next(st)(ci)
        val os = out(st)
        var j = 0
        while (j < os.length) { f(os(j)._1, i + 1); j += 1 }
        i += 1
      }
    }
  }

  /** Classic construction: trie → BFS fail links → dense goto closure
    * (next(s,c) = goto or fail-resolved), outputs merged down fail
    * chains so scan never walks them. Alphabet is compacted to the
    * chars appearing in any needle. */
  def build(patterns: Seq[String]): Automaton = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty), "needles must be non-empty")
    val alphabet: Map[Char, Int] =
      patterns.flatten.distinct.sorted.zipWithIndex.toMap
    val k = alphabet.size
    val trie = scala.collection.mutable.ArrayBuffer(Array.fill(k)(-1))
    val outs = scala.collection.mutable.ArrayBuffer(List.empty[(Int, Int)])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var st = 0
      p.foreach { ch =>
        val ci = alphabet(ch)
        if (trie(st)(ci) < 0) {
          trie += Array.fill(k)(-1)
          outs += Nil
          trie(st)(ci) = trie.length - 1
        }
        st = trie(st)(ci)
      }
      outs(st) = (pid, p.length) :: outs(st)
    }
    val n = trie.length
    val fail = Array.fill(n)(0)
    val next = Array.tabulate(n)(s => trie(s).clone())
    val queue = scala.collection.mutable.Queue.empty[Int]
    (0 until k).foreach { c =>
      if (next(0)(c) < 0) next(0)(c) = 0
      else { fail(next(0)(c)) = 0; queue += next(0)(c) }
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      outs(s) = outs(s) ++ outs(fail(s)) // close outputs over the fail chain
      (0 until k).foreach { c =>
        val t = next(s)(c)
        if (t < 0) next(s)(c) = next(fail(s))(c)
        else { fail(t) = next(fail(s))(c); queue += t }
      }
    }
    new Automaton(alphabet, next, outs.map(_.toArray).toArray)
  }

  /** The needle dictionary for the gated query — fixed literals over the
    * corpus token vocabulary (several nest or share affixes on purpose:
    * "key order" / "join order" exercise shared-suffix fail links,
    * "batch batch" exercises self-overlap, which only an all-end-
    * positions semantic counts correctly). */
  val needles: Seq[String] = Seq(
    "table scan", "join order", "key order", "sort merge", "hash scan",
    "stream spark", "batch batch", "the fast", "slow small",
    "filter customer", "window small", "merge part")

  // ------------------------------------------------------------- q215: multi-needle census through the gate
  /** Per-needle contamination census: occurrences, affected docs, and the
    * sum of 1-based match END positions — the position sum pins the
    * automaton's exact match locations (a scanner that missed overlapping
    * or nested matches, or mis-tracked fail links, shifts it). Oracle:
    * brute-force position scan in SQL (all end positions, overlaps
    * included — exactly the Aho–Corasick semantic). */
  def q215AcScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ac = s.sparkContext.broadcast(build(needles))
    val namesB = s.sparkContext.broadcast(needles.toArray)
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val a = ac.value
        val names = namesB.value
        rows.flatMap { case (docId, text) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          a.scan(text, (pid, end) => acc += ((names(pid), docId, end.toLong)))
          acc
        }
      }
      .toDF("needle", "doc_id", "end_pos")
      .groupBy(col("needle"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("end_pos")).as("sum_end"))
      .orderBy(col("needle"))
  }

  val q215Sql: String = {
    val vals = needles.map(p => s"('${p}')").mkString(", ")
    s"""WITH pats(pat) AS (VALUES $vals),
       |-- start positions derived from the corpus itself (scalar range()
       |-- accepts subquery bounds where the generate_series TABLE function
       |-- does not): a fixed cap would silently drop matches past it on a
       |-- longer-than-expected document, making the oracle under-count
       |-- while the automaton finds them
       |nums AS (SELECT CAST(t.i AS INTEGER) AS i FROM (
       |           SELECT unnest(range(1,
       |             (SELECT max(length(text))::BIGINT FROM documents) + 1)) AS i) t),
       |hits AS (
       |  SELECT d.doc_id, p.pat, n.i + length(p.pat) - 1 AS end_pos
       |  FROM documents d, pats p, nums n
       |  WHERE n.i + length(p.pat) - 1 <= length(d.text)
       |    AND substr(d.text, n.i, CAST(length(p.pat) AS INTEGER)) = p.pat)
       |SELECT pat AS needle, count(*)::BIGINT AS n_occ,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  sum(end_pos)::BIGINT AS sum_end
       |FROM hits GROUP BY pat ORDER BY needle""".stripMargin
  }

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q215_ac_scan", q215AcScan _, Some(q215Sql)),
  )
}
