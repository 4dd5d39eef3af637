package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-fixture tests for the curation operators (dedup cluster
  * resolution, repetition signal, stratified sampling, salient terms,
  * pattern masking). */
class CurationSpec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("cdocs")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("connectedComponents resolves transitive chains to min-label clusters") {
    import spark.implicits._
    // 1-2, 2-3 chain (1~3 never a pair) + separate 5-6; 9 isolated (absent)
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(edges, "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("distributed min-label propagation matches union-find on a chained graph") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4) + pair 10-11 + triangle 20-21-22
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("d1", "d2")
    val viaDriver = Dedup.connectedComponents(edges, "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaIteration = Dedup.connectedComponents(edges, "d1", "d2", driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
                       10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(viaDriver == expected)
    assert(viaIteration == expected)
  }

  test("both components paths agree on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 2 + rnd.nextInt(30)
      val edges = (0 until n).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("d1", "d2")
        val viaDriver = Dedup.connectedComponents(df, "d1", "d2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaIter = Dedup.connectedComponents(df, "d1", "d2", maxIters = 40,
            driverThreshold = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaDriver == viaIter, s"paths disagree on edges $edges")
      }
    }
  }

  test("unconverged distributed propagation fails loudly instead of returning wrong labels") {
    import spark.implicits._
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "d1", "d2", maxIters = 2, driverThreshold = 0L)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("dedup clusters merge transitive near-dups and keep the lowest id") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val dir = docsDir(Seq(
      (1L, base, "s"),
      (2L, base.replace("tok30", "tokX"), "s"),   // ~ 1
      (3L, base.replace("tok50", "tokY"), "s"),   // ~ 1 and ~ 2
      (9L, (1 to 60).map(i => s"zzz$i").mkString(" "), "s")))
    val got = Dedup.q55DedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 1L, 3L, 1), (2L, 1L, 3L, 0), (3L, 1L, 3L, 0)))
  }

  test("quality gate's stratum floor protects low-resource languages") {
    import spark.implicits._
    val dir = tmpDir("qg")
    val rich = (1L to 20L).map(i =>
      (i, (1 to (10 + i.toInt)).map(j => s"w${i}_$j").mkString(" "), "en"))
    val rare = Seq((100L, "lone zh doc words here", "zh"))
    (rich ++ rare).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Curation.q65QualityGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.contains((100L, "zh")), "single-doc language must survive the gate")
    val enKept = kept.count(_._2 == "en")
    assert(enKept < 20 && enKept >= 14, s"en gate should trim ~25%: kept $enKept")
  }

  test("repetition signals flag degenerate docs") {
    val varied = (1 to 50).map(i => s"w$i").mkString(" ")
    val loop = Seq.fill(25)("spam ham").mkString(" ")  // 2 distinct bigrams
    val dir = docsDir(Seq((1L, varied, "s"), (2L, loop, "s")))
    val got = Curation.q56Repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L)._1 == 0.0 && got(1L)._2 == 0.02)      // all bigrams unique
    assert(got(2L)._1 > 0.9 && got(2L)._2 == 0.5)        // bigram loop; "spam" = half
  }

  test("stratified sample takes exactly k per stratum, deterministically") {
    val rows = (1L to 40L).map(i => (i, s"text $i", s"src${i % 4}"))
    val dir = docsDir(rows)
    val got = Curation.q57StratifiedSample(spark, dir).collect()
    assert(got.length == 20)                              // 4 strata × 5
    val bySrc = got.groupBy(_.getString(0))
    assert(bySrc.keySet == Set("src0", "src1", "src2", "src3"))
    assert(bySrc.values.forall(_.length == 5))
    val again = Curation.q57StratifiedSample(spark, dir).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("top terms rank a doc's distinctive token above corpus-wide ones") {
    // "rare" appears 3× in doc 1 only; "common" is in every doc
    val dir = docsDir(Seq(
      (1L, "rare rare rare common filler1 filler2", "s"),
      (2L, "common other1 other2 other3 other4 other5", "s"),
      (3L, "common misc1 misc2 misc3 misc4 misc5", "s")))
    val top1 = Curation.q58TopTerms(spark, dir)
      .filter(col("doc_id") === 1 && col("rn") === 1).collect().head
    assert(top1.getString(2) == "rare")
    assert(top1.getLong(4) == 1L)  // df: doc 1 only
  }

  test("pii mask rewrites pattern classes and counts hits") {
    val dir = docsDir(Seq(
      (1L, "mail bob@example.com and 12345 for customer care", "s")))
    val r = Curation.q59PiiMask(spark, dir).collect().head
    assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1)
    assert(r.getString(4) == "mail [EMAIL] and [NUM] for [MASK] care")
  }
}
