package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.TextHash._
import graft.functions.KernelReference._

/** Property-style tests (SURVEY.md §5.2 item 3), seeded-random inputs:
  * the fused native kernels must equal the relational formulations that
  * mirror the DuckDB oracle — on arbitrary token lists (including empty
  * tokens from double spaces) and arbitrary float vectors. */
class PropertySpec extends SparkSpec {

  // a fresh seeded Random per test: each test's inputs are reproducible
  // standalone, independent of suite execution order
  private def newRnd() = new scala.util.Random(42)

  private def randToken(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(8) // 0 → empty token (the double-space edge)
    (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }

  private def randDocs(rnd: scala.util.Random, nDocs: Int): Seq[(Long, Seq[String])] =
    (0 until nDocs).map { i =>
      val n = 3 + rnd.nextInt(38)
      (i.toLong, (1 to n).map(_ => randToken(rnd)))
    }

  test("fused minhash kernel == relational shingle formulation (100 random docs)") {
    import spark.implicits._
    val rnd = newRnd()
    val docs = randDocs(rnd, 100).toDF("doc_id", "tk")
    // kernel path
    val kernel = docs.select(col("doc_id"),
        GraftFunctions.minhash_shingle_sig(col("tk")).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h", "minh")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // relational path (the formulation the DuckDB oracle mirrors)
    val rel = docs
      .select(col("doc_id"), explode(array_distinct(shingles3(col("tk")))).as("g"))
      .withColumn("tv", tokval(col("g")))
      .crossJoin(broadcast(spark.range(16).select(col("id").cast("int").as("h"))))
      .groupBy(col("doc_id"), col("h"))
      .agg(min(minhashTerm(col("tv"), col("h"))).as("minh"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(kernel.size == rel.size)
    rel.foreach { case (k, v) =>
      assert(kernel(k) == v, s"mismatch at $k: kernel=${kernel.get(k)} rel=$v")
    }
  }

  test("fused JL-projection kernel == higher-order-function formulation (200 random vectors)") {
    import spark.implicits._
    val rnd = newRnd()
    val vecs = (1 to 200).map(i =>
      (i.toLong, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 4f))).toDF("vec_id", "v")
    val got = vecs.select(col("vec_id"),
        GraftFunctions.jl_project8(col("v")).as("k"),
        jlProjectHof(col("v")).as("h"))
      .collect()
    got.foreach { r =>
      val k = r.getSeq[Double](1); val h = r.getSeq[Double](2)
      assert(k == h, s"jl mismatch vec ${r.getLong(0)}: kernel=$k hof=$h")
    }
    assert(got.length == 200)
  }

  test("fused simhash kernel == higher-order-function formulation (200 random docs)") {
    import spark.implicits._
    val rnd = newRnd()
    val docs = randDocs(rnd, 200).toDF("doc_id", "tk")
    val got = docs.select(col("doc_id"),
        GraftFunctions.simhash16(col("tk")).as("k"),
        simhashHof(col("tk")).as("h"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"simhash mismatch doc ${r.getLong(0)}: kernel=${r.getLong(1)} hof=${r.getLong(2)}")
    }
    assert(got.length == 200)
  }

  test("jaccard kernel == relational distinct-shingle jaccard (random pairs)") {
    import spark.implicits._
    val rnd = newRnd()
    val docs = randDocs(rnd, 30)
    def shingleSet(tk: Seq[String]): Set[String] =
      tk.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val pairs = for (a <- docs; b <- docs if a._1 < b._1) yield (a, b)
    val df = pairs.map { case (a, b) => (a._1, b._1, a._2, b._2) }
      .toDF("d1", "d2", "tk1", "tk2")
      .select(col("d1"), col("d2"),
        GraftFunctions.jaccard_shingles(col("tk1"), col("tk2")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (a, b) =>
      val sa = shingleSet(a._2); val sb = shingleSet(b._2)
      val union = (sa ++ sb).size
      val expected = if (union == 0) 0.0 else (sa & sb).size.toDouble / union
      assert(df((a._1, b._1)) == expected)
    }
  }

  test("sorted-long jaccard == string jaccard after injective hash+sort (random pairs)") {
    import spark.implicits._
    val rnd = newRnd()
    val docs = randDocs(rnd, 30)
    val pairs = for (a <- docs; b <- docs if a._1 < b._1) yield (a, b)
    val df = pairs.map { case (a, b) => (a._1, b._1, a._2, b._2) }
      .toDF("d1", "d2", "tk1", "tk2")
      .select(col("d1"), col("d2"),
        GraftFunctions.jaccard_shingles(col("tk1"), col("tk2")).as("js"),
        GraftFunctions.jaccard_sorted_longs(
          sort_array(array_distinct(transform(
            TextHash.shingles3(col("tk1")), x => xxhash64(x)))),
          sort_array(array_distinct(transform(
            TextHash.shingles3(col("tk2")), x => xxhash64(x))))).as("jl"))
      .collect()
    df.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3),
        s"pair (${r.getLong(0)},${r.getLong(1)}): string=${r.getDouble(2)} hashed=${r.getDouble(3)}")
    }
    assert(df.length == pairs.length)
    // merge-kernel edge cases: empty sides, identical, disjoint
    val edges = Seq(
      (Seq.empty[Long], Seq.empty[Long], 0.0),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 1.0),
      (Seq(1L, 2L), Seq(3L, 4L), 0.0),
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), 0.5),
      (Seq.empty[Long], Seq(1L), 0.0))
    edges.zipWithIndex.foreach { case ((a, b, exp), i) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(GraftFunctions.jaccard_sorted_longs(col("a"), col("b")))
        .head().getDouble(0)
      assert(got == exp, s"edge case $i")
    }
  }

  test("cosine kernel == higher-order-function formulation (exact doubles)") {
    import spark.implicits._
    val rnd = newRnd()
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextFloat() - 0.5f)),
                 Seq.fill(64)((rnd.nextFloat() - 0.5f)))
    }.toDF("id", "a", "b")
    val got = vecs.select(col("id"),
      GraftFunctions.cosine_sim(col("a"), col("b")).as("k"),
      (graft.ext.Similarity.dot(col("a"), col("b")) /
        (graft.ext.Similarity.norm(col("a")) * graft.ext.Similarity.norm(col("b")))).as("r"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"id=${r.getLong(0)}: kernel=${r.getDouble(1)} hof=${r.getDouble(2)}"))
  }

  test("time normalization truncates fractional epoch seconds (random)") {
    import spark.implicits._
    val rnd = newRnd()
    val ts = (0 until 200).map(_ => rnd.nextDouble() * 4.0e9)
    val got = ts.toDF("Time")
      .select(col("Time").cast("long").cast("timestamp").cast("long").as("sec"))
      .collect().map(_.getLong(0))
    ts.zip(got).foreach { case (t, s) => assert(s == t.toLong) }
  }
}
