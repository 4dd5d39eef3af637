package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-fixture tests for the Tier C operators: prove the LSH near-dup
  * path and the kNN path actually find what they should (the driver's
  * testdata has no planted near-dups, so recall is asserted here). */
class ExtSpec extends SparkSpec {

  /** Build a docs dir shaped like the driver's documents table. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("docs")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")

  test("LSH pairs find a planted near-duplicate with high jaccard") {
    val nearDup = base.replace("tok30", "tokX")              // 1 word differs
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")   // unrelated
    val dir = docsDir(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = Dedup.q26LshPairs(spark, dir).collect()
    val p = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p.isDefined, s"expected (1,2) in ${pairs.mkString(",")}")
    assert(p.get.getDouble(2) > 0.8)
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("decontamination flags docs overlapping the probe set, spares clean ones") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog again and again"
    val leaked = s"prefix words then $bench plus a suffix"          // contains bench
    val clean = (1 to 20).map(i => s"c$i").mkString(" ")
    val probes = Seq((1L, bench)).toDF("doc_id", "text")
    val docs = Seq((10L, leaked), (11L, clean)).toDF("doc_id", "text")
    val got = Dedup.contaminated(docs, probes, minShared = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(10L) && got(10L) >= 5)
    assert(!got.contains(11L))
  }

  test("exact dedup groups identical texts") {
    val dir = docsDir(Seq((1L, base), (2L, base), (3L, "unique words here")))
    val got = Dedup.q24DedupExact(spark, dir).collect()
    assert(got.length == 2)
    assert(got.find(_.getLong(0) == 1L).get.getLong(1) == 2) // dups count
  }

  test("simhash of near-identical docs differs in few bits") {
    val dir = docsDir(Seq((1L, base), (2L, base.replace("tok30", "tokX")),
                          (3L, (1 to 60).map(i => s"qqq$i").mkString(" "))))
    val sh = Dedup.q27SimHash(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bits(x: Long) = java.lang.Long.bitCount(x)
    assert(bits(sh(1L) ^ sh(2L)) <= bits(sh(1L) ^ sh(3L)))
  }

  test("simhash hamming near-dup: banded join finds exactly the brute-force pairs") {
    // 1&2 near-identical (should pair at small hamming), 3 unrelated, 4==1
    val dir = docsDir(Seq((1L, base), (2L, base.replace("tok30", "tokX")),
                          (3L, (1 to 60).map(i => s"qqq$i").mkString(" ")),
                          (4L, base)))
    val got = Dedup.q144SimhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute force over the 60-bit signatures must agree exactly
    val sh = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash60(split(col("text"), " ")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      d = java.lang.Long.bitCount(sh(a) ^ sh(b)) if d <= 5
    } yield (a, b) -> d).toMap
    assert(got == brute, s"banded=$got brute=$brute")
    assert(got((1L, 4L)) == 0)          // exact dup pair at distance 0
    assert(got.contains((1L, 2L)))      // planted near-dup found
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated excluded
  }

  test("prefix-filter similarity join equals brute-force threshold Jaccard") {
    // 1&2 near-identical, 1&4 identical, 3 unrelated, 5 shares half (below t)
    val half = (1 to 30).map(i => s"tok$i").mkString(" ") + " " +
      (1 to 30).map(i => s"yyy$i").mkString(" ")
    val dir = docsDir(Seq((1L, base), (2L, base.replace("tok30", "tokX")),
                          (3L, (1 to 60).map(i => s"qqq$i").mkString(" ")),
                          (4L, base), (5L, half)))
    val got = Dedup.q147PrefixSsjoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // local brute force over distinct 3-shingle sets
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(1L -> base, 2L -> base.replace("tok30", "tokX"),
      3L -> (1 to 60).map(i => s"qqq$i").mkString(" "), 4L -> base, 5L -> half)
    val brute = (for {
      a <- texts.keys; b <- texts.keys if a < b
      j = sh(texts(a)).intersect(sh(texts(b))).size.toDouble /
          sh(texts(a)).union(sh(texts(b))).size
      jr = math.rint(j * 10000) / 10000 if jr >= 0.8
    } yield (a, b) -> jr).toMap
    assert(got.keySet == brute.keySet, s"got=$got brute=$brute")
    assert(got((1L, 4L)) == 1.0)
    assert(got.contains((1L, 2L)) && !got.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  /** Build an embeddings dir shaped like the driver's table. */
  private def vecsDir(rows: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val dir = tmpDir("vecs")
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("JL projection is deterministic, linear, and sign-respecting") {
    val v = (1 to 64).map(i => (i % 7).toFloat - 3f)
    val dir = vecsDir(Seq(
      (1L, v), (2L, v),                 // identical vectors
      (3L, v.map(-_)),                  // negation
      (4L, v.map(_ * 2f))))             // scaling
    val got = Similarity.q155JlProject(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    assert(got(1L) == got(2L))                       // determinism
    assert(got(3L) == got(1L).map(x => if (x == 0.0) 0.0 else -x)) // sign
    assert(got(4L) == got(1L).map(_ * 2))            // linearity
    assert(got(1L).exists(_ != 0.0))                 // non-degenerate
  }

  test("multi-probe ANN recalls clustered neighbors (planted clusters)") {
    val rnd = new scala.util.Random(7)
    // 10 well-separated cluster centers, 20 members each, small noise
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.toSeq.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val dir = vecsDir(rows)
    val exact = Similarity.q30KnnExact(spark, dir).filter(col("rn") <= 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = Similarity.q52AnnMultiprobe(spark, dir)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probe & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"multi-probe recall $recall too low on clustered data")
  }

  test("exact kNN ranks an identical vector first with cosine 1") {
    val v = Seq.tabulate(8)(i => (i + 1).toFloat)
    val orth = Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    val dir = vecsDir(Seq((0L, v), (10L, v.map(x => x * 2f)), (11L, orth)))
    val got = Similarity.q30KnnExact(spark, dir)
      .filter(col("q_id") === 0).orderBy("rn").collect()
    assert(got(0).getLong(2) == 10L)      // scaled copy = cosine 1
    assert(got(0).getDouble(3) == 1.0)
  }

  test("as-of join picks the latest prior click") {
    import spark.implicits._
    val dir = tmpDir("ev")
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 7L, "error", 1.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 8L, "error", 1.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Temporal.q21AsOfJoin(spark, dir).orderBy("event_id").collect()
    assert(got(0).getTimestamp(3) == ts("2024-01-01 10:10:00")) // latest click
    assert(got(1).isNullAt(3))                                   // no prior click
  }

  test("as-of join excludes a ref at the exact probe timestamp (strict <)") {
    import spark.implicits._
    val dir = tmpDir("ev2")
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"), // same ts as error
      (3L, ts("2024-01-01 10:00:00"), 7L, "error", 1.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Temporal.q21AsOfJoin(spark, dir).collect()
    // oracle semantics: c.ts < e.ts strictly → the 09:00 click, not 10:00
    assert(got(0).getTimestamp(3) == ts("2024-01-01 09:00:00"))
  }
}
