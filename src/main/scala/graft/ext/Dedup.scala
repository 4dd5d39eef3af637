package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.TextHash._

/** Deduplication operators (SURVEY.md §2 C1/C2): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design: every stage is a groupBy/join on bounded keys — never an
  * all-pairs comparison over the corpus. MinHash signatures are linear in
  * corpus size; LSH band buckets turn near-dup search into an equi-join on
  * (band, bandKey); only within-bucket candidate pairs (tiny by
  * construction) are verified exactly. The exact Jaccard query (q28) is
  * intentionally bounded to a fixed doc_id prefix — it is the ground-truth
  * oracle for the LSH path, not the scale path.
  */
object Dedup {

  // ---------------------------------------------------------------- C1
  /** Exact duplicate grouping by full text: one hash shuffle on the text
    * (at 100 TB: group on xxhash64(text) first, verify within group). */
  def q24DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dups"))
      .select(col("doc_id"), col("dups"), length(col("text")).as("text_len"))
      .orderBy(col("doc_id"))

  val q24Sql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS dups, length(text) AS text_len
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C2: MinHash signatures
  /** The token array is bound to an attribute before shingling: passing
    * the raw split(...) expression into shingles3 would re-evaluate the
    * full split for every element_at access (O(doc_len²) per doc — 9×
    * slower at sf0.1). */
  /** THE doc→distinct-3-gram-shingles expansion (one definition for the
    * near-dup path and decontamination; `shinglesCte` is its SQL twin). */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(array_distinct(shingles3(col("tk")))).as("g"))

  /** Per-(session, dir) cache of the corpus shingle table — the single
    * most re-derived intermediate in the dedup family (q28, q106, q114,
    * q147 all start from it). Eagerly materialized once per dir, like
    * [[pairCache]]; at 100 TB this is a parquet checkpoint table the
    * pipeline stages share. Same immutable-dir contract as
    * [[graft.tables.Tables]]. */
  private val shingleCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache(s, dir) { (sess, d) =>
      shinglesOf(Tables.documents(sess, d)).localCheckpoint(true) }

  private val shinglesCte =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks)""".stripMargin

  /** Per-document MinHash signature via the native codegen expression
    * [[graft.functions.MinHashSigExpr]]: one compiled pass over the shingle
    * array, map-only — signs 100 TB at scan speed with zero shuffles.
    * (Both built-in formulations lose: explode+groupBy shuffles
    * 16×|shingles| rows; array lambdas run interpreted, measured 6×
    * slower. This is the SURVEY.md §7.3 custom-Expression case.) */
  private def withSig(s: SparkSession, dir: String): DataFrame =
    graft.util.Spread.kernelSpread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhash_shingle_sig(col("tk")).as("sig"))

  /** 16-permutation MinHash signature over 3-word shingles. */
  def q25MinHashSig(s: SparkSession, dir: String): DataFrame =
    withSig(s, dir)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h", "minh")))
      .orderBy(col("doc_id"), col("h"))

  val q25Sql: String =
    s"""WITH $shinglesCte,
       |tv AS (SELECT doc_id, ${tokvalSql("g")} AS tv FROM tri),
       |hs AS (SELECT h FROM range(16) t(h))
       |SELECT doc_id, h, min(${minhashTermSql("tv", "h")}) AS minh
       |FROM tv CROSS JOIN hs GROUP BY doc_id, h ORDER BY doc_id, h""".stripMargin

  // ---------------------------------------------------------------- C2: LSH candidate pairs + verify
  /** MinHash-LSH near-dup pipeline: signature → 4 bands × 4 rows → bucket
    * equi-join → exact shingle-Jaccard verification of candidates only.
    * The band key packs 4 minhash values with base-31 weights (integer,
    * cross-engine). Output is every candidate pair with its exact Jaccard.
    */
  def q26LshPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy(col("d1"), col("d2"))

  /** Per-(session, dir) cache of the verified near-dup pair table — the
    * materialized "signature store" of a real dedup pipeline. q26 (pair
    * listing) and q55 (cluster resolution) are two consumers of the same
    * intermediate; recomputing the signature + bucket join + exact verify
    * per consumer would double the most expensive stage in the suite. The
    * cached table is the VERIFIED pair list (tiny by construction — LSH
    * keeps candidates near-linear), eagerly materialized, never
    * corpus-sized. At 100 TB this is a parquet checkpoint table instead.
    *
    * Contract (inherited from [[graft.tables.Tables]]' relation cache):
    * a dir is immutable once read — rewriting documents.parquet in place
    * under a cached dir would serve stale pairs. Tests use a fresh tmp
    * dir per fixture for exactly this reason. Entries live until the
    * session stops (they pin their checkpoint blocks); the suite touches
    * a handful of dirs, each contributing a few KB of pairs. */
  private val pairCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  /** LSH candidate generation + exact verification, shared by q26 (pair
    * listing) and q55 (cluster resolution). Returns (d1, d2, jacc). */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    pairCache(s, dir) { (sess, d) => computeVerifiedPairs(sess, d) }

  /** (doc_id, band, bkey) LSH bucket rows: band b packs sig[4b..4b+3]
    * with base-31 weights into one key — a per-row expression over the
    * signature array; docs sharing any (band, key) are candidates. */
  private def bandBuckets(s: SparkSession, dir: String): DataFrame = {
    val bandKeys = transform(sequence(lit(0), lit(3)), b =>
      element_at(col("sig"), b * 4 + 1) +
      element_at(col("sig"), b * 4 + 2) * 31L +
      element_at(col("sig"), b * 4 + 3) * 961L +
      element_at(col("sig"), b * 4 + 4) * 29791L)
    withSig(s, dir)
      .select(col("doc_id"), posexplode(bandKeys).as(Seq("band", "bkey")))
  }

  /** Exact shingle-Jaccard per candidate pair: join the pair list back
    * to the (candidate-sized set of) texts, one fused-kernel pass per
    * pair — no corpus shingle explosion, no shingle-equality shuffle. */
  /** THE exact-Jaccard verify for candidate pair tables (LSH buckets,
    * PPJoin prefixes, SimHash bands all funnel here). Fast path: one
    * sorted-long merge per pair over the per-doc hashed shingle arrays
    * ([[hashedShingles]], certificate-gated exact); fallback: the
    * per-pair string kernel. */
  private def verifyPairs(s: SparkSession, dir: String, cands: DataFrame): DataFrame =
    hashedShingles(s, dir) match {
      case Some(arrs) =>
        cands
          .join(arrs.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
          .join(arrs.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
          .select(col("d1"), col("d2"), round(
            graft.functions.GraftFunctions.jaccard_sorted_longs(col("sh1"), col("sh2")), 4)
            .as("jacc"))
      case None =>
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        cands
          .join(toks.select(col("doc_id").as("d1"), col("tk").as("tk1")), Seq("d1"))
          .join(toks.select(col("doc_id").as("d2"), col("tk").as("tk2")), Seq("d2"))
          .select(col("d1"), col("d2"), round(
            graft.functions.GraftFunctions.jaccard_shingles(col("tk1"), col("tk2")), 4)
            .as("jacc"))
    }

  private def computeVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    // buckets feeds both sides of the self-join; persist for the join,
    // eagerly materialize the (tiny) candidate set via localCheckpoint,
    // then unpersist so NO cache — corpus-sized or otherwise — outlives
    // this call even though the returned plan still reads the candidates.
    // (At 100 TB: checkpoint the signature table to parquet instead.)
    val buckets = bandBuckets(s, dir).persist()
    val cands = buckets.as("b1")
      .join(buckets.as("b2"),
        col("b1.band") === col("b2.band") && col("b1.bkey") === col("b2.bkey") &&
        col("b1.doc_id") < col("b2.doc_id"))
      .select(col("b1.doc_id").as("d1"), col("b2.doc_id").as("d2"))
      .distinct()
      .localCheckpoint(true)   // forces while buckets is cached
    buckets.unpersist()
    verifyPairs(s, dir, cands)
      // eager: the cached entry must hold the (tiny) pair table itself, not
      // a lineage that re-scans the corpus on every consumer
      .localCheckpoint(true)
  }

  /** Oracle CTE chain ending at `verified(d1, d2, jacc)` — the SQL twin of
    * [[verifiedPairs]], shared by q26Sql and q55Sql. */
  private val verifiedCte: String =
    s"""$shinglesCte,
       |tv AS (SELECT doc_id, ${tokvalSql("g")} AS tv FROM tri),
       |hs AS (SELECT h FROM range(16) t(h)),
       |sig AS (SELECT doc_id, h, min(${minhashTermSql("tv", "h")}) AS minh
       |        FROM tv CROSS JOIN hs GROUP BY doc_id, h),
       |buckets AS (SELECT doc_id, h // 4 AS band,
       |        sum(minh * (CASE h % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS bkey
       |        FROM sig GROUP BY doc_id, band),
       |cands AS (SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
       |        FROM buckets b1 JOIN buckets b2
       |          ON b1.band = b2.band AND b1.bkey = b2.bkey AND b1.doc_id < b2.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT d1, d2, count(*) AS inter FROM cands
       |        JOIN tri ta ON ta.doc_id = d1 JOIN tri tb ON tb.doc_id = d2 AND ta.g = tb.g
       |        GROUP BY d1, d2),
       |verified AS (SELECT c.d1, c.d2,
       |  round(coalesce(i.inter, 0)::DOUBLE / (s1.sz + s2.sz - coalesce(i.inter, 0)), 4) AS jacc
       |FROM cands c LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
       |JOIN sizes s1 ON s1.doc_id = c.d1 JOIN sizes s2 ON s2.doc_id = c.d2)""".stripMargin

  val q26Sql: String =
    s"WITH $verifiedCte\nSELECT d1, d2, jacc FROM verified ORDER BY d1, d2"

  // ---------------------------------------------------------------- C2: SimHash
  /** 16-bit SimHash over word occurrences (weighted by multiplicity):
    * sign of the per-bit contribution sum over the token array, bits
    * packed to a long. Runs through the native codegen expression
    * [[graft.functions.SimHashExpr]] — one compiled pass hashing each
    * token once (the built-in formulation, which the equivalence spec
    * keeps as its reference, runs 16 interpreted aggregate lambdas per row).
    * Map-only: SimHashes 100 TB at scan speed with zero shuffles. */
  def q27SimHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash16(split(col("text"), " ")).as("simhash"))
      .orderBy(col("doc_id"))

  val q27Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tv AS (SELECT doc_id, ${tokvalSql("tok")} AS tv FROM toks),
       |bits AS (SELECT j FROM range(16) t(j)),
       |c AS (SELECT doc_id, j,
       |        sum(CASE WHEN (tv * (j * 2 + 3)) % 65536 >= 32768 THEN 1 ELSE -1 END) AS csum
       |      FROM tv CROSS JOIN bits GROUP BY doc_id, j)
       |SELECT doc_id, sum(CASE WHEN csum > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C2: exact n-gram Jaccard (bounded ground truth)
  /** Exact 3-gram Jaccard over a bounded doc_id prefix — the ground-truth
    * twin of q26. The bound keeps the pair space constant as the corpus
    * scales; full-corpus near-dup always goes through LSH. */
  def q28TrigramJaccard(s: SparkSession, dir: String): DataFrame = {
    val tri = docShingles(s, dir).filter(col("doc_id") < 200)
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    tri.as("a").join(tri.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "s1"), Seq("d1"))
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "s2"), Seq("d2"))
      .withColumn("jacc", round(col("inter").cast("double") / (col("s1") + col("s2") - col("inter")), 4))
      .filter(col("jacc") >= 0.05)
      .select(col("d1"), col("d2"), col("inter"), col("jacc"))
      .orderBy(col("d1"), col("d2"))
  }

  val q28Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 200),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT d1, d2, inter,
       |  round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS jacc
       |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) >= 0.05
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- C2: MinHash accuracy audit
  /** MinHash estimation error against exact Jaccard — the sketch-trust
    * audit for the dedup path (q174's role for the ANN path): over q28's
    * bounded ground-truth pair set, the signature estimate
    * (matching components / 16) is compared to the exact shingle
    * Jaccard. E[est] = J by the MinHash property; this query measures
    * the realized |err| at 16 permutations so the band/row LSH config
    * (q26) is chosen from data, not folklore. All-integer component
    * matching (zip_with equality), est is an exact /16 decimal — fully
    * engine-invariant. Scale: the pair set is the bounded audit sample;
    * signatures come from the same one-pass native expression the
    * production path signs with. */
  /** Bounded exact-Jaccard ground-truth pair sample (doc_id < 500,
    * round-4, ≥ 0.05) — the audit table q177 (signature accuracy) and
    * q200 (band calibration) both measure against; one definition so the
    * two calibration queries can never de-sync. */
  private def exactSamplePairs(s: SparkSession, dir: String): DataFrame = {
    val tri = docShingles(s, dir).filter(col("doc_id") < 500)
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    tri.as("a")
      .join(tri.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "s1"), Seq("d1"))
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "s2"), Seq("d2"))
      .withColumn("exact",
        round(col("inter").cast("double") / (col("s1") + col("s2") - col("inter")), 4))
      .filter(col("exact") >= 0.05)
      .select(col("d1"), col("d2"), col("exact"))
  }

  /** MinHash estimator accuracy audit: compares banded-LSH candidate Jaccard estimates against exact shingle Jaccard on verified pairs, binned by true similarity — the measurement that justifies the band configuration. */
  def q177MinhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    val pairs = exactSamplePairs(s, dir)
    val sig = withSig(s, dir).filter(col("doc_id") < 500)
    pairs
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("sa")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("sb")), Seq("d2"))
      .withColumn("n_match",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), m => m)).cast("long"))
      .select(col("d1"), col("d2"), col("n_match"),
        round(col("n_match") / 16.0, 4).as("est"), col("exact"),
        round(abs(round(col("n_match") / 16.0, 4) - col("exact")), 4).as("abs_err"))
      .orderBy(col("d1"), col("d2"))
  }

  val q177Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 500),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2,
       |            round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS exact
       |          FROM inter JOIN sizes s1 ON s1.doc_id = d1
       |                     JOIN sizes s2 ON s2.doc_id = d2
       |          WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) >= 0.05),
       |tv AS (SELECT doc_id, ${tokvalSql("g")} AS tv FROM tri),
       |hs AS (SELECT h FROM range(16) t(h)),
       |sig AS (SELECT doc_id, h, min(${minhashTermSql("tv", "h")}) AS minh
       |        FROM tv CROSS JOIN hs GROUP BY doc_id, h),
       |m AS (SELECT p.d1, p.d2,
       |        CAST(count(*) FILTER (WHERE sa.minh = sb.minh) AS BIGINT) AS n_match
       |      FROM pairs p JOIN sig sa ON sa.doc_id = p.d1
       |                   JOIN sig sb ON sb.doc_id = p.d2 AND sb.h = sa.h
       |      GROUP BY 1, 2)
       |SELECT m.d1, m.d2, m.n_match, round(m.n_match / 16.0, 4) AS est, p.exact,
       |       round(abs(round(m.n_match / 16.0, 4) - p.exact), 4) AS abs_err
       |FROM m JOIN pairs p ON p.d1 = m.d1 AND p.d2 = m.d2
       |ORDER BY m.d1, m.d2""".stripMargin

  // ---------------------------------------------------------------- q200: LSH band calibration curve
  /** LSH banding calibration — q177's sequel, auditing the BUCKETING
    * rather than the signatures: for the 4-band × 4-row config, theory
    * says a pair with true Jaccard j is detected (shares ≥1 band bucket)
    * with probability 1−(1−j⁴)⁴ — the S-curve every LSH parameter choice
    * is read off of. This query measures the realized detection rate per
    * Jaccard decile against that curve over the bounded ground-truth
    * pair set, so the q26 band/row setting is validated against DATA.
    *
    * Determinism: the curve is evaluated with explicit multiplications
    * (j·j·j·j — IEEE-identical everywhere; no pow()), truncated to
    * integer 10⁻⁴ units via floor; detection is an integer flag from the
    * same band-key equi-join the production path uses; observed rates
    * and the per-decile mean curve are integer-half-up divisions.
    * Scale: pairs come from the bounded audit sample (doc_id < 500);
    * the bucket join is the production q26 candidate join restricted to
    * the sample. */
  def q200BandCalibration(s: SparkSession, dir: String): DataFrame = {
    val pairs = exactSamplePairs(s, dir)
    val buckets = bandBuckets(s, dir).filter(col("doc_id") < 500)
    val det = buckets.as("b1")
      .join(buckets.as("b2"),
        col("b1.band") === col("b2.band") && col("b1.bkey") === col("b2.bkey") &&
        col("b1.doc_id") < col("b2.doc_id"))
      .select(col("b1.doc_id").as("d1"), col("b2.doc_id").as("d2"))
      .distinct()
      .withColumn("det", lit(1L))
    val j = col("exact")
    val j4 = j * j * j * j
    val t = lit(1.0) - j4
    pairs.join(det, Seq("d1", "d2"), "left")
      .withColumn("det", coalesce(col("det"), lit(0L)))
      .withColumn("theory4", floor((lit(1.0) - t * t * t * t) * 10000).cast("long"))
      .withColumn("decile", least(floor(j * 10).cast("long"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("det")).as("n_detected"),
        sum(col("theory4")).as("st"))
      .select(col("decile"), col("n_pairs"), col("n_detected"),
        (expr("(n_detected * 20000 + n_pairs) DIV (2 * n_pairs)").cast("double") / 10000.0)
          .as("obs_rate"),
        (expr("(st * 2 + n_pairs) DIV (2 * n_pairs)").cast("double") / 10000.0)
          .as("mean_theory"))
      .orderBy(col("decile"))
  }

  val q200Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 500),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2,
       |            round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS exact
       |          FROM inter JOIN sizes s1 ON s1.doc_id = d1
       |                     JOIN sizes s2 ON s2.doc_id = d2
       |          WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) >= 0.05),
       |tv AS (SELECT doc_id, ${tokvalSql("g")} AS tv FROM tri),
       |hs AS (SELECT h FROM range(16) t(h)),
       |sig AS (SELECT doc_id, h, min(${minhashTermSql("tv", "h")}) AS minh
       |        FROM tv CROSS JOIN hs GROUP BY doc_id, h),
       |buckets AS (SELECT doc_id, h // 4 AS band,
       |        sum(minh * (CASE h % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS bkey
       |        FROM sig GROUP BY doc_id, band),
       |det AS (SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
       |        FROM buckets b1 JOIN buckets b2
       |          ON b1.band = b2.band AND b1.bkey = b2.bkey AND b1.doc_id < b2.doc_id),
       |a AS (SELECT p.exact,
       |        CASE WHEN d.d1 IS NULL THEN 0 ELSE 1 END AS det,
       |        CAST(floor((1.0 - (1.0 - p.exact*p.exact*p.exact*p.exact)
       |                        * (1.0 - p.exact*p.exact*p.exact*p.exact)
       |                        * (1.0 - p.exact*p.exact*p.exact*p.exact)
       |                        * (1.0 - p.exact*p.exact*p.exact*p.exact)) * 10000) AS BIGINT) AS theory4,
       |        least(CAST(floor(p.exact * 10) AS BIGINT), 9) AS decile
       |      FROM pairs p LEFT JOIN det d ON d.d1 = p.d1 AND d.d2 = p.d2)
       |SELECT decile, count(*) AS n_pairs, sum(det)::BIGINT AS n_detected,
       |  ((sum(det) * 20000 + count(*)) // (2 * count(*)))::DOUBLE / 10000.0 AS obs_rate,
       |  ((sum(theory4) * 2 + count(*)) // (2 * count(*)))::DOUBLE / 10000.0 AS mean_theory
       |FROM a GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- C2: cluster resolution (the dedup "keep" step)
  /** Library operator: connected components by iterative min-label
    * propagation over an edge list — the step that turns near-dup PAIRS
    * into dedup CLUSTERS (A~B, B~C ⇒ {A,B,C} even when A~C was never a
    * candidate pair).
    *
    * Scale design: the iteration runs only over the near-dup subgraph
    * (nodes that appear in at least one edge), which is a small fraction
    * of the corpus by construction. Each round is one shuffle keyed by
    * node id; rounds = component diameter (near-dup clusters are
    * near-cliques, so 2–3 in practice; hard cap documents the bound).
    * Per-round persistence keeps lineage from growing exponentially; the
    * final labels are localCheckpoint'ed so every intermediate cache can
    * be dropped before returning. Returns (node, cluster). */
  def connectedComponents(pairs: DataFrame, a: String, b: String, maxIters: Int = 20,
                          driverThreshold: Long = 100000L): DataFrame = {
    val sym = pairs.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
    val edges = sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    val nEdges = edges.count()
    // The near-dup edge list is orders of magnitude smaller than the
    // corpus; below the threshold a driver-side union-find resolves it in
    // one pass instead of diameter-many distributed rounds (each a shuffle
    // + convergence-check job). Above it, fall through to the iterative
    // distributed path — same labels either way (min id per component).
    // (nEdges counts the symmetrized list, 2× the undirected pairs.)
    if (nEdges <= 2 * driverThreshold) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
      edges.collect().foreach { row =>
        val (s, d) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
      }
      edges.unpersist(false)
      import spark.implicits._
      return parent.keys.toSeq.sorted.map(n => (n, find(n))).toDF("node", "cluster")
    }
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).persist()
    val persisted = scala.collection.mutable.Buffer[DataFrame](edges, labels)
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val nbrMin = edges.as("e").join(labels.as("l"), col("e.dst") === col("l.node"))
          .groupBy(col("e.src").as("node")).agg(min(col("l.lbl")).as("nlbl"))
        val prev = labels
        val step = labels.withColumnRenamed("lbl", "old")
          .join(nbrMin, Seq("node"), "left")
          .select(col("node"), col("old"),
            least(col("old"), coalesce(col("nlbl"), col("old"))).as("lbl"))
          .persist()
        persisted += step
        changed = step.filter(col("lbl") < col("old")).count()
        // the count above materialized `step`; the SUPERSEDED round's
        // labels are dead — dropping them now keeps cache at O(2·nodes)
        // instead of O(rounds·nodes) on deep graphs
        prev.unpersist(false)
        labels = step.select(col("node"), col("lbl"))
        iter += 1
      }
      // Unconverged labels are WRONG labels (a component reported as
      // several clusters) — fail loudly rather than return them.
      require(changed == 0,
        s"connectedComponents did not converge in $maxIters rounds " +
        s"(component diameter exceeds the cap); raise maxIters")
      labels.select(col("node"), col("lbl").as("cluster")).localCheckpoint(true)
    } finally persisted.foreach(_.unpersist(false))
  }

  /** Per-(session, dir) near-dup cluster table — one stage above
    * [[pairCache]]: q55 (keep-lowest-id flags) and q79 (quality-aware
    * canonical selection) both resolve components over the same
    * jacc ≥ 0.5 edges, so the symmetrize/distinct/union-find pipeline
    * runs once. Same immutable-dir contract as pairCache; the table is
    * one row per near-dup-subgraph node, already materialized by
    * [[connectedComponents]]. */
  private val clusterCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  private def clustersOf(s: SparkSession, dir: String): DataFrame =
    clusterCache(s, dir) { (sess, d) =>
      val edges = verifiedPairs(sess, d).filter(col("jacc") >= 0.5)
        .select(col("d1"), col("d2"))
      connectedComponents(edges, "d1", "d2")
    }

  /** End-to-end near-dup cluster resolution: LSH pairs (jacc ≥ 0.5) →
    * connected components → per-doc cluster id, cluster size, and the
    * keep flag (lowest doc_id per cluster survives). This is the final
    * step of MinHash dedup a training-data pipeline actually acts on. */
  def q55DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val comp = clustersOf(s, dir)
    val sizes = comp.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("cluster"))
      .select(col("node").as("doc_id"), col("cluster"), col("csize"),
        when(col("node") === col("cluster"), lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** CTE chain ending at `comp(doc_id, cluster)` — the SQL twin of
    * verifiedPairs + connectedComponents, shared by q55Sql and q79Sql.
    * Must run under WITH RECURSIVE (the `reach` closure). */
  private val clusterCtes: String =
    s"""$verifiedCte,
       |e AS (SELECT d1, d2 FROM verified WHERE jacc >= 0.5
       |      UNION ALL SELECT d2, d1 FROM verified WHERE jacc >= 0.5),
       |reach AS (SELECT d1 AS n, d1 AS r FROM e
       |          UNION
       |          SELECT e.d1, re.r FROM e JOIN reach re ON re.n = e.d2),
       |comp AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n)""".stripMargin

  val q55Sql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cs AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY cluster)
       |SELECT c.doc_id, c.cluster, cs.csize,
       |       CASE WHEN c.doc_id = c.cluster THEN 1 ELSE 0 END AS keep
       |FROM comp c JOIN cs USING (cluster)
       |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q197: star-linked cluster resolution (clique-safe)
  /** Per-(session, dir) star-resolved cluster table — the q197 sibling
    * of [[clusterCache]]: the star-link resolution is a corpus artifact
    * (one row per near-dup-subgraph node) a pipeline materializes once
    * and reads from every consumer. */
  private val starClusterCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  private def starClustersOf(s: SparkSession, dir: String): DataFrame =
    starClusterCache(s, dir) { (sess, d) =>
      val buckets = bandBuckets(sess, d).persist()
      // one representative per (band, bucket): min doc id — an aggregate +
      // equi-join, never a bucket self-join
      val reps = buckets.groupBy(col("band"), col("bkey")).agg(min(col("doc_id")).as("d1"))
      val stars = buckets.join(reps, Seq("band", "bkey"))
        .filter(col("doc_id") > col("d1"))
        .select(col("d1"), col("doc_id").as("d2"))
        .distinct()
        .localCheckpoint(true)   // forces while buckets is cached
      buckets.unpersist()
      val edges = verifyPairs(sess, d, stars).filter(col("jacc") >= 0.5)
        .select(col("d1"), col("d2"))
      connectedComponents(edges, "d1", "d2") // already checkpointed
    }

  /** Near-dup clusters via STAR linking — the clique-safe alternative to
    * q55's all-pairs candidate enumeration, motivated by the measured
    * 10× probe (SCALE.md): on a corpus with dup-cliques of size m, a
    * bucket holds m mutual near-dups and the pairwise candidate join
    * emits C(m,2) pairs — viral boilerplate with 10⁶ copies means 10¹²
    * candidates, unrunnable anywhere. Star linking instead joins each
    * bucket member to the bucket's MIN doc id: O(m) edges per bucket,
    * strictly output-linear, and connected components over the verified
    * stars still resolve every transitive clique (each member shares a
    * verified edge with the representative).
    *
    * Semantics note (the documented trade): a bucket member whose exact
    * Jaccard to the REPRESENTATIVE fails the threshold drops its edge
    * even if it would have verified against some other member — each of
    * the 4 bands contributes an independent representative, so a true
    * near-dup pair is lost only if it fails rep-verification in ALL its
    * shared bands. On transitive clique corpora (re-scrapes, mirrors —
    * the case that breaks all-pairs) star and all-pairs clusters are
    * identical; the oracle pins the star semantics exactly. */
  def q197StarClusters(s: SparkSession, dir: String): DataFrame = {
    val comp = starClustersOf(s, dir)
    val sizes = comp.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("cluster"))
      .select(col("node").as("doc_id"), col("cluster"), col("csize"),
        when(col("node") === col("cluster"), lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q197Sql: String =
    s"""WITH RECURSIVE $shinglesCte,
       |tv AS (SELECT doc_id, ${tokvalSql("g")} AS tv FROM tri),
       |hs AS (SELECT h FROM range(16) t(h)),
       |sig AS (SELECT doc_id, h, min(${minhashTermSql("tv", "h")}) AS minh
       |        FROM tv CROSS JOIN hs GROUP BY doc_id, h),
       |buckets AS (SELECT doc_id, h // 4 AS band,
       |        sum(minh * (CASE h % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS bkey
       |        FROM sig GROUP BY doc_id, band),
       |reps AS (SELECT band, bkey, min(doc_id) AS rep FROM buckets GROUP BY band, bkey),
       |stars AS (SELECT DISTINCT r.rep AS d1, b.doc_id AS d2
       |        FROM reps r JOIN buckets b ON b.band = r.band AND b.bkey = r.bkey
       |        WHERE b.doc_id > r.rep),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT d1, d2, count(*) AS inter FROM stars
       |        JOIN tri ta ON ta.doc_id = d1 JOIN tri tb ON tb.doc_id = d2 AND ta.g = tb.g
       |        GROUP BY d1, d2),
       |ve AS (SELECT c.d1, c.d2 FROM stars c
       |        LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
       |        JOIN sizes s1 ON s1.doc_id = c.d1 JOIN sizes s2 ON s2.doc_id = c.d2
       |        WHERE round(coalesce(i.inter, 0)::DOUBLE / (s1.sz + s2.sz - coalesce(i.inter, 0)), 4) >= 0.5),
       |e AS (SELECT d1, d2 FROM ve UNION ALL SELECT d2, d1 FROM ve),
       |reach AS (SELECT d1 AS n, d1 AS r FROM e
       |          UNION
       |          SELECT e.d1, re.r FROM e JOIN reach re ON re.n = e.d2),
       |comp AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n),
       |cs AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY cluster)
       |SELECT c.doc_id, c.cluster, cs.csize,
       |       CASE WHEN c.doc_id = c.cluster THEN 1 ELSE 0 END AS keep
       |FROM comp c JOIN cs USING (cluster)
       |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q131: duplication report by source
  /** Per-source duplication report — the dataset-card number a curation
    * run publishes: how much of each source is near-duplicate, and how
    * much survives canonical selection. Reuses the cached cluster table
    * (one LSH+union-find resolution serves q55/q79/q131); the report is
    * a broadcast-dim join + one aggregation over doc-grain rows. */
  def q131DupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val comp = clustersOf(s, dir)       // near-dup subgraph members only
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster").isNotNull, 1L).otherwise(0L)).as("n_dup_members"),
        sum(when(col("cluster").isNotNull && col("doc_id") =!= col("cluster"), 1L)
          .otherwise(0L)).as("n_dropped"))
      .withColumn("dup_rate",
        round(col("n_dup_members").cast("double") / col("n_docs"), 4))
      .withColumn("survival_rate",
        round((col("n_docs") - col("n_dropped")).cast("double") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  val q131Sql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN c.cluster IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_members,
       |  CAST(sum(CASE WHEN c.cluster IS NOT NULL AND d.doc_id <> c.cluster
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  round(sum(CASE WHEN c.cluster IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*), 4) AS dup_rate,
       |  round((count(*) - sum(CASE WHEN c.cluster IS NOT NULL AND d.doc_id <> c.cluster
       |                             THEN 1 ELSE 0 END))::DOUBLE / count(*), 4)
       |    AS survival_rate
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------- q132: cross-source leakage
  /** Exact-text leakage across sources — the same document appearing
    * under two different sources is a provenance bug (or a crawl echo)
    * that per-source dedup misses by construction. One text-keyed
    * aggregation (at 100 TB: key on xxhash64(text) and verify within
    * group, as with q24); rows are only emitted for leaked texts, with
    * the source list made deterministic by sorting. */
  def q132CrossSourceLeak(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("first_doc"),
        array_sort(collect_set(col("source"))).as("sources"))
      .filter(col("n_sources") >= 2)
      .select(col("first_doc"), col("n_sources"), col("n_copies"),
        col("sources"), length(col("text")).as("text_len"))
      .orderBy(col("first_doc"))

  val q132Sql: String =
    """SELECT min(doc_id) AS first_doc,
      |       count(DISTINCT source) AS n_sources,
      |       count(*) AS n_copies,
      |       list_sort(list(DISTINCT source)) AS sources,
      |       length(text) AS text_len
      |FROM documents
      |GROUP BY text HAVING count(DISTINCT source) >= 2
      |ORDER BY first_doc""".stripMargin

  // ---------------------------------------------------------------- C2/C4: decontamination (overlap vs a reference set)
  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` 3-gram shingles with a PROBE set (the eval/benchmark
    * texts) — the train/test-overlap guard of a training-data pipeline.
    * Unlike near-dup dedup (corpus × corpus), this is corpus × small
    * reference set: distinct probe shingles are a bounded dictionary, so
    * the join is an equi-join against a broadcastable side and the corpus
    * never self-joins. Shingle-level (not token-level) matching keeps the
    * overlap signal phrase-shaped, the standard n-gram decontamination
    * scheme. */
  def contaminated(docs: DataFrame, probes: DataFrame, minShared: Long): DataFrame = {
    val probeShingles = shinglesOf(probes).select(col("g")).distinct()
    // corpus side: shingling is the heavy per-row kernel and the consumer
    // is a doc_id-grain aggregate (no hot keys), so the spread wins; the
    // probe side stays tiny and unspread
    shinglesOf(graft.util.Spread.kernelSpread(docs))
      .join(broadcast(probeShingles), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Oracle-checked form: probes = doc_id < 10, corpus = the rest,
    * contamination threshold 5 shared shingles. */
  def q70Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(s, dir)
    contaminated(all.filter(col("doc_id") >= 10), all.filter(col("doc_id") < 10), 5L)
      .orderBy(col("doc_id"))
  }

  val q70Sql: String =
    s"""WITH $shinglesCte,
       |probe AS (SELECT DISTINCT g FROM tri WHERE doc_id < 10)
       |SELECT t.doc_id, count(*) AS n_shared
       |FROM tri t JOIN probe p ON t.g = p.g
       |WHERE t.doc_id >= 10
       |GROUP BY t.doc_id HAVING count(*) >= 5 ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- C2: fuzzy (edit-distance) matching
  /** Fuzzy record matching by edit distance — the record-linkage flavor
    * of dedup (typo'd names), complementing the shingle/Jaccard path
    * (re-ordered phrases). Bounded to a key prefix like q28: the exact
    * all-pairs form is the ground truth; the scale path blocks first
    * (length band + first-char here, LSH for text) so candidate pairs
    * stay near-linear, then verifies with the same levenshtein. */
  def q73FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_partkey") < 100)
      .select(col("p_partkey"), col("p_name"))
    p.as("a").join(p.as("b"),
        col("a.p_partkey") < col("b.p_partkey") &&
        // blocking: candidates must agree on first letter and ±3 length
        substring(col("a.p_name"), 1, 1) === substring(col("b.p_name"), 1, 1) &&
        abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 3)
      .select(col("a.p_partkey").as("k1"), col("b.p_partkey").as("k2"),
        levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("k1"), col("k2"))
  }

  val q73Sql: String =
    """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
      |       levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON a.p_partkey < b.p_partkey
      | AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
      | AND abs(length(a.p_name) - length(b.p_name)) <= 3
      |WHERE a.p_partkey < 100 AND b.p_partkey < 100
      |  AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY k1, k2""".stripMargin

  // ---------------------------------------------------------------- C2: sub-document (span-level) dedup
  /** Repeated-span detection at sub-document granularity: chunk each
    * document into consecutive 8-token spans and measure, per document,
    * the fraction of its spans that also occur verbatim in ANOTHER
    * document — the chunk-level approximation of exact-substring dedup
    * (boilerplate headers, license blocks, copy-paste). Chunking is a
    * pure map stage; the only shuffle groups span hashes (at 100 TB,
    * group on a span hash, not the span text, and verify within group).
    * Spans repeated only within one document don't count — this measures
    * cross-document contamination, intra-doc repetition is q56. */
  def q77SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val tk = col("tk")
    // spread before the chunk kernel: chunk keys are 8-token spans
    // (near-unique, no hot-key partial-agg loss) and the persisted chunk
    // cache inherits the 32-way layout, so both consumers' map sides run
    // parallel instead of over one cached partition
    val chunks = graft.util.Spread.kernelSpread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(tk) >= 8)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), (size(tk) / 8).cast("int") - 1),
        i => array_join(slice(tk, i * 8 + 1, lit(8)), " "))).as("chunk"))
    // chunks feeds both the spread aggregate and the join: persist so the
    // scan + chunk explosion runs once; the doc-level result is small, so
    // an eager localCheckpoint releases the span-level cache on return.
    // (At 100 TB the span stream is corpus-sized — checkpoint to parquet
    // or recompute per consumer rather than caching it.)
    chunks.persist()
    try {
      val spread = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(spread, Seq("chunk"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup").cast("double") / col("n_spans"), 4))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally chunks.unpersist(false)
  }

  val q77Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |              WHERE len(string_split(text, ' ')) >= 8),
      |ex AS (SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS tok,
      |              len(tk) AS n FROM toks),
      |chunks AS (SELECT doc_id, (i - 1) // 8 AS ci, string_agg(tok, ' ' ORDER BY i) AS chunk
      |           FROM ex WHERE (i - 1) // 8 < n // 8 GROUP BY doc_id, ci, n),
      |spread AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk)
      |SELECT c.doc_id, count(*) AS n_spans,
      |       (sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END))::BIGINT AS n_dup,
      |       round(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_frac
      |FROM chunks c JOIN spread s USING (chunk)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- C2: bloom-filter decontamination (scale path for q70)
  /** Decontamination with a Bloom pre-screen: build a Bloom filter over
    * the probe set's distinct shingles (driver-side, broadcast in the
    * filter closure — the manual form of Spark's own runtime bloom
    * filters), drop ~99% of corpus shingles before the exact equi-join
    * verifies the survivors. The result is EXACTLY the exact-join answer
    * — the bloom layer only prunes, false positives are caught by the
    * verify join — which is what makes this oracle-checkable. At 100 TB
    * the bloom screen is what keeps the shuffled corpus-side volume
    * proportional to the (tiny) contaminated fraction rather than the
    * corpus shingle count. */
  def q78BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(s, dir)
    // eagerly materialize the (dictionary-sized) probe shingles once: the
    // bloom build is its own job at call time and the verify join reads
    // the set again — without this the probe scan + shingling runs twice
    val probeShingles = shinglesOf(all.filter(col("doc_id") % 50 === 0))
      .select(col("g")).distinct()
      .localCheckpoint(true)
    val bf = probeShingles.stat.bloomFilter("g", 200000L, 0.01)
    val mightContain = udf((g: String) => g != null && bf.mightContain(g))
    shinglesOf(graft.util.Spread.kernelSpread(all.filter(col("doc_id") % 50 =!= 0)))
      .filter(mightContain(col("g")))
      .join(broadcast(probeShingles), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  val q78Sql: String =
    s"""WITH $shinglesCte,
       |probe AS (SELECT DISTINCT g FROM tri WHERE doc_id % 50 = 0)
       |SELECT t.doc_id, count(*) AS n_shared
       |FROM tri t JOIN probe p ON t.g = p.g
       |WHERE t.doc_id % 50 <> 0
       |GROUP BY t.doc_id HAVING count(*) >= 3 ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- C2: canonical selection (quality-aware keep)
  /** Canonical-document selection: within each near-dup cluster keep the
    * HIGHEST-QUALITY member (ties → lowest doc_id), not the arbitrary
    * lowest id — the quality-aware form of q55's keep flag, using THE
    * shared corpus quality definition ([[TextAnalysis.qualityCol]]) so
    * curation can never select on a different metric than it reports.
    * One argmax aggregate per cluster (lexicographic struct max — no
    * window sort), over the near-dup subgraph only. */
  def q79CanonicalSelect(s: SparkSession, dir: String): DataFrame = {
    val comp = clustersOf(s, dir)
    val qual = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.qualityCol.as("q"))
    comp.join(qual, col("node") === col("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("q").as("q"), (-col("node")).as("negid"))).as("best"))
      .select(col("cluster"), col("csize"),
        (-col("best.negid")).as("canonical"), col("best.q").as("quality"))
      .orderBy(col("cluster"))
  }

  val q79Sql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |q AS (SELECT doc_id, ${TextAnalysis.qualitySqlExpr} AS q FROM documents),
       |b AS (SELECT c.cluster, count(*) AS csize,
       |        max(struct_pack(q := q.q, negid := -c.doc_id)) AS best
       |      FROM comp c JOIN q ON q.doc_id = c.doc_id GROUP BY c.cluster)
       |SELECT cluster, csize, -(best.negid) AS canonical, best.q AS quality
       |FROM b ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------- C2: shingle containment (doc-inside-doc)
  /** Shingle CONTAINMENT C(A,B) = |S(A)∩S(B)| / min(|S(A)|,|S(B)|) — the
    * asymmetric near-dup measure that catches a document embedded inside
    * a larger one (quote farms, concatenated crawls), which Jaccard
    * misses: a 100-shingle doc inside a 10000-shingle doc has J ≈ 0.01
    * but C ≈ 1. Bounded to the q28 doc_id prefix as exact ground truth;
    * the scale path generates candidates with the same LSH band join
    * (containment-biased variants hash a prefix of the smaller doc). */
  def q106Containment(s: SparkSession, dir: String): DataFrame = {
    val tri = docShingles(s, dir).filter(col("doc_id") < 200)
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    tri.as("a").join(tri.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "s1"), Seq("d1"))
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "s2"), Seq("d2"))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("s1"), col("s2")), 4))
      .filter(col("containment") >= 0.1)
      .select(col("d1"), col("d2"), col("inter"),
        least(col("s1"), col("s2")).as("min_sz"), col("containment"))
      .orderBy(col("d1"), col("d2"))
  }

  val q106Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 200),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT d1, d2, inter, least(s1.sz, s2.sz)::BIGINT AS min_sz,
       |  round(inter::DOUBLE / least(s1.sz, s2.sz), 4) AS containment
       |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE round(inter::DOUBLE / least(s1.sz, s2.sz), 4) >= 0.1
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- q114: n-gram novelty
  /** Per-document n-gram novelty: the share of a doc's distinct trigrams
    * that NO earlier doc (doc_id order = ingestion order) already
    * contains — the streaming-corpus "how much new text is this really"
    * screen (MassiveText-style duplicate-n-gram filtering, inverted).
    * Computed without any per-prefix re-scan OR corpus-sized join: the
    * trigram-keyed min(doc_id) aggregation assigns each trigram to the
    * doc that introduced it, so n_novel(d) is a COUNT over that
    * vocabulary-sized table — the trigram stream itself is never joined.
    * Two aggregations of the trigram stream (doc key for totals, trigram
    * key for first-occurrence, both with map-side combine) + one
    * doc-grain join of two small tables — the same plan shape at 100 TB
    * (where the trigram key would hash to int64 first to cut shuffle
    * bytes; here it stays the exact string for oracle parity). */
  def q114NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val tri = docShingles(s, dir)
    tri.persist()
    try {
      val totals = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      val novel = tri.groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      totals.join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_tri"), 4))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally tri.unpersist(false)
  }

  val q114Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |tri AS (SELECT DISTINCT doc_id, unnest(${shingles3Sql("tk")}) AS g FROM toks),
       |f AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g)
       |SELECT t.doc_id, count(*) AS n_tri,
       |       CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       round(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)::DOUBLE
       |             / count(*), 4) AS novelty
       |FROM tri t JOIN f USING (g)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q117: tf-idf sparse cosine
  /** Sparse tf-idf cosine similarity join — the third similarity notion
    * next to set-based MinHash/Jaccard (q26/q28) and dense-embedding
    * cosine (q54): docs as sparse token vectors weighted tf·N/df
    * (rational idf, like q58 — logs aren't bit-portable across engines),
    * paired through the shared-token inverted index. Bounded to
    * doc_id < 200 as exact ground truth (the LSH family is the scale
    * path; at 100 TB the pair join keys on the token with df-descending
    * prefix filtering — rare tokens first — to keep candidate pairs
    * near-linear). */
  def q117SparseCosine(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the tiny tf table once: four consumers (n, df, norms, pairs)
    // read the materialized rows instead of re-parsing text each time
    val tf = Tables.documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val nDocs = tf.select(col("doc_id")).distinct().count().toDouble
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = tf
      .join(broadcast(df), Seq("tok"))
      .select(col("doc_id"), col("tok"), col("df"),
        (col("tf").cast("double") * lit(nDocs)
          / col("df").cast("double")).as("w"))
    val norms = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // df=1 tokens pair with nobody (the self-pair dies on d1<d2) — prune
    // them from BOTH pair-join inputs; they still count in the norms.
    // nrm rides along on each side (ONE broadcast of norms, constant per
    // doc, reduced with max) instead of two post-aggregate re-joins; dot
    // stays the unnormalized sum(a.w*b.w) for oracle float parity.
    val wp = w.filter(col("df") >= 2).drop("df")
      .join(broadcast(norms), Seq("doc_id"))
    wp.as("a").join(broadcast(wp.as("b")),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"),
           max(col("a.nrm")).as("n1"), max(col("b.nrm")).as("n2"))
      .withColumn("cos", round(col("dot") / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= 0.85)
      .select(col("d1"), col("d2"), col("cos"))
      .orderBy(col("d1"), col("d2"))
  }

  val q117Sql: String =
    """WITH d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |           FROM documents WHERE doc_id < 200),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM d GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |w AS (SELECT tf.doc_id, tf.tok,
      |             tf.tf::DOUBLE * n.n::DOUBLE / dfreq.df::DOUBLE AS w
      |      FROM tf CROSS JOIN n JOIN dfreq ON dfreq.tok = tf.tok),
      |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
      |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.w * b.w) AS dot
      |         FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2),
      |cos AS (SELECT d1, d2,
      |               round(dot / (na.nrm * nb.nrm), 4) AS cos
      |        FROM dots JOIN norms na ON na.doc_id = d1
      |                  JOIN norms nb ON nb.doc_id = d2)
      |SELECT d1, d2, cos FROM cos WHERE cos >= 0.85 ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- q144: SimHash Hamming near-dup
  /** SimHash Hamming near-dup pairs — the missing step between the per-doc
    * SimHash signature (q27) and a usable near-dup join: all pairs with
    * Hamming distance ≤ 5 on the 60-bit signature, found WITHOUT an
    * all-pairs scan. The 60 bits split into 6 disjoint 10-bit bands;
    * d(a,b) ≤ 5 means at most 5 bands contain a differing bit, so at
    * least one band is identical (pigeonhole) — the band equi-join is
    * therefore provably exhaustive and the result is EXACT, not
    * approximate, which is what makes it oracle-checkable against the
    * brute-force DuckDB pair scan. Cost: signature is one map-only
    * compiled pass (simhash60 native expression), blocking is 6 rows/doc
    * through a (band, value) equi-join — corpus-linear like q26's
    * MinHash-LSH; only within-bucket candidates pay the bit_count verify.
    * At 100 TB: same shape with wider signatures (128 bit) and more
    * bands; bucket skew is bounded because a 10-bit band splits any
    * corpus 1024 ways. */
  def q144SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val sigs = graft.util.Spread.kernelSpread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash60(split(col("text"), " ")).as("sh"))
    val bands = sigs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 6).map(b =>
        shiftrightunsigned(col("sh"), b * 10).bitwiseAND(lit(1023L))): _*)).as(Seq("b", "bv")))
    bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= 5)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  val q144Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tv AS (SELECT doc_id, ${tokvalSql("tok")} AS tv FROM toks),
       |bits AS (SELECT j FROM range(60) t(j)),
       |c AS (SELECT doc_id, j,
       |        sum(CASE WHEN (tv * (j * 2 + 3)) % 65536 >= 32768 THEN 1 ELSE -1 END) AS csum
       |      FROM tv CROSS JOIN bits GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, sum(CASE WHEN csum > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS sh
       |        FROM c GROUP BY doc_id)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 5
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- q147: exact similarity join via prefix filtering
  /** Per-(session, dir) PPJoin PREFIX INDEX at t = 0.8 — the checkpointed
    * artifact a production similarity-join pipeline builds once per
    * corpus snapshot and probes many times (the threshold is part of the
    * cache key, so another t would build its own index). Built off the
    * shared shingle table; rarest-first order, one row per prefix
    * shingle. */
  private val prefixCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  /** Per-(session, dir) document-frequency table over the shared shingle
    * table — vocab-sized, shared by the prefix index (rarest-first
    * ordering) and the hashed-verify certificate (injectivity check), so
    * the corpus-sized aggregate runs once per dir. */
  private val dfreqCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  private def dfreqOf(s: SparkSession, dir: String): DataFrame =
    dfreqCache(s, dir) { (sess, d) =>
      docShingles(sess, d).groupBy(col("g")).agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
    }

  private def prefixIndex(s: SparkSession, dir: String): DataFrame =
    prefixCache(s, s"$dir#prefix-t80") { (sess, _) =>
      val tri = docShingles(sess, dir) // already checkpointed
      // df and size tables are vocab-/doc-count-sized: SMALL on natural
      // corpora (Zipf vocabularies), but a wide random vocabulary makes
      // dfreq as big as the shingle table itself — a FORCED broadcast
      // there built a multi-million-row hash relation on the driver
      // (measured 170 s vs 40 s on a 50k-doc, 500-word-vocab stress
      // corpus). No hints: both joins run post-aggregate, so AQE sees
      // real sizes and broadcasts exactly when the table is actually
      // small — the fast path on Zipf corpora, the shuffle join past it.
      val dfreq = dfreqOf(sess, dir)
      val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
      tri.join(dfreq, Seq("g")).join(sizes, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) DIV 5") + 1)
        .select(col("doc_id"), col("g"), col("rn"), col("sz"))
        .localCheckpoint(true)
    }

  /** Exact threshold-Jaccard similarity join over the FULL corpus — no
    * doc_id bound (q28) and no recall loss (q26's LSH): PPJoin-style
    * prefix filtering. Under any global total order on shingles, a pair
    * with J(a,b) ≥ t must share an element inside each doc's first
    * |s| − ⌈t·|s|⌉ + 1 shingles (else the overlap fits in the suffix,
    * capping |∩| below t·|s| — the Chaudhuri/Xiao prefix-filter lemma),
    * so joining PREFIXES is exhaustive and the exact verify restores
    * precision. The order here is rarest-first (ascending document
    * frequency, shingle text as tie-break): prefixes then hold each
    * doc's rarest shingles, so the equi-join's bucket sizes are bounded
    * by the df of RARE shingles — the opposite of the stopword blowup a
    * naive shared-shingle join pays (q117's bound). Scale: df pass and
    * prefix window are corpus-linear; candidates ≈ Σ_rare df² stays
    * near-linear; verify runs the one-pass Jaccard kernel on candidate
    * pairs only. t = 0.8, prefix length in exact integers:
    * sz − ⌈4·sz/5⌉ + 1 = sz − (4·sz+4) DIV 5 + 1. */
  def q147PrefixSsjoin(s: SparkSession, dir: String): DataFrame =
    verifyPairs(s, dir, q147Candidates(s, dir))
      .filter(col("jacc") >= 0.8)
      .select(col("d1"), col("d2"), col("jacc"))
      .orderBy(col("d1"), col("d2"))

  /** Per-(session, dir) VERIFY ARTIFACT: each doc's distinct 3-gram
    * shingle set as a SORTED xxhash64 array — built once per corpus off
    * the shared shingle table, so the exact-verify stage intersects two
    * sorted long arrays per candidate pair instead of rebuilding string
    * hash-sets per pair (a doc in k pairs paid k rebuilds; measured 74 s
    * → ~2 s on the 10× near-dup corpus, where pairs ≫ docs). EXACTNESS:
    * Jaccard over hashes equals Jaccard over shingle strings iff the
    * hash is injective on this corpus's shingle vocabulary, which one
    * corpus-wide aggregate certifies (countDistinct(g) ==
    * countDistinct(xxhash64(g)), cached with the artifact); on the
    * astronomically-rare failure (~v²/2⁶⁵) this returns None and callers
    * take the per-pair string kernel. At 100 TB both the certificate and
    * the artifact are one linear pass over the pipeline's checkpointed
    * shingle table. */
  private val hashedShingleCache = new graft.util.SessionDirCache[Option[DataFrame]](graft.util.SessionDirCache.releaseOptDf)

  private def hashedShingles(s: SparkSession, dir: String): Option[DataFrame] =
    hashedShingleCache(s, dir) { (sess, d) =>
      // certificate off the (vocab-sized, cached) df table: its g column
      // is already distinct, so ns is a count and nh one countDistinct —
      // no second corpus-sized shuffle just to certify
      val dq = dfreqOf(sess, d)
      val ns = dq.count()
      val nh = dq.agg(countDistinct(xxhash64(col("g")))).head().getLong(0)
      if (ns != nh) None
      else Some(
        // map-only build: re-shingle each doc from its own text (same
        // shingles3+distinct semantics as docShingles) — the per-doc
        // array never needs a shuffle, unlike a groupBy over the
        // exploded shingle table. tk is bound to an attribute first so
        // shingles3 doesn't re-evaluate the split per element.
        graft.util.Spread.kernelSpread(
            Tables.documents(sess, d)
              .select(col("doc_id"), split(col("text"), " ").as("tk")))
          .select(col("doc_id"), sort_array(array_distinct(transform(
            graft.functions.TextHash.shingles3(col("tk")),
            x => xxhash64(x)))).as("sh"))
          .localCheckpoint(true))
    }

  /** q147's candidate stage — two further LOSSLESS prunes from the
    * PPJoin toolbox, both implied by J ≥ t so no true pair can fail them:
    *  - size filter: I ≥ t·max ∧ I ≤ min ⇒ 5·min(sz) ≥ 4·max(sz)
    *  - position filter: at the FIRST shared prefix shingle (ranks
    *    i,j) every ∩ element sits at rank ≥ i resp. ≥ j, so
    *    I ≤ 1 + min(szₐ−i, sz_b−j); require that to reach
    *    α = ⌈t/(1+t)·(szₐ+sz_b)⌉ = (4·(szₐ+sz_b)+8) DIV 9. Later
    *    shared shingles only have smaller bounds, so filtering every
    *    matched row keeps a pair iff its first match passes — safe. */
  private def q147Candidates(s: SparkSession, dir: String): DataFrame = {
    val prefix = prefixIndex(s, dir)
    prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
        col("b.sz") * 5 >= col("a.sz") * 4 && col("a.sz") * 5 >= col("b.sz") * 4 &&
        (lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))) >=
          expr("(4 * (a.sz + b.sz) + 8) DIV 9"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Oracle: brute-force full-corpus shared-shingle join — q147's prefix
    * filtering must reproduce it EXACTLY (that is the point). */
  val q147Sql: String =
    s"""WITH $shinglesCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT d1, d2,
       |  round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS jacc
       |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) >= 0.8
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- C2: cluster-aware train/val/test split
  /** Leakage-free dataset splitting: assign near-dup CLUSTERS — not
    * documents — to train/val/test (cluster % 10 → 8/1/1 here; a salted
    * hash of the cluster id in production), so two near-duplicate
    * documents can never straddle a split boundary and leak eval answers
    * into training. Docs outside the near-dup subgraph are their own
    * singleton cluster. The query emits per-split volume (docs, clusters,
    * tokens) plus the cross-split near-dup pair count, which the oracle
    * pins to ZERO — the audit is gated, not just claimed.
    * Scale: reuses the cached cluster table (one corpus artifact shared
    * with q55/q79/q131); the split is a map over doc grain; the audit
    * join is pair-table-sized. Nothing new shuffles at corpus scale. */
  def q213ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val comp = clustersOf(s, dir).withColumnRenamed("node", "doc_id")
    val assign = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(col("cluster") % 10 <= 7, "train")
          .when(col("cluster") % 10 === 8, "val")
          .otherwise("test"))
    val spl = assign.select(col("doc_id"), col("split"))
    val leak = verifiedPairs(s, dir).filter(col("jacc") >= 0.5)
      .join(spl.toDF("d1", "s1"), Seq("d1"))
      .join(spl.toDF("d2", "s2"), Seq("d2"))
      .filter(col("s1") =!= col("s2"))
      .agg(count(lit(1)).as("leak_pairs"))
    assign.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("n_tok")).as("n_tokens"))
      .crossJoin(broadcast(leak))
      .orderBy(col("split"))
  }

  val q213Sql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |assign AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
       |           FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |spl AS (SELECT doc_id, cluster,
       |          CASE WHEN cluster % 10 <= 7 THEN 'train'
       |               WHEN cluster % 10 = 8 THEN 'val' ELSE 'test' END AS split
       |        FROM assign),
       |leak AS (SELECT count(*) AS leak_pairs
       |         FROM verified v JOIN spl a ON a.doc_id = v.d1
       |         JOIN spl b ON b.doc_id = v.d2
       |         WHERE v.jacc >= 0.5 AND a.split <> b.split),
       |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
       |SELECT s.split, count(*) AS n_docs, count(DISTINCT s.cluster) AS n_clusters,
       |       sum(t.n_tok)::BIGINT AS n_tokens, leak_pairs
       |FROM spl s JOIN tok t USING (doc_id) CROSS JOIN leak
       |GROUP BY s.split, leak_pairs ORDER BY s.split""".stripMargin

  // ---------------------------------------------------------------- C2: symmetric-delete (SymSpell) edit-distance join
  /** Edit-distance-1 entity-resolution join via a symmetric-delete
    * (SymSpell) neighborhood index — the COMPLETE scale path next to
    * q73's lossy blocking (first-char blocking misses a first-character
    * typo; this index provably catches every d≤1 pair): each name maps
    * to itself plus its |w| single-character deletions, candidates are
    * names sharing any key (substitution pairs meet at the common
    * deletion, insertion/deletion pairs meet at the shorter string), and
    * the exact levenshtein verify keeps only true d=1 pairs. The
    * deterministic 1-in-7 custkey slice keeps the all-pairs DuckDB
    * ground truth quadratic-bounded; the index itself never goes
    * quadratic.
    * Scale: the key table is |names|·(len+1) rows — linear with a
    * constant factor of the name length; candidates come from an
    * equi-join on the key hash (at 100 TB: join on xxhash64(k), not the
    * string), and verify cost is candidate-bounded. All-pairs levenshtein
    * at 15 k names is 225 M evals; this path does ~300 k key rows. */
  def q211SymspellJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.customer(s, dir).filter(col("c_custkey") % 7 === 0)
      .select(col("c_name").as("w")).distinct()
    val keyed = names.select(col("w"), explode(array_distinct(concat(
        array(col("w")),
        transform(sequence(lit(1), length(col("w"))),
          i => concat(col("w").substr(lit(1), i - lit(1)),
                      col("w").substr(i + lit(1), length(col("w")))))))).as("k"))
    keyed.as("a").join(keyed.as("b"), Seq("k"))
      .filter(col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .distinct()
      .filter(levenshtein(col("w1"), col("w2")) === 1)
      .orderBy(col("w1"), col("w2"))
  }

  val q211Sql: String =
    """WITH c AS (SELECT DISTINCT c_name AS w FROM customer WHERE c_custkey % 7 = 0)
      |SELECT a.w AS w1, b.w AS w2 FROM c a JOIN c b
      |  ON a.w < b.w AND abs(len(a.w) - len(b.w)) <= 1
      | AND levenshtein(a.w, b.w) = 1
      |ORDER BY w1, w2""".stripMargin

  // ---------------------------------------------------------------- C2: content-defined chunking (CDC) dedup
  /** Content-defined chunking dedup (the LBFS/rsync/borg storage-dedup
    * primitive): split each document where a rolling hash of the last 4
    * characters (a base-31 polynomial, mask mod 16 → ~16-char expected
    * chunks) hits zero, then measure per-source chunk-level duplication.
    * Boundaries depend only on LOCAL content, so a one-character insert
    * re-synchronizes within one window — the insertion-robustness that
    * q77's fixed 8-token grid loses (an edit shifts every later chunk).
    * This is the dedup notion for raw bytes/blobs (multimodal columns
    * included: the same walk runs on binary via a byte polynomial).
    * Chunking is a single compiled pass per row through the native
    * [[graft.functions.CdcChunksExpr]] (a higher-order-function
    * formulation ran interpreted per character — 4.6× slower at sf0.1);
    * the only shuffle is the per-source distinct-chunk aggregate — at
    * 100 TB, aggregate xxhash64(chunk) instead of chunk text. */
  def q212CdcChunks(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.GraftFunctions.cdc_chunks(col("text"))).as("chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk")).as("n_distinct"),
        round(lit(1.0) - countDistinct(col("chunk")).cast("double") / count(lit(1)), 4).as("dup_frac"),
        round(avg(length(col("chunk"))), 2).as("avg_len"))
      .orderBy(col("source"))
  }

  val q212Sql: String =
    """WITH d AS (SELECT doc_id, source, text, len(text) AS n FROM documents),
      |pos AS (SELECT doc_id, text, n, unnest(generate_series(4, n)) AS i FROM d),
      |bnd AS (SELECT doc_id, i FROM pos
      |        WHERE (ascii(text[i-3]) * 29791 + ascii(text[i-2]) * 961
      |             + ascii(text[i-1]) * 31 + ascii(text[i])) % 16 = 0),
      |edges AS (SELECT doc_id, i FROM bnd UNION SELECT doc_id, n FROM d),
      |ch AS (SELECT e.doc_id, d.source,
      |         substr(d.text,
      |                coalesce(lag(e.i) OVER (PARTITION BY e.doc_id ORDER BY e.i), 0) + 1,
      |                e.i - coalesce(lag(e.i) OVER (PARTITION BY e.doc_id ORDER BY e.i), 0)) AS chunk
      |       FROM edges e JOIN d ON d.doc_id = e.doc_id)
      |SELECT source, count(*) AS n_chunks, count(DISTINCT chunk) AS n_distinct,
      |       round(1 - count(DISTINCT chunk)::DOUBLE / count(*), 4) AS dup_frac,
      |       round(avg(len(chunk)), 2) AS avg_len
      |FROM ch GROUP BY source ORDER BY source""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q24_dedup_exact",     q24DedupExact _,     Some(q24Sql)),
    ("q211_symspell_join",  q211SymspellJoin _,  Some(q211Sql)),
    ("q212_cdc_chunks",     q212CdcChunks _,     Some(q212Sql)),
    ("q213_cluster_split",  q213ClusterSplit _,  Some(q213Sql)),
    ("q25_minhash_sig",     q25MinHashSig _,     Some(q25Sql)),
    ("q26_lsh_pairs",       q26LshPairs _,       Some(q26Sql)),
    ("q27_simhash",         q27SimHash _,        Some(q27Sql)),
    ("q28_trigram_jaccard", q28TrigramJaccard _, Some(q28Sql)),
    ("q177_minhash_accuracy", q177MinhashAccuracy _, Some(q177Sql)),
    ("q200_band_calibration", q200BandCalibration _, Some(q200Sql)),
    ("q55_dedup_clusters",  q55DedupClusters _,  Some(q55Sql)),
    ("q197_star_clusters",  q197StarClusters _,  Some(q197Sql)),
    ("q70_decontaminate",   q70Decontaminate _,  Some(q70Sql)),
    ("q73_fuzzy_match",     q73FuzzyMatch _,     Some(q73Sql)),
    ("q77_span_dedup",      q77SpanDedup _,      Some(q77Sql)),
    ("q78_bloom_decontam",  q78BloomDecontam _,  Some(q78Sql)),
    ("q79_canonical_select", q79CanonicalSelect _, Some(q79Sql)),
    ("q106_containment",    q106Containment _,   Some(q106Sql)),
    ("q114_ngram_novelty",  q114NgramNovelty _,  Some(q114Sql)),
    ("q117_sparse_cosine",  q117SparseCosine _,  Some(q117Sql)),
    ("q144_simhash_neardup", q144SimhashNearDup _, Some(q144Sql)),
    ("q147_prefix_ssjoin",   q147PrefixSsjoin _,   Some(q147Sql)),
    ("q131_dup_rate_by_source", q131DupRateBySource _, Some(q131Sql)),
    ("q132_cross_source_leak",  q132CrossSourceLeak _, Some(q132Sql)),
  )
}
