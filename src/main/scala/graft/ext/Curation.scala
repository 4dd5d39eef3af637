package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Corpus-curation operators for a training-data pipeline (SURVEY.md §2
  * Tier C, beyond the reference's surface): repetition-based quality
  * signals, deterministic stratified sampling, tf-idf-style salient-term
  * extraction, and PII-shaped pattern masking.
  *
  * Scale design: the per-document signals (q56 map side, q59) are pure
  * map stages over the document scan — zero shuffles, they run at parquet
  * scan speed on 100 TB. The term-statistics queries (q56 top-token, q58)
  * shuffle only (doc_id)- or (token)-keyed partial aggregates with
  * map-side combine; the document-frequency join (q58) is left to AQE,
  * which broadcasts it when the vocabulary is small enough and falls back
  * to a token-keyed shuffle join when it is not.
  */
object Curation {

  // ---------------------------------------------------------------- C4: repetition / boilerplate signal
  /** Gopher-style repetition quality signals: duplicate-bigram fraction
    * (higher-order functions, map-only) and most-frequent-token fraction
    * (explode + two keyed partial aggregates). High values flag
    * boilerplate or degenerate generations for filtering. */
  def q56Repetition(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    // tk is bound to an attribute before indexing (element_at on a raw
    // split(...) expression re-evaluates the split per access)
    val bigrams = transform(sequence(lit(1), size(col("tk")) - 1), i =>
      concat(element_at(col("tk"), i), lit(" "), element_at(col("tk"), i + 1)))
    val mapSide = base.select(col("doc_id"), size(col("tk")).as("n_tok"), bigrams.as("big"))
      .select(col("doc_id"), col("n_tok"),
        round(lit(1.0) - size(array_distinct(col("big"))).cast("double") / size(col("big")), 4)
          .as("dup_bigram_frac"))
    val top = base.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_cnt"))
    mapSide.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("dup_bigram_frac"),
        round(col("top_cnt").cast("double") / col("n_tok"), 4).as("top_tok_frac"))
      .orderBy(col("doc_id"))
  }

  val q56Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |t2 AS (SELECT doc_id, tk,
      |         list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS big
      |       FROM toks WHERE len(tk) >= 2),
      |map_side AS (SELECT doc_id, len(tk) AS n_tok,
      |         round(1.0::DOUBLE - len(list_distinct(big))::DOUBLE / len(big), 4) AS dup_bigram_frac
      |       FROM t2),
      |top AS (SELECT doc_id, max(c) AS top_cnt FROM (
      |         SELECT doc_id, tok, count(*) AS c
      |         FROM (SELECT doc_id, unnest(tk) AS tok FROM toks WHERE len(tk) >= 2) u
      |         GROUP BY doc_id, tok) g
      |       GROUP BY doc_id)
      |SELECT m.doc_id, m.n_tok, m.dup_bigram_frac,
      |       round(top_cnt::DOUBLE / n_tok, 4) AS top_tok_frac
      |FROM map_side m JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- sampling: deterministic stratified k-per-stratum
  /** Deterministic stratified sample: k docs per source, chosen by a
    * per-row hash order (reproducible across runs and engines — no RNG).
    * This is the mixture-control primitive of a training-data pipeline:
    * per-source quotas instead of global random sampling. One shuffle
    * keyed by the stratum; the rank cutoff happens within each partition. */
  /** THE deterministic per-row sampling hash, shared by q57, q71 and
    * q116. Reduce mod 2^31-1 BEFORE multiplying: 64-bit ids
    * times a 31-bit constant would overflow Long, which throws under ANSI
    * mode (Spark 4 default) and errors in DuckDB. (id % m) * 48271 stays
    * < 2^47. TWO Lehmer steps, not one: a single step is strictly
    * monotone for ids < m/48271 ≈ 44k, so small-id corpora would order
    * by plain doc_id — no scrambling at all (q116 diagnosed the same
    * degeneracy). The second multiply wraps the modulus from id ≥ 1. */
  private def sampleHash: org.apache.spark.sql.Column =
    ((col("doc_id") % 2147483647L) * 48271L % 2147483647L) * 48271L % 2147483647L

  /** Deterministic stratified sampling: a per-language quota drawn by the multiplicative-hash order (sampleHash) — reproducible across runs and engines, no RNG. */
  def q57StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = sampleHash
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy(col("source"), col("rn"))
  }

  val q57Sql: String =
    """SELECT source, rn, doc_id FROM (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647, doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 5 ORDER BY source, rn""".stripMargin

  // ---------------------------------------------------------------- C4: salient terms (tf-idf-style)
  /** Top-3 salient terms per document, scored by tf · N / df — the
    * rational idf variant (instead of ln(N/df)) so the score is a single
    * IEEE division of exact integers, bit-identical across engines;
    * the ranking is idf-monotone for fixed tf. */
  def q58TopTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = Toks(s, dir).select(col("doc_id"), col("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // df from a per-doc-distinct map stage, not from tf: re-deriving it
    // from tf would re-run tf's (doc, tok) shuffle a second time.
    val dfreq = Tables.documents(s, dir)
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    // No forced broadcast on dfreq: a 100 TB corpus has a vocabulary far
    // beyond broadcast size, so the hint would OOM the driver. AQE
    // broadcasts at runtime when the aggregated df table turns out small.
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * col("n_docs") / col("df"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  val q58Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, rn, tok, tf, df, score FROM (
      |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
      |         round(tf.tf * n.n_docs / dfreq.df, 6) AS score,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |           ORDER BY round(tf.tf * n.n_docs / dfreq.df, 6) DESC, tf.tok) AS rn
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n) t
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ---------------------------------------------------------------- PII-shaped masking
  /** Pattern-class masking with per-class hit counts: the scrubbing
    * primitive of a data pipeline. Email and number classes exercise the
    * real PII shapes (zero hits on this synthetic corpus — the counts
    * prove it); the vocabulary class demonstrates masking on patterns the
    * corpus does contain. Patterns are restricted to the regex subset
    * shared by Java and RE2 (no backrefs/lookarounds). Pure map stage. */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val numPat   = "\\b[0-9]+\\b"
  private val maskPat  = "\\b(customer|value)\\b"

  /** PII masking pass: email/phone/id-like spans replaced with typed placeholders via codegen-friendly regexp_replace chains — the redaction step a training-data pipeline runs before packing. */
  def q59PiiMask(s: SparkSession, dir: String): DataFrame = {
    val masked =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(emailPat), lit("[EMAIL]")),
          lit(numPat), lit("[NUM]")),
        lit(maskPat), lit("[MASK]"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(emailPat)).as("n_email"),
        regexp_count(col("text"), lit(numPat)).as("n_num"),
        regexp_count(col("text"), lit(maskPat)).as("n_mask"),
        substring(masked, 1, 80).as("masked_prefix"))
      .orderBy(col("doc_id"))
  }

  val q59Sql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$emailPat')) AS n_email,
       |  len(regexp_extract_all(text, '$numPat')) AS n_num,
       |  len(regexp_extract_all(text, '$maskPat')) AS n_mask,
       |  substr(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$emailPat', '[EMAIL]', 'g'), '$numPat', '[NUM]', 'g'),
       |    '$maskPat', '[MASK]', 'g'), 1, 80) AS masked_prefix
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- quality gate: percentile-threshold filtering
  /** The curation decision itself: keep documents at or above the 25th
    * quality percentile *within their language*, with a stratum floor —
    * languages with fewer than 8 documents pass through whole, so the
    * gate cannot wipe out a low-resource language (a 1-doc language has
    * percent_rank 0 and a bare threshold would delete it entirely).
    * The quality metric is [[TextAnalysis.qualityCol]] — the SAME
    * definition the reporting query (q33) surfaces, never a fork.
    * percent_rank is rank-arithmetic — engine-exact, no float quantile
    * interpolation to drift. */
  /** The quality-gate transform q65 projects, with its rounded-pr
    * comparison. Adds `quality` and `pr`, filters to survivors.
    *
    * percent_rank is (rank−1)/(n_lang−1) computed from
    * [[DistRank.withGroupRank]] — a real corpus is ~90% one language, so
    * the naive `OVER (PARTITION BY lang ORDER BY …)` window hands one
    * task ~90% of the corpus; the range-partitioned rank spreads every
    * language across all partitions and re-joins P-bounded offsets. The
    * (quality, doc_id) order is a total order, so rank == row_number and
    * the arithmetic percent_rank is bit-identical to the window's. n_lang
    * is a dimension-sized broadcast off the rank checkpoint. */
  private def qualityGate(docs: DataFrame): DataFrame = {
    val scored = docs.withColumn("quality", TextAnalysis.qualityCol)
    val rk = DistRank.withGroupRank(
      scored, Seq("lang"), "__qr", Seq(col("quality"), col("doc_id"))).df
    rk
      .join(broadcast(rk.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))), Seq("lang"))
      .withColumn("pr",
        when(col("n_lang") === 1, lit(0.0)).otherwise(
          round((col("__qr") - 1).cast("double") / (col("n_lang") - 1).cast("double"), 4)))
      .filter(col("pr") >= 0.25 || col("n_lang") < 8)
      .drop("n_lang", "__qr", DistRank.TotalCol)
  }

  /** Quality gate: per-language quality ranking (DistRank group rank, skew-proof) keeps the top quartile per language while languages with few documents pass whole. */
  def q65QualityGate(s: SparkSession, dir: String): DataFrame =
    qualityGate(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("quality"), col("pr"))
      .orderBy(col("doc_id"))

  val q65Sql: String =
    s"""SELECT doc_id, lang, quality, pr FROM (
       |  SELECT doc_id, lang, quality,
       |         round(percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id), 4) AS pr,
       |         count(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM (SELECT doc_id, lang,
       |          ${TextAnalysis.qualitySqlExpr} AS quality
       |        FROM documents) q) t
       |WHERE pr >= 0.25 OR n_lang < 8 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- mixture interleaving
  /** Deterministic weighted mixture: stride-schedule documents so any
    * prefix of the global order holds sources in ≈ the target weight
    * ratio (position key = per-source rank / weight — the classic stride
    * trick; heavier sources get denser keys). This is how a trainer
    * consumes a multi-source corpus without a shuffled materialization.
    * The key is one IEEE division of exact integers per row — engine-
    * exact — and the order is totalized by (key, source, rank). Emits the
    * first 100 positions. */
  def q71Mixture(s: SparkSession, dir: String): DataFrame = {
    val w3 = col("source").isin("src0", "src1", "src2")
    val weight = when(w3, lit(3.0)).otherwise(lit(1.0))
    val wr = Window.partitionBy(col("source")).orderBy(sampleHash, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(wr))
      .withColumn("pos_key", col("rn") / weight)
      .orderBy(col("pos_key"), col("source"), col("rn"))
      .limit(100)
      .select(col("doc_id"), col("source"), col("rn"),
        round(col("pos_key"), 4).as("pos_key"))
  }

  val q71Sql: String =
    """SELECT doc_id, source, rn, round(pos_key, 4) AS pos_key FROM (
      |  SELECT doc_id, source, rn,
      |         rn::DOUBLE / (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 3.0 ELSE 1.0 END)::DOUBLE AS pos_key
      |  FROM (SELECT doc_id, source,
      |          row_number() OVER (PARTITION BY source
      |            ORDER BY ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647, doc_id) AS rn
      |        FROM documents) r) t
      |ORDER BY pos_key, source, rn LIMIT 100""".stripMargin

  // ------------------------------------------------------------ dataset card
  /** Dataset-card summary: per (source, lang) corpus cell — document count,
    * total/average characters, and corpus share. The released-dataset
    * report every curated corpus ships with. One hash aggregate collapses
    * the corpus to dimension-sized cells; the global-share window then runs
    * over those few rows, so at 100 TB the only full-data pass is the
    * aggregate's map side. */
  def q95DatasetCard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_tot"))
      .withColumn("share", round(
        col("n_docs").cast("double") / sum(col("n_docs")).over(Window.partitionBy()), 4))
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars_tot"),
        round(col("n_chars_tot").cast("double") / col("n_docs"), 2).as("avg_chars"),
        col("share"))
      .orderBy(col("source"), col("lang"))

  val q95Sql: String =
    """WITH cell AS (SELECT source, lang, count(*) AS n_docs,
      |    sum(n_chars)::BIGINT AS n_chars_tot
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, lang, n_docs, n_chars_tot,
      |  round(n_chars_tot::DOUBLE / n_docs, 2) AS avg_chars,
      |  round(n_docs::DOUBLE / (sum(n_docs) OVER ()), 4) AS share
      |FROM cell ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------- importance sampling
  /** Probability-proportional (importance) sampling: keep each doc with
    * probability 0.1 + 0.9·min(n_chars/400, 1) — longer docs kept almost
    * surely, short ones soft-downsampled (the usual quality-weighted
    * thinning before mixing). The "coin flip" is the same Lehmer-LCG
    * uniform q57 uses (integer arithmetic → exact same decisions in any
    * engine, on any executor, on re-runs — reproducibility is the whole
    * point vs rand()). Pure map over the scan, no shuffle; survivors
    * stream straight into the next pipeline stage at any scale. */
  def q116ImportanceSample(s: SparkSession, dir: String): DataFrame = {
    val m = 2147483647L
    // two LCG steps: one step leaves small doc_ids in the bottom of the
    // range (u ≈ id·2.2e-5 — nothing would ever drop); the second multiply
    // wraps the modulus and actually mixes (kept fraction ≈ E[keep_p])
    val u = (((col("doc_id") % m) * 48271L % m) * 48271L % m)
      .cast("double") / lit(2147483647.0)
    val p = lit(0.1) + lit(0.9) *
      least(col("n_chars").cast("double") / lit(400.0), lit(1.0))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("keep_p", p)
      .filter(u < col("keep_p"))
      // 6dp, not 4: keep_p = 0.1 + 0.00225·k has exactly 5 decimal digits,
      // so rounding AT the 4th sits on half-way boundaries where Spark's
      // HALF_UP on the binary double and DuckDB's rounding disagree; at
      // 6dp there is no boundary to disagree about
      .select(col("doc_id"), col("source"), round(col("keep_p"), 6).as("keep_p"))
      .orderBy(col("doc_id"))
  }

  val q116Sql: String =
    """SELECT doc_id, source,
      |       round(0.1::DOUBLE + 0.9::DOUBLE
      |             * least(n_chars::DOUBLE / 400.0, 1.0::DOUBLE), 6) AS keep_p
      |FROM documents
      |WHERE (((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647)::DOUBLE
      |        / 2147483647.0
      |      < 0.1::DOUBLE + 0.9::DOUBLE * least(n_chars::DOUBLE / 400.0, 1.0::DOUBLE)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- train/val/test split assignment
  /** Deterministic train/validation/test split — the assignment every
    * training corpus needs before anything else touches it: the same LCG
    * hash as q57 maps each doc to a bucket in [0, 100), buckets <80/<90/
    * rest become train/valid/test. Hash-based (not random) so the split
    * is REPRODUCIBLE on any engine, executor count, or rerun, and a doc
    * never migrates between splits when the corpus grows — the property
    * that keeps eval sets uncontaminated across dataset versions. Output
    * is the per-(source, split) audit: counts and within-source share
    * (half-up-rounded in integer space, q134's engine-invariant pattern).
    * Pure map + one dimension-sized aggregate; no shuffle of doc payloads. */
  def q175SplitAssign(s: SparkSession, dir: String): DataFrame = {
    val bucket = sampleHash % 100
    val counts = Tables.documents(s, dir)
      .select(col("source"),
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("valid"))
          .otherwise(lit("test")).as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.groupBy(col("source")).agg(sum(col("n_docs")).as("tot"))
    counts.join(tot, "source")
      .select(col("source"), col("split"), col("n_docs"),
        (expr("(2 * n_docs * 10000 + tot) DIV (2 * tot)") / 10000.0).as("share"))
      .orderBy(col("source"), col("split"))
  }

  val q175Sql: String =
    """WITH a AS (SELECT source,
      |  CASE WHEN ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 % 100 < 80 THEN 'train'
      |       WHEN ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 % 100 < 90 THEN 'valid'
      |       ELSE 'test' END AS split
      |  FROM documents),
      |c AS (SELECT source, split, count(*) AS n_docs FROM a GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.source, c.split, c.n_docs,
      |       ((2 * c.n_docs * 10000 + t.tot) // (2 * t.tot)) / 10000.0 AS share
      |FROM c JOIN t ON t.source = c.source
      |ORDER BY c.source, c.split""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q56_repetition",        q56Repetition _,       Some(q56Sql)),
    ("q175_split_assign",     q175SplitAssign _,     Some(q175Sql)),
    ("q57_stratified_sample", q57StratifiedSample _, Some(q57Sql)),
    ("q58_top_terms",         q58TopTerms _,         Some(q58Sql)),
    ("q59_pii_mask",          q59PiiMask _,          Some(q59Sql)),
    ("q65_quality_gate",      q65QualityGate _,      Some(q65Sql)),
    ("q71_mixture",           q71Mixture _,          Some(q71Sql)),
    ("q95_dataset_card",      q95DatasetCard _,      Some(q95Sql)),
    ("q116_importance_sample", q116ImportanceSample _, Some(q116Sql)),
  )
}
