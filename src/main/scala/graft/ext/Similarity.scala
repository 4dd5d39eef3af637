package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Vector similarity search over ArrayType(FloatType) embeddings
  * (SURVEY.md §2 C3): brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Dot products / norms use the higher-order functions zip_with +
  * aggregate (codegen'd, no UDF). Floats are cast to double inside the
  * lambda so arithmetic matches the DuckDB oracle exactly.
  *
  * Scale design: the query set is broadcast, so brute force is a map-only
  * scan of the corpus followed by a per-query top-k (row_number over a
  * 5-partition window here; a TypedImperativeAggregate heap would remove
  * even that shuffle — noted for a later round). The LSH variant prunes
  * the corpus to same-bucket candidates before scoring, turning top-k into
  * an equi-join — the 100 TB path.
  */
object Similarity {

  /** dot(a, b) in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm in double precision. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  // ---------------------------------------------------------------- C3: norms
  /** Per-vector L2 norm over the embedding column — the map-only kernel smoke of the vector family, rounded to 4dp for the gate. */
  def q29EmbedNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), round(norm(col("embedding")), 4).as("nrm"))
      .orderBy(col("vec_id"))

  val q29Sql: String =
    """SELECT vec_id, label, round(sqrt(sum(x * x)), 4) AS nrm
      |FROM (SELECT vec_id, label, unnest(embedding)::DOUBLE AS x FROM embeddings) t
      |GROUP BY vec_id, label ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- C3: exact kNN
  /** Brute-force cosine top-10 for query vectors (vec_id < 5): broadcast
    * the queries, scan the corpus once, rank per query. */
  def q30KnnExact(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Shared exact-kNN scoring CTE chain ex → norms → dots → cos for the
    * brute-force oracles (q30/q47/q76): per-dimension unnest, norms,
    * query-side (vec_id < 5) dot products, cosine. `dotsFilter` narrows
    * the corpus side; one definition so rounding/tie-break/scoring can
    * never drift between the consumers. */
  private def knnScoreCtes(dotsFilter: String): String =
    s"""ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
       |            FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
       |dots AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, sum(a.x * b.x) AS dot
       |         FROM ex a JOIN ex b ON a.i = b.i
       |         WHERE a.vec_id < 5 $dotsFilter GROUP BY 1, 2),
       |cos AS (SELECT q_id, d.vec_id, d.dot / (na.nrm * nb.nrm) AS c
       |        FROM dots d JOIN norms na ON na.vec_id = d.q_id JOIN norms nb ON nb.vec_id = d.vec_id)""".stripMargin

  val q30Sql: String =
    s"""WITH ${knnScoreCtes("AND b.vec_id <> a.vec_id")},
       |r AS (SELECT q_id, vec_id, c,
       |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM cos)
       |SELECT q_id, rn, vec_id, round(c, 5) AS cos FROM r WHERE rn <= 10
       |ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------- C3: LSH-bucketed ANN
  /** 8-plane random-hyperplane LSH: each vector hashes to a 256-bucket
    * signature; neighbors are scored only within the query's bucket.
    * Plane weights are integer pseudo-randoms so both engines derive the
    * identical planes. Corpus-side work is linear; candidate scoring is an
    * equi-join on the bucket id.
    */
  def q31AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // Bucket hashing is one compiled pass per row (LshBucketExpr kernel) —
    // zero shuffles for the corpus side; the plane weights are the same
    // deterministic integers the DuckDB oracle derives.
    val withB = emb.withColumn("bucket",
      graft.functions.GraftFunctions.lsh_bucket(col("embedding")))
    val q = withB.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
    val scored = withB.join(q, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** CTE chain shared by the LSH oracles (q31/q52): per-dimension unnest,
    * hyperplane signatures → buckets, norms. One definition so the plane
    * weights can never diverge between the two oracles. */
  private val lshCtes: String =
    """ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, unnest(embedding)::DOUBLE AS x
      |            FROM embeddings),
      |planes AS (SELECT j FROM range(8) t(j)),
      |sig AS (SELECT vec_id, j, sum(x * (((j * 64 + d) * 2654435761) % 2000003 - 1000001)) AS sdot
      |        FROM ex CROSS JOIN planes GROUP BY vec_id, j),
      |buck AS (SELECT vec_id, sum(CASE WHEN sdot > 0 THEN (1::BIGINT << j) ELSE 0 END) AS bucket
      |         FROM sig GROUP BY vec_id),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id)""".stripMargin

  /** Shared scoring tail: cosine over the candidate pairs, top-k. */
  private def lshScoreSql(k: Int): String =
    s"""dots AS (SELECT c.q_id, c.vec_id, sum(a.x * b.x) AS dot
       |         FROM cand c JOIN ex a ON a.vec_id = c.q_id JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
       |         GROUP BY c.q_id, c.vec_id),
       |cos AS (SELECT q_id, d.vec_id, d.dot / (na.nrm * nb.nrm) AS c
       |        FROM dots d JOIN norms na ON na.vec_id = d.q_id JOIN norms nb ON nb.vec_id = d.vec_id),
       |r AS (SELECT q_id, vec_id, c,
       |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM cos)
       |SELECT q_id, rn, vec_id, round(c, 5) AS cos FROM r WHERE rn <= $k
       |ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------- C3: ANN recall evaluation
  /** Recall@10 of the LSH index against the exact kNN answer — the
    * evaluation harness every ANN deployment runs before trusting the
    * index (the q31-vs-q30 comparison as a first-class, oracle-checked
    * query). Per query vector: the exact cosine top-10 (q30's broadcast
    * scan), the LSH same-bucket candidate set (q31's equi-join), and
    * recall = |top-10 ∩ candidates| / 10. Scale: the exact side is the
    * expensive leg — production evaluates on a SAMPLE of queries (the
    * q_id < 5 set here IS that sample) while the index side stays
    * corpus-linear; the hit join is k-bounded per query. */
  def q174AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val exact = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select(col("q_id"), col("vec_id"))
    val withB = emb.withColumn("bucket",
      graft.functions.GraftFunctions.lsh_bucket(col("embedding")))
    val qb = withB.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("bucket"))
    val cand = withB.join(qb, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val nc = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_candidates"))
    exact
      .join(cand.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .join(nc, Seq("q_id"), "left")
      .select(col("q_id"), col("k"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
      .orderBy(col("q_id"))
  }

  val q174Sql: String =
    s"""WITH $lshCtes,
       |dots AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, sum(a.x * b.x) AS dot
       |         FROM ex a JOIN ex b ON a.d = b.d
       |         WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id GROUP BY 1, 2),
       |cos AS (SELECT q_id, d.vec_id, d.dot / (na.nrm * nb.nrm) AS c
       |        FROM dots d JOIN norms na ON na.vec_id = d.q_id
       |                    JOIN norms nb ON nb.vec_id = d.vec_id),
       |r AS (SELECT q_id, vec_id,
       |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM cos),
       |exact AS (SELECT q_id, vec_id FROM r WHERE rn <= 10),
       |qs AS (SELECT vec_id AS q_id, bucket FROM buck WHERE vec_id < 5),
       |cand AS (SELECT q.q_id, b.vec_id FROM qs q JOIN buck b ON b.bucket = q.bucket
       |         WHERE b.vec_id <> q.q_id),
       |nc AS (SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY 1),
       |hits AS (SELECT e.q_id, CAST(count(*) AS BIGINT) AS k,
       |                CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |         FROM exact e LEFT JOIN cand c
       |           ON c.q_id = e.q_id AND c.vec_id = e.vec_id
       |         GROUP BY 1)
       |SELECT h.q_id, h.k, COALESCE(nc.n_candidates, 0) AS n_candidates, h.n_hit,
       |       round(h.n_hit::DOUBLE / h.k, 4) AS recall
       |FROM hits h LEFT JOIN nc ON nc.q_id = h.q_id
       |ORDER BY h.q_id""".stripMargin

  // ---------------------------------------------------------------- C3: per-dimension embedding profile
  /** Per-dimension moments of the embedding matrix — the diagnostic run
    * before PCA/whitening/quantization: dead dimensions (≈0 variance)
    * waste index bits, dominant ones distort unnormalized distances.
    * posexplode → one (dim)-keyed partial+final aggregate; the shuffle
    * carries 64 rows per upstream partition regardless of corpus size
    * (same map-side-combine bound as the histogram family). Moments in
    * double precision, round(4) absorbing sum-order ulps (q45's
    * precedent); dims reported 1-indexed to match SQL subscripts. */
  def q176DimVariance(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("d0", "x")))
      .select((col("d0") + 1).as("d"), col("x").cast("double").as("x"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 4).as("mean"),
        round(var_pop(col("x")), 4).as("variance"),
        round(min(col("x")), 4).as("min_x"),
        round(max(col("x")), 4).as("max_x"))
      .orderBy(col("d"))

  val q176Sql: String =
    """SELECT d, count(*) AS n,
      |       round(avg(x), 4) AS mean,
      |       round(var_pop(x), 4) AS variance,
      |       round(min(x), 4) AS min_x,
      |       round(max(x), 4) AS max_x
      |FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |             unnest(embedding)::DOUBLE AS x FROM embeddings) t(vec_id, d, x)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- C3: dimension-pair covariance screen
  /** Off-diagonal covariance screen over the embedding matrix — q176's
    * pairwise sequel and the input to PCA/whitening/rotation decisions:
    * strongly covarying dimension PAIRS mean the basis wastes capacity
    * (a whitening transform or PCA rotation would decorrelate them), and
    * they break the independence assumption product-quantization codebooks
    * rely on.
    *
    * Exactness: values quantize to the integer grid w = ⌊1000·x⌋ first
    * (float32→double widen is exact, the double product and floor are
    * IEEE-identical on both engines), so every co-moment is BIGINT
    * arithmetic — the pair covariance numerator n·S_ij − S_i·S_j is
    * engine- and partitioning-exact, no float-sum-order leeway. (The
    * rounded `cov` column divides two exact integers — one IEEE divide,
    * identical everywhere.)
    *
    * Scale: the d×d/2 co-moment matrix accumulates per PARTITION inside
    * one `mapPartitions` pass (one 64×64 Long array per task — the
    * classic X^T·X block update), so the shuffle carries ≤ P·d(d−1)/2
    * partial rows regardless of corpus size; everything downstream is
    * 2016-row arithmetic. The naive alternative — explode + self-join on
    * vec_id — shuffles n·d rows twice and is what this plan exists to
    * avoid. (At 10^9+ rows the integer numerator would overflow BIGINT:
    * there the same pass would accumulate mean-centered doubles instead;
    * the integer form is what makes the GATE exact.) */
  def q196DimCovariance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quant = Tables.embeddings(s, dir)
      .select(transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long")).as("w"))
    // per-partition triangular accumulator; emits (i,j,S_ij) partials for
    // i<j, (i,i,S_i) per-dim sums, and one (-1,-1,n) count row
    val partials = quant.as[Array[Long]].mapPartitions { rows =>
      var dims = 0
      var n = 0L
      var acc: Array[Long] = null // flattened upper triangle + diag sums
      var sums: Array[Long] = null
      rows.foreach { w =>
        if (acc == null) {
          dims = w.length
          acc = new Array[Long](dims * dims)
          sums = new Array[Long](dims)
        }
        n += 1
        var i = 0
        while (i < dims) {
          val wi = w(i)
          sums(i) += wi
          var j = i + 1
          while (j < dims) { acc(i * dims + j) += wi * w(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val pairRows = for {
          i <- (0 until dims).iterator
          j <- (i + 1) until dims
        } yield (i, j, acc(i * dims + j))
        val dimRows = (0 until dims).iterator.map(i => (i, i, sums(i)))
        pairRows ++ dimRows ++ Iterator((-1, -1, n))
      }
    }.toDF("di", "dj", "s")
      // three consumers (pairs, per-dim sums, count) — materialize the
      // P·(d²/2+d+1)-row partials once or the corpus pass runs three times
      .localCheckpoint(true)
    val pairs = partials.filter(col("di") >= 0 && col("di") < col("dj"))
      .groupBy(col("di"), col("dj")).agg(sum(col("s")).as("s_ij"))
    val dimS = partials.filter(col("di") >= 0 && col("di") === col("dj"))
      .groupBy(col("di").as("d")).agg(sum(col("s")).as("s_d"))
    val nTot = partials.filter(col("di") === -1).agg(sum(col("s")).as("n"))
    pairs
      .crossJoin(broadcast(nTot))
      .join(broadcast(dimS.select(col("d").as("di"), col("s_d").as("s_i"))), Seq("di"))
      .join(broadcast(dimS.select(col("d").as("dj"), col("s_d").as("s_j"))), Seq("dj"))
      .select((col("di") + 1).as("di"), (col("dj") + 1).as("dj"),
        (col("n") * col("s_ij") - col("s_i") * col("s_j")).as("cov_num"),
        round((col("n") * col("s_ij") - col("s_i") * col("s_j")) /
          (col("n") * col("n") * lit(1000000.0)), 8).as("cov"))
      .orderBy(abs(col("cov_num")).desc, col("di"), col("dj"))
      .limit(20)
  }

  val q196Sql: String =
    """WITH w AS (
      |  SELECT vec_id, d AS i, CAST(floor(x * 1000) AS BIGINT) AS w
      |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |               unnest(embedding)::DOUBLE AS x FROM embeddings) t(vec_id, d, x)
      |),
      |pairs AS (
      |  SELECT a.i AS di, b.i AS dj, sum(a.w * b.w)::BIGINT AS s_ij
      |  FROM w a JOIN w b ON b.vec_id = a.vec_id AND b.i > a.i
      |  GROUP BY 1, 2
      |),
      |dims AS (SELECT i, sum(w)::BIGINT AS s_i FROM w GROUP BY i),
      |nt AS (SELECT count(*) AS n FROM embeddings)
      |SELECT p.di, p.dj,
      |  (nt.n * p.s_ij - da.s_i * db.s_i)::BIGINT AS cov_num,
      |  round((nt.n * p.s_ij - da.s_i * db.s_i) / (nt.n * nt.n * 1000000.0), 8) AS cov
      |FROM pairs p, nt
      |JOIN dims da ON da.i = p.di
      |JOIN dims db ON db.i = p.dj
      |ORDER BY abs(nt.n * p.s_ij - da.s_i * db.s_i) DESC, p.di, p.dj
      |LIMIT 20""".stripMargin

  val q31Sql: String =
    s"""WITH $lshCtes,
       |qs AS (SELECT vec_id AS q_id, bucket FROM buck WHERE vec_id < 5),
       |cand AS (SELECT q.q_id, b.vec_id FROM qs q JOIN buck b ON b.bucket = q.bucket
       |         WHERE b.vec_id <> q.q_id),
       |${lshScoreSql(5)}""".stripMargin

  // ---------------------------------------------------------------- C3: IVF-style ANN
  /** IVF-flavoured ANN: a small deterministic centroid set (every 400th
    * vector, capped at 256 — production would k-means; the
    * partition/search shape is identical), each vector assigned to its
    * best-cosine cell, neighbor search confined to the query's cell.
    * Assignment is a broadcast of the centroid set + per-row fused-cosine
    * argmax; the cell join is an equi-join. The cap is what keeps the
    * index build O(n·k): an uncapped every-400th rule grows the centroid
    * count with the corpus and turns assignment quadratic (measured at
    * 500k embeddings before the cap landed; SCALE.md records the ANN
    * stress numbers). */
  def q46IvfAnn(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.cosine_sim
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") % 400 === 0 && col("vec_id") < 400L * 256)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    val cells = assignCells(emb, cents).withColumnRenamed("c_id", "cell")
    val q = cells.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("cell"))
    val scored = cells.join(q, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  val q46Sql: String =
    """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
      |            FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
      |cents AS (SELECT vec_id AS c_id FROM embeddings WHERE vec_id % 400 = 0 AND vec_id < 102400),
      |cdots AS (SELECT a.vec_id, c.c_id, sum(a.x * b.x) AS dot
      |          FROM ex a CROSS JOIN cents c JOIN ex b ON b.vec_id = c.c_id AND b.i = a.i
      |          GROUP BY a.vec_id, c.c_id),
      |ccos AS (SELECT cd.vec_id, cd.c_id, cd.dot / (n1.nrm * n2.nrm) AS cc
      |         FROM cdots cd JOIN norms n1 ON n1.vec_id = cd.vec_id
      |         JOIN norms n2 ON n2.vec_id = cd.c_id),
      |cells AS (SELECT vec_id, c_id AS cell FROM (
      |            SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c_id) AS rn
      |            FROM ccos) t WHERE rn = 1),
      |qs AS (SELECT vec_id AS q_id, cell FROM cells WHERE vec_id < 5),
      |cand AS (SELECT q.q_id, c.vec_id FROM qs q JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.q_id),
      |dots AS (SELECT cd.q_id, cd.vec_id, sum(a.x * b.x) AS dot
      |         FROM cand cd JOIN ex a ON a.vec_id = cd.q_id JOIN ex b ON b.vec_id = cd.vec_id AND b.i = a.i
      |         GROUP BY cd.q_id, cd.vec_id),
      |cos AS (SELECT d.q_id, d.vec_id, d.dot / (na.nrm * nb.nrm) AS c
      |        FROM dots d JOIN norms na ON na.vec_id = d.q_id JOIN norms nb ON nb.vec_id = d.vec_id),
      |r AS (SELECT q_id, vec_id, c,
      |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM cos)
      |SELECT q_id, rn, vec_id, round(c, 5) AS cos FROM r WHERE rn <= 5
      |ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------- C3: kNN via heap aggregate
  /** Same result as q30, but top-k selection runs through the heap
    * aggregate [[graft.functions.TopK]] instead of a ranking window: the
    * shuffle carries k-bounded partial buffers per (query, partition)
    * rather than every scored pair — the formulation that survives a
    * 100 TB corpus. Oracle: identical to q30's. */
  def q47KnnTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.cosine_sim
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopK.top_k(10)(col("cos"), col("vec_id")).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rn"),
              col("e._2").as("vec_id"), round(col("e._1"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  // ---------------------------------------------------------------- C3: multi-probe ANN
  /** Multi-probe variant of q31: each query also probes the 8 buckets at
    * Hamming distance 1 from its own (flip one hyperplane bit), recovering
    * most of the recall single-bucket LSH loses on weakly-clustered data
    * while still scoring only ~9/256 of the corpus. Probe expansion is a
    * 9-row explode on the (tiny) query side; the candidate lookup stays an
    * equi-join on the bucket id. */
  def q52AnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{cosine_sim, lsh_bucket}
    val emb = Tables.embeddings(s, dir)
    val withB = emb.withColumn("bucket", lsh_bucket(col("embedding")))
    // probe j = -1 keeps the home bucket; j in 0..7 flips plane j's bit
    val q = withB.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
      .crossJoin(broadcast(s.range(-1, 8).select(col("id").cast("int").as("j"))))
      .select(col("q_id"), col("qe"),
        when(col("j") === -1, col("bucket"))
          .otherwise(expr("CAST(bucket ^ shiftleft(1, j) AS BIGINT)")).as("bucket"))
    val scored = withB.join(q, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  val q52Sql: String =
    s"""WITH $lshCtes,
       |qs AS (SELECT b.vec_id AS q_id,
       |         CASE WHEN p.j = -1 THEN b.bucket ELSE xor(b.bucket, (1::BIGINT << p.j)) END AS bucket
       |       FROM buck b CROSS JOIN (SELECT unnest(range(-1, 8)) AS j) p
       |       WHERE b.vec_id < 5),
       |cand AS (SELECT DISTINCT q.q_id, b.vec_id FROM qs q JOIN buck b ON b.bucket = q.bucket
       |         WHERE b.vec_id <> q.q_id),
       |${lshScoreSql(5)}""".stripMargin

  // ---------------------------------------------------------------- C1/C3: embedding near-dup
  /** Embedding-cosine near-duplicate detection: candidate pairs from the
    * LSH bucket equi-join (both orders of each Hamming-0 pair collapse to
    * d1 < d2), exact cosine verification only within buckets. The scale
    * shape of "drop semantic duplicates from 100 TB of embeddings" —
    * corpus-linear hashing, pairwise work confined to bucket collisions.
    * Threshold 0.25 (the corpus is random so near-orthogonal; real corpora use ~0.95). */
  def q54EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.cosine_sim
    val withB = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              graft.functions.GraftFunctions.lsh_bucket(col("embedding")).as("bucket"))
    withB.as("a").join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= 0.25)
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
              round(col("cos"), 5).as("cos"))
      .orderBy(col("d1"), col("d2"))
  }

  val q54Sql: String =
    s"""WITH $lshCtes,
       |cand AS (SELECT a.vec_id AS d1, b.vec_id AS d2 FROM buck a JOIN buck b
       |         ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |dots AS (SELECT c.d1, c.d2, sum(a.x * b.x) AS dot
       |         FROM cand c JOIN ex a ON a.vec_id = c.d1 JOIN ex b ON b.vec_id = c.d2 AND b.d = a.d
       |         GROUP BY c.d1, c.d2),
       |cos AS (SELECT d.d1, d.d2, d.dot / (na.nrm * nb.nrm) AS c
       |        FROM dots d JOIN norms na ON na.vec_id = d.d1 JOIN norms nb ON nb.vec_id = d.d2)
       |SELECT d1, d2, round(c, 5) AS cos FROM cos WHERE c >= 0.25
       |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------- C3: centroid assignment
  /** Nearest-centroid cell assignment — the ONE definition shared by the
    * IVF index (q46) and semantic dedup (q210), so the two can never
    * disagree on scoring or tie-breaking (max cosine, ties → min c_id).
    * The centroid set is broadcast-small by definition, so it is collected
    * once and baked into a literal; `NearestCellExpr` then scores all k
    * cells in one compiled call per corpus row — a pure map stage, no n·k
    * join rows, no shuffle. (Measured at 200k embeddings × 256 centroids:
    * the previous crossJoin + window formulation spent its time
    * materializing and sorting 51M joined rows, slower than brute-force
    * kNN; this form builds the index at scan speed.)
    * Input centroids: (c_id, ce). Returns (vec_id, embedding, c_id). */
  def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // NOTE: construction is eager here — fetching the centroid set runs a
    // (small) job, the same driver-built-structure pattern as q78's bloom
    // filter. Centroid sets are broadcast-small by definition.
    val cents = centroids.select(col("c_id"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    if (cents.isEmpty)
      // no cells exist → empty (but well-formed) assignment, matching the
      // join formulation's behavior
      emb.select(col("vec_id"), col("embedding"))
        .withColumn("c_id", lit(0L)).filter(lit(false))
    else
      emb.select(col("vec_id"), col("embedding"))
        .withColumn("c_id", graft.functions.GraftFunctions.nearest_cell(
          col("embedding"), typedLit(cents)))
        .select(col("vec_id"), col("embedding"), col("c_id"))
  }

  // ---------------------------------------------------------------- C3: contrastive hard-negative mining
  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-5 most-similar vectors with a DIFFERENT label — the
    * highest-value negatives for embedding-model training. Same broadcast
    * query-set + corpus-scan shape as exact kNN (q30); the label
    * inequality prunes before ranking, so the per-query window is
    * negatives-only. At 100 TB the corpus side goes through the ANN bucket
    * path (q31/q46) first, then this same rank-after-filter. */
  def q76HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("label"), round(col("cos"), 5).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  val q76Sql: String =
    s"""WITH ${knnScoreCtes("")},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |fil AS (SELECT c.q_id, c.vec_id, lb.label, c.c
       |        FROM cos c JOIN lab lq ON lq.vec_id = c.q_id JOIN lab lb ON lb.vec_id = c.vec_id
       |        WHERE lb.label <> lq.label),
       |r AS (SELECT q_id, vec_id, label, c,
       |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn FROM fil)
       |SELECT q_id, rn, vec_id, label, round(c, 5) AS cos FROM r WHERE rn <= 5
       |ORDER BY q_id, rn""".stripMargin

  // ------------------------------------------------- C3: int8 quantization
  /** Symmetric int8 scalar quantization of the embedding column — the
    * standard memory-4× step before ANN indexing (float32 → int8 cuts a
    * 100 TB vector corpus to 25 TB and quadruples cache residency; IVF/LSH
    * bucket scans then stream int8 codes and rescale on the fly). Per row:
    * absmax scale, integer code statistics, and the exact reconstruction
    * MSE. Pure map stage over higher-order functions — no shuffle, no UDF.
    * Every step (abs, max, divide, multiply, floor, +0.5) is IEEE-exact,
    * so the DuckDB oracle matches bit-for-bit; all-zero vectors carry no
    * scale and are excluded on both sides. */
  def q92EmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("maxabs"))
      .filter(col("maxabs") > 0)
      .select(col("vec_id"), col("label"), col("v"), col("maxabs"),
        transform(col("v"),
          x => floor(x * (lit(127.0) / col("maxabs")) + lit(0.5))).as("q"))
      .select(col("vec_id"), col("label"),
        round(lit(127.0) / col("maxabs"), 4).as("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
        array_min(col("q")).as("qmin"),
        array_max(col("q")).as("qmax"),
        round(aggregate(zip_with(col("v"), col("q"), (x, qq) => {
          val d = x - qq * col("maxabs") / lit(127.0); d * d
        }), lit(0.0), (a, x) => a + x), 8).as("mse"))
      .orderBy(col("vec_id"))

  val q92Sql: String =
    """WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |              unnest(embedding)::DOUBLE AS x FROM embeddings),
      |m AS (SELECT vec_id, max(abs(x)) AS maxabs FROM ex GROUP BY vec_id),
      |qv AS (SELECT e.vec_id, e.label, e.x,
      |         floor(e.x * (127.0 / m.maxabs) + 0.5) AS q, m.maxabs
      |       FROM ex e JOIN m ON m.vec_id = e.vec_id WHERE m.maxabs > 0)
      |SELECT vec_id, label, round(127.0 / maxabs, 4) AS scale,
      |  sum(q)::BIGINT AS qsum, min(q)::BIGINT AS qmin, max(q)::BIGINT AS qmax,
      |  round(sum((x - q * maxabs / 127.0) * (x - q * maxabs / 127.0)), 8) AS mse
      |FROM qv GROUP BY vec_id, label, maxabs ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- C3: label centroids / class cohesion
  /** Per-label mean embedding (the class centroid) and the class's
    * cohesion: avg / min cosine of members to their own centroid — the
    * standard screen for mislabeled or heterogeneous classes before
    * contrastive training (and the same centroid computation IVF/k-means
    * training uses, here as an oracle-checked query).
    *
    * Scale design: the centroid pass posexplodes to (label, dim) keyed
    * partial averages — map-side combine collapses each partition to
    * |labels|·dim rows before the shuffle. The |labels|-sized centroid
    * table is reassembled into ordered arrays and BROADCAST back; the
    * scoring pass is then one map-only scan computing the dot via
    * zip_with/aggregate — the corpus never shuffles for scoring. */
  def q115LabelCentroid(s: SparkSession, dir: String): DataFrame =
    centroidCos(s, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           round(avg(col("cos")), 4).as("avg_cos"),
           round(min(col("cos")), 4).as("min_cos"),
           round(sqrt(aggregate(transform(first(col("cv")), a => a * a),
             lit(0.0), (acc, v) => acc + v)), 4).as("centroid_norm"))
      .orderBy(col("label"))

  /** Shared centroid-cosine pass for q115/q118: per-vector cosine to the
    * vector's own label centroid (+ the centroid array `cv` for norm
    * reporting). Centroids via (label,dim)-keyed partial averages;
    * scoring via broadcast + zip_with — corpus never shuffles. */
  private def centroidCos(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("i"), col("col").cast("double").as("x"))
    val cent = ex.groupBy(col("label"), col("i")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        e => e.getField("c")).as("cv"))
    Tables.embeddings(s, dir)
      .join(broadcast(cent), Seq("label"))
      // the file's ONE dot/norm definition — inlined copies here once
      // drifted a cast from the spec-pinned helpers
      .withColumn("dot", dot(col("embedding"), col("cv")))
      .withColumn("nv", norm(col("embedding")))
      .withColumn("nc", norm(col("cv")))
      .withColumn("cos", col("dot") / (col("nv") * col("nc")))
  }

  // ---------------------------------------------------------------- C3: mislabel screen
  /** The 3 members of each label that cohere WORST with their own
    * centroid — the shortlist a labeling-QA pass reviews first (low
    * cosine to own class ⇒ likely mislabeled or boundary case). Ranks on
    * the ROUNDED cosine with vec_id tie-break so both engines select
    * identically. Same broadcast/zip_with scoring pass as q115; the
    * ranking window partitions by label over corpus-sized input — at
    * 100 TB swap for the k-bounded TopK Aggregator (q47's kernel). */
  def q118MislabelScreen(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_r"), col("vec_id"))
    centroidCos(s, dir)
      .withColumn("cos_r", round(col("cos"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("label"), col("rn"), col("vec_id"), col("cos_r").as("cos"))
      .orderBy(col("label"), col("rn"))
  }

  val q118Sql: String =
    """WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |                   unnest(embedding)::DOUBLE AS x
      |            FROM embeddings),
      |cent AS (SELECT label, i, avg(x) AS c FROM ex GROUP BY 1, 2),
      |dots AS (SELECT ex.label, ex.vec_id,
      |                sum(ex.x * cent.c) AS dot,
      |                sum(ex.x * ex.x) AS nv2,
      |                sum(cent.c * cent.c) AS nc2
      |         FROM ex JOIN cent ON cent.label = ex.label AND cent.i = ex.i
      |         GROUP BY 1, 2),
      |cos AS (SELECT label, vec_id,
      |               round(dot / (sqrt(nv2) * sqrt(nc2)), 4) AS cos
      |        FROM dots),
      |r AS (SELECT label, vec_id, cos,
      |             row_number() OVER (PARTITION BY label
      |                                ORDER BY cos, vec_id) AS rn
      |      FROM cos)
      |SELECT label, rn, vec_id, cos FROM r WHERE rn <= 3
      |ORDER BY label, rn""".stripMargin

  val q115Sql: String =
    """WITH ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |                   unnest(embedding)::DOUBLE AS x
      |            FROM embeddings),
      |cent AS (SELECT label, i, avg(x) AS c FROM ex GROUP BY 1, 2),
      |dots AS (SELECT ex.label, ex.vec_id,
      |                sum(ex.x * cent.c) AS dot,
      |                sum(ex.x * ex.x) AS nv2,
      |                sum(cent.c * cent.c) AS nc2
      |         FROM ex JOIN cent ON cent.label = ex.label AND cent.i = ex.i
      |         GROUP BY 1, 2),
      |cos AS (SELECT label, vec_id, dot / (sqrt(nv2) * sqrt(nc2)) AS cos,
      |               sqrt(nc2) AS nc
      |        FROM dots)
      |SELECT label, count(*) AS n,
      |       round(avg(cos), 4) AS avg_cos,
      |       round(min(cos), 4) AS min_cos,
      |       round(min(nc), 4) AS centroid_norm
      |FROM cos GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- C3: kNN label-vote screen
  /** kNN-disagreement mislabel screen — the LOCAL complement to q118's
    * global centroid test: a vector whose 5 nearest LSH-bucket
    * neighbors vote for a DIFFERENT label is a mislabel/boundary
    * suspect even when it sits near its own class centroid. Corpus-wide
    * neighbor search stays linear: candidates come from the same
    * deterministic LSH buckets as q31/q54 (every vector hashes once,
    * map-only; pairs via bucket equi-join), scored with the fused
    * cosine kernel, ranked top-5, then one vote aggregation with an
    * argmax-struct majority (vote count desc, label asc — no window
    * re-sort). */
  def q141KnnLabelVote(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val withB = emb.withColumn("bucket",
      graft.functions.GraftFunctions.lsh_bucket(col("embedding")))
    val cand = withB.select(col("vec_id").as("q_id"), col("label").as("own_label"),
        col("embedding").as("qe"), col("bucket"))
      .join(withB.select(col("vec_id"), col("label"), col("embedding"), col("bucket")),
        "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val top = cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    val votes = top.groupBy(col("q_id"), col("own_label"), col("label"))
      .agg(count(lit(1)).as("v"))
    votes.groupBy(col("q_id"), col("own_label"))
      .agg(sum(col("v")).as("n_votes"),
        max(struct(col("v"), (-col("label")).as("nl"), col("label").as("lab")))
          .as("best"))
      .select(col("q_id").as("vec_id"), col("own_label"),
        col("best.lab").as("voted_label"), col("best.v").as("n_agree"),
        col("n_votes"))
      .filter(col("voted_label") =!= col("own_label"))
      .orderBy(col("vec_id"))
  }

  val q141Sql: String =
    s"""WITH $lshCtes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (SELECT a.vec_id AS q_id, b.vec_id
       |         FROM buck a JOIN buck b ON b.bucket = a.bucket
       |                                AND b.vec_id <> a.vec_id),
       |dots AS (SELECT c.q_id, c.vec_id, sum(a.x * b.x) AS dot
       |         FROM cand c JOIN ex a ON a.vec_id = c.q_id
       |                     JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
       |         GROUP BY c.q_id, c.vec_id),
       |cos AS (SELECT q_id, d.vec_id, d.dot / (na.nrm * nb.nrm) AS c
       |        FROM dots d JOIN norms na ON na.vec_id = d.q_id
       |                    JOIN norms nb ON nb.vec_id = d.vec_id),
       |r AS (SELECT q_id, vec_id,
       |             row_number() OVER (PARTITION BY q_id
       |                                ORDER BY c DESC, vec_id) AS rn
       |      FROM cos),
       |top AS (SELECT q_id, vec_id FROM r WHERE rn <= 5),
       |votes AS (SELECT t.q_id, l.label, count(*) AS v
       |          FROM top t JOIN lab l ON l.vec_id = t.vec_id GROUP BY 1, 2),
       |best AS (SELECT q_id, label AS voted_label, v,
       |                row_number() OVER (PARTITION BY q_id
       |                                   ORDER BY v DESC, label) AS br
       |         FROM votes),
       |nv AS (SELECT q_id, count(*) AS n_votes FROM top GROUP BY q_id)
       |SELECT b.q_id AS vec_id, l.label AS own_label, b.voted_label,
       |       CAST(b.v AS BIGINT) AS n_agree, nv.n_votes
       |FROM best b JOIN lab l ON l.vec_id = b.q_id JOIN nv USING (q_id)
       |WHERE b.br = 1 AND b.voted_label <> l.label
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q155: JL random projection
  /** Johnson–Lindenstrauss dimensionality reduction, Achlioptas ±1 form:
    * 64-dim float embeddings projected to 8 components y_j = Σ_d v[d]·s(j,d)
    * with deterministic integer pseudo-random signs s(j,d) (the same
    * Knuth-multiplier scheme the LSH planes use — no RNG, so the
    * projection is identical across engines, executors, and re-runs).
    * JL: pairwise distances survive within (1±ε) wp → the cheap
    * front-end that makes brute-force kNN 8× narrower before exact
    * re-scoring. Map-only — projects 100 TB at scan speed; at that
    * volume the HOF moves into a fused native Expression (q92's
    * precedent). Accumulation is index-ordered in both engines, so
    * doubles agree bit-for-bit before the final round. */
  def q155JlProject(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(graft.functions.GraftFunctions.jl_project8(col("embedding")))
          .as(Seq("j", "y")))
      .select(col("vec_id"), col("j").cast("int").as("j"), round(col("y"), 4).as("y"))
      .orderBy(col("vec_id"), col("j"))

  val q155Sql: String =
    """WITH dims AS (SELECT d FROM range(1, 65) t(d)),
      |js AS (SELECT j FROM range(8) t(j)),
      |comps AS (
      |  SELECT vec_id, j,
      |         sum(embedding[d]::DOUBLE *
      |             (CASE WHEN ((j * 64 + d) * 2654435761) % 2000003 >= 1000001
      |                   THEN 1 ELSE -1 END)) AS y
      |  FROM embeddings CROSS JOIN js CROSS JOIN dims
      |  GROUP BY vec_id, j)
      |SELECT vec_id, CAST(j AS INTEGER) AS j, round(y, 4) AS y
      |FROM comps ORDER BY vec_id, j""".stripMargin

  // ---------------------------------------------------------------- q165: ROC AUC
  /** One-vs-rest ROC AUC per label for a fixed linear-probe score (the
    * JL component-0 projection — a deterministic stand-in for a model
    * score; all-ties-free unlike the unit norms). AUC via the
    * Mann–Whitney rank-sum identity with average-rank tie handling:
    * AUC_c = (R2_c − n_c(n_c+1)) / (2·n_c·(N−n_c)), where
    * R2_c = Σ_pos (2·rank + ties − 1) is twice the positive rank-sum —
    * an EXACT integer, so both engines agree bit-for-bit before the one
    * final division.
    *
    * Scale design: no per-row global window. Ranks come off the SCORE
    * HISTOGRAM (distinct rounded score → count), which is
    * resolution-bounded (≤ ~10⁴·range rows at 4 dp) regardless of corpus
    * size; min-rank is a prefix sum over that dimension-sized table, and
    * the per-(score,label) cells join against it broadcast. Two
    * corpus-sized aggregations, zero corpus sorts. */
  def q165RocAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir)
      .select(col("label"),
        round(element_at(graft.functions.GraftFunctions.jl_project8(col("embedding")), 1), 4)
          .as("sc"))
    val hist = scored.groupBy(col("sc")).agg(count(lit(1)).as("cnt"))
      .withColumn("minr",
        sum(col("cnt")).over(Window.orderBy(col("sc"))) - col("cnt") + 1)
    val cells = scored.groupBy(col("sc"), col("label")).agg(count(lit(1)).as("m"))
    cells.join(broadcast(hist), "sc")
      .groupBy(col("label"))
      .agg(sum(col("m") * (lit(2L) * col("minr") + col("cnt") - 1)).as("r2"),
           sum(col("m")).as("n"))
      .withColumn("nn", sum(col("n")).over(Window.partitionBy()))
      .select(col("label"), col("n"),
        round((col("r2") - col("n") * (col("n") + 1)).cast("double") /
              (lit(2.0) * col("n") * (col("nn") - col("n"))), 4).as("auc"))
      .orderBy(col("label"))
  }

  val q165Sql: String =
    """WITH dims AS (SELECT d FROM range(1, 65) t(d)),
      |scored AS (
      |  SELECT label, round(sum(embedding[d]::DOUBLE *
      |           (CASE WHEN (d * 2654435761) % 2000003 >= 1000001
      |                 THEN 1 ELSE -1 END)), 4) AS sc
      |  FROM embeddings CROSS JOIN dims
      |  GROUP BY vec_id, label),
      |r AS (SELECT label, rank() OVER (ORDER BY sc) AS rk,
      |             count(*) OVER (PARTITION BY sc) AS tc FROM scored),
      |g AS (SELECT label, sum(2 * rk + tc - 1)::BIGINT AS r2,
      |             count(*)::BIGINT AS n FROM r GROUP BY label),
      |t AS (SELECT sum(n)::BIGINT AS nn FROM g)
      |SELECT label, n,
      |  round((r2 - n * (n + 1))::DOUBLE / (2.0 * n * (nn - n)), 4) AS auc
      |FROM g CROSS JOIN t ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- C3: calibration curve + Brier (model-eval analytics)
  /** Reliability diagram + Brier score over the q165 score — the
    * calibration half of model evaluation (AUC says the score RANKS
    * well; calibration says its MAGNITUDE means what it claims, which is
    * what sample-weighting and threshold transfer depend on). The score
    * is min-max normalized to a [0,1] pseudo-probability (1-row
    * extremes frame, broadcast), binned into 10 fixed bands (map-side
    * floor — no quantile pass), and each band reports volume, mean
    * predicted p and observed positive rate (label 0 one-vs-rest);
    * the global Brier mean((p−y)²) rides along as a constant column.
    * Everything downstream of the one corpus aggregate is band-sized. */
  def q191Calibration(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(col("label"),
      round(element_at(graft.functions.GraftFunctions.jl_project8(col("embedding")), 1), 4)
        .as("sc"))
    val ext = scored.agg(min(col("sc")).as("mn"), max(col("sc")).as("mx"))
    val p = scored.join(broadcast(ext))
      .withColumn("p", (col("sc") - col("mn")) / (col("mx") - col("mn")))
      .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
      .withColumn("y", when(col("label") === 0, 1.0).otherwise(0.0))
    val brier = p.agg(
      round(sum(pow(col("p") - col("y"), 2)) / count(lit(1)), 4).as("brier"))
    p.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), round(avg(col("p")), 4).as("mean_p"),
           round(sum(col("y")) / count(lit(1)), 4).as("pos_rate"))
      .join(broadcast(brier))
      .orderBy(col("bin"))
  }

  val q191Sql: String =
    """WITH dims AS (SELECT d FROM range(1, 65) t(d)),
      |scored AS (
      |  SELECT vec_id, label, round(sum(embedding[d]::DOUBLE *
      |           (CASE WHEN (d * 2654435761) % 2000003 >= 1000001
      |                 THEN 1 ELSE -1 END)), 4) AS sc
      |  FROM embeddings CROSS JOIN dims
      |  GROUP BY vec_id, label),
      |ext AS (SELECT min(sc) AS mn, max(sc) AS mx FROM scored),
      |p AS (SELECT least(CAST(floor((sc - mn) / (mx - mn) * 10) AS BIGINT), 9) AS bin,
      |             (sc - mn) / (mx - mn) AS p,
      |             CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
      |      FROM scored CROSS JOIN ext),
      |b AS (SELECT round(sum((p - y) * (p - y)) / count(*), 4) AS brier FROM p)
      |SELECT bin, count(*) AS n, round(avg(p), 4) AS mean_p,
      |       round(sum(y) / count(*), 4) AS pos_rate, brier
      |FROM p CROSS JOIN b GROUP BY bin, brier ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- C3: hybrid retrieval (lexical + vector, RRF fusion)
  /** Reciprocal-rank fusion of a lexical ranker and a vector ranker —
    * the retrieval shape a training-data pipeline uses for dedup-aware
    * sourcing and eval-set mining (fuse BM25-ish term evidence with
    * embedding similarity without score calibration). Candidates are all
    * docs but the query doc (doc_id 0, whose embedding is the vector
    * query); the lexical leg counts occurrences of the fixed term set
    * {join, hash}; each leg ranks independently (rank on the ROUNDED
    * cosine so cross-engine float ulps can't flip neighbors; doc_id
    * tie-break) and RRF k=60 fuses: 1/(60+r_lex) + 1/(60+r_vec).
    * Scale: each leg is the already-scaled primitive (term count is a
    * map-side agg; cosine top-N is q30's broadcast-query scan); the
    * fusion join is rank-table-sized, and a production top-k would cap
    * each leg's rank table at k before the join. */
  def q183HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") =!= 0)
    val lex = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "),
        t => t === "join" || t === "hash")).as("lexn"))
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val vec = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.GraftFunctions.cosine_sim(col("qe"), col("embedding")), 5).as("cos"))
    // both rank lists are corpus-grain: a global row_number window would
    // funnel every doc through one task, so the exact ranks come from
    // DistRank's range-partitioned sort + broadcast offsets. The two legs
    // fuse into ONE rank pass (the q134 long-format recipe): a union of
    // (leg, sort-value, doc_id) rows group-ranked by leg — one range
    // shuffle and one offsets broadcast for both rankers instead of two
    // full DistRank passes (measured: the two offset-build jobs were the
    // query's dominant cost). Descent is encoded by NEGATION, exact for
    // both payloads (lexn is a small count, exact as double far below
    // 2^53; cos is a finite double, and IEEE negation is a bijective
    // order reversal), so (leg, -value, doc_id) ascending reproduces each
    // leg's (value DESC, doc_id) order bit-for-bit.
    val longf = lex
      .select(lit(0).as("leg"), (-col("lexn").cast("double")).as("nv"), col("doc_id"))
      .unionAll(vec.select(lit(1).as("leg"), -col("cos"), col("doc_id")))
    val ranked = DistRank.withGroupRank(longf, Seq("leg"), "r",
      Seq(col("leg"), col("nv"), col("doc_id"))).df
    // pivot back to one row per doc; the original inner join kept only
    // docs present in BOTH legs — the non-null filter is that join
    val fused = ranked.groupBy(col("doc_id"))
      .agg(max(when(col("leg") === 0, col("r"))).as("r_lex"),
           max(when(col("leg") === 1, col("r"))).as("r_vec"))
      .filter(col("r_lex").isNotNull && col("r_vec").isNotNull)
    fused
      .withColumn("rrf",
        round(lit(1.0) / (lit(60) + col("r_lex")) + lit(1.0) / (lit(60) + col("r_vec")), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("r_lex"), col("r_vec"), col("rrf"))
  }

  val q183Sql: String =
    """WITH lex AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> t IN ('join', 'hash'))) AS lexn
      |  FROM documents WHERE doc_id <> 0),
      |lr AS (SELECT doc_id, row_number() OVER (ORDER BY lexn DESC, doc_id) AS r_lex FROM lex),
      |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
      |       FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
      |dots AS (SELECT b.vec_id, sum(a.x * b.x) AS dot
      |         FROM ex a JOIN ex b ON a.i = b.i
      |         WHERE a.vec_id = 0 AND b.vec_id <> 0 GROUP BY 1),
      |cosv AS (SELECT d.vec_id AS doc_id,
      |                round(d.dot / (nq.nrm * nb.nrm), 5) AS c
      |         FROM dots d
      |         JOIN norms nq ON nq.vec_id = 0
      |         JOIN norms nb ON nb.vec_id = d.vec_id),
      |vr AS (SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r_vec FROM cosv)
      |SELECT lr.doc_id, lr.r_lex, vr.r_vec,
      |  round(1.0 / (60 + lr.r_lex) + 1.0 / (60 + vr.r_vec), 6) AS rrf
      |FROM lr JOIN vr ON vr.doc_id = lr.doc_id
      |ORDER BY rrf DESC, lr.doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- C3: semantic dedup (SemDeDup)
  /** Semantic deduplication in the SemDeDup style (arXiv:2303.09540):
    * cluster the corpus with the IVF coarse quantizer and, inside each
    * cluster, drop the member of every near-identical pair that sits
    * CLOSER to its centroid — the paper keeps the lowest-centroid-cosine
    * exemplar so the surviving data stays diverse. Clustering uses
    * deterministic seeds through [[assignCells]] — the file's ONE
    * assignment definition, so the dedup can never cluster differently
    * than the ANN index. Near-identical = cosine ≥ 0.25 on the
    * 4dp-rounded score; 4dp centroid-cosine ties → the lower vec_id
    * survives. The rule is per-edge (a vector is dropped iff it
    * loses any pair), which keeps the operator a join + aggregate — no
    * transitive closure, no iteration — and the verdict deterministic.
    * Scale: assignment is a broadcast-centroid map stage; the pair join
    * is cell-confined (equi-join on c_id), so candidate volume is
    * Σ|cell|² — the SemDeDup contract (k grows with the corpus to hold
    * |cell| ≈ corpus/k); the drop set is pair-bounded. No all-pairs
    * stage anywhere. */
  def q210Semdedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.cosine_sim
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    val withCc = assignCells(emb, cents)
      .join(broadcast(cents), Seq("c_id"))
      .withColumn("cc", round(cosine_sim(col("embedding"), col("ce")), 4))
      .select(col("c_id"), col("vec_id"), col("embedding"), col("cc"))
    // feeds both pair sides and the final verdict join: one scan+assign
    withCc.persist()
    try {
      val a = withCc.select(col("c_id"), col("vec_id").as("v1"),
        col("embedding").as("e1"), col("cc").as("cc1"))
      val b = withCc.select(col("c_id"), col("vec_id").as("v2"),
        col("embedding").as("e2"), col("cc").as("cc2"))
      val dup = a.join(b, Seq("c_id"))
        .filter(col("v1") < col("v2"))
        .filter(round(cosine_sim(col("e1"), col("e2")), 4) >= 0.25)
      // v1 < v2 always holds, so a 4dp centroid-cosine tie drops v2
      val losers = dup.select(
          when(col("cc1") > col("cc2"), col("v1")).otherwise(col("v2")).as("vec_id"))
        .distinct()
        .withColumn("lost", lit(true))
      withCc.join(losers, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id").as("cell"), col("cc").as("cent_cos"),
                coalesce(col("lost"), lit(false)).as("dropped"))
        .orderBy(col("vec_id"))
        .localCheckpoint(true)
    } finally withCc.unpersist(false)
  }

  val q210Sql: String =
    """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
      |            FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
      |cents AS (SELECT vec_id AS c_id FROM embeddings WHERE vec_id % 100 = 0),
      |cdots AS (SELECT a.vec_id, c.c_id, sum(a.x * b.x) AS dot
      |          FROM ex a CROSS JOIN cents c JOIN ex b ON b.vec_id = c.c_id AND b.i = a.i
      |          GROUP BY a.vec_id, c.c_id),
      |ccos AS (SELECT cd.vec_id, cd.c_id, cd.dot / (n1.nrm * n2.nrm) AS cc
      |         FROM cdots cd JOIN norms n1 ON n1.vec_id = cd.vec_id
      |         JOIN norms n2 ON n2.vec_id = cd.c_id),
      |cells AS (SELECT vec_id, c_id AS cell, round(cc, 4) AS ccr FROM (
      |            SELECT vec_id, c_id, cc, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c_id) AS rn
      |            FROM ccos) t WHERE rn = 1),
      |pairs AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.ccr AS cc1, b.ccr AS cc2
      |          FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |pdots AS (SELECT p.v1, p.v2, sum(xa.x * xb.x) AS dot
      |          FROM pairs p JOIN ex xa ON xa.vec_id = p.v1
      |          JOIN ex xb ON xb.vec_id = p.v2 AND xb.i = xa.i
      |          GROUP BY p.v1, p.v2),
      |dup AS (SELECT p.v1, p.v2, p.cc1, p.cc2
      |        FROM pairs p JOIN pdots d ON d.v1 = p.v1 AND d.v2 = p.v2
      |        JOIN norms na ON na.vec_id = p.v1 JOIN norms nb ON nb.vec_id = p.v2
      |        WHERE round(d.dot / (na.nrm * nb.nrm), 4) >= 0.25),
      |losers AS (SELECT DISTINCT CASE WHEN cc1 > cc2 THEN v1 ELSE v2 END AS vec_id FROM dup)
      |SELECT c.vec_id, c.cell, c.ccr AS cent_cos, (l.vec_id IS NOT NULL) AS dropped
      |FROM cells c LEFT JOIN losers l ON l.vec_id = c.vec_id
      |ORDER BY c.vec_id""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q29_embed_norm", q29EmbedNorm _, Some(q29Sql)),
    ("q210_semdedup", q210Semdedup _, Some(q210Sql)),
    ("q183_hybrid_rrf", q183HybridRrf _, Some(q183Sql)),
    ("q165_roc_auc",   q165RocAuc _,   Some(q165Sql)),
    ("q191_calibration", q191Calibration _, Some(q191Sql)),
    ("q47_knn_topk",   q47KnnTopK _,   Some(q30Sql)),
    ("q30_knn_exact",  q30KnnExact _,  Some(q30Sql)),
    ("q31_ann_lsh",    q31AnnLsh _,    Some(q31Sql)),
    ("q46_ivf_ann",    q46IvfAnn _,    Some(q46Sql)),
    ("q52_ann_multiprobe", q52AnnMultiprobe _, Some(q52Sql)),
    ("q174_ann_recall",    q174AnnRecall _,    Some(q174Sql)),
    ("q176_dim_variance",  q176DimVariance _,  Some(q176Sql)),
    ("q196_dim_covariance", q196DimCovariance _, Some(q196Sql)),
    ("q54_embed_neardup",  q54EmbedNearDup _,  Some(q54Sql)),
    ("q76_hard_negatives", q76HardNegatives _, Some(q76Sql)),
    ("q92_embed_quantize", q92EmbedQuantize _, Some(q92Sql)),
    ("q115_label_centroid", q115LabelCentroid _, Some(q115Sql)),
    ("q118_mislabel_screen", q118MislabelScreen _, Some(q118Sql)),
    ("q141_knn_label_vote",  q141KnnLabelVote _,   Some(q141Sql)),
    ("q155_jl_project",      q155JlProject _,      Some(q155Sql)),
  )
}
