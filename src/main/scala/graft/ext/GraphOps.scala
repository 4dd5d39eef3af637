package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Iterative graph operators over the co-purchase graph (the one operator
  * family a curation pipeline still needs beyond joins/aggregates:
  * centrality for source/domain weighting, reachability for cluster
  * audits — the web-graph quality signals of a crawl-derived corpus).
  *
  * The graph is data-derived: nodes are parts, edges are part pairs
  * ordered together in ≥ 2 distinct orders (q161's association-rule
  * support, so the edge set is the same artifact the basket analysis
  * already computes). Both operators are ITERATIVE — each round is one
  * edge-keyed join + aggregate, the Pregel/GraphX dataflow shape done
  * with plain DataFrames so Catalyst/AQE plan every round.
  *
  * Determinism across engines (the oracle gate) is the design center:
  * PageRank runs in exact integer micro-units — contribution =
  * `score DIV deg`, damping = `150000 + (85 · Σcontrib) DIV 100` — so
  * every arithmetic step is order-invariant BIGINT math, never a
  * float accumulation whose sum order differs between engines.
  *
  * Scale design (100 TB): the edge table is the big artifact — it is
  * built once (basket map-side pair expansion, q161's shape), checkpointed,
  * and reused across iterations; each iteration shuffles scores on the
  * SAME src key (co-partitioned with edges after the first round under
  * AQE), so a round costs one score-sized exchange, never an edge
  * rebuild. Iteration count is fixed (3) — production would loop to an
  * L1-delta threshold with periodic checkpoints to cut lineage. Dangling
  * nodes cannot occur (edges are symmetrized, so every node has deg ≥ 1).
  */
object GraphOps {

  /** Per-(session, dir) cache of the supported co-purchase pair table
    * (p1 < p2, support ≥ 2) — THE shared intermediate of the basket
    * family: q161 (association rules) reads it with its support counts,
    * q171/q172 symmetrize it into graph edges. Built once per dir
    * (the pair expansion is the only corpus-scale stage; the pair table
    * itself is part-dimension-sized), checkpointed like the shingle and
    * near-dup-pair caches. Same immutable-dir contract as
    * [[graft.tables.Tables]]; at 100 TB this is the checkpointed pair
    * parquet every basket/graph job reads. */
  private val pairCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)

  /** Supported co-purchase pairs (p1, p2, sup): parts ordered together in
    * ≥ 2 distinct orders. Basket pair expansion is map-side off one
    * order-keyed aggregate (sort_array makes p1 < p2 canonical) — no
    * order-keyed self-join. */
  def supportedPairs(s: SparkSession, dir: String): DataFrame =
    pairCache(s, dir) { (sess, d) =>
      val baskets = Tables.lineitem(sess, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"))
      baskets
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("p1"), y.as("p2")))))).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .localCheckpoint(true)
    }

  /** Undirected co-purchase edges, symmetrized to (src, dst) rows. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val up = supportedPairs(s, dir)
    up.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(up.select(col("p2").as("src"), col("p1").as("dst")))
  }

  /** Edges annotated with the source node's degree, checkpointed once per
    * dir — the artifact every ITERATION of every graph query joins
    * against. Round 5 rebuilt deg + edge⋈deg per query CALL (an
    * edge-sized shuffle + materialization before the first iteration
    * could start); caching it beside [[supportedPairs]] makes the
    * per-call cost of q171/q172 just their score/frontier-sized rounds.
    * At 100 TB this is the degree-annotated edge parquet a production
    * graph job checkpoints once and reuses across all iterative runs. */
  private val edgeDegCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)
  private def edgesWithDeg(s: SparkSession, dir: String): DataFrame =
    edgeDegCache(s, dir) { (sess, d) =>
      val e = edges(sess, d)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      e.join(deg, "src").localCheckpoint(true)
    }

  /** Node degrees off the materialized edge table — node-sized, cached. */
  private val degCache = new graft.util.SessionDirCache[DataFrame](graft.util.SessionDirCache.releaseDf)
  private def degrees(s: SparkSession, dir: String): DataFrame =
    degCache(s, dir) { (sess, d) =>
      edgesWithDeg(sess, d).groupBy(col("src")).agg(max(col("deg")).as("deg"))
        .localCheckpoint(true)
    }

  /** Shared oracle CTE chain: distinct (order, part) → supported pairs →
    * symmetric edges → degrees. One definition for both graph oracles. */
  private val edgeCtes: String =
    """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |up AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |       FROM li a JOIN li b
      |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT p1 AS src, p2 AS dst FROM up
      |          UNION ALL SELECT p2, p1 FROM up),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)""".stripMargin

  // ---------------------------------------------------------------- q171: PageRank (integer power iteration)
  /** Three damped power-iteration rounds in exact integer micro-units
    * (1.0 = 1 000 000): contribution `score DIV deg`, update
    * `150000 + (85 · Σ contrib) DIV 100` — the d = 0.85 PageRank step
    * where every operation is BIGINT and the Σ is order-invariant, so
    * Spark task count / DuckDB single-thread produce bit-identical
    * scores (float PageRank would diverge in the last ulps and flip
    * rankings). Top-20 by (score, part) is a TakeOrdered. */
  def q171PageRank(s: SparkSession, dir: String): DataFrame = {
    // the degree-annotated edge table comes pre-materialized from the
    // shared per-dir cache — the basket expansion and the edge⋈deg
    // shuffle never run twice, and the checkpoint cuts the 3-round
    // lineage so AQE re-plans each round from materialized stats
    val edgesDeg = edgesWithDeg(s, dir)
    var scores = degrees(s, dir).select(col("src").as("part"), lit(1000000L).as("score"))
    for (_ <- 1 to 3) {
      scores = edgesDeg.join(scores, edgesDeg("src") === scores("part"))
        .groupBy(col("dst"))
        .agg(expr("150000 + (85 * sum(score DIV deg)) DIV 100").as("score"))
        .select(col("dst").as("part"), col("score"))
    }
    scores
      .orderBy(col("score").desc, col("part"))
      .limit(20)
      .select(col("part"), col("score"),
        round(col("score") / 1000000.0, 6).as("pagerank"))
  }

  val q171Sql: String = {
    def step(prev: String, next: String): String =
      s"""$next AS (SELECT e.dst AS part,
         |       150000 + (85 * CAST(sum(s.score // d.deg) AS BIGINT)) // 100 AS score
         |       FROM edges e JOIN $prev s ON s.part = e.src
         |                    JOIN deg d ON d.src = e.src
         |       GROUP BY 1)""".stripMargin
    s"""WITH $edgeCtes,
       |s0 AS (SELECT src AS part, CAST(1000000 AS BIGINT) AS score FROM deg),
       |${step("s0", "s1")},
       |${step("s1", "s2")},
       |${step("s2", "s3")}
       |SELECT part, score, round(score / 1000000.0, 6) AS pagerank
       |FROM s3 ORDER BY score DESC, part LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q172: BFS reachability (hop histogram)
  /** Breadth-first search from the highest-degree part (deterministic
    * seed: max degree, min id tie-break), 3 hops, reported as a per-hop
    * histogram (count, id range) — the reachability audit shape ("how
    * much of the graph is within k hops of the hub"). Each hop is one
    * frontier⋈edges equi-join + anti-join against the visited set; the
    * frontier/visited tables are node-sized, never edge-sized. */
  def q172BfsReach(s: SparkSession, dir: String): DataFrame = {
    val e = edgesWithDeg(s, dir).select(col("src"), col("dst"))
    val seed = degrees(s, dir).orderBy(col("deg").desc, col("src")).limit(1)
      .select(col("src").as("part"), lit(0).as("dist"))
    var visited = seed
    var frontier = seed.select(col("part"))
    for (d <- 1 to 3) {
      val next = e.join(frontier.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part")).distinct()
        .join(visited.select(col("part")), Seq("part"), "left_anti")
        .withColumn("dist", lit(d))
        // node-sized; referenced twice below (visited + next frontier), so
        // materialize per hop — unchecked, the hop-1 subplan occurs
        // ~2^(hops-1) times in the final DAG (q171 checkpoints its edge
        // table for the same reason)
        .localCheckpoint(true)
      visited = visited.unionByName(next)
      frontier = next.select(col("part"))
    }
    visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("part")).as("min_part"), max(col("part")).as("max_part"))
      .orderBy(col("dist"))
  }

  val q172Sql: String =
    s"""WITH $edgeCtes,
       |seed AS (SELECT src AS part FROM deg ORDER BY deg DESC, src LIMIT 1),
       |d0 AS (SELECT part, 0 AS dist FROM seed),
       |f1 AS (SELECT DISTINCT e.dst AS part FROM edges e JOIN d0 ON d0.part = e.src),
       |d1 AS (SELECT part, 1 AS dist FROM f1
       |       WHERE part NOT IN (SELECT part FROM d0)),
       |f2 AS (SELECT DISTINCT e.dst AS part FROM edges e JOIN d1 ON d1.part = e.src),
       |d2 AS (SELECT part, 2 AS dist FROM f2
       |       WHERE part NOT IN (SELECT part FROM d0 UNION ALL SELECT part FROM d1)),
       |f3 AS (SELECT DISTINCT e.dst AS part FROM edges e JOIN d2 ON d2.part = e.src),
       |d3 AS (SELECT part, 3 AS dist FROM f3
       |       WHERE part NOT IN (SELECT part FROM d0 UNION ALL SELECT part FROM d1
       |                          UNION ALL SELECT part FROM d2)),
       |alln AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1
       |         UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |SELECT dist, count(*) AS n_parts, min(part) AS min_part, max(part) AS max_part
       |FROM alln GROUP BY dist ORDER BY dist""".stripMargin

  // ---------------------------------------------------------------- q182: triangle count + clustering coefficient
  /** Triangle census of the co-purchase graph: total triangles, total
    * wedges (open 2-paths), and the global clustering coefficient
    * 3·T/W — the graph-health number that tells a curation pipeline
    * whether co-occurrence structure is community-like (high) or
    * hub-spray (low).
    *
    * Enumeration is DEGREE-ORIENTED (the standard triangle-count trick,
    * the 100 TB shape): each undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher one — a total order, so
    * every edge appears exactly once and every triangle {a,b,c} with
    * rank a<b<c materializes exactly once as the wedge (a→b, a→c)
    * closed by (b→c). No /6 correction, all integer math. The payoff is
    * the wedge join's fan-out bound: candidates are Σ out-deg², and
    * orientation caps every out-degree at O(√m) (a node keeps only
    * edges to HIGHER-degree neighbors), so hubs — whose id-canonical
    * out-degree is their full degree — stop dominating the join.
    * Measured at sf1 by in-session alternation (the corpus there is
    * DENSE and hub-free, max deg 222 vs avg 120, so the
    * candidate cut is only 100M→83M): warm rounds 16.4/13.7 s
    * (id-canonical) vs 11.2/9.8 s (oriented), identical counts; the
    * worst-case bound, not this ~25 %, is why the oriented form is the
    * right 100 TB shape. Wedges come from the symmetric
    * degree table: Σ deg·(deg−1)/2. The pair table itself is the shared
    * checkpointed artifact (supportedPairs) — built once for the
    * basket + graph family; the oracle keeps the id-canonical
    * formulation (count is orientation-invariant, which the gate then
    * re-proves). */
  def q182Triangles(s: SparkSession, dir: String): DataFrame = {
    val up = supportedPairs(s, dir).select(col("p1"), col("p2"))
    val deg = degrees(s, dir) // (src, deg): symmetric-edge degrees, cached
    // join-form, MEASURED round 10 (bench/DRIFT_r10.md): clean in-session
    // alternation shows it fastest on BOTH corpora — replica sfx10
    // (hub-free, join 3.3-6.2 s vs adj 6.3-9.4 s vs chunked 6.7-7.4 s)
    // and powerlaw 100k/2M (maxdeg 11k, join 1.9 s vs adj 2.4-2.7 s vs
    // chunked 2.6-2.9 s warm). The round-9 adjacency-array swap and its
    // hub-guarded chunked variant were reverted for it.
    val tri = triCountJoinForm(orientedEdges(up, deg))
    val wedges = deg.agg(expr("sum(deg * (deg - 1) DIV 2)").as("n_wedges"))
    tri.join(broadcast(wedges)) // both 1-row frames
      .select(col("n_triangles"), col("n_wedges"),
        round(col("n_triangles") * 3.0 / col("n_wedges"), 6).as("global_clustering"))
  }

  /** Degree-rank-oriented edge table u→v (rank(u) < rank(v) under the
    * (deg, id) total order), with v's degree riding along. Checkpointed:
    * the census reads it three times. `up` must be
    * id-canonical distinct pairs (p1 < p2); `deg` the symmetric-edge
    * degree table (src, deg). */
  private def orientedEdges(up: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = up
      .join(deg.select(col("src").as("p1"), col("deg").as("d1")), "p1")
      .join(deg.select(col("src").as("p2"), col("deg").as("d2")), "p2")
    val lowFirst = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("p1") < col("p2"))
    withDeg.select(
        when(lowFirst, col("p1")).otherwise(col("p2")).as("u"),
        when(lowFirst, col("p2")).otherwise(col("p1")).as("v"),
        when(lowFirst, col("d2")).otherwise(col("d1")).as("dv"))
      .localCheckpoint(true)
  }

  /** Wedge enumeration as an oriented-edge SELF-JOIN on u plus a rank
    * filter — the round-8 formulation. Two shuffled copies of o meet in
    * the join, and HALF the joined candidates are discarded by the
    * rank(x) < rank(y) filter after materializing. */
  private def triCountJoinForm(o: DataFrame): DataFrame = {
    val e1 = o.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = o.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val q182Sql: String =
    s"""WITH $edgeCtes,
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM up e1
       |        JOIN up e2 ON e2.p1 = e1.p2
       |        JOIN up e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
       |w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
       |SELECT n_triangles, n_wedges,
       |  round(n_triangles * 3.0 / n_wedges, 6) AS global_clustering
       |FROM tri, w""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q171_pagerank",  q171PageRank _, Some(q171Sql)),
    ("q172_bfs_reach", q172BfsReach _, Some(q172Sql)),
    ("q182_triangles", q182Triangles _, Some(q182Sql)),
  )
}
