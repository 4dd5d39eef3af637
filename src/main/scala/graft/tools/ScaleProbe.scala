package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale-up probe: replicate the sf0.1 tables K× (one or more
  * K values) with shifted entity ids, then time a cross-section of
  * registered queries at every scale and report per-query time ratios
  * plus the SCALING EXPONENT between the two largest K points
  * (e = log(t_K2/t_K1)/log(K2/K1): ~1 linear, ~0 overhead-bound, > 1
  * super-linear). The brief grades "would this plan survive a 100×
  * scale-up" — this tool turns that from an argument into a measurement:
  * a corpus-linear plan shows e ≤ 1 once runtimes clear scheduler
  * overhead; a quadratic candidate explosion or single-task funnel shows
  * e ≫ 1.
  *
  * Replication semantics (deliberately realistic, not pathological):
  *  - documents: ids shift by copy·10⁹; copies > 0 get a one-token
  *    suffix, so each replica is a NEAR-duplicate of its source — the
  *    dedup family faces a K×-denser near-dup graph (clusters of ~K),
  *    which is the shape a real crawl re-scrape produces.
  *  - embeddings: ids shift, vectors unchanged — ANN buckets get K×
  *    denser (worst case for bucket-confined search).
  *  - events: event/user ids shift — K× users over the SAME calendar,
  *    so day/hour-grain tables keep their cardinality while data-grain
  *    work scales (exactly the 100 TB shape: more entities, same time).
  *  - lineitem + orders: order keys shift consistently on both sides,
  *    so order-grain joins scale without breaking referential pairs.
  *
  * Known output-bound probes (q26/q55 pair enumeration, q147 exact
  * similarity join) are EXCLUDED from the default list at high K: on the
  * replica corpus their OUTPUT grows ~K² (cliques of K mutual near-dups),
  * so their runtime is Θ(output), already characterized in SCALE.md —
  * pass them explicitly to re-measure.
  *
  * Usage: runMain graft.tools.ScaleProbe [K[,K2,…]] [q...]  (default 10,100)
  */
object ScaleProbe {
  private val DefaultProbes = Seq(
    "q01_time_filter",       // pushdown scan
    "q05_pricing_summary",   // partial+final agg
    "q24_dedup_exact",       // hash dedup
    "q46_ivf_ann",           // cell-confined ANN
    "q70_decontaminate",     // broadcast probe dictionary
    "q97_max_intersections", // distributed sweep-line
    "q122_waiting_orders",   // order-grain join + per-key state
    "q134_rfm_segments",     // triple narrow DistRank ntile
    "q137_conversion_matrix",// sequential pair transition agg
    "q150_quantile_norm",    // per-source quantile normalization
    "q163_skyline",          // dominance filter
    "q171_pagerank",         // iterative integer power iteration
    "q172_bfs_reach",        // iterative frontier expansion
    "q183_hybrid_rrf",       // two rankers + rank fusion
    "q193_equiheight_hist",  // histogram-based ntile
    "q197_star_clusters",    // connected components over star edges
  )

  def main(args: Array[String]): Unit = {
    val ks = args.headOption
      .filter(_.split(",").forall(_.toIntOption.isDefined))
      .map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(10, 100))
    require(ks.forall(_ >= 2) && ks == ks.sorted && ks.distinct == ks,
      s"replication factors must be ascending, distinct, ≥ 2: $ks")
    val probes = {
      val names = args.drop(if (args.headOption.exists(_.split(",").forall(_.toIntOption.isDefined))) 1 else 0)
      if (names.isEmpty) DefaultProbes else names.toSeq
    }
    val base = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the replica-layout version is part of the cache path: a _READY dir
    // built by an older generator (e.g. pre-orders-replication) would
    // otherwise be silently reused and corrupt the new measurements
    val layoutV = 2
    // one-time cleanup of pre-versioning replica dirs — multi-GB at
    // 100×, they would otherwise sit in /tmp forever next to the _v2 set
    ks.foreach { k =>
      val old = java.nio.file.Paths.get(s"/tmp/graft_sfx$k")
      if (java.nio.file.Files.exists(old)) {
        import scala.sys.process._
        Seq("rm", "-rf", old.toString).!
      }
    }
    val dirs: Seq[(Int, String)] = ks.map { k =>
      val big = s"/tmp/graft_sfx${k}_v$layoutV"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(big, "_READY"))) {
        replicate(spark, base, big, k)
        java.nio.file.Files.createFile(java.nio.file.Paths.get(big, "_READY"))
      }
      k -> big
    }

    val qmap = graft.SparkEntry.queries
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      qmap(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // JIT/codegen warmup on the small side, untimed
    probes.foreach(n => qmap(n)(spark, base).count())
    val rows = probes.map { n =>
      val tS = time(n, base)
      val tks = dirs.map { case (k, d) => k -> time(n, d) }
      // exponent between the two largest K points (falls back to base→K
      // when only one K given); overhead cancels between big points
      val (k1, t1) = if (tks.size >= 2) tks(tks.size - 2) else (1, tS)
      val (k2, t2) = tks.last
      val e = math.log(t2 / t1) / math.log(k2.toDouble / k1)
      val kparts = tks.map { case (k, t) => f""""x${k}_s":$t%.2f,"x${k}_ratio":${t / tS}%.1f""" }
      val line = f""""$n":{"base_s":$tS%.2f,${kparts.mkString(",")},"exponent":$e%.2f}"""
      System.err.println(s"[scale] $line")
      line
    }
    println(rows.mkString(
      s"""{"metric":"scale_probe","ks":[${ks.mkString(",")}],"queries":{""", ",", "}}"))
    spark.stop()
  }

  /** K-way union with shifted ids, written once. The shift constant 10⁹
    * clears every natural id range in the testdata. */
  private def replicate(spark: SparkSession, base: String, out: String, k: Int): Unit = {
    val S = 1000000000L
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shift(df, i)).reduce(_ unionAll _)

    val docs = spark.read.parquet(s"$base/documents.parquet")
    copies(docs) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * S))
        .withColumn("text",
          if (i == 0) col("text") else concat(col("text"), lit(s" v$i")))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    copies(emb) { (d, i) => d.withColumn("vec_id", col("vec_id") + lit(i * S)) }
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = graft.tables.Tables.events(spark, base)
    copies(ev) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * S))
        .withColumn("user_id", col("user_id") + lit(i * S))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    // order keys shift consistently on BOTH sides so order-grain joins
    // (q122-style) scale with real referential pairs
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    copies(li) { (d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * S)) }
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    copies(ord) { (d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * S)) }
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // key-joined dimensions the probe queries read unchanged
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }
}
