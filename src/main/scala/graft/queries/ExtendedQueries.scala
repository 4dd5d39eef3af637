package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Second wave of SURVEY.md §2 category coverage: cube, pivot, exact
  * percentiles, array functions, date functions, statistical aggregates.
  * Same discipline as CoreQueries: codegen'd builtins, deterministic total
  * ORDER BY, rounded floating aggregates, DuckDB-oracle parity.
  */
object ExtendedQueries {

  // ------------------------------------------------------------------- cube
  /** CUBE over (event_type, hour): all four grouping sets in one Expand +
    * single hash aggregate — one shuffle regardless of set count. */
  def q40Cube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("hr0", hour(col("ts")))
      .cube(col("event_type"), col("hr0"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(coalesce(col("event_type"), lit("ALL")).as("et"),
              coalesce(col("hr0"), lit(-1)).as("hr"), col("n"), col("sv"))
      .orderBy(col("et"), col("hr"))

  val q40Sql: String =
    """SELECT coalesce(event_type, 'ALL') AS et, coalesce(hr0, -1) AS hr,
      |  count(*) AS n, round(sum(value), 2) AS sv
      |FROM (SELECT event_type, hour(ts) AS hr0, value FROM events) t
      |GROUP BY CUBE(event_type, hr0)
      |ORDER BY et, hr""".stripMargin

  // ------------------------------------------------------------------- pivot
  /** Pivot event counts per user: one scan, one shuffle, the type
    * dimension becomes columns (values enumerated so the plan needs no
    * pre-pass). */
  def q41Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill ONLY the pivoted count columns — a bare na.fill(0) also
      // rewrites a NULL user_id GROUP KEY to 0, silently merging the
      // null-key group into user 0 where the oracle keeps a NULL row
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy(col("user_id"))

  val q41Sql: String =
    """SELECT user_id,
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------- percentiles
  /** Exact interpolated percentiles (median / p90). At 100 TB use
    * approx_percentile (t-digest) — exact percentile needs a per-group
    * sort; kept exact here for oracle parity. */
  def q42Percentile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"),
           round(expr("percentile(value, 0.9)"), 4).as("p90"),
           count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q42Sql: String =
    """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med,
      |  round(quantile_cont(value, 0.9), 4) AS p90, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------- array fns
  /** Array scalar functions over tokenized docs (first/last element,
    * sorted slice) — all codegen'd, no explode. */
  def q43ArrayFns(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        element_at(col("tk"), 1).as("first_tok"),
        element_at(col("tk"), -1).as("last_tok"),
        size(col("tk")).as("n_tok"),
        array_join(slice(array_sort(col("tk")), 1, 3), "|").as("top3"))
      .orderBy(col("doc_id"))

  val q43Sql: String =
    """SELECT doc_id, tk[1] AS first_tok, tk[-1] AS last_tok,
      |  len(tk) AS n_tok, array_to_string(list_sort(tk)[1:3], '|') AS top3
      |FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------- date fns
  /** Calendar function surface: truncation, extraction, arithmetic and formatting over event timestamps, engine-aligned with the oracle's date semantics. */
  def q44DateFns(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(to_date(lit("2001-09-01")), to_date(col("o_orderdate"))).as("age_days"))
      .orderBy(col("o_orderkey"))

  val q44Sql: String =
    """SELECT o_orderkey, year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
      |  month(o_orderdate) AS mo, day(o_orderdate) AS dom,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-09-01') AS age_days
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------- statistical aggs
  /** Single-pass moment aggregates (stddev/variance/corr/covar) — the
    * streaming-friendly formulation both engines share. */
  def q45Stats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
           round(var_samp(col("l_quantity")), 4).as("var_qty"),
           round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q45Sql: String =
    """SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------- window analytics pack
  /** lead / first_value / ntile over per-customer order history — the
    * remaining analytic-window shapes (lag/running-sum live in q16). */
  def q48WindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("next_order", lead(col("o_orderkey"), 1).over(w))
      .withColumn("first_price", first(col("o_totalprice")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("quartile", ntile(4).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("next_order"),
              col("first_price"), col("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q48Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  lead(o_orderkey, 1) OVER w AS next_order,
      |  first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
      |  ntile(4) OVER w AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ------------------------------------------------------------------- SQL entry point
  /** The spark.sql(...) lifecycle (SURVEY.md §3, entry point 4): tables
    * registered as views, the query parsed/optimized/executed by Catalyst
    * from SQL text — same engine, same oracle discipline. */
  def q49SqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    try
      s.sql("""
        SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS rev
        FROM orders_v JOIN customer_v ON o_custkey = c_custkey
        WHERE o_orderstatus = 'F'
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    finally {
      // spark.sql resolves the plan eagerly, so the views can be dropped
      // before execution — no session-global leakage
      s.catalog.dropTempView("orders_v")
      s.catalog.dropTempView("customer_v")
    }
  }

  val q49Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS rev
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------- summary stats (A15)
  /** One-pass dataset profile — the reference's data.info() diagnostic
    * (trace-converter.py:122) as a single aggregate over the events
    * stand-in: row count, per-column non-null counts, cardinalities,
    * value range. */
  def q53SummaryStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(count(lit(1)).as("n_rows"),
           count(col("user_id")).as("nn_user_id"),
           count(col("props")).as("nn_props"),
           countDistinct(col("event_type")).as("n_types"),
           countDistinct(col("user_id")).as("n_users"),
           round(min(col("value")), 2).as("min_value"),
           round(max(col("value")), 2).as("max_value"))

  val q53Sql: String =
    """SELECT count(*) AS n_rows, count(user_id) AS nn_user_id, count(props) AS nn_props,
      |  count(DISTINCT event_type) AS n_types, count(DISTINCT user_id) AS n_users,
      |  round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
      |FROM events""".stripMargin

  // ------------------------------------------------------------------- sub-second ingest (§1.4 opt-in, DateTime64(6))
  private val microsTraceDir = new graft.util.SessionDirCache[String]

  /** q236 — the reference TODO's sub-second mode, end to end: events
    * rendered as raw NDJSON (`Time` = fractional epoch-seconds double,
    * the wire format the reference tails), ingested through
    * `TraceIngest.readBatch(…, TimeResolution.Micros)` (the opt-in
    * DateTime64(6) answer to /root/reference/README.md:219-225 — the
    * normative default stays whole-second §1.4), then graded on the
    * MICROSECOND remainders: per event type, the row count, the sum of
    * sub-second microseconds, and how many rows carry a nonzero
    * fraction. The oracle computes the same from the original parquet
    * timestamps — so a truncating ingest (whole-second mode), a
    * lossy double round-trip (truncation instead of rounding leaks the
    * double's ~0.25 µs quantization as off-by-one micros), or a
    * timezone shear fails the hash gate. */
  def q236MicrosTime(s: SparkSession, dir: String): DataFrame = {
    val path = microsTraceDir(s, dir) { (sess, d) =>
      val out = graft.util.TmpDirs.scratch("graft-micros-ndjson")
      Tables.events(sess, d).select(
        pmod(col("event_id"), lit(1000000000L)).as("Severity"),
        concat(lit("m"), pmod(col("user_id"), lit(8L))).as("Machine"),
        lit("default").as("LogGroup"),
        col("ts").cast("double").as("Time"),
        col("event_type").as("Type"),
        col("event_id").cast("string").as("ID"))
        .coalesce(4).write.mode("overwrite").json(s"$out/data")
      s"$out/data"
    }
    val us = unix_micros(col("Time")) % lit(1000000L)
    graft.ingest.TraceIngest
      .readBatch(s, path, graft.ingest.TraceIngest.TimeResolution.Micros)
      .groupBy(col("Type"))
      .agg(count(lit(1)).as("n"),
        sum(us).as("sum_us"),
        sum(when(us =!= 0L, 1L).otherwise(0L)).as("n_subsec"))
      .orderBy(col("Type"))
  }

  val q236Sql: String =
    """SELECT event_type AS Type, count(*) AS n,
      |  (sum(epoch_us(ts) % 1000000))::BIGINT AS sum_us,
      |  (sum(CASE WHEN epoch_us(ts) % 1000000 <> 0 THEN 1 ELSE 0 END))::BIGINT AS n_subsec
      |FROM events GROUP BY 1 ORDER BY Type""".stripMargin

  // ------------------------------------------------------------------- salted join through the gate
  /** The skew-salted join (ext.Skew) producing byte-identical results to
    * the plain join the oracle runs — proving the rewrite is semantics-
    * preserving through the driver's own gate. */
  def q50SaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.ext.Skew.saltedJoin(
        Tables.orders(s, dir),
        Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey", 4, "o_orderkey")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      .orderBy(col("c_nationkey"))

  val q50Sql: String =
    """SELECT c_nationkey, count(*) AS n, round(sum(o_totalprice), 2) AS rev
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ------------------------------------------------------------------- SQL-surface pack: subquery shapes
  /** Correlated scalar subquery (Catalyst decorrelates it into an
    * aggregate + join — no per-row re-execution): orders at least 1.5× the
    * customer's own average. The threshold is rounded so both engines
    * compare against the identical double. */
  def q60CorrelatedSubq(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    try
      s.sql("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders_v o
        WHERE o_totalprice > round(1.5 * (
          SELECT avg(o_totalprice) FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey), 4)
        ORDER BY o_orderkey""")
    finally s.catalog.dropTempView("orders_v")
  }

  val q60Sql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders o
      |WHERE o_totalprice > round(1.5 * (
      |  SELECT avg(o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey), 4)
      |ORDER BY o_orderkey""".stripMargin

  /** LATERAL correlated subquery with ORDER BY + LIMIT (top-2 orders per
    * nation) — the per-group-top-n shape written as SQL the way an
    * analyst would; Catalyst plans the correlation as a domain join. */
  def q61LateralTopn(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v")
    try
      s.sql("""
        SELECT n_name, l.o_orderkey, round(l.o_totalprice, 2) AS price
        FROM nation_v, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          WHERE c_nationkey = n_nationkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        ORDER BY n_name, l.o_orderkey""")
    finally Seq("orders_v", "customer_v", "nation_v").foreach(s.catalog.dropTempView)
  }

  val q61Sql: String =
    """SELECT n_name, l.o_orderkey, round(l.o_totalprice, 2) AS price
      |FROM nation, LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
      |ORDER BY n_name, l.o_orderkey""".stripMargin

  /** Deterministic argmax: the top event per type in one aggregate pass
    * (no window sort) via lexicographic max over a (value, id, user)
    * struct — the id makes ties impossible, so both engines pick the same
    * row. */
  def q62Argmax(s: SparkSession, dir: String): DataFrame = {
    val key = struct(col("value").as("v"), col("event_id").as("id"), col("user_id").as("u"))
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(max(key).as("m"))
      .select(col("event_type"),
        col("m.u").as("top_user"), col("m.id").as("top_event"),
        round(col("m.v"), 2).as("top_value"))
      .orderBy(col("event_type"))
  }

  val q62Sql: String =
    """SELECT event_type,
      |  max(struct_pack(v := value, id := event_id, u := user_id)).u AS top_user,
      |  max(struct_pack(v := value, id := event_id, u := user_id)).id AS top_event,
      |  round(max(struct_pack(v := value, id := event_id, u := user_id)).v, 2) AS top_value
      |FROM events WHERE value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Explicit GROUPING SETS (the general form behind q17 rollup / q40
    * cube) through the typed Dataset API, with grouping() flags exposed —
    * one Expand + single aggregate pass, no per-set re-scan. */
  def q63GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val st = col("o_orderstatus"); val pr = col("o_orderpriority")
    Tables.orders(s, dir)
      .groupingSets(Seq(Seq(st, pr), Seq(st), Seq.empty), st, pr)
      .agg((grouping(st).cast("int") + grouping(pr).cast("int") * 2).as("gid"),
        count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      .select(coalesce(st, lit("ALL")).as("status"), coalesce(pr, lit("ALL")).as("prio"),
        col("gid"), col("n"), col("rev"))
      .orderBy(col("gid"), col("status"), col("prio"))
  }

  val q63Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
      |  grouping(o_orderstatus)::INT + 2 * grouping(o_orderpriority)::INT AS gid,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS rev
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, status, prio""".stripMargin

  /** TPC-H Q3 (shipping priority) shape: 3-way fact join with a
    * broadcastable customer-segment filter, group on the fine key, top-10
    * by revenue. The classic OLAP dashboard query over this schema. */
  def q67ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = "1998-06-01"
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit(cut).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit(cut).cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
  }

  val q67Sql: String =
    """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, o_orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Time-based rolling aggregate: RANGE frame over event time (the
    * window shape q16/q48's ROWS frames don't cover). The frame key is
    * exact integer microseconds on both engines — DuckDB's epoch() returns
    * fractional-second DOUBLEs and Spark's unix_timestamp truncates, so
    * either would put boundary rows in different frames. Partitioned by
    * user: per-key state, no global ordering. */
  def q68RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-3600000000L, 0L)   // 1 hour in microseconds
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("ts"), col("value"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("roll_1h", round(sum(col("value")).over(w), 2))
      .withColumn("n_1h", count(lit(1)).over(w))
      .select(col("user_id"), col("ts"), col("roll_1h"), col("n_1h"))
      .orderBy(col("user_id"), col("ts"))
  }

  val q68Sql: String =
    """SELECT user_id, ts,
      |  round(sum(value) OVER w, 2) AS roll_1h,
      |  count(*) OVER w AS n_1h
      |FROM events WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts""".stripMargin

  /** Robust outlier detection per group: median absolute deviation
    * (median-of-|x − median|), flagging values beyond 3·MAD — the
    * data-quality screen that survives the heavy tails that wreck
    * mean/stddev rules.
    *
    * ONE corpus pass: `value` is cents-resolution, so the corpus
    * collapses to a (type, value, count) VALUE HISTOGRAM (q193's
    * primitive, bounded by value resolution × |types|, checkpointed) and
    * both medians are exact rank lookups over it — prefix counts locate
    * the two middle ranks, and the interpolated median is
    * 0.5·v(lo)+0.5·v(hi), the exact arithmetic `percentile(…, 0.5)`
    * uses (odd n: v·0.5+v·0.5 ≡ v bit-exactly), so the DuckDB
    * quantile_cont oracle still hash-matches. The deviation histogram
    * derives from the value histogram (never re-touching the corpus),
    * and the final screen weighs histogram counts. The old two-pass
    * plan (percentile, persist, re-join, percentile) scanned the corpus
    * twice and sorted per-type value multisets; this touches the fact
    * table exactly once. */
  def q72Outliers(s: SparkSession, dir: String): DataFrame = {
    // value-histogram median: exact interpolated 0.5-percentile from
    // per-type prefix counts over a (type, v, c) histogram
    def medOf(h: DataFrame, vCol: String, out: String): DataFrame = {
      val wp = Window.partitionBy(col("event_type")).orderBy(col(vCol))
      val wn = Window.partitionBy(col("event_type"))
      // lerp FORM matters, not just value: quantile_cont computes
      // lo + 0.5·(hi − lo); the algebraically-equal 0.5·lo + 0.5·hi can
      // differ by 1 ulp for even-n groups, and the UNROUNDED mad feeds
      // the strict 3·MAD screen below — mirror DuckDB's expression
      h.withColumn("pre", sum(col("c")).over(wp) - col("c"))
        .withColumn("n", sum(col("c")).over(wn))
        .withColumn("lo", expr("(n - 1) div 2"))
        .withColumn("hi", expr("n div 2"))
        .groupBy(col("event_type"))
        .agg({
          val vLo = max(when(col("lo") >= col("pre") && col("lo") < col("pre") + col("c"), col(vCol)))
          val vHi = max(when(col("hi") >= col("pre") && col("hi") < col("pre") + col("c"), col(vCol)))
          (vLo + (vHi - vLo) * 0.5).as(out)
        })
    }
    val hist = Tables.events(s, dir)
      // quantile_cont ignores NULLs; a (type, NULL, c) histogram row
      // would inflate n and every prefix rank — drop them up front
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // the one fact-table pass; all else histogram-sized
    val dev = hist.join(broadcast(medOf(hist, "value", "med")), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
    val devHist = dev.groupBy(col("event_type"), col("ad")).agg(sum(col("c")).as("c"))
    dev.join(broadcast(medOf(devHist, "ad", "mad")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(round(first(col("med")), 4).as("med"), round(first(col("mad")), 4).as("mad"),
        sum(when(col("ad") > lit(3.0) * col("mad"), col("c")).otherwise(0L)).as("n_out"),
        sum(col("c")).as("n"))
      .orderBy(col("event_type"))
  }

  val q72Sql: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |             FROM events GROUP BY event_type),
      |dev AS (SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      |        FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
      |        FROM dev GROUP BY event_type)
      |SELECT d.event_type, round(max(d.med), 4) AS med, round(max(m.mad), 4) AS mad,
      |       (sum(CASE WHEN d.ad > 3.0 * m.mad THEN 1 ELSE 0 END))::BIGINT AS n_out,
      |       count(*) AS n
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Percentile winsorization: clip a heavy-tailed measure to its
    * per-group [p05, p95] band before aggregating — the standard outlier
    * treatment when a training-data pipeline wants robust per-stratum
    * statistics WITHOUT dropping rows (q72's MAD screen is the detection
    * side; this is the repair side). Nearest-rank p05/p95 per group
    * (dimension-sized result, broadcast back over the fact table), then
    * one clipped aggregate pass. At 100 TB the bounds pass (a per-group
    * rank) swaps to `approx_percentile` (t-digest, fixed memory, no
    * sort) with an identical downstream plan — the broadcast stays
    * dimension-sized. */
  def q100Winsorize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"), col("o_totalprice").as("p"))
    // NEAREST-RANK bounds (ceil(q·n)-th smallest via integer division),
    // not interpolated percentiles: the bounds feed STRICT comparisons,
    // and interpolated midpoints are engine-private float formulas that
    // can differ by an ulp and flip `p < lo` — a rank-selected bound is
    // an actual data value, bit-equal on both sides. Ranks use `div`
    // (integer division) so the cutoff index itself is engine-exact.
    val wr = Window.partitionBy(col("pri"))
      .orderBy(col("p"), col("k"))
    val bounds = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"), col("o_totalprice").as("p"),
        col("o_orderkey").as("k"))
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pri"))))
      .groupBy(col("pri"))
      .agg(max(when(col("rn") === expr("(n + 19) div 20"), col("p"))).as("lo"),
           max(when(col("rn") === expr("(19 * n + 19) div 20"), col("p"))).as("hi"))
    o.join(broadcast(bounds), Seq("pri"))
      .withColumn("clipped", least(greatest(col("p"), col("lo")), col("hi")))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("p") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        round(sum(col("clipped")), 2).as("sum_winsorized"),
        round(avg(col("clipped")), 4).as("avg_winsorized"))
      .orderBy(col("pri"))
  }

  val q100Sql: String =
    """WITH r AS (SELECT o_orderpriority AS pri, o_totalprice AS p,
      |             row_number() OVER (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice, o_orderkey) AS rn,
      |             count(*) OVER (PARTITION BY o_orderpriority) AS n
      |           FROM orders),
      |b AS (SELECT pri,
      |        max(CASE WHEN rn = (n + 19) // 20 THEN p END) AS lo,
      |        max(CASE WHEN rn = (19 * n + 19) // 20 THEN p END) AS hi
      |      FROM r GROUP BY pri)
      |SELECT pri, count(*) AS n,
      |  (sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END))::BIGINT AS n_low,
      |  (sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END))::BIGINT AS n_high,
      |  round(sum(least(greatest(o_totalprice, lo), hi)), 2) AS sum_winsorized,
      |  round(avg(least(greatest(o_totalprice, lo), hi)), 4) AS avg_winsorized
      |FROM orders JOIN b ON o_orderpriority = pri
      |GROUP BY pri ORDER BY pri""".stripMargin

  /** Incremental rollup maintenance, gate-proven: the daily rollup is
    * built as TWO increments (event_id parity split standing in for two
    * micro-batches) merged with [[graft.store.TraceStore.mergeRollups]],
    * and the oracle is the one-shot GROUP BY over all rows — proving
    * per-batch materialized-view maintenance (the reference's
    * SummingMergeTree TODO) agrees with recomputation. Measures are the
    * decomposable ones (sum, count); round(…, 2) absorbs the one extra
    * double reassociation the two-step sum introduces. */
  def q80IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"))
    def roll(df: DataFrame): DataFrame =
      df.groupBy(col("day"), col("event_type"))
        .agg(sum(col("value")).as("sv"), count(lit(1)).as("n"))
    // null-safe split: a NULL event_id must land in exactly one increment
    // (both `% 2 === 0` and `=!= 0` are NULL for it — a bare filter pair
    // would silently drop the row that the one-shot oracle counts)
    val parity = coalesce(col("event_id") % 2, lit(0L))
    graft.store.TraceStore.mergeRollups(
        roll(ev.filter(parity === 0)),
        roll(ev.filter(parity =!= 0)),
        Seq("day", "event_type"), Seq("sv", "n"))
      .select(col("day"), col("event_type"), round(col("sv"), 2).as("sv"), col("n"))
      .orderBy(col("day"), col("event_type"))
  }

  val q80Sql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  round(sum(value), 2) AS sv, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Per-(session, dir) rollup registration for [[q153RollupRoute]]: the
    * (source, lang) rollup parquet is built once and registered with the
    * [[graft.plans.RollupRoute]] optimizer rule. */
  private val rollupRouteReg = new graft.util.SessionDirCache[String]

  /** Automatic materialized-view routing, gate-proven: the query below is
    * written against the RAW documents relation — filter + groupBy +
    * count/sum — and the [[graft.plans.RollupRoute]] Catalyst rule
    * rewrites it onto the registered (source, lang) rollup table
    * (count(*) → sum(cnt), sum(n_chars) → sum(sum_n_chars), the key-only
    * filter replayed on the rollup). q80 proves the WRITE side of a
    * materialized view (incremental maintenance); this proves the READ
    * side: the optimizer, not the analyst, decides to use the MV, and
    * the DuckDB oracle runs the same SQL over the raw table — equality
    * IS the rewrite's exactness proof. Plan shape pinned in
    * `RollupRouteSpec` (the rollup scan replaces the raw scan). */
  def q153RollupRoute(s: SparkSession, dir: String): DataFrame = {
    val rawPath = s"$dir/documents.parquet"
    val tmp = rollupRouteReg(s, dir) { (sess, _) =>
      val t = graft.util.TmpDirs.scratch("graft-rollup")
      sess.read.parquet(rawPath)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_n_chars"))
        .write.mode("overwrite").parquet(t)
      t
    }
    // rule install + enablement scoped to a DERIVED session: setting the
    // routing conf on the caller's session (and never restoring it)
    // would silently rewrite every later qualifying aggregate the caller
    // runs — q120's conf-leak hazard, same fix
    val c = graft.util.Sessions.derived(s)
    graft.plans.RollupRoute.register(c, rawPath, c.read.parquet(tmp),
      Seq("source", "lang"), "cnt", Map("n_chars" -> "sum_n_chars"))
    c.conf.set(graft.plans.RollupRoute.ConfKey, "true")
    c.read.parquet(rawPath)
      .filter(col("lang") =!= "zh")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"))
  }

  val q153Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang <> 'zh'
      |GROUP BY source ORDER BY source""".stripMargin

  /** TPC-H Q7 shape (volume shipping): revenue flows between nation pairs
    * by ship year — the 6-relation join classic. Scale plan: both nation
    * legs filter FIRST (3 of 25 nations), shrinking supplier and customer
    * to broadcastable slivers BEFORE any fact join, so lineitem joins the
    * supplier sliver broadcast, shuffles once on l_orderkey to meet
    * orders, and orders meets the customer sliver broadcast — one fact
    * shuffle total, every dimension pruned to its join/output columns.
    * The ship-date range pushes to the parquet scan. */
  def q154TradeFlows(s: SparkSession, dir: String): DataFrame = {
    val picks = Seq("NATION_1", "NATION_2", "NATION_3")
    val n1 = Tables.nation(s, dir).filter(col("n_name").isin(picks: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).filter(col("n_name").isin(picks: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1999-01-01")))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q154Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       year(l_shipdate) AS l_year,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1999-01-01'
      |  AND n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      |  AND n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Benford first-digit screen over order totals — the classic
    * fabricated-data / data-quality test: leading-digit frequencies vs
    * Benford's log₁₀(1+1/d) law, with the χ² contribution per digit.
    * Digit extraction is integer-exact and engine-identical: prices →
    * exact cents (round → BIGINT) → decimal string → first character
    * (no float log10 at digit boundaries). Expected shares enter as
    * LITERALS so both engines use identical constants. One map pass +
    * one 9-group aggregate — scan speed at any volume. */
  def q159Benford(s: SparkSession, dir: String): DataFrame = {
    val benford = typedLit((1 to 9).map(d => math.log10(1.0 + 1.0 / d)))
    Tables.orders(s, dir)
      .select(substring(expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1)
        .cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("p_benford", element_at(benford, col("digit")))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 4).as("share"),
        round(col("p_benford"), 4).as("p_benford"),
        round(pow(col("n").cast("double") - col("tot").cast("double") * col("p_benford"), 2)
          / (col("tot").cast("double") * col("p_benford")), 4).as("chi2_term"))
      .orderBy(col("digit"))
  }

  val q159Sql: String = {
    val probs = (1 to 9).map(d => s"(${d}, ${math.log10(1.0 + 1.0 / d)})").mkString(", ")
    s"""WITH digits AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders),
       |c AS (SELECT digit, count(*) AS n FROM digits WHERE digit >= 1 GROUP BY digit),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
       |b(digit, p) AS (VALUES $probs)
       |SELECT c.digit, c.n,
       |       round(c.n::DOUBLE / t.tot::DOUBLE, 4) AS share,
       |       round(b.p, 4) AS p_benford,
       |       round(pow(c.n::DOUBLE - t.tot::DOUBLE * b.p, 2) / (t.tot::DOUBLE * b.p), 4) AS chi2_term
       |FROM c CROSS JOIN t JOIN b ON b.digit = c.digit
       |ORDER BY c.digit""".stripMargin
  }

  /** Market-basket co-occurrence — support and directional confidence for
    * part pairs ordered together (the Apriori/association-rule counting
    * step; "customers who bought X also bought Y"). The pair space is the
    * order-keyed self-join: both sides shuffle on the SAME l_orderkey
    * hash (co-partitioned, one exchange each), and the pair count per
    * order is multiplicity-squared — bounded by lines-per-order (q143's
    * audit is the pre-flight for exactly this join). Item frequencies
    * broadcast back for confidence; integers + one division. Top-100 by
    * (support, pair) is a TakeOrdered, not a global sort. */
  def q161Copurchase(s: SparkSession, dir: String): DataFrame = {
    // the supported pair table (basket collect → map-side p1<p2 pair
    // expansion → support counts, no order-keyed self-join) is the
    // shared intermediate of the basket family — built once in
    // GraphOps.supportedPairs and reused by the graph queries (at
    // 100 TB: a checkpoint table). Item frequencies for confidence come
    // from one distinct (order, part) aggregate.
    val partOrders = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_orders"))
    graft.ext.GraphOps.supportedPairs(s, dir)
      .select(col("p1"), col("p2"), col("sup").as("support"))
      .join(broadcast(partOrders.select(col("l_partkey").as("p1"), col("n_orders").as("n1"))), Seq("p1"))
      .join(broadcast(partOrders.select(col("l_partkey").as("p2"), col("n_orders").as("n2"))), Seq("p2"))
      .select(col("p1"), col("p2"), col("support"),
        round(col("support").cast("double") / col("n1").cast("double"), 4).as("conf_1_2"),
        round(col("support").cast("double") / col("n2").cast("double"), 4).as("conf_2_1"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(100)
  }

  val q161Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |po AS (SELECT l_partkey, count(*) AS n_orders FROM li GROUP BY 1),
      |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
      |          FROM li a JOIN li b
      |            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |          GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p1, p2, support,
      |       round(support::DOUBLE / po1.n_orders::DOUBLE, 4) AS conf_1_2,
      |       round(support::DOUBLE / po2.n_orders::DOUBLE, 4) AS conf_2_1
      |FROM pairs JOIN po po1 ON po1.l_partkey = p1
      |           JOIN po po2 ON po2.l_partkey = p2
      |ORDER BY support DESC, p1, p2 LIMIT 100""".stripMargin

  /** Skyline (Pareto front) — the classic multi-criteria operator: orders
    * that are non-dominated on (fast fulfilment, high value): no other
    * order ships at least as fast AND is worth at least as much, strictly
    * better in one. Not a dominance self-join (O(n²) — the naive NOT
    * EXISTS is intractable at scale): the 2-D skyline falls out of ONE
    * ordered pass — a point survives iff its price beats every
    * strictly-faster point's price and no equal-delay point strictly
    * beats it. Both thresholds live at DELAY grain, not order grain:
    * one aggregate collapses the corpus to a (delay, max-price) table
    * bounded by the delay-day resolution, a prefix max over that
    * bounded table gives "best strictly faster", and a broadcast join
    * carries both thresholds back — the order-grain running-max window
    * of the naive plan (one task sweeping every order) never exists. */
  def q163Skyline(s: SparkSession, dir: String): DataFrame = {
    val delay = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("first_ship"))
    val pts = Tables.orders(s, dir)
      .join(delay, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"),
        datediff(col("first_ship"), col("o_orderdate")).as("delay_days"),
        col("o_totalprice"))
    // delay-grain threshold table: ≤ distinct delay days, corpus-invariant
    val wPrev = Window.orderBy(col("delay_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val thresholds = pts.groupBy(col("delay_days"))
      .agg(max(col("o_totalprice")).as("best_equal"))
      .withColumn("best_faster", max(col("best_equal")).over(wPrev))
    pts
      .join(broadcast(thresholds), Seq("delay_days"))
      .filter((col("best_faster").isNull || col("best_faster") < col("o_totalprice")) &&
              col("best_equal") <= col("o_totalprice"))
      .select(col("o_orderkey"), col("delay_days"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("delay_days"), col("o_orderkey"))
  }

  val q163Sql: String =
    """WITH d AS (SELECT l_orderkey, min(l_shipdate) AS first_ship
      |           FROM lineitem GROUP BY 1),
      |pts AS (SELECT o_orderkey, date_diff('day', o_orderdate, first_ship) AS delay_days,
      |               o_totalprice
      |        FROM orders JOIN d ON o_orderkey = l_orderkey),
      |f AS (SELECT o_orderkey, delay_days, o_totalprice,
      |        max(o_totalprice) OVER (ORDER BY delay_days
      |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_faster,
      |        max(o_totalprice) OVER (PARTITION BY delay_days) AS best_equal
      |      FROM pts)
      |SELECT o_orderkey, delay_days, round(o_totalprice, 2) AS price
      |FROM f
      |WHERE (best_faster IS NULL OR best_faster < o_totalprice)
      |  AND best_equal <= o_totalprice
      |ORDER BY delay_days, o_orderkey""".stripMargin

  /** ANALYZE-style column profiling in ONE scan: per-column null count,
    * distinct count, min / max for the numeric columns of events, unpivoted
    * to one row per column. The single wide aggregate is the
    * statistics-collection pass a catalog runs before planning (row counts
    * + NDVs drive join reordering / broadcast choices); at 100 TB swap the
    * exact distincts for approx_count_distinct — same single-scan shape. */
  def q81Profile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def prof(c: String) = Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_nd"),
      round(min(col(c)).cast("double"), 4).as(s"${c}_min"),
      round(max(col(c)).cast("double"), 4).as(s"${c}_max"))
    val aggs = count(lit(1)).as("n_rows") +: Seq("event_id", "user_id", "value").flatMap(prof)
    ev.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        """stack(3,
          |  'event_id', n_rows, event_id_nulls, event_id_nd, event_id_min, event_id_max,
          |  'user_id',  n_rows, user_id_nulls,  user_id_nd,  user_id_min,  user_id_max,
          |  'value',    n_rows, value_nulls,    value_nd,    value_min,    value_max)
          |AS (col_name, n_rows, n_nulls, n_distinct, min_v, max_v)""".stripMargin))
      .orderBy(col("col_name"))
  }

  val q81Sql: String =
    """SELECT 'event_id' AS col_name, count(*) AS n_rows,
      |  (sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_nulls,
      |  count(DISTINCT event_id) AS n_distinct,
      |  round(min(event_id)::DOUBLE, 4) AS min_v, round(max(event_id)::DOUBLE, 4) AS max_v
      |FROM events
      |UNION ALL
      |SELECT 'user_id', count(*),
      |  (sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END))::BIGINT,
      |  count(DISTINCT user_id),
      |  round(min(user_id)::DOUBLE, 4), round(max(user_id)::DOUBLE, 4)
      |FROM events
      |UNION ALL
      |SELECT 'value', count(*),
      |  (sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END))::BIGINT,
      |  count(DISTINCT value),
      |  round(min(value)::DOUBLE, 4), round(max(value)::DOUBLE, 4)
      |FROM events
      |ORDER BY col_name""".stripMargin

  /** Full-outer reconciliation: daily counts of two sparse event slices
    * stitched into one gap-tolerant series (days where either side is
    * absent survive with a zero) — the join type q10-q13/q21-q22 don't
    * cover. Both sides pre-aggregate to day grain before joining, so the
    * outer join is dimension-sized; at 100 TB the shuffle carries days,
    * not events. */
  def q85FullOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def daily(t: String) = ev
      .filter(col("event_type") === t && col("value") > 195)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as(s"n_$t"))
    daily("purchase").join(daily("error"), Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("n_error"), lit(0L)).as("n_error"))
      .orderBy(col("day"))
  }

  val q85Sql: String =
    """WITH p AS (SELECT ts::DATE AS day, count(*) AS n_purchase FROM events
      |           WHERE event_type = 'purchase' AND value > 195 GROUP BY 1),
      |e AS (SELECT ts::DATE AS day, count(*) AS n_error FROM events
      |      WHERE event_type = 'error' AND value > 195 GROUP BY 1)
      |SELECT coalesce(p.day, e.day) AS day,
      |       coalesce(p.n_purchase, 0) AS n_purchase,
      |       coalesce(e.n_error, 0) AS n_error
      |FROM p FULL OUTER JOIN e ON p.day = e.day
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------- histogram
  /** Fixed-width bucket histogram over order totals (the deterministic
    * edition of ClickHouse `histogram()` — fixed edges instead of adaptive
    * ones, so the result is engine-exact). One map-only bucket assignment
    * feeding a 20-group hash aggregate: partial aggregation means the
    * shuffle carries at most 20 rows per upstream partition regardless of
    * table size — the same plan at 100 TB. */
  def q90Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(least(floor(col("o_totalprice") / 25000), lit(19L)).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sv"))
      .select(col("bucket"), (col("bucket") * 25000).as("lo"), col("n"), col("sv"))
      .orderBy(col("bucket"))

  val q90Sql: String =
    """SELECT bucket, (bucket * 25000)::BIGINT AS lo, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS sv
      |FROM (SELECT least(floor(o_totalprice / 25000)::BIGINT, 19) AS bucket,
      |        o_totalprice FROM orders) t
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------- multi-quantile
  /** Multi-quantile profile per event type: one exact interpolated
    * percentile pass produces the whole [p25,p50,p75,p90] vector — the
    * ClickHouse `quantiles(...)(x)` shape. Exact percentile is the
    * correctness anchor; `approx_percentile(value, array(...), acc)` is the
    * drop-in mergeable sketch at 100 TB (accuracy pinned in ApproxSpec). */
  def q91MultiQuantile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("qs"))
      .select(col("event_type"), col("n"),
        round(element_at(col("qs"), 1), 4).as("p25"),
        round(element_at(col("qs"), 2), 4).as("p50"),
        round(element_at(col("qs"), 3), 4).as("p75"),
        round(element_at(col("qs"), 4), 4).as("p90"))
      .orderBy(col("event_type"))

  val q91Sql: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |    quantile_cont(value, [0.25, 0.5, 0.75, 0.9]) AS qs
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n, round(qs[1], 4) AS p25, round(qs[2], 4) AS p50,
      |  round(qs[3], 4) AS p75, round(qs[4], 4) AS p90
      |FROM a ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- recursive CTE
  /** WITH RECURSIVE through Catalyst's UnionLoop: a month spine generated
    * recursively from the orders table's own min/max bounds, left-joined to
    * monthly aggregates so empty months survive with zeros, plus a running
    * total over the spine. The recursion is calendar-bounded — each step
    * emits one row and the depth is #months, never data volume (default
    * spark.sql.cteRecursionLevelLimit=100 ≈ 8 years; raise it for longer
    * spans). The max bound rides along in the recursion row because
    * subqueries are not allowed in the recursive member. */
  def q96RecursiveSpine(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    try
      s.sql("""
        WITH RECURSIVE spine(m, mx) AS (
          SELECT date_trunc('month', min(o_orderdate)),
                 date_trunc('month', max(o_orderdate)) FROM orders_v
          UNION ALL
          SELECT m + INTERVAL 1 MONTH, mx FROM spine WHERE m < mx
        ),
        agg AS (
          SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n,
                 round(sum(o_totalprice), 2) AS rev
          FROM orders_v GROUP BY 1
        )
        SELECT date_format(spine.m, 'yyyy-MM') AS ym,
               coalesce(n, 0) AS n_orders,
               coalesce(rev, 0.0) AS rev,
               sum(coalesce(n, 0)) OVER (ORDER BY spine.m) AS n_cum
        FROM spine LEFT JOIN agg ON agg.m = spine.m
        ORDER BY ym""")
    finally s.catalog.dropTempView("orders_v")
  }

  val q96Sql: String =
    """WITH RECURSIVE spine(m, mx) AS (
      |  SELECT date_trunc('month', min(o_orderdate)),
      |         date_trunc('month', max(o_orderdate)) FROM orders
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH, mx FROM spine WHERE m < mx
      |),
      |agg AS (SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n,
      |          round(sum(o_totalprice), 2) AS rev FROM orders GROUP BY 1)
      |SELECT strftime(spine.m, '%Y-%m') AS ym, coalesce(n, 0) AS n_orders,
      |  coalesce(rev, 0.0) AS rev,
      |  (sum(coalesce(n, 0)) OVER (ORDER BY spine.m))::BIGINT AS n_cum
      |FROM spine LEFT JOIN agg ON agg.m = spine.m
      |ORDER BY ym""".stripMargin

  // ---------------------------------------------------------------- q122: TPC-H Q21 shape (EXISTS / NOT EXISTS chain)
  /** Q21's "suppliers who kept the order waiting" analogue on this
    * schema: lines whose supplier shipped STRICTLY last among the ≥2
    * suppliers of the order — an EXISTS (another supplier in the order)
    * plus NOT-EXISTS (anyone later) chain, the classic correlated-
    * subquery join workout. Spark-side it is exactly a left-semi then
    * left-anti self-join, both keyed on l_orderkey (one shuffle
    * partitioning reused across both joins — at 100 TB the three "legs"
    * co-locate on the same hash) with the supplier-inequality and
    * shipdate residuals evaluated post-match; supplier names come from a
    * broadcast dimension at the end, on the aggregated row set. */
  def q122WaitingOrders(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val other = l.select(col("l_orderkey").as("o_ok"), col("l_suppkey").as("o_sk"),
                         col("l_shipdate").as("o_sd"))
    val multi = l.join(other,
      col("l_orderkey") === col("o_ok") && col("l_suppkey") =!= col("o_sk"),
      "left_semi")
    val laggard = multi.join(other,
      col("l_orderkey") === col("o_ok") && col("l_suppkey") =!= col("o_sk") &&
        col("o_sd") > col("l_shipdate"),
      "left_anti")
    laggard.groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q122Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  // ---------------------------------------------------------------- q123: weighted median (quantileExactWeighted)
  /** Coarse-bucket width for the two-pass weighted-quantile refinement
    * (q123/q209). Internal to the Spark plan only — the oracle SQL stays
    * the naive row-grain window, so the gate proves any width correct;
    * the width just sizes the refinement: pass 1 reduces the corpus to
    * ≤ |flags| × (price-range / width) coarse cells (map-side combined —
    * bucket keys REPEAT, unlike the near-unique price grain), pass 2
    * touches only the crossing buckets' rows (~1/B of the input). At
    * larger scale the width would derive from domain stats so per-bucket
    * cell count stays bounded; at any width the result is identical. */
  private val QuantileBucketWidth = 1000.0

  /** Two-pass exact weighted quantiles, shared by q123/q209: for each
    * percentile p the crossing CELL (first price cell whose inclusive
    * running qty-sum reaches T_p = ceil(tot·p/100)) is found by
    * (1) a coarse `floor(price/width)` bucket histogram — domain-bounded,
    * so its per-flag prefix sum is a tiny bounded window, never the
    * corpus — then (2) price-grain resolution INSIDE the crossing
    * buckets only (broadcast semi-join; ≤ |flags|·|pcts| buckets).
    * Equivalence to the one-pass price-grain prefix sum (and to the
    * oracle's row-grain window): cells before the crossing bucket have
    * cum ≤ base < T_p, and the bucket's own last cell has cum = bcum ≥
    * T_p, so the first cell with cum ≥ T_p lies inside it and its global
    * prefix is base + within-bucket prefix — the same integers, bucket
    * function monotone (IEEE division is weakly monotone, floor
    * preserves it). Returns (l_returnflag, p, q_value=price, tot). */
  private def weightedQuantileCells(s: SparkSession, dir: String,
                                    pcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        // explicit floor: Spark's cast("long") truncates while DuckDB's
        // CAST(... AS BIGINT) rounds — floor on both sides is the one
        // pinned semantics (fixtures are integral today, so identical)
        floor(col("l_quantity")).cast("long").as("qty"))
      .withColumn("bkt",
        floor(col("l_extendedprice") / lit(QuantileBucketWidth)).cast("long"))
    // pass 1: coarse histogram — bucket keys repeat heavily, so the
    // map-side partial aggregate reduces the corpus to the bucket grain
    // before any exchange (the price-grain histogram it replaces was
    // near-unique: 594k cells of 600k rows, zero reduction)
    val coarse = li.groupBy(col("l_returnflag"), col("bkt"))
      .agg(sum(col("qty")).as("bw"))
    // bounded window: input grain is |flags| × (price-domain / width),
    // independent of row count — not the corpus-window shape DistRank
    // exists to avoid
    val wCum = Window.partitionBy("l_returnflag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("l_returnflag")
    def thr(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      // ceil(tot·p/100), exact for longs
      val a = col("tot") * p.cast("long") + lit(99L)
      ((a - pmod(a, lit(100L))) / 100L).cast("long")
    }
    val sel = coarse
      .withColumn("bcum", sum(col("bw")).over(wCum))
      .withColumn("tot", sum(col("bw")).over(wTot))
      .withColumn("p", explode(array(pcts.map(lit): _*)))
      .withColumn("t", thr(col("p")))
      .filter(col("bcum") >= col("t") && col("bcum") - col("bw") < col("t"))
      .select(col("l_returnflag"), col("bkt"), col("p"), col("t"),
        (col("bcum") - col("bw")).as("base"), col("tot"))
    // pass 2: price-grain cells inside the crossing buckets only
    val selB = sel.select(col("l_returnflag"), col("bkt")).distinct()
    val cells = li.join(broadcast(selB), Seq("l_returnflag", "bkt"))
      .groupBy(col("l_returnflag"), col("bkt"), col("l_extendedprice"))
      .agg(sum(col("qty")).as("w"))
    val wIn = Window.partitionBy("l_returnflag", "bkt").orderBy("l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cumin", sum(col("w")).over(wIn))
      .join(broadcast(sel), Seq("l_returnflag", "bkt"))
      .filter(col("base") + col("cumin") >= col("t") &&
              col("base") + col("cumin") - col("w") < col("t"))
      .select(col("l_returnflag"), col("p"),
        col("l_extendedprice").as("q_value"), col("tot"))
  }

  /** Exact weighted median: the l_extendedprice at which half the total
    * QUANTITY is reached (ClickHouse `quantileExactWeighted`), via the
    * two-pass coarse-bucket refinement in [[weightedQuantileCells]].
    * Only the crossing PRICE is exposed, and the row-grain crossing row
    * always sits inside the crossing price cell, so this is provably
    * equal to the naive row-grain window the oracle still runs. The
    * scale point: the naive `PARTITION BY l_returnflag` cumsum window
    * funnels everything through |flags|=3 tasks, and a price-grain
    * histogram does not bound that funnel (extendedprice is near-unique
    * at low SF: 594k distinct cells of 600k rows at sf0.1) — the
    * two-pass shape only ever prefix-sums the DOMAIN-BOUNDED coarse
    * table and resolves price grain inside the crossing buckets. */
  def q123WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    // p=50: T = ceil(tot/2), and for integer cum `2·cum ≥ tot ⇔ cum ≥ T`
    // plus `2·(cum−w) < tot ⇔ cum−w < T` — the original crossing test
    // verbatim, so the two-pass refinement returns the identical cell
    weightedQuantileCells(s, dir, Seq(50))
      .select(col("l_returnflag"), col("q_value").as("weighted_median"),
        col("tot").as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q123Sql: String =
    """WITH c AS (SELECT l_returnflag, l_extendedprice,
      |                  CAST(floor(l_quantity) AS BIGINT) AS qty,
      |                  sum(CAST(floor(l_quantity) AS BIGINT)) OVER
      |                    (PARTITION BY l_returnflag
      |                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |                     ROWS UNBOUNDED PRECEDING) AS cum,
      |                  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) OVER
      |                    (PARTITION BY l_returnflag) AS BIGINT) AS tot
      |           FROM lineitem)
      |SELECT l_returnflag, l_extendedprice AS weighted_median, tot AS total_qty
      |FROM c
      |WHERE cum * 2 >= tot AND (cum - qty) * 2 < tot
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q209: weighted quantile set
  /** Exact weighted quantiles at several q from the shared two-pass
    * refinement (ClickHouse `quantilesExactWeighted(0.25,0.5,0.75,0.95)`):
    * each percentile's integer threshold `T_p = ceil(tot·p/100) =
    * (tot·p + 99) DIV 100` selects its crossing bucket in pass 1 and its
    * crossing cell in pass 2 ([[weightedQuantileCells]]). Row-grain /
    * cell-grain equality is the q123 argument verbatim, threshold by
    * threshold: the first ROW with cum ≥ T_p sits inside the first CELL
    * with cum ≥ T_p and only the price is exposed, so the oracle keeps
    * the naive row-grain window. All thresholds in pure BIGINT — no
    * float quantile boundary can desynchronize the engines. */
  def q209WeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    // the two-pass refinement is quantile-agnostic: every additional
    // percentile adds one tiny crossing-bucket row, never another pass
    weightedQuantileCells(s, dir, Seq(25, 50, 75, 95))
      .select(col("l_returnflag"), col("p"), col("q_value"))
      .orderBy(col("l_returnflag"), col("p"))

  val q209Sql: String =
    """WITH c AS (SELECT l_returnflag, l_extendedprice,
      |                  CAST(floor(l_quantity) AS BIGINT) AS qty,
      |                  sum(CAST(floor(l_quantity) AS BIGINT)) OVER
      |                    (PARTITION BY l_returnflag
      |                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |                     ROWS UNBOUNDED PRECEDING) AS cum,
      |                  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) OVER
      |                    (PARTITION BY l_returnflag) AS BIGINT) AS tot
      |           FROM lineitem),
      |q AS (SELECT unnest([25, 50, 75, 95]) AS p)
      |SELECT c.l_returnflag, q.p, c.l_extendedprice AS q_value
      |FROM c, q
      |WHERE c.cum >= (c.tot * q.p + 99) // 100
      |  AND c.cum - c.qty < (c.tot * q.p + 99) // 100
      |ORDER BY c.l_returnflag, q.p""".stripMargin

  // ---------------------------------------------------------------- q143: join fan-out audit
  /** Join fan-out (skew) audit for orders⋈lineitem: the distribution of
    * per-orderkey line multiplicities — the number that decides whether
    * a join needs salting (q50) or AQE skew splitting before you pay for
    * it. One key-grain aggregation, then a multiplicity histogram plus
    * exact p50/p99/max over the key-grain table; rows-out prediction =
    * Σ multiplicity. The planning diagnostic behind SCALE.md's
    * salting/AQE guidance, as an oracle-checked query. */
  def q143JoinFanout(s: SparkSession, dir: String): DataFrame = {
    val mult = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("m"))
    mult.agg(
        count(lit(1)).as("n_keys"),
        sum(col("m")).as("rows_out"),
        round(expr("percentile(m, 0.5)"), 2).as("p50_mult"),
        round(expr("percentile(m, 0.99)"), 2).as("p99_mult"),
        max(col("m")).as("max_mult"))
      .withColumn("skew_ratio",
        round(col("max_mult").cast("double") * col("n_keys") / col("rows_out"), 4))
  }

  val q143Sql: String =
    """WITH m AS (SELECT l_orderkey, count(*) AS m FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_keys,
      |       CAST(sum(m) AS BIGINT) AS rows_out,
      |       round(quantile_cont(m, 0.5), 2) AS p50_mult,
      |       round(quantile_cont(m, 0.99), 2) AS p99_mult,
      |       max(m) AS max_mult,
      |       round(max(m)::DOUBLE * count(*) / sum(m), 4) AS skew_ratio
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q151: uniqUpTo
  /** Exact-up-to-N distinct users per event type via the bounded-state
    * [[graft.functions.UniqUpTo]] Aggregator (ClickHouse `uniqUpTo`):
    * N=50 saturates on real types (sentinel 51), N=5000 stays exact —
    * both run with O(N) state per partial buffer instead of shuffling
    * every distinct value, and unlike HLL (q39) the result is a pure
    * function of the data, so it gates against the DuckDB oracle
    * `least(count(DISTINCT …), N+1)`. The exact count rides along as the
    * reference measure. */
  def q151UniqUpTo(s: SparkSession, dir: String): DataFrame = {
    val u50 = graft.functions.UniqUpTo.uniq_up_to(50)
    val u5000 = graft.functions.UniqUpTo.uniq_up_to(5000)
    Tables.events(s, dir)
      // the oracle's count(DISTINCT user_id) ignores NULLs; the typed
      // Aggregator's primitive-Long input cannot represent them — filter
      // so both legs see the same value set if a fixture ships NULL ids
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(u50(col("user_id")).as("uniq_upto_50"),
        u5000(col("user_id")).as("uniq_upto_5000"),
        countDistinct(col("user_id")).as("n_exact"))
      .orderBy(col("event_type"))
  }

  val q151Sql: String =
    """SELECT event_type,
      |  least(count(DISTINCT user_id), 51) AS uniq_upto_50,
      |  least(count(DISTINCT user_id), 5001) AS uniq_upto_5000,
      |  count(DISTINCT user_id) AS n_exact
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q170: nested rollup (groupArray of tuples)
  /** Nested-result rollup — ClickHouse's `groupArray((lang, count))` /
    * sumMap result shape: one row per source whose payload is the full
    * sorted (lang, n_docs) breakdown. Two-level aggregation: corpus
    * collapses to |source|×|lang| cells in the partial+final hash
    * aggregate, then entries assemble per source from cell-sized input —
    * collect_list state is bounded by |langs|, never corpus-sized.
    * The nested payload is serialized canonically ("lang:n,lang:n", order
    * pinned by the struct sort ↔ ORDER BY lang) because the driver's
    * pandas hasher can't sort ndarray cells (round-3 failure) — the
    * string encodes the same structure deterministically. */
  def q170NestedRollup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(concat_ws(",", transform(
          sort_array(collect_list(struct(col("lang"), col("n")))),
          e => concat_ws(":", e.getField("lang"), e.getField("n")))).as("entries"),
        sum(col("n")).as("n_docs"))
      .orderBy(col("source"))

  val q170Sql: String =
    """WITH g AS (SELECT source, lang, count(*)::BIGINT AS n
      |           FROM documents GROUP BY 1, 2)
      |SELECT source,
      |  array_to_string(list(lang || ':' || n ORDER BY lang), ',') AS entries,
      |  sum(n)::BIGINT AS n_docs
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- k-anonymity audit (data governance)
  /** k-anonymity audit over the quasi-identifier triple (nation, market
    * segment, account-balance band) — the privacy screen a dataset passes
    * before release (q59 masks direct identifiers; this measures how
    * re-identifiable the REST of the row is): any QI combination shared
    * by fewer than k=5 people marks its members re-identifiable. One
    * QI-keyed aggregate (map-side combined) to group sizes, then a
    * group-grain summary — the corpus never shuffles twice. The balance
    * band is integer cents with a +100000 offset so truncating division
    * equals floor division on both engines (negative balances exist).
    * Share is integer half-up (q134's pattern). */
  def q179KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 200000").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("sz"))
    groups.agg(
        count(lit(1)).as("n_groups"),
        sum(col("sz")).as("n_customers"),
        min(col("sz")).as("min_group_size"),
        sum(when(col("sz") < 5, lit(1)).otherwise(lit(0))).as("n_small_groups"),
        sum(when(col("sz") < 5, col("sz")).otherwise(lit(0))).as("n_risky"))
      .select(col("n_groups"), col("n_customers"), col("min_group_size"),
        col("n_small_groups"), col("n_risky"),
        (expr("(2 * n_risky * 10000 + n_customers) DIV (2 * n_customers)") / 10000.0)
          .as("risky_share"))
  }

  val q179Sql: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
      |             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS bal_band,
      |             count(*) AS sz
      |           FROM customer GROUP BY 1, 2, 3)
      |SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(sz) AS BIGINT) AS n_customers,
      |       CAST(min(sz) AS BIGINT) AS min_group_size,
      |       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
      |       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_risky,
      |       ((2 * CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) * 10000
      |         + CAST(sum(sz) AS BIGINT))
      |        // (2 * CAST(sum(sz) AS BIGINT))) / 10000.0 AS risky_share
      |FROM g""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q40_cube",       q40Cube _,       Some(q40Sql)),
    ("q179_k_anonymity", q179KAnonymity _, Some(q179Sql)),
    ("q170_nested_rollup", q170NestedRollup _, Some(q170Sql)),
    ("q41_pivot",      q41Pivot _,      Some(q41Sql)),
    ("q42_percentile", q42Percentile _, Some(q42Sql)),
    ("q43_array_fns",  q43ArrayFns _,   Some(q43Sql)),
    ("q44_date_fns",   q44DateFns _,    Some(q44Sql)),
    ("q45_stats",      q45Stats _,      Some(q45Sql)),
    ("q48_window_analytics", q48WindowAnalytics _, Some(q48Sql)),
    ("q53_summary_stats",    q53SummaryStats _,    Some(q53Sql)),
    ("q236_micros_time",     q236MicrosTime _,     Some(q236Sql)),
    ("q49_sql_surface",      q49SqlSurface _,      Some(q49Sql)),
    ("q50_salted_join",      q50SaltedJoin _,      Some(q50Sql)),
    ("q60_correlated_subq",  q60CorrelatedSubq _,  Some(q60Sql)),
    ("q61_lateral_topn",     q61LateralTopn _,     Some(q61Sql)),
    ("q62_argmax",           q62Argmax _,          Some(q62Sql)),
    ("q63_grouping_sets",    q63GroupingSets _,    Some(q63Sql)),
    ("q67_shipping_priority", q67ShippingPriority _, Some(q67Sql)),
    ("q122_waiting_orders",   q122WaitingOrders _,   Some(q122Sql)),
    ("q123_weighted_median",  q123WeightedMedian _,  Some(q123Sql)),
    ("q209_weighted_quantiles", q209WeightedQuantiles _, Some(q209Sql)),
    ("q143_join_fanout",      q143JoinFanout _,      Some(q143Sql)),
    ("q151_uniq_upto",        q151UniqUpTo _,        Some(q151Sql)),
    ("q153_rollup_route",     q153RollupRoute _,     Some(q153Sql)),
    ("q154_trade_flows",      q154TradeFlows _,      Some(q154Sql)),
    ("q159_benford",          q159Benford _,         Some(q159Sql)),
    ("q161_copurchase",       q161Copurchase _,      Some(q161Sql)),
    ("q163_skyline",          q163Skyline _,         Some(q163Sql)),
    ("q68_rolling_window",    q68RollingWindow _,    Some(q68Sql)),
    ("q72_outliers",          q72Outliers _,         Some(q72Sql)),
    ("q100_winsorize",        q100Winsorize _,       Some(q100Sql)),
    ("q80_incremental_rollup", q80IncrementalRollup _, Some(q80Sql)),
    ("q81_profile",            q81Profile _,           Some(q81Sql)),
    ("q85_full_outer",         q85FullOuter _,         Some(q85Sql)),
    ("q90_histogram",          q90Histogram _,         Some(q90Sql)),
    ("q91_multi_quantile",     q91MultiQuantile _,     Some(q91Sql)),
    ("q96_recursive_spine",    q96RecursiveSpine _,    Some(q96Sql)),
  )
}
