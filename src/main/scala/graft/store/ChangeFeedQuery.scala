package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.streaming.TraceStream.Stores

/** q226 — the rewrite-surviving change feed proven end to end through a
  * REAL store lifecycle, oracle-gated (the reference's whole framing is
  * CDC-ish ETL — /root/reference/trace-converter.py:66-72,
  * README.md:193-206 — and a CDC consumer must survive the sink's own
  * maintenance, not just clean appends).
  *
  * The fixture drives [[TraceStore.readChangesSince]] across BOTH
  * rewrite shapes [[TraceStore.readAppendedSince]] refuses:
  *
  *   1. append batch A (event_id % 3 == 0), pin snapshot s1  ← baseline
  *   2. append batch B (event_id % 3 == 1)                   ← inserts
  *   3. DELETE WHERE Type = 'error'                          ← erase:
  *      rewrites every matching month; A's erased rows must surface as
  *      deletes, B's erased rows must NEVER surface (inserted and
  *      erased within the window)
  *   4. compact()                                            ← rewrite:
  *      every multi-file month rewritten; must be INVISIBLE in the feed
  *
  * The graded read is the feed aggregated per (change, Machine); the
  * DuckDB oracle recomputes both sides from the raw events table, so an
  * over-report (compaction rows leaking as insert+delete pairs) or an
  * under-report (erased rows lost) fails the hash gate.
  *
  * Scale: the feed's cost is file-set pruning + EXCEPT ALL over only the
  * files touched since the snapshot (see readChangesSince) — the fixture
  * is small, the shape is the 100 TB one.
  */
object ChangeFeedQuery {

  private val built = new graft.util.SessionDirCache[(String, String)]

  /** events → trace-store rows; same closed-form mapping discipline as
    * [[EvolutionQuery.asTrace]] so the oracle reproduces every value. */
  private def asTrace(ev: DataFrame): DataFrame =
    ev.select(
      pmod(col("event_id"), lit(1000000000L)).cast(IntegerType).as("Severity"),
      concat(lit("m"), pmod(col("user_id"), lit(8L))).as("Machine"),
      col("event_type").as("LogGroup"),
      col("ts").cast(org.apache.spark.sql.types.TimestampType).as("Time"),
      col("event_type").as("Type"),
      col("event_id").cast("string").as("ID"))

  private def buildStore(s: SparkSession, dir: String): (String, String) =
    built(s, dir) { (sess, d) =>
      val path = graft.util.TmpDirs.scratch("graft-cdc-store")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      TraceStore.append(asTrace(ev.filter(batch === 0)), path, splitsPerMonth = 2)
      val snap = TraceStore.snapshot(path)
      TraceStore.append(asTrace(ev.filter(batch === 1)), path, splitsPerMonth = 2)
      TraceStore.deleteWhere(sess, path, col("Type") === "error", splitsPerMonth = 2)
      TraceStore.compact(sess, path, maxFilesPerMonth = 1, splitsPerMonth = 2)
      (path, snap)
    }

  /** q226: the feed since the pre-maintenance snapshot, aggregated.
    * Expected: inserts = batch B minus its erased rows; deletes = batch
    * A's erased rows; compaction contributes nothing. */
  def q226ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val (path, snap) = buildStore(s, dir)
    TraceStore.readChangesSince(s, path, snap)
      .groupBy(col("_change").as("change"), col("Machine"))
      .agg(count(lit(1)).as("n"), sum(col("Severity")).as("sum_sev"))
      .orderBy(col("change"), col("Machine"))
  }

  /** q227: CDC-DRIVEN incremental rollup maintenance — the change feed
    * applied to a pre-aggregated rollup: final = merge(rollup@snapshot,
    * +inserts, −deletes). Decomposable measures (count, sum) merge by
    * signed summation, so maintaining a 100 TB rollup across arbitrary
    * store maintenance costs one pass over the CHANGES — never a
    * re-aggregation of the accumulated table, and (unlike a rollup fed
    * from append-only ingest batches) it stays correct across DELETE
    * WHERE / retention, because deletes arrive as negative increments. The oracle recomputes the final state from the
    * raw events table, so a sign error, a compaction leak (spurious
    * insert+delete pairs cancel — but only if BOTH sides arrive), or a
    * missed delete fails the hash gate. */
  def q227CdcRollup(s: SparkSession, dir: String): DataFrame = {
    val (path, snap) = buildStore(s, dir)
    val base = TraceStore.readSnapshot(s, path, snap)
      .groupBy(col("Machine"))
      .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sum_sev"))
    val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
    val delta = TraceStore.readChangesSince(s, path, snap)
      .groupBy(col("Machine"))
      .agg(sum(sign).as("n"), sum(sign * col("Severity").cast("long")).as("sum_sev"))
    TraceStore.mergeRollups(base, delta, Seq("Machine"), Seq("n", "sum_sev"))
      .filter(col("n") > 0) // a fully-deleted group leaves the rollup
      .orderBy(col("Machine"))
  }

  val q227Sql: String =
    """SELECT 'm' || (user_id % 8) AS Machine, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND event_type <> 'error'
      |GROUP BY 1 ORDER BY Machine""".stripMargin

  // DuckDB % keeps the dividend's sign — double-mod like q224's oracle
  val q226Sql: String =
    """SELECT chg AS change, Machine, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM (
      |  SELECT 'insert' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT 'delete' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 3 = 0 AND event_type = 'error'
      |)
      |GROUP BY 1, 2 ORDER BY change, Machine""".stripMargin

  private val streamed = new graft.util.SessionDirCache[String]

  /** q228 — the change feed consumed through the ACTUAL `graft-cdc`
    * Structured Streaming source (graft.sources.CdcSource), end to end
    * and oracle-gated: the store lives through the same lifecycle as
    * q226 (append A → append B → DELETE WHERE → compact), but here each
    * mutation is delivered as its own MICRO-BATCH by a
    * Trigger.AvailableNow run resuming from the shared checkpoint — so
    * the gate pins, per batch id, exactly what the streaming offset
    * machinery delivered: batch 0 = the initial load (A as inserts,
    * `initialLoad=true`), batch 1 = B's inserts, batch 2 = the erased
    * rows as deletes, batch 3 = the compaction, which must cancel to
    * ZERO rows (it contributes no group). Every drain is also a restart
    * from the checkpointed offset, so offset replay is on the graded
    * path, not just in the spec.
    *
    * Scale: each micro-batch's plan scans only the files that changed
    * since its start offset (the same file-set pruning as q226); the
    * AvailableNow-between-mutations cadence is the documented
    * maintenance contract for a CDC reader. */
  def q228CdcStream(s: SparkSession, dir: String): DataFrame = {
    val out = q228Fixture(s, dir)
    s.read.parquet(out)
      .groupBy(col("batch").cast("long").as("batch"),
        col("_change").as("change"), col("Machine"))
      .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sum_sev"))
      .orderBy(col("batch"), col("change"), col("Machine"))
  }

  /** The store-lifecycle-through-the-streaming-source fixture shared by
    * q228 (per-batch gate) and q229 (commit-window gate): each mutation
    * delivered as its own micro-batch into `batch=<id>` partition dirs. */
  private def q228Fixture(s: SparkSession, dir: String): String =
    streamed(s, dir) { (sess, d) =>
      val store = graft.util.TmpDirs.scratch("graft-cdcstream-store")
      val outDir = graft.util.TmpDirs.scratch("graft-cdcstream-out")
      val ck = graft.util.TmpDirs.scratch("graft-cdcstream-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      // idempotent per batch id: foreachBatch is at-least-once, so a
      // replayed batch must OVERWRITE its own partition directory, never
      // blind-append into the shared output (a mid-drain crash would
      // otherwise double-write the batch and fail the hash gate) — the
      // same replay-safe discipline the segment store keeps
      val sink: (DataFrame, Long) => Unit = (bdf, bid) => {
        bdf.write.mode("overwrite").parquet(s"$outDir/batch=$bid")
        ()
      }
      def drainOnce(): Unit = {
        val q = sess.readStream.format("graft-cdc")
          .option("path", store).option("initialLoad", "true")
          .load()
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(sink)
          .start()
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(batch === 0)), store, splitsPerMonth = 2)
      drainOnce() // batch 0: initial load — A as inserts
      TraceStore.append(asTrace(ev.filter(batch === 1)), store, splitsPerMonth = 2)
      drainOnce() // batch 1: B as inserts
      TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
      drainOnce() // batch 2: erased rows as deletes
      TraceStore.compact(sess, store, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drainOnce() // batch 3: compaction — must cancel to zero rows
      outDir
    }

  val q228Sql: String =
    """SELECT batch, chg AS change, Machine, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM (
      |  SELECT 0::BIGINT AS batch, 'insert' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT 1::BIGINT, 'insert', 'm' || (user_id % 8), event_id
      |  FROM events WHERE event_id % 3 = 1
      |  UNION ALL
      |  SELECT 2::BIGINT, 'delete', 'm' || (user_id % 8), event_id
      |  FROM events WHERE event_id % 3 IN (0, 1) AND event_type = 'error'
      |)
      |GROUP BY 1, 2, 3 ORDER BY batch, change, Machine""".stripMargin

  /** q229 — the feed consumed THROUGH its commit metadata columns
    * (`_commit_snapshot` / `_commit_ts`, stamped by the `graft-cdc`
    * source on every row): a windowed-by-commit-time consumer. The
    * commit SEQUENCE is derived from the data itself — rank the
    * distinct (commit_ts, commit_snapshot) pairs by capture time — not
    * from q228's hand-rolled batch-id side channel, which is exactly
    * what the metadata columns exist to replace. Per commit window the
    * query reports the signed row delta and a running net total, the
    * late-data-reasoning shape (\"how much had landed by commit k?\")
    * a CDC auditor runs.
    *
    * Scale: both global windows run over COMMIT-bounded tables (the
    * distinct-commit list and the per-commit aggregate — rows ∝
    * maintenance operations, never data), the same bounded-window
    * shape as q97's per-day block table; the feed itself is grouped
    * distributively first. The oracle recomputes every value from the
    * raw events table with the commit sequence known from the fixture's
    * operation order, so a wrong snapshot attribution, a commit-time
    * mis-ordering, or a lost empty-commit row fails the hash gate
    * (the compaction commit contributes NO rows — an over-report
    * surfaces as a spurious seq-4 group). */
  def q229CommitWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = q228Fixture(s, dir)
    val feed = s.read.parquet(out)
    val commits = feed.select(col("_commit_ts"), col("_commit_snapshot")).distinct()
    val seqd = commits.withColumn("commit_seq",
      dense_rank().over(Window.orderBy(col("_commit_ts"), col("_commit_snapshot"))))
    val perCommit = feed
      .join(broadcast(seqd), Seq("_commit_ts", "_commit_snapshot"))
      .groupBy(col("commit_seq"), col("_change").as("change"))
      .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sum_sev"))
    perCommit
      .withColumn("running_net",
        sum(when(col("change") === "insert", col("n")).otherwise(-col("n")))
          .over(Window.orderBy(col("commit_seq"), col("change"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .orderBy(col("commit_seq"), col("change"))
  }

  val q229Sql: String =
    """WITH feed AS (
      |  SELECT 1 AS commit_seq, 'insert' AS chg, event_id
      |  FROM events WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT 2, 'insert', event_id
      |  FROM events WHERE event_id % 3 = 1
      |  UNION ALL
      |  SELECT 3, 'delete', event_id
      |  FROM events WHERE event_id % 3 IN (0, 1) AND event_type = 'error'
      |), agg AS (
      |  SELECT commit_seq, chg AS change, count(*)::BIGINT AS n,
      |    (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |  FROM feed GROUP BY 1, 2
      |)
      |SELECT commit_seq, change, n, sum_sev,
      |  (sum(CASE WHEN change = 'insert' THEN n ELSE -n END)
      |     OVER (ORDER BY commit_seq, change))::BIGINT AS running_net
      |FROM agg ORDER BY commit_seq, change""".stripMargin

  private val batchPinned = new graft.util.SessionDirCache[(String, String, String)]

  /** q230 — the BATCH form of the feed (`spark.read.format("graft-cdc")`,
    * the Delta `table_changes` shape): the same store lifecycle as q226,
    * read between the pre-maintenance pin and a post-maintenance pin
    * through the relation rather than `TraceStore` calls — so the graded
    * surface is the options-and-schema contract SQL users touch,
    * commit-metadata columns included. Oracle: identical change algebra
    * to q226 plus the ending-pin attribution (deterministic: the fixture
    * pins exactly twice on this store — buildStore's baseline `s000001`,
    * then this query's end pin `s000002`). */
  def q230BatchChanges(s: SparkSession, dir: String): DataFrame = {
    val (path, snap, end) = batchPinned(s, dir) { (sess, d) =>
      val (p, sn) = buildStore(sess, d)
      (p, sn, TraceStore.snapshot(p))
    }
    s.read.format("graft-cdc")
      .option("path", path)
      .option("startingSnapshot", snap)
      .option("endingSnapshot", end)
      .load()
      .groupBy(col("_change").as("change"), col("Machine"),
        col("_commit_snapshot").as("commit_snapshot"))
      .agg(count(lit(1)).as("n"), sum(col("Severity")).as("sum_sev"))
      .orderBy(col("change"), col("Machine"))
  }

  val q230Sql: String =
    """SELECT chg AS change, Machine, 's000002' AS commit_snapshot, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM (
      |  SELECT 'insert' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT 'delete' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 3 = 0 AND event_type = 'error'
      |)
      |GROUP BY 1, 2, 3 ORDER BY change, Machine""".stripMargin

  /** The per-row LSH bucket rows (band, bkey) a near-dup index keeps for
    * a trace row: distinct character trigrams of `Machine/Type/ID` →
    * cross-engine tokval → 4 MinHash permutations → 2 bands of 2 packed
    * base-P (injective: each minhash < P). The same integer hash algebra
    * as the q25/q26 document pipeline ([[graft.functions.TextHash]]), so
    * the DuckDB oracle reproduces every bucket key exactly. Map-only:
    * higher-order functions, no explode/shuffle per row. */
  private[graft] def bucketRows(rows: DataFrame, carry: Seq[String] = Seq.empty,
                                bands: Int = 2): DataFrame = {
    require(bands == 2 || bands == 4,
      s"bands must be 2 (2 rows/band — the default precision point) or 4 " +
        s"(1 row/band — the recall recalibration), got $bands")
    val key = concat(col("Machine"), lit("/"), col("Type"), lit("/"), col("ID"))
    // the 4 minhash functions band as 2×2 (pairs packed base-P — two
    // rows per band, higher precision) or 4×1 (each signature its own
    // band — higher recall, the re-band a q241-flagged miscalibration
    // moves to); packing 4 rows into one band would overflow Long.
    // The whole signature is ONE compiled pass over the key string
    // ([[graft.functions.TrigramBandKeysExpr]]) — bit-identical band keys
    // to the four-aggregate HOF formulation it replaces (kernel-vs-HOF
    // equality is spec-pinned), at one tokval per trigram instead of four
    // interpreted re-hashes.
    import org.apache.spark.sql.graftshim.Shim
    val bkeys = Shim.column(graft.functions.TrigramBandKeysExpr(
      Shim.expression(key), bands))
    rows.filter(length(key) >= 3)
      .select(carry.map(col) :+ posexplode(bkeys).as(Seq("band", "bkey")): _*)
  }

  /** The MATERIALIZED index-at-snapshot — in production this is the
    * stored bucket table an incremental maintainer reads, not something
    * recomputed per maintenance cycle, so it is built once per (session,
    * dir) and checkpointed (the same materialized-intermediate
    * discipline as the dedup family's pairCache/shingleCache; at 100 TB
    * this is a parquet table). The GRADED incremental work in q231 is
    * the signed delta + merge. */
  private val lshBase = new graft.util.SessionDirCache[DataFrame](
    graft.util.SessionDirCache.releaseDf)

  /** q231 — INCREMENTAL LSH-index maintenance from the change feed: the
    * dedup family's band-bucket index (the table q26-style candidate
    * joins run on) kept current by SIGNED increments instead of
    * rebuilds. final bucket census = census@snapshot + Σ sign·buckets
    * (changes) — inserts add their bucket rows, deletes retract them, a
    * compaction's cancelling pairs net out, and an emptied bucket leaves
    * the index. Cost ∝ changed rows + index cardinality, never the
    * accumulated corpus: the q25 signature pass that a rebuild would
    * re-run over 100 TB runs only over the feed.
    *
    * The oracle rebuilds the index from scratch over the raw events
    * table with the same cross-engine hash algebra, so a sign error, a
    * missed retraction, or any bucket-key divergence between the
    * incremental and rebuilt index fails the hash gate. */
  def q231IncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val (path, snap) = buildStore(s, dir)
    val base = lshBase(s, dir) { (sess, d) =>
      val (p, sn) = buildStore(sess, d)
      bucketRows(TraceStore.readSnapshot(sess, p, sn))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
    }
    val changes = TraceStore.readChangesSince(s, path, snap)
    val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
    val signedDelta = bucketRows(changes.withColumn("_s", sign), carry = Seq("_s"))
      .groupBy(col("band"), col("bkey")).agg(sum(col("_s")).as("n"))
    TraceStore.mergeRollups(base, signedDelta, Seq("band", "bkey"), Seq("n"))
      .filter(col("n") > 0)
      .orderBy(col("band"), col("bkey"))
  }

  val q231Sql: String = {
    import graft.functions.TextHash.{tokvalSql, minhashTermSql}
    s"""WITH rows_ AS (
       |  SELECT event_id,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id AS key
       |  FROM events
       |  WHERE event_id % 3 IN (0, 1) AND event_type <> 'error'
       |), tri AS (
       |  SELECT DISTINCT event_id,
       |    unnest(list_transform(range(1, length(key) - 1),
       |                          i -> substr(key, i::INT, 3))) AS g
       |  FROM rows_ WHERE length(key) >= 3
       |), tv AS (
       |  SELECT event_id, ${tokvalSql("g")} AS tv FROM tri
       |), sig AS (
       |  SELECT event_id, h, min(${minhashTermSql("tv", "h")}) AS mh
       |  FROM tv CROSS JOIN (SELECT h FROM range(4) t(h)) GROUP BY 1, 2
       |), packed AS (
       |  SELECT event_id,
       |    (min(CASE WHEN h = 0 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 1 THEN mh END)) AS b0,
       |    (min(CASE WHEN h = 2 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 3 THEN mh END)) AS b1
       |  FROM sig GROUP BY 1
       |), buckets AS (
       |  SELECT 0 AS band, b0 AS bkey FROM packed
       |  UNION ALL
       |  SELECT 1, b1 FROM packed
       |)
       |SELECT band, bkey, count(*)::BIGINT AS n
       |FROM buckets GROUP BY 1, 2 ORDER BY band, bkey""".stripMargin
  }

  private val composed = new graft.util.SessionDirCache[(String, String, String, String)]

  /** q232 — the diff algebra's COMPOSITION law, graded at the user
    * surface: for any three pins p1 → p2 → p3,
    * `changes(p1,p3) = changes(p1,p2) ⊕ changes(p2,p3)` under signed
    * summation — the property that lets a consumer catch up over N
    * missed maintenance cycles in one bounded diff instead of N, and
    * the algebra every chunked slice relies on. The fixture drives a
    * fresh store through append → (append + DELETE WHERE) → (compact +
    * append), pinning between phases; both sides are read through the
    * `spark.read.format("graft-cdc")` relation and compared per
    * (Machine, signed count, signed severity sum). The oracle
    * recomputes the DIRECT diff from raw events and asserts the
    * `matches` column — a composition violation (a row double-counted
    * across the intermediate pin, or a compaction leaking into one leg
    * only) flips it to false and fails the hash gate. */
  def q232DiffCompose(s: SparkSession, dir: String): DataFrame = {
    val (path, p1, p2, p3) = composed(s, dir) { (sess, d) =>
      val store = graft.util.TmpDirs.scratch("graft-cdc-compose")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      TraceStore.append(asTrace(ev.filter(batch === 0)), store, splitsPerMonth = 2)
      val a = TraceStore.snapshot(store)
      TraceStore.append(asTrace(ev.filter(batch === 1)), store, splitsPerMonth = 2)
      TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
      val b = TraceStore.snapshot(store)
      TraceStore.compact(sess, store, maxFilesPerMonth = 1, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(batch === 2)), store, splitsPerMonth = 2)
      val c = TraceStore.snapshot(store)
      (store, a, b, c)
    }
    def signedAgg(from: String, to: String): DataFrame = {
      val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
      s.read.format("graft-cdc").option("path", path)
        .option("startingSnapshot", from).option("endingSnapshot", to).load()
        .groupBy(col("Machine"))
        .agg(sum(sign).as("n"), sum(sign * col("Severity").cast("long")).as("sum_sev"))
    }
    val direct = signedAgg(p1, p3)
    val legs = signedAgg(p1, p2).unionByName(signedAgg(p2, p3))
      .groupBy(col("Machine"))
      .agg(sum(col("n")).as("n2"), sum(col("sum_sev")).as("ss2"))
    // coalesce both sides to 0 before comparing: a group absent from one
    // leg (no changed rows at all) and a group present with a NET-ZERO
    // aggregate (rows canceling within the leg) are the same state under
    // the composition law — null <=> 0 must not read as a violation
    def z(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
    direct.join(legs, Seq("Machine"), "full_outer")
      .select(col("Machine"), col("n"), col("sum_sev"),
        (z(col("n")) === z(col("n2")) && z(col("sum_sev")) === z(col("ss2"))).as("matches"))
      .orderBy(col("Machine"))
  }

  // the direct p1→p3 signed delta from raw events: net new rows =
  // batches 1,2 minus batch-1 rows erased in phase 2 (batch-0 erased
  // rows count negative; compaction nets to zero by construction)
  val q232Sql: String =
    """SELECT Machine, sum(sgn)::BIGINT AS n,
      |  (sum(sgn * (((event_id % 1000000000) + 1000000000) % 1000000000)))::BIGINT AS sum_sev,
      |  true AS matches
      |FROM (
      |  SELECT 'm' || (user_id % 8) AS Machine, 1 AS sgn, event_id
      |  FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT 'm' || (user_id % 8), 1, event_id
      |  FROM events WHERE event_id % 3 = 2
      |  UNION ALL
      |  SELECT 'm' || (user_id % 8), -1, event_id
      |  FROM events WHERE event_id % 3 = 0 AND event_type = 'error'
      |)
      |GROUP BY 1 ORDER BY Machine""".stripMargin

  private val followed = new graft.util.SessionDirCache[String]

  /** q233 — the incremental LSH index maintained AS A RUNNING STREAM
    * ([[graft.streaming.TraceStream.followIndex]], the index-family twin
    * of `followRollup`): a fresh store lives through append → append →
    * DELETE WHERE → compact → append, and between every mutation a
    * `Trigger.AvailableNow` catch-up run (each one a RESTART from the
    * shared checkpoint, under `maxFilesPerTrigger` chunking) folds the
    * feed's signed bucket deltas into the segmented on-disk index. The
    * graded read is the maintained index itself; the oracle REBUILDS the
    * index from scratch over the final state with the same cross-engine
    * hash algebra — so index-after-stream must equal
    * rebuild-from-scratch exactly: a sign error, a replayed batch
    * double-count, a missed retraction, a chunk-split compaction pair
    * that fails to net out, or any bucket-key divergence fails the hash
    * gate. The post-compact append pins that maintenance doesn't wedge
    * the follower.
    *
    * Scale: each catch-up costs one map-only signature pass over the
    * CHANGES plus a merge against index cardinality — the rebuild that
    * would re-shingle the corpus never runs (q231 proves the algebra in
    * batch; this proves the operational, checkpointed form). */
  /** The shared index-maintenance lifecycle (append → append → DELETE
    * WHERE → compact → append, a chunked catch-up restart between every
    * mutation): runs `follow(session, store, index, checkpoint)` as the
    * catch-up and returns the maintained index path. */
  private def indexLifecycle(sess: SparkSession, d: String, tag: String)
      (follow: (SparkSession, String, String, String) => Unit): String = {
    val store = graft.util.TmpDirs.scratch(s"graft-cdc-$tag-store")
    val index = graft.util.TmpDirs.scratch(s"graft-cdc-$tag-index")
    val ck = graft.util.TmpDirs.scratch(s"graft-cdc-$tag-ck")
    val ev = graft.tables.Tables.events(sess, d)
    val batch = pmod(col("event_id"), lit(3L))
    def drain(): Unit = follow(sess, store, index, ck)
    TraceStore.append(asTrace(ev.filter(batch === 0)), store, splitsPerMonth = 2)
    drain() // chunked bootstrap: A as inserts
    TraceStore.append(asTrace(ev.filter(batch === 1)), store, splitsPerMonth = 2)
    drain() // B's bucket rows add
    TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
    drain() // erased rows retract their buckets
    TraceStore.compact(sess, store, maxFilesPerMonth = 1, splitsPerMonth = 2)
    drain() // rewrite: cancelling pairs net out (possibly across chunks)
    TraceStore.append(asTrace(ev.filter(batch === 2)), store, splitsPerMonth = 2)
    drain() // post-compact append: the follower keeps following
    index
  }

  /** The maintained-index fixture shared by q233 (full-index gate) and
    * q241 (calibration read): one store lifecycle, one followIndex
    * checkpoint, built once per (session, dir). */
  private def followedIndex(s: SparkSession, dir: String): String =
    followed(s, dir) { (sess, d) =>
      indexLifecycle(sess, d, "fidx") { (se, store, index, ck) =>
        val q = graft.streaming.TraceStream.followIndex(se, store, index, ck,
          maxFilesPerTrigger = Some(2))
        q.awaitTermination()
      }
    }

  /** q233 — the incremental LSH index maintained AS A RUNNING STREAM
    * ([[graft.streaming.TraceStream.followIndex]], the index-family twin
    * of `followRollup`): the [[followedIndex]] lifecycle's maintained
    * index read whole, which must equal the oracle's rebuild-from-
    * scratch exactly — a sign error, a replayed-batch double-count, a
    * missed retraction, a chunk-split compaction pair that fails to net
    * out, or any bucket-key divergence fails the hash gate. */
  def q233FollowIndex(s: SparkSession, dir: String): DataFrame =
    graft.streaming.TraceStream.readIndex(s, followedIndex(s, dir))
      .orderBy(col("band"), col("bkey"))

  /** Rebuild-from-scratch over the final state: batches 0,1 minus their
    * erased rows (the DELETE WHERE ran before batch 2 landed), plus all
    * of batch 2 — same packed-band algebra as q231's oracle. */
  val q233Sql: String = {
    import graft.functions.TextHash.{tokvalSql, minhashTermSql}
    s"""WITH rows_ AS (
       |  SELECT event_id,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id AS key
       |  FROM events
       |  WHERE (event_id % 3 IN (0, 1) AND event_type <> 'error')
       |     OR event_id % 3 = 2
       |), tri AS (
       |  SELECT DISTINCT event_id,
       |    unnest(list_transform(range(1, length(key) - 1),
       |                          i -> substr(key, i::INT, 3))) AS g
       |  FROM rows_ WHERE length(key) >= 3
       |), tv AS (
       |  SELECT event_id, ${tokvalSql("g")} AS tv FROM tri
       |), sig AS (
       |  SELECT event_id, h, min(${minhashTermSql("tv", "h")}) AS mh
       |  FROM tv CROSS JOIN (SELECT h FROM range(4) t(h)) GROUP BY 1, 2
       |), packed AS (
       |  SELECT event_id,
       |    (min(CASE WHEN h = 0 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 1 THEN mh END)) AS b0,
       |    (min(CASE WHEN h = 2 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 3 THEN mh END)) AS b1
       |  FROM sig GROUP BY 1
       |), buckets AS (
       |  SELECT 0 AS band, b0 AS bkey FROM packed
       |  UNION ALL
       |  SELECT 1, b1 FROM packed
       |)
       |SELECT band, bkey, count(*)::BIGINT AS n
       |FROM buckets GROUP BY 1, 2 ORDER BY band, bkey""".stripMargin
  }

  /** q234 — the batch feed consumed through a PARTITION predicate: the
    * q230 read with `WHERE ym = <first month>`, which the relation turns
    * into metadata-level pruning of the changed-file WORKLIST
    * ([[CdcBatchRelation]] → the month-filtered
    * [[TraceStore.readChangesBetween]]) — non-matching months are
    * dropped before any file is scheduled or opened, so a month-scoped
    * consumer of a table-scale rewrite pays O(that month's changes), the
    * `PARTITION BY toYYYYMM` promise
    * (/root/reference/trace-converter.py:23) carried through to the CDC
    * surface. The filter month is derived from the data (the events
    * table's earliest month), so the same query grades at every SF; the
    * oracle applies the identical month restriction to the raw-events
    * change algebra — a pruned-away month that should have matched, or a
    * kept month's rows lost to the prune, fails the hash gate
    * (`CdcBatchSpec` pins the files-never-opened half with a poisoned
    * non-matching month). */
  def q234PrunedChanges(s: SparkSession, dir: String): DataFrame = {
    val (path, snap, end) = batchPinned(s, dir) { (sess, d) =>
      val (p, sn) = buildStore(sess, d)
      (p, sn, TraceStore.snapshot(p))
    }
    val ym0 = graft.tables.Tables.events(s, dir)
      .agg(date_format(min(col("ts").cast("timestamp")), "yyyyMM").as("m"))
      .collect()(0).getString(0)
    s.read.format("graft-cdc")
      .option("path", path)
      .option("startingSnapshot", snap)
      .option("endingSnapshot", end)
      .load()
      .filter(col("ym") === ym0)
      .groupBy(col("_change").as("change"), col("Machine"))
      .agg(count(lit(1)).as("n"), sum(col("Severity")).as("sum_sev"))
      .orderBy(col("change"), col("Machine"))
  }

  val q234Sql: String =
    """WITH m AS (SELECT strftime(min(ts), '%Y%m') AS ym FROM events)
      |SELECT chg AS change, Machine, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM (
      |  SELECT 'insert' AS chg, 'm' || (user_id % 8) AS Machine, event_id, ts
      |  FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT 'delete', 'm' || (user_id % 8), event_id, ts
      |  FROM events WHERE event_id % 3 = 0 AND event_type = 'error'
      |) f, m
      |WHERE strftime(f.ts, '%Y%m') = m.ym
      |GROUP BY 1, 2 ORDER BY change, Machine""".stripMargin

  private val multied = new graft.util.SessionDirCache[(String, String, String)]

  /** q235 — the FLEET feed: two stores (the reference's one-table-per-
    * cluster shape, README.md:55-62) followed through ONE checkpoint via
    * `option("paths", "a,b")` ([[graft.sources.CdcMultiSource]]): per-
    * store pins ride one composite offset, each trigger advances one
    * store round-robin, and every row carries its origin as `_store`.
    * The fixture bootstraps both stores (initial loads interleave as
    * separate batches), then erases `error` rows from store A ONLY and
    * drains again — so the gate pins per-store attribution (store B must
    * see NO deletes), the signed algebra per store, and that one store's
    * maintenance never leaks into the other's feed. Every drain is a
    * restart from the shared checkpoint — composite-offset replay is on
    * the graded path.
    *
    * Scale: one checkpoint for N stores costs what N single streams
    * cost (per-store file-set-pruned diffs, one advancing per trigger)
    * minus N−1 offset logs to operate. */
  def q235MultiStore(s: SparkSession, dir: String): DataFrame = {
    val (outDir, pa, pb) = multied(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-multi-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-multi-b")
      val out = graft.util.TmpDirs.scratch("graft-cdc-multi-out")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-multi-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val half = pmod(col("event_id"), lit(2L))
      val sink: (DataFrame, Long) => Unit = (bdf, bid) => {
        bdf.write.mode("overwrite").parquet(s"$out/batch=$bid")
        ()
      }
      def drainOnce(): Unit = {
        val q = sess.readStream.format("graft-cdc")
          .option("paths", s"$a,$b").option("initialLoad", "true")
          .load()
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(sink)
          .start()
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(half === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(half === 1)), b, splitsPerMonth = 2)
      drainOnce() // both initial loads, separate batches, tagged
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      drainOnce() // A's deletes only; B idle
      (out, a, b)
    }
    s.read.parquet(outDir)
      .withColumn("store",
        when(col("_store") === pa, lit("a")).otherwise(lit("b")))
      .groupBy(col("store"), col("_change").as("change"), col("Machine"))
      .agg(count(lit(1)).as("n"), sum(col("Severity").cast("long")).as("sum_sev"))
      .orderBy(col("store"), col("change"), col("Machine"))
  }

  val q235Sql: String =
    """SELECT store, chg AS change, Machine, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sum_sev
      |FROM (
      |  SELECT 'a' AS store, 'insert' AS chg, 'm' || (user_id % 8) AS Machine, event_id
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT 'b', 'insert', 'm' || (user_id % 8), event_id
      |  FROM events WHERE event_id % 2 = 1
      |  UNION ALL
      |  SELECT 'a', 'delete', 'm' || (user_id % 8), event_id
      |  FROM events WHERE event_id % 2 = 0 AND event_type = 'error'
      |)
      |GROUP BY 1, 2, 3 ORDER BY store, change, Machine""".stripMargin

  private val fleetRolled = new graft.util.SessionDirCache[String]

  /** q237 — the FLEET rollup: `followRollup` over TWO stores through
    * one checkpoint (fleet `Stores`, composing the multi-store source
    * with the segment-store rollup upsert). The fixture bootstraps
    * both stores, erases `error` rows from store A only, compacts
    * store B (must contribute nothing), then appends to B — draining
    * between every mutation, each drain a restart. The graded read is
    * the maintained (ym, Type) rollup itself; the oracle recomputes it
    * from the raw events under the same membership algebra, so a signed
    * error in either store's feed, cross-store leakage of A's
    * maintenance, or a double-counted replay fails the hash gate.
    * Scale: the union rollup of N stores costs N single feeds' changes
    * + one O(delta) segment per batch — never a cross-store
    * shuffle of table data. */
  def q237FleetRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = fleetRolled(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-fleetroll-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-fleetroll-b")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-fleetroll-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-fleetroll-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val half = pmod(col("event_id"), lit(2L))
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.followRollup(
          sess, Stores(Seq(a, b), fleet = true), rp, ck, maxFilesPerTrigger = Some(4))
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(half === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(half === 1)), b, splitsPerMonth = 2)
      drain() // both bootstraps, chunked, one store per batch
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      drain() // A's negative increments; B untouched
      TraceStore.compact(sess, b, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain() // B's rewrite nets to zero
      TraceStore.append(asTrace(ev.filter(half === 1)
        .withColumn("event_id", col("event_id") + lit(2000000000L))), b,
        splitsPerMonth = 2)
      drain() // post-maintenance growth on the OTHER store
      rp
    }
    graft.streaming.TraceStream.readRollup(s, roll)
      .orderBy(col("ym"), col("Type"))
  }

  // membership: A = even ids minus errors; B = odd ids (twice: the raw
  // odd batch + the id-shifted re-append; Severity/ym/Type are
  // id-shift-invariant mod 1e9 because the shift is 2e9)
  val q237Sql: String =
    """SELECT strftime(ts, '%Y%m') AS ym, event_type AS Type,
      |  count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM (
      |  SELECT ts, event_type, event_id FROM events
      |  WHERE event_id % 2 = 0 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT ts, event_type, event_id FROM events WHERE event_id % 2 = 1
      |  UNION ALL
      |  SELECT ts, event_type, event_id FROM events WHERE event_id % 2 = 1
      |)
      |GROUP BY 1, 2 ORDER BY ym, Type""".stripMargin

  private val monthScopedRoll = new graft.util.SessionDirCache[String]

  /** q238 — a MONTH-SCOPED rollup maintained as a stream: `followRollup`
    * with the `months` option, which carries q234's partition-level
    * worklist pruning from the batch relation into the `graft-cdc`
    * STREAM itself ([[graft.sources.CdcSource]] month-filters every
    * worklist — bootstrap slices, diff slices, whole diffs — before any
    * file is scheduled or opened). The fixture spreads the single-month
    * events calendar across three months (batch b's rows shift +b
    * months, the retention-shaped calendar a real store has), scopes the
    * maintainer to the LAST TWO, then runs a DELETE WHERE that rewrites
    * every month — the out-of-scope month's rewrite must cross the
    * stream as pruned worklist entries (and its physical files as
    * never-opened; `CdcStreamSpec` pins that half with the poisoned-
    * month trick). The graded read is the maintained rollup; the oracle
    * recomputes the scoped months from raw events, so a pruned-away
    * in-scope change, a leaked out-of-scope group, or a signed error
    * fails the hash gate.
    *
    * Scale: a month-scoped consumer of a 100 TB store's table-scale
    * rewrite pays O(that month's changes) in metadata AND I/O — the
    * reference's `PARTITION BY toYYYYMM` promise
    * (/root/reference/trace-converter.py:23) reaching the streaming
    * surface. */
  def q238MonthScopedRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = monthScopedRoll(s, dir) { (sess, d) =>
      val store = graft.util.TmpDirs.scratch("graft-cdc-mroll-store")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-mroll-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-mroll-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      // spread the calendar: batch b's rows live b months later (the
      // driver's events table is single-month at every SF)
      def traceAt(b: Int): DataFrame =
        asTrace(ev.filter(batch === b))
          .withColumn("Time", col("Time") + expr(s"INTERVAL $b MONTH"))
      val ym1 = ev.agg(date_format(
        add_months(min(col("ts").cast("timestamp")), 1), "yyyyMM").as("m"))
        .collect()(0).getString(0)
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.followRollup(sess, store, rp, ck,
          maxFilesPerTrigger = Some(4), months = Some(s">=$ym1"))
        q.awaitTermination()
      }
      TraceStore.append(traceAt(0), store, splitsPerMonth = 2)
      TraceStore.append(traceAt(1), store, splitsPerMonth = 2)
      TraceStore.append(traceAt(2), store, splitsPerMonth = 2)
      drain() // scoped bootstrap: month 0's files pruned from the manifest
      // a table-scale rewrite touching EVERY month — the scoped stream
      // pays only the in-scope months' changes
      TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
      drain()
      TraceStore.compact(sess, store, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain() // in-scope compaction cancels; out-of-scope never scheduled
      rp
    }
    graft.streaming.TraceStream.readRollup(s, roll)
      .orderBy(col("ym"), col("Type"))
  }

  // the scoped months' final state: batches 1,2 (shifted +1/+2 months)
  // minus their erased rows; batch 0 (month 0) is out of scope entirely.
  // DuckDB and Spark both clamp month arithmetic to month end, so the
  // shifted ym values agree engine-to-engine.
  val q238Sql: String =
    """SELECT ym, Type, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM (
      |  SELECT strftime(ts + INTERVAL 1 MONTH, '%Y%m') AS ym,
      |    event_type AS Type, event_id
      |  FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
      |  UNION ALL
      |  SELECT strftime(ts + INTERVAL 2 MONTH, '%Y%m'), event_type, event_id
      |  FROM events WHERE event_id % 3 = 2 AND event_type <> 'error'
      |)
      |GROUP BY 1, 2 ORDER BY ym, Type""".stripMargin

  private val fleetIndexed = new graft.util.SessionDirCache[(String, String, String)]

  /** q239 — the FLEET near-dup index: `followIndex` over two stores
    * through one checkpoint, keys = (_store, band, bkey) so per-store
    * ATTRIBUTION rides the shared index. The fixture bootstraps both
    * stores (chunked, interleaved batches), erases `error` rows from
    * store A only, compacts store B (must contribute nothing), then
    * appends id-shifted rows to B — draining between every mutation,
    * each drain a restart through the composite offset. The graded read
    * is the maintained index; the oracle rebuilds BOTH stores' censuses
    * from raw events with the cross-engine hash algebra, so A's DELETE
    * WHERE retracting anything of B's, a double-counted composite-offset
    * replay, or any bucket divergence fails the hash gate.
    *
    * Scale: N stores' indexes in one maintained table at the cost of N
    * single feeds' changes; the segment algebra is per-key, so store
    * interleavings compose exactly like chunk slices. */
  def q239FleetIndex(s: SparkSession, dir: String): DataFrame = {
    val (idx, pa, pb) = fleetIndexed(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-fleetidx-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-fleetidx-b")
      val ix = graft.util.TmpDirs.scratch("graft-cdc-fleetidx-idx")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-fleetidx-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val half = pmod(col("event_id"), lit(2L))
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.followIndex(
          sess, Stores(Seq(a, b), fleet = true), ix, ck, maxFilesPerTrigger = Some(4))
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(half === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(half === 1)), b, splitsPerMonth = 2)
      drain() // both chunked bootstraps, one store per batch
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      drain() // A's retractions — B's identical-content buckets untouched
      TraceStore.compact(sess, b, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain() // B's rewrite nets to zero
      TraceStore.append(asTrace(ev.filter(half === 1)
        .withColumn("event_id", col("event_id") + lit(2000000000L))), b,
        splitsPerMonth = 2)
      drain() // post-maintenance growth on the other store
      (ix, a, b)
    }
    graft.streaming.TraceStream
      .readIndex(s, idx, keys = Seq("_store", "band", "bkey"))
      .withColumn("store", when(col("_store") === pa, lit("a")).otherwise(lit("b")))
      .select(col("store"), col("band"), col("bkey"), col("n"))
      .orderBy(col("store"), col("band"), col("bkey"))
  }

  /** Per-store rebuild: A = even ids minus errors; B = odd ids plus the
    * id-shifted re-append (the shift changes the ID string, so the
    * shifted rows hash to their own buckets — the oracle recomputes
    * them with the shifted id in the key). */
  val q239Sql: String = {
    import graft.functions.TextHash.{tokvalSql, minhashTermSql}
    s"""WITH rows_ AS (
       |  SELECT 'a' AS store, event_id AS eid,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id AS key
       |  FROM events WHERE event_id % 2 = 0 AND event_type <> 'error'
       |  UNION ALL
       |  SELECT 'b', event_id,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id
       |  FROM events WHERE event_id % 2 = 1
       |  UNION ALL
       |  SELECT 'b', event_id + 2000000000,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || (event_id + 2000000000)
       |  FROM events WHERE event_id % 2 = 1
       |), tri AS (
       |  SELECT DISTINCT store, eid,
       |    unnest(list_transform(range(1, length(key) - 1),
       |                          i -> substr(key, i::INT, 3))) AS g
       |  FROM rows_ WHERE length(key) >= 3
       |), tv AS (
       |  SELECT store, eid, ${tokvalSql("g")} AS tv FROM tri
       |), sig AS (
       |  SELECT store, eid, h, min(${minhashTermSql("tv", "h")}) AS mh
       |  FROM tv CROSS JOIN (SELECT h FROM range(4) t(h)) GROUP BY 1, 2, 3
       |), packed AS (
       |  SELECT store, eid,
       |    (min(CASE WHEN h = 0 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 1 THEN mh END)) AS b0,
       |    (min(CASE WHEN h = 2 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 3 THEN mh END)) AS b1
       |  FROM sig GROUP BY 1, 2
       |), buckets AS (
       |  SELECT store, 0 AS band, b0 AS bkey FROM packed
       |  UNION ALL
       |  SELECT store, 1, b1 FROM packed
       |)
       |SELECT store, band, bkey, count(*)::BIGINT AS n
       |FROM buckets GROUP BY 1, 2, 3 ORDER BY store, band, bkey""".stripMargin
  }

  private val slotRolled = new graft.util.SessionDirCache[String]

  /** q240 — SUB-SECOND windows maintained through the CDC feed: the
    * reference's sub-second TODO (README.md:219-225) closed end to end.
    * q236 gates the micros ingest + `DateTime64(6)` DDL; here a store
    * whose `Time` carries genuine microsecond precision (the events
    * table's native ts precision — the micros-mode store shape) drives
    * [[graft.streaming.TraceStream.followSlotRollup]]: a 250 ms
    * tumbling-slot aggregate kept current by signed increments across
    * append → append → DELETE WHERE → compact, every drain a restart.
    * The slot key is `unix_micros(Time) div 250000` — integer division
    * on microsecond epochs, exact in both engines, so a §1.4-style
    * truncation anywhere in the store/CDC path (which would collapse
    * sub-second slots) fails the hash gate, as does any signed error.
    *
    * Scale: the slot key space is time-span-proportional (active slots
    * ∝ data time span / 250 ms); like every maintained table it is a
    * segment store — O(delta) appends plus cadenced base folds
    * (`compactOver = 3` here so the lifecycle exercises the fold path),
    * read back merge-on-read. */
  def q240SlotRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = slotRolled(s, dir) { (sess, d) =>
      val store = graft.util.TmpDirs.scratch("graft-cdc-slot-store")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-slot-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-slot-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.followSlotRollup(sess, store, rp, ck,
          slotMicros = 250000L, maxFilesPerTrigger = Some(4), compactOver = 3)
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(batch === 0)), store, splitsPerMonth = 2)
      drain() // bootstrap at sub-second resolution
      TraceStore.append(asTrace(ev.filter(batch === 1)), store, splitsPerMonth = 2)
      drain()
      TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
      drain() // negative increments retract their slots exactly
      TraceStore.compact(sess, store, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain() // rewrite nets to zero at micros resolution too
      rp
    }
    graft.streaming.TraceStream.readSlotRollup(s, roll)
      .select(col("slot"), col("Type"), col("n"), col("sev_sum"))
      .orderBy(col("slot"), col("Type"))
  }

  val q240Sql: String =
    """SELECT epoch_us(ts) // 250000 AS slot, event_type AS Type,
      |  count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM events
      |WHERE event_id % 3 IN (0, 1) AND event_type <> 'error'
      |GROUP BY 1, 2 ORDER BY slot, Type""".stripMargin

  /** q241 — the maintained index read the way a dedup PLANNER reads it:
    * per band, how many buckets exist, how many are hot (n ≥ 2 — the
    * only ones a q26-style candidate join touches), and the exact
    * candidate-pair budget Σ n·(n−1)/2 the join would generate. This is
    * the operational point of keeping the census as a STREAMED artifact
    * ([[graft.streaming.TraceStream.followIndex]]): the planner answers
    * "can I afford the candidate join / do the bands need re-
    * calibrating?" from the maintained table — cost O(index) — instead
    * of re-shingling the corpus (q200 computes the same calibration
    * from scratch; here it must come out of the stream-maintained
    * index). Integer arithmetic throughout, so the oracle (DuckDB's
    * rebuild census, aggregated the same way) hash-gates every count:
    * a stale index, a leaked retraction, or a replay double-count
    * shifts a bucket size and fails. */
  def q241IndexCalibration(s: SparkSession, dir: String): DataFrame =
    graft.streaming.TraceStream.readIndex(s, followedIndex(s, dir))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("buckets"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("hot_buckets"),
        sum(expr("n * (n - 1) div 2")).as("cand_pairs"))
      .orderBy(col("band"))

  /** The rebuild census (q233's oracle), aggregated per band. */
  val q241Sql: String =
    s"""SELECT band, count(*) AS buckets,
       |  sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::BIGINT AS hot_buckets,
       |  sum(n * (n - 1) // 2)::BIGINT AS cand_pairs
       |FROM (
       |$q233Sql
       |)
       |GROUP BY 1 ORDER BY band""".stripMargin

  private val fleetMonthRolled = new graft.util.SessionDirCache[String]

  /** q242 — the MONTHS × FLEET composition gated end to end: a fleet
    * rollup (`followRollup` over two fleet `Stores`, one checkpoint)
    * scoped to the last two months of a spread calendar, while store
    * A's DELETE WHERE rewrites every month (in- and out-of-scope) and
    * store B compacts. Each child source month-prunes its own
    * worklists; the composite offset carries both scoped positions; the
    * months spec is pinned once for the shared checkpoint. The oracle
    * recomputes the scoped union membership (B keeps its `error` rows —
    * only A was erased), so cross-store leakage, an over-/under-pruned
    * month, or a signed error in either child fails the hash gate.
    * Per-row month spread (`event_id % 3` months) puts all three
    * months in EVERY append, so each store's rewrite genuinely crosses
    * the scope boundary. */
  def q242FleetMonthRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = fleetMonthRolled(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-fmr-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-fmr-b")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-fmr-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-fmr-ck")
      val ev = graft.tables.Tables.events(sess, d)
        .withColumn("ts", expr("timestampadd(MONTH, CAST(event_id % 3 AS INT), ts)"))
      val ym1 = graft.tables.Tables.events(sess, d)
        .agg(date_format(add_months(min(col("ts").cast("timestamp")), 1), "yyyyMM"))
        .collect()(0).getString(0)
      val half = pmod(col("event_id"), lit(2L))
      def drain(): Unit = {
        val q = graft.streaming.TraceStream.followRollup(sess, Stores(Seq(a, b), fleet = true),
          rp, ck, maxFilesPerTrigger = Some(4), months = Some(s">=$ym1"))
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(half === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(half === 1)), b, splitsPerMonth = 2)
      drain() // both bootstraps, each month-pruned at the child
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      drain() // A's scoped retractions; its out-of-scope rewrite pruned
      TraceStore.compact(sess, b, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain() // B's rewrite nets to zero within the scope
      rp
    }
    graft.streaming.TraceStream.readRollup(s, roll)
      .orderBy(col("ym"), col("Type"))
  }

  /** Scoped union membership: even ids (store A) minus A's erased
    * `error` rows, plus ALL odd ids (store B untouched by the erase),
    * restricted to the last two spread months. */
  val q242Sql: String =
    """WITH m AS (
      |  SELECT strftime(min(ts) + INTERVAL 1 MONTH, '%Y%m') AS ym1 FROM events
      |)
      |SELECT strftime(ts + (event_id % 3) * INTERVAL 1 MONTH, '%Y%m') AS ym,
      |  event_type AS Type, count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM events, m
      |WHERE (event_id % 2 = 1 OR event_type <> 'error')
      |  AND strftime(ts + (event_id % 3) * INTERVAL 1 MONTH, '%Y%m') >= m.ym1
      |GROUP BY 1, 2 ORDER BY ym, Type""".stripMargin

  private val fleetGrown = new graft.util.SessionDirCache[String]

  /** q243 — fleet MEMBERSHIP EVOLUTION gated end to end: a two-store
    * fleet rollup bootstraps under one checkpoint, then the fleet GROWS
    * (store C appended at the end of the pinned path list —
    * [[graft.sources.CdcMultiSource]]'s one supported reshape) while
    * store A simultaneously retracts its `error` rows. The newcomer
    * bootstraps through the feed under the same admission budget, the
    * existing stores' positional pins are untouched (they deliver ONLY
    * their new changes — a disturbed pin would re-deliver or skip and
    * fail the hash), and a later round proves the grown checkpoint
    * keeps running: C's own DELETE WHERE retracts through its new pin
    * while B compacts to a no-op. The oracle recomputes the final
    * three-store union membership, so any misattributed pin,
    * double-bootstrap, or lost retraction shifts a count. */
  def q243FleetGrowth(s: SparkSession, dir: String): DataFrame = {
    val roll = fleetGrown(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-fg-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-fg-b")
      val c = graft.util.TmpDirs.scratch("graft-cdc-fg-c")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-fg-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-fg-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val third = pmod(col("event_id"), lit(3L))
      def drain(paths: Seq[String]): Unit = {
        val q = graft.streaming.TraceStream.followRollup(
          sess, Stores(paths, fleet = true), rp, ck, maxFilesPerTrigger = Some(4))
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(third === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(third === 1)), b, splitsPerMonth = 2)
      drain(Seq(a, b)) // the original two-store fleet bootstraps
      TraceStore.append(asTrace(ev.filter(third === 2)), c, splitsPerMonth = 2)
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      drain(Seq(a, b, c)) // GROWN: C bootstraps while A retracts via its old pin
      TraceStore.deleteWhere(sess, c, col("Type") === "click", splitsPerMonth = 2)
      TraceStore.compact(sess, b, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain(Seq(a, b, c)) // the newcomer's own maintenance rides its pin
      rp
    }
    graft.streaming.TraceStream.readRollup(s, roll)
      .orderBy(col("ym"), col("Type"))
  }

  /** Final membership: A = ids≡0 (mod 3) minus its erased `error` rows,
    * B = ids≡1 untouched (its compaction nets to zero), C = ids≡2 minus
    * its erased `click` rows. */
  val q243Sql: String =
    """SELECT strftime(ts, '%Y%m') AS ym, event_type AS Type,
      |  count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM events
      |WHERE (event_id % 3 = 0 AND event_type <> 'error')
      |   OR event_id % 3 = 1
      |   OR (event_id % 3 = 2 AND event_type <> 'click')
      |GROUP BY 1, 2 ORDER BY ym, Type""".stripMargin

  private val memberFollowed = new graft.util.SessionDirCache[String]

  /** The maintained MEMBERSHIP index ([[graft.streaming.TraceStream
    * .followMemberIndex]]) over the same store lifecycle as
    * [[followedIndex]], built once per (session, dir). */
  private def memberIndexed(s: SparkSession, dir: String): String =
    memberFollowed(s, dir) { (sess, d) =>
      indexLifecycle(sess, d, "midx") { (se, store, index, ck) =>
        val q = graft.streaming.TraceStream.followMemberIndex(se, store, index, ck,
          maxFilesPerTrigger = Some(2))
        q.awaitTermination()
      }
    }

  /** The trigram set of a key string — the exact-verify side of the
    * LSH recipe, computable from the pair's OWN strings (no corpus
    * access; the same shingles [[bucketRows]] signs). */
  private def triSet(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = array_distinct(
    transform(sequence(lit(1), length(c) - 2),
      i => substring(c, i, lit(3))))

  /** q244 — the candidate-pair loop CLOSED from the maintained index:
    * q231/q233 keep the census current, q241 reads it as a planner
    * (how many pairs would the join cost?); here the pairs themselves
    * generate FROM the stream-maintained membership table
    * ([[graft.streaming.TraceStream.indexCandidatePairs]]): hot buckets
    * (n ≥ 2 — the exact set q241 counts) gate a bucket-confined
    * self-join, then the exact verify (trigram-set intersection /
    * union, integer-exact) runs over the candidate pairs' own key
    * strings. The corpus is NEVER re-shingled: the store lifecycle's
    * changes were signed into the membership as they happened, and pair
    * generation costs O(index + candidates) — the planner's q241
    * `cand_pairs` number, known in advance. Degenerate buckets (> 32
    * members — signatures that stopped discriminating, whose pairs
    * dominate cost and verify to non-dups) are skipped by the
    * generator's admission bound, and the oracle applies the IDENTICAL
    * bound, so the gate also pins that the cap sees the maintained
    * bucket sizes exactly.
    *
    * The oracle rebuilds the same pairs from scratch in DuckDB (the
    * cross-engine minhash algebra of q233's oracle extended to
    * membership, self-join, and list-ops verify), so a stale index
    * entry, a leaked retraction, a missed bucket, or any verify
    * divergence changes the pair set and fails the hash gate. */
  def q244IndexCandidates(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.streaming.TraceStream
      .indexCandidatePairs(s, memberIndexed(s, dir))
    pairs
      .withColumn("ta", triSet(col("doc_a")))
      .withColumn("tb", triSet(col("doc_b")))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", size(array_union(col("ta"), col("tb"))).cast("long"))
      .filter(col("inter") * 2 >= col("uni")) // exact Jaccard ≥ 0.5, integer form
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** From-scratch candidate pairs + exact verify over the final state —
    * q233's oracle algebra extended to membership and pairs. */
  val q244Sql: String = {
    import graft.functions.TextHash.{tokvalSql, minhashTermSql}
    s"""WITH rows_ AS (
       |  SELECT event_id,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id AS key
       |  FROM events
       |  WHERE (event_id % 3 IN (0, 1) AND event_type <> 'error')
       |     OR event_id % 3 = 2
       |), tri AS (
       |  SELECT DISTINCT event_id,
       |    unnest(list_transform(range(1, length(key) - 1),
       |                          i -> substr(key, i::INT, 3))) AS g
       |  FROM rows_ WHERE length(key) >= 3
       |), tv AS (
       |  SELECT event_id, ${tokvalSql("g")} AS tv FROM tri
       |), sig AS (
       |  SELECT event_id, h, min(${minhashTermSql("tv", "h")}) AS mh
       |  FROM tv CROSS JOIN (SELECT h FROM range(4) t(h)) GROUP BY 1, 2
       |), packed AS (
       |  SELECT event_id,
       |    (min(CASE WHEN h = 0 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 1 THEN mh END)) AS b0,
       |    (min(CASE WHEN h = 2 THEN mh END) * 2147483647
       |       + min(CASE WHEN h = 3 THEN mh END)) AS b1
       |  FROM sig GROUP BY 1
       |), members AS (
       |  SELECT r.key, 0 AS band, p.b0 AS bkey
       |  FROM packed p JOIN rows_ r USING (event_id)
       |  UNION ALL
       |  SELECT r.key, 1, p.b1 FROM packed p JOIN rows_ r USING (event_id)
       |), admitted AS (
       |  SELECT band, bkey FROM members
       |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 32
       |), pairs AS (
       |  SELECT DISTINCT a.key AS doc_a, b.key AS doc_b
       |  FROM members a
       |  JOIN admitted s ON a.band = s.band AND a.bkey = s.bkey
       |  JOIN members b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.key < b.key
       |), tris AS (
       |  SELECT key, list_distinct(list_transform(range(1, length(key) - 1),
       |                            i -> substr(key, i::INT, 3))) AS ts
       |  FROM (SELECT DISTINCT key FROM rows_)
       |)
       |SELECT p.doc_a, p.doc_b,
       |  len(list_intersect(ta.ts, tb.ts))::BIGINT AS inter,
       |  len(list_distinct(list_concat(ta.ts, tb.ts)))::BIGINT AS uni
       |FROM pairs p
       |JOIN tris ta ON ta.key = p.doc_a
       |JOIN tris tb ON tb.key = p.doc_b
       |WHERE 2 * len(list_intersect(ta.ts, tb.ts)) >=
       |      len(list_distinct(list_concat(ta.ts, tb.ts)))
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val recalibrated = new graft.util.SessionDirCache[String]

  /** q245 — the calibration loop CLOSED: q241 reads the maintained
    * census as a planner ("the bands are mis-calibrated — too many
    * mega-buckets"); here the system ACTS on that signal. The store
    * lives through its first two appends under the default 2×2 banding,
    * then recalibrates: seed a NEW index at the 4×1 banding (higher
    * recall — each minhash its own band) in one batch job that pins the
    * store, and keep FOLLOWING at the new parameters while the store
    * keeps changing (DELETE WHERE + a post-recalibration append ride
    * the new index from the seed's pin). The band configuration
    * is pinned per index (`_bands`), so the old and new keys can never
    * silently mix. The oracle rebuilds the 4-band census from scratch
    * over the final state — a mixed-banding key, a seed/follow scope
    * mismatch, or any signed error fails the hash gate. */
  def q245Recalibration(s: SparkSession, dir: String): DataFrame = {
    val idx = recalibrated(s, dir) { (sess, d) =>
      val store = graft.util.TmpDirs.scratch("graft-cdc-recal-store")
      val newIdx = graft.util.TmpDirs.scratch("graft-cdc-recal-idx")
      val newCk = graft.util.TmpDirs.scratch("graft-cdc-recal-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val batch = pmod(col("event_id"), lit(3L))
      TraceStore.append(asTrace(ev.filter(batch === 0)), store, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(batch === 1)), store, splitsPerMonth = 2)
      // recalibration decision point (q241's read): pin + seed at 4 bands
      val seeded = graft.streaming.TraceStream.seedIndex(sess, store, newIdx, bands = 4)
      // the store keeps changing AFTER the recalibration pin
      TraceStore.deleteWhere(sess, store, col("Type") === "error", splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(batch === 2)), store, splitsPerMonth = 2)
      val q = graft.streaming.TraceStream.followIndex(sess, seeded, newIdx, newCk,
        maxFilesPerTrigger = Some(2), bands = 4)
      q.awaitTermination()
      newIdx
    }
    graft.streaming.TraceStream.readIndex(s, idx)
      .orderBy(col("band"), col("bkey"))
  }

  /** The 4×1-band census rebuilt from scratch over the final state —
    * q233's oracle algebra with each minhash its own band. */
  val q245Sql: String = {
    import graft.functions.TextHash.{tokvalSql, minhashTermSql}
    s"""WITH rows_ AS (
       |  SELECT event_id,
       |    'm' || (user_id % 8) || '/' || event_type || '/' || event_id AS key
       |  FROM events
       |  WHERE (event_id % 3 IN (0, 1) AND event_type <> 'error')
       |     OR event_id % 3 = 2
       |), tri AS (
       |  SELECT DISTINCT event_id,
       |    unnest(list_transform(range(1, length(key) - 1),
       |                          i -> substr(key, i::INT, 3))) AS g
       |  FROM rows_ WHERE length(key) >= 3
       |), tv AS (
       |  SELECT event_id, ${tokvalSql("g")} AS tv FROM tri
       |), sig AS (
       |  SELECT event_id, h, min(${minhashTermSql("tv", "h")}) AS mh
       |  FROM tv CROSS JOIN (SELECT h FROM range(4) t(h)) GROUP BY 1, 2
       |)
       |SELECT h::INT AS band, mh::BIGINT AS bkey, count(*)::BIGINT AS n
       |FROM sig GROUP BY 1, 2 ORDER BY band, bkey""".stripMargin
  }

  private val fleetSlotRolled = new graft.util.SessionDirCache[String]

  /** q246 — the FLEET × SUB-SECOND composition, across a MEMBERSHIP
    * change: two micros-time stores bootstrap a shared 250 ms slot
    * rollup under one checkpoint
    * ([[graft.streaming.TraceStream.followSlotRollup]] over fleet
    * `Stores` — the slot form of the fleet rollup, storage in the
    * segment family so every trickle batch stays O(delta) at fleet
    * scale too), then the fleet GROWS (store C appended) while store A
    * retracts its `error` rows and store B's compaction rewrites at
    * micros resolution (a slot
    * collapse anywhere — §1.4 truncation, a disturbed pin, a signed
    * error in any child — shifts a 250 ms slot and fails the hash).
    * The oracle recomputes the final three-store union slot aggregate. */
  def q246FleetSlotRollup(s: SparkSession, dir: String): DataFrame = {
    val roll = fleetSlotRolled(s, dir) { (sess, d) =>
      val a = graft.util.TmpDirs.scratch("graft-cdc-fsr-a")
      val b = graft.util.TmpDirs.scratch("graft-cdc-fsr-b")
      val c = graft.util.TmpDirs.scratch("graft-cdc-fsr-c")
      val rp = graft.util.TmpDirs.scratch("graft-cdc-fsr-roll")
      val ck = graft.util.TmpDirs.scratch("graft-cdc-fsr-ck")
      val ev = graft.tables.Tables.events(sess, d)
      val third = pmod(col("event_id"), lit(3L))
      def drain(paths: Seq[String]): Unit = {
        val q = graft.streaming.TraceStream.followSlotRollup(sess, Stores(paths, fleet = true),
          rp, ck, slotMicros = 250000L, maxFilesPerTrigger = Some(4),
          compactOver = 3)
        q.awaitTermination()
      }
      TraceStore.append(asTrace(ev.filter(third === 0)), a, splitsPerMonth = 2)
      TraceStore.append(asTrace(ev.filter(third === 1)), b, splitsPerMonth = 2)
      drain(Seq(a, b)) // the two-store fleet bootstraps at micros resolution
      TraceStore.append(asTrace(ev.filter(third === 2)), c, splitsPerMonth = 2)
      TraceStore.deleteWhere(sess, a, col("Type") === "error", splitsPerMonth = 2)
      TraceStore.compact(sess, b, maxFilesPerMonth = 1, splitsPerMonth = 2)
      drain(Seq(a, b, c)) // GROWN: C bootstraps, A retracts, B nets to zero
      rp
    }
    graft.streaming.TraceStream.readSlotRollup(s, roll)
      .orderBy(col("slot"), col("Type"))
  }

  /** Final union slot aggregate: A = ids≡0 (mod 3) minus its erased
    * `error` rows; B and the appended C untouched. */
  val q246Sql: String =
    """SELECT epoch_us(ts) // 250000 AS slot, event_type AS Type,
      |  count(*) AS n,
      |  (sum(((event_id % 1000000000) + 1000000000) % 1000000000))::BIGINT AS sev_sum
      |FROM events
      |WHERE (event_id % 3 = 0 AND event_type <> 'error')
      |   OR event_id % 3 IN (1, 2)
      |GROUP BY 1, 2 ORDER BY slot, Type""".stripMargin

  def entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q226_change_feed", q226ChangeFeed _, Some(q226Sql)),
    ("q227_cdc_rollup",  q227CdcRollup _, Some(q227Sql)),
    ("q228_cdc_stream",  q228CdcStream _, Some(q228Sql)),
    ("q229_commit_window", q229CommitWindow _, Some(q229Sql)),
    ("q230_batch_changes", q230BatchChanges _, Some(q230Sql)),
    ("q231_incremental_lsh", q231IncrementalLsh _, Some(q231Sql)),
    ("q232_diff_compose", q232DiffCompose _, Some(q232Sql)),
    ("q233_follow_index", q233FollowIndex _, Some(q233Sql)),
    ("q234_pruned_changes", q234PrunedChanges _, Some(q234Sql)),
    ("q235_multi_store", q235MultiStore _, Some(q235Sql)),
    ("q237_fleet_rollup", q237FleetRollup _, Some(q237Sql)),
    ("q238_month_scoped_rollup", q238MonthScopedRollup _, Some(q238Sql)),
    ("q239_fleet_index", q239FleetIndex _, Some(q239Sql)),
    ("q240_slot_rollup", q240SlotRollup _, Some(q240Sql)),
    ("q241_index_calibration", q241IndexCalibration _, Some(q241Sql)),
    ("q242_fleet_month_rollup", q242FleetMonthRollup _, Some(q242Sql)),
    ("q243_fleet_growth", q243FleetGrowth _, Some(q243Sql)),
    ("q244_index_candidates", q244IndexCandidates _, Some(q244Sql)),
    ("q245_band_recalibration", q245Recalibration _, Some(q245Sql)),
    ("q246_fleet_slot_rollup", q246FleetSlotRollup _, Some(q246Sql)),
  )
}
