package graft.tools

/** Calibration-gated cross-round bench comparison — the tool that makes
  * the DRIFT notes' discipline mechanical instead of manual.
  *
  * Every `graft.Bench` artifact brackets its timed passes with a
  * fixed-work calibration probe (`calib_before`/`calib_after`, an 80M-row
  * hash aggregate with zero data dependence). This machine has measured
  * ±67 % cross-epoch drift with zero code change (bench/DRIFT_r7.md) and
  * a 2.2× speed-up WITHIN one artifact (bench/DRIFT_r8.md: calib
  * 0.405→0.183) — so raw per-query ratios between two artifacts are
  * uninterpretable unless the calibration readings prove the epochs
  * comparable. The fields existed since round 8; this consumes them:
  *
  *  - REFUSES comparison when either artifact lacks calibration, when
  *    the probe drifted more than `maxDivergence`× WITHIN either run
  *    (non-stationary epoch — no single normalization constant exists),
  *    or when the two runs' mean calibrations diverge more than
  *    `maxDivergence`× (different machine regimes);
  *  - otherwise emits per-query ratios both RAW and CALIB-NORMALIZED
  *    (each side's seconds divided by its epoch's mean calibration), so
  *    a DRIFT table shows how much of a "regression" is host drift.
  *
  * Pure functions end to end (spec-testable); the main renders the
  * markdown a DRIFT note embeds. Usage:
  *   runMain graft.tools.BenchCompare <current.json> <reference.json> [topN]
  */
object BenchCompare {

  final case class Artifact(queries: Map[String, Double],
                            calibBefore: Option[Double],
                            calibAfter: Option[Double],
                            sf: String)

  final case class Row(name: String, curS: Double, refS: Double,
                       raw: Double, norm: Double)

  final case class Report(calibCur: Double, calibRef: Double,
                          rows: Seq[Row],
                          medianRaw: Double, medianNorm: Double,
                          totalCur: Double, totalRef: Double) {
    /** epoch speed ratio current/reference — the normalization constant */
    def epochRatio: Double = calibCur / calibRef
  }

  /** Parse one bench artifact line (target/bench.json shape). Jackson
    * ships with Spark; only the fields this tool consumes are read. */
  def parse(json: String): Artifact = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(json)
    val qs = Option(root.get("queries")).map { qn =>
      val it = qn.properties().iterator()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble }
      b.result()
    }.getOrElse(Map.empty)
    def num(f: String): Option[Double] =
      Option(root.get(f)).filter(_.isNumber).map(_.asDouble)
    Artifact(qs, num("calib_before"), num("calib_after"),
      Option(root.get("sf")).map(_.asText).getOrElse(""))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The gate + the normalized comparison. Failed queries (negative
    * seconds) are excluded from ratios on either side. */
  def compare(cur: Artifact, ref: Artifact,
              maxDivergence: Double = 2.0): Either[String, Report] = {
    def calibOf(a: Artifact, tag: String): Either[String, Double] =
      (a.calibBefore, a.calibAfter) match {
        case (Some(b), Some(f)) =>
          val drift = math.max(b, f) / math.min(b, f)
          if (drift > maxDivergence)
            Left(f"refused: calibration drifted $drift%.2f× WITHIN the $tag artifact " +
              f"($b%.3f→$f%.3f s) — the epoch is not stationary; re-run on a quiet machine")
          else Right((b + f) / 2)
        case _ =>
          Left(s"refused: the $tag artifact carries no calibration fields — " +
            "re-run its Bench (round 8+) or compare by hand with explicit caveats")
      }
    for {
      cc <- calibOf(cur, "current")
      cr <- calibOf(ref, "reference")
      _ <- {
        val cross = math.max(cc, cr) / math.min(cc, cr)
        if (cross > maxDivergence)
          Left(f"refused: calibration diverges $cross%.2f× between artifacts " +
            f"($cc%.3f vs $cr%.3f s mean) — different machine regimes; " +
            "re-run both in one session, alternating (bench/DRIFT_r7.md)")
        else Right(())
      }
    } yield {
      val common = (cur.queries.keySet & ref.queries.keySet).toSeq.sorted
        .filter(n => cur.queries(n) >= 0 && ref.queries(n) >= 0)
      val rows = common.map { n =>
        val (c, r) = (cur.queries(n), ref.queries(n))
        Row(n, c, r, c / r, (c / cc) / (r / cr))
      }
      Report(cc, cr, rows,
        median(rows.map(_.raw)), median(rows.map(_.norm)),
        rows.map(_.curS).sum, rows.map(_.refS).sum)
    }
  }

  /** DRIFT-note markdown: headline + the topN largest normalized moves. */
  def markdown(r: Report, topN: Int = 12): String = {
    val head =
      f"""calib current ${r.calibCur}%.3f s, reference ${r.calibRef}%.3f s (epoch ratio ${r.epochRatio}%.2f×)
         |common queries ${r.rows.size}: total ${r.totalCur}%.1f s vs ${r.totalRef}%.1f s (raw ${r.totalCur / r.totalRef}%.2f×), median raw ${r.medianRaw}%.2f×, median NORMALIZED ${r.medianNorm}%.2f×
         |
         || query | cur s | ref s | raw× | norm× |
         ||---|---|---|---|---|""".stripMargin
    val top = r.rows.sortBy(row => -math.abs(math.log(row.norm))).take(topN)
      .map(row => f"| ${row.name} | ${row.curS}%.2f | ${row.refS}%.2f | ${row.raw}%.2f | ${row.norm}%.2f |")
    (head +: top).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchCompare <current.json> <reference.json> [topN]")
    def read(p: String) = parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8))
    compare(read(args(0)), read(args(1))) match {
      case Left(reason) => System.err.println(s"[benchcmp] $reason"); sys.exit(1)
      case Right(r) => println(markdown(r,
        args.lift(2).flatMap(_.toIntOption).getOrElse(12)))
    }
  }
}
