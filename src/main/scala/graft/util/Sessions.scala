package graft.util

import org.apache.spark.sql.SparkSession

/** The query suite's session, and session derivation.
  *
  * Derivation is the repo's standard fix for "this code needs a
  * SESSION-scoped knob but must not flip it on the caller's session":
  * a `newSession()` shares the SparkContext (and the cached data /
  * executors) but owns an isolated SQLConf and optimizer-rule list, so
  * confs set or rules installed on it are invisible to concurrent work
  * on the original session. Used by the events reader (timestamp
  * normalization confs), q120 (range-band width), and q153 (MV-routing
  * enablement). */
object Sessions {
  /** The local session `graft.Bench` times and `graft.Verify` checks the
    * query suite on: `local[N]` with N from `SPARK_GRAFT_CPUS` (else
    * `defaultCpus`), as many shuffle partitions so every stage uses the
    * whole machine without tiny-task overhead, the UTC session zone, no
    * UI, and AQE on unless `SPARK_GRAFT_AQE` says otherwise (measured on
    * this suite, AQE's skew-join and coalescing pay for their
    * re-planning even at bench scale). */
  def suite(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A derived session carrying the caller's MODIFIABLE runtime confs
    * (newSession starts from SparkConf defaults — the session zone and
    * shuffle-partition settings must carry over or derived plans resolve
    * timestamps/partitioning differently than the caller's would). */
  def derived(s: SparkSession): SparkSession = {
    val c = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      if (c.conf.isModifiable(k)) c.conf.set(k, v)
    }
    c
  }
}
