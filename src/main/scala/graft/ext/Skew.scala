package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffled equi-joins (builder prompt: "salting for
  * skew"; complements AQE's runtime skew-join splitting with a static
  * technique).
  *
  * A hot key (one machine emitting most trace events, one user owning most
  * events) funnels its entire partition through one task. Salting spreads
  * the hot key across `saltFactor` tasks: the probe side gets a
  * deterministic salt derived from a discriminator column; the build side
  * is replicated once per salt value. Join semantics are unchanged
  * (verified value-equal to the plain join in SkewSpec).
  */
object Skew {

  /** Left (large, possibly skewed) ⋈ right (smaller, unique join keys).
    * `disc` is any left-side column whose values spread within the hot key
    * (e.g. the event id). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int, disc: String): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(xxhash64(col(disc)), lit(saltFactor.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
