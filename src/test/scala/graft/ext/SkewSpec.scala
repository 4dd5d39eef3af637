package graft.ext

import graft.SparkSpec
import graft.tables.Tables

/** The salted join must be value-equivalent to the plain join. */
class SkewSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("saltedJoin equals plain join") {
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "c_name").orderBy("o_orderkey")
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", 4, "o_orderkey")
      .select("o_orderkey", "c_name").orderBy("o_orderkey")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }
}
