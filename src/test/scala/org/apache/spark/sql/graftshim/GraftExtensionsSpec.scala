package org.apache.spark.sql.graftshim

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` installs exactly the SQL functions
  * `GraftFunctions.sqlFunctions` lists. Extensions apply when a session
  * is built, so the suite reads the injected functions back from the
  * extensions object into a fresh registry; that read is package-private
  * to Spark's sql package, hence this suite's package. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("every listed SQL function resolves through GraftExtensions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val reg = ext.registerFunctions(new SimpleFunctionRegistry)
    val names = GraftFunctions.sqlFunctions.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate SQL names: $names")
    assert(reg.listFunction().map(_.funcName).sorted == names.sorted)
    GraftFunctions.sqlFunctions.foreach { case (name, cls, _) =>
      val id = FunctionIdentifier(name)
      assert(reg.lookupFunction(id).map(_.getClassName).contains(cls.getName), name)
      assert(cls.isInstance(reg.lookupFunction(id, Seq.fill(2)(Literal(null)))), name)
    }
  }
}
