package graft

import graft.driver.{DriverQuery, Registry, ShuffleBudget, SinglePartitionAllowed}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-free invariants of the driver-query registry: no query is built
  * and no session is started.
  */
class RegistrySpec extends AnyFunSuite {

  private def stub(name: String) = DriverQuery(name, (_, _) => ???, "SELECT 1")

  test("building the registry rejects a duplicate name and names it") {
    val e = intercept[IllegalArgumentException](
      Registry.index(Seq(stub("ts_a"), stub("ts_b"), stub("ts_a"))))
    assert(e.getMessage.contains("duplicate driver query name: ts_a"))
  }

  test("every query has a non-empty oracle") {
    val missing = Registry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(missing.isEmpty, missing.mkString(", "))
  }

  test("every SinglePartition allowance and shuffle budget carries a reason") {
    val bare = Registry.all.filter(_.plan.exists(_.reason.trim.isEmpty)).map(_.name)
    assert(bare.isEmpty, bare.mkString(", "))
    val plans = Registry.all.flatMap(_.plan)
    assert(plans.count(_.isInstanceOf[SinglePartitionAllowed]) == 45)
    assert(plans.count(_.isInstanceOf[ShuffleBudget]) == 14)
  }

  test("the driver views hold the same 308 queries") {
    assert(Registry.all.size == 308)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == Registry.all.map(_.name).toSet)
  }
}
