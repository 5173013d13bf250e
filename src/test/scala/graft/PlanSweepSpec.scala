package graft

import graft.driver.{Registry, ShuffleBudget, SinglePartitionAllowed}
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide physical-plan sweep: every driver query's executed plan is
  * checked for the two unconditional scale-killers. Unlike PlanSpec's
  * per-query shape guards, this net catches a regression in ANY query —
  * including ones added later without their own guard.
  *
  *  - CartesianProduct is never acceptable: every pair-producing join in the
  *    engine is bucketed (LSH bands, SimHash segments, IVF cells) or
  *    broadcast; a cartesian fallback means a join key was lost.
  *  - Exchange SinglePartition is acceptable ONLY on label/bucket-bounded
  *    final aggregates (one-row totals, m-bounded sketches) — the explicit
  *    allowlist (each query's `SinglePartitionAllowed` plan contract in the
  *    registry); anywhere else it means a full relation is being funneled
  *    through one task.
  *
  * The headline tier-pipeline queries also carry a `ShuffleBudget`: the
  * count of hash-partitioning exchanges in the executed plan, pinned at the
  * current (reviewed) value. At 10^12 turns every extra exchange is a
  * full-data shuffle, so a regression must fail a test, not a bench.
  */
class PlanSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("no query plans a CartesianProduct; SinglePartition only on bounded aggregates") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (p.contains("Exchange SinglePartition") &&
          !Registry.byName(name).plan.exists(_.isInstanceOf[SinglePartitionAllowed]))
        offenders += s"$name: unallowlisted Exchange SinglePartition"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("headline queries stay within their pinned shuffle budgets") {
    val budgets = Registry.all.flatMap(q =>
      q.plan.collect { case ShuffleBudget(cap, _) => q.name -> cap })
    val over = budgets.sortBy(_._1).flatMap { case (name, cap) =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val n = p.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      if (n > cap) Some(s"$name: $n exchanges > budget $cap") else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
