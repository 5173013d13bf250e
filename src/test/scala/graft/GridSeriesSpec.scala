package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GridSeries

/** The row order [[GridSeries.byTurn]] hands its kernels. */
class GridSeriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("byTurn: turns sharing a ts reach the kernel in turn_idx order") {
    import spark.implicits._
    val t0 = new java.sql.Timestamp(1735689600000L)
    val t1 = new java.sql.Timestamp(1735689660000L)
    // one input partition, arriving latest turn first and the two turns
    // at t0 in reverse turn_idx order: a time-only stable sort gives 1, 0, 2
    val turns = Seq(("c1", 2, t1), ("c1", 1, t0), ("c1", 0, t0))
      .toDF("conv_id", "turn_idx", "ts").coalesce(1)
    val seen = GridSeries.byTurn(turns) {
      (conv, rows: Array[(String, Long, Int)]) =>
        Iterator.single((conv, rows.map(_._3).toSeq))
    }.collect()
    assert(seen.toSeq == Seq(("c1", Seq(0, 1, 2))))
  }
}
