package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.{col, unix_millis}
import graft.functions.SeriesKernels

/** How a relation reaches a typed per-series kernel — one definition for
  * every series kernel. Each entry owns the projection, ONE `groupByKey`
  * shuffle on the series key and one stable in-group sort, and hands the
  * kernel the key and its rows in this order:
  *
  *  - [[sorted]] / [[filled]]: (conv_id, bucket_ts, value…) rows by epoch
  *    ms of `bucket_ts`; `filled` hands over one dense gap-filled grid per
  *    value column instead (`impute_linear` semantics,
  *    [[SeriesKernels.imputeLinearInPlace]]);
  *  - [[byTurn]]: turns by (epoch ms of `ts`, turn_idx);
  *  - [[byIndex]]: (key, index, …) rows by their int or long index.
  *
  * The Timestamp↔long conversion ([[ms]]) runs in a codegen'd Catalyst
  * projection outside the closure, so the hot path carries primitive longs
  * (boxing a Timestamp per grid point made encode ~10× slower at 65M
  * points). Ties keep their shuffle arrival order.
  *
  * The dense grid (|timeline| slots, e.g. 43 200 for 30 d of 1m) exists only
  * as a primitive double array inside the kernel; it never hits a shuffle or
  * a row encoder. Group memory is bounded by timeline length (≙ the
  * reference's memory-bounded block planning, R/api_jobs.R:10-81).
  */
object GridSeries {

  /** Epoch milliseconds of a timestamp-castable column. */
  def ms(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** One observation: (conv_id, epoch ms, value; None = missing). */
  type Obs = (String, Long, Option[Double])

  /** Run `kernel` over each conversation's observations, stably sorted by
    * time.
    */
  def sorted[U: Encoder](rel: DataFrame)(
      kernel: (String, Array[Obs]) => Iterator[U]): Dataset[U] = {
    val spark = rel.sparkSession
    import spark.implicits._
    byIndex[String, Obs, U](rel, col("conv_id"), ms(col("bucket_ts")),
      col("value").cast("double"))(kernel)
  }

  /** Run `kernel` once per (conversation, column of `values`), in column
    * order, over its dense gap-filled grid of `step` ms slots: t0 (epoch ms
    * of slot 0) and the filled values, slot i at t0 + i·step (NaN only where
    * the column is missing throughout). ONE shuffle and one sort serve all
    * columns; each is its own double field, so one ships [[sorted]]'s bytes.
    */
  def filled[U: Encoder](rel: DataFrame, values: Seq[String], step: Long)(
      kernel: (String, Int, Long, Array[Double]) => Iterator[U]): Dataset[U] = {
    require(values.nonEmpty, "no value columns")
    rel.select(col("conv_id") +: ms(col("bucket_ts")).as("t") +:
        values.map(v => col(v).cast("double")): _*)
      .groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (conv, it) =>
        val rows = it.toArray
        scala.util.Sorting.stableSort(rows, (a: Row, b: Row) => a.getLong(1) < b.getLong(1))
        Iterator.range(0, values.size).flatMap { vi =>
          val (t0, v) = denseFill(rows, 2 + vi, step)
          kernel(conv, vi, t0, v)
        }
      }
  }

  /** Run `kernel` over each conversation's turns, projected to (conv_id,
    * epoch ms of `ts`, turn_idx, `cols`…) as `R` and stably sorted by
    * (epoch ms, turn_idx).
    */
  def byTurn[R <: Product: Encoder: ClassTag, U: Encoder](rel: DataFrame,
      cols: Column*)(kernel: (String, Array[R]) => Iterator[U]): Dataset[U] = {
    implicit val convKey: Encoder[String] = Encoders.STRING
    inOrder(rel.select(Seq(col("conv_id").cast("string"), ms(col("ts")).as("t"),
        col("turn_idx").cast("int")) ++ cols: _*),
      Ordering.by((r: R) => (r.productElement(1).asInstanceOf[Long],
        r.productElement(2).asInstanceOf[Int])))(kernel)
  }

  /** Run `kernel` over each series of `rel` projected to (`key`, `idx`,
    * `cols`…) as `R`, stably sorted by the int or long index `idx`.
    */
  def byIndex[K: Encoder, R <: Product: Encoder: ClassTag, U: Encoder](
      rel: DataFrame, key: Column, idx: Column, cols: Column*)(
      kernel: (K, Array[R]) => Iterator[U]): Dataset[U] =
    inOrder(rel.select(key +: idx +: cols: _*),
      Ordering.by((r: R) => r.productElement(1).asInstanceOf[Number].longValue))(
      kernel)

  /** Group projected rows on their first field and sort each group by `order`. */
  private def inOrder[K: Encoder, R <: Product: Encoder: ClassTag, U: Encoder](
      rows: DataFrame, order: Ordering[R])(
      kernel: (K, Array[R]) => Iterator[U]): Dataset[U] =
    rows.as[R]
      .groupByKey(r => r.productElement(0).asInstanceOf[K])
      .flatMapGroups((k, it) => kernel(k, it.toArray.sorted(order)))

  /** Dense `step` grid of field `c` from the first to the last of
    * time-sorted (conv_id, epoch ms, values…) `rows`, gap-filled in place.
    * Returns (t0 epoch ms, filled values).
    */
  private def denseFill(rows: Array[Row], c: Int, step: Long): (Long, Array[Double]) = {
    val t0 = rows.head.getLong(1)
    val n = ((rows.last.getLong(1) - t0) / step + 1).toInt
    val vs = Array.fill(n)(Double.NaN)
    rows.foreach { r =>
      vs(((r.getLong(1) - t0) / step).toInt) = if (r.isNullAt(c)) Double.NaN else r.getDouble(c)
    }
    (t0, SeriesKernels.imputeLinearInPlace(vs)) // vs is fresh — mutate, don't clone
  }
}
