package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{array, col, unix_millis}
import graft.functions.SeriesKernels

/** How a relation reaches a typed per-series kernel — one definition for
  * every series kernel. Each entry owns the projection, ONE `groupByKey`
  * shuffle on the series key and one stable in-group sort, and hands the
  * kernel the key and its rows in this order:
  *
  *  - [[sorted]] / [[filled]] / [[filledBands]]: (conv_id, bucket_ts, value)
  *    grids by epoch ms of `bucket_ts`; `filled`/`filledBands` add the
  *    dense gap-filled grid (`impute_linear` semantics,
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
    rel.select(col("conv_id"), ms(col("bucket_ts")).as("t"),
        col("value").cast("double").as("v"))
      .as[Obs]
      .groupByKey(_._1)
      .flatMapGroups((conv, it) => kernel(conv, sortByTime(it.toArray)))
  }

  /** Run `kernel` over each conversation's dense gap-filled grid of `step`
    * ms slots: it gets t0 (epoch ms of slot 0) and the filled values, slot i
    * at t0 + i·step (NaN only where the whole series is missing).
    */
  def filled[U: Encoder](rel: DataFrame, step: Long)(
      kernel: (String, Long, Array[Double]) => Iterator[U]): Dataset[U] =
    sorted(rel) { (conv, obs) =>
      val (t0, v) = denseFill(obs, step)
      kernel(conv, t0, v)
    }

  /** [[filled]] for every band of a multi-metric relation (conv_id,
    * bucket_ts, one value column per metric) in ONE group pass — the raw
    * observations are shuffled once for all bands. `kernel` runs once per
    * (conversation, band index), in band order.
    */
  def filledBands[U: Encoder](rel: DataFrame, metrics: Seq[String], step: Long)(
      kernel: (String, Int, Long, Array[Double]) => Iterator[U]): Dataset[U] = {
    require(metrics.nonEmpty, "no metric columns")
    val spark = rel.sparkSession
    import spark.implicits._
    val nBands = metrics.size
    rel.select(col("conv_id"), ms(col("bucket_ts")).as("t"),
        array(metrics.map(m => col(m).cast("double")): _*).as("vs"))
      .as[(String, Long, Seq[Option[Double]])]
      .groupByKey(_._1)
      .flatMapGroups { (conv, it) =>
        val rows = it.toArray
        Iterator.range(0, nBands).flatMap { mi =>
          val (t0, v) = denseFill(sortByTime(rows.map(r => (r._1, r._2, r._3(mi)))), step)
          kernel(conv, mi, t0, v)
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

  private def sortByTime(obs: Array[Obs]): Array[Obs] = {
    scala.util.Sorting.stableSort(obs, (a: Obs, b: Obs) => a._2 < b._2)
    obs
  }

  /** Dense `step` grid from the first to the last of time-sorted `obs`,
    * gap-filled in place. Returns (t0 epoch ms, filled values).
    */
  private def denseFill(obs: Array[Obs], step: Long): (Long, Array[Double]) = {
    val t0 = obs.head._2
    val n = ((obs.last._2 - t0) / step + 1).toInt
    val vs = Array.fill(n)(Double.NaN)
    obs.foreach { o => vs(((o._2 - t0) / step).toInt) = o._3.getOrElse(Double.NaN) }
    (t0, SeriesKernels.imputeLinearInPlace(vs)) // vs is fresh — mutate, don't clone
  }
}
