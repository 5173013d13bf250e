package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{array, col, unix_millis}
import graft.functions.SeriesKernels

/** How a (conv_id, bucket_ts, value) relation reaches a typed
  * per-conversation kernel — one definition for every series kernel:
  *
  *  - the projection to (conv_id, epoch ms, `Option[Double]`): the hot path
  *    carries primitive longs, the Timestamp↔long conversion runs in a
  *    codegen'd Catalyst projection outside the closure (boxing a Timestamp
  *    per grid point made encode ~10× slower at 65M points);
  *  - ONE `groupByKey` shuffle on conv_id;
  *  - the stable time sort of the conversation's observations;
  *  - for [[filled]]/[[filledBands]], the dense gap-filled grid
  *    (`impute_linear` semantics, [[SeriesKernels.imputeLinearInPlace]]).
  *
  * The dense grid (|timeline| slots, e.g. 43 200 for 30 d of 1m) exists only
  * as a primitive double array inside the kernel; it never hits a shuffle or
  * a row encoder. Group memory is bounded by timeline length (≙ the
  * reference's memory-bounded block planning, R/api_jobs.R:10-81).
  */
object GridSeries {

  /** One observation: (conv_id, epoch ms, value; None = missing). */
  type Obs = (String, Long, Option[Double])

  /** Run `kernel` over each conversation's observations, stably sorted by
    * time.
    */
  def sorted[U: Encoder](rel: DataFrame)(
      kernel: (String, Array[Obs]) => Iterator[U]): Dataset[U] = {
    val spark = rel.sparkSession
    import spark.implicits._
    rel.select(col("conv_id"), unix_millis(col("bucket_ts")).as("t"),
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
    rel.select(col("conv_id"), unix_millis(col("bucket_ts")).as("t"),
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
