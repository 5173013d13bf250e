package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Rounding.r4

/** Arbitrary ISO-8601 period grids — the reference's most-used regularize
  * knob (`P16D` is the MODIS default), generalizing the fixed Tier ladder:
  *
  *  - period syntax `^P[0-9]+[DMY]$` (/root/reference/R/api_period.R:10-52);
  *  - timeline start snapping: `P..M` → first of month, `P..Y` → Jan 1
  *    (R/api_gdalcubes.R:339-352);
  *  - timeline generation: start, start+P, … while ≤ end, calendar-aware
  *    month/year stepping with end-of-month rollback
  *    (R/api_gdalcubes.R:354-361, lubridate `%m+%` ≙ java.time plusMonths);
  *  - bucket assignment: each timeline point t_i owns `[t_i, t_i+P)` — the
  *    timeline is extended one extra period before `cut(date, breaks)`
  *    (R/api_gdalcubes.R:22-37, R/api_regularize.R:57-73).
  *
  * The bucket column is pure arithmetic (`floor((days|months since
  * origin)/v)*v`), so assignment is a codegen'd expression — no join against
  * a timeline table, no shuffle beyond the rollup's own aggregation.
  */
object PeriodTiers {

  sealed trait PUnit { def name: String }
  case object Day extends PUnit { val name = "day" }
  case object Month extends PUnit { val name = "month" }
  case object Year extends PUnit { val name = "year" }

  final case class Period(value: Int, unit: PUnit) {
    require(value > 0, s"period value must be positive: $value")
    override def toString: String =
      s"P$value${unit match { case Day => "D"; case Month => "M"; case Year => "Y" }}"
  }

  private val Re = "^P([0-9]+)([DMY])$".r

  /** `.period_val` + `.period_unit` (api_period.R:36-52). */
  def parse(s: String): Period = s match {
    case Re(v, "D") => Period(v.toInt, Day)
    case Re(v, "M") => Period(v.toInt, Month)
    case Re(v, "Y") => Period(v.toInt, Year)
    case _ => throw new IllegalArgumentException(
      s"invalid period '$s': must match ^P[0-9]+[DMY]$$ (api_period.R:10-52)")
  }

  /** Timeline-start snapping (api_gdalcubes.R:339-352): month periods snap
    * to the first of the month, year periods to Jan 1; day periods don't
    * snap.
    */
  def snap(start: LocalDate, p: Period): LocalDate = p.unit match {
    case Day => start
    case Month => start.withDayOfMonth(1)
    case Year => start.withDayOfYear(1)
  }

  /** One calendar step (api_gdalcubes.R:354-361). java.time plusMonths
    * rolls back to month end exactly like lubridate `%m+%`
    * (2024-01-31 + P1M = 2024-02-29).
    */
  def step(d: LocalDate, p: Period): LocalDate = p.unit match {
    case Day => d.plusDays(p.value.toLong)
    case Month => d.plusMonths(p.value.toLong)
    case Year => d.plusYears(p.value.toLong)
  }

  /** Reference timeline: snap(start), then step while ≤ end
    * (api_gdalcubes.R:354-361). `start` is the max-min date, `end` the
    * min-max date of [[Regularize.sharedTimeline]]'s rule.
    */
  def timeline(start: LocalDate, end: LocalDate, p: Period): Seq[LocalDate] = {
    require(!start.isAfter(end), s"timeline start $start after end $end")
    val s0 = snap(start, p)
    Iterator.iterate(s0)(step(_, p)).takeWhile(!_.isAfter(end)).toSeq
  }

  /** Bucket-start expression for a timestamp column against an origin
    * (already snapped): day periods by integer day arithmetic, month/year
    * periods by calendar month arithmetic — both pure codegen'd expressions.
    */
  def bucket(ts: Column, origin: LocalDate, p: Period): Column = {
    val o = lit(java.sql.Date.valueOf(origin))
    p.unit match {
      case Day =>
        date_add(o, (floor(datediff(to_date(ts), o) / p.value) * p.value).cast("int"))
          .cast("timestamp")
      case Month | Year =>
        val v = if (p.unit == Year) p.value * 12 else p.value
        // origin is first-of-month/Jan-1, so months_between over
        // month-truncated dates is integral and add_months never rolls back
        val k = months_between(date_trunc("month", ts), o.cast("timestamp"))
        add_months(o, (floor(k / v) * v).cast("int")).cast("timestamp")
    }
  }

  /** `.timeline_match` (api_timeline.R:129-190): break a long data timeline
    * into consecutive non-overlapping model-length windows. Start index:
    * if the data begins before the model's start date, estimate the model's
    * (month, day) in the data's first year and snap to the NEAREST timeline
    * date (first-wins on ties, R which.min); otherwise snap to the nearest
    * date to the model start. Then chop `[i, i+numSamples-1]` index windows
    * while complete. Driver-side metadata helper (timelines are tiny).
    */
  def timelineMatch(tl: Seq[LocalDate], modelStart: LocalDate,
      numSamples: Int): Seq[(LocalDate, LocalDate)] = {
    require(tl.nonEmpty && numSamples > 0)
    val est =
      if (tl.head.isBefore(modelStart)) {
        val lastDay = java.time.YearMonth.of(tl.head.getYear,
          modelStart.getMonthValue).lengthOfMonth
        LocalDate.of(tl.head.getYear, modelStart.getMonthValue,
          math.min(modelStart.getDayOfMonth, lastDay))
      } else modelStart
    var idx = tl.indices.minBy(i => math.abs(
      java.time.temporal.ChronoUnit.DAYS.between(est, tl(i))))
    val out = scala.collection.mutable.ArrayBuffer[(LocalDate, LocalDate)]()
    while (idx + numSamples - 1 < tl.length) {
      out += ((tl(idx), tl(idx + numSamples - 1)))
      idx += numSamples
    }
    require(out.nonEmpty,
      s"timeline (${tl.length} dates) shorter than one model window ($numSamples)")
    out.toSeq
  }

  /** Full period-grid regularize ≙ `sits_regularize` on an arbitrary period:
    * quality-ordered first-valid per `[t_i, t_i+P)` bucket, then
    * densification against the CUBE-WIDE shared timeline — every
    * conversation gets exactly |timeline| output slots, empty buckets
    * materialized as null values (the reference's asserted postcondition,
    * api_regularize.R:90-109: `nrow(assets) == |timeline| × |bands|`).
    *
    * Input must carry (conv_id, ts, turn_idx, quality_rank, value). The
    * timeline is metadata-sized → broadcast cross join builds the grid; the
    * only data-scale shuffles are the firstValid aggregation (map-side
    * combined min_by) and the grid left-join.
    */
  def regularizeP(m: DataFrame, periodStr: String): DataFrame = {
    val p = parse(periodStr)
    val ext = m.groupBy("conv_id")
      .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
      .agg(max("mn").as("start"), min("mx").as("end")).head()
    val tl = timeline(ext.getDate(0).toLocalDate, ext.getDate(1).toLocalDate, p)
    val (lo, hi) = (tl.head, step(tl.last, p))
    val fv = m
      .filter(to_date(col("ts")) >= lit(java.sql.Date.valueOf(lo)) &&
        to_date(col("ts")) < lit(java.sql.Date.valueOf(hi)))
      .groupBy(col("conv_id"), bucket(col("ts"), lo, p).as("bucket_ts"))
      .agg(min_by(col("value"),
        struct(col("quality_rank"), col("ts"), col("turn_idx"))).as("value"))
    val spark = m.sparkSession
    import spark.implicits._
    // SAME cast path as bucket(): DATE literal → timestamp cast (session-TZ
    // midnight), so the densify left-join matches in ANY session timezone —
    // epoch-day arithmetic would pin UTC midnight and miss every bucket in a
    // non-UTC session
    val tlDf = tl.map(java.sql.Date.valueOf).toDF("bucket_d")
      .select(col("bucket_d").cast("timestamp").as("bucket_ts"))
    m.select("conv_id").distinct()
      .crossJoin(broadcast(tlDf))
      .join(fv, Seq("conv_id", "bucket_ts"), "left")
      .select(col("conv_id"), col("bucket_ts"), col("value"))
  }

  /** Period rollup over an irregular metric relation, following the full
    * regularize timeline rule (§2.3): shared extent = [max-min, min-max]
    * dates across conversations, snapped origin, timeline points own
    * `[t_i, t_i+P)`, observations outside `[t_1, t_last+P)` are dropped
    * (cut() semantics). Two scalar aggregation jobs (extent), then a single
    * partial-aggregated groupBy — no extra shuffle at any scale.
    */
  def rollupPeriod(metrics: DataFrame, periodStr: String,
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val p = parse(periodStr)
    val ext = metrics.groupBy("conv_id")
      .agg(min(to_date(col(tsCol))).as("mn"), max(to_date(col(tsCol))).as("mx"))
      .agg(max("mn").as("start"), min("mx").as("end")).head()
    val (start, end) = (ext.getDate(0).toLocalDate, ext.getDate(1).toLocalDate)
    val tl = timeline(start, end, p)
    val (lo, hi) = (tl.head, step(tl.last, p))
    metrics
      .filter(to_date(col(tsCol)) >= lit(java.sql.Date.valueOf(lo)) &&
        to_date(col(tsCol)) < lit(java.sql.Date.valueOf(hi)))
      .groupBy(col("conv_id"), bucket(col(tsCol), lo, p).as("bucket_ts"))
      .agg(count(col(valueCol)).as("n"),
        r4(sum(col(valueCol))).as("sum_v"),
        r4(avg(col(valueCol))).as("mean_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }
}
