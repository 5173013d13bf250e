package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier-dispatch range aggregation — the query-side completion of the
  * continuous-aggregate store (TimescaleDB's real-time aggregate
  * generalized from 2 levels to the full raw/1h/1d ladder; the reference's
  * analog is answering a timeline slice from the coarsest regular cube
  * that covers it, /root/reference/R/api_timeline.R): an arbitrary
  * half-open range [from, to) splits into
  *
  *   raw_head   [from, ceil_hour(from))           raw rows
  *   hour_head  [ceil_hour(from), ceil_day(...))  1h tier states
  *   day_core   [ceil_day, floor_day(to))         1d tier states
  *   hour_tail  [floor_day(to), floor_hour(to))   1h tier states
  *   raw_tail   [floor_hour(to), to)              raw rows
  *
  * and the total is the ALGEBRAIC merge of the five region states — the
  * coarsest available tier serves every interior bucket, raw is touched
  * only for the ≤2h of sub-hour edges (a partition-pruned sliver at any
  * scale). Here the 1h states derive from one range-filtered raw scan and
  * the 1d states CASCADE from the 1h relation (never a second raw pass),
  * mirroring how `TierPipeline.runAll` builds the stored tiers; a
  * production reader points the two tier relations at
  * `TierPipeline.readTierExact` output instead and keeps only the edge
  * scans on raw.
  *
  * Output: one row per non-empty region plus a `total` row,
  * (region, buckets_read, n_turns, sum_v, min_v, max_v) — buckets_read is
  * tier states touched (raw regions report rows; total sums them), every
  * column an exact integer, and the oracle recomputes EVERY region —
  * including the total — directly from raw, so the hash equality IS the
  * dispatch==direct-recompute proof.
  */
object TierDispatch {

  private val HourMs = 3600000L
  private val DayMs = 86400000L

  def rangeAggregate(metrics: DataFrame, fromMs: Long, toMs: Long,
      valueCol: String = "text_len"): DataFrame = {
    val hCeil0 = ((fromMs + HourMs - 1) / HourMs) * HourMs
    val hFloor1 = (toMs / HourMs) * HourMs
    val dCeil0 = ((hCeil0 + DayMs - 1) / DayMs) * DayMs
    val dFloor1 = (hFloor1 / DayMs) * DayMs
    require(fromMs <= toMs, "from <= to")
    require(hCeil0 <= hFloor1 && dCeil0 <= dFloor1,
      "range must span at least one full hour and one full day " +
        "(narrower ranges are a plain raw scan, not a dispatch)")

    // SQL text, not GridSeries.ms: the hour key below needs `DIV`, which has
    // no Column operator, and the range filter reads the same text
    val ms = expr("unix_millis(cast(ts AS timestamp))")
    val v = col(valueCol).cast("long")

    // one raw scan builds every 1h state the range needs
    val h1 = metrics
      .filter(ms >= hCeil0 && ms < hFloor1)
      .groupBy(expr(s"unix_millis(cast(ts AS timestamp)) DIV $HourMs")
        .as("hb"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"),
        min(v).as("mn"), max(v).as("mx"))
    val hbMs = col("hb") * HourMs
    // 1d states cascade from the 1h relation (bounded, never raw)
    val d1 = h1.filter(hbMs >= dCeil0 && hbMs < dFloor1)
      .groupBy(expr(s"(hb * $HourMs) DIV $DayMs").as("db"))
      .agg(sum("n").as("n"), sum("s").as("s"),
        min("mn").as("mn"), max("mx").as("mx"))

    def rawRegion(name: String, lo: Long, hi: Long) =
      metrics.filter(ms >= lo && ms < hi)
        .agg(count(lit(1)).as("buckets_read"), count(lit(1)).as("n_turns"),
          sum(v).as("sum_v"), min(v).as("min_v"), max(v).as("max_v"))
        .select(lit(name).as("region"), col("buckets_read"), col("n_turns"),
          col("sum_v"), col("min_v"), col("max_v"))
    def tierRegion(name: String, st: DataFrame) =
      st.agg(count(lit(1)).as("buckets_read"), sum("n").as("n_turns"),
        sum("s").as("sum_v"), min("mn").as("min_v"), max("mx").as("max_v"))
        .select(lit(name).as("region"), col("buckets_read"), col("n_turns"),
          col("sum_v"), col("min_v"), col("max_v"))

    val regions =
      rawRegion("1_raw_head", fromMs, hCeil0)
        .unionByName(tierRegion("2_hour_head",
          h1.filter(hbMs >= hCeil0 && hbMs < dCeil0)))
        .unionByName(tierRegion("3_day_core", d1))
        .unionByName(tierRegion("4_hour_tail",
          h1.filter(hbMs >= dFloor1 && hbMs < hFloor1)))
        .unionByName(rawRegion("5_raw_tail", hFloor1, toMs))
        .filter(col("n_turns") > 0)
    val total = regions
      .agg(sum("buckets_read").as("buckets_read"),
        sum("n_turns").as("n_turns"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))
      .select(lit("6_total").as("region"), col("buckets_read"),
        col("n_turns"), col("sum_v"), col("min_v"), col("max_v"))
    regions.unionByName(total)
  }
}
