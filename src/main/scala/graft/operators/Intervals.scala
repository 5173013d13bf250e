package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GridSeries.ms

/** Interval analytics over the sessionize ledger — the two temporal-join
  * shapes a relational engine needs beyond bucket equality:
  *
  *  - [[intervalJoin]]: point-in-interval join (event ts ∈ [session start,
  *    session end]). Spark has no native range-join operator; the scalable
  *    plan is the CO-PARTITIONED one — equi-join on the series key with the
  *    range predicate as a residual join condition, so it stays a plain
  *    hash/sort-merge join on conv_id (one shuffle each side, no
  *    BroadcastNestedLoop/cartesian, proven by the plan sweep). Intervals
  *    of one conversation are disjoint by sessionize's construction, so the
  *    join is 1:≤1 per event and never amplifies.
  *  - [[concurrency]]: interval-overlap counting (how many sessions are
  *    active per wall-clock bucket) — the classic sweep is a GLOBAL ordered
  *    scan (the one-task killer); instead each interval EXPLODES into the
  *    ≤ dur/bucket buckets it covers (`sequence()`, bounded by the session
  *    gap threshold) and a partial-agg count per bucket does the rest:
  *    map-side combine, one shuffle keyed by time bucket, no global sort.
  *    This mirrors how the reference counts per-interval coverage by
  *    expanding file_info date ranges onto its timeline grid
  *    (/root/reference/R/api_timeline.R:64-90) rather than sweeping.
  *
  * All-integer outputs — hash-exact cross-engine by construction.
  */
object Intervals {

  /** Join tool-invocation events to the gap-threshold session each falls
    * inside, and ledger tool usage per session: (conv_id, sess_idx,
    * n_turns, dur_ms, n_tool_events, n_tools, first_tool). Sessions with
    * no tool activity are kept with zero counts (left join).
    */
  def intervalJoin(transcripts: DataFrame, gapMs: Long): DataFrame = {
    val sessions = SeriesOps.sessionize(transcripts, gapMs)
    val events = transcripts
      .filter(col("tool").isNotNull)
      .select(col("conv_id").as("e_conv"), ms(col("ts")).as("e_ms"),
        col("turn_idx").as("e_idx"), col("tool"))
    val joined = sessions.join(events,
      sessions("conv_id") === col("e_conv") &&
        col("e_ms") >= col("start_ms") && col("e_ms") <= col("end_ms"),
      "left")
    joined
      .groupBy(sessions("conv_id"), col("sess_idx"), col("n_turns"),
        col("dur_ms"))
      .agg(count(col("tool")).as("n_tool_events"),
        countDistinct(col("tool")).as("n_tools"),
        // earliest event by (ms, turn_idx); min-struct keeps it one agg
        min(when(col("tool").isNotNull,
          struct(col("e_ms"), col("e_idx"), col("tool"))))
          .getField("tool").as("first_tool"))
  }

  /** Active-session concurrency curve: per time bucket, how many sessions
    * overlap it, how many start and end in it. Output (bucket_ts, active,
    * started, ended); buckets nobody touches are absent (a dense grid is a
    * trivial left join onto a sequence, not worth a second shuffle here).
    */
  def concurrency(transcripts: DataFrame, gapMs: Long,
      bucket: String = "hour"): DataFrame = {
    val ivl = bucket match {
      case "hour"   => expr("INTERVAL 1 HOUR")
      case "day"    => expr("INTERVAL 1 DAY")
      case "minute" => expr("INTERVAL 1 MINUTE")
      case other    => throw new IllegalArgumentException(s"bucket $other")
    }
    SeriesOps.sessionize(transcripts, gapMs)
      .select(
        date_trunc(bucket, timestamp_millis(col("start_ms"))).as("b0"),
        date_trunc(bucket, timestamp_millis(col("end_ms"))).as("b1"))
      .select(explode(sequence(col("b0"), col("b1"), ivl)).as("bucket_ts"),
        col("b0"), col("b1"))
      .groupBy("bucket_ts")
      .agg(count(lit(1)).as("active"),
        sum(when(col("bucket_ts") === col("b0"), 1L).otherwise(0L)).as("started"),
        sum(when(col("bucket_ts") === col("b1"), 1L).otherwise(0L)).as("ended"))
  }
}
