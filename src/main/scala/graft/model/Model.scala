package graft.model

import java.sql.Timestamp

/** Input row — exactly the `input_hint` schema of BASELINE.json:
  * transcripts(conv_id, turn_idx, role, text, tool, ts).
  * Maps to the reference's per-pixel series sample
  * (/root/reference/R/api_tibble.R:20-32): conv_id ≙ pixel location,
  * ts ≙ acquisition date, derived metrics ≙ bands.
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // null ≙ no tool call; quality signal (≙ sits cloud cover)
    ts: Timestamp)

/** One point of a regularized per-conversation metric grid (post
  * temporal-resampling, possibly null before gap-fill) — the analog of one
  * pixel×date cell of a regular cube (/root/reference/R/api_regularize.R:90-109:
  * empty buckets are materialized).
  */
case class GridPoint(conv_id: String, bucket_ts: Timestamp, value: java.lang.Double)

/** Algebraic rollup state carried between retention tiers (raw→1m→1h→1d).
  * Holds only decomposable moments so a higher tier re-aggregates exactly
  * from a lower tier without touching raw data (continuous-aggregate
  * cascade; the reference recomputes from raw instead —
  * /root/reference/R/sits_reduce.R:96-203 — cascading is our scale path).
  */
case class TierPoint(
    conv_id: String,
    bucket_ts: Timestamp,
    tier: String,
    n: Long,
    sum_v: Double,
    sum2_v: Double, // Σv² — enables stddev across tiers
    min_v: Double,
    max_v: Double)

/** One cell of the ≤64-bucket power-of-two value histogram carried inside
  * tier state: `hb` = floor(log2 v) from the integer bit length (−1 for
  * v ≤ 0), `cnt` = values in [2^hb, 2^(hb+1)). Mergeable across any
  * partitioning and across tiers by summing counts per `hb`, so
  * median/p90/p99 upper bounds stay answerable at 1h/1d/1mo AFTER the
  * raw/1m tiers are expired (closes the SURVEY §7.4 retention contract
  * hole: exact holistic quantiles need the finest retained tier, but the
  * ≤1-bucket-error histogram survives every expiry).
  */
case class HistCell(hb: Int, cnt: Long)

/** Byte-packed compressed chunk of one conversation×tier series:
  * delta-of-delta timestamps + Gorilla-XOR values (stored as binary columns;
  * ≙ the reference's int16+LZW packed COG blocks,
  * /root/reference/inst/extdata/config_internals.yml:261-273).
  */
case class ChunkStruct(
    conv_id: String,
    tier: String,
    start_ts: Timestamp,
    n: Int,
    codec: String, // "gorilla+dod"
    ts_payload: Array[Byte],
    value_payload: Array[Byte])

/** One line of a tier's lineage manifest; the resume loop diffs
  * wanted×produced against these exactly like the reference's
  * missing-tiles re-derivation. Field order is the line's field order;
  * [[graft.runtime.Manifest]] documents the format and the fields.
  */
case class ManifestEntry(
    jobId: String,
    tier: String,
    bucket: Int,
    snapshotId: Long,
    path: String,
    window: String,
    minTs: Option[Long] = None,
    maxTs: Option[Long] = None,
    rowsIn: Option[Long] = None,
    rowsOut: Option[Long] = None,
    wallMs: Option[Long] = None,
    cutoffMs: Option[Long] = None,
    supersededBy: Option[Long] = None,
    status: String)

/** Retention tier ≙ the reference's ISO-8601 period (P1M/P16D…,
  * /root/reference/R/api_period.R:10-52), restricted to our tier ladder.
  */
sealed abstract class Tier(val name: String, val unit: String, val millis: Long)
    extends Serializable
object Tier {
  case object M1 extends Tier("1m", "minute", 60L * 1000)
  case object H1 extends Tier("1h", "hour", 3600L * 1000)
  case object D1 extends Tier("1d", "day", 86400L * 1000)
  /** Calendar month — variable width: usable as a cascade/rollup target
    * (date_trunc) but NOT as a fixed-step grid tier (millis = 0 sentinel).
    * ≙ the reference's P1M period with month snapping (api_gdalcubes.R:339-352).
    */
  case object Mo1 extends Tier("1mo", "month", 0L)
  val all: Seq[Tier] = Seq(M1, H1, D1, Mo1)
  def of(name: String): Tier = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown tier $name"))
}
