package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{Tier, Turn}
import graft.operators.Regularize

/** Streaming analog of the batch tier cascade (SURVEY.md §2.11-streaming):
  * the reference is strictly batch; its incremental contract is
  * "new assets → re-derive affected buckets" (api_gdalcubes.R:713-768).
  * On Spark that is Structured Streaming with event-time windows:
  *
  *  - [[incremental1m]]: watermarked tumbling-window aggregation producing
  *    the same quality-ordered first-valid 1m points as
  *    [[graft.operators.Regularize.firstValid]] — late turns inside the
  *    watermark update their bucket; beyond it the bucket is final
  *    (the batch path instead re-derives, which stays the recovery story).
  *  - [[convState]]: per-conversation running state via
  *    flatMapGroupsWithState (the reference's cumulative scans, e.g. bayts,
  *    map to exactly this primitive in streaming form).
  *
  * State size: one row per open (conv, minute) window ≤ watermark horizon —
  * bounded; conv skew is absorbed by partial aggregation exactly like the
  * batch path.
  */
object StreamingRollup {

  /** The windowed first-valid aggregate over an already-watermarked
    * [[Regularize.withMetrics]] stream (a stream carries ONE watermark —
    * chained stateful stages must not redefine it).
    */
  private def rollup1mAgg(watermarked: DataFrame): DataFrame =
    watermarked
      .groupBy(col("conv_id"), window(col("ts"), "1 minute"))
      .agg(Regularize.firstValidOf("text_len").as("value"),
        count(lit(1)).as("n_turns"))
      .select(col("conv_id"), col("window.start").as("bucket_ts"),
        col("value"), col("n_turns"))

  /** Quality-ordered first-valid 1m points over a stream of turns.
    * Append-mode compatible (watermark closes windows).
    */
  def incremental1m(turns: DataFrame, watermark: String = "10 minutes"): DataFrame =
    rollup1mAgg(Regularize.withMetrics(turns).withWatermark("ts", watermark))

  /** Continuous ingest into the tier/retention store: the append stream of
    * watermark-FINALIZED 1m buckets ([[incremental1m]] over [[dedupTurns]])
    * is committed per micro-batch through
    * [[graft.runtime.TierPipeline.runTier]] with the micro-batch id as the
    * ingest window tag. foreachBatch is at-least-once; the manifest's
    * (window, bucket) resume diff makes the sink idempotent — a redelivered
    * micro-batch finds its buckets committed and no-ops, which is exactly
    * Spark's documented batchId-keyed idempotent-sink recipe. The result is
    * a continuously-maintained 1m tier whose batches flow through the SAME
    * retention machinery as batch ingest (expire / vacuum / and especially
    * compactTier — streaming commits are many and small, so periodic
    * compaction is the designed companion). Returns the configured writer;
    * the caller sets the checkpoint location and starts it.
    */
  def ingestStream(turns: DataFrame, outRoot: String, snapshotId: Long,
      nBuckets: Int, watermark: String = "10 minutes")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestStreamWithRetention(turns, outRoot, snapshotId, nBuckets,
      watermark, retentionMs = -1L)

  /** [[ingestStream]] with the retention loop closed: after each
    * micro-batch commit, batches whose ENTIRE event-time range has fallen
    * `retentionMs` behind the tier's committed high-water mark are
    * tombstoned ([[graft.runtime.TierPipeline.expireBatches]]) and
    * physically removed ([[graft.runtime.TierPipeline.vacuumTier]]), and
    * every `compactEvery` micro-batches the surviving small streaming
    * commits are bin-packed ([[graft.runtime.TierPipeline.compactTier]]) —
    * rollup → downsample → retention end-to-end under streaming.
    *
    * Safety comes from composition, not new machinery: the appended 1m
    * buckets are watermark-FINALIZED (append mode), so the manifest's
    * committed `maxTs` high-water mark only ever names closed windows; the
    * cutoff chases it at a `retentionMs` lag. Expiry tombstones never
    * uncommit a (window, bucket), so a redelivered micro-batch still
    * no-ops — retention can never cause re-ingestion. `guardTier`
    * (optional) keeps the batch-side invariant that fine data expires only
    * after the coarser tier fully committed. `retentionMs < 0` disables
    * the sweep (plain [[ingestStream]]).
    */
  def ingestStreamWithRetention(turns: DataFrame, outRoot: String,
      snapshotId: Long, nBuckets: Int, watermark: String = "10 minutes",
      retentionMs: Long = -1L, compactEvery: Long = 0L,
      guardTier: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val tier = "1m-stream"
    // dedupTurns sets the stream's single watermark; the rollup chains on it
    val finalized = rollup1mAgg(Regularize.withMetrics(dedupTurns(turns, watermark)))
    finalized.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.withColumn("bucket",
            graft.runtime.TierPipeline.bucketCol(nBuckets))
          graft.runtime.TierPipeline.runTier(batch.sparkSession, outRoot,
            tier, snapshotId, nBuckets, b, window = Some(s"mb$batchId"))
          if (retentionMs >= 0) {
            val hwm = graft.runtime.TierPipeline
              .latestCommittedMaxTs(outRoot, tier, snapshotId)
            if (hwm >= 0) {
              val expired = graft.runtime.TierPipeline.expireBatches(
                outRoot, tier, snapshotId, hwm - retentionMs, guardTier,
                nBuckets)
              if (expired.nonEmpty)
                graft.runtime.TierPipeline.vacuumTier(outRoot, tier)
            }
          }
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
            if (graft.runtime.TierPipeline.compactTier(batch.sparkSession,
                outRoot, tier, snapshotId).nonEmpty)
              graft.runtime.TierPipeline.vacuumTier(outRoot, tier)
          }
        }
        ()
      }
  }

  /** Streaming count-min sketch maintenance — the mergeable-summary contract
    * of [[graft.operators.Summary.cmsWordFreq]] carried onto the stream:
    * cell counts are a plain streaming aggregation whose state is BOUNDED
    * by d·w cells regardless of stream length or vocabulary size (the whole
    * point of the sketch — an exact streaming word count would hold
    * unbounded vocabulary state). Complete output mode; no watermark needed
    * because the state never grows past the grid. After any prefix of the
    * stream, the emitted relation equals the batch sketch over the same
    * rows (tested), so downstream probes are identical.
    */
  def cmsStream(docs: DataFrame, d: Int = 4, w: Int = 1024): DataFrame =
    graft.operators.Summary.cmsCells(docs, d, w)
      .groupBy("r", "pos")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))

  /** Streaming log2 latency histogram: per-(key, power-of-two bucket)
    * counts over a stream — the ≤64-buckets-per-key mergeable state of
    * [[graft.operators.Summary.logHistQuantiles]], aggregated
    * incrementally (bucket exprs shared, so stream cells merge
    * bit-identically into batch cells; quantile read-off is a bounded
    * batch op over the sketch).
    */
  def logHistStream(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame =
    df.groupBy(
        org.apache.spark.sql.functions.col(keyCol),
        graft.operators.Summary.log2Bucket(
          org.apache.spark.sql.functions.col(valueCol)).as("bucket"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))

  /** Streaming HyperLogLog register sketch: the SAME register/rho
    * expressions as [[graft.operators.Summary.hllRegisters]] under a
    * streaming groupBy — `max(rho)` is commutative, idempotent, mergeable
    * state, so any arrival order or batching produces the batch registers
    * bit-identically after every prefix. State is bounded by 2^p registers
    * at ANY stream length — the distinct-count sketch a fleet dashboard
    * maintains forever without growing.
    */
  def hllStream(df: DataFrame, keyCol: String, p: Int = 8): DataFrame =
    graft.operators.Summary.hllRegisters(df, keyCol, p)

  /** Streaming OHLC candlestick per (conv, event-time window): the SAME
    * aggregate expressions as [[graft.operators.Rollup.ohlcState]]
    * (struct min/max and count are order-insensitive, commutative,
    * mergeable state), so a shuffled/late-arriving stream produces the
    * batch candle bit-identically once the watermark closes the window.
    * Append mode; input (conv_id, ts, turn_idx, value).
    */
  def ohlcStream(metrics: DataFrame, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{col, window}
    val aggs = graft.operators.Rollup.ohlcAggs("value")
    metrics.withWatermark("ts", watermark)
      .groupBy(col("conv_id"), window(col("ts"), windowDur))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("conv_id"), col("window.start").as("bucket_ts"),
        col("n"), col("o.v").as("open"), col("high"), col("low"),
        col("c.v").as("close"))
  }

  /** Streaming CORPUS-WIDE rollup per event-time window: the SAME moment
    * aggregates as [[graft.operators.Rollup.tierStateGlobal]]'s phase 1
    * ([[graft.operators.Rollup.momentAggs]] — commutative,
    * order-insensitive, mergeable), so once the watermark closes a window
    * the stream row equals the batch global state bit-identically.
    * Distinct-conversation counts are deliberately absent (exact distinct
    * is unbounded streaming state; the HLL register relation is the
    * streaming-safe path). Append mode; input (conv_id, ts, value).
    */
  def globalStream(metrics: DataFrame, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{col, window}
    val aggs = graft.operators.Rollup.momentAggs("value")
    metrics.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("bucket_ts"), col("n"),
        col("sum_v"), col("sum2_v"), col("min_v"), col("max_v"))
  }

  /** Streaming hopping-window rollup —
    * [[graft.operators.Sliding.slidingAgg]]'s streaming twin via Spark's
    * native sliding `window(ts, windowDur, slideDur)` (the engine's
    * TimeWindow expression performs the same explode-into-overlapping-
    * windows the batch operator spells out). The turn count and integer
    * value mass are commutative mergeable aggregates, so a
    * watermark-closed window equals the batch row bit-identically; exact
    * distinct conversations is deliberately absent here (unbounded
    * streaming state — the batch two-phase path or the HLL register
    * stream covers distincts). Append mode; input (conv_id, ts, value).
    */
  def slidingStream(metrics: DataFrame, windowDur: String = "1 hour",
      slideDur: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{col, window}
    metrics.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("value").cast("long")).as("total_len"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_turns"), col("total_len"))
  }

  /** Streaming M4 downsample — the live edge of the committed `m4-1h`
    * downsample tier ([[graft.runtime.TierPipeline.downsampleTier]]):
    * [[graft.operators.Downsample.m4]] itself over the watermarked stream,
    * per (conv, event-time hour window). All its aggregates are mergeable
    * (min_by/max_by on the event timestamp merge associatively because
    * grid timestamps are unique within a conv), so a watermark-closed hour
    * equals the batch row bit-identically — a dashboard reads sealed hours
    * from the tier store and the open hour from this stream, the
    * realtimeState routing shape applied to rendering. Append mode; input
    * (conv_id, ts, value).
    */
  def m4Stream(metrics: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.operators.Downsample.m4(metrics.withWatermark("ts", watermark),
        window(col("ts"), "1 hour"))
      .withColumn("bucket_ts", col("bucket_ts.start"))

  /** Streaming near-dup SCREEN: LSH-band every incoming doc and join it
    * against the committed corpus's banded signatures (a stream-static
    * equi-join — the supported streaming join shape; no stream-side state
    * beyond the micro-batch). This is the ingest-time "is this new doc a
    * near-copy of anything we already hold?" gate, the streaming
    * counterpart of [[graft.operators.Dedup.minhashPairs]] — identical md5
    * banding, so a candidate fires on the stream iff it would in batch.
    * Band-level duplicates (two bands agreeing for one pair) are collapsed
    * downstream per micro-batch (foreachBatch distinct) — a global
    * `dropDuplicates` would need unbounded state. A production caller
    * persists the banded-corpus side once rather than re-deriving it per
    * micro-batch.
    */
  def lshScreenStream(newDocs: DataFrame, corpus: DataFrame,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val hist = graft.operators.Dedup
      .bandedSignatures(corpus, numHashes, rowsPerBand)
      .select(org.apache.spark.sql.functions.col("band_idx"),
        org.apache.spark.sql.functions.col("band_key"),
        org.apache.spark.sql.functions.col("doc_id").as("hist_id"))
    graft.operators.Dedup.bandedSignatures(newDocs, numHashes, rowsPerBand)
      .select(org.apache.spark.sql.functions.col("band_idx"),
        org.apache.spark.sql.functions.col("band_key"),
        org.apache.spark.sql.functions.col("doc_id").as("new_id"))
      .join(hist, Seq("band_idx", "band_key"))
      .select("new_id", "hist_id")
  }

  /** Streaming exact dedup on the natural key — the at-least-once-delivery
    * guard every streaming ingest needs (duplicate redelivery of the same
    * (conv_id, turn_idx) is dropped; state holds one row per key only
    * within the watermark horizon, so it is bounded). Batch analog:
    * `dropDuplicates` / [[graft.operators.Dedup.exact]].
    */
  def dedupTurns(turns: DataFrame, watermark: String = "10 minutes"): DataFrame =
    turns.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  final case class BaytsObs(conv_id: String, idx: Int, va: Double, vb: Double)
  final case class BaytsState(lastIdx: Int, prevP: Double, flagged: Boolean,
      pchange: Double, confirmed: Int)
  final case class BaytsUpdate(conv_id: String, change_idx: Int, changed: Boolean)

  /** ONLINE bayts change detection — the batch kernel
    * ([[graft.operators.ChangeDetect.bayts]]) is a sequential per-conv scan,
    * which is exactly the flatMapGroupsWithState primitive, so the streaming
    * form carries the same state the C loop keeps (bayts_fns.cpp:245-290:
    * flagged / pchange / last index / previous fused probability) and emits
    * the current verdict per conv on every batch. Grid slots with no
    * observation step the machine with NaN (identical to the batch dense
    * array); observations at or below the last processed index are dropped
    * (at-least-once redelivery guard). Once confirmed, the verdict is frozen
    * — as the batch kernel returns at first confirmation. State is O(1) per
    * conversation.
    */
  def baytsOnline(spark: SparkSession, obs: Dataset[BaytsObs],
      stats: Array[(Double, Double, Double, Double)],
      threshold: Double = 0.5, chi: Double = 0.9): Dataset[BaytsUpdate] = {
    import spark.implicits._
    import graft.functions.SeriesKernels
    val meanF = stats.map(_._1); val sdF = stats.map(_._2)
    val meanNF = stats.map(_._3); val sdNF = stats.map(_._4)
    def step(st: BaytsState, t: Int, p: Double): BaytsState = {
      if (st.confirmed >= 0) return st
      if (t == 0) return BaytsState(0, p, st.flagged, st.pchange, -1)
      var flagged = st.flagged
      var pchange = st.pchange
      if (!flagged) {
        if (p > threshold) {
          pchange = SeriesKernels.pbayes(st.prevP, p); flagged = true
        }
      } else {
        pchange = SeriesKernels.pbayes(pchange, p)
        if (pchange < 0.5) { flagged = false; pchange = Double.NaN }
      }
      val confirmed = if (flagged && pchange >= chi && p >= 0.5) t else -1
      BaytsState(t, p, flagged, pchange, confirmed)
    }
    obs.groupByKey(_.conv_id)
      .flatMapGroupsWithState[BaytsState, BaytsUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (conv: String, it: Iterator[BaytsObs], state: GroupState[BaytsState]) =>
          var st = state.getOption.getOrElse(
            BaytsState(-1, Double.NaN, flagged = false, Double.NaN, -1))
          it.toArray.sortBy(_.idx).foreach { o =>
            if (st.confirmed < 0 && o.idx > st.lastIdx) {
              val p = SeriesKernels.baytsNf(
                Array(Array(o.va), Array(o.vb)), meanF, sdF, meanNF, sdNF)(0)
              var j = st.lastIdx + 1
              while (j < o.idx) { st = step(st, j, Double.NaN); j += 1 }
              st = step(st, o.idx, p)
            }
          }
          state.update(st)
          Iterator.single(BaytsUpdate(conv, st.confirmed, st.confirmed >= 0))
      }
  }

  final case class SessState(sessIdx: Long, nTurns: Long, startMs: Long,
      lastMs: Long)
  final case class SessionClosed(conv_id: String, sess_idx: Long,
      n_turns: Long, start_ms: Long, end_ms: Long, dur_ms: Long)

  /** Streaming sessionization — the flatMapGroupsWithState form of
    * [[graft.operators.SeriesOps.sessionize]] (same cut rule: a turn more
    * than `gapMs` after the previous one closes the open session). A closed
    * session's ledger row is emitted EXACTLY ONCE, the moment the turn that
    * closes it arrives; the still-open session is the only state carried
    * per conversation (O(1)). Stream output ≡ the batch ledger minus each
    * conversation's final (still-open) session — asserted in StreamingSpec.
    * Turns are assumed time-ordered across batches (the ingest path's
    * watermark + dedup guarantee); within a batch they are sorted.
    */
  def sessionizeStream(spark: SparkSession, turns: Dataset[Turn],
      gapMs: Long): Dataset[SessionClosed] = {
    import spark.implicits._
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[SessState, SessionClosed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (conv: String, it: Iterator[Turn], state: GroupState[SessState]) =>
          val sorted = it.toArray.sortBy(t => (t.ts.getTime, t.turn_idx))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              SessState(0L, 0L, 0L, Long.MinValue))
            val closed = Vector.newBuilder[SessionClosed]
            sorted.foreach { t =>
              val tm = t.ts.getTime
              if (st.lastMs == Long.MinValue) st = SessState(1L, 1L, tm, tm)
              else if (tm - st.lastMs > gapMs) {
                closed += SessionClosed(conv, st.sessIdx, st.nTurns,
                  st.startMs, st.lastMs, st.lastMs - st.startMs)
                st = SessState(st.sessIdx + 1, 1L, tm, tm)
              } else st = st.copy(nTurns = st.nTurns + 1, lastMs = tm)
            }
            state.update(st)
            closed.result().iterator
          }
      }
  }

  final case class ConvState(nTurns: Long, lastLen: Double, maxGapSec: Long,
      lastTsMs: Long)
  final case class ConvUpdate(conv_id: String, n_turns: Long, last_len: Double,
      max_gap_sec: Long)

  /** Per-conversation running state (turn count, last value, max inter-turn
    * gap) emitted on every batch — the flatMapGroupsWithState shape for
    * custom cumulative scans. ProcessingTimeTimeout-free (test-friendly).
    */
  def convState(spark: SparkSession, turns: Dataset[Turn]): Dataset[ConvUpdate] = {
    import spark.implicits._
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, ConvUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (conv: String, it: Iterator[Turn], state: GroupState[ConvState]) =>
          val sorted = it.toArray.sortBy(t => (t.ts.getTime, t.turn_idx))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(ConvState(0, Double.NaN, 0, Long.MinValue))
            sorted.foreach { t =>
              val gap = if (st.lastTsMs == Long.MinValue) 0
                        else (t.ts.getTime - st.lastTsMs) / 1000
              st = ConvState(st.nTurns + 1, t.text.length.toDouble,
                math.max(st.maxGapSec, gap), t.ts.getTime)
            }
            state.update(st)
            Iterator.single(ConvUpdate(conv, st.nTurns, st.lastLen, st.maxGapSec))
          }
      }
  }
}
