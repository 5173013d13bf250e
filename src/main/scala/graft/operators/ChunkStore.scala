package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis, unix_millis}
import graft.functions.GorillaCodec
import graft.model.{ChunkStruct, Tier}

/** Byte-packed chunk encoding of per-conversation series (north rule):
  * one ChunkStruct row per (conv, tier) holding delta-of-delta timestamps +
  * Gorilla-XOR values. At 10^12 turns this is what the retention tiers
  * physically store — a ~10-30× smaller table whose row count is O(#convs),
  * not O(#points), and which decodes streamingly per conversation.
  *
  * Encode runs as a per-conversation kernel of [[GridSeries]] (one
  * shuffle on conv_id, time-sorted observations or the dense gap-filled
  * grid); decode is a per-chunk flatMap. Timestamps stay primitive
  * epoch-millis longs in both closures.
  */
object ChunkStore {

  /** grid (conv_id, bucket_ts, value) → one chunk per conv. */
  def encode(spark: SparkSession, grid: DataFrame, tier: Tier): Dataset[ChunkStruct] = {
    import spark.implicits._
    GridSeries.sorted(grid) { (conv, pts) =>
      val n = pts.length
      val ts = new Array[Long](n)
      val vs = new Array[java.lang.Double](n)
      var i = 0
      while (i < n) {
        ts(i) = pts(i)._2
        vs(i) = pts(i)._3 match { case Some(d) => java.lang.Double.valueOf(d); case None => null }
        i += 1
      }
      Iterator.single(ChunkStruct(conv, tier.name, new java.sql.Timestamp(ts(0)), n,
        "gorilla+dod", GorillaCodec.encodeTimestamps(ts), GorillaCodec.encodeValues(vs)))
    }
  }

  /** Fused fill+encode: chunks straight from [[Regularize.firstValid]]
    * observations — the dense gap-filled grid exists only as a primitive
    * array inside the kernel and NEVER hits a shuffle or row encoder
    * (encode-after-fillDense shipped the whole grid through a second
    * shuffle; at 58M grid points that was the pipeline's dominant cost).
    */
  def encodeFilled(spark: SparkSession, firstValid: DataFrame, tier: Tier): Dataset[ChunkStruct] = {
    import spark.implicits._
    GridSeries.filled(firstValid, tier.millis) { (conv, t0, v) =>
      // linear-prediction XOR: filled grids are piecewise linear/constant,
      // 1.78× smaller than plain Gorilla here (GorillaCodec.encodeValuesLP)
      Iterator.single(ChunkStruct(conv, tier.name, new java.sql.Timestamp(t0), v.length,
        "gorilla_lp+dod", GorillaCodec.encodeRegularTimestamps(t0, tier.millis, v.length),
        GorillaCodec.encodeValuesLP(v)))
    }
  }

  /** A chunk's values, decoded by its codec (null = missing point). */
  private def decodeValues(c: ChunkStruct): Array[java.lang.Double] =
    if (c.codec.startsWith("gorilla_lp")) GorillaCodec.decodeValuesLP(c.value_payload)
    else GorillaCodec.decodeValues(c.value_payload)

  /** A chunk's timestamps and values; fails loudly when either decoded
    * length disagrees with the stored point count.
    */
  private def decodeChunk(c: ChunkStruct): (Array[Long], Array[java.lang.Double]) = {
    val ts = GorillaCodec.decodeTimestamps(c.ts_payload)
    val vs = decodeValues(c)
    require(ts.length == c.n && vs.length == c.n,
      s"chunk ${c.conv_id}/${c.tier}: decoded ${ts.length}/${vs.length} != ${c.n}")
    (ts, vs)
  }

  /** Time-range read of a chunk relation ≙ TimescaleDB chunk exclusion /
    * Iceberg min-max file skipping. Two pruning levels:
    * (1) a RELATIONAL pre-filter drops every chunk whose time range
    * [start_ts, start_ts + (n−1)·step] misses [from, to) BEFORE any decode
    * runs — the `start_ts < to` half is a plain column predicate (parquet
    * min/max pushable when chunks are stored); the end-bound arithmetic
    * evaluates post-scan but still pre-decode, so excluded chunks never
    * reach the codec;
    * (2) within a surviving chunk the regular tier spacing makes the range
    * slice index-computable, so only in-range points are emitted
    * (sequential codecs decode front-to-back — random access INSIDE a
    * chunk is what chunk sizing is for, per the TimescaleDB guidance).
    */
  def decodeRange(spark: SparkSession, chunks: Dataset[ChunkStruct],
      tier: Tier, from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    val step = tier.millis
    val fromMs = from.getTime
    val toMs = to.getTime
    require(toMs > fromMs, s"decodeRange: empty range [$from, $to)")
    val pruned = chunks
      .filter(unix_millis(col("start_ts")) < toMs &&
        unix_millis(col("start_ts")) + (col("n") - 1).cast("long") * step >= fromMs)
      .as[ChunkStruct]
    pruned.flatMap { c =>
      val t0 = c.start_ts.getTime
      val i0 = if (fromMs <= t0) 0 else ((fromMs - t0 + step - 1) / step).toInt
      val i1 = math.min(c.n - 1L, (toMs - 1 - t0) / step).toInt
      val (ts, vs) = decodeChunk(c)
      // both the chunk-level exclusion filter and the index-computed slice
      // assume REGULAR spacing (the tier store's encodeFilled contract); an
      // irregular chunk (raw encode() of a gappy series) would silently
      // mis-slice AND could be wrongly excluded by the span arithmetic —
      // fail loudly instead
      var j = 0
      while (j < c.n) {
        require(ts(j) == t0 + j.toLong * step,
          s"decodeRange: chunk ${c.conv_id}/${c.tier} is not ${step}ms-regular " +
            s"at index $j (${ts(j)} != ${t0 + j.toLong * step}) — range reads " +
            "are defined on regular tier chunks; use decode() + filter")
        j += 1
      }
      Iterator.range(i0, i1 + 1).map(i =>
        (c.conv_id, ts(i), Option(vs(i)).map(_.doubleValue())))
    }.toDF("conv_id", "t", "value")
      .select(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"), col("value"))
  }

  /** chunks → grid (conv_id, bucket_ts, value) — exact inverse of [[encode]]. */
  def decode(spark: SparkSession, chunks: Dataset[ChunkStruct]): DataFrame = {
    import spark.implicits._
    chunks.flatMap { c =>
      val (ts, vs) = decodeChunk(c)
      Iterator.tabulate(c.n)(i =>
        (c.conv_id, ts(i), Option(vs(i)).map(_.doubleValue())))
    }.toDF("conv_id", "t", "value")
      .select(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"), col("value"))
  }

  /** Per-chunk VALUE zone map — the parquet-row-group-stats trick for the
    * chunk store: one decode pass emits (chunk key, n, n_null, min_v,
    * max_v), a side relation of O(#chunks) rows that later value-predicate
    * reads consult instead of touching payload bytes. Built once per tier
    * commit (or backfilled with this very pass), amortized over every
    * subsequent threshold query — exactly how columnar formats earn their
    * skip-scan. All-null chunks carry null bounds.
    */
  def zoneMap(spark: SparkSession, chunks: Dataset[ChunkStruct]): DataFrame = {
    import spark.implicits._
    chunks.map { c =>
      val vs = decodeValues(c)
      var mn = Double.MaxValue; var mx = Double.MinValue; var nn = 0L
      vs.foreach { v =>
        if (v == null) nn += 1
        else {
          val d = v.doubleValue()
          if (d < mn) mn = d
          if (d > mx) mx = d
        }
      }
      val has = nn < c.n
      (c.conv_id, c.tier, c.start_ts, c.n.toLong, nn,
        if (has) Some(mn) else None, if (has) Some(mx) else None)
    }.toDF("conv_id", "tier", "start_ts", "n", "n_null", "min_v", "max_v")
  }

  /** Value-pruned decode: only chunks whose zone map ADMITS a value ≥
    * `threshold` (max_v ≥ threshold) reach the codec — a chunk whose whole
    * range falls below the predicate is skipped without touching its
    * payload, the value-domain mirror of [[decodeRange]]'s time exclusion.
    * The zone join is a left-semi on the chunk key; the residual per-point
    * filter keeps exactness (zone maps are necessary, not sufficient).
    */
  def decodeWhereAtLeast(spark: SparkSession, chunks: Dataset[ChunkStruct],
      zone: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val keep = zone.filter(col("max_v") >= threshold)
      .select("conv_id", "tier", "start_ts")
    val pruned = chunks
      .join(keep, Seq("conv_id", "tier", "start_ts"), "left_semi")
      .as[ChunkStruct]
    decode(spark, pruned).filter(col("value") >= threshold)
  }
}
