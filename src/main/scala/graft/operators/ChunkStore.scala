package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis, unix_millis}
import org.apache.spark.sql.types.StringType
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
  * grids of every band); decode is a per-chunk flatMap over one codec
  * dispatch that refuses an unknown id. Timestamps stay primitive
  * epoch-millis longs in both closures. The codec is lossless, so the tier
  * store's 1h state is rolled up from the chunk ([[SeriesRollup.chunkState]]).
  */
object ChunkStore {

  // codec ids: a regular tier chunk (encodeFilledBands) and any other (encode)
  private val LpCodec = "gorilla_lp+dod"
  private val PlainCodec = "gorilla+dod"
  private val chunkSchema = Encoders.product[ChunkStruct].schema
  private[graft] val chunkCols = chunkSchema.fieldNames.toSeq

  /** grid (conv_id, bucket_ts, value) → one chunk per conv. */
  def encode(spark: SparkSession, grid: DataFrame, tier: Tier): Dataset[ChunkStruct] = {
    import spark.implicits._
    GridSeries.sorted(grid) { (conv, pts) =>
      val ts = pts.map(_._2)
      val vs = pts.map(_._3.map(java.lang.Double.valueOf).orNull)
      Iterator.single(ChunkStruct(conv, tier.name, new java.sql.Timestamp(ts(0)), pts.length,
        PlainCodec, GorillaCodec.encodeTimestamps(ts), GorillaCodec.encodeValues(vs)))
    }
  }

  /** [[encodeFilledBands]] of the one band `value` of [[Regularize.firstValid]]. */
  def encodeFilled(spark: SparkSession, firstValid: DataFrame, tier: Tier): Dataset[ChunkStruct] = {
    import spark.implicits._
    encodeFilledBands(spark, firstValid, Seq("value"), tier).drop("metric").as[ChunkStruct]
  }

  /** Fused fill+encode: one chunk per (conv, band of `metrics`) straight
    * from first-valid observations, all bands in ONE [[GridSeries.filled]]
    * pass — the dense gap-filled grid exists only as a primitive array
    * inside the kernel and NEVER hits a shuffle or row encoder
    * (encode-after-fillDense shipped the whole grid through a second
    * shuffle; at 58M grid points that was the pipeline's dominant cost).
    * Rows: [[ChunkStruct]]'s columns plus `metric`, the band's (non-null) name.
    */
  def encodeFilledBands(spark: SparkSession, firstValid: DataFrame,
      metrics: Seq[String], tier: Tier): DataFrame =
    GridSeries.filled(firstValid, metrics, tier.millis) { (conv, mi, t0, v) =>
      // linear-prediction XOR: filled grids are piecewise linear/constant,
      // 1.78× smaller than plain Gorilla here (GorillaCodec.encodeValuesLP)
      Iterator.single(Row(conv, tier.name, new java.sql.Timestamp(t0), v.length,
        LpCodec, GorillaCodec.encodeRegularTimestamps(t0, tier.millis, v.length),
        GorillaCodec.encodeValuesLP(v), metrics(mi)))
    }(Encoders.row(chunkSchema.add("metric", StringType, nullable = false))).toDF()

  /** A chunk's values, decoded by its codec (null = missing point); an
    * unknown codec id or a decoded length other than `n` fails.
    */
  private def decodeValues(c: ChunkStruct): Array[java.lang.Double] = {
    val vs = c.codec match {
      case LpCodec    => GorillaCodec.decodeValuesLP(c.value_payload)
      case PlainCodec => GorillaCodec.decodeValues(c.value_payload)
      case other => throw new IllegalArgumentException(
        s"chunk ${c.conv_id}/${c.tier}: unknown codec '$other'")
    }
    require(vs.length == c.n, s"chunk ${c.conv_id}/${c.tier}: decoded ${vs.length} != ${c.n}")
    vs
  }

  /** The values of a regular `tier` grid chunk, slot i at start_ts + i·step
    * (NaN = missing, as in the grid it was encoded from). Only
    * [[encodeFilledBands]] writes the LP codec, always with regular
    * timestamps; any other chunk fails ([[decodeRange]]'s rule).
    */
  private[operators] def gridValues(c: ChunkStruct, tier: Tier): Array[Double] = {
    require(c.codec == LpCodec && c.tier == tier.name, s"chunk ${c.conv_id}/${c.tier} " +
      s"(codec '${c.codec}') is not a '$LpCodec' grid of tier ${tier.name}")
    decodeValues(c).map(x => if (x == null) Double.NaN else x.doubleValue)
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
    points(spark, pruned) { (c, ts) =>
      val t0 = c.start_ts.getTime
      // both the chunk-level exclusion filter and the index-computed slice
      // assume REGULAR spacing (the tier store's encodeFilled contract); an
      // irregular chunk (raw encode() of a gappy series) would silently
      // mis-slice AND could be wrongly excluded by the span arithmetic —
      // fail loudly instead
      ts.indices.foreach { j =>
        require(ts(j) == t0 + j.toLong * step,
          s"decodeRange: chunk ${c.conv_id}/${c.tier} is not ${step}ms-regular " +
            s"at index $j (${ts(j)} != ${t0 + j.toLong * step}) — range reads " +
            "are defined on regular tier chunks; use decode() + filter")
      }
      val i0 = if (fromMs <= t0) 0 else ((fromMs - t0 + step - 1) / step).toInt
      Iterator.range(i0, math.min(c.n - 1L, (toMs - 1 - t0) / step).toInt + 1)
    }
  }

  /** chunks → grid (conv_id, bucket_ts, value) — exact inverse of [[encode]]. */
  def decode(spark: SparkSession, chunks: Dataset[ChunkStruct]): DataFrame =
    points(spark, chunks)((c, _) => Iterator.range(0, c.n))

  /** The (conv_id, bucket_ts, value) points of each chunk at the indices
    * `slots` picks from the chunk and its decoded timestamps.
    */
  private def points(spark: SparkSession, chunks: Dataset[ChunkStruct])(
      slots: (ChunkStruct, Array[Long]) => Iterator[Int]): DataFrame = {
    import spark.implicits._
    chunks.flatMap { c =>
      val ts = GorillaCodec.decodeTimestamps(c.ts_payload)
      require(ts.length == c.n, s"chunk ${c.conv_id}/${c.tier}: decoded ${ts.length} != ${c.n}")
      val vs = decodeValues(c)
      slots(c, ts).map(i => (c.conv_id, ts(i), Option(vs(i)).map(_.doubleValue())))
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
