package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multidimensional data layout: Morton/z-order clustering of the
  * transcript store on (conversation, time) so BOTH predicate families —
  * per-conversation reads (sits_get_data's series assembly) and time-range
  * scans (the tier rollups) — skip files. A store range-partitioned on
  * conv_id alone answers conv lookups with one file but forces time-range
  * queries to touch every file (and vice versa for a pure time sort);
  * interleaving the bits of the two dimensions bounds BOTH spans per file
  * (the Iceberg/Delta `ZORDER BY` layout strategy, built here from plain
  * Catalyst bit expressions — no UDF, fully codegen).
  *
  * Scale shape: [[zValue]] is a pure per-row expression (a fixed sum of
  * `2·bits` shift/mask terms — whole-stage-codegen folds it into one
  * compiled method); [[clusterByZ]] is ONE range repartition by z (the
  * same shuffle any layout rewrite pays) + an intra-partition sort, so a
  * 100 TB compaction is a single total-order-free pass: range boundaries
  * come from Spark's reservoir sampling of z, never a global sort.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of `a` (odd positions)
    * and `b` (even positions) into a `2·bits`-bit key. Inputs are masked
    * to `bits` bits first, so any long-valued dimension cell index is
    * accepted. Pure integer bit arithmetic — deterministic cross-engine,
    * no rounding contract.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1,31]")
    val mask = (1L << bits) - 1
    val am = a.cast("long").bitwiseAND(lit(mask))
    val bm = b.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftleft(shiftright(am, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(bm, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }

  /** Dimension cells for the transcript store: a stable conversation hash
    * cell (u32-md5 folded to `bits` bits — uniform regardless of conv_id
    * skew in the id space) and a time cell (hours since epoch, low `bits`
    * bits — adjacent hours stay adjacent within a 2^bits-hour wrap
    * window, which is what bounds a file's time span).
    */
  def transcriptZ(df: DataFrame, bits: Int = 16): DataFrame =
    df.withColumn("conv_cell",
        Accuracy.u32Md5(col("conv_id")).bitwiseAND(lit((1L << bits) - 1)))
      .withColumn("time_cell",
        floor(GridSeries.ms(col("ts")) / lit(3600000L))
          .bitwiseAND(lit((1L << bits) - 1)))
      .withColumn("z", zValue(col("conv_cell"), col("time_cell"), bits))

  /** Cluster a DataFrame into `numFiles` z-ordered output partitions:
    * range-partition on the z key (reservoir-sampled boundaries — no
    * global sort) and sort within each partition, so every output file
    * covers one compact z range ⇒ a bounded rectangle set in
    * (conv, time) space ⇒ min/max file stats prune on EITHER dimension.
    */
  def clusterByZ(df: DataFrame, numFiles: Int, bits: Int = 16): DataFrame =
    transcriptZ(df, bits)
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions("z")

  /** Small-file compaction plan — the Iceberg `rewrite_data_files`
    * bin-packing planner as a relation. The per-day ingest "file ledger"
    * (one file per (day, conv): its byte mass = Σ text bytes, the shape a
    * per-conversation streaming ingest leaves behind) is packed into
    * target-size rewrite groups by CUMULATIVE-CAPACITY packing: files
    * ordered (bytes DESC, conv_id) inside their day partition, running
    * byte total, bin = (cum−1) DIV target. Each bin's mass is
    * < target + its largest file — the streaming approximation Iceberg's
    * own BinPacking uses, chosen here because it is ORDER-DETERMINISTIC
    * and purely relational (one window over the ledger), where true
    * first-fit-decreasing needs a sequential bin state.
    *
    * Scale shape: the window runs over the FILE LEDGER (manifest scale —
    * files per day-partition, ~|convs active that day|), never over raw
    * turns; the raw pass is one hash agg. All-integer output — no
    * rounding contract: (day, bin, n_files, bin_bytes).
    */
  def compactionPlan(transcripts: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes > 0")
    val files = transcripts
      .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(length(col("text")).cast("long")).as("bytes"))
    val w = Window.partitionBy("day")
      .orderBy(col("bytes").desc, col("conv_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum("bytes").over(w))
      .withColumn("bin",
        expr(s"(greatest(cum, CAST(1 AS BIGINT)) - 1) DIV $targetBytes"))
      .groupBy("day", "bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"))
  }
}
