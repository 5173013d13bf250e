package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Gap-fill imputation with the exact semantics of the reference's
  * `impute_linear` (/root/reference/R/sits_imputation.R:11-53,
  * src/linear_interp.cpp:25-113):
  *
  *  - leading nulls  ← first valid value (back-fill)
  *  - trailing nulls ← last valid value (LOCF)
  *  - interior run of g-1 nulls between values a (at index pi) and b (at
  *    index ni, g = ni-pi): index i gets  a + (i-pi)·(b-a)/g  — linear by
  *    *index*, not by wall time (on a regular grid they coincide)
  *  - an all-null series stays all-null
  *
  * [[fillDense]] is the engine's gap-fill as rows: the dense grid of
  * [[GridSeries.filled]], densified and filled inside one shuffle — the
  * grid the tier store encodes once ([[ChunkStore.encodeFilledBands]]) and
  * rolls up from the chunk. [[fillWindow]] is its declarative
  * window-function form (ignore-nulls last/first), DuckDB-expressible for
  * the oracle; EngineSpec checks the two agree on one grid.
  */
object GapFill {

  /** `C_mask_na` (src/linear_interp.cpp:92-102): flag rows where ANY of the
    * given metric columns is missing — the cloud/na mask the classification
    * pipeline applies before scoring (api_classify.R:459-462). Pure
    * expression, shuffle-free.
    */
  def maskNa(df: DataFrame, metricCols: Seq[String]): DataFrame =
    df.withColumn("na_mask",
      metricCols.map(c => col(c).isNull || isnan(col(c))).reduce(_ || _).cast("int"))

  /** `C_fill_na` (src/linear_interp.cpp:105-113): replace missing values in
    * the given metric columns with a constant. Shuffle-free.
    */
  def fillNa(df: DataFrame, metricCols: Seq[String], value: Double): DataFrame =
    metricCols.foldLeft(df)((acc, c) =>
      acc.withColumn(c,
        when(col(c).isNull || isnan(col(c)), lit(value)).otherwise(col(c))))

  /** Window-function path. Input: (conv_id, bucket_ts, value) regular grid.
    * Four ignore-nulls running windows per conv; arithmetic written in the
    * exact operand order of linear_interp.cpp:20-22 so doubles match the
    * oracle bit-for-bit.
    */
  def fillWindow(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("bucket_ts")
    // Both lookups are RUNNING frames (unboundedPreceding..current): Spark
    // evaluates those in O(n) per partition, whereas an unboundedFollowing
    // frame rescans to partition end per row — O(n²) over a 43k-point grid.
    // "next valid" = running last() over the DESCENDING order.
    val wPast = w.rowsBetween(Window.unboundedPreceding, 0)
    val wFut = Window.partitionBy("conv_id").orderBy(col("bucket_ts").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("i", row_number().over(w).cast("double"))
      .withColumn("pv", last(col("value"), ignoreNulls = true).over(wPast))
      .withColumn("pi", last(when(col("value").isNotNull, col("i")), ignoreNulls = true).over(wPast))
      .withColumn("nv", last(col("value"), ignoreNulls = true).over(wFut))
      .withColumn("ni", last(when(col("value").isNotNull, col("i")), ignoreNulls = true).over(wFut))
      .withColumn("value_filled",
        when(col("value").isNotNull, col("value"))
          .when(col("pv").isNull, col("nv")) // leading → back-fill
          .when(col("nv").isNull, col("pv")) // trailing → LOCF
          .otherwise(col("pv") +
            (col("i") - col("pi")) * (col("nv") - col("pv")) / (col("ni") - col("pi"))))
      .select(col("conv_id"), col("bucket_ts"), col("value_filled").as("value"))
  }

  /** Fused densify+fill — THE scale path. Input is [[Regularize.firstValid]]
    * output (one row per *observed* (conv, bucket), already shrunk by
    * map-side partial aggregation), NOT the dense grid: the dense timeline is
    * generated inside the group kernel, so the only shuffle in
    * regularize→densify→fill carries observed buckets (~|obs|), never the
    * dense grid (~|convs|×|timeline|, 600× larger at sf0.1 — the window-path
    * equivalent was a 62.9M-row 3-sort pipeline that spilled and ran 240s vs
    * ~4s for this kernel). Group memory: see [[GridSeries]].
    */
  def fillDense(spark: SparkSession, firstValid: DataFrame, tier: graft.model.Tier,
      emitBefore: Option[java.sql.Timestamp] = None): DataFrame = {
    import spark.implicits._
    // interpolation always uses the FULL series; emitBefore only bounds the
    // rows serialized out of the kernel (a consumer that keeps one day of a
    // 30-day grid would otherwise pay 30× the emission it reads)
    val bound = emitBefore.map(_.getTime).getOrElse(Long.MaxValue)
    val step = tier.millis
    GridSeries.filled(firstValid, Seq("value"), step) { (conv, _, t0, filled) =>
      val nEmit = math.min(filled.length.toLong,
        math.max(0L, (bound - t0 + step - 1) / step)).toInt
      Iterator.tabulate(nEmit) { i =>
        (conv, t0 + i * step, if (filled(i).isNaN) None else Some(filled(i)))
      }
    }
      .toDF("conv_id", "t", "value")
      .select(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"), col("value"))
  }
}
