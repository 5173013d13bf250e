package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Rounding.{q4, r4, r4d}

/** Model-evaluation analytics over the transcript store: probability
  * calibration (reliability diagram, Brier score, expected calibration
  * error, isotonic recalibration map) and conversation-lifetime survival
  * (Kaplan-Meier). These extend the reference's accuracy-assessment family
  * (`/root/reference/R/sits_accuracy.R:25-208` — confusion matrix, kappa,
  * Olofsson area estimates) with the calibration diagnostics a production
  * classifier pipeline runs next to them: sits reports WHETHER the model is
  * right; calibration reports whether its *confidence* means anything.
  *
  * Exactness contract (the fleet-wide hash-oracle discipline):
  *  - model probabilities are Laplace-smoothed count ratios `(c+1)/(tot+3)`
  *    — one IEEE division, bit-identical cross-engine;
  *  - every per-cell float is quantized to integer ten-thousandths
  *    (`floor(x·10⁴ + 0.5)`) BEFORE any corpus-sized summation, so sums are
  *    exact BIGINT arithmetic and the single final division is the only
  *    float op (the zipf/entropy lesson);
  *  - ECE per bin needs |acc_b − conf_b| = |10⁴·c_b − U_b| / (10⁴·n_b) —
  *    kept as an exact integer numerator until the one division.
  *
  * Scale shapes: calibration cells are a (conv, day) partial aggregate
  * (map-side combined, hot conversations absorbed); bins are a ≤`bins`-row
  * relation, so everything after the cell aggregate is driver-trivial.
  * Kaplan-Meier folds over the ≤|distinct durations| event-time relation
  * (hours, bounded by the retention window) — the corpus-sized work is one
  * conv-level aggregate.
  */
object Evaluation {

  /** Calibration cells: per (conv, day), the model's role-mix probabilities
    * fitted on ODD turn indices (the "model" half) vs the ground-truth
    * majority role of the EVEN turns (the "holdout" half) — a deterministic
    * train/test split with zero RNG (the `.tibble_samples_split` hash-split
    * idea applied within each cell). Cells where either half is empty are
    * dropped (inner join). Columns: conv_id, bucket_ts, p1, p2, p3
    * (smoothed user/assistant/tool probabilities), pred (1-based argmax,
    * first max wins — the `sits_label_classification` rule,
    * src/label_class.cpp:7-20), truth (same rule over holdout counts),
    * conf (= max prob).
    */
  def calibrationCells(transcripts: DataFrame): DataFrame = {
    def half(parity: Int, pre: String) =
      transcripts.filter(pmod(col("turn_idx"), lit(2)) === parity)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(
          count(when(col("role") === "user", 1)).as(s"${pre}u"),
          count(when(col("role") === "assistant", 1)).as(s"${pre}a"),
          count(when(col("role") === "tool", 1)).as(s"${pre}t"),
          count(lit(1)).as(s"${pre}n"))
    val model = half(1, "m")
    val hold = half(0, "h")
    val p1 = (col("mu") + lit(1)).cast("double") / (col("mn") + lit(3))
    val p2 = (col("ma") + lit(1)).cast("double") / (col("mn") + lit(3))
    val p3 = (col("mt") + lit(1)).cast("double") / (col("mn") + lit(3))
    model.join(hold, Seq("conv_id", "bucket_ts"))
      .select(col("conv_id"), col("bucket_ts"),
        p1.as("p1"), p2.as("p2"), p3.as("p3"),
        when(p1 >= p2 && p1 >= p3, 1).when(p2 >= p3, 2).otherwise(3).as("pred"),
        when(col("hu") >= col("ha") && col("hu") >= col("ht"), 1)
          .when(col("ha") >= col("ht"), 2).otherwise(3).as("truth"),
        greatest(p1, p2, p3).as("conf"))
  }

  /** Reliability diagram (Murphy-Winkler): cells bucketed by confidence
    * decile, per-bin accuracy vs mean confidence and the absolute gap.
    * `mean_conf` and `abs_gap` come from the exact integer confidence sum
    * `U_b` (ten-thousandths), divided once at the output boundary.
    */
  def reliabilityBins(transcripts: DataFrame, bins: Int = 10): DataFrame =
    calibrationCells(transcripts)
      .withColumn("bin",
        least(floor(col("conf") * bins), lit(bins - 1)).cast("int"))
      .withColumn("uq", q4(col("conf")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)).as("n_correct"),
        sum("uq").as("usum"))
      .select(col("bin"), col("n_cells"), col("n_correct"),
        r4(col("n_correct").cast("double") / col("n_cells")).as("acc"),
        r4(col("usum").cast("double") / (col("n_cells") * lit(10000d)))
          .as("mean_conf"),
        r4(abs(lit(10000L) * col("n_correct") - col("usum")).cast("double") /
          (col("n_cells") * lit(10000d))).as("abs_gap"))

  /** Multi-class Brier score + expected calibration error, one row.
    * Per-cell Brier `Σ_k (p_k − 1[truth=k])²` is a fixed-operand-order
    * 3-term expression over exact doubles, quantized per cell; ECE is the
    * bin-weighted gap `Σ_b |10⁴·c_b − U_b| / (10⁴·N)` — both exact integer
    * sums with one final division each.
    */
  def brierEce(transcripts: DataFrame, bins: Int = 10): DataFrame = {
    val cells = calibrationCells(transcripts)
      .withColumn("bin",
        least(floor(col("conf") * bins), lit(bins - 1)).cast("int"))
      .withColumn("uq", q4(col("conf")))
      .withColumn("bq", q4(
        (col("p1") - when(col("truth") === 1, 1d).otherwise(0d)) *
          (col("p1") - when(col("truth") === 1, 1d).otherwise(0d)) +
        (col("p2") - when(col("truth") === 2, 1d).otherwise(0d)) *
          (col("p2") - when(col("truth") === 2, 1d).otherwise(0d)) +
        (col("p3") - when(col("truth") === 3, 1d).otherwise(0d)) *
          (col("p3") - when(col("truth") === 3, 1d).otherwise(0d))))
    cells.groupBy("bin")
      .agg(count(lit(1)).as("nb"),
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)).as("cb"),
        sum("uq").as("ub"), sum("bq").as("bb"))
      .agg(sum("nb").as("n_cells"),
        sum("bb").as("bsum"),
        sum(abs(lit(10000L) * col("cb") - col("ub"))).as("esum"))
      .select(col("n_cells"),
        r4(col("bsum").cast("double") / (col("n_cells") * lit(10000d)))
          .as("brier"),
        r4(col("esum").cast("double") / (col("n_cells") * lit(10000d)))
          .as("ece"))
  }

  /** Isotonic recalibration map (PAV) over the reliability bins, via the
    * exact minimax identity iso_i = max_{j≤i} min_{k≥i} avg(j..k) —
    * weighted by cell counts, with segment averages formed from exact
    * integer cumulative sums (one IEEE division per segment, identical
    * cross-engine; the ≤bins³ triple space is driver-trivial since `bins`
    * ≤ 10). This is THE standard post-hoc calibration fit (Zadrozny-Elkan
    * 2002) and doubles as the PAV primitive. Output per occupied bin:
    * (bin, n_cells, acc, iso_acc) with iso_acc monotone non-decreasing.
    */
  def isotonicCalibration(transcripts: DataFrame, bins: Int = 10): DataFrame = {
    val b = reliabilityBins(transcripts, bins)
      .select("bin", "n_cells", "n_correct", "acc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy("bin")
    val cum = b
      .withColumn("cc", sum("n_correct").over(w))
      .withColumn("cn", sum("n_cells").over(w))
    val segs = cum.select(col("bin").as("jb"),
        (col("cc") - col("n_correct")).as("cc0"),
        (col("cn") - col("n_cells")).as("cn0"))
      .join(cum.select(col("bin").as("kb"), col("cc"), col("cn")),
        col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        ((col("cc") - col("cc0")).cast("double") /
          (col("cn") - col("cn0")).cast("double")).as("seg_avg"))
    val mins = segs.join(b.select(col("bin")), col("kb") >= col("bin") &&
        col("jb") <= col("bin"))
      .groupBy(col("bin"), col("jb"))
      .agg(min("seg_avg").as("min_avg"))
      .groupBy("bin")
      .agg(max("min_avg").as("iso"))
    b.join(mins, "bin")
      .select(col("bin"), col("n_cells"), col("acc"), r4(col("iso")).as("iso_acc"))
  }

  /** Temperature-scaling calibration fit (Guo et al. 2017) over the same
    * cells as [[reliabilityBins]], with the temperature grid restricted to
    * POWERS OF TWO {0.25, 0.5, 1, 2, 4} so every rescaled score
    * p^(1/T) ∈ {p⁴, p², p, √p, √√p} is exact IEEE multiplication or a
    * correctly-rounded sqrt — no libm pow() anywhere (the decayedTopK
    * lesson: pow is the one float op the two engines may legitimately
    * disagree on). Per (cell, T): NLL term ln(Σ_k s_k / s_truth) and the
    * rescaled confidence max s_k / Σ s_k are quantized to integer
    * ten-thousandths before the per-T sums; argmax is T-invariant so
    * `pred` carries over. Output one row per T: (temp, n_cells, mean_nll,
    * ece, chosen) — `chosen` marks the NLL-minimizing temperature
    * (tie → smaller T), the fitted scaling a serving pipeline would apply.
    */
  def temperatureScaling(transcripts: DataFrame): DataFrame = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    val temps = Seq(0.25, 0.5, 1.0, 2.0, 4.0).toDF("temp")
    def f(p: Column): Column =
      when(col("temp") === 0.25, (p * p) * (p * p))
        .when(col("temp") === 0.5, p * p)
        .when(col("temp") === 1.0, p)
        .when(col("temp") === 2.0, sqrt(p))
        .otherwise(sqrt(sqrt(p)))
    val sc = calibrationCells(transcripts)
      .join(broadcast(temps), lit(true))
      .withColumn("s1", f(col("p1")))
      .withColumn("s2", f(col("p2")))
      .withColumn("s3", f(col("p3")))
      .withColumn("ssum", col("s1") + col("s2") + col("s3"))
      .withColumn("st", when(col("truth") === 1, col("s1"))
        .when(col("truth") === 2, col("s2")).otherwise(col("s3")))
      .withColumn("nllq",
        round(log(col("ssum") / col("st")) * lit(10000d)).cast("long"))
      .withColumn("tconf",
        greatest(col("s1"), col("s2"), col("s3")) / col("ssum"))
      .withColumn("uq", q4(col("tconf")))
      .withColumn("bin",
        least(floor(col("tconf") * 10), lit(9)).cast("int"))
    val perT = sc.groupBy("temp", "bin")
      .agg(count(lit(1)).as("nb"),
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)).as("cb"),
        sum("uq").as("ub"), sum("nllq").as("qb"))
      .groupBy("temp")
      .agg(sum("nb").as("n_cells"), sum("qb").as("nsum"),
        sum(abs(lit(10000L) * col("cb") - col("ub"))).as("esum"))
      .select(col("temp"), col("n_cells"),
        r4(col("nsum").cast("double") / (col("n_cells") * lit(10000d)))
          .as("mean_nll"),
        r4(col("esum").cast("double") / (col("n_cells") * lit(10000d)))
          .as("ece"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perT
      .withColumn("mnll", min("mean_nll").over(w))
      .withColumn("tbest",
        min(when(col("mean_nll") === col("mnll"), col("temp"))).over(w))
      .select(col("temp"), col("n_cells"), col("mean_nll"), col("ece"),
        (col("temp") === col("tbest")).as("chosen"))
  }

  /** Kaplan-Meier product-limit survival curve of conversation lifetimes
    * (hours from first to last turn). Conversations whose last turn lands
    * within `censorMs` of the corpus watermark are right-censored (still
    * alive: they leave the risk set at their censor time without an event
    * — the standard KM treatment). Corpus-sized work: ONE conv-level
    * aggregate; the event-time relation is bounded by |distinct duration
    * hours| (≤ the retention window), folded sequentially with per-step
    * 4-dp quantization `S_t = r4(S_{t-1} · (n_t − d_t)/n_t)` so the DuckDB
    * recursive-CTE oracle replays the product EXACTLY (the holt/ewma state
    * -machine pattern). Output: (t_h, n_risk, d_events, surv), t_h asc.
    */
  def kaplanMeier(transcripts: DataFrame, censorMs: Long): DataFrame = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    val convs = transcripts.groupBy("conv_id")
      .agg(min(GridSeries.ms(col("ts"))).as("first_ms"),
        max(GridSeries.ms(col("ts"))).as("last_ms"))
    // scalar watermark over the conv-level relation (the ts_staleness
    // shape: a one-row reduce of an already-aggregated relation)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val durs = convs
      .withColumn("wm", max("last_ms").over(wAll))
      .select(floor((col("last_ms") - col("first_ms")) / lit(3600000L))
          .cast("long").as("t_h"),
        (col("last_ms") > col("wm") - lit(censorMs)).as("censored"))
    val byT = durs.groupBy("t_h")
      .agg(count(lit(1)).as("m"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("d"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy(col("t_h").desc)
    val events = byT
      .withColumn("n_risk", sum("m").over(wDesc))
      .filter(col("d") > 0)
      .select(col("t_h"), col("n_risk"), col("d"))
    // bounded event-time relation → single-task ordered fold (the
    // ts_topk_uncertain bounded-kernel pattern)
    events.as[(Long, Long, Long)]
      .coalesce(1).sortWithinPartitions("t_h")
      .mapPartitions { it =>
        var s = 1.0
        it.map { case (t, n, d) =>
          val f = (n - d).toDouble / n.toDouble
          s = r4d(s * f)
          (t, n, d, s)
        }
      }
      .toDF("t_h", "n_risk", "d_events", "surv")
  }
}
