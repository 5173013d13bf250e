package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SeriesKernels
import graft.model.Tier
import Rounding.{r4, r4d}

/** Change detection & pattern matching ≙ the reference's
  * `sits_dtw` / `sits_patterns` / `sits_bayts`
  * (/root/reference/R/sits_dtw.R:27, R/sits_patterns.R:38-140,
  * R/sits_bayts.R:40; C kernels src/dtw.cpp, src/bayts_fns.cpp).
  *
  * Scale shape: patterns are tiny (|labels| × |timeline|) → broadcast to
  * every task; the per-series DP/scan runs in one mapGroups pass, so the
  * only shuffle is the conv grouping. The DTW DP is O(n·m) per series with
  * m = pattern length — bounded by the retention window.
  */
object ChangeDetect {

  /** Per-label prototype series on the tier grid — the reference fits a GAM
    * `y ~ s(x)` per label and resamples (sits_patterns.R:38-140). Here:
    * pointwise mean per (label, idx), then — for `lambda > 0` — a Whittaker
    * pass over each label's mean series. The Whittaker smoother IS the
    * discrete second-difference penalized spline, i.e. the same
    * penalized-least-squares family as mgcv's `s(x)`; `lambda = 0` keeps
    * the raw mean (constant-basis analog). Patterns are |labels|×|timeline|
    * — the smoothing pass is a tiny mapGroups over label groups.
    * labels: (conv_id, label). Output (label, idx, value).
    */
  def patterns(series: DataFrame, labels: DataFrame, idxCol: String = "idx",
      lambda: Double = 0.0): DataFrame = {
    val means = series.join(labels, "conv_id")
      .groupBy(col("label"), col(idxCol))
      .agg(avg("value").as("value"))
    if (lambda <= 0.0) means
    else smoothMeans(means, idxCol)(SeriesKernels.whittaker(_, lambda))
  }

  /** [[patterns]] with the smoothing parameter chosen per label by
    * generalized cross-validation (SeriesKernels.whittakerGcv) instead of a
    * fixed λ — the analog of the reference's mgcv-GCV default when fitting
    * GAM prototypes (sits_patterns.R:38-140).
    */
  def patternsGcv(series: DataFrame, labels: DataFrame, idxCol: String = "idx",
      lambdas: Seq[Double] = Seq(0.1, 0.5, 1.0, 2.0, 5.0, 10.0, 25.0, 100.0))
      : DataFrame = {
    val means = series.join(labels, "conv_id")
      .groupBy(col("label"), col(idxCol))
      .agg(avg("value").as("value"))
    smoothMeans(means, idxCol)(SeriesKernels.whittakerGcv(_, lambdas)._2)
  }

  /** [[patterns]] with a penalized B-SPLINE basis (P-spline, Eilers &
    * Marx) instead of the Whittaker full-rank penalty — the closest
    * in-engine analog of the reference's mgcv `gam(y ~ s(x))` prototype
    * fit (sits_patterns.R:38-140: penalized spline basis, quadratic
    * difference penalty). k basis functions over nseg = k−3 uniform
    * segments; labels with fewer than k mean points keep the raw mean
    * (basis would be rank-deficient). Output (label, idx, value).
    */
  def patternsBspline(series: DataFrame, labels: DataFrame,
      idxCol: String = "idx", lambda: Double = 1.0, k: Int = 8): DataFrame = {
    val means = series.join(labels, "conv_id")
      .groupBy(col("label"), col(idxCol))
      .agg(avg("value").as("value"))
    smoothMeans(means, idxCol)(y =>
      if (y.length < k) y else SeriesKernels.psplineFit(y, lambda, k)._4)
  }

  /** The P-spline OPTIMALITY CERTIFICATE relation for the driver oracle
    * (same style as the Whittaker resid oracle): per (label, basis fn j),
    * `bty` = (Bᵀy)_j — recomputable by the oracle from its own mean
    * series and the closed-form uniform basis — and `resid` =
    * (Bᵀy − (BᵀB + λD₂ᵀD₂)a)_j, identically 0 iff the engine's
    * coefficients solve the penalized normal equations. Both 4-dp
    * quantized at the boundary. Labels need ≥ k mean points.
    */
  def patternsBsplineCertificate(series: DataFrame, labels: DataFrame,
      idxCol: String = "idx", lambda: Double = 1.0, k: Int = 8): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val means = series.join(labels, "conv_id")
      .groupBy(col("label"), col(idxCol))
      .agg(avg("value").as("value"))
    GridSeries.byIndex(means, col("label").cast("int"), col(idxCol).cast("int"),
        col("value").cast("double")) {
      (lab: Int, rows: Array[(Int, Int, Double)]) =>
        val y = rows.map(_._3)
        if (y.length < k) Iterator.empty
        else {
          val (_, bty, resid, _) = SeriesKernels.psplineFit(y, lambda, k)
          (0 until k).iterator.map { j =>
            (lab, j + 1, y.length, r4d(bty(j)), r4d(resid(j)))
          }
        }
    }.toDF("label", "j", "m", "bty", "resid")
  }

  /** Per-label smoothing of the (label, idx, value) means relation. Keys by
    * the label's STRING form (labels may be any type — an int cast would
    * null non-integer labels and silently collapse them into one group),
    * then re-attaches the original-typed label via the tiny distinct label
    * relation (broadcast join).
    */
  private def smoothMeans(means: DataFrame, idxCol: String)(
      fit: Array[Double] => Array[Double]): DataFrame = {
    val spark = means.sparkSession
    import spark.implicits._
    val smoothed = GridSeries.byIndex(means, col("label").cast("string").as("label_s"),
        col(idxCol).cast("int"), col("value").cast("double")) {
      (lab: String, pts: Array[(String, Int, Double)]) =>
        val sm = fit(pts.map(_._3))
        pts.indices.iterator.map(i => (lab, pts(i)._2, sm(i)))
    }.toDF("label_s", idxCol, "value")
    smoothed.join(broadcast(means.select(col("label")).distinct()),
        col("label").cast("string") === col("label_s"))
      .select(col("label"), col(idxCol), col("value"))
  }

  /** DTW classification: distance of each conv's series to every label
    * pattern (symmetric-2, p-norm local cost, dtw.cpp:36-105), assign the
    * argmin label. Patterns are collected (tiny) and broadcast.
    * series: (conv_id, idx, value); patterns: (label, idx, value).
    */
  def dtwClassify(spark: SparkSession, series: DataFrame, patterns: DataFrame,
      p: Double = 2.0): DataFrame = {
    import spark.implicits._
    val pats: Map[Int, Array[Double]] = patterns
      .select(col("label").cast("int"), col("idx").cast("int"), col("value").cast("double"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1)
      .map { case (l, rows) => l -> rows.sortBy(_._2).map(_._3) }
    val bc = spark.sparkContext.broadcast(pats)
    GridSeries.byIndex(series, col("conv_id"), col("idx").cast("int"),
        col("value").cast("double")) {
      (conv: String, rows: Array[(String, Int, Double)]) =>
        val s = rows.map(_._3)
        val ds = bc.value.toSeq.map { case (l, pat) =>
          (l, SeriesKernels.dtw(s, pat, p))
        }.sortBy(_._1)
        val best = ds.minBy(_._2) // first label wins ties (sorted by label)
        Iterator.single((conv, best._1, best._2))
    }.toDF("conv_id", "label", "dtw_dist")
  }

  /** bayts online change detection per conv over two metric bands on the
    * tier grid: NF-probability fusion (baytsNf) + sequential confirmation
    * (baytsDetect). stats rows: (meanF, sdF, meanNF, sdNF) per band.
    * Output: (conv_id, change_idx, changed) with -1 = no change.
    */
  def bayts(spark: SparkSession, seriesA: DataFrame, seriesB: DataFrame,
      stats: Array[(Double, Double, Double, Double)],
      threshold: Double = 0.5, chi: Double = 0.9): DataFrame = {
    import spark.implicits._
    val a = seriesA.select(col("conv_id"), col("idx").cast("int"),
      col("value").cast("double"), lit(0).as("band"))
    val b = seriesB.select(col("conv_id"), col("idx").cast("int"),
      col("value").cast("double"), lit(1).as("band"))
    val meanF = stats.map(_._1); val sdF = stats.map(_._2)
    val meanNF = stats.map(_._3); val sdNF = stats.map(_._4)
    // no GridSeries entry: an index-addressed two-band scatter needs no sort
    a.unionByName(b)
      .as[(String, Int, Double, Int)]
      .groupByKey(_._1)
      .mapGroups { (conv, it) =>
        val rows = it.toArray
        val nT = rows.map(_._2).max + 1
        val bands = Array.fill(2, nT)(Double.NaN)
        rows.foreach { r => bands(r._4)(r._2) = r._3 }
        val pnf = SeriesKernels.baytsNf(bands, meanF, sdF, meanNF, sdNF)
        val idx = SeriesKernels.baytsDetect(pnf, threshold, chi)
        (conv, idx, idx >= 0)
      }
      .toDF("conv_id", "change_idx", "changed")
  }

  /** Agglomerative (single-linkage) clustering over pairwise DTW distances
    * ≙ `sits_cluster_dendro` (/root/reference/R/sits_cluster.R:59+, which
    * delegates to dtwclust hierarchical clustering). Series are collected
    * (the reference clusters SAMPLE sets — thousands, not the cube; at
    * larger scale the pairwise matrix itself would be the crossJoin), the
    * O(k²) DTW matrix is computed distributed (one task per series row vs
    * the broadcast set), and the dendrogram cut at `nClusters` runs on the
    * driver (k² merges, trivial).
    * Returns (conv_id, cluster) with clusters numbered by smallest member.
    */
  def clusterDendro(spark: SparkSession, series: DataFrame, nClusters: Int,
      p: Double = 2.0, maxSeries: Int = 4000): DataFrame = {
    import spark.implicits._
    // SAMPLE-SET contract (matches the reference, which clusters sample
    // tibbles, sits_cluster.R:59): the series set is collected to the driver
    // and the distance matrix is O(k²). Guard so a user cannot point this at
    // a full cube — at cube scale, sample first (ts_sample_strat / sampleBy).
    // The default ceiling (4000) matches the reference's sample-tibble sizes;
    // at k=4000 each TASK holds at most its local triangle slice, and the
    // DRIVER collects only the filtered MST-candidate edges (≤ P·(k−1), see
    // below), never the full k(k−1)/2 triangle.
    val nSeries = series.select("conv_id").distinct().count()
    require(nSeries <= maxSeries,
      s"clusterDendro is a sample-set operator: got $nSeries series > " +
        s"maxSeries=$maxSeries; sample the input first (O(k²) distance matrix)")
    val arrs: Array[(String, Array[Double])] = series
      .select(col("conv_id"), col("idx").cast("int"), col("value").cast("double"))
      .as[(String, Int, Double)].collect()
      .groupBy(_._1).toArray
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3) }
      .sortBy(_._1)
    val k = arrs.length
    val bc = spark.sparkContext.broadcast(arrs.map(_._2))
    // Single-linkage merges are exactly the global-MST edges in increasing
    // order (Gower & Ross 1969). By the cycle property, any edge NOT in the
    // local MST of the subgraph a partition saw cannot be in the global MST,
    // so each task Kruskal-filters its own triangle slice down to ≤ k−1
    // edges before the driver ever sees them: driver memory is O(P·k), not
    // O(k²) — the round-2 scale flaw.
    val candidates = distributedMstCandidates(spark, bc, k, p)
    // driver-side single-linkage agglomeration down to nClusters
    val parent = Array.tabulate(k)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    var groups = k
    candidates.sortBy(e => (e._3, e._1, e._2)).foreach { case (i, j, _) =>
      if (groups > nClusters) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) { parent(math.max(ri, rj)) = math.min(ri, rj); groups -= 1 }
      }
    }
    val roots = (0 until k).map(find)
    val renumber = roots.distinct.sorted.zipWithIndex.toMap
    arrs.indices.map(i => (arrs(i)._1, renumber(roots(i)) + 1))
      .toDF("conv_id", "cluster")
  }

  /** Distributed pairwise-DTW upper triangle, Kruskal-filtered per task to
    * local-MST edges (≤ k−1 each) before collection. Exposed for the
    * bounded-driver-memory test.
    */
  private[graft] def distributedMstCandidates(spark: SparkSession,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int, p: Double): Array[(Int, Int, Double)] = {
    import spark.implicits._
    spark.range(0, k.toLong, 1, math.min(math.max(k / 8, 1), 64)).as[Long]
      .mapPartitions { it =>
        val vs = bc.value
        val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
        it.foreach { i =>
          val vi = vs(i.toInt)
          var j = i.toInt + 1
          while (j < vs.length) {
            edges += ((i.toInt, j, SeriesKernels.dtw(vi, vs(j), p))); j += 1
          }
        }
        localMst(edges.toArray, vs.length).iterator
      }.collect()
  }

  /** Kruskal over one task's edge slice: returns only the edges in the local
    * MST/forest (cycle-property filter — a superset of the global MST's
    * intersection with this slice). Deterministic (dist, i, j) tie-break.
    */
  private def localMst(edges: Array[(Int, Int, Double)], k: Int): Array[(Int, Int, Double)] = {
    val parent = Array.tabulate(k)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    edges.sortBy(e => (e._3, e._1, e._2)).foreach { e =>
      val (ri, rj) = (find(e._1), find(e._2))
      if (ri != rj) { parent(math.max(ri, rj)) = math.min(ri, rj); kept += e }
    }
    kept.toArray
  }

  /** `sits_cluster_frequency` (R/sits_cluster.R:141): label × cluster
    * contingency WITH margin totals — R's `addmargins` expressed with
    * Spark's native CUBE grouping sets (nulls from the margin groupings
    * become the 'Total' row/column). The contingency is label-set-bounded,
    * so everything after the one partial-aggregated count is metadata.
    */
  def clusterFrequency(clustered: DataFrame): DataFrame =
    clustered.cube(col("label"), col("cluster"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("label"), lit("Total")).as("label"),
        coalesce(col("cluster").cast("string"), lit("Total")).as("cluster"),
        col("n"))

  /** `sits_cluster_clean` (R/sits_cluster.R:185): keep only each cluster's
    * majority label (R `which.max` takes the FIRST max over the
    * label-sorted table → tie-break is smallest label). One bounded count
    * agg → rank 1 per cluster → equi-join back; samples never collect.
    */
  def clusterClean(clustered: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("n").desc, col("label"))
    val top = clustered.groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("cluster", "label")
    clustered.join(broadcast(top), Seq("cluster", "label"))
  }

  /** Offline single-changepoint detection by binary segmentation with the
    * L2 (mean-shift) cost (Scott & Knott 1974; the first split of any
    * binseg/PELT cascade) — the OFFLINE counterpart of the online
    * [[SeriesOps.cusum]] / [[bayts]] detectors, mirroring the reference's
    * change-detection family (/root/reference/R/sits_detect_change.R) on a
    * whole-series retrospective contract.
    *
    * With prefix sums S_t and total sum-of-squares fixed, minimizing
    *   cost(t) = Σ_{i≤t}(y_i − ȳ_L)² + Σ_{i>t}(y_i − ȳ_R)²
    * is equivalent to maximizing
    *   score(t) = S_t²/t + (S_n − S_t)²/(n − t),
    * so the whole detector is one conv-partitioned window pass (the prefix
    * sum shares the ordering sort) plus a per-conv top-1 — no per-series
    * kernel, purely relational, one shuffle. Split points respect a
    * minimum segment of `minSeg` on both sides; series shorter than
    * 2·minSeg are excluded. On integer-valued series S_t is an exact
    * integer, so score(t) is two IEEE divisions in a fixed expression
    * order — bit-identical cross-engine; the 4-dp-quantized score orders
    * the argmax (ties → earliest t). Output: (conv_id, n_obs, cp_idx,
    * score, gain) where gain = r4(score − S_n²/n) ≥ 0 is the variance
    * explained by the split (×n).
    */
  def changepointBinseg(metrics: DataFrame, minSeg: Int = 2,
      valueCol: String = "value"): DataFrame = {
    require(minSeg >= 1, "minSeg >= 1")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("ts", "turn_idx")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    val scored = metrics
      .withColumn("t", row_number().over(wOrd))
      .withColumn("s_t", sum(col(valueCol)).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s_n", sum(col(valueCol)).over(wAll))
      .filter(col("n") >= 2 * minSeg &&
        col("t") >= minSeg && col("t") <= col("n") - minSeg)
      .withColumn("score", r4(
        col("s_t") * col("s_t") / col("t") +
        (col("s_n") - col("s_t")) * (col("s_n") - col("s_t")) /
          (col("n") - col("t"))))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("score").desc, col("t"))
    scored
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("conv_id"), col("n").cast("long").as("n_obs"),
        col("t").as("cp_idx"), col("score"),
        r4(col("score") - col("s_n") * col("s_n") / col("n")).as("gain"))
  }

  /** Day-index series of a metric (shared input shape for this module). */
  def daySeries(transcripts: DataFrame, metric: String, origin: String): DataFrame =
    Regularize.withMetrics(transcripts)
      .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
      .agg(avg(metric).as("value"))
      .select(col("conv_id"),
        datediff(col("bucket_ts"), lit(origin).cast("date")).as("idx"),
        col("value"))
}
