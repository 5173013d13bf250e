package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sanity-check verbs ≙ the reference's `summary()` methods and
  * `hist.raster_cube` (/root/reference/R/sits_summary.R:139 raster summary,
  * :231-254 derived-cube `summary()` = min/Q1/median/mean/Q3/max per band,
  * R/sits_histogram.R:59+ fixed-bin band histogram).
  *
  * Scale shape: `summarize` is one combined aggregate pass (count/mean/
  * min/max for every metric at once) plus [[Predictors.exactQuantiles]]
  * per metric — the partition-parallel exact quantile, never a
  * single-reducer percentile. The result relation is |metrics| rows,
  * assembled on the driver from those scalars (a stats verb IS a driver
  * action, like the reference printing `summary(rast)`). `histogram` is a
  * scalar min/max job plus one partially-aggregated groupBy on the bin id.
  */
object Summary {

  /** Not [[Rounding.r4d]]: Scala's `BigDecimal(x)` starts from the shortest
    * decimal string of `x`, not its exact binary value, so the two can round
    * a half-boundary differently.
    */
  private def r4(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `sits_timeline` analog (/root/reference/R/sits_timeline.R): the
    * ordered distinct instants of a tier relation, with per-instant
    * coverage (how many series have the slot) — one partial-aggregable
    * groupBy, |timeline| output rows.
    */
  def timeline(df: DataFrame, tsCol: String = "bucket_ts"): DataFrame =
    df.groupBy(col(tsCol))
      .agg(count(lit(1)).as("n_series"))
      .orderBy(tsCol)

  /** `summary.sits` analog (/root/reference/R/sits_summary.R:35-60: label
    * counts and proportions of a samples tibble) — one partial-aggregable
    * groupBy plus a broadcast total.
    */
  def labelSummary(samples: DataFrame, labelCol: String = "label"): DataFrame = {
    val cnt = samples.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    cnt.crossJoin(broadcast(cnt.agg(sum("n").as("total"))))
      .select(col(labelCol), col("n"),
        round(col("n").cast("double") / col("total") + lit(1e-9), 4).as("prop"))
      .orderBy(labelCol)
  }

  /** R `summary()` per metric column: n (non-null), mean, min, Q1, median,
    * Q3, max — quantiles type-7 (R default), matching DuckDB
    * `quantile_cont` exactly. One row per metric.
    */
  def summarize(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "summarize: no metric columns")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"),
      avg(col(c)).as(s"mean_$c"),
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val out = cols.map { c =>
      val Seq(q1, med, q3) = Predictors.exactQuantiles(df, c, Seq(0.25, 0.5, 0.75))
      (c, row.getAs[Long](s"n_$c"), r4(row.getAs[Double](s"mean_$c")),
        row.getAs[Double](s"min_$c"), r4(q1), r4(med), r4(q3),
        row.getAs[Double](s"max_$c"))
    }
    out.toDF("metric", "n", "mean_v", "min_v", "q1", "median", "q3", "max_v")
  }

  /** Approximate distinct count by LINEAR COUNTING (Whang et al., TODS'90):
    * hash every value into one of m buckets, count occupied buckets b, and
    * estimate n̂ = m·ln(m/(m−b)). Unlike HLL (Spark's
    * `approx_count_distinct`) the estimator is a DETERMINISTIC function of
    * the value set — u32(md5(value)) % m — so it is reproducible across
    * engines, runs, and cluster sizes, and the occupied-bucket set is
    * mergeable (a set union) exactly like a production sketch. The plan is
    * a two-phase distinct aggregate over the bucket id: partial distinct
    * map-side, m-bounded state. Requires b < m (estimator saturates).
    */
  def linearCountDistinct(df: DataFrame, colName: String,
      m: Int = 1024): DataFrame = {
    val bucket = Accuracy.kfoldAssign(col(colName), m)
    df.filter(col(colName).isNotNull)
      .select(bucket.as("bucket"))
      .agg(countDistinct(col("bucket")).as("occupied"))
      .select(lit(m).as("m"), col("occupied"),
        when(col("occupied") < m,
          round(lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m) - col("occupied"))) + lit(1e-9), 4))
          // saturated table: the estimator is undefined — fail loudly
          // instead of returning Infinity (raise m for larger cardinalities)
          .otherwise(raise_error(lit(
            s"linearCountDistinct: all $m buckets occupied — estimator " +
              "saturated, increase m")).cast("double"))
          .as("est_distinct"))
  }

  /** Approximate quantiles from ONE fixed-bin histogram pass (the
    * mergeable-summary shape a 100 TB stats verb needs — [[summarize]]'s
    * exact quantiles cost a range-exchange per metric; bin counts are a
    * single partial-aggregated groupBy and merge across any partitioning).
    * Within the located bin the quantile interpolates linearly (classic
    * equi-width histogram estimator; error ≤ one bin width, tested).
    * The bin relation is nBins-bounded metadata — the cumulative walk runs
    * on the driver like [[summarize]]'s assembly; every float op is plain
    * IEEE arithmetic on integer-derived values, so the oracle replays it
    * with a window cumsum.
    */
  def histQuantiles(df: DataFrame, colName: String, nBins: Int,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "bad quantiles")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = histogram(df, colName, nBins)
      .select("bin", "lo", "hi", "cnt").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    val n = bins.map(_._4).sum
    val out = ps.map { p =>
      val target = p * n
      var cum = 0L
      val (_, lo, hi, cnt) = bins.find { case (_, _, _, c) =>
        val hit = cum + c >= target && c > 0; if (!hit) cum += c; hit
      }.getOrElse(bins.last)
      val q = lo + (target - cum) / cnt * (hi - lo)
      (p, r4(math.max(lo, math.min(q, hi))))
    }
    out.toDF("p", "q_est")
  }

  /** Fixed-bin histogram of one metric over its global [min, max] range
    * (hist.raster_cube semantics, exact over the relation rather than the
    * reference's 100k-cell sample). Empty bins are absent (groupBy), the
    * max value lands in the last bin. Bin arithmetic is plain IEEE double
    * ops in both engines — oracle-identical.
    */
  def histogram(df: DataFrame, colName: String, nBins: Int): DataFrame = {
    require(nBins > 0, "histogram: nBins must be positive")
    val v = col(colName).cast("double")
    val mm = df.select(v.as("v")).filter(col("v").isNotNull)
      .agg(min("v"), max("v")).head
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    require(mx > mn, s"histogram($colName): degenerate range [$mn, $mx]")
    df.select(v.as("v")).filter(col("v").isNotNull)
      .groupBy(least(floor((col("v") - lit(mn)) / (lit(mx) - lit(mn)) * nBins),
        lit(nBins - 1)).cast("int").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bin"),
        Rounding.r4(lit(mn) + col("bin") * (lit(mx) - lit(mn)) / nBins).as("lo"),
        Rounding.r4(lit(mn) + (col("bin") + 1) * (lit(mx) - lit(mn)) / nBins).as("hi"),
        col("cnt"))
  }

  /** Count-min sketch frequency estimation (Cormode & Muthukrishnan,
    * J.Alg'05) — the third member of the approximate-aggregates family:
    * point-frequency queries over a vocabulary too large to aggregate
    * exactly. The sketch is a d×w count relation (≤ d·w rows — bounded,
    * MERGEABLE across partitions/batches by plain addition, broadcastable);
    * cell_r(x) = u32(md5(r:x)) mod w (the engine-parity hash primitive —
    * deterministic, oracle-replayable); estimate(x) = min over the d rows
    * of its cells, with the classic one-sided guarantee est ≥ true.
    *
    * `true_cnt` (the exact vocabulary aggregate the sketch exists to avoid
    * at 10^12 tokens) is emitted as the verification column, same contract
    * as bloomScreen.is_member.
    */
  /** The d hash cells of each word occurrence — shared by the batch sketch
    * aggregation and the streaming (Complete-mode, d·w-bounded-state)
    * variant in StreamingRollup.
    */
  private[graft] def cmsCells(docs: DataFrame, d: Int, w: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(explode(array((0 until d).map(r => struct(lit(r).as("r"),
        pmod(Accuracy.u32Md5(concat(lit(s"$r:"), col("word"))), lit(w.toLong))
          .as("pos"))): _*)).as("cell"))
      .select(col("cell.r").as("r"), col("cell.pos").as("pos"))

  def cmsWordFreq(docs: DataFrame, probeWords: Seq[String], d: Int = 4,
      w: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    def cells = explode(array((0 until d).map(r => struct(lit(r).as("r"),
      pmod(Accuracy.u32Md5(concat(lit(s"$r:"), col("word"))), lit(w.toLong))
        .as("pos"))): _*)).as("cell")
    val cms = cmsCells(docs, d, w)
      .groupBy(col("r"), col("pos"))
      .agg(count(lit(1)).as("cnt"))
    val est = probeWords.toDF("word").select(col("word"), cells)
      .select(col("word"), col("cell.r").as("r"), col("cell.pos").as("pos"))
      .join(broadcast(cms), Seq("r", "pos"), "left")
      .groupBy("word").agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
    val truth = words.groupBy("word").agg(count(lit(1)).as("true_cnt"))
    est.join(truth, Seq("word"), "left")
      .na.fill(0L, Seq("true_cnt"))
      .select(col("word"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overcount"))
  }

  /** Exact frequent items by the Misra-Gries two-pass (Misra & Gries '82;
    * the MG summary's no-false-negative guarantee makes the FINAL output
    * independent of partitioning): pass 1 runs a k-counter Misra-Gries
    * summary per partition (O(k) memory, no shuffle) and unions the ≤ k·P
    * candidate items; pass 2 exactly recounts ONLY rows matching a
    * candidate (broadcast semi-join — at 10^12 turns the full-vocabulary
    * groupBy never happens) and keeps items with cnt·k > total. The corpus
    * is read exactly TWICE: pass 1 emits each partition's row count as a
    * (null, n) sentinel record next to its candidates, so `total` comes out
    * of the same scan (a separate count() would be a third full read — the
    * dominant cost at design scale). Every MG
    * partition summary retains any item with global count > n_p/k, so the
    * union retains every item with count > n/k regardless of how rows
    * land in partitions; the exact recount then removes sketch false
    * positives — deterministic output, sketch-sized state. Output:
    * (item, cnt), the exact counts of all items above the n/k frequency
    * threshold.
    */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    // ≤ ((k-1)+1)·P rows — collected once, so neither `total` nor the
    // candidate set re-executes the pass-1 scan.
    val summaries = items.as[String]
      .mapPartitions { it =>
        val counters = new scala.collection.mutable.HashMap[String, Long]()
        var np = 0L
        it.foreach { x =>
          np += 1
          if (counters.contains(x)) counters(x) += 1
          else if (counters.size < k - 1) counters(x) = 1
          else {
            // decrement-all step; drop zeroed counters
            val dead = new scala.collection.mutable.ArrayBuffer[String]()
            counters.keysIterator.foreach { key =>
              val c = counters(key) - 1
              if (c == 0) dead += key else counters(key) = c
            }
            dead.foreach(counters.remove)
          }
        }
        Iterator.single((null: String, np)) ++ counters.keysIterator.map((_, 0L))
      }
      .collect()
    val total = summaries.collect { case (null, np) => np }.sum
    val candidates = summaries
      .collect { case (item, _) if item != null => item }
      .distinct.toSeq.toDF("item")
    items.join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > total)
  }

  /** Power-of-two (log2) latency histogram with conservative quantile
    * upper bounds — the Prometheus/HDR-histogram shape: bucket b holds
    * values in [2^b, 2^(b+1)), computed EXACTLY from the integer bit
    * length (`length(bin(v)) - 1`, no floating log), non-positive values
    * in bucket −1. Per-key state is a bounded mergeable relation (≤64
    * buckets) at ANY scale — the partial agg merges across any
    * partitioning — and each quantile answer is the upper bound of the
    * first bucket whose cumulative count reaches ⌈p·n⌉ (bounded relative
    * error, integer-exact cross-engine). Output: (key, n_obs,
    * p<P>_ub...).
    */
  /** floor(log2 v) from the integer bit length (bucket −1 for v ≤ 0) —
    * shared by the batch and streaming histogram paths so stream state
    * merges bit-identically into batch cells.
    */
  def log2Bucket(valueCol: Column): Column = {
    val v = valueCol.cast("long")
    when(v <= 0, lit(-1)).otherwise(length(bin(v)) - 1)
  }

  def logHistQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), "bad quantiles")
    val hist = df.filter(col(valueCol).cast("long").isNotNull)
      .groupBy(col(keyCol), log2Bucket(col(valueCol)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(keyCol).orderBy("bucket")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy(keyCol)))
      .withColumn("ub", when(col("bucket") < 0, lit(0L))
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1")))
    val aggs = ps.map { p =>
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("ub")))
        .as(s"p${(p * 100).round}_ub")
    }
    cum.groupBy(col(keyCol), col("n").as("n_obs"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** KMV bottom-k sketch over a key column: the k smallest u32(md5(key))
    * of the DISTINCT keys — a deterministic, mergeable uniform key sample
    * (planned as a partial per-partition top-k, TakeOrderedAndProject:
    * no global sort, no RNG, resume-stable) plus the classic KMV
    * distinct-count estimate F0 ≈ (k−1)·2^32 / h_k. When fewer than k
    * distinct keys exist the sample is exhaustive and the estimate is the
    * exact count. Output: (key, h, rank) rows of the sample.
    */
  def bottomKSample(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val keyed = df.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull).distinct()
      .withColumn("h", Accuracy.u32Md5(col("key")))
    val w = Window.orderBy("h", "key")
    // limit(k) plans TakeOrderedAndProject over (h, key); the rank window
    // then runs on k rows only — bounded, not a whole-relation window
    keyed.orderBy("h", "key").limit(k)
      .withColumn("rank", row_number().over(w))
  }

  /** The KMV estimate read off [[bottomKSample]]: one row
    * (n_sampled, h_k, est_distinct). est = (k−1)·2^32/h_k when the sketch
    * is full, else the exact sampled count.
    */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int): DataFrame =
    bottomKSample(df, keyCol, k)
      .agg(count(lit(1)).as("n_sampled"), max("h").as("h_k"))
      .select(col("n_sampled"), col("h_k"),
        when(col("n_sampled") < k, col("n_sampled").cast("double"))
          .otherwise(round((lit(k) - 1) * lit(4294967296.0) / col("h_k")
            + lit(1e-9), 4))
          .as("est_distinct"))

  /** Gini concentration of activity across keys (how unequal is the
    * per-conversation turn volume) WITHOUT a corpus-wide rank window:
    * keys are first counted (one hash agg), then grouped BY COUNT VALUE
    * (distinct counts are bounded by the max per-key volume, thousands
    * not billions), and the classic Σ rank·x term is reconstructed from
    * the grouped relation — a tie block of `m` keys at count `c` whose
    * ranks span (M, M+m] contributes c·(m·M + m(m+1)/2), with M the
    * running key total over smaller counts (a window over the SMALL
    * distinct-count relation). G = (2·Σ rank·x − (n+1)·T) / (n·T), all
    * integer until the one division. Output: one row (n_keys, total,
    * gini).
    */
  def giniCounts(df: DataFrame, keyCol: Column): DataFrame = {
    val counted = df.groupBy(keyCol.as("key"))
      .agg(count(lit(1)).as("c"))
    val grouped = counted.groupBy("c").agg(count(lit(1)).as("m"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("bigM", sum("m").over(w) - col("m"))
      // srx2 = 2·Σ rank·x kept in ONE integer product chain (no mid-
      // division — m(m+1) is even but `/` would go double); exact while
      // n_keys²·c_max < 2^63
      .select(col("c"), col("m"),
        (col("c") * (lit(2) * col("m") * col("bigM") +
          col("m") * (col("m") + 1))).as("rx2"),
        (col("c") * col("m")).as("x"))
      .agg(sum("m").as("n_keys"), sum("x").as("total"), sum("rx2").as("srx2"))
      .select(col("n_keys"), col("total"),
        round((col("srx2") - (col("n_keys") + 1) * col("total"))
          .cast("double") /
          (col("n_keys") * col("total")).cast("double") + lit(1e-9), 4)
          .as("gini"))
  }

  /** Grouped top-k: the `k` heaviest keys per bucket (count desc, key asc
    * tie-break) — the TimescaleDB `topn`/"top conversations per day"
    * verb. The rank window is partitioned by bucket, so Spark plans a
    * WindowGroupLimit: each map task keeps only its local top-k per
    * bucket BEFORE the shuffle — the whole-bucket row set never
    * materializes on one task at any corpus size. Output:
    * (bucket, rank, key, n).
    */
  def topPerBucket(df: DataFrame, bucketCol: Column, keyCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val counted = df
      .groupBy(bucketCol.as("bucket"), keyCol.as("key"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("bucket")
      .orderBy(col("n").desc, col("key"))
    counted
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("bucket"), col("rank"), col("key"), col("n"))
  }

  /** Bucket-over-bucket volume movers — the "what changed since
    * yesterday" ops dashboard: per (key, bucket) counts, integer delta vs
    * the key's previous PRESENT bucket, then the top-k keys by |delta|
    * per bucket (ties broken by key for determinism). A key's first
    * bucket has no predecessor and is excluded from ranking. All-integer
    * contract. Scale shape: one partial-agg groupBy collapses the raw
    * relation to |keys|·|buckets| rows; both windows (lag per key, rank
    * per bucket) run on that collapsed relation — the raw table is
    * never window-scanned, and row_number ≤ k plans as WindowGroupLimit.
    */
  def dayMovers(df: DataFrame, bucketCol: Column, keyCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val counted = df
      .groupBy(keyCol.as("key"), bucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val byKey = Window.partitionBy("key").orderBy("bucket")
    val deltas = counted
      .withColumn("delta", col("n") - lag("n", 1).over(byKey))
      .filter(col("delta").isNotNull)
    val byBucket = Window.partitionBy("bucket")
      .orderBy(abs(col("delta")).desc, col("key"))
    deltas
      .withColumn("rank", row_number().over(byBucket))
      .filter(col("rank") <= k)
      .select(col("bucket"), col("rank"), col("key"), col("n"), col("delta"))
  }

  /** HyperLogLog register relation (Flajolet et al. 2007) over a key
    * column: 2^p registers, register id = top p bits of [[Accuracy.u32Md5]],
    * register value = max over keys of (leading-zero count of the
    * remaining 32−p bits) + 1 (the classic ρ). The OUTPUT is the sketch
    * itself — 2^p integer rows — not the harmonic-mean estimate: the
    * register relation is the mergeable state a 1000-executor fleet
    * combines with a plain max-groupBy (register-wise max IS the HLL merge
    * operator), and it is integer-exact cross-engine, whereas the
    * Σ2^{−M_j} harmonic sum needs up to 33+p significant bits — past
    * double's 53 only in pathological cases, but the register contract
    * removes the question entirely. The leading-zero count is computed
    * from the minimal-width binary rendering (`bin`, identical in Spark
    * and DuckDB): ρ = (32−p) − len(bin(rem)) + 1, with rem = 0 → 33−p.
    * One hash-partial-agg pass; registers never seen stay absent (sparse
    * representation — dense-ify at merge time if needed).
    * Output: (register, rho) sorted by register.
    */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val remBits = 32 - p
    val h = Accuracy.u32Md5(col(keyCol))
    df.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .select(
        shiftright(h, remBits).cast("int").as("register"),
        pmod(h, lit(1L << remBits)).as("rem"))
      .withColumn("rho",
        when(col("rem") === 0, lit(remBits + 1))
          .otherwise(lit(remBits) - length(bin(col("rem"))) + 1)
          .cast("int"))
      .groupBy("register")
      .agg(max("rho").as("rho"))
  }

  /** Top-share concentration ([[giniCounts]]'s companion): the fraction of
    * total volume held by the heaviest ⌈n·num/den⌉ keys — "the top 1% of
    * conversations carry X% of turns". Same no-corpus-rank-window design
    * as Gini: keys are counted (one hash agg), grouped BY COUNT VALUE
    * (bounded distinct counts), and the top-k volume is reconstructed by
    * walking count groups from the heaviest — a boundary group of tied
    * keys contributes (k − keys_above)·c, identical for ANY tie-break, so
    * the result is deterministic without ordering keys. k uses integer
    * ceiling (n·num + den − 1) DIV den — no float boundary. Output: one
    * row (n_keys, total, top_k, top_sum, top_share).
    */
  def topShare(df: DataFrame, keyCol: Column, num: Int = 1, den: Int = 100)
      : DataFrame = {
    require(num > 0 && den >= num, "0 < num <= den")
    val grouped = df.groupBy(keyCol.as("key"))
      .agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("n_keys", sum("m").over(wAll))
      .withColumn("total", sum(col("m") * col("c")).over(wAll))
      .withColumn("k", expr(s"(n_keys * $num + ${den - 1}) DIV $den"))
      .withColumn("above", sum("m").over(wDesc) - col("m"))
      .withColumn("take",
        greatest(lit(0L), least(col("m"), col("k") - col("above"))))
      .groupBy("n_keys", "total", "k")
      .agg(sum(col("take") * col("c")).as("top_sum"))
      .select(col("n_keys"), col("total"), col("k").as("top_k"),
        col("top_sum"),
        round(col("top_sum").cast("double") / col("total").cast("double")
          + lit(1e-9), 4).as("top_share"))
  }

  /** Benford's-law literals log10(1 + 1/d), d = 1..9 — hard-coded doubles
    * so BOTH engines consume identical constants (no libm log10 call in
    * either plan).
    */
  val benfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** First-significant-digit census vs Benford's law — the classic
    * fabricated-data / pipeline-bug screen over a positive integer-valued
    * metric. One partially-aggregated groupBy into ≤9 digit groups (string
    * head of the integer rendering — no float log), then shares and χ²
    * contributions (O_d − n·p_d)²/(n·p_d) on the 9-row relation. Output:
    * (digit, n, share, exp_p, chi_term), 4-dp at the boundary.
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val pExpr = element_at(array(benfordP.map(lit): _*),
      col("digit").cast("int"))
    val d = df
      .filter(col(valueCol).cast("long") > 0)
      .select(substring(col(valueCol).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy()
    d.withColumn("total", sum("n").over(w))
      .withColumn("exp_p", pExpr)
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total") + lit(1e-9), 4)
          .as("share"),
        round(col("exp_p") + lit(1e-9), 4).as("exp_p"),
        round((col("n") - col("total") * col("exp_p")) *
          (col("n") - col("total") * col("exp_p")) /
          (col("total") * col("exp_p")) + lit(1e-9), 4).as("chi_term"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between the integer
    * value distributions of two cohorts — THE metric for "how far did this
    * distribution drift" when PSI/KL bucket losses are unacceptable
    * (Ramdas et al. 2017: W₁ = ∫|F_A − F_B|). Input: a relation with an
    * integer `valueCol` and a boolean `cohortACol`. The corpus pass is one
    * partial-aggregable census per distinct value; the CDF walk runs on
    * the |distinct values|-bounded census (the ts_gini bounded-window
    * shape). Exactness: W₁·N_A·N_B = Σ |cumA·N_B − cumB·N_A|·Δx is an
    * exact BIGINT sum (documented bound: |cumA·N_B| ≤ N_A·N_B and the
    * Δx-weighted sum must stay < 2⁵³ — at 10¹² rows run per-shard and
    * average, or lift to DecimalType), divided ONCE at the boundary.
    * One row: (n_a, n_b, support, w1).
    */
  def wasserstein1(df: DataFrame, valueCol: String, cohortACol: String): DataFrame =
    cohortWalk(df, valueCol, cohortACol)
      .agg(max("tot_a").as("n_a"), max("tot_b").as("n_b"),
        count(lit(1)).as("support"),
        sum(abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a"))
          * col("dx")).as("num"))
      .select(col("n_a"), col("n_b"), col("support"),
        round(col("num").cast("double") / (col("n_a") * col("n_b"))
          + lit(1e-9), 4).as("w1"))

  /** Two-sample Kolmogorov-Smirnov test over the same CDF walk as
    * [[wasserstein1]]: D = sup|F_A − F_B| is the exact integer maximum of
    * |cumA·N_B − cumB·N_A| over the census, divided once; the α=0.05
    * critical value 1.358·√((N_A+N_B)/(N_A·N_B)) uses the shared Smirnov
    * constant and a correctly-rounded sqrt. `reject` compares the two
    * already-4-dp-rounded columns, so the verdict is hash-deterministic.
    */
  def ksTest(df: DataFrame, valueCol: String, cohortACol: String): DataFrame =
    cohortWalk(df, valueCol, cohortACol)
      .agg(max("tot_a").as("n_a"), max("tot_b").as("n_b"),
        count(lit(1)).as("support"),
        max(abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
          .as("dnum"))
      .select(col("n_a"), col("n_b"), col("support"),
        round(col("dnum").cast("double") / (col("n_a") * col("n_b"))
          + lit(1e-9), 4).as("d_stat"),
        round(lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a").cast("double") * col("n_b"))) + lit(1e-9), 4)
          .as("crit_05"))
      .withColumn("reject", col("d_stat") > col("crit_05"))

  /** Shared two-cohort CDF walk: per-distinct-value census (the one
    * corpus-sized pass, partial-aggregable) + integer cumulative sums on
    * the |distinct values|-bounded relation.
    */
  private def cohortWalk(df: DataFrame, valueCol: String,
      cohortACol: String): DataFrame = {
    val census = df
      .select(col(valueCol).cast("long").as("v"),
        when(col(cohortACol), 1L).otherwise(0L).as("in_a"))
      .groupBy("v")
      .agg(sum("in_a").as("na"), (count(lit(1)) - sum("in_a")).as("nb"))
    val w = Window.partitionBy().orderBy("v")
    census
      .withColumn("cum_a", sum("na").over(w))
      .withColumn("cum_b", sum("nb").over(w))
      .withColumn("dx", coalesce(lead("v", 1).over(w) - col("v"), lit(0L)))
      .withColumn("tot_a", sum("na").over(Window.partitionBy()))
      .withColumn("tot_b", sum("nb").over(Window.partitionBy()))
  }

  /** Time-decayed top-k: per-key counts weighted by step-wise weekly
    * halving, `w(age) = 2^(-⌊age_days/7⌋)` — the "what is hot NOW"
    * leaderboard whose weights are PURE INTEGER (10⁴ >> weeks, zero for
    * ≥ 14 weeks), so the decayed mass is an exact BIGINT sum: no pow(),
    * no libm, no summation-order hazard. The corpus pass partial-aggs to
    * (key, age_day) cells; the reference day is the census max (scalar
    * window over the bounded census — the ts_staleness shape). Output:
    * top-k keys by decayed mass (TakeOrderedAndProject).
    */
  def decayedTopK(df: DataFrame, keyCol: String, tsCol: String, k: Int): DataFrame = {
    val census = df
      .select(col(keyCol).as("key"),
        floor(GridSeries.ms(col(tsCol)) / lit(86400000L))
          .cast("long").as("day"))
      .groupBy("key", "day").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    val weighted = census
      .withColumn("age_w",
        floor((max("day").over(wAll) - col("day")) / 7).cast("int"))
      .withColumn("wq",
        when(col("age_w") >= 14, 0L)
          .otherwise(expr("10000 DIV shiftleft(CAST(1 AS BIGINT), age_w)")))
    weighted.groupBy("key")
      .agg(sum("n").as("n_total"), sum(col("n") * col("wq")).as("dq"))
      .select(col("key"), col("n_total"),
        round(col("dq") / lit(10000d), 4).as("decayed"))
      .orderBy(col("decayed").desc, col("key"))
      .limit(k)
  }
}
