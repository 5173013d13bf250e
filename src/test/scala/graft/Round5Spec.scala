package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{GapFill, Regularize, Rollup, SeriesRollup}

/** Round-5 additions: quantile-bearing tier state (the SURVEY §7.4
  * retention contract hole), the realtimeState stale-store completeness
  * guard, and the hampel NULL-window contract.
  */
class Round5Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val h0 = 1704067200000L // 2024-01-01T00:00:00Z
  private def tsAt(sec: Long) = new java.sql.Timestamp(h0 + sec * 1000)

  // hand-built firstValid grid (conv_id, bucket_ts, value):
  //  a: m0=0.0 (hb −1), m1=1.0 (hb 0), m2 ABSENT → linear fill 3.0 (hb 1),
  //     m3=5.0 (hb 2)
  //  b: m0=0.7, m1=0.2 — both truncate to 0 → hb −1
  private def fvSmall = Seq(
    ("a", tsAt(0), Some(0.0)), ("a", tsAt(60), Some(1.0)),
    ("a", tsAt(180), Some(5.0)),
    ("b", tsAt(0), Some(0.7)), ("b", tsAt(60), Some(0.2)))
    .toDF("conv_id", "bucket_ts", "value")

  test("stateDenseHist: moments match stateDense; hist cells are the exact log2 census incl. the gap-filled point") {
    val plain = SeriesRollup.stateDense(spark, fvSmall, Tier.M1, Tier.H1)
      .orderBy("conv_id", "bucket_ts").collect()
    val withH = SeriesRollup.stateDenseHist(spark, fvSmall, Tier.M1, Tier.H1)
      .orderBy("conv_id", "bucket_ts").collect()
    assert(plain.length == withH.length)
    plain.zip(withH).foreach { case (p, h) =>
      (0 until p.length).foreach(i => assert(p(i) == h(i),
        s"moment col $i differs: ${p(i)} vs ${h(i)}"))
    }
    def hist(r: org.apache.spark.sql.Row): Map[Int, Long] =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("hist"))
        .map(c => c.getInt(0) -> c.getLong(1)).toMap
    val byConv = withH.map(r => r.getString(0) -> r).toMap
    assert(hist(byConv("a")) == Map(-1 -> 1L, 0 -> 1L, 1 -> 1L, 2 -> 1L),
      s"a: ${hist(byConv("a"))}")
    assert(hist(byConv("b")) == Map(-1 -> 2L), s"b: ${hist(byConv("b"))}")
    // hist counts always sum to n
    withH.foreach { r =>
      assert(hist(r).values.sum == r.getLong(r.fieldIndex("n")))
    }
  }

  test("stateDenseHist moments equal tierState over fillDense of the same first-valid relation") {
    val tr = graft.sources.Transcripts.synthetic(spark, nConv = 40)
    val fv = Regularize.firstValid(tr.toDF(), Tier.M1)
    def byKey(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "bucket_ts", "n", "sum_v", "sum2_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap
    val fused = byKey(SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1))
    val direct = byKey(Rollup.tierState(GapFill.fillDense(spark, fv, Tier.M1), Tier.H1))
    assert(fused.keySet == direct.keySet)
    assert(fused.nonEmpty)
    for ((k, f) <- fused; d = direct(k)) {
      Seq("n", "min_v", "max_v").foreach(c =>
        assert(f.getAs[Any](c) == d.getAs[Any](c), s"$c differs at $k"))
      Seq("sum_v", "sum2_v").foreach { c =>
        (Option(f.getAs[java.lang.Double](c)), Option(d.getAs[java.lang.Double](c))) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
              s"$c differs at $k: $a vs $b")
          case (a, b) => assert(a == b, s"$c differs at $k: $a vs $b")
        }
      }
    }
  }

  test("cascadeHist 1h→1d equals stateDenseHist computed directly at 1d (exact mergeability)") {
    val tr = graft.sources.Transcripts.synthetic(spark, nConv = 40)
    val fv = Regularize.firstValid(tr.toDF(), Tier.M1)
    val viaCascade = Rollup.cascadeHist(
      SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1), Tier.D1)
    val direct = SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.D1)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(col("conv_id"), col("bucket_ts"), col("n"),
        col("min_v"), col("max_v"),
        // hist as a sorted render (cascade packs sorted structs already,
        // but canon independently of array representation)
        sort_array(col("hist")).cast("string").as("h"))
      .collect().map(_.toString).sorted.toSeq
    assert(canon(viaCascade) == canon(direct))
    // and a second hop 1d→1mo stays exact
    val mo = Rollup.cascadeHist(viaCascade, Tier.Mo1)
    val moDirect = Rollup.cascadeHist(direct, Tier.Mo1)
    assert(canon(mo) == canon(moDirect))
  }

  test("histQuantiles: each p answers the UB of the first cell whose cumulative reaches ceil(p*n)") {
    val tr = graft.sources.Transcripts.synthetic(spark, nConv = 30)
    val fv = Regularize.firstValid(tr.toDF(), Tier.M1)
    val st1d = Rollup.cascadeHist(
      SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1), Tier.D1)
    val ps = Seq(0.5, 0.9, 0.99)
    val got = Rollup.histQuantiles(st1d, ps)
      .orderBy("conv_id", "bucket_ts").collect()
    val histRows = st1d.select(col("conv_id"), col("bucket_ts"), col("n"),
        col("hist")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(2), r.getSeq[org.apache.spark.sql.Row](3)
          .map(c => (c.getInt(0), c.getLong(1))).sortBy(_._1)))
      .toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, cells) = histRows((r.getString(0), r.getTimestamp(1)))
      assert(r.getLong(2) == n)
      ps.zipWithIndex.foreach { case (p, i) =>
        val need = math.ceil(p * n).toLong
        var cum = 0L
        val hb = cells.collectFirst {
          case (b, c) if { cum += c; cum >= need } => b
        }.get
        val expectUb = if (hb < 0) 0L else (1L << (hb + 1)) - 1
        assert(r.getLong(3 + i) == expectUb,
          s"p=$p n=$n cells=$cells got=${r.getLong(3 + i)}")
      }
    }
  }

  test("realtimeState: STALE sealed store — buckets between the actual seal and the watermark are recomputed, not lost") {
    val raw = (0 until 9).map(i =>
      ("a", i, tsAt(i.toLong * 1200), (i * 7 % 13).toDouble))
      .toDF("conv_id", "turn_idx", "ts", "value")
    // store sealed only through hour 0, but the caller's watermark is in
    // hour 2 — the pre-guard router dropped hour 1 entirely
    val sealedSt = Rollup.tierState(
      raw.filter(col("ts") < lit(tsAt(3600))), Tier.H1, tsCol = "ts")
    val wm = tsAt(2 * 3600 + 600)
    val routed = Rollup.presentState(
      Rollup.realtimeState(raw, sealedSt, Tier.H1, wm, tsCol = "ts"))
      .orderBy("bucket_ts").collect()
    val full = Rollup.presentState(Rollup.tierState(raw, Tier.H1, tsCol = "ts"))
      .orderBy("bucket_ts").collect()
    assert(routed.toSeq == full.toSeq)
    // empty store: everything comes back from raw
    val empty = sealedSt.filter(lit(false))
    val routedEmpty = Rollup.presentState(
      Rollup.realtimeState(raw, empty, Tier.H1, wm, tsCol = "ts"))
      .orderBy("bucket_ts").collect()
    assert(routedEmpty.toSeq == full.toSeq)
  }

  test("realtimeState: calendar-tier (month) stale store takes the bucket-compare path") {
    val raw = (0 until 6).map(i =>
      ("a", i, new java.sql.Timestamp(h0 + i.toLong * 20 * 86400000L),
        (i * 3 % 7).toDouble))
      .toDF("conv_id", "turn_idx", "ts", "value")
    val sealedSt = Rollup.tierState(
      raw.filter(col("ts") < lit(new java.sql.Timestamp(h0 + 31L * 86400000L))),
      Tier.Mo1, tsCol = "ts")
    val wm = new java.sql.Timestamp(h0 + 80L * 86400000L)
    val routed = Rollup.presentState(
      Rollup.realtimeState(raw, sealedSt, Tier.Mo1, wm, tsCol = "ts"))
      .orderBy("bucket_ts").collect()
    val full = Rollup.presentState(
      Rollup.tierState(raw, Tier.Mo1, tsCol = "ts"))
      .orderBy("bucket_ts").collect()
    assert(routed.toSeq == full.toSeq)
  }

  test("psplineFit: exact linear reproduction (penalty nullspace), zero certificate residual, partition-of-unity basis") {
    import graft.functions.SeriesKernels
    val m = 40; val k = 8
    // partition of unity: Σ_j B_j(u_i) = 1 on the interior
    (1 to m).foreach { i =>
      val s = (1 to k).map(j => SeriesKernels.bsplineBasis(i, j, m, k)).sum
      assert(math.abs(s - 1.0) < 1e-12, s"basis row $i sums to $s")
    }
    // a linear series lies in the D₂ penalty nullspace AND in the spline
    // space → the penalized fit reproduces it exactly (to solve precision)
    val lin = Array.tabulate(m)(i => 3.0 + 0.5 * i)
    val (_, _, resid, fitted) = SeriesKernels.psplineFit(lin, 1.0, k)
    lin.indices.foreach(i =>
      assert(math.abs(fitted(i) - lin(i)) < 1e-8, s"fit[$i]=${fitted(i)}"))
    resid.foreach(r => assert(math.abs(r) < 1e-8, s"resid $r"))
    // noisy series: certificate still ~0
    val y = Array.tabulate(m)(i => 50.0 + 30.0 * math.sin(i / 5.0) + (i % 7))
    val (_, _, resid2, fitted2) = SeriesKernels.psplineFit(y, 1.0, k)
    resid2.foreach(r => assert(math.abs(r) < 1e-7))
    // heavier λ ⇒ smoother (smaller total curvature of the fit)
    val (_, _, _, fittedHeavy) = SeriesKernels.psplineFit(y, 1000.0, k)
    def curv(f: Array[Double]) = (2 until f.length)
      .map(i => math.pow(f(i) - 2 * f(i - 1) + f(i - 2), 2)).sum
    assert(curv(fittedHeavy) < curv(fitted2))
  }

  test("patternsBspline: per-label P-spline prototypes; short labels keep the raw mean") {
    import graft.operators.ChangeDetect
    val series = (for (c <- Seq("a1", "a2", "b1"); i <- 0 until 20) yield {
      val v = if (c.startsWith("a")) 10.0 + i else 5.0
      (c, i, v)
    }).toDF("conv_id", "idx", "value")
      // label b has only 3 mean points — below k, keeps raw mean
      .filter(!(col("conv_id") === "b1" && col("idx") >= 3))
    val labels = Seq(("a1", 1), ("a2", 1), ("b1", 2)).toDF("conv_id", "label")
    val out = ChangeDetect.patternsBspline(series, labels, lambda = 1.0, k = 8)
      .orderBy("label", "idx").collect()
    val aFit = out.filter(_.getInt(0) == 1).map(_.getDouble(2))
    // label a mean series is linear 10..29 → P-spline reproduces it
    aFit.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - (10.0 + i)) < 1e-6, s"a[$i]=$v") }
    val bFit = out.filter(_.getInt(0) == 2).map(_.getDouble(2))
    assert(bFit.length == 3 && bFit.forall(v => math.abs(v - 5.0) < 1e-12),
      "short label must keep its raw mean")
  }

  test("hampel: a NULL value row is excluded from windows AND counts (collect_list/list() NULL contract)") {
    import graft.operators.SeriesOps
    val clean = (0 until 12).map(i =>
      ("a", i, tsAt(i.toLong * 60), Some(if (i == 6) 500.0 else 20.0 + i)))
    val withNull = (clean.take(4) :+ (("a", 100, tsAt(90), None))) ++ clean.drop(4)
    def run(rows: Seq[(String, Int, java.sql.Timestamp, Option[Double])]) =
      SeriesOps.hampel(
        rows.toDF("conv_id", "turn_idx", "ts", "value"), k = 2, nsig = 3.0)
        .collect().map(_.toString).toSeq
    // the planted NULL row must change nothing: same windows, same n_obs
    assert(run(withNull) == run(clean))
  }
}
