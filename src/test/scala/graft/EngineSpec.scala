package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{ChunkStore, GapFill, Regularize, Rollup}
import graft.sources.Transcripts
import graft.functions.SeriesKernels

/** End-to-end engine semantics over the deterministic synthetic transcripts
  * (FIXTURES.md): regularize → gap-fill → rollup cascade, kernel-oracle
  * checked (SURVEY.md §5 test strategy).
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val turns = Transcripts.synthetic(spark, nConv = 16, seed = 42L).cache()
  lazy val grid = Regularize.regularize(turns.toDF(), Tier.M1).cache()

  test("synthetic generator is deterministic and partition-invariant") {
    val a = Transcripts.synthetic(spark, 8, 42L).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.synthetic(spark, 8, 42L).repartition(7).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }

  test("per-turn text equality under stable (conv_id, turn_idx) order survives the engine round trip") {
    // BASELINE.json invariant: shuffle/partition the table arbitrarily, sort,
    // and texts must be byte-identical.
    val before = turns.orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    val after = turns.repartition(13, col("ts")).sortWithinPartitions("role")
      .orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    assert(before.toSeq == after.toSeq)
  }

  test("regularize: grid is dense per conv, buckets aligned, first-valid respects quality order") {
    val g = grid.collect()
    val byConv = g.groupBy(_.getString(0))
    byConv.foreach { case (_, rows) =>
      val ts = rows.map(_.getTimestamp(1).getTime).sorted
      ts.sliding(2).foreach { case Array(a, b) => assert(b - a == 60000L); case _ => }
    }
    // quality: recompute every bucket by brute force —
    // min over (quality_rank, ts, turn_idx) picks the value
    val m = Regularize.withMetrics(turns.toDF())
      .select($"conv_id", $"ts", $"turn_idx", $"text_len", $"quality_rank")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 60000L * 60000L,
        r.getInt(2), r.getDouble(3), r.getInt(4), r.getTimestamp(1).getTime))
    val expect = m.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      k -> rows.minBy(t => (t._5, t._6, t._3))._4
    }
    val got = Regularize.firstValid(turns.toDF(), Tier.M1).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap
    expect.foreach { case (k, v) => assert(got(k) == v, s"bucket $k") }
  }

  test("gap-fill: window path == mapGroups kernel path == per-series oracle") {
    val a = GapFill.fillWindow(grid).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val b = GapFill.fillDense(spark, grid, Tier.M1).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) =>
      val w = b(k)
      if (v.isNaN) assert(w.isNaN) else assert(v == w, s"$k: window=$v kernel=$w")
    }
    // direct kernel oracle per conv
    val series = grid.collect().groupBy(_.getString(0))
    series.foreach { case (conv, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(1).getTime)
      val vs = sorted.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      val filled = SeriesKernels.imputeLinear(vs)
      sorted.zip(filled).foreach { case (r, exp) =>
        val got = a((conv, r.getTimestamp(1).getTime))
        if (exp.isNaN) assert(got.isNaN) else assert(got == exp)
      }
    }
  }

  test("tier cascade 1m→1h→1d equals direct 1d aggregation (algebraic exactness)") {
    val filled = GapFill.fillWindow(grid)
    val s1h = Rollup.tierState(filled, Tier.H1)
    val cascaded = Rollup.presentState(Rollup.cascade(s1h, Tier.D1))
      .orderBy("conv_id", "bucket_ts").collect()
    val direct = Rollup.presentState(Rollup.tierState(filled, Tier.D1))
      .orderBy("conv_id", "bucket_ts").collect()
    assert(cascaded.length == direct.length)
    cascaded.zip(direct).foreach { case (c, d) => assert(c == d) }
  }

  test("rollup t_* matches kernel oracle per group") {
    val filled = GapFill.fillWindow(grid)
    val groups = filled.collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L, r.getDouble(2)))
      .groupBy(t => (t._1, t._2))
    val got = Rollup.rollup(filled, Tier.H1).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L) -> r).toMap
    groups.foreach { case (k, rows) =>
      val v = rows.map(_._3)
      val r = got(k)
      def r4(x: Double) = math.round((x + 1e-9) * 10000.0) / 10000.0
      assert(r.getAs[Long]("n") == v.length)
      assert(r.getAs[Double]("mean_v") == r4(SeriesKernels.tMean(v)), s"$k mean")
      assert(r.getAs[Double]("min_v") == SeriesKernels.tMin(v))
      assert(r.getAs[Double]("max_v") == SeriesKernels.tMax(v))
      assert(r.getAs[Double]("med_v") == SeriesKernels.tMedian(v), s"$k median")
      assert(r.getAs[Double]("amp_v") == r4(SeriesKernels.tAmplitude(v)))
      if (v.length > 1)
        assert(math.abs(r.getAs[Double]("std_v") - SeriesKernels.tStd(v)) < 1e-3, s"$k std")
    }
  }

  test("chunk encode/decode via Spark is an exact identity; chunks are much smaller") {
    val filled = GapFill.fillWindow(grid).cache()
    val chunks = ChunkStore.encode(spark, filled, Tier.M1).cache()
    val back = ChunkStore.decode(spark, chunks)
    val a = filled.orderBy("conv_id", "bucket_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2))).toSeq
    val b = back.toDF().orderBy("conv_id", "bucket_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2))).toSeq
    assert(a == b)
    val nPoints = a.length.toLong
    val bytes = chunks.collect().map(c => c.ts_payload.length + c.value_payload.length).sum
    // gap-filled interpolated doubles are the codec's worst case (long XOR
    // mantissas); still must beat raw 16 B/point clearly. Real rollup tiers
    // (repeated values, dod=0) compress ~10-30×, asserted in GorillaCodecSpec.
    assert(bytes < nPoints * 16 * 11 / 20, s"compression too weak: $bytes bytes for $nPoints points")
    filled.unpersist(); chunks.unpersist()
  }

  test("fillDense emitBefore bounds emission without changing fill values") {
    import graft.operators.{GapFill, Regularize}
    def mk(conv: String, idx: Int, min: Long) =
      graft.model.Turn(conv, idx, "user", s"$conv:$idx:" + ("y" * idx), null,
        new java.sql.Timestamp(1735689600000L + min * 60000L))
    val t = Seq(mk("a", 0, 0), mk("a", 1, 5), mk("a", 2, 9)).toDS().toDF()
    val fv = Regularize.firstValid(t, graft.model.Tier.M1)
    val full = GapFill.fillDense(spark, fv, graft.model.Tier.M1)
      .orderBy("bucket_ts").collect()
    assert(full.length == 10)
    // bound mid-grid: prefix identical, rest absent
    val bounded = GapFill.fillDense(spark, fv, graft.model.Tier.M1,
      emitBefore = Some(new java.sql.Timestamp(1735689600000L + 4 * 60000L)))
      .orderBy("bucket_ts").collect()
    assert(bounded.length == 4)
    assert(bounded.map(_.toString).toSeq == full.take(4).map(_.toString).toSeq)
    // bound before the series start: nothing
    assert(GapFill.fillDense(spark, fv, graft.model.Tier.M1,
      emitBefore = Some(new java.sql.Timestamp(1735689600000L - 60000L))).count() == 0)
  }

  test("clusterDendro separates two obvious series families") {
    val rows = for {
      (conv, base) <- Seq("a1" -> 1.0, "a2" -> 1.2, "a3" -> 0.9,
        "b1" -> 50.0, "b2" -> 49.5)
      i <- 0 until 10
    } yield (conv, i, base + i * 0.01)
    val df = rows.toDF("conv_id", "idx", "value")
    val out = graft.operators.ChangeDetect.clusterDendro(spark, df, nClusters = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out("a1") == out("a2") && out("a2") == out("a3"))
    assert(out("b1") == out("b2"))
    assert(out("a1") != out("b1"))
    assert(out.values.toSet == Set(1, 2))
  }

  test("clusterDendro guard rejects cube-scale input (sample-set contract)") {
    val rows = for (c <- 0 until 6; i <- 0 until 4)
      yield (s"c$c", i, c.toDouble)
    val df = rows.toDF("conv_id", "idx", "value")
    assertThrows[IllegalArgumentException] {
      graft.operators.ChangeDetect.clusterDendro(spark, df, nClusters = 2,
        maxSeries = 5)
    }
  }

  test("kernel windows on series shorter than the window: clamp matches SeriesKernels.mirror") {
    // n=1 and n=2 with k=2: the reflected index escapes [0, n-1] after one
    // reflection (e.g. n=1, j=-2 → 1); the clamp must keep it in range, in
    // the engine AND (by construction) in the mirrored oracle SQL
    val t0 = 1735689600000L
    val pts = Seq(("s1", new java.sql.Timestamp(t0), 5.0),
      ("s2", new java.sql.Timestamp(t0), 1.0),
      ("s2", new java.sql.Timestamp(t0 + 60000L), 3.0))
    val out = graft.operators.KernelWindows(
      pts.toDF("conv_id", "bucket_ts", "value"), k = 2)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r).toMap
    // s1 (n=1): every window slot mirrors+clamps to the single value
    val r1 = out(("s1", t0))
    assert(r1.getAs[Double]("w_sum") == 25.0 && r1.getAs[Double]("w_mean") == 5.0)
    assert(r1.getAs[Double]("w_sd") == 0.0 && r1.getAs[Double]("w_modal") == 5.0)
    // s2 (n=2): kernel-oracle comparison against SeriesKernels.windowed
    val v = Array(1.0, 3.0)
    val expMean = SeriesKernels.windowed(v, 2, a => a.sum / a.length)
    assert(out(("s2", t0)).getAs[Double]("w_mean") ==
      math.rint((expMean(0) + 1e-9) * 1e4) / 1e4)
    assert(out(("s2", t0 + 60000L)).getAs[Double]("w_mean") ==
      math.rint((expMean(1) + 1e-9) * 1e4) / 1e4)
  }

  test("reference timeline rule: max-min..min-max, asserts start<=end") {
    def mkTurn(conv: String, idx: Int, min: Long) =
      graft.model.Turn(conv, idx, "user", s"$conv:$idx:x", null,
        new java.sql.Timestamp(1735689600000L + min * 60000L))
    // A spans minutes [0,120], B spans [30,180] → shared = [30,120]
    val crafted = Seq(mkTurn("a", 0, 0), mkTurn("a", 1, 120),
      mkTurn("b", 0, 30), mkTurn("b", 1, 180)).toDS()
    val fv = Regularize.firstValid(crafted.toDF(), Tier.M1)
    val (s, e) = Regularize.sharedTimeline(fv)
    assert(s.getTime == 1735689600000L + 30 * 60000L)
    assert(e.getTime == 1735689600000L + 120 * 60000L)
    // disjoint extents (start > end) must be rejected, as in the reference
    val disjoint = Seq(mkTurn("a", 0, 0), mkTurn("a", 1, 10),
      mkTurn("b", 0, 100), mkTurn("b", 1, 110)).toDS()
    assertThrows[IllegalArgumentException] {
      Regularize.sharedTimeline(Regularize.firstValid(disjoint.toDF(), Tier.M1))
    }
  }
}
