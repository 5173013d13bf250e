package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.runtime.TierPipeline
import graft.sources.Transcripts

/** Cascade-wide invalidation: [[TierPipeline.eraseCascade]] (erasure with
  * zero raw scans) and [[TierPipeline.patchCascade]] (late data behind the
  * seal) must leave every tier of the store — 1m-chunks, 1h/1d/1mo state,
  * global gh-state — byte-equal to a from-scratch runAll over the
  * corrected input, while rewriting only the dirty buckets per tier.
  */
class Round5uSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val nBuckets = 4
  private val tiers =
    Seq("1m-chunks", "1h-state", "1d-state", "1mo-state", "gh-state")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Row-set canonicalization that is stable across physical layouts:
    * binary payloads hex-encoded (Array[Byte].toString is identity-hash)
    * and double-typed state sums quantized to 9 significant digits — the
    * cascade's summable-state contract is exact up to FP merge order, and
    * re-merging a bucket from a filtered read walks a different addition
    * tree than the original full-store merge (observed ULP-only diffs in
    * gh-state sum_v across ~300 addends).
    */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case BinaryType => hex(col(f.name)).as(f.name)
        case org.apache.spark.sql.types.DoubleType =>
          format_string("%.9e", col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  private def writeInput(df: DataFrame, tag: String): String = {
    val dir = freshDir(tag)
    df.write.mode("overwrite").parquet(s"$dir/transcripts.parquet")
    dir
  }

  private def readInput(dir: String): DataFrame =
    spark.read.parquet(s"$dir/transcripts.parquet")

  test("eraseCascade: every tier equals runAll over the filtered input; only victim buckets rewritten; physical close sheds victim bytes") {
    val full = Transcripts.synthetic(spark, nConv = 40).toDF()
    val inA = writeInput(full, "ec_in")
    val t0 = readInput(inA)
    val out = freshDir("ec_out")
    val snap0 = TierPipeline.snapshotId(inA)
    TierPipeline.runAll(spark, t0, inA, out, nBuckets)

    import spark.implicits._
    val victims = Seq("c000005", "c000019")
    val dirtyExp = victims.toDF("conv_id")
      .select(TierPipeline.bucketCol(nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirtyExp.size < nBuckets, "fixture must leave clean buckets")

    val snap1 = snap0 + 1
    val runs = TierPipeline.eraseCascade(spark, out, nBuckets, snap0, snap1,
      victims)
    // per-conv tiers rewrite exactly the victim conv-hash buckets
    runs.take(4).foreach(r => assert(r.processed.toSet == dirtyExp,
      s"${r.tier}: rewrote ${r.processed}, wanted $dirtyExp"))
    assert(runs.map(_.tier) ==
      Seq("1m-chunks", "1h-state", "1d-state", "1mo-state", "gh-state"))

    // oracle: a from-scratch cascade over the filtered input
    val filtered = full.filter(!col("conv_id").isin(victims: _*))
    val inB = writeInput(filtered, "ec_in_f")
    val out2 = freshDir("ec_out2")
    TierPipeline.runAll(spark, readInput(inB), inB, out2, nBuckets)
    val snapB = TierPipeline.snapshotId(inB)
    for (tier <- tiers) {
      assert(canon(TierPipeline.readTierExact(spark, out, tier, snap1)) ==
        canon(TierPipeline.readTier(spark, out2, tier, snapB)),
        s"$tier: erased store differs from filtered recompute")
    }

    // physical close: compact (exact read drops dead adopted rows), retire
    // the superseded dirs, vacuum — no victim byte survives in ANY tier
    for (tier <- tiers) {
      TierPipeline.compactTier(spark, out, tier, snap1)
      TierPipeline.retireSuperseded(out, tier, snap0, snap1)
      TierPipeline.vacuumTier(out, tier)
      val survivors = spark.read.parquet(s"$out/$tier/*")
      if (survivors.columns.contains("conv_id"))
        assert(survivors.filter(col("conv_id").isin(victims: _*)).count() == 0,
          s"$tier: victim rows survive on disk after vacuum")
      assert(canon(TierPipeline.readTierExact(spark, out, tier, snap1)) ==
        canon(TierPipeline.readTier(spark, out2, tier, snapB)),
        s"$tier: erased store broken by compact+retire+vacuum")
    }
  }

  test("patchCascade: late rows behind the seal re-aggregate only their conv buckets at every tier; store equals runAll over the full input") {
    val full = Transcripts.synthetic(spark, nConv = 40).toDF()
    val late = Seq("c000007", "c000023")
    // first ingest saw these two conversations truncated (their tail turns
    // arrive late); everything else was complete
    val truncated = full.filter(
      !col("conv_id").isin(late: _*) || col("turn_idx") < lit(6))
    assert(truncated.count() < full.count(), "fixture: tails must exist")
    val inA = writeInput(truncated, "pc_in_a")
    val out = freshDir("pc_out")
    val snap0 = TierPipeline.snapshotId(inA)
    TierPipeline.runAll(spark, readInput(inA), inA, out, nBuckets)

    import spark.implicits._
    val dirtyExp = late.toDF("conv_id")
      .select(TierPipeline.bucketCol(nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirtyExp.size < nBuckets, "fixture must leave clean buckets")

    val inB = writeInput(full, "pc_in_b")
    val runs = TierPipeline.patchCascade(spark, readInput(inB), inB, out,
      nBuckets, snap0, late)
    val snap1 = TierPipeline.snapshotId(inB)
    assert(snap1 != snap0)
    runs.take(4).foreach(r => assert(r.processed.toSet == dirtyExp,
      s"${r.tier}: rewrote ${r.processed}, wanted $dirtyExp"))

    // oracle: from-scratch cascade over the full (corrected) input
    val out2 = freshDir("pc_out2")
    TierPipeline.runAll(spark, readInput(inB), inB, out2, nBuckets)
    for (tier <- tiers) {
      assert(canon(TierPipeline.readTierExact(spark, out, tier, snap1)) ==
        canon(TierPipeline.readTier(spark, out2, tier, snap1)),
        s"$tier: patched store differs from full recompute")
    }

    // old snapshot still time-travels to the pre-late view: the late
    // conversations' series stop earlier there than under the new snapshot
    def lastHour(root: String, snap: Long) =
      TierPipeline.readTier(spark, root, "1h-state", snap)
        .filter(col("conv_id").isin(late: _*))
        .agg(max(unix_millis(col("bucket_ts")))).head.getLong(0)
    assert(lastHour(out, snap0) <= lastHour(out, snap1))
    assert(TierPipeline.readTier(spark, out, "1h-state", snap0)
      .filter(col("conv_id").isin(late: _*)).count() <
      TierPipeline.readTierExact(spark, out, "1h-state", snap1)
        .filter(col("conv_id").isin(late: _*)).count(),
      "late tail should add hour rows for the late conversations")
  }

  /** `out`, a store built from an input whose `late` conversations were
    * cut short (snapshot `snap0`); `inB`, the full input (`snap1`); `fresh`,
    * a store built from `inB`; `dirty`, the conv buckets of `late`.
    */
  private final case class Late(out: String, inB: String, snap0: Long,
      snap1: Long, late: Seq[String], dirty: Set[Int], fresh: String)

  private def lateFixture(tag: String): Late = {
    val full = Transcripts.synthetic(spark, nConv = 40).toDF()
    val late = Seq("c000007", "c000023")
    val inA = writeInput(full.filter(
      !col("conv_id").isin(late: _*) || col("turn_idx") < lit(6)), s"${tag}_a")
    val out = freshDir(s"${tag}_out")
    TierPipeline.runAll(spark, readInput(inA), inA, out, nBuckets)
    val inB = writeInput(full, s"${tag}_b")
    val fresh = freshDir(s"${tag}_fresh")
    TierPipeline.runAll(spark, readInput(inB), inB, fresh, nBuckets)
    import spark.implicits._
    val dirty = late.toDF("conv_id")
      .select(TierPipeline.bucketCol(nBuckets).as("b"))
      .collect().map(_.getInt(0)).toSet
    Late(out, inB, TierPipeline.snapshotId(inA), TierPipeline.snapshotId(inB),
      late, dirty, fresh)
  }

  test("patchCascade: readTier, downsample, copy and mosaic of the patched snapshot see exactly the fresh store") {
    val Late(out, inB, snap0, snap1, late, _, fresh) = lateFixture("pr")
    TierPipeline.patchCascade(spark, readInput(inB), inB, out, nBuckets,
      snap0, late)
    for (tier <- tiers) {
      val want = canon(TierPipeline.readTier(spark, fresh, tier, snap1))
      assert(canon(TierPipeline.readTier(spark, out, tier, snap1)) == want,
        s"$tier: readTier of the patched snapshot differs from a fresh build")
      assert(canon(TierPipeline.readTierExact(spark, out, tier, snap1)) == want,
        s"$tier: readTierExact of the patched snapshot differs from a fresh build")
      val copy = freshDir(s"pr_copy_$tier")
      TierPipeline.copyTier(spark, out, tier, snap1, copy, nBuckets)
      assert(canon(TierPipeline.readTier(spark, copy, tier, snap1)) == want,
        s"$tier: copy of the patched snapshot differs from a fresh build")
    }
    for (root <- Seq(out, fresh))
      TierPipeline.downsampleTier(spark, root, snap1, nBuckets)
    assert(canon(TierPipeline.readTier(spark, out, "m4-1h", snap1)) ==
      canon(TierPipeline.readTier(spark, fresh, "m4-1h", snap1)),
      "downsample of the patched snapshot differs from a fresh build")
    def mosaic(root: String) = canon(spark.read.parquet(TierPipeline.mosaicTier(
      spark, root, "1h-state", snap1, s"$root/final", nBuckets)))
    assert(mosaic(out) == mosaic(fresh),
      "mosaic of the patched snapshot differs from a fresh build")
  }

  test("runAll resumes a patch that committed only its raw-derived tiers: every tier equals a fresh build") {
    val Late(out, inB, snap0, snap1, _, dirty, fresh) = lateFixture("pu")
    // the state a patchCascade leaves when it stops after 1m-chunks and
    // 1h-state: the upper tiers have no commit for the new snapshot
    for (tier <- Seq("1m-chunks", "1h-state"))
      TierPipeline.patchTier(spark, out, tier, snap0, snap1, nBuckets, dirty,
        TierPipeline.readTier(spark, fresh, tier, snap1))
    val runs = TierPipeline.runAll(spark, readInput(inB), inB, out, nBuckets)
    assert(runs.take(2).forall(_.processed.isEmpty))
    assert(runs.drop(2).forall(_.processed.size == nBuckets))
    for (tier <- tiers)
      assert(canon(TierPipeline.readTier(spark, out, tier, snap1)) ==
        canon(TierPipeline.readTier(spark, fresh, tier, snap1)),
        s"$tier: resumed patch differs from a fresh build")
  }
}
