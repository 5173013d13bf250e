package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{Regularize, SeriesRollup}
import graft.runtime.TierPipeline
import graft.sources.Transcripts

/** Late-data invalidation (patchTier): rows arriving BEHIND a sealed
  * tier's watermark commit a NEW snapshot that adopts clean buckets by
  * manifest reference (zero data movement) and rewrites only the dirty
  * ones; the old snapshot keeps reading pre-patch state (time travel).
  */
class Round5mSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val nBuckets = 4

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def state(tr: DataFrame): DataFrame = {
    val fv = Regularize.firstValid(tr, Tier.M1)
    SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1)
      .withColumn("bucket", TierPipeline.bucketCol(nBuckets))
  }

  private def rows(df: DataFrame): Seq[String] = df
    .select("conv_id", "bucket_ts", "n", "sum_v", "sum2_v", "min_v",
      "max_v", "bucket")
    .collect().map(_.toString).sorted.toSeq

  test("patchTier: dirty buckets rewritten, clean buckets adopted by reference, old snapshot time-travels") {
    val in0 = freshDir("patch_in0")
    Transcripts.synthetic(spark, nConv = 40).toDF().write.mode("overwrite")
      .parquet(s"$in0/transcripts.parquet")
    val t0 = spark.read.parquet(s"$in0/transcripts.parquet")
    val out = freshDir("patch_out")
    val snap0 = TierPipeline.snapshotId(in0)
    val r0 = TierPipeline.runTier(spark, out, "1h-state", snap0, nBuckets,
      state(t0))
    assert(r0.processed.size == nBuckets)

    // late rows: one extra turn for two conversations, 90 min past each
    // conv's end — behind the already-sealed snapshot
    val late = t0.filter(col("conv_id").isin("c000003", "c000017"))
      .groupBy("conv_id")
      .agg(max("turn_idx").as("mi"), max("ts").as("mt"))
      .select(col("conv_id"), (col("mi") + 1).as("turn_idx"),
        lit("user").as("role"), lit("late arrival").as("text"),
        lit(null).cast("string").as("tool"),
        (col("mt") + expr("INTERVAL 90 MINUTES")).as("ts"))
    val t1 = t0.unionByName(late.select(t0.columns.map(col): _*))
    val in1 = freshDir("patch_in1")
    t1.write.mode("overwrite").parquet(s"$in1/transcripts.parquet")
    val t1r = spark.read.parquet(s"$in1/transcripts.parquet")
    val snap1 = TierPipeline.snapshotId(in1)
    assert(snap1 != snap0)

    val dirty = late.select(TierPipeline.bucketCol(nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirty.nonEmpty && dirty.size < nBuckets)

    val r1 = TierPipeline.patchTier(spark, out, "1h-state", snap0, snap1,
      nBuckets, dirty, state(t1r))
    assert(r1.processed.toSet == dirty,
      s"rewrote ${r1.processed}, wanted $dirty")

    // patched read == direct full recompute from the combined input
    assert(rows(TierPipeline.readTierExact(spark, out, "1h-state", snap1))
      == rows(state(t1r)), "patched snapshot differs from full recompute")

    // time travel: the old snapshot still reads the pre-patch state
    assert(rows(TierPipeline.readTier(spark, out, "1h-state", snap0))
      == rows(state(t0)), "old snapshot no longer time-travels")

    // zero data movement: every clean bucket is served by an OLD path
    val pb0 = TierPipeline.committedPathBuckets(out, "1h-state", snap0)
    val pb1 = TierPipeline.committedPathBuckets(out, "1h-state", snap1)
    val adopted = pb1.filter { case (pa, _) => pb0.contains(pa) }
    assert(adopted.values.flatten.toSet ==
      (0 until nBuckets).toSet -- dirty, adopted.toString)
    // and the dirty buckets live in exactly one freshly-written batch
    val newPaths = pb1.keySet -- pb0.keySet
    assert(newPaths.size == 1 &&
      pb1(newPaths.head) == dirty, pb1.toString)

    // idempotence: re-running the patch is a no-op (resume diff sees all
    // buckets committed under the new snapshot)
    val r2 = TierPipeline.patchTier(spark, out, "1h-state", snap0, snap1,
      nBuckets, dirty, state(t1r))
    assert(r2.processed.isEmpty && r2.skipped.size == nBuckets)

    // GC contract: expiring + vacuuming the OLD snapshot must not
    // physically remove dirs the NEW snapshot adopted by reference
    val farFuture = java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime
    val tomb0 = TierPipeline.expireBatches(out, "1h-state", snap0,
      farFuture, None, nBuckets)
    assert(tomb0.nonEmpty)
    val gone0 = TierPipeline.vacuumTier(out, "1h-state")
    // adopted paths survive the vacuum; only paths NO snapshot still
    // references may go (here: none — every snap0 path is adopted)
    assert(gone0.toSet.intersect(pb1.keySet).isEmpty,
      s"vacuum deleted adopted dirs: ${gone0.toSet.intersect(pb1.keySet)}")
    assert(rows(TierPipeline.readTierExact(spark, out, "1h-state", snap1))
      == rows(state(t1r)), "new snapshot broken after old-snapshot vacuum")

    // once the NEW snapshot expires them too (adoption carried the source
    // [minTs,maxTs] forward), the shared dirs become physically collectable
    val tomb1 = TierPipeline.expireBatches(out, "1h-state", snap1,
      farFuture, None, nBuckets)
    assert(tomb1.toSet == (pb0.keySet ++ newPaths) -- gone0.toSet,
      s"snap1 expiry tombstoned $tomb1")
    val gone1 = TierPipeline.vacuumTier(out, "1h-state")
    assert(pb0.keySet.subsetOf(gone1.toSet),
      s"shared dirs not reclaimed after both snapshots expired: $gone1")
    assert(pb0.keySet.forall(pa =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(pa))))
  }

  test("patchTier: a rewrite that fails in its write commits nothing; the re-run equals an uninterrupted patch") {
    val in0 = freshDir("patchfail_in")
    Transcripts.synthetic(spark, nConv = 40).toDF().write.mode("overwrite")
      .parquet(s"$in0/transcripts.parquet")
    val st = state(spark.read.parquet(s"$in0/transcripts.parquet"))
    val snap0 = TierPipeline.snapshotId(in0)
    val snap1 = snap0 + 1
    val dirty = Set(1, 3)
    val out = freshDir("patchfail_out")
    val ref = freshDir("patchfail_ref")
    for (root <- Seq(out, ref))
      TierPipeline.runTier(spark, root, "1h-state", snap0, nBuckets, st)

    // the rewrite throws inside the write job
    val boom = udf((c: String) =>
      if (c != null) throw new IllegalStateException("rewrite failed") else c)
    intercept[Exception](TierPipeline.patchTier(spark, out, "1h-state",
      snap0, snap1, nBuckets, dirty, st.withColumn("conv_id", boom(col("conv_id")))))
    assert(TierPipeline.committedBuckets(out, "1h-state", snap1).isEmpty,
      "a failed patch left the new snapshot partly committed")

    // the re-run with a good frame lands exactly the uninterrupted patch
    val fresh = st.withColumn("n", col("n") + 1)
    val r = TierPipeline.patchTier(spark, out, "1h-state", snap0, snap1,
      nBuckets, dirty, fresh)
    val rRef = TierPipeline.patchTier(spark, ref, "1h-state", snap0, snap1,
      nBuckets, dirty, fresh)
    assert(r.processed.toSet == dirty && r == rRef, s"$r vs $rRef")
    def catalog(root: String) = TierPipeline.committedPathBuckets(root,
      "1h-state", snap1).map { case (pa, bs) => pa.stripPrefix(root) -> bs }
    assert(catalog(out) == catalog(ref))
    assert(rows(TierPipeline.readTier(spark, out, "1h-state", snap1)) ==
      rows(TierPipeline.readTier(spark, ref, "1h-state", snap1)))
  }
}
