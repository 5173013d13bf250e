package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}
import graft.runtime.TierPipeline
import graft.sources.Transcripts

/** One band path, two store shapes: a single-band store is the banded
  * store's rows with `metric` dropped, and every operation on a committed
  * store follows the shape on disk ([[TierPipeline.isBanded]]), not the
  * caller's metric count.
  */
class BandShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val nBuckets = 4
  private val tiers =
    Seq("1m-chunks", "1h-state", "1d-state", "1mo-state", "gh-state")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def writeInput(df: DataFrame, tag: String): String = {
    val dir = freshDir(tag)
    df.write.mode("overwrite").parquet(s"$dir/transcripts.parquet")
    dir
  }

  private def readInput(dir: String): DataFrame =
    spark.read.parquet(s"$dir/transcripts.parquet")

  /** Layout-stable canonicalization (Round5uSpec convention): binary
    * payloads hexed; doubles quantized to 9 significant digits (merge order
    * differs between stores keyed with and without `metric`).
    */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.drop("bucket").schema.fields.map { f =>
      f.dataType match {
        case BinaryType => hex(col(f.name)).as(f.name)
        case DoubleType => format_string("%.9e", col(f.name)).as(f.name)
        case _          => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  test("single-band store == banded one-band store with metric dropped, at every tier incl. gh-state and m4-1h") {
    val in = writeInput(Transcripts.synthetic(spark, nConv = 30).toDF(), "shape_in")
    val snap = TierPipeline.snapshotId(in)
    val single = freshDir("shape_single")
    val banded = freshDir("shape_banded")
    TierPipeline.runAll(spark, readInput(in), in, single, nBuckets)
    TierPipeline.runAll(spark, readInput(in), in, banded, nBuckets,
      asBands = true)
    for (root <- Seq(single, banded))
      TierPipeline.downsampleTier(spark, root, snap, nBuckets)
    assert(!TierPipeline.isBanded(single, snap))
    assert(TierPipeline.isBanded(banded, snap))

    for (tier <- tiers :+ "m4-1h") {
      val s = TierPipeline.readTier(spark, single, tier, snap)
      val b = TierPipeline.readTier(spark, banded, tier, snap)
      assert(!s.columns.contains("metric"), s"$tier: single-band store has metric")
      assert(b.filter(col("metric") =!= "text_len").isEmpty, s"$tier: foreign band")
      assert(s.columns.toSeq == b.drop("metric").columns.toSeq, s"$tier: column order")
      assert(canon(s) == canon(b.drop("metric")),
        s"$tier: single-band store differs from the banded one")
    }
  }

  test("patchCascade on a one-band banded store: every tier equals runAll(asBands = true) over the full input") {
    val full = Transcripts.synthetic(spark, nConv = 40).toDF()
    val late = Seq("c000007", "c000023")
    val truncated = full.filter(
      !col("conv_id").isin(late: _*) || col("turn_idx") < lit(6))
    assert(truncated.count() < full.count(), "fixture: tails must exist")
    val inA = writeInput(truncated, "bpc_in_a")
    val snap0 = TierPipeline.snapshotId(inA)
    val inB = writeInput(full, "bpc_in_b")
    val snap1 = TierPipeline.snapshotId(inB)

    import spark.implicits._
    val dirtyExp = late.toDF("conv_id")
      .select(TierPipeline.bucketCol(nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirtyExp.size < nBuckets, "fixture must leave clean buckets")

    // the patch uses the default metrics: a banded store keeps every band
    for (metrics <- Seq(Seq("text_len"), Seq("text_len", "is_tool"))) {
      val out = freshDir("bpc_out")
      TierPipeline.runAll(spark, readInput(inA), inA, out, nBuckets,
        metrics = metrics, asBands = true)
      val runs = TierPipeline.patchCascade(spark, readInput(inB), inB, out,
        nBuckets, snap0, late)
      runs.take(4).foreach(r => assert(r.processed.toSet == dirtyExp,
        s"$metrics ${r.tier}: rewrote ${r.processed}, wanted $dirtyExp"))

      val out2 = freshDir("bpc_out2")
      TierPipeline.runAll(spark, readInput(inB), inB, out2, nBuckets,
        metrics = metrics, asBands = true)
      for (tier <- tiers) {
        val patched = TierPipeline.readTierExact(spark, out, tier, snap1)
        assert(patched.columns.contains("metric"), s"$metrics $tier: lost the band column")
        assert(canon(patched) ==
          canon(TierPipeline.readTier(spark, out2, tier, snap1)),
          s"$metrics $tier: patched banded store differs from full recompute")
      }
    }
  }
}
