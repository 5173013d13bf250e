package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.TierPipeline

/** The `fileInfo` catalog lists exactly what readers of its snapshot read,
  * also when another snapshot tombstoned a batch dir the two share.
  */
class TierCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val day1Ms = 1704067200000L // 2024-01-01T00:00:00Z

  private val hours =
    (0 until 24).flatMap(h => Seq("ca", "cb", "cc").map(c =>
      (c, new java.sql.Timestamp(day1Ms + h * 3600000L), h.toDouble)))

  test("fileInfo(snapNew) lists the dirs snapNew adopted after snapOld expired them") {
    val out = java.nio.file.Files.createTempDirectory("catalog").toString
    val (snapOld, snapNew, nBuckets) = (11L, 12L, 4)
    val df = hours.toDF("conv_id", "bucket_ts", "value")
      .withColumn("bucket", TierPipeline.bucketCol(nBuckets))
    TierPipeline.runTier(spark, out, "1h-state", snapOld, nBuckets, df)
    val oldDir = TierPipeline.committedPaths(out, "1h-state", snapOld).head
    // snapNew rewrites one bucket and adopts the old dir for the others
    TierPipeline.patchTier(spark, out, "1h-state", snapOld, snapNew, nBuckets,
      Set(0), df)
    val expired = TierPipeline.expireBatches(out, "1h-state", snapOld,
      cutoffMs = day1Ms + 2 * 86400000L, guardTier = None, nBuckets = nBuckets)
    assert(expired == Seq(oldDir))

    val live = TierPipeline.committedPaths(out, "1h-state", snapNew)
    assert(live.contains(oldDir))
    val cat = TierPipeline.fileInfo(spark, out, "1h-state", snapNew)
      .select("path").distinct().as[String].collect().toSet
    assert(cat == live.toSet)
    assert(TierPipeline.fileInfo(spark, out, "1h-state", snapOld).isEmpty)
  }
}
