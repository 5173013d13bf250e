package graft

import java.nio.file.Files
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.{ListenerDrain, StageScopes}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{ChunkStruct, Tier}
import graft.operators.{ChunkStore, GapFill, Regularize, Rollup, SeriesRollup}
import graft.runtime.TierPipeline
import graft.sources.Transcripts

/** The 1h tier state is rolled up from the 1m chunks: every decode
  * dispatches strictly on the codec id, the state kernel reads only
  * regular 1m grid chunks, a banded store's state equals an independent
  * fill-and-aggregate per band, and the raw-derived tiers group the
  * conversations once for every band.
  */
class ChunkStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val nBuckets = 4
  private val bands = Seq("text_len", "is_tool")

  private def fv(nConv: Int): DataFrame =
    Regularize.firstValid(Transcripts.synthetic(spark, nConv).toDF(), Tier.M1)

  private def chunks(nConv: Int): Dataset[ChunkStruct] =
    ChunkStore.encodeFilled(spark, fv(nConv), Tier.M1)

  /** `body` fails, and its message names every one of `parts`. */
  private def failsNaming(what: String, parts: String*)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    parts.foreach(p => assert(msgs.contains(p), s"$what: '$p' not in $msgs"))
  }

  test("a chunk with an unknown codec id fails every decode, naming conv, tier and codec") {
    import spark.implicits._
    val good = chunks(3).collect()
    assert(good.nonEmpty)
    val bad = good.head.copy(codec = "chimp+dod")
    val ds = spark.createDataset(Seq(bad))
    val conv = bad.conv_id
    val all = Seq(conv, "1m", "chimp+dod")
    failsNaming("decode", all: _*)(ChunkStore.decode(spark, ds).collect())
    failsNaming("decodeRange", all: _*)(ChunkStore.decodeRange(spark, ds,
      Tier.M1, bad.start_ts, new java.sql.Timestamp(bad.start_ts.getTime + 3600000L))
      .collect())
    failsNaming("zoneMap", all: _*)(ChunkStore.zoneMap(spark, ds).collect())
    failsNaming("chunkState", all: _*)(
      SeriesRollup.chunkState(ds.toDF(), Tier.M1, Tier.H1).collect())
    // the two known ids still decode
    assert(ChunkStore.decode(spark, spark.createDataset(good.take(1))).count() ==
      good.head.n)
  }

  test("chunkState refuses chunks that are not a regular grid of its fine tier") {
    import spark.implicits._
    val plain = ChunkStore.encode(spark,
      Regularize.densify(fv(3), Tier.M1), Tier.M1)
    failsNaming("plain chunk", "gorilla+dod")(
      SeriesRollup.chunkState(plain.toDF(), Tier.M1, Tier.H1).collect())
    val h1 = spark.createDataset(chunks(3).collect().take(1).map(_.copy(tier = "1h")))
    failsNaming("1h chunk", "1h")(
      SeriesRollup.chunkState(h1.toDF(), Tier.M1, Tier.D1).collect())
  }

  test("each band's committed 1h state of a two-band runAll equals tierState over fillDense of that band") {
    val in = Files.createTempDirectory("chunkstate_in").toString
    Transcripts.synthetic(spark, nConv = 40).write.mode("overwrite")
      .parquet(s"$in/transcripts.parquet")
    val tr = spark.read.parquet(s"$in/transcripts.parquet")
    val root = Files.createTempDirectory("chunkstate_store").toString
    TierPipeline.runAll(spark, tr, in, root, nBuckets, metrics = bands)
    val state = TierPipeline.readTier(spark, root, "1h-state",
      TierPipeline.snapshotId(in))
    def byKey(df: DataFrame) = df
      .select("conv_id", "bucket_ts", "n", "sum_v", "sum2_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap
    for (band <- bands) {
      val committed = byKey(state.filter(col("metric") === band))
      val direct = byKey(Rollup.tierState(GapFill.fillDense(spark,
        Regularize.firstValid(tr, Tier.M1, band), Tier.M1), Tier.H1))
      assert(committed.nonEmpty, band)
      assert(committed.keySet == direct.keySet, band)
      for ((k, c) <- committed; d = direct(k)) {
        Seq("n", "min_v", "max_v").foreach(f =>
          assert(c.getAs[Any](f) == d.getAs[Any](f), s"$band: $f differs at $k"))
        Seq("sum_v", "sum2_v").foreach { f =>
          (Option(c.getAs[java.lang.Double](f)), Option(d.getAs[java.lang.Double](f))) match {
            case (Some(a), Some(b)) =>
              assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
                s"$band: $f differs at $k: $a vs $b")
            case (a, b) => assert(a == b, s"$band: $f differs at $k: $a vs $b")
          }
        }
      }
    }
  }

  test("the raw-derived tiers of a two-band runAll group the conversations once") {
    val sc = spark.sparkContext
    val in = Files.createTempDirectory("chunkstate_shuffle_in").toString
    Transcripts.synthetic(spark, nConv = 30).write.mode("overwrite")
      .parquet(s"$in/transcripts.parquet")
    val tr = spark.read.parquet(s"$in/transcripts.parquet")
    val root = Files.createTempDirectory("chunkstate_shuffle").toString
    // completed stages that ran the map side of a groupByKey shuffle; only
    // GridSeries groups by key on the tier path, so these are the
    // conversation shuffles
    val convShuffles = mutable.Buffer.empty[String]
    val log = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          if (StageScopes(e.stageInfo).contains("AppendColumns"))
            convShuffles += e.stageInfo.name
        }
    }
    ListenerDrain(sc)
    sc.addSparkListener(log)
    try {
      TierPipeline.runAll(spark, tr, in, root, nBuckets, metrics = bands)
      ListenerDrain(sc)
    } finally sc.removeSparkListener(log)
    assert(convShuffles.size == 1,
      s"${convShuffles.size} conversation shuffles for 2 bands, want 1")
  }
}
