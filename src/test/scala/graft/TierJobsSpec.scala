package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.runtime.TierPipeline
import graft.sources.Transcripts

/** The Spark jobs the tier path runs: a tier read plans without a job, a
  * build with nothing left to do runs none, and the independent commits a
  * cascade submits together finish, under the caller's job group, before
  * any failure reaches the caller.
  */
class TierJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext
  private val nBuckets = 4

  /** Job id → job group at start, and job id → end time (epoch ms). */
  private final class JobLog extends SparkListener {
    val group = mutable.Map.empty[Int, String]
    val endMs = mutable.Map.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      group(e.jobId) = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      endMs(e.jobId) = e.time
    }
  }

  /** Run `body` with a [[JobLog]] attached; the log is complete on return. */
  private def logged[T](body: => T): (T, JobLog) = {
    val log = new JobLog
    ListenerDrain(sc)
    sc.addSparkListener(log)
    try {
      val out = body
      ListenerDrain(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }

  private def input(): String = {
    val in = Files.createTempDirectory("tierjobs_in").toString
    Transcripts.synthetic(spark, nConv = 60).write.mode("overwrite")
      .parquet(s"$in/transcripts.parquet")
    in
  }

  private def transcripts(in: String) = spark.read.parquet(s"$in/transcripts.parquet")

  test("a tier read plans without a Spark job") {
    val in = input()
    val root = Files.createTempDirectory("tierjobs_store").toString
    TierPipeline.runAll(spark, transcripts(in), in, root, nBuckets)
    val snap = TierPipeline.snapshotId(in)
    val tiers = Seq("1m-chunks", "1h-state", "1d-state", "1mo-state", "gh-state")
    val (frames, log) = logged {
      TierPipeline.isBanded(root, snap)
      tiers.map(t => (TierPipeline.readTier(spark, root, t, snap),
        TierPipeline.readTierExact(spark, root, t, snap)))
    }
    assert(log.group.isEmpty, s"${log.group.size} jobs while planning reads")
    // the footer schema is the one Spark infers from the same files
    for ((t, (plain, exact)) <- tiers.zip(frames)) {
      val inferred = spark.read
        .parquet(TierPipeline.committedPaths(root, t, snap): _*).schema
      assert(plain.schema == inferred, t)
      assert(exact.schema == inferred, t)
      assert(plain.count() == exact.count(), t)
    }
  }

  test("a second runAll over a built store runs no Spark job") {
    val in = input()
    val tr = transcripts(in)
    val root = Files.createTempDirectory("tierjobs_rerun").toString
    TierPipeline.runAll(spark, tr, in, root, nBuckets)
    val (runs, log) = logged(TierPipeline.runAll(spark, tr, in, root, nBuckets))
    assert(log.group.isEmpty, s"${log.group.size} jobs for zero work")
    assert(runs.map(_.tier) == Seq("1m-chunks", "1h-state", "1d-state",
      "1mo-state", "gh-state"))
    for (r <- runs) {
      assert(r.processed.isEmpty && r.skipped == (0 until nBuckets), r)
      assert(r.rowsIn == 0 && r.rowsOut == 0, r)
    }
  }

  test("a failing commit surfaces only after every forked commit finished") {
    val in = input()
    val tr = transcripts(in)
    // a first build under another group leaves pool threads behind that
    // were created under it
    sc.setJobGroup("tierjobs-setup", "setup", interruptOnCancel = false)
    try TierPipeline.runAll(spark, tr, in,
      Files.createTempDirectory("tierjobs_setup").toString, nBuckets)
    finally sc.clearJobGroup()

    val root = Files.createTempDirectory("tierjobs_bad").toString
    Files.write(Paths.get(s"$root/1m-chunks.manifest.jsonl"),
      "not a manifest line\n".getBytes(UTF_8))
    val cached = sc.getPersistentRDDs.keySet
    def h1Done = TierPipeline.committedBuckets(root, "1h-state",
      TierPipeline.snapshotId(in)).size == nBuckets
    var activeAtThrow = Array.empty[Int]
    var h1DoneAtThrow = false
    var throwMs = 0L
    val (err, log) = logged {
      sc.setJobGroup("tierjobs-caller", "caller", interruptOnCancel = false)
      val e = try intercept[Exception](
          TierPipeline.runAll(spark, tr, in, root, nBuckets))
        finally {
          throwMs = System.currentTimeMillis()
          activeAtThrow = sc.statusTracker.getActiveJobIds()
          h1DoneAtThrow = h1Done
          sc.clearJobGroup()
        }
      // a commit that outlives the throw still lands in the log
      val deadline = System.nanoTime() + 60000000000L
      while (!h1Done && System.nanoTime() < deadline) Thread.sleep(100)
      e
    }
    assert(err.getMessage.contains("1m-chunks.manifest.jsonl:1"), err.getMessage)
    assert(activeAtThrow.isEmpty, s"jobs ${activeAtThrow.mkString(",")} still running")
    assert(log.endMs.values.forall(_ <= throwMs), "a job ended after the throw")
    assert(log.group.nonEmpty)
    assert(log.group.values.forall(_ == "tierjobs-caller"),
      s"job groups ${log.group.values.toSet}")
    // the 1h commit beside the failed 1m one completed, and fv is released
    assert(h1DoneAtThrow)
    assert((sc.getPersistentRDDs.keySet -- cached).isEmpty)
  }
}
