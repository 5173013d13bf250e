package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Turn
import graft.runtime.TierPipeline
import graft.streaming.StreamingRollup

/** `maintain`: keeps a built store current. Each round of the closed loop
  * feeds streaming micro-batches, patches the late tails of two
  * conversations through the cascade, erases one conversation, and runs a
  * retention sweep. Small dirty fractions, many small commits and a growing
  * manifest: the per-job fixed cost dominates.
  */
object Maintain {
  val maxRounds = 20
  val batchesPerRound = 2
  val turnsPerBatch = 120
  private val streamConvs = 20
  private val stepMs = 5 * 60000L
  private val streamT0 = 1740787200000L // 2025-03-01T00:00:00Z

  /** Late conversations (two per round, in two buckets) and one erasure
    * victim per round, all from buckets that hold no hot conversation: a
    * patch re-derives whole buckets, so a hot conversation in a dirty bucket
    * would make the round's work depend on the seed.
    */
  final case class Plan(late: Seq[Seq[String]], victims: Seq[String])

  def plan(spark: SparkSession, seed: Long): Plan = {
    import spark.implicits._
    val ids = (0 until Serve.nConv).map(i => f"c$i%06d")
    val bucket = ids.toDF("conv_id")
      .select(col("conv_id"), TierPipeline.bucketCol(Build.nBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val hot = ids.indices.filter(_ % 101 == 7).map(i => bucket(ids(i))).toSet
    val rnd = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 97L + 3L))
    var pool = rnd.shuffle(ids.filterNot(c => hot(bucket(c))).toList)
    val late = Seq.fill(maxRounds) {
      val x = pool.head
      val y = pool.tail.find(d => bucket(d) != bucket(x)).get
      pool = pool.tail.filterNot(_ == y)
      Seq(x, y)
    }
    Plan(late, pool.take(maxRounds))
  }

  /** The input as it stands when round `r` patches: tails of later rounds'
    * late conversations still missing, earlier rounds' victims gone.
    */
  def inputAt(full: DataFrame, p: Plan, r: Int): DataFrame =
    Serve.truncate(full, p.late.drop(r + 1).flatten)
      .filter(!col("conv_id").isin(p.victims.take(r): _*))

  /** One micro-batch: time-ordered turns with a few duplicates and a few
    * turns that arrive far behind the watermark.
    */
  def batch(seed: Long, j: Int): Seq[Turn] = {
    val rnd = new java.util.Random(seed * 1009L + j)
    val from = streamT0 + j * stepMs
    def turn(conv: Int, idx: Int, ts: Long) = {
      val c = f"s$conv%03d"
      Turn(c, idx, Seq("user", "assistant", "tool")(idx % 3), s"$c:$idx:" + "x" * rnd.nextInt(200),
        if (idx % 3 == 2 && rnd.nextInt(4) != 0) s"tool${rnd.nextInt(5)}" else null,
        new Timestamp(ts))
    }
    val fresh = (0 until turnsPerBatch).map { i =>
      turn(rnd.nextInt(streamConvs), j * turnsPerBatch + i, from + rnd.nextInt(stepMs.toInt))
    }
    val late = (0 until 4).map(i =>
      turn(rnd.nextInt(streamConvs), 1000000 + j * 10 + i, from - 8 * stepMs))
    val dups = (0 until 4).map(_ => fresh(rnd.nextInt(fresh.size)))
    fresh ++ late ++ dups
  }

  def run(a: Args, spark: SparkSession, rep: Report, tracer: Option[Tracer]): Unit = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = plan(spark, a.seed)
    val full = Inputs.transcripts(spark, Serve.nConv, a.seed).cache()
    var root = ""
    var snap = 0L
    // one set-up (it costs more than the rest of the run): the base store,
    // and the stream query started and fed its first micro-batch
    val mem = MemoryStream[Turn]
    var q: StreamingQuery = null
    val (_, setupWall, _) = Common.timed {
      val in = Inputs.writeInput(inputAt(full, p, -1), Common.dir(a, "setup/in"))
      root = Common.dir(a, "setup/store")
      TierPipeline.runAll(spark, Inputs.readInput(spark, in), in, root, Build.nBuckets)
      snap = TierPipeline.snapshotId(in)
      q = StreamingRollup.ingestStreamWithRetention(mem.toDF(),
          Common.dir(a, "stream"), snapshotId = 7L, nBuckets = Build.nBuckets,
          watermark = "10 minutes", retentionMs = 6 * stepMs, compactEvery = 4)
        .option("checkpointLocation", Common.dir(a, "stream-ckpt")).start()
      mem.addData(batch(a.seed, 0))
      q.processAllAvailable()
    }
    rep.sample("setup_s", setupWall)

    var j = 1
    var seenBatch = -1L
    var r = 0
    def round(sp: Spans, timed: Boolean, traced: Boolean): Double = {
      // the late data arrives: the corrected input is written before the round
      val in = Inputs.writeInput(inputAt(full, p, r), Common.dir(a, s"in$r"))
      val snapE = 1000L + r
      val (_, wall, cpu) = Common.timed {
        sp("maintain.round") {
          for (_ <- 0 until batchesPerRound) {
            val rows = batch(a.seed, j); j += 1
            rep.attempt("stream batch") {
              val t0 = System.nanoTime()
              sp("streamingrollup.batch") { mem.addData(rows); q.processAllAvailable() }
              if (timed) rep.sample("stream_batch_ms", (System.nanoTime() - t0) / 1e6)
              // every micro-batch this call ran, no-data batches included
              val progress = q.recentProgress.filter(_.batchId > seenBatch)
              progress.lastOption.foreach(pr => seenBatch = pr.batchId)
              if (traced) {
                def d(k: String) = progress.map(pr =>
                  Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
                rep.sample("streamingrollup.add_batch_ms", d("addBatch"))
                rep.sample("streamingrollup.wal_commit_ms", d("walCommit"))
                rep.sample("streamingrollup.planning_ms", d("queryPlanning"))
                rep.sample("streamingrollup.state_rows",
                  progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
                rep.sample("streamingrollup.rows_dropped_by_watermark",
                  progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
              }
            }
          }
          val snapP = TierPipeline.snapshotId(in)
          rep.attempt("patchCascade") {
            val t0 = System.nanoTime()
            val runs = sp("tierpipeline.patch_cascade") {
              TierPipeline.patchCascade(spark, Inputs.readInput(spark, in), in, root,
                Build.nBuckets, snap, p.late(r))
            }
            if (timed) rep.sample("patch_s", (System.nanoTime() - t0) / 1e9)
            if (traced) rep.sample("tierpipeline.patch_buckets_rewritten", runs.map(_.processed.size).sum)
          }
          rep.attempt("eraseCascade") {
            val t0 = System.nanoTime()
            val runs = sp("tierpipeline.erase_cascade") {
              TierPipeline.eraseCascade(spark, root, Build.nBuckets, snapP, snapE, Seq(p.victims(r)))
            }
            if (timed) rep.sample("erase_s", (System.nanoTime() - t0) / 1e9)
            if (traced) rep.sample("tierpipeline.erase_buckets_rewritten", runs.map(_.processed.size).sum)
          }
          rep.attempt("retention sweep") {
            val t0 = System.nanoTime()
            val compacted = sp("tierpipeline.retention_sweep") {
              Build.tiers.flatMap { t =>
                TierPipeline.expireBatches(root, t, snapE, cutoffMs = 1735689600000L,
                  guardTier = if (t == "1m-chunks") Some("1h-state") else None, Build.nBuckets)
                val c = TierPipeline.compactTier(spark, root, t, snapE)
                TierPipeline.retireSuperseded(root, t, snapP, snapE)
                TierPipeline.retireSuperseded(root, t, snap, snapE)
                TierPipeline.vacuumTier(root, t)
                c
              }
            }
            if (timed) rep.sample("retention_s", (System.nanoTime() - t0) / 1e9)
            if (traced) rep.sample("tierpipeline.compact_bytes_rewritten",
              compacted.map(c => Common.treeSize(c)._1).sum.toDouble)
          }
        }
      }
      snap = snapE
      r += 1
      if (timed) { rep.sample("round_s", wall); rep.sample("round_cpu_s", cpu) }
      wall
    }

    try {
      if (tracer.isEmpty) {
        val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
        while (r < 1 || (Common.left(deadline) > 0 && r < maxRounds - 1))
          round(Spans.off, timed = true, traced = false)
      } else tracer.foreach { t =>
        // traced between two untraced rounds: the first round is the coldest
        round(Spans.off, timed = true, traced = false)
        val gc0 = Common.gcMs()
        rep.sample("traced_round_s", round(Spans.on(t), timed = false, traced = true))
        rep.sample("spark.gc_s", (Common.gcMs() - gc0) / 1e3)
        Layers.recordRound(t, rep, "maintain.round")
        round(Spans.off, timed = true, traced = false)
      }
      rep.value("rounds", r)
      rep.check("stream query healthy", q.exception.isEmpty && q.isActive)
    } finally q.stop()

    // the maintained store equals a from-scratch build of the corrected input
    val fin = Inputs.writeInput(inputAt(full, p, r - 1)
      .filter(col("conv_id") =!= p.victims(r - 1)), Common.dir(a, "final-in"))
    val ref = Common.dir(a, "reference")
    TierPipeline.runAll(spark, Inputs.readInput(spark, fin), fin, ref, Build.nBuckets)
    val refSnap = TierPipeline.snapshotId(fin)
    Build.tiers.foreach { t =>
      rep.check(s"$t equals a from-scratch build",
        Common.digest(TierPipeline.readTierExact(spark, root, t, snap).drop("bucket"))
          .matches(Common.digest(TierPipeline.readTierExact(spark, ref, t, refSnap).drop("bucket"))))
    }
    tracer.foreach { t =>
      Build.manifestTimes(spark, root, snap, rep)
      rep.value("tierpipeline.manifest_lines", Build.manifestLines(root))
      // the driver-contract query layer, walked once per traced run
      Driver.pass(a, spark, rep, t)
    }
  }
}
