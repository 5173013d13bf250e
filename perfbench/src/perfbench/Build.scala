package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{ChunkStore, Regularize, Rollup, SeriesRollup}
import graft.runtime.TierPipeline

/** `build`: the full tier cascade (`TierPipeline.runAll`) over the seeded
  * transcripts, each rep into a fresh output root. Run once per core count,
  * each in its own JVM, on the same input.
  */
object Build {
  val nConv = 960
  val nBuckets = 8
  val tiers = Seq("1m-chunks", "1h-state", "1d-state", "1mo-state", "gh-state")

  /** Set-up: generate and write the input. */
  def setupInput(a: Args, spark: SparkSession, rep: Report, path: String): String = {
    val (p, wall, _) = Common.timed {
      val p = Inputs.writeInput(Inputs.transcripts(spark, nConv, a.seed), Common.dir(a, path))
      Inputs.readInput(spark, p).count()
      p
    }
    rep.sample("setup_s", wall)
    p
  }

  /** Digest of every tier of a store, as of a snapshot. */
  def storeDigest(spark: SparkSession, out: String, snap: Long): Map[String, Digest] =
    tiers.map(t => t -> Common.digest(TierPipeline.readTierExact(spark, out, t, snap)
      .drop("bucket"))).toMap

  def allCommitted(out: String, snap: Long): Boolean =
    tiers.forall(t => TierPipeline.committedBuckets(out, t, snap) == (0 until nBuckets).toSet)

  /** The cascade `runAll` performs, called layer by layer and in sequence
    * (runAll overlaps the 1m and 1h tier jobs), each call inside a span.
    */
  def walk(spark: SparkSession, tr: DataFrame, input: String, out: String,
      sp: Spans): Long = {
    val snap = TierPipeline.snapshotId(input)
    val b = TierPipeline.bucketCol(nBuckets)
    def commit(tier: String, df: DataFrame) =
      TierPipeline.runTier(spark, out, tier, snap, nBuckets, df)
    def cascade(from: String, to: Tier, dropConv: Boolean = false) = {
      val lower = TierPipeline.readTier(spark, out, from, snap).drop("bucket")
      Rollup.cascadeHist(if (dropConv) lower.drop("conv_id") else lower, to)
    }
    sp("build.walk") {
      val fv = sp("regularize.first_valid") {
        val fv = Regularize.firstValid(tr, Tier.M1).persist()
        fv.count()
        fv
      }
      sp("chunkstore.encode_commit") {
        commit("1m-chunks", ChunkStore.encodeFilled(spark, fv, Tier.M1).toDF()
          .withColumn("bucket", b))
      }
      sp("seriesrollup.state_1h_commit") {
        commit("1h-state", SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1)
          .withColumn("bucket", b))
      }
      val rowsOut = fv.count()
      fv.unpersist()
      sp("rollup.cascade_1d")(commit("1d-state", cascade("1h-state", Tier.D1).withColumn("bucket", b)))
      sp("rollup.cascade_1mo")(commit("1mo-state", cascade("1d-state", Tier.Mo1).withColumn("bucket", b)))
      sp("rollup.cascade_gh") {
        commit("gh-state", cascade("1h-state", Tier.H1, dropConv = true)
          .withColumn("bucket", pmod(hash(col("bucket_ts")), lit(nBuckets))))
      }
      rowsOut
    }
  }

  /** Store-level counts of a built store (deterministic for a seed). */
  def storeCounters(spark: SparkSession, out: String, snap: Long, rep: Report): Unit = {
    val chunks = TierPipeline.readTierExact(spark, out, "1m-chunks", snap)
      .agg(sum(length(col("ts_payload")) + length(col("value_payload"))), sum(col("n")))
      .head()
    rep.value("chunkstore.bytes_per_point", chunks.getLong(0).toDouble / chunks.getLong(1))
    rep.value("chunkstore.points", chunks.getLong(1))
    val (bytes, files) = Common.treeSize(out)
    rep.value("tierpipeline.bytes_written", bytes)
    rep.value("tierpipeline.files_written", files)
    rep.value("tierpipeline.manifest_lines", manifestLines(out))
  }

  def manifestLines(out: String): Long = tiers.map { t =>
    val p = java.nio.file.Paths.get(s"$out/$t.manifest.jsonl")
    if (java.nio.file.Files.exists(p)) java.nio.file.Files.readAllLines(p).size.toLong else 0L
  }.sum

  /** Manifest parse and read-plan time over a store's tiers, in ms. */
  def manifestTimes(spark: SparkSession, out: String, snap: Long, rep: Report): Unit = {
    val t0 = System.nanoTime()
    tiers.foreach { t =>
      TierPipeline.committedBuckets(out, t, snap)
      TierPipeline.committedPathBuckets(out, t, snap)
    }
    val t1 = System.nanoTime()
    tiers.foreach(t => TierPipeline.readTierExact(spark, out, t, snap))
    val t2 = System.nanoTime()
    rep.sample("tierpipeline.manifest_read_ms", (t1 - t0) / 1e6)
    rep.sample("tierpipeline.read_plan_ms", (t2 - t1) / 1e6)
  }

  def run(a: Args, spark: SparkSession, rep: Report, tracer: Option[Tracer]): Unit = {
    // the traced local[1] leg only adds per-layer figures: one set-up, one
    // warm-up round
    val lean = tracer.nonEmpty && a.cores == 1
    var input = ""
    for (k <- 0 until (if (lean) 1 else 3)) input = setupInput(a, spark, rep, s"input$k")
    val tr = Inputs.readInput(spark, input)
    val turns = tr.count()
    val snap = TierPipeline.snapshotId(input)
    rep.value("turns", turns)

    var n = 0
    def nextOut() = { n += 1; Common.dir(a, s"out$n") }
    // untimed warm-up: JIT, codegen caches, first parquet writes
    for (_ <- 0 until (if (lean) 1 else 2)) {
      val warm = nextOut()
      TierPipeline.runAll(spark, tr, input, warm, nBuckets)
      Common.deleteTree(warm)
    }

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    var traced: Option[String] = None
    var r = 0
    while (r < (if (lean) 1 else if (tracer.nonEmpty) 2 else 4) || Common.left(deadline) > 0) {
      val out = nextOut()
      rep.attempt("runAll") {
        val (_, wall, cpu) = Common.timed(TierPipeline.runAll(spark, tr, input, out, nBuckets))
        rep.sample("round_s", wall)
        rep.sample("round_cpu_s", cpu)
        rep.sample("turns_per_s", turns / wall)
      }
      outs += out
      tracer.foreach { t =>
        // the tracing overhead is taken at local[4] only
        if (a.cores > 1) {
          val plain = nextOut()
          rep.attempt("walk") {
            val (_, wall, _) = Common.timed(walk(spark, tr, input, plain, Spans.off))
            rep.sample("walk_s", wall)
          }
          Common.deleteTree(plain)
        }
        val tout = nextOut()
        rep.attempt("traced walk") {
          val gc0 = Common.gcMs()
          val (rows, wall, _) = Common.timed(walk(spark, tr, input, tout, Spans.on(t)))
          rep.sample("traced_walk_s", wall)
          rep.sample("spark.gc_s", (Common.gcMs() - gc0) / 1e3)
          rep.value("regularize.rows_out", rows)
          Layers.recordRound(t, rep, "build.walk")
        }
        traced.foreach(Common.deleteTree)
        traced = Some(tout)
      }
      r += 1
    }

    // checks: every rep commits all buckets of every tier; the first and
    // the last rep (and the traced walk) hold the same content
    val first = storeDigest(spark, outs.head, snap)
    def same(o: String) = storeDigest(spark, o, snap).forall { case (t, d) => d.matches(first(t)) }
    rep.value("digest", first.map { case (t, d) => t -> d.json })
    outs.foreach(o => rep.check(s"all tiers committed ($o)", allCommitted(o, snap)))
    rep.check("digest equal across reps", same(outs.last))
    traced.foreach { o =>
      rep.check("traced walk builds the same store", same(o))
      storeCounters(spark, outs.head, snap, rep)
      manifestTimes(spark, outs.head, snap, rep)
    }
  }
}
