package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ChunkStruct, Tier}
import graft.operators.{ChunkStore, Downsample, Rollup}
import graft.runtime.TierPipeline

/** `serve`: one closed-loop client reading a store that was built and then
  * aged by late-data patches, so reads go through adopted, multi-path
  * manifests. Four read types in a fixed cycle, parameters drawn by seed
  * from small pools: lookup, quantiles, range, render.
  */
object Serve {
  /** Conversations in the served (and maintained) store: a quarter of the
    * build's, since every set-up and check here is a full build of its own.
    */
  val nConv = 240
  val types = Seq("lookup", "quantiles", "range", "render")
  private val dayMs = 86400000L
  private val t0Ms = 1735689600000L // 2025-01-01T00:00:00Z, the generator's origin

  /** The ordinary conversations whose tails arrive late, one set per patch. */
  def lateSets(seed: Long, sets: Int, perSet: Int): Seq[Seq[String]] = {
    val rnd = new java.util.Random(seed * 31L + 5L)
    val ids = (0 until nConv).filter(_ % 101 != 7)
    val picked = scala.util.Random.javaRandomToRandom(rnd).shuffle(ids).take(sets * perSet)
    picked.map(i => f"c$i%06d").grouped(perSet).toSeq
  }

  /** Drop the second half of each listed conversation's turns. */
  def truncate(df: DataFrame, convs: Seq[String]): DataFrame =
    if (convs.isEmpty) df
    else {
      val cut = df.groupBy("conv_id").agg((max("turn_idx") / 2).cast("int").as("cut"))
      df.join(cut, "conv_id")
        .filter(!col("conv_id").isin(convs: _*) || col("turn_idx") <= col("cut"))
        .drop("cut")
    }

  final case class Store(root: String, snap: Long)

  /** Build, then age with a late-data patch; returns the aged store. */
  def buildAged(a: Args, spark: SparkSession, rep: Report, tag: String): Store = {
    val late = lateSets(a.seed, 1, 4).head
    val (store, wall, _) = Common.timed {
      val full = Inputs.transcripts(spark, nConv, a.seed)
      val ins = Seq(late, Nil).zipWithIndex.map { case (cs, i) =>
        Inputs.writeInput(truncate(full, cs), Common.dir(a, s"$tag/in$i"))
      }
      val root = Common.dir(a, s"$tag/store")
      TierPipeline.runAll(spark, Inputs.readInput(spark, ins(0)), ins(0), root, Build.nBuckets)
      TierPipeline.patchCascade(spark, Inputs.readInput(spark, ins(1)), ins(1), root,
        Build.nBuckets, TierPipeline.snapshotId(ins(0)), late)
      Store(root, TierPipeline.snapshotId(ins(1)))
    }
    rep.sample("setup_s", wall)
    store
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double      => "%.9e".format(d)
    case null           => "\\N"
    case x              => x.toString
  }.mkString("|")).toSeq.sorted

  final class Reader(spark: SparkSession, st: Store) {
    import spark.implicits._
    def tier(t: String) = TierPipeline.readTierExact(spark, st.root, t, st.snap).drop("bucket")
    def chunks = tier("1m-chunks").as[ChunkStruct]
    def lookup(c: String): DataFrame = tier("1h-state").filter(col("conv_id") === c)
    def quantiles(day: Long): DataFrame = Rollup.histQuantiles(
      tier("1d-state").filter(col("bucket_ts") === new Timestamp(day)), Seq(0.5, 0.9, 0.99))
    def range(from: Long, to: Long): DataFrame =
      ChunkStore.decodeRange(spark, chunks, Tier.M1, new Timestamp(from), new Timestamp(to))
    def render(from: Long, to: Long, pts: DataFrame): DataFrame =
      Downsample.m4(pts.filter(col("value").isNotNull)
        .select(col("conv_id"), col("bucket_ts").as("ts"), col("value")),
        date_trunc("hour", col("ts")))
    /** Points a range read decodes: every point of each chunk it keeps. */
    def decoded(from: Long, to: Long): Long = chunks.toDF()
      .filter(unix_millis(col("start_ts")) < to &&
        unix_millis(col("start_ts")) + (col("n") - 1).cast("long") * Tier.M1.millis >= from)
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
  }

  def run(a: Args, spark: SparkSession, rep: Report, tracer: Option[Tracer]): Unit = {
    // one set-up: it costs more than the rest of the run
    val st = buildAged(a, spark, rep, "s0")
    val rd = new Reader(spark, st)

    // parameter pools and their expected answers (untimed), each from the
    // unpruned path on the same store: whole tiers filtered on the client,
    // decode() of every chunk plus a filter
    val rnd = new java.util.Random(a.seed * 131L + 7L)
    val convs = (Seq("c000007") ++ lateSets(a.seed, 1, 4).head.take(2) ++
      Seq.fill(5)(f"c${rnd.nextInt(nConv)}%06d")).distinct
    val days = Seq.fill(6)(t0Ms + rnd.nextInt(28) * dayMs).distinct
    val windows = Seq.fill(6)(t0Ms + rnd.nextInt(28 * 4) * dayMs / 4).distinct
    val h1 = rd.tier("1h-state").collect()
    val q1d = Rollup.histQuantiles(rd.tier("1d-state"), Seq(0.5, 0.9, 0.99)).collect()
    val all = ChunkStore.decode(spark, rd.chunks)
    def slice(from: Long, to: Long) = all.filter(unix_millis(col("bucket_ts")) >= from &&
      unix_millis(col("bucket_ts")) < to)
    val expected: Map[(String, Any), Seq[String]] =
      convs.map(c => ("lookup", c: Any) -> canon(h1.filter(_.getAs[String]("conv_id") == c))).toMap ++
        days.map(d => ("quantiles", d: Any) ->
          canon(q1d.filter(_.getAs[Timestamp]("bucket_ts").getTime == d))) ++
        days.map(d => ("range", d: Any) -> canon(slice(d, d + dayMs).collect())) ++
        windows.map(w => ("render", w: Any) ->
          canon(rd.render(w, w + dayMs / 4, slice(w, w + dayMs / 4)).collect()))

    def op(kind: String, param: Any): DataFrame = (kind, param) match {
      case ("lookup", c: String)  => rd.lookup(c)
      case ("quantiles", d: Long) => rd.quantiles(d)
      case ("range", d: Long)     => rd.range(d, d + dayMs)
      case ("render", w: Long)    => rd.render(w, w + dayMs / 4, rd.range(w, w + dayMs / 4))
      case _                      => sys.error(s"bad op $kind")
    }
    def pick(kind: String): Any = kind match {
      case "lookup"    => convs(rnd.nextInt(convs.size))
      case "quantiles" | "range" => days(rnd.nextInt(days.size))
      case _           => windows(rnd.nextInt(windows.size))
    }
    val checked = scala.collection.mutable.Set.empty[(String, Any)]
    def round(sp: Spans, timedOps: Boolean): Double = {
      val answers = scala.collection.mutable.ArrayBuffer.empty[(String, Any, Array[Row])]
      val (_, wall, cpu) = Common.timed {
        sp("serve.round") {
          types.foreach { kind =>
            val p = pick(kind)
            rep.attempt(kind) {
              val t0 = System.nanoTime()
              answers += ((kind, p, sp(s"serve.$kind")(op(kind, p).collect())))
              if (timedOps) rep.sample(s"${kind}_ms", (System.nanoTime() - t0) / 1e6)
            }
          }
        }
      }
      if (timedOps) { rep.sample("round_s", wall); rep.sample("round_cpu_s", cpu) }
      answers.foreach { case (kind, p, rows) =>
        if (checked.add((kind, p)))
          rep.check(s"$kind $p equals the unpruned answer", canon(rows) == expected((kind, p)))
        if (kind == "range" && (sp ne Spans.off)) {
          val d = p.asInstanceOf[Long]
          rep.sample("chunkstore.range_useful_ratio", rows.length.toDouble / rd.decoded(d, d + dayMs))
        }
      }
      wall
    }

    round(Spans.off, timedOps = false) // warm-up
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var r = 0
    // at least twenty reads, so the mix has a tail percentile
    while (r < 5 || Common.left(deadline) > 0) {
      round(Spans.off, timedOps = true)
      tracer.foreach { t =>
        val gc0 = Common.gcMs()
        rep.sample("traced_round_s", round(Spans.on(t), timedOps = false))
        rep.sample("spark.gc_s", (Common.gcMs() - gc0) / 1e3)
        Layers.recordRound(t, rep, "serve.round")
      }
      r += 1
    }
    if (tracer.nonEmpty) {
      Build.manifestTimes(spark, st.root, st.snap, rep)
      rep.value("tierpipeline.manifest_lines", Build.manifestLines(st.root))
    }
  }
}
