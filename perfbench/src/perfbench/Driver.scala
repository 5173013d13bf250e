package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `driver`: the heaviest driver-contract queries over seeded test-data
  * tables. Two named groups: the dedup family, and controls that do not use
  * its mechanism. A cold pass over the eight queries takes longer than one
  * run of the benchmark can spend, so `driver` is not a workload of
  * BENCHMARK.json: the traced `maintain` run walks the queries once ([[pass]]),
  * and `run.py --workload driver` runs them on their own.
  */
object Driver {
  val dedup = Seq("dd_ssjoin", "dd_lsh_recall", "dd_cluster_stats", "dd_dup_sample", "dd_components")
  val controls = Seq("ts_dtw", "ts_rollup_1h", "txt_ppl_bucket")
  val nEvents = 20000
  val nUsers = 300
  val nDocs = 1000

  /** One traced pass: `driver.<query>_s` and its counters. */
  def pass(a: Args, spark: SparkSession, rep: Report, t: Tracer): Unit = {
    val dir = Common.dir(a, "driver-data")
    Inputs.driverTables(spark, dir, nEvents, nUsers, nDocs, a.seed)
    t.span("driver.pass") {
      for (q <- dedup ++ controls) rep.attempt(q) {
        t.span(s"driver.$q")(Common.digest(SparkEntry.queries(q)(spark, dir)))
      }
    }
    Layers.recordRound(t, rep, "driver.pass", totals = false)
  }

  def run(a: Args, spark: SparkSession, rep: Report, tracer: Option[Tracer]): Unit = {
    var dir = ""
    for (k <- 0 until 3) {
      val (_, wall, _) = Common.timed {
        dir = Common.dir(a, s"data$k")
        Inputs.driverTables(spark, dir, nEvents, nUsers, nDocs, a.seed)
      }
      rep.sample("setup_s", wall)
    }
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, Digest]

    // each query's result is materialized by hashing every column of every
    // row, which doubles as the check that rounds agree
    def round(sp: Spans, timed: Boolean): Double = {
      val group = scala.collection.mutable.Map("dedup" -> 0.0, "other" -> 0.0)
      val (_, wall, cpu) = Common.timed {
        sp("driver.round") {
          for (q <- dedup ++ controls) rep.attempt(q) {
            val t0 = System.nanoTime()
            val d = sp(s"driver.$q")(Common.digest(SparkEntry.queries(q)(spark, dir)))
            val s = (System.nanoTime() - t0) / 1e9
            if (timed) rep.sample(s"$q.s", s)
            group(if (dedup.contains(q)) "dedup" else "other") += s
            digests.get(q) match {
              case Some(prev) => rep.check(s"$q digest equal across rounds", prev.matches(d))
              case None       => digests(q) = d
            }
          }
        }
      }
      if (timed) {
        rep.sample("round_s", wall); rep.sample("round_cpu_s", cpu)
        rep.sample("driver_dedup_s", group("dedup")); rep.sample("driver_other_s", group("other"))
      }
      wall
    }

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var r = 0
    while (r < 1 || Common.left(deadline) > 0) {
      round(Spans.off, timed = true)
      tracer.foreach { t =>
        val gc0 = Common.gcMs()
        rep.sample("traced_round_s", round(Spans.on(t), timed = false))
        rep.sample("spark.gc_s", (Common.gcMs() - gc0) / 1e3)
        Layers.recordRound(t, rep, "driver.round")
      }
      r += 1
    }
    rep.value("digest", digests.map { case (q, d) => q -> d.json })
  }
}
