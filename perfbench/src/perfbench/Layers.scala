package perfbench

/** How a workload wraps its calls into the engine: in spans when traced, bare
  * otherwise, so traced and untraced rounds run the same code.
  */
trait Spans { def apply[T](name: String)(body: => T): T }

object Spans {
  val off: Spans = new Spans { def apply[T](name: String)(body: => T): T = body }
  def on(t: Tracer): Spans = new Spans {
    def apply[T](name: String)(body: => T): T = t.span(name)(body)
  }
}

/** Turns the spans of one traced round into per-layer samples. */
object Layers {

  /** Samples, for the newest root span named `root` and every span below
    * it: `<span>_s` (self time), `<span>.cpu_s`, `<span>.shuffle_bytes`,
    * `<span>.spill_bytes` and `<span>.task_skew`; for the whole round the
    * `spark.*` totals and `trace.span_sum_s`, the summed duration of the
    * root's direct children (unless `totals` is false: a side pass that is
    * not the workload's round).
    */
  def recordRound(t: Tracer, rep: Report, root: String, totals: Boolean = true): Unit = {
    t.drain()
    val all = t.spans
    val top = all.filter(_.name == root).maxBy(_.id)
    def below(id: Int): Seq[Span] = all.filter(_.parent == id).flatMap(s => s +: below(s.id))
    val spans = top +: below(top.id)
    // a span name that repeats within the round (one per operation) sums
    spans.groupBy(_.name).foreach { case (name, ss) =>
      val cs = ss.map(s => t.inclusive(s.id))
      val c = new Counters
      cs.foreach(c.add)
      rep.sample(s"${name}_s", ss.map(t.selfSeconds).sum)
      rep.sample(s"$name.cpu_s", c.cpuNs / 1e9)
      rep.sample(s"$name.shuffle_bytes", c.shuffleWriteBytes.toDouble)
      rep.sample(s"$name.spill_bytes", c.spillBytes.toDouble)
      rep.sample(s"$name.task_skew", c.taskSkew)
    }
    if (!totals) return
    val c = t.inclusive(top.id)
    rep.sample("spark.tasks", c.tasks.toDouble)
    rep.sample("spark.jobs", c.jobs.toDouble)
    rep.sample("spark.cpu_s", c.cpuNs / 1e9)
    rep.sample("spark.shuffle_bytes", c.shuffleWriteBytes.toDouble)
    rep.sample("spark.spill_bytes", c.spillBytes.toDouble)
    rep.sample("spark.peak_exec_mem_bytes", c.peakExecMem.toDouble)
    rep.sample("spark.task_skew", c.taskSkew)
    rep.sample("trace.span_sum_s",
      all.filter(_.parent == top.id).map(s => (s.endNs - s.startNs) / 1e9).sum)
  }
}
