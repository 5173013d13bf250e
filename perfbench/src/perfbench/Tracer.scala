package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task counters summed over every task a span's jobs ran. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** per stage: task run times (ms), for the max/median skew figure */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / s(s.size / 2).max(1L)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMem = peakExecMem.max(o.peakExecMem)
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** A timed interval around one call into a layer. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long)

/** Records spans around the benchmark's calls into the engine and attributes
  * Spark task counters to them. Before each call the benchmark sets a job
  * group naming the span; a [[SparkListener]] maps every job to the group it
  * was submitted under and sums its tasks' metrics per span. Jobs submitted
  * from threads the benchmark does not control (the streaming micro-batch
  * thread) carry no span group and are attributed to the innermost span open
  * when they start — the caller is blocked inside that span waiting for them.
  * Spans and counters stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val prefix = s"perfbench:$runId:"
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var openSpan = -1
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).takeWhile(_ != '/').toInt).getOrElse(openSpan)
      if (span >= 0) {
        bySpan.getOrElseUpdate(span, new Counters).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = span)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = bySpan.getOrElseUpdate(span, new Counters)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = c.peakExecMem.max(m.peakExecutionMemory)
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(s"$prefix$id/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    stack = id :: stack
    openSpan = id
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      openSpan = stack.headOption.getOrElse(-1)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, prevDesc.orNull, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
      done.synchronized { done += Span(id, name, parent, runId, t0, t1) }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(sc)

  def spans: Seq[Span] = done.synchronized(done.toList.sortBy(_.id))

  /** Counters of one span, its descendants included. */
  def inclusive(id: Int): Counters = synchronized {
    val all = spans
    val out = new Counters
    def walk(s: Int): Unit = {
      bySpan.get(s).foreach(out.add)
      all.filter(_.parent == s).foreach(c => walk(c.id))
    }
    walk(id)
    out
  }

  /** Span duration minus the time its child spans cover, in seconds. */
  def selfSeconds(s: Span): Double = {
    val children = spans.filter(_.parent == s.id)
    ((s.endNs - s.startNs) - children.map(c => c.endNs - c.startNs).sum) / 1e9
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
