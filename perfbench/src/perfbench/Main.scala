package perfbench

import java.nio.file.Paths

/** One harness JVM: runs one workload at one core count and prints a single
  * result line, `PERFBENCH_RESULT {json}`, holding raw samples for
  * `perfbench/run.py` to reduce.
  *
  *   perfbench.Main --workload build|serve|maintain|driver --seed N
  *                  --seconds S --trace 0|1 --cores C --work DIR
  */
object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "4").toInt,
      Paths.get(kv("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rep = new Report
    val spark = Common.session(a)
    val tracer = if (a.trace) Some(new Tracer(spark, s"${a.workload}-${a.seed}-${a.cores}")) else None
    try {
      a.workload match {
        case "build"    => Build.run(a, spark, rep, tracer)
        case "serve"    => Serve.run(a, spark, rep, tracer)
        case "maintain" => Maintain.run(a, spark, rep, tracer)
        case "driver"   => Driver.run(a, spark, rep, tracer)
        case w          => sys.error(s"unknown workload $w")
      }
      if (a.trace && a.cores > 1) Kernels.run(spark, a.seed, rep, seconds = 1.5)
    } catch {
      case e: Throwable =>
        rep.failed += 1
        rep.attempted += 1
        rep.errors += s"workload aborted: $e".take(300)
    }
    val spans = tracer.toSeq.flatMap(_.spans).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    println("PERFBENCH_RESULT " + rep.toJson(Map("workload" -> a.workload,
      "seed" -> a.seed, "cores" -> a.cores, "trace" -> a.trace, "spans" -> spans)))
    tracer.foreach(_.close())
    spark.stop()
  }
}
