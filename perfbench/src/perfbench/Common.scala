package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}

/** Arguments of one harness JVM (see [[Main]]). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: Path)

/** What one harness JVM reports: raw samples, reduced by `perfbench/stats.py`. */
final class Report {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def value(name: String, v: Any): Unit = values(name) = v

  /** Count one operation; a thrown exception or a false check is a failure. */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Throwable =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        .take(300)
    }
  }
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"check failed: $what" }
  }

  def toJson(header: Map[String, Any]): String = Json(header ++ Map(
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq },
    "values" -> values))
}

/** Row count, the sum of a 64-bit hash per row over every column that is not
  * floating point, and the sum of each floating-point column. The tier
  * cascade's summable state is exact only up to floating-point merge order,
  * so floating-point columns compare by their sums, to 1e-9 relative.
  */
final case class Digest(rows: Long, hash: String, sums: Map[String, Double]) {
  def matches(o: Digest): Boolean = rows == o.rows && hash == o.hash &&
    sums.keySet == o.sums.keySet && sums.forall { case (k, v) =>
      val w = o.sums(k)
      v == w || math.abs(v - w) <= 1e-9 * math.max(math.abs(v), math.abs(w))
    }
  def json: Map[String, Any] = Map("rows" -> rows, "hash" -> hash, "sums" -> sums)
}

object Common {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = osBean.getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Wall and process-CPU seconds of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      // one shuffle layout at every core count, so a 1-core and a 4-core
      // leg run the same tasks and write the same files
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dir(a: Args, name: String): String = {
    val p = a.work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toAbsolutePath.toString
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Content digest of a relation, independent of row order and layout. */
  def digest(df: DataFrame): Digest = {
    val (floating, exact) = df.schema.fields.sortBy(_.name)
      .partition(f => f.dataType == DoubleType || f.dataType == FloatType)
    val hashed = exact.map { f =>
      coalesce(if (f.dataType == BinaryType) hex(col(f.name)) else col(f.name).cast("string"),
        lit("\\N"))
    }
    val h = xxhash64((if (hashed.isEmpty) Array(lit("")) else hashed): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), (sum(h) +: floating.map(f => sum(col(f.name).cast("double")))): _*)
      .head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      floating.indices.map(i => floating(i).name ->
        (if (r.isNullAt(i + 2)) 0.0 else r.getDouble(i + 2))).toMap)
  }

  /** Bytes and regular files under a directory tree. */
  def treeSize(path: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(path))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally s.close()
  }

  /** Seconds left before `deadline` (a System.nanoTime value). */
  def left(deadline: Long): Double = (deadline - System.nanoTime()) / 1e9
}
