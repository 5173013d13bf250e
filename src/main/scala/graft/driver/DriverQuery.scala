package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a query's executed plan may contain beyond the fleet-wide rules
  * (no CartesianProduct; no `Exchange SinglePartition`), and why.
  */
sealed trait PlanContract { def reason: String }

/** An `Exchange SinglePartition` is allowed: it funnels only a bounded
  * relation (a one-row total, a label- or bucket-bounded census).
  */
final case class SinglePartitionAllowed(reason: String) extends PlanContract

/** At most `exchanges` hash-partitioning exchanges: at 10^12 turns each
  * one is a full-data shuffle, so the count is pinned at its reviewed value.
  */
final case class ShuffleBudget(exchanges: Int, reason: String) extends PlanContract

/** One driver query: its Spark build over a fixture directory, the DuckDB
  * SQL that must hash-equal the build's result, and its plan contract.
  * The oracle is built on first use, so running a query never builds SQL.
  */
final class DriverQuery private (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleSql: () => String,
    val plan: Option[PlanContract]) {
  lazy val oracle: String = oracleSql()
}

object DriverQuery {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String, plan: Option[PlanContract] = None): DriverQuery =
    new DriverQuery(name, build, () => oracle, plan)
}

/** Every driver query, each defined once in its domain's file. */
object Registry {

  /** Indexes `queries` by name; a repeated name is an error naming it. */
  def index(queries: Seq[DriverQuery]): Map[String, DriverQuery] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate driver query name: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }

  val all: Seq[DriverQuery] = CoreQueries.all ++ SeriesQueries.all ++
    EvaluationQueries.all ++ TextQueries.all ++ DedupQueries.all ++
    EmbeddingQueries.all

  val byName: Map[String, DriverQuery] = index(all)
}
