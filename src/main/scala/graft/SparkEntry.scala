package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.driver.Registry

/** Driver contract — see SURVEY.md §7.
  *
  * The time-series queries run over the `transcripts` relation derived
  * deterministically from `events.parquet` ([[graft.sources.Transcripts.fromEvents]]), so
  * every operator is hash-verifiable against the DuckDB oracle computing the
  * identical relation ([[graft.sources.Transcripts.oracleCte]]). Each query is one
  * [[graft.driver.DriverQuery]]; the maps below are views of the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full regularize→gap-fill→1h-rollup chain.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("ts_rollup_1h")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, q) => name -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] =
    Registry.byName.map { case (name, q) => name -> q.oracle }
}
