package graft

import graft.llmops.{MultimodalOps, TextOps, VectorOps}
import graft.queries.{MiningOps, PipelineOps, Queries, RelOps, SqlSurfaceOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator: its name, its DataFrame pipeline over an
  * sfDir, and the equivalent ANSI SQL that DuckDB runs over the same
  * parquet tables as its oracle. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** The query registry — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q11RevenueNation(spark, "/root/testdata/sf0.001")

  /** Every operator from SURVEY.md §2, each module's `defs` in order. */
  lazy val defs: Seq[QueryDef] =
    Queries.defs ++ RelOps.defs ++ MiningOps.defs ++ SqlSurfaceOps.defs ++
      PipelineOps.defs ++ TextOps.defs ++ VectorOps.defs ++ MultimodalOps.defs ++
      StreamOps.defs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.run).toMap

  lazy val oracleSql: Map[String, String] =
    defs.map(d => d.name -> d.oracleSql).toMap

  /** The named entries, in declared order. Names are trimmed and blanks
    * dropped; an empty selection, or any unknown name, throws one
    * IllegalArgumentException naming every unknown entry, so a main
    * fails before its session starts. */
  def select(names: Seq[String]): Seq[QueryDef] = {
    val want = names.map(_.trim).filter(_.nonEmpty)
    val unknown = want.filterNot(queries.contains)
    if (want.isEmpty) throw new IllegalArgumentException("no entry named")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown entries: ${unknown.distinct.mkString(", ")}")
    defs.filter(d => want.contains(d.name))
  }
}
