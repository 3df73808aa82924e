package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query catalog lives in graft.queries.*; every entry is one operator
  * row of SURVEY §2 (or a training-data-pipeline operator), and carries its
  * DuckDB oracle SQL when SQL-expressible.
  */
object SparkEntry {

  private def catalog: Seq[Q] =
    graft.queries.CoreQueries.all ++ graft.queries.StarQueries.all ++
      graft.queries.DedupQueries.all ++ graft.queries.VectorQueries.all ++
      graft.queries.TextQueries.all ++ graft.queries.JoinQueries.all ++
      graft.queries.SourceQueries.all ++ graft.queries.AnalyticsQueries.all ++
      graft.queries.CohortQueries.all ++ graft.queries.SketchQueries.all ++
      graft.queries.StreamingQueries.all ++ graft.queries.WindowFuncQueries.all ++
      graft.queries.EvalQueries.all ++ graft.queries.TrainQueries.all ++
      graft.queries.OptimizerQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs graft's rules into the session it is given, so every query
    * plans the same whoever built that session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> { (s: SparkSession, dir: String) =>
      graft.plans.GraftRules.register(s)
      q.fn(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
