package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2 + the
  * training-data-pipeline extensions); `oracleSql` is the DuckDB
  * equivalent for each hash-checkable query.
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (_root_.graft.queries.Relational.queries, _root_.graft.queries.Relational.oracle),
      (_root_.graft.queries.TrainingData.queries, _root_.graft.queries.TrainingData.oracle),
      (_root_.graft.queries.Advanced.queries, _root_.graft.queries.Advanced.oracle),
      (_root_.graft.queries.IngestVerify.queries, _root_.graft.queries.IngestVerify.oracle),
      (_root_.graft.queries.MediaVerify.queries, _root_.graft.queries.MediaVerify.oracle),
      (_root_.graft.queries.Corpus.queries, _root_.graft.queries.Corpus.oracle),
      (_root_.graft.queries.Behavior.queries, _root_.graft.queries.Behavior.oracle),
      (_root_.graft.queries.TableOps.queries, _root_.graft.queries.TableOps.oracle),
      (_root_.graft.queries.TimeSeries.queries, _root_.graft.queries.TimeSeries.oracle),
      (_root_.graft.queries.ChangeData.queries, _root_.graft.queries.ChangeData.oracle),
      (_root_.graft.queries.JoinHardening.queries, _root_.graft.queries.JoinHardening.oracle),
      (_root_.graft.queries.Maintenance.queries, _root_.graft.queries.Maintenance.oracle),
      (_root_.graft.queries.Formats.queries, _root_.graft.queries.Formats.oracle),
      (_root_.graft.queries.Graph.queries, _root_.graft.queries.Graph.oracle),
      (_root_.graft.queries.Curation.queries, _root_.graft.queries.Curation.oracle),
      (_root_.graft.queries.Quality.queries, _root_.graft.queries.Quality.oracle),
      (_root_.graft.queries.Pipeline.queries, _root_.graft.queries.Pipeline.oracle),
      (_root_.graft.queries.Sketches.queries, _root_.graft.queries.Sketches.oracle),
      (_root_.graft.queries.Retrieval.queries, _root_.graft.queries.Retrieval.oracle),
      (_root_.graft.queries.Statistics.queries, _root_.graft.queries.Statistics.oracle),
      (_root_.graft.queries.StoreLifecycle.queries, _root_.graft.queries.StoreLifecycle.oracle),
      (_root_.graft.queries.Affinity.queries, _root_.graft.queries.Affinity.oracle),
      (_root_.graft.queries.Selection.queries, _root_.graft.queries.Selection.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_multi_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
