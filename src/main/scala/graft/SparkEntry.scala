package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query registry is assembled from per-domain operator modules; each
  * module pairs its Spark implementations with DuckDB oracle SQL (omitted for
  * operators that plain ANSI SQL can't express — those get rows-only checks
  * plus ScalaTest self-checks).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline insight — "latest event" (app.py:211) — over
    * the events fixture.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.qTop1(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracle),
      (Normalize.queries, Normalize.oracle),
      (Analytics.queries, Analytics.oracle),
      (Windows.queries, Windows.oracle),
      (Similarity.queries, Similarity.oracle),
      (TextOps.queries, TextOps.oracle),
      (Corpus.queries, Corpus.oracle),
      (Multimodal.queries, Multimodal.oracle),
      (Ranking.queries, Ranking.oracle),
      (Mining.queries, Mining.oracle),
      (Stats.queries, Stats.oracle),
      (Behavior.queries, Behavior.oracle),
      (Series.queries, Series.oracle),
      (RowLevelOps.queries, RowLevelOps.oracle),
      (PipelineOps.queries, PipelineOps.oracle),
      (graft.streaming.StreamOps.queries, graft.streaming.StreamOps.oracle),
      (graft.sources.FileSources.queries, graft.sources.FileSources.oracle),
      (graft.sources.WritePath.queries, graft.sources.WritePath.oracle),
    )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** The registry entries named in `csv` (comma-separated), for the
    * mains' dev-loop filters. An unknown name fails, listing every
    * unknown name sorted: a typo would otherwise yield an empty run that
    * looks instant in Bench and trivially green in Verify. `source` says
    * where the list came from.
    */
  def selectQueries(csv: String,
                    source: String): Map[String, (SparkSession, String) => DataFrame] = {
    val names = csv.split(",").toSet
    val all = queries
    val unknown = names.diff(all.keySet)
    require(unknown.isEmpty,
      s"unknown query names in $source: ${unknown.toSeq.sorted.mkString(",")}")
    all.view.filterKeys(names).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
