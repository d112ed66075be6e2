package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured, and the one list of
  * shared fixtures the bench and the plan audit stage before running
  * queries.
  */
object GraftSession {

  /** A `local[cores]` session builder carrying graft's session contract:
    *
    *  - `spark.sql.shuffle.partitions` equals `cores`, so a query's
    *    shuffle width follows the core count it runs on.
    *  - Session time zone UTC (the fixtures' timestamps and every oracle
    *    compare are UTC) and the web UI off.
    *  - `spark.sql.extensions=graft.GraftExtensions`: the custom SQL
    *    functions, the planner strategy and the MERGE WITH SCHEMA
    *    EVOLUTION parser surface.
    *  - The fork-free local filesystem. Without `libhadoop.so`, Hadoop's
    *    `RawLocalFileSystem` shells out `chmod` on every create and
    *    `ls -ld` on every lazy permission read: ~84 ms per atomic
    *    checkpoint write even on tmpfs, paid per state store per
    *    micro-batch and per parquet part-file.
    *    [[graft.hadoop.GraftLocalFileSystem]] (and its `FileContext`
    *    twin [[graft.hadoop.GraftLocalFs]]) does the same work through
    *    `java.nio`.
    *
    * Scan-split sizing stays at Spark's defaults on purpose: split width
    * is already dynamic — min(maxPartitionBytes, max(openCost,
    * totalBytes/defaultParallelism)) — so every fixture up to ×40 stress
    * (427 MB lineitem → ~18 MB splits at local[32]) scans with about
    * one task per core. Forcing 16 MB splits moved nothing at 32 cores;
    * a serial-looking scan at local[4] (447 MB/4 ⇒ 128 MB splits ⇒ 4
    * tasks) is a core-count effect, not a split-size one.
    */
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        "graft.hadoop.GraftLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.GraftLocalFs")

  /** Session-shared fixtures, in the order they are built, each under
    * its `_stage_*` name. Each is one-time setup that registered queries
    * consume — in production a table written once — so staging them
    * before timing or explaining keeps a query's number and plan those
    * of its own algorithm, not of the Nth rebuild of a shared input:
    *
    *  - `_stage_replay`: the two-file replay directory the streaming
    *    queries read.
    *  - `_stage_file_formats`: the json/csv/orc/text copies of the
    *    fixture read by the file-format source queries.
    *  - `_stage_graph_family`: the two near-dup edge lists pinned for
    *    the graph queries ([[Tables.pinForSession]]).
    *  - `_stage_mv_family`: the maintained-MV fixture read by the
    *    rewrite queries (q_mv_rewrite/avg/where/rollup);
    *    q_incremental_mv builds its own, since its algorithm is the
    *    maintenance loop.
    */
  val staging: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    ("_stage_replay",
      (spark, d) => graft.streaming.StreamOps.stageReplayDir(spark, d): Unit),
    ("_stage_file_formats",
      (spark, d) => graft.sources.FileSources.stageAll(spark, d)),
    ("_stage_graph_family",
      (spark, d) => graft.operators.TextOps.stageGraphFamily(spark, d)),
    ("_stage_mv_family",
      (spark, d) => graft.streaming.StreamOps.stageMvFamily(spark, d)),
  )
}
