package graft

/** Dev tool: print the formatted physical plan of named registry queries —
  * the `.explain("formatted")` audit loop the scale notes are checked
  * against, runnable without editing code:
  * `sbt "runMain graft.ExplainCheck <sfDir> q_a q_b ..."`.
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainCheck <sfDir> <query>...")
    // Bench's session and staging: a plan captured here must be the
    // plan the bench times, including queries that read staged fixtures.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.staging.foreach { case (_, stage) => stage(spark, args.head) }
    // Optional: write each plan to $SPARK_GRAFT_EXPLAIN_DIR/<query>.txt
    // (the committed plans/r19 artifacts) in addition to stdout.
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
      .map(java.nio.file.Paths.get(_))
    outDir.foreach(java.nio.file.Files.createDirectories(_))
    for (q <- args.tail) {
      println(s"=== $q ===")
      val df = SparkEntry.queries(q)(spark, args.head)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(txt)
      outDir.foreach { dir =>
        java.nio.file.Files.writeString(dir.resolve(s"$q.txt"), txt)
      }
    }
    spark.stop()
  }
}
