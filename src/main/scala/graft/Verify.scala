package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — dev-loop filter so
    // one operator can be re-dumped without the full 90-query sweep. The
    // manifest still lists only what ran, so local_verify compares just
    // the subset.
    val only =
      if (args.length > 2) Some(SparkEntry.selectQueries(args(2), "filter"))
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = only.getOrElse(SparkEntry.queries)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Tables.clearSelfJoinCache() // same contract as Bench: entries
      // live within their own query; accumulation only adds memory pressure
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view
      .filterKeys(k => only.forall(_.contains(k))).toMap
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every SELECTED query (the full registry when no filter
    // is active), so the gate can fail loudly on a query that threw before
    // producing output — without this, a no-oracle query that errors would
    // simply vanish from the report.
    val manifest = selected.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    spark.stop()
  }
}
