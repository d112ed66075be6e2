package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}

/** The session contract [[GraftSession.builder]] carries, read back from
  * the shared suite session: every main builds through it, so a setting
  * dropped there is dropped everywhere.
  */
class GraftSessionSpec extends SparkSpec {

  test("file: paths resolve to the fork-free local filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = Files.createTempDirectory("graft_session_spec_").toUri
    // newInstance, not get: the JVM-wide FileSystem cache may hold a
    // `file` instance some other conf created first.
    val fs = FileSystem.newInstance(uri, conf)
    try assert(fs.getClass.getName == "graft.hadoop.GraftLocalFileSystem")
    finally fs.close()
    assert(FileContext.getFileContext(uri, conf).getDefaultFileSystem
      .getClass.getName == "graft.hadoop.GraftLocalFs")
  }

  test("session time zone is UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("spark.sql.extensions names graft.GraftExtensions") {
    assert(spark.conf.get("spark.sql.extensions").split(",").map(_.trim)
      .contains("graft.GraftExtensions"))
  }

  test("local[cores] master with as many shuffle partitions as cores") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  /** Every `.scala` file under `dir` (relative to the repository root),
    * sorted, with its text.
    */
  private def scalaFiles(dir: String): List[(java.nio.file.Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root),
      s"no $dir/ under ${Paths.get("").toAbsolutePath}: run from the repository root")
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList.sortBy(_._1.toString)
    finally stream.close()
  }

  test("no session is built under src/ except through GraftSession") {
    val needle = "SparkSession" + ".builder"
    val offenders = scalaFiles("src")
      .filterNot(_._1.endsWith(Paths.get("main/scala/graft/GraftSession.scala")))
      .collect { case (p, text) if text.contains(needle) => p.toString }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder instead: ${offenders.mkString(", ")}")
  }

  test("src/main has one parquet decode path and no A/B system property") {
    // Split so that a grep of src/ for them finds only offenders.
    val banned = Seq("org.apache.parquet" + ".example", "graft.cow" + ".columnar")
    // Every system-property read must name its key literally.
    val propRead = ("""(?:sys\.props(?:\.(?:get|getOrElse|contains|apply))?""" +
      """|System\.getProperty)\(\s*"([^"]*)"""").r
    val anyRead = """sys\.props|System\.getPropert""".r
    val offenders = scalaFiles("src/main").flatMap { case (p, text) =>
      banned.filter(text.contains).map(b => s"$p: $b") ++
        propRead.findAllMatchIn(text).map(_.group(1))
          .filterNot(_ == "graft.cow.colstats").map(k => s"$p: reads $k") ++
        (if (anyRead.findAllMatchIn(text).size >
             propRead.findAllMatchIn(text).size)
           Seq(s"$p: reads system properties without a literal key")
         else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
