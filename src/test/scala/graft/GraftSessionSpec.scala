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

  test("no session is built under src/ except through GraftSession") {
    val needle = "SparkSession" + ".builder"
    val src = Paths.get("src")
    assert(Files.isDirectory(src),
      s"no src/ under ${Paths.get("").toAbsolutePath}: run from the repository root")
    val stream = Files.walk(src)
    val offenders =
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filterNot(_.endsWith(Paths.get("main/scala/graft/GraftSession.scala")))
        .filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toList.sorted
      finally stream.close()
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder instead: ${offenders.mkString(", ")}")
  }
}
