package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session, built
  * like the mains' ([[GraftSession.builder]]), so the suite doesn't pay
  * session boot per test class.
  */
object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.builder("4").appName("graft-tests").getOrCreate()

  /** Smallest fixture scale — correctness shape, not volume. */
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir: String = SparkSpec.sfDir
}
