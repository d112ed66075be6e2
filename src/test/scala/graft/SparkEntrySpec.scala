package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared query-name filter ([[SparkEntry.selectQueries]]). */
class SparkEntrySpec extends AnyFunSuite {

  test("selectQueries returns exactly the named entries") {
    val picked = SparkEntry.selectQueries("q_top1,q_mv_rewrite", "test")
    assert(picked.keySet == Set("q_top1", "q_mv_rewrite"))
  }

  test("selectQueries rejects unknown names, listing them sorted") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries("q_zz_typo,q_top1,q_aa_typo", "SPARK_GRAFT_ONLY")
    }
    assert(e.getMessage.endsWith(
      "unknown query names in SPARK_GRAFT_ONLY: q_aa_typo,q_zz_typo"))
  }
}
