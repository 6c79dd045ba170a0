package graft

import java.nio.file.Files

/** The mains' query-name lists: an unknown name fails the run before any
  * session is built, never a silently shorter run. */
class QueryNamesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("queryNames trims, keeps order, and names every unknown entry") {
    assert(SparkEntry.queryNames(" q01_agg ,,q90_dup_clusters") ===
      Seq("q01_agg", "q90_dup_clusters"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queryNames("q01_agg, nope_a,nope_b")
    }
    assert(e.getMessage.contains("nope_a, nope_b"))
    assert(!e.getMessage.contains("q01_agg"))
    intercept[IllegalArgumentException](SparkEntry.queryNames(" , "))
  }

  test("Verify fails on an unknown name before it builds or stops a session") {
    val tmp = Files.createTempDirectory("verify_names")
    graft.util.TmpReaper.track(tmp.toString)
    val out = tmp.resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array(sf, out.toString,
        "q01_agg,q236_customer_360_onebatch"))
    }
    assert(e.getMessage.contains("q236_customer_360_onebatch"))
    assert(!Files.exists(out), "Verify wrote output before failing")
    // the shared session still runs: the main never reached spark.stop()
    assert(SparkEntry.queries("q01_agg")(spark, sf).count() > 0)
  }

  test("a malformed SPARK_GRAFT_EXTRA_CONF entry throws") {
    assert(GraftSession.parseConf(" a = 1 ;; b=x=y ") ===
      Seq("a" -> "1", "b" -> "x=y"))
    val e = intercept[RuntimeException](GraftSession.parseConf("a=1;oops"))
    assert(e.getMessage.contains("'oops'"))
  }
}
