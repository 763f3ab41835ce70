package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The session factory must install the extensions and the scale posture
  * (AQE + skew handling by Spark's defaults, UTC, shuffle partitions equal
  * to the master's cores). */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.create wires extensions and adaptive configs") {
    val prev = TestSpark.spark // keep shared session for other suites
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.create(appName = "graft-session-spec", master = "local[2]")
    try {
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2") // 2 cores
      // extensions active: SQL function
      val c = s.sql("SELECT cosine_sim(array(1.0f), array(1.0f)) AS c").head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("local[N,maxFailures] master form parses N instead of crashing") {
    val prev = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.create(appName = "graft-session-spec2", master = "local[3,2]")
    try assert(s.conf.get("spark.sql.shuffle.partitions") == "3") // 3 cores
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
