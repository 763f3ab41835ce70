package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Verify's dump: the name filter selects the parquet outputs AND the
  * oracles, and oracle_sql.json survives any control character a
  * builder-authored SQL string may carry. */
class VerifySpec extends AnyFunSuite {

  private def readOracles(path: String): Map[String, String] =
    new ObjectMapper().readValue(new java.io.File(path),
      classOf[java.util.Map[String, String]]).asScala.toMap

  test("name filter writes only the selected outputs and oracles") {
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toString
    val only = Set("q01_pricing_summary", "q04_filter_project")
    Verify.dump(TestSpark.spark, "/root/testdata/sf0.001", out, Some(only))
    val oracles = readOracles(s"$out/oracle_sql.json")
    assert(oracles.keySet == only)
    assert(oracles == SparkEntry.oracleSql.filter { case (n, _) => only(n) })
    val written = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(written == only)
    intercept[IllegalArgumentException] {
      Verify.dump(TestSpark.spark, "/root/testdata/sf0.001", out,
        Some(Set("q01_pricing_summary", "no_such_query")))
    }
  }

  test("oracle_sql.json round-trips quotes, backslashes and control chars") {
    val out = java.nio.file.Files.createTempDirectory("verify-json").toString
    val sql = "SELECT \"a\\b\"\tFROM t\r\nWHERE c = '\u0001'"
    Verify.writeOracles(s"$out/oracle_sql.json", Map("q_x" -> sql))
    assert(readOracles(s"$out/oracle_sql.json") == Map("q_x" -> sql))
  }
}
