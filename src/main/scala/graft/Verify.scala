package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated name filter for local iteration
    // (the driver always calls with exactly two).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = GraftSession.create("graft-verify")
    try dump(spark, sfDir, outDir, only) finally spark.stop()
  }

  /** Writes the selected queries' results (all by default) to
    * `outDir/<name>` and their oracles to `outDir/oracle_sql.json`, so
    * `tools/check.py` reports exactly the selection. A failing query is
    * reported and skipped. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Unit = {
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected(name: String) = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracles(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (name, _) => selected(name) })
  }

  /** Jackson escapes every control character: a tab or CR in
    * builder-authored SQL must not make the driver's json.load fail and
    * silently zero the round's correctness. */
  def writeOracles(path: String, oracles: Map[String, String]): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), new java.util.TreeMap(oracles.asJava))
}
