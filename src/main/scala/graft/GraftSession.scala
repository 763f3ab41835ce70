package graft

import org.apache.spark.sql.SparkSession

/** Session factory: the engine's one `SparkSession.builder` call, so every
  * `main` (Verify, Bench, Survey, tools.Dev) and library users run with
  * the same posture the queries were designed and verified under.
  *
  *  - Default master `local[$SPARK_GRAFT_CPUS]` (4 when unset):
  *    Verify's correctness dump and the Bench sweep run exactly this.
  *  - Shuffle partitions equal the master's cores. AQE (on by default in
  *    Spark 4, with partition coalescing and skew-join splitting) re-plans
  *    from there at runtime.
  *  - Graft extensions (SQL functions) are always installed.
  *  - Session timezone pinned to UTC: timestamp arithmetic must not
  *    depend on where the driver happens to run.
  *  - No UI: every caller is a batch job or a test.
  */
object GraftSession {

  def create(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val procs = Runtime.getRuntime.availableProcessors()
    val cores = master match {
      case s if s.startsWith("local[") && s.endsWith("]") =>
        // first segment only: "local[4,2]" (N, maxTaskFailures) is a
        // valid master; anything unparseable falls back to the machine
        s.stripPrefix("local[").stripSuffix("]").split(',')(0).trim match {
          case "*" => procs
          case n => n.toIntOption.getOrElse(procs)
        }
      case _ => procs
    }
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
