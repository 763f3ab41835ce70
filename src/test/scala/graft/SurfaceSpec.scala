package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import scala.jdk.CollectionConverters._

/** Remaining SURVEY §2 surface: CSV scans with declared schemas and
  * non-identifier column names (S2/K1), approx_count_distinct accuracy,
  * SQL registration of native expressions via SparkSessionExtensions,
  * and the one-session-factory / four-mains shape of `src/main`.
  */
class SurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CSV round-trip: declared schema, no inference, spaced column names") {
    val dir = java.nio.file.Files.createTempDirectory("csv-rt").toString
    val df = Seq(("Arsenal", 10L, 55.5), ("Spurs", 0L, 47.1))
      .toDF("Team", "Red Cards", "Possession (%)")
    // K1/K3 analog: header CSV out
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)
    // S2 analog: declared-schema scan — no inference pass, exact types
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Team", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("Red Cards", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("Possession (%)", org.apache.spark.sql.types.DoubleType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.schema == schema)
    // the §2.6 surface: backtick-quoted non-identifier names through expr()
    val derived = back.withColumn("Cards per Point",
      expr("`Red Cards` / nullif(`Possession (%)`, 0)"))
    val rows = derived.orderBy("Team").collect()
    assert(rows(0).getDouble(3) == 10L / 55.5)
    assert(back.as[(String, Long, Double)].collect().toSet ==
      Set(("Arsenal", 10L, 55.5), ("Spurs", 0L, 47.1)))
  }

  test("scalar udf() surface works (engine prefers native exprs; surface exists)") {
    val slug = udf((s: String) => s.toLowerCase.replace(' ', '-'))
    val out = Seq("Big Chances", "Clean Sheets").toDF("s")
      .select(slug(col("s")).as("slug")).as[String].collect().toSeq
    assert(out == Seq("big-chances", "clean-sheets"))
  }

  test("approx_count_distinct within 5% of exact on fixtures") {
    val li = Catalog.load(spark, "/root/testdata/sf0.01", "lineitem")
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx"))
      .as[(Long, Long)].collect()(0)
    val err = math.abs(r._2 - r._1).toDouble / r._1
    info(s"exact=${r._1} approx=${r._2} err=$err")
    assert(err < 0.05)
  }

  test("extensions register native expressions as SQL functions") {
    val prev = spark // keep the shared session alive for other suites
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT cosine_sim(array(1.0f, 2.0f), array(2.0f, 4.0f)) AS c,
          |       cosine_sim_exact(array(1.0f, 0.0f), array(0.0f, 1.0f)) AS o,
          |       jaro_winkler('MARTHA', 'MARHTA') AS jw
          |""".stripMargin).collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == 0.0)
      assert(math.abs(r.getDouble(2) - 0.9611111111111111) < 1e-15)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("SURVEY.md generated query inventory matches the registry exactly " +
    "(regenerate with `sbt \"runMain graft.Survey\"` after registering " +
    "queries)") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val begin = text.indexOf("<!-- BEGIN GENERATED QUERY INVENTORY")
    val end = text.indexOf("<!-- END GENERATED QUERY INVENTORY")
    assert(begin >= 0 && end > begin, "sentinel markers missing from SURVEY.md")
    val nameRe = """^\| (q\d+_\S+) \|""".r
    val listed = text.substring(begin, end).linesIterator
      .flatMap(l => nameRe.findFirstMatchIn(l).map(_.group(1))).toSet
    val registered = Registry.all.map(_.name).toSet
    val missing = registered -- listed
    val stale = listed -- registered
    assert(missing.isEmpty && stale.isEmpty,
      s"SURVEY.md inventory drifted — missing: $missing, stale: $stale")
  }

  test("src/main has one SparkSession.builder site (GraftSession) and " +
    "exactly the Verify, Bench, Survey and tools.Dev mains") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally st.close()
    }
    val text = files.map(f => f -> new String(
      java.nio.file.Files.readAllBytes(f), "UTF-8")).toMap
    val builders = text.collect {
      case (f, t) if t.contains("SparkSession.builder") => root.relativize(f).toString
    }.toSet
    assert(builders == Set("graft/GraftSession.scala"),
      s"SparkSession.builder outside GraftSession: $builders")
    // qualified name of the object enclosing each `def main(`
    val objectRe = """(?m)^\s*object\s+(\w+)""".r
    val packageRe = """(?m)^package\s+([\w.]+)""".r
    val mains = text.toSeq.flatMap { case (_, t) =>
      val pkg = packageRe.findFirstMatchIn(t).map(_.group(1) + ".").getOrElse("")
      """def main\(""".r.findAllMatchIn(t).map { m =>
        pkg + objectRe.findAllMatchIn(t.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Survey", "graft.Verify",
      "graft.tools.Dev"), s"mains drifted: $mains")
  }
}
