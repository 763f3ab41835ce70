package graftbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload inside one Spark process.
  *
  * {{{
  * graftbench.Main --workload <name> --data <inputs dir> --work <scratch dir>
  *   --seconds <s> --trace <0|1> --cores <n> --out <result.json>
  * }}}
  *
  * The run starts a `local[cores]` session (shuffle partitions = cores),
  * performs the workload's set-up and warm-up, then drives ops in a closed
  * loop (one client) for about `seconds`. With `--trace 1` it drives half
  * the ops untraced and half traced, then replays the layer decomposition.
  * Results go to `--out` as JSON; the outputs the correctness gates read go
  * under `<work>/gates`. */
object Main {

  /** CPU time of this process, all threads, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val traced = a("trace") == "1"
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3
    val c = new Ctx(spark, new File(a("data")).getAbsolutePath, work,
      a("seconds").toDouble, traced)
    try {
      val t0 = System.nanoTime
      val w: Workload = a("workload") match {
        case "etl_transform" => new EtlTransform(c)
        case "retrieval_serve" => new RetrievalServe(c)
        case "analytics_mix" => new AnalyticsMix(c)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      c.facts("session_s") = sessionS
      c.facts("setup_jvm_s") = (System.nanoTime - t0) / 1e9
      // a fixed number of ops, not a deadline: later ops run faster as the
      // JIT warms (and, for serving, slower as appends accumulate), so a
      // deadline would let the engine's speed choose which ops are sampled
      def drive(seconds: Double): Unit =
        (1 to math.max(1, math.round(w.opsPerSecond * seconds).toInt)).foreach(_ => w.step())
      if (!c.traced) {
        val cpu0 = Main.processCpuS()
        drive(c.seconds)
        c.facts("loop_cpu_s") = Main.processCpuS() - cpu0
      } else {
        drive(c.seconds / 2)
        c.untraced = c.samples.map { case (k, v) => k -> v.toList }.toMap
        c.samples.clear()
        c.probe.enable()
        c.tracing = true
        drive(c.seconds / 2)
        w.decompose()
      }
      c.tracing = false
      w.finish()
      c.write(a("out"))
    } finally spark.stop()
  }
}

/** Run state shared by the workloads: samples, op counts, facts for the
  * gates, and the probe. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seconds: Double, val traced: Boolean) {
  val probe = new Probe(spark)
  var tracing = false
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var untraced: Map[String, List[Double]] = Map.empty
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val gates = s"$work/gates"

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** One timed op. It counts as attempted; if it throws or returns false it
    * counts as failed and its time is not sampled. While tracing, the op is
    * also recorded as span `span` under `parent`. Returns the op's time if
    * it succeeded. */
  def op(metric: String, span: String, parent: String = "")(
      body: => Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime
    val ok =
      try { if (tracing) probe.span(span, parent)(body) else body }
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $metric failed: $e"); false }
    val t = (System.nanoTime - t0) / 1e9
    if (ok) sample(metric, t) else failed += 1
    Option.when(ok)(t)
  }

  /** Sample `metric` as the sum of `parts` when every part succeeded. */
  def sampleSum(metric: String, parts: Seq[Option[Double]]): Unit =
    if (parts.forall(_.isDefined)) sample(metric, parts.flatten.sum)

  def write(path: String): Unit = {
    val out = Map(
      "attempted" -> attempted, "failed" -> failed,
      "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
      "untraced" -> untraced,
      "spans" -> probe.byName, "parents" -> probe.parents,
      "facts" -> facts.toMap)
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    m.writeValue(new File(path), out)
  }
}

/** A workload: set-up (inputs loaded, warm-up done), one op of the closed
  * measuring loop, the traced layer decomposition, and the gate outputs. A
  * run drives `opsPerSecond × --seconds` ops, about `--seconds` of work on
  * a 4-core machine. */
trait Workload {
  def setup(): Unit
  def opsPerSecond: Double
  def step(): Unit
  def decompose(): Unit
  def finish(): Unit
}
