package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cumulative counters at one instant, or the difference of two. */
final case class Counters(wall_s: Double, cpu_s: Double, shuffle_bytes: Long,
    in_bytes: Long, in_rows: Long, out_bytes: Long, jobs: Long, tasks: Long,
    fs_ops: Long) {
  def -(o: Counters): Counters = Counters(wall_s - o.wall_s, cpu_s - o.cpu_s,
    shuffle_bytes - o.shuffle_bytes, in_bytes - o.in_bytes, in_rows - o.in_rows,
    out_bytes - o.out_bytes, jobs - o.jobs, tasks - o.tasks, fs_ops - o.fs_ops)
  def +(o: Counters): Counters = Counters(wall_s + o.wall_s, cpu_s + o.cpu_s,
    shuffle_bytes + o.shuffle_bytes, in_bytes + o.in_bytes, in_rows + o.in_rows,
    out_bytes + o.out_bytes, jobs + o.jobs, tasks + o.tasks, fs_ops + o.fs_ops)
  def toMap: Map[String, Double] = Map("wall_s" -> wall_s, "cpu_s" -> cpu_s,
    "shuffle_bytes" -> shuffle_bytes.toDouble, "in_bytes" -> in_bytes.toDouble,
    "in_rows" -> in_rows.toDouble, "out_bytes" -> out_bytes.toDouble,
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "fs_ops" -> fs_ops.toDouble)
}

/** Sums Spark task metrics over the whole session. Spans read it before
  * and after their body, after draining the listener bus. */
final class TaskTotals extends SparkListener {
  val jobs, tasks, cpuNs, shuffle, in, inRows, out = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      in.addAndGet(m.inputMetrics.bytesRead)
      inRows.addAndGet(m.inputMetrics.recordsRead)
      out.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

/** Span recorder for the traced run. A span's counters are the change in
  * the session totals over its body; the loop is closed (one client), so
  * nothing else runs meanwhile. Spans are kept in memory and written out
  * when the run ends, each with its parent. The listener is registered
  * only by [[enable]], so untraced measuring carries none of it. */
final class Probe(spark: SparkSession) {
  private val totals = new TaskTotals
  private var listening = false

  def enable(): Unit = if (!listening) {
    spark.sparkContext.addSparkListener(totals)
    listening = true
  }

  private val spans = mutable.ArrayBuffer.empty[Probe.Span]

  def snapshot(): Counters = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    Counters(System.nanoTime / 1e9, totals.cpuNs.get / 1e9, totals.shuffle.get,
      totals.in.get, totals.inRows.get, totals.out.get, totals.jobs.get,
      totals.tasks.get, CountingFs.ops.get)
  }

  /** Measure `body`; returns its value and its counters. */
  def measure[A](body: => A): (A, Counters) = {
    val c0 = snapshot()
    val a = body
    (a, snapshot() - c0)
  }

  def record(name: String, parent: String, c: Counters): Unit =
    spans += Probe.Span(name, parent, c)

  def span[A](name: String, parent: String = "")(body: => A): A = {
    val (a, c) = measure(body); record(name, parent, c); a
  }

  /** Counters of a `noop` materialization of `df`. */
  def noop(df: DataFrame): Counters = measure(Probe.noop(df))._2

  /** name → counter → values, in recording order. */
  def byName: Map[String, Map[String, Seq[Double]]] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.head.c.toMap.keys.map(k => k -> ss.map(_.c.toMap(k)).toSeq).toMap
    }

  def parents: Map[String, String] = spans.map(s => s.name -> s.parent).toMap
}

object Probe {
  final case class Span(name: String, parent: String, c: Counters)

  /** Materialize every row and column of `df` through Spark's `noop` sink:
    * unlike `count()`, nothing in the plan can be pruned away. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
