package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.scheduler._
import graft.{GraftSession, Registry, SparkEntry}

/** The engine's dev entry (not part of the driver contract). Every
  * subcommand runs registry queries in one [[GraftSession]]:
  *
  *   runMain graft.tools.Dev explain <sfDir> [q1,q2,...]
  *   runMain graft.tools.Dev time <sfDir> q1,q2,... [reps]
  *   runMain graft.tools.Dev snapshot save|check <snapDir> <sfDir> q1,q2,...
  *   runMain graft.tools.Dev jobs <sfDir> q1
  *
  * To oracle-check a subset of queries, pass the names to
  * [[graft.Verify]] as its third argument.
  */
object Dev {
  private val usage = "usage: Dev explain <sfDir> [q,...] | time <sfDir> q,... [reps]" +
    " | snapshot save|check <snapDir> <sfDir> q,... | jobs <sfDir> q"

  private def names(arg: String): Seq[String] =
    arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def main(args: Array[String]): Unit = {
    // each subcommand returns false when the run should exit non-zero
    val run: SparkSession => Boolean = args.toSeq match {
      case Seq("explain", dir, rest @ _*) if rest.size <= 1 =>
        explain(_, dir, rest.headOption.map(names).getOrElse(Registry.all.map(_.name)))
      case Seq("time", dir, qs, rest @ _*) if rest.size <= 1 =>
        time(_, dir, names(qs), rest.headOption.fold(3)(_.toInt))
      case Seq("snapshot", mode @ ("save" | "check"), snapDir, dir, qs) =>
        snapshot(_, mode == "save", snapDir, dir, names(qs))
      case Seq("jobs", dir, name) => jobs(_, dir, name)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = GraftSession.create("graft-dev")
    val ok = try run(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Markdown `explain("formatted")` per query (all registered queries by
    * default): the source of PLANS.md and the iteration loop behind
    * PlanSpec assertions. Exchange partition counts appear in the plan
    * text, so PLANS.md is regenerated under `SPARK_GRAFT_CPUS=4`. */
  private def explain(spark: SparkSession, dir: String, qs: Seq[String]): Boolean = {
    qs.foreach { n =>
      println(s"## $n\n\n```")
      println(Registry.byName(n).build(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
      println("```")
    }
    true
  }

  /** Wall time of `count()` per query, `reps` times after an untimed
    * warmup: isolates whether a Bench movement lives in the query or in
    * the harness. */
  private def time(spark: SparkSession, dir: String, qs: Seq[String],
      reps: Int): Boolean = {
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    qs.foreach { n =>
      val q = Registry.byName(n)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val c = q.build(spark, dir).count()
        println(f"[time] $n rep$i ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$c")
      }
    }
    true
  }

  /** Rewrite-equivalence harness: snapshot named query outputs to parquet
    * (save) BEFORE a plan-shape rewrite, then prove the rewritten queries
    * bit-identical (check) — row-for-row, column-dtype-for-dtype — before
    * the change ships. This is how the round-11 [[graft.ops.GlobalRank]]
    * migration certified all 22 window rewrites against the previous
    * hash-green implementations without re-running the DuckDB oracle. */
  private def snapshot(spark: SparkSession, save: Boolean, snapDir: String,
      dir: String, qs: Seq[String]): Boolean = {
    var failed = 0
    qs.foreach { n =>
      val df = Registry.byName(n).build(spark, dir)
      if (save) {
        df.write.mode("overwrite").parquet(s"$snapDir/$n.parquet")
        println(s"SAVED $n")
      } else {
        val prev = spark.read.parquet(s"$snapDir/$n.parquet")
        val cur = df
        val sameSchema = prev.schema.map(f => (f.name, f.dataType)).sortBy(_._1) ==
          cur.schema.map(f => (f.name, f.dataType)).sortBy(_._1)
        val cols = prev.columns.sorted.toSeq
        // canonical value: binary/array columns become Seqs (Array's ==
        // is reference equality -- identical bytes would read MISMATCH);
        // nested rows/maps normalize recursively
        def canon(v: Any): Any = v match {
          case a: Array[Byte] => a.toSeq
          case a: Array[_] => a.toSeq.map(canon)
          case s: scala.collection.Seq[_] => s.map(canon).toSeq
          case r: Row => r.toSeq.map(canon)
          case m: scala.collection.Map[_, _] =>
            m.toSeq.map { case (k, x) => (canon(k), canon(x)) }
              .sortBy(_.toString())
          case x => x
        }
        // sort key: LENGTH-PREFIXED delimited field encodings -- a bare
        // delimiter join lets distinct rows collide (("ab","c") vs
        // ("a","bc") under "", or fields containing the delimiter) and
        // pair differently across the two sides, producing spurious
        // MISMATCH on genuinely identical outputs
        // 'N'/'V' tags keep SQL NULL distinct from the string "null"
        // AT EVERY NESTING LEVEL (String.valueOf renders a null inside
        // an array as 'null' too — Array(null) vs Array("null") would
        // tie in the sort and let identical outputs pair differently
        // across sides). canon has already normalized values to
        // primitives / Seqs / (k, v) tuples.
        def enc(v: Any): String = v match {
          case null => "N"
          case s: scala.collection.Seq[_] =>
            s.map(enc).mkString("A[", ",", "]")
          case (a, b) => s"T(${enc(a)},${enc(b)})"
          case x => val s = String.valueOf(x); s"V${s.length}:$s"
        }
        def key(row: Seq[Any]): String = row.map(enc).mkString("\u0001")
        def rows(d: DataFrame) =
          d.select(cols.map(org.apache.spark.sql.functions.col): _*)
            .collect()
            .map(r => r.toSeq.map(canon))
            .sortBy(key)
        val ok = sameSchema && {
          val a = rows(prev); val b = rows(cur)
          a.length == b.length && a.zip(b).forall { case (x, y) => x == y }
        }
        if (!ok) failed += 1
        println(s"${if (ok) "MATCH" else "MISMATCH"} $n (schemaOk=$sameSchema)")
      }
    }
    failed == 0
  }

  /** Run one query once (after an untimed warmup) and print every Spark
    * JOB it submitted — id, wall, task count/time, and the call site — so
    * latency-bound pipeline queries (many tiny jobs, little task time)
    * decompose into "which call sites burn the wall". */
  private def jobs(spark: SparkSession, dir: String, name: String): Boolean = {
    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var site: String = "", var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, J]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    // stageId -> (name, tasks, taskMs)
    val stages =
      scala.collection.concurrent.TrieMap.empty[Int, (String, Int, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val desc = props.flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        val call = props.flatMap(p =>
          Option(p.getProperty("callSite.short"))).getOrElse("")
        // deepest stage's callsite: streaming/action jobs all share one
        // driver callsite, but the stage sites name the actual operator
        val stageSite = e.stageInfos.sortBy(_.stageId).lastOption
          .map(si => si.name.takeWhile(_ != '\n')).getOrElse("")
        val j = J(e.jobId, start = e.time,
          site = (if (desc.nonEmpty) desc.take(60) + " | " else "") +
            call + " | " + stageSite.take(80))
        jobs(e.jobId) = j
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskMetrics != null)
            j.taskMs += e.taskMetrics.executorRunTime
        }
        val ms =
          if (e.taskMetrics != null) e.taskMetrics.executorRunTime else 0L
        val (nm, t, tm) = stages.getOrElse(e.stageId, ("", 0, 0L))
        stages(e.stageId) = (nm, t + 1, tm + ms)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val (_, t, tm) = stages.getOrElse(e.stageInfo.stageId, ("", 0, 0L))
        stages(e.stageInfo.stageId) = (e.stageInfo.name, t, tm)
      }
    })
    // warmup pass outside the profile
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => }
    val q = Registry.byName(name)
    val t0 = System.nanoTime()
    val rows = q.build(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graft.BenchBus.flush(spark.sparkContext)
    val done = jobs.values.toSeq.filter(_.end > 0).sortBy(_.id)
    println(f"[jobprofile] $name: wall $wall%.2f s, rows=$rows, " +
      s"jobs=${done.size}, " +
      f"sum job wall ${done.map(j => j.end - j.start).sum / 1e3}%.2f s, " +
      f"sum task time ${done.map(_.taskMs).sum / 1e3}%.2f s")
    // per-callsite rollup, slowest first
    done.groupBy(_.site).toSeq
      .map { case (s, js) => (s, js.size, js.map(j => j.end - j.start).sum,
        js.map(_.tasks).sum, js.map(_.taskMs).sum) }
      .sortBy(-_._3)
      .take(40)
      .foreach { case (s, n, ms, tasks, tms) =>
        println(f"[jobprofile]   ${ms / 1e3}%7.2f s  n=$n%-4d tasks=$tasks%-5d taskTime=${tms / 1e3}%7.2f s  $s")
      }
    // stage-level rollup (stage names always carry the operator callsite
    // — jobs launched from streaming/SQL-execution threads often don't)
    stages.values.toSeq.groupBy(_._1).toSeq
      .map { case (s, xs) => (s, xs.size, xs.map(_._2).sum, xs.map(_._3).sum) }
      .sortBy(-_._4)
      .take(40)
      .foreach { case (s, n, tasks, tms) =>
        println(f"[stageprofile] ${tms / 1e3}%7.2f s taskTime  n=$n%-4d tasks=$tasks%-5d  $s")
      }
    true
  }
}
