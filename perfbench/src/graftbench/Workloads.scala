package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.Registry
import graft.catalog.Catalog
import graft.ops.{AnnIndex, DedupOps, VectorOps}
import graft.pipelines.{RefTables, Runner, Versioned}
import graft.queries.{BasketFrames, CorpusFrames, TradeGraph}

object Workloads {
  val RunDate: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1)

  /** Write `df` as parquet for the correctness gates. */
  def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  def oracles(c: Ctx, names: Seq[String]): Unit =
    c.facts("oracle_sql") = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
}
import Workloads._

/** `Runner.run` over the star schema: gate → three fused marts → atomic
  * parquet sink + markers. One op is one run. */
final class EtlTransform(c: Ctx) extends Workload {
  private val spark = c.spark
  private val dir = s"${c.data}/catalog"
  private val out = s"${c.work}/etl/marts"
  private val markers = s"${c.work}/etl/markers"
  private var runs = 0
  private val Root = "pipelines.Runner.run"

  private def once(): Boolean = {
    runs += 1
    val rep = Runner.run(spark, dir, Runner.AtomicParquetSink(out, s"r$runs"),
      RunDate, Some(markers), retries = 0)
    !rep.gated && rep.statuses.size == 3 && rep.statuses.values.forall(_.isRight)
  }

  // Runner.run keeps speeding up for more than ten runs as the JIT warms;
  // three warm-up runs take it past the steepest part
  def setup(): Unit = (1 to 3).foreach(_ => require(once(), "warm-up run failed"))

  val opsPerSecond = 1.0
  def step(): Unit = c.op("etl_run_s", Root)(once())

  /** Lazy layers: a layer's self cost is the `noop` materialization of its
    * output minus that of its inputs. */
  def decompose(): Unit = (1 to 3).foreach { _ =>
    val p = c.probe
    val load = p.noop(Catalog.load(spark, dir, "lineitem")) +
      p.noop(Catalog.load(spark, dir, "supplier"))
    p.record("catalog.Catalog.load", "pipelines.RefTables.fusedStats", load)
    val sets = Seq(RefTables.attackTableNames, RefTables.defenseTableNames,
      RefTables.disciplineTableNames)
    val fused = sets.map(ns => p.noop(RefTables.fusedStats(spark, dir, ns)))
      .reduce(_ + _)
    p.record("pipelines.RefTables.fusedStats", "pipelines.Marts.derive",
      fused - load - load - load)
    val builders = Runner.martBuilders(spark, dir).toSeq.sortBy(_._1)
    val marts = builders.map { case (_, b) => p.noop(b()) }.reduce(_ + _)
    p.record("pipelines.Marts.derive", Root, marts - fused)
    val sink = Runner.AtomicParquetSink(s"${c.work}/etl/trace", s"t$runs")
    runs += 1
    val sunk = builders.map { case (n, b) =>
      p.measure(sink.write(b().withColumn("run_date", lit(RunDate.toString)), n))._2
    }.reduce(_ + _)
    p.record("pipelines.Runner.sink", Root, sunk - marts)
    // the sequential replay telescopes: its children's self times sum to `sunk`
    c.sample("coverage_num_s", sunk.wall_s)
  }

  def finish(): Unit = {
    oracles(c, Seq("q13_attack_mart_fused", "q14_defense_mart_fused",
      "q15_discipline_mart_fused"))
    c.facts("marts_dir") = out
    c.facts("markers") = new java.io.File(markers).list().toSeq.sorted
  }
}

/** The RAG read path over an IVF-PQ index built in set-up: one request is
  * one `serveTopK` (k = 10) of one query vector, collected; every
  * `AppendEvery`-th op appends the next held-out batch instead. */
final class RetrievalServe(c: Ctx) extends Workload {
  private val spark = c.spark
  import spark.implicits._
  private val idx = s"${c.work}/serve/index"
  private val K = 10
  private val NProbe = 6
  // each appended batch partition adds ~15% to every later request, so
  // appends are kept rare enough that most timed requests share one state
  private val AppendEvery = 20
  private val base = spark.read.parquet(s"${c.data}/serve/base.parquet")
  private val appends = Iterator.from(1)
    .map(i => s"${c.data}/serve/append$i.parquet")
    .takeWhile(p => new java.io.File(p).exists)
    .map(spark.read.parquet(_)).toSeq
  private val queries = spark.read.parquet(s"${c.data}/serve/queries.parquet")
    .as[(Long, Array[Float])].collect()
  private var ops = 0
  private var appended = 0
  private var served = 0
  // (query row, batches appended before it, returned ids) per request
  private val answers = mutable.ArrayBuffer.empty[(Int, Int, Seq[Long])]
  private val Root = "ops.AnnIndex.serveTopK"

  private def nextQuery(): (Int, DataFrame) = {
    val i = served % queries.length
    served += 1
    val (id, v) = queries(i)
    (i, Seq((id, v)).toDF("query_id", "qv"))
  }

  private def request(): Boolean = {
    val (i, q) = nextQuery()
    val ids = AnnIndex.serveTopK(spark, idx, q, K, NProbe).collect()
      .map(_.getAs[Long]("neighbor_id")).toSeq
    answers += ((i, appended, ids))
    ids.nonEmpty
  }

  val opsPerSecond = 2.5
  def step(): Unit = {
    ops += 1
    if (ops % AppendEvery == 0 && appended < appends.length)
      c.op("serve_append_s", "ops.AnnIndex.append") {
        AnnIndex.append(appends(appended), idx, appended + 1L)
        appended += 1
        true
      }
    else c.op("serve_latency_s", Root)(request())
  }

  def setup(): Unit = {
    AnnIndex.build(base, idx)
    (1 to 5).foreach(_ => request())
  }

  /** `serveTopK`'s public calls, replayed one by one per request. */
  def decompose(): Unit = {
    val p = c.probe
    var hits = 0
    val n = 10
    (1 to n).foreach { _ =>
      val (_, q) = nextQuery()
      val (snap, snapC) = p.measure(Versioned.latestGroupVersions(idx))
      p.record("pipelines.Versioned.latestGroupVersions", Root, snapC)
      val loads = AnnIndex.modelLoads
      val ((coarse, books), loadC) = p.measure(AnnIndex.loadModel(spark, idx))
      p.record("ops.AnnIndex.loadModel", Root, loadC)
      if (AnnIndex.modelLoads == loads) hits += 1
      val (cells, cellsC) = p.measure(
        q.select(explode(graft.functions.NearestCentroids.nearestCells(
          col("qv"), coarse, NProbe)).as("cell")).distinct().as[Int].collect().sorted)
      p.record("functions.NearestCentroids.nearestCells", Root, cellsC)
      val all = Versioned.read(spark, idx, AnnIndex.CodesTable,
        Some(snap(AnnIndex.CodesTable)))
      val probed = all.filter(col("cell").isInCollection(cells.toSeq))
      val read = p.noop(probed)
      p.record("pipelines.Versioned.read", Root, read)
      val whole = p.noop(all)
      c.sample("pruned_frac", 1.0 - read.in_rows.toDouble / math.max(1L, whole.in_rows))
      val rank = p.noop(VectorOps.ivfPqRank(probed, q, K, coarse, books, NProbe,
        coarse.head._2.length))
      p.record("ops.VectorOps.ivfPqRank", Root, rank - read)
      // the self times of the five calls: rank - read + read = rank
      c.sample("coverage_num_s", (snapC + loadC + cellsC + rank).wall_s)
    }
    c.facts("model_cache_hit_ratio") = hits.toDouble / n
  }

  def finish(): Unit = {
    c.facts("answers") = answers.map { case (i, a, ids) =>
      Map("query" -> i, "appended" -> a, "ids" -> ids)
    }.toList
  }
}

/** Eleven registry queries materialized through `noop`, after cold builds
  * of the three session memo families. One cycle drops the memos, rebuilds
  * them (timed), then runs each query once. */
final class AnalyticsMix(c: Ctx) extends Workload {
  private val spark = c.spark
  private val dir = s"${c.data}/catalog"
  val Names: Seq[String] = Seq("q105_pagerank", "q172_personalized_pagerank",
    "q179_basket_pairs", "q135_equidepth_hist", "q458_cliffs_delta",
    "q61_jaccard_pairs", "q124_overlap_matrix", "q138_containment",
    "q163_jaccard_prefix", "q281_cross_source_dup", "q98_tfidf_top")
  private val qs = Names.map(Registry.byName)
  private var rebuilds = 0

  private def dropMemos(): Unit = {
    val ids = TradeGraph.liveRddIds
    TradeGraph.invalidateAll()
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = true)))
  }

  private val memos: Seq[(String, () => Unit)] = Seq(
    "queries.TradeGraph.build" -> (() => {
      Probe.noop(TradeGraph.symDeg(spark, dir)); Probe.noop(TradeGraph.nodes(spark, dir))
    }),
    "queries.BasketFrames.build" -> (() => {
      Probe.noop(BasketFrames.items(spark, dir)); Probe.noop(BasketFrames.pairCounts(spark, dir))
    }),
    "queries.CorpusFrames.build" -> (() => Probe.noop(CorpusFrames.clusters(spark, dir))))

  /** One pass; `sink` materializes each query's result. */
  private def cycle(sink: (String, DataFrame) => Unit): Unit = {
    dropMemos()
    val built = memos.map { case (span, build) =>
      c.op(s"memo:$span", span, "queries.memo") { build(); true }
    }
    c.sampleSum("memo_build_s", built)
    val live = TradeGraph.liveRddIds
    val ran = qs.map { q =>
      c.op(s"query:${q.name}", s"queries.${q.name}.noop", "queries") {
        sink(q.name, q.build(spark, dir)); true
      }
    }
    c.sampleSum("pass_s", built ++ ran)
    rebuilds += (live -- TradeGraph.liveRddIds).size + (TradeGraph.liveRddIds -- live).size
  }

  private val noop = (_: String, df: DataFrame) => Probe.noop(df)

  /** The warm-up pass writes the results the gates compare, through the
    * parquet sink; the timed passes materialize through `noop`. */
  def setup(): Unit = {
    cycle((n, df) => dump(df, s"${c.gates}/analytics/$n"))
    c.attempted = 0; c.failed = 0; c.samples.clear(); rebuilds = 0
  }

  val opsPerSecond = 0.1
  def step(): Unit = cycle(noop)

  /** The shingle-pair scan behind the corpus memo, on its own. */
  def decompose(): Unit = {
    val docs = Catalog.load(spark, dir, "documents")
    c.probe.record("ops.DedupOps.jaccardPairsHashed", "queries.CorpusFrames.build",
      c.probe.noop(DedupOps.jaccardPairsHashed(docs, n = 5, threshold = CorpusFrames.PairFloor)))
  }

  def finish(): Unit = {
    oracles(c, Names)
    c.facts("memo_rebuilds") = rebuilds
    c.facts("analytics_dir") = s"${c.gates}/analytics"
  }
}
