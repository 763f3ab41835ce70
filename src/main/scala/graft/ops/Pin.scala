package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's ONE local-checkpoint call site — every per-query /
  * per-op pin goes through here (`pinLazy`/`pinEager`), so the storage
  * level is a single measured decision instead of 100+ scattered ones
  * (optimization guide §5, caching).
  *
  * Storage level: `MEMORY_AND_DISK` (deserialized, Spark's
  * `localCheckpoint` default). The r16 optimization round A/B-measured
  * the alternative after thread-dump profiling attributed ~30% of
  * q135's task CPU to `SizeEstimator.visitSingleObject` (the
  * deserialized store's per-put object-graph walk):
  *
  *   - `MEMORY_AND_DISK_SER` + JavaSerializer: 15-query hot set wall
  *     29 s → 36 s, CPU 544 s → 556 s — per-row ObjectStream cost
  *     exceeds the walk it avoids; REJECTED.
  *   - `MEMORY_AND_DISK_SER` + KryoSerializer: wall 28.6 s → 28.1 s,
  *     CPU 544 s → 502 s — a wash on wall, and Kryo's FieldSerializer
  *     needs `--add-opens java.base/java.nio` on JDK 17+ (fails on a
  *     plain JVM launch); REJECTED as fragile for a ~0 wall win.
  *
  * The SizeEstimator walk itself is a SMALL-PARTITION artifact: the
  * sampler re-estimates ~O(log n) times per partition, so dozens of
  * tiny partitions walk a large fraction of the data while one
  * advisory-sized partition walks ~1%. The real fix was making the
  * pinned shuffles AQE-coalescable (GlobalRank: `repartitionByRange`
  * without an explicit partition count) so blocks are few and large at
  * every scale — after which the storage level barely matters.
  */
object Pin {
  implicit final class PinSyntax(private val df: DataFrame) extends AnyVal {
    /** Lazy local checkpoint: pins plan + partition layout, materialized
      * by the first action that touches it. */
    def pinLazy: DataFrame =
      df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)

    /** Eager local checkpoint: materialized now. */
    def pinEager: DataFrame =
      df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

    /** The checkpointed RDD behind a pinned frame (its plan is the
      * `LogicalRDD` the checkpoint leaves): its partition count, its id
      * in the persisted-RDD registry, and the handle to unpersist it. */
    def pinnedRdd: RDD[InternalRow] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
        .headOption.getOrElse(throw new IllegalStateException(
          "expected a localCheckpoint-backed frame"))

    /** KEYED pin for loop-invariant join inputs: force a hash layout +
      * in-partition sort, pin it, and RE-DECLARE that layout on the
      * checkpointed frame
      * ([[org.apache.spark.sql.GraftBridge.declareHashLayout]] — the
      * plain pin comes back `UnknownPartitioning`, so every iteration of
      * a join-per-round recurrence re-shuffles AND re-sorts the pinned
      * side; the declared layout lets `EnsureRequirements` skip both,
      * leaving one exchange per round on the small evolving side only.
      * Guide §2.4: two operations keyed the same way share one exchange.
      *
      * The partition count is SCALE-ADAPTIVE, not a constant: a first
      * keyed AQE-coalescable repartition materializes (eager pin), and
      * its post-coalesce partition count — AQE's own advisory-size
      * arithmetic over the frame's REAL bytes — becomes the declared
      * count `n` of a second, explicit `repartition(n, keys)` pass
      * (`REPARTITION_BY_NUM`, never coalesced, so the blocks really are
      * hash(keys) % n and the declaration is truthful; the bridge's
      * safety note explains why a coalesced layout itself cannot be
      * declared). First cut declared `spark.sql.shuffle.partitions`
      * directly: truthful but fixed-count — at sf0.1 it forced every
      * per-round stage to 32 tasks that AQE had been coalescing to ~2,
      * tripling task CPU (q402 27.6 → 95.8 s); the adaptive count keeps
      * the small-scale stages small and grows with the data exactly
      * like any other AQE-sized shuffle. Costs one extra edge-frame
      * shuffle + checkpoint at build — once per memoized frame, in the
      * prewarm, amortized by the same sharing that justifies the memo. */
    def pinKeyed(keys: String*): DataFrame = {
      val kcols = keys.map(org.apache.spark.sql.functions.col)
      val probe = df.repartition(kcols: _*) // REPARTITION_BY_COL: coalescable
        .pinEager
      val probeRdd = probe.pinnedRdd
      val n = math.max(1, probeRdd.getNumPartitions)
      val ck = probe
        .repartition(n, kcols: _*)
        .sortWithinPartitions(kcols: _*)
        .pinEager
      probeRdd.unpersist(blocking = false) // keyed blocks supersede probe's
      val ckRdd = ck.pinnedRdd
      // the declaration must match the materialized blocks EXACTLY. On an
      // EMPTY frame AQE collapses the repartition to a 0-partition result
      // no matter what count was asked for — declaring hash(keys, 1) on
      // it lets the planner elide a downstream global-agg exchange whose
      // empty-input row ("count() = 0") only that exchange would have
      // produced (EmptyInputSpec caught q105 crashing inside count).
      // Truthfulness rule: declare only when the asked-for layout is the
      // one that exists; otherwise return the plain pin (empty frames
      // don't need the optimization anyway).
      if (ckRdd.getNumPartitions != n) ck
      else org.apache.spark.sql.GraftBridge.declareHashLayout(ck, keys, n)
    }
  }
}
