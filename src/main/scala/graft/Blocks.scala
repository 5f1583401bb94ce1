package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager lifecycle for `localCheckpoint`-pinned frames.
  *
  * Every eager `localCheckpoint()` leaves its materialized partitions in
  * the block manager until the RDD is unpersisted or the JVM dies —
  * nothing scopes them to the computation that needed them. In a
  * long-lived session (the bench JVM runs ~100 queries × 4 executions;
  * a production notebook session is worse) superseded checkpoint blocks
  * accumulate and squeeze execution memory: round-7 measured
  * `dedup_near` 0.58 → 3.54 s and `dedup_embedding` 1.47 → 4.83 s with
  * zero code change, with monotonically growing within-query run times —
  * the signature of block pressure, not plan regressions.
  *
  * Two remedies, both here:
  *  - [[release]] frees ONE checkpointed frame's blocks — iterative
  *    operators call it on each superseded iterate as soon as the next
  *    checkpoint has materialized (pageRank, k-means, PQ codebooks,
  *    label propagation), so peak footprint is O(one iterate), not
  *    O(iterations).
  *  - [[sweepAll]] frees every persisted RDD in the session — harness
  *    code (Bench) calls it between query executions so no run inherits
  *    the previous one's blocks. Callers must not hold live references
  *    to checkpointed frames across a sweep: a local checkpoint has no
  *    lineage to recompute from, so a swept frame is dead, not cold.
  */
private[graft] object Blocks {

  /** Unpersisting a lineage-truncated checkpoint logs one WARN per RDD
    * ("cannot be recomputed after unpersisting") — in the harness mains
    * that is pure by-design noise (~100 queries' worth of deliberate
    * releases would drown the captured output tail), so Bench/Verify/
    * CadenceSweep/Soak call this to silence exactly that logger. It is
    * deliberately NOT a static init: a library must not reconfigure
    * logging as an import side effect, and in a user session the WARN is
    * the one early signal if a future code path ever releases a frame
    * something still reads — production keeps it. */
  def quietReleaseWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Eager `localCheckpoint()` that KEEPS the frame's hash partitioning
    * visible to downstream plans, at a size-aware partition count.
    *
    * When to pin: only when a consumer of the cut keys on the cut's own
    * partitioning — a per-round join or aggregate on the `repartition`
    * key, which then plans no exchange. A frame whose consumers key on
    * anything else (a canonical `(a, b)` edge set read by degree joins
    * and node-keyed semi-joins) gains nothing from the pin and pays for
    * it, so it takes a plain `localCheckpoint()`.
    *
    * Mechanism: under AQE a checkpoint captures an
    * `AdaptiveSparkPlanExec`, whose `outputPartitioning` reads as
    * `UnknownPartitioning`, so the cut materializes with AQE off. AQE's
    * partition coalescing was the size-awareness, so the cut sets an
    * explicit width from its inputs' real sizes ([[cutPartitions]]).
    * Results are identical either way; only plan shape and partition
    * counts change.
    *
    * Thread-safety: the conf flip is synchronized on the session, but a
    * query planned concurrently in the window still observes AQE off —
    * the harness mains are single-threaded, which this primitive
    * assumes. */
  def pinnedCut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // escape hatch (dev A/B probe + production fallback): pin=false
    // makes the cut a plain AQE-governed localCheckpoint (the r14 shape);
    // a value that is not a boolean reads as the default, never throws
    if (!spark.conf.getOption("spark.graft.cut.pin")
          .forall(v => scala.util.Try(v.trim.toBoolean).getOrElse(true)))
      return df.localCheckpoint()
    val n = cutPartitions(df)
    spark.synchronized {
      val conf = spark.conf
      val aqeKey = "spark.sql.adaptive.enabled"
      val spKey = "spark.sql.shuffle.partitions"
      val prevAqe = conf.get(aqeKey)
      val prevSp = conf.get(spKey)
      conf.set(aqeKey, "false")
      conf.set(spKey, n.toString)
      try df.localCheckpoint()
      finally { conf.set(aqeKey, prevAqe); conf.set(spKey, prevSp) }
    }
  }

  /** Data-proportional partition count for [[pinnedCut]]: the summed
    * REAL byte size of the frame's leaf inputs over the target partition
    * size (`spark.graft.cut.partitionBytes`, a byte string, default
    * `64m`), clamped to [1, 262144]. Leaf sizes come from facts, not optimizer guesses:
    * file-relation leaves report their actual file bytes; checkpointed
    * leaves (`LogicalRDD`) report their persisted block bytes from the
    * block manager (in-memory deserialized rows, so a conservative
    * over-estimate vs compressed parquet); in-memory literal leaves are
    * exact. Leaves whose size is unknowable (released blocks, foreign
    * leaf nodes, estimates poisoned by `defaultSizeInBytes`) contribute
    * nothing; if NO leaf is sizeable the cut falls back to the session's
    * `shuffle.partitions` (the pre-sizing behavior) rather than guessing
    * small — under-partitioning a 100 TB frame is the one failure mode
    * this must never have. The sum over-counts frames that are a small
    * slice of their inputs (a BFS frontier still counts the full edge
    * leaf), which costs some task-count slack at scale but is safe in
    * both directions. */
  private[graft] def cutPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val spark = df.sparkSession
    val conf = spark.conf
    val target = math.max(1L, org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(conf.get("spark.graft.cut.partitionBytes", "64m")))
    // defaultSizeInBytes is the stats value of "no idea" (Long.MaxValue
    // unless the user lowered it) — treat anything that large as unknown.
    val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    def known(s: BigInt) = if (s >= unknown) BigInt(0) else s
    val sizes = df.queryExecution.optimizedPlan.collectLeaves().map {
      case r: LogicalRDD => BigInt(blockBytes(spark, r.rdd.id).getOrElse(0L))
      case l: LogicalRelation => known(BigInt(l.relation.sizeInBytes))
      case leaf => known(leaf.stats.sizeInBytes)
    }
    val bytes = sizes.sum
    // the floor is > 1 by default: a 1-partition pinned frame satisfies
    // EVERY required distribution, so downstream per-round aggregates
    // lose their Exchange nodes — and with them the ReusedExchange reuse
    // points that deduplicate shared subtrees (measured at sf0.1:
    // citation_scc shuffle-read bytes 227 MB → 562 MB at floor 1, the
    // h1 subtree recomputed per reference)
    val floor = conf.getOption("spark.graft.cut.minPartitions")
      .map(_.toInt).getOrElse(4).max(1)
    if (bytes <= 0) conf.get("spark.sql.shuffle.partitions").toInt
    else ((bytes + target - 1) / target)
      .min(BigInt(262144)).max(BigInt(floor)).toInt
  }

  /** Persisted block bytes (memory + disk) of RDD `rddId`, or None when
    * it holds no blocks (never materialized, or released). */
  private def blockBytes(spark: SparkSession, rddId: Int): Option[Long] =
    spark.sparkContext.getRDDStorageInfo.find(_.id == rddId)
      .map(i => i.memSize + i.diskSize).filter(_ > 0)

  /** [[blockBytes]] of the checkpoint backing `df` — the fact a
    * size-conditional choice over a just-cut frame reads (kCore's
    * broadcast of its degree table). None if `df` is not a direct
    * checkpoint (same conservatism as [[release]]). */
  def blockBytes(df: DataFrame): Option[Long] = df.queryExecution.analyzed match {
    case l: LogicalRDD => blockBytes(df.sparkSession, l.rdd.id)
    case _ => None
  }

  /** Unpersist the checkpointed RDD backing `df`, if `df` is the direct
    * result of a `localCheckpoint()`/`checkpoint()` call (its analyzed
    * plan is the `LogicalRDD` the checkpoint wrapped). No-op otherwise —
    * deliberately conservative: derived frames share the parent's RDD,
    * and releasing through a derivation would free blocks the parent
    * still owns. Async (`blocking = false`): the freeing races nothing —
    * the caller has already materialized the successor. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** RDD ids exempt from [[sweepAll]] — model artifacts a per-dataset
    * cache owns across queries (the SCC labeling: node-sized, one frame
    * per dataset, the in-session stand-in for the persisted table a
    * production deployment would reuse). Bounded by construction: only
    * deliberate model caches pin, and they pin one frame per dataset. */
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Exempt a checkpointed frame's RDD from [[sweepAll]]. No-op for
    * non-checkpoint frames (same conservatism as [[release]]). An
    * explicit [[release]] still frees a pinned frame — pin only guards
    * against the harness's between-queries sweep, not the owner's own
    * lifecycle. */
  def pin(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => pinned.add(l.rdd.id)
    case _ => ()
  }

  /** Unpersist EVERY persisted RDD (except pinned model artifacts) and
    * clear the Dataset cache.
    * Blocking, so the caller observes a clean block manager — this is
    * harness-side (between bench executions), never inside an operator. */
  def sweepAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => pinned.contains(r.id))
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    // Unpersist reaches only RDD blocks. Broadcast frames (pageRank's
    // dangling mass, hits' norms) and finished-job shuffle files are
    // reclaimed by ContextCleaner, which acts on a weak-reference queue
    // drained by DRIVER GC — and a mostly-idle heap may not GC for the
    // whole session (round-8 bench: monotonically growing runs on
    // unchanged plans). One explicit GC here makes the sweep actually
    // mean "clean slate": the dead broadcasts/shuffles get enqueued now
    // and the (async) cleaner frees them before the next timed run.
    System.gc()
  }
}
