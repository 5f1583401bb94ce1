package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Shared measurement plumbing for the harness mains (Bench, Soak,
  * ExplainDump). One definition of the session
  * config, the order-insensitive checksum, and the median keeps
  * "measured under bench conditions" structural: a config or checksum
  * change lands in every harness at once instead of silently
  * desynchronizing a copy. */
private[graft] object BenchKit {

  /** The bench session: one executor thread per core (overridable via
    * SPARK_GRAFT_CPUS), shuffle partitions matched to it, UTC, the
    * graft extensions, legacy nanos-as-long kept for older testdata
    * encodings (harmless when the files are TIMESTAMP_NTZ micros —
    * graft.Tables canonicalizes either), no UI.
    *
    * `periodicGC` is the ContextCleaner's periodic-GC timer. Cleaner
    * reclamation (broadcasts, finished-job shuffle files) happens only
    * after a driver GC drains its weak-reference queue; a mostly-idle
    * heap may not GC for the whole session (round-8: citation_hits runs
    * grew 19→28→42 s between swept runs), so the default here is 60 s to
    * keep reclamation inside any long harness run. Bench OVERRIDES it to
    * 30 min: its [[Blocks.sweepAll]] already runs an explicit System.gc()
    * between every timed execution (deterministic reclamation), so the
    * only thing the 60 s timer adds in a bench is a full GC that can land
    * MID timed run — the r10/r11 suspect for the full-bench-only ~2×
    * inflation on citation_scc (prefix re-runs, which spend <60 s before
    * scc, never showed it).
    *
    * Status-store retention is capped hard. `spark.ui.enabled=false`
    * does NOT disable the AppStatus/SQLAppStatus listeners — they keep
    * per-execution plan graphs, per-stage and per-task metric rows in
    * driver memory at defaults sized for a UI someone might open
    * (1000 SQL executions, 1000 jobs/stages, 100k tasks). A ~200-query
    * harness run with the iterative graph family (hundreds of stages and
    * a full physical-plan graph PER execution) accumulates a multi-GB
    * LIVE set that no System.gc() can reclaim, squeezing the young gen —
    * measured r12: late-bench allocation-heavy queries paid 1.4-1.8 s of
    * in-run STW GC vs ~30 ms for the identical query in a fresh JVM
    * (dedup_canonical 11.8 s full-bench vs 2.2-2.7 s isolated/prefix;
    * the whole text family inflated 2-6× while numeric families were
    * flat). Retention exists for a UI nothing renders here — cap it at
    * a debugging-useful tail and the live set stays bounded regardless
    * of suite length. */
  def session(periodicGC: String = "60s"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", periodicGC)
      .config("spark.ui.enabled", "false")
      // bounded status retention (see scaladoc): keep a short debugging
      // tail, not a UI's worth of history
      .config("spark.sql.ui.retainedExecutions", "24")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.ui.retainedDeadExecutors", "10")
    // Dev A/B hook (unset in the driver, so shipped bench conditions are
    // untouched): SPARK_GRAFT_CONF="k=v;k=v" overlays session confs for
    // focused experiments (e.g. AQE on/off probes) without forking a
    // second harness that could desynchronize from bench conditions.
    val withOverlay = sys.env.get("SPARK_GRAFT_CONF").iterator
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .foldLeft(builder) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        // every applied overlay is printed so a bench log is
        // self-auditing about its session conditions (ADVICE r15)
        println(s"[benchkit] SPARK_GRAFT_CONF overlay: $k=$v")
        b.config(k, v)
      }
    val spark = withOverlay.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Blocks.quietReleaseWarnings() // harness JVM: deliberate releases only
    spark
  }

  /** Total stop-the-world GC milliseconds accumulated by this JVM so far
    * (summed over all collectors). Deltas around a timed region attribute
    * "how much of this run was GC" — the instrumentation the r11 verdict
    * asked for instead of more uninstrumented re-runs. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** 1-minute system load average at call time (-1.0 if unavailable) —
    * recorded per timed run so host contention self-attributes in the
    * committed detail artifact. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Materialize every projected column of every row through the full
    * plan via an order-insensitive checksum — unlike `.count()`, a
    * projection-only query cannot degenerate into a parquet row-count.
    * bit_xor, not sum: summing 2^63-scale hashes overflows under ANSI. */
  def checksum(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(bit_xor(col("h"))).collect()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
