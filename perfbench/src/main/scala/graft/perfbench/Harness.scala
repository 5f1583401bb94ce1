package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

import graft.{BenchKit, Blocks, CitationReportApp, SparkEntry}

/** The benchmark's JVM side. It drives the engine through its public
  * entry points (`SparkEntry.queries`, `CitationReportApp.run`) in one
  * client thread, on the `BenchKit.session` settings, and writes one JSON
  * record per execution; `perfbench/run.py` turns those into metrics.
  *
  * Modes:
  * {{{
  * setup                                  session + global warm-up, then exit
  * run <kind> <input> <seconds> <trace> <seed> <items> <out.json> <trace.json>
  * report <edges.txt> <report.txt> <timestamp>
  * }}}
  * `kind` is `queries` (items: comma-separated query names; input: the
  * parquet directory) or `report` (items: the pinned report timestamp;
  * input: the edge-list file). The first line `ready <epoch-ms>` marks the
  * end of set-up. */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: Nil =>
      val spark = startSession()
      println(s"ready ${System.currentTimeMillis}")
      spark.stop()
    case "run" :: kind :: input :: seconds :: trace :: seed :: items :: out :: traceOut :: Nil =>
      val spark = startSession()
      println(s"ready ${System.currentTimeMillis}")
      try {
        val (work, reference) = kind match {
          case "queries" =>
            (items.split(',').toSeq.map(q => new QueryExec(spark, input, q)), () => sortJob(spark))
          case "report" =>
            (Seq(new ReportExec(spark, input, Paths.get(out + ".report"), items)),
              () => textScan(spark, input))
        }
        new Run(spark, work, reference, seconds.toDouble, trace == "1", seed.toLong)
          .measure(out, traceOut)
      } finally spark.stop()
    case "report" :: in :: out :: ts :: Nil =>
      val spark = BenchKit.session()
      try CitationReportApp.run(spark, in, out, ts) finally spark.stop()
    case _ =>
      System.err.println("usage: see graft.perfbench.Harness scaladoc")
      sys.exit(2)
  }

  /** Reference jobs run no engine code and no Spark SQL: they use the RDD
    * API, so neither the engine's session settings nor its planner
    * extensions reach them. Timed after every pass, in the same JVM, they
    * measure how fast this host runs that kind of Spark work at that
    * moment: on a shared host that speed drifts by up to 2x within minutes,
    * and dividing by it removes most of the drift. Each workload gets the
    * one that slows down with it: 4 × cores tasks sorting the same
    * pseudo-random longs, then a small shuffle (the many-small-jobs graph
    * queries), or a line scan of the workload's own edge list (the
    * text-ingest report). */
  private def sortJob(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism * 4
    sc.parallelize(0 until n, n).map { i =>
      val r = new java.util.SplittableRandom(i)
      val a = Array.fill(1000000)(r.nextLong())
      java.util.Arrays.sort(a)
      (i % 7, a(a.length / 2))
    }.reduceByKey(_ ^ _, 4).count()
  }

  private def textScan(spark: SparkSession, path: String): Unit = {
    val sc = spark.sparkContext
    sc.textFile(path, sc.defaultParallelism).map(_.length.toLong).sum()
  }

  /** The bench session plus one global warm-up job (JVM, codegen and
    * scheduler first-touch), as `graft.Bench` does before timing. */
  private def startSession(): SparkSession = {
    val spark = BenchKit.session(periodicGC = "30min")
    spark.range(0, 100000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()
    spark
  }
}

/** Phase times of one execution, in nanoseconds: the call that builds
  * the result (eager cuts and rounds included) and the action that
  * materialises it. */
final case class Phases(buildNs: Long, actionNs: Long)

/** One timed unit of work: a query checksum or a citation report, run as
  * a user would call it, traced or not. */
sealed trait Exec {
  def name: String
  def run(): Phases
  /** The last execution's result, read outside the clock. */
  def result(): String
}

final class QueryExec(spark: SparkSession, dataDir: String, val name: String)
    extends Exec {
  private val fn = SparkEntry.queries.getOrElse(name,
    throw new IllegalArgumentException(s"unknown query $name"))
  private var last = ""

  /** `BenchKit.checksum`'s order-insensitive `bit_xor(xxhash64(struct(*)))`,
    * with the value kept and the row count alongside. */
  private def checksum(df: DataFrame): String = {
    val row = df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(bit_xor(col("h")), count(lit(1))).collect()(0)
    s"${if (row.isNullAt(0)) "null" else row.getLong(0).toString}:${row.getLong(1)}"
  }

  def run(): Phases = {
    val t0 = System.nanoTime()
    val df = fn(spark, dataDir)
    val t1 = System.nanoTime()
    last = checksum(df)
    Phases(t1 - t0, System.nanoTime() - t1)
  }

  def result(): String = last
}

final class ReportExec(spark: SparkSession, edges: String,
                       out: java.nio.file.Path, generatedOn: String) extends Exec {
  val name = "citation_report"

  /** The whole pipeline is one call, so it counts as the action; the
    * census splits it at its last Spark job into the top-30 collect and
    * the format-and-write tail. */
  def run(): Phases = {
    Files.deleteIfExists(out)
    val t0 = System.nanoTime()
    CitationReportApp.run(spark, edges, out.toString, generatedOn)
    Phases(0L, System.nanoTime() - t0)
  }

  /** SHA-256 of the written report. */
  def result(): String = MessageDigest.getInstance("SHA-256")
    .digest(Files.readAllBytes(out)).map(b => f"$b%02x").mkString
}

/** A closed loop of passes over `work`: two untimed warm-up passes, then
  * timed passes until `seconds` have gone by. Each pass runs the work in
  * an order drawn from `seed`. `Blocks.sweepAll` runs after every
  * execution, outside the clock, as in `graft.Bench`, and the reference
  * job runs after every pass (see `Harness.sortJob`). A traced run spends
  * the first half of its time untraced and the second half with the
  * census listeners attached; the executions are the same in both halves,
  * so the two, each divided by its passes' reference times, give the
  * tracing overhead. */
final class Run(spark: SparkSession, work: Seq[Exec], reference: () => Unit,
                seconds: Double, trace: Boolean, seed: Long) {
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val records = ArrayBuffer[String]()
  private val spans = ArrayBuffer[String]()
  private var nextSpan = 0

  private def ms(ns: Long): Double = (ns - origin) / 1e6
  private def span(parent: Int, name: String, start: Double, end: Double): Int = {
    nextSpan += 1
    spans += s"""{"id":$nextSpan,"parent":$parent,"name":${Json.str(name)},"start_ms":$start,"end_ms":$end}"""
    nextSpan
  }

  /** CPU time of the whole JVM (task threads, driver, JIT and GC). */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def order(pass: Int): Seq[Exec] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(work)

  /** Spin each of 4 × cores tasks for a fixed wall-clock stretch and sum
    * the CPU time the tasks' threads actually got; over the job's wall time
    * that is the number of cores the run really had. */
  private def calibrate(): (Double, Double) = {
    val cores = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    val cpuMs = spark.sparkContext.parallelize(0 until cores * 4, cores * 4).map { _ =>
      val threads = ManagementFactory.getThreadMXBean
      val (s, c) = (System.nanoTime(), threads.getCurrentThreadCpuTime)
      var x = 0L
      while (System.nanoTime() - s < 50000000L) x += 1
      (threads.getCurrentThreadCpuTime - c) / 1e6
    }.collect().sum
    (cpuMs, (System.nanoTime() - t0) / 1e6)
  }

  private def once(pass: Int, e: Exec, census: Option[Census], passSpan: Int): Unit = {
    census.foreach { c => ListenerBusDrain(spark.sparkContext); c.begin() }
    val load = BenchKit.loadAvg()
    val g0 = BenchKit.gcMillis()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val attempt =
      try Right(e.run())
      catch { case t: Throwable => Left(t) }
    val t1 = System.nanoTime()
    val cpu = cpuNs() - c0
    val gc = BenchKit.gcMillis() - g0
    val result = attempt.map(_ => e.result())
    Blocks.sweepAll(spark)
    val t2 = System.nanoTime()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val fields = ArrayBuffer[String](
      s""""pass":$pass""", s""""name":${Json.str(e.name)}""", s""""traced":${census.isDefined}""",
      s""""wall_ns":${t1 - t0}""", s""""cpu_ns":$cpu""", s""""sweep_ns":${t2 - t1}""", s""""gc_ms":$gc""",
      s""""heap_after_sweep_bytes":$heap""", s""""loadavg":$load""")
    attempt match {
      case Right(o) => fields ++= Seq(s""""ok":true""", s""""result":${Json.str(result.getOrElse(""))}""",
          s""""build_ns":${o.buildNs}""", s""""action_ns":${o.actionNs}""")
      case Left(t) => fields ++= Seq(s""""ok":false""",
          s""""error":${Json.str(t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage).take(300))}""")
    }
    census.foreach { c =>
      ListenerBusDrain(spark.sparkContext)
      val k = c.end()
      val exec = span(passSpan, e.name, ms(t0), ms(t1))
      attempt.foreach { o =>
        val steps = Seq("operators.build" -> o.buildNs, "operators.action" -> o.actionNs)
        steps.foldLeft(t0) { case (at, (name, ns)) => span(exec, name, ms(at), ms(at + ns)); at + ns }
      }
      span(exec, "blocks.sweep", ms(t1), ms(t2))
      k.jobSpans.foreach { case (id, s, f) =>
        span(exec, s"job $id", (s - originMs).toDouble, (f - originMs).toDouble)
      }
      val wallStartMs = originMs + ms(t0)
      fields ++= Seq(
        s""""jobs":${k.jobs}""", s""""stages":${k.stages}""", s""""tasks":${k.tasks}""",
        s""""tasks_per_stage":${k.tasksPerStage.mkString("[", ",", "]")}""",
        s""""executor_run_ms":${k.runMs}""", s""""executor_cpu_ms":${k.cpuNs / 1e6}""",
        s""""scan_file_bytes":${k.scanFileBytes}""", s""""scan_rows":${k.scanRows}""",
        s""""scan_task_ms":${k.scanTaskMs}""",
        s""""shuffle_read_bytes":${k.shuffleReadBytes}""",
        s""""shuffle_write_bytes":${k.shuffleWriteBytes}""",
        s""""spill_bytes":${k.spillBytes}""", s""""sql_actions":${k.sqlActions.map { case (a, n) => s"${Json.str(a)}:$n" }.mkString("{", ",", "}")}""",
        s""""planning_ms":${k.planningMs}""", s""""checkpoint_rdds":${k.rddsStored.size}""",
        s""""peak_storage_bytes":${k.peakStorageBytes}""",
        s""""start_epoch_ms":$wallStartMs""",
        s""""job_spans_epoch_ms":${k.jobSpans.map { case (_, s, f) => s"[$s,$f]" }.mkString("[", ",", "]")}""")
    }
    records += fields.mkString("{", ",", "}")
  }

  private val references = ArrayBuffer[String]()

  /** Times the reference job; `p = Int.MinValue` runs it untimed, to warm
    * it up. */
  private def timeReference(p: Int): Unit = {
    val t0 = System.nanoTime()
    reference()
    if (p != Int.MinValue) references += s"[$p,${(System.nanoTime() - t0) / 1e9}]"
  }

  private def pass(p: Int, census: Option[Census]): Double = {
    val t0 = System.nanoTime()
    val passSpan = if (census.isDefined) { nextSpan += 1; nextSpan } else 0
    order(p).foreach(e => once(p, e, census, passSpan))
    val t1 = System.nanoTime()
    timeReference(p)
    if (census.isDefined)
      spans += s"""{"id":$passSpan,"parent":0,"name":"pass $p","start_ms":${ms(t0)},"end_ms":${ms(t1)}}"""
    (t1 - t0) / 1e9
  }

  def measure(out: String, traceOut: String): Unit = {
    val (calibCpuMs, calibWallMs) = calibrate()
    val load0 = BenchKit.loadAvg()
    // two untimed passes: a query's second execution is still ~30%
    // slower than later ones while the JIT catches up
    (1 to 3).foreach(_ => timeReference(Int.MinValue))
    val warmup = Seq(pass(-1, None), pass(0, None))
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val untracedUntil = if (trace) seconds / 2 else seconds
    var p = 1
    while (p == 1 || elapsed < untracedUntil) { pass(p, None); p += 1 }
    if (trace) {
      val census = new Census
      spark.sparkContext.addSparkListener(census)
      spark.listenerManager.register(census)
      val first = p
      while (p == first || elapsed < seconds) { pass(p, Some(census)); p += 1 }
      Files.writeString(Paths.get(traceOut), spans.mkString("[\n", ",\n", "\n]\n"), UTF_8)
    }
    val doc = Seq(
      s""""cores":${spark.sparkContext.defaultParallelism}""",
      s""""warmup_passes_s":${warmup.mkString("[", ",", "]")}""",
      s""""calib_cpu_ms":$calibCpuMs""", s""""calib_wall_ms":$calibWallMs""",
      s""""loadavg_start":$load0""", s""""loadavg_end":${BenchKit.loadAvg()}""",
      s""""reference_s":${references.mkString("[", ",", "]")}""",
      s""""execs":${records.mkString("[\n", ",\n", "\n]")}""").mkString("{", ",\n", "}\n")
    Files.writeString(Paths.get(out), doc, UTF_8)
  }
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
