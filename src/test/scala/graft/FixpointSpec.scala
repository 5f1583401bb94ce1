package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, count_if, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import SparkTestBase.jobsOf

/** The [[Fixpoint]] contract on small in-memory frames: the cap and its
  * one exception, fixed-round loops, the cut cadence, a job-free
  * observer, metrics that ride on the cut, and a block manager that holds
  * only the returned iterate. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def start: DataFrame = spark.range(8).toDF("x")

  /** One round: x + 1, cut. */
  private def bump(r: Fixpoint.Round, df: DataFrame): DataFrame =
    r.cut(df.select((col("x") + 1).as("x")))

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** Counts down `k` rounds to convergence under `cap`. */
  private def countdown(k: Int, cap: Int): (DataFrame, Int) =
    Fixpoint.converge("countdown", cap, (start, k))(_._2 == 0) {
      case (r, (df, left)) => (bump(r, df), left - 1)
    }

  test("a loop that needs cap + 1 rounds throws, naming the operator and the cap") {
    val e = intercept[IllegalStateException](countdown(k = 5, cap = 4))
    assert(e.getMessage.contains("countdown") && e.getMessage.contains("4 rounds"),
      e.getMessage)
  }

  test("a loop that needs exactly cap rounds converges") {
    val (df, left) = countdown(k = 4, cap = 4)
    assert(left === 0)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (4L until 12L))
  }

  test("a fixed-round loop runs exactly n rounds and never throws") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Fixpoint.rounds(5, start) { (r, df) => seen += r.i; bump(r, df) }
    assert(seen.toSeq === (1 to 5))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (5L until 13L))
  }

  test("cadence 3 over 7 rounds cuts at rounds 3, 6 and 7") {
    val cutAt = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Fixpoint.rounds(7, start, every = 3) { (r, df) =>
      val next = bump(r, df)
      if (isCut(next)) cutAt += r.i
      next
    }
    assert(cutAt.toSeq === Seq(3, 6, 7))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (7L until 15L))
  }

  test("the observer fires once per round and starts no Spark job") {
    def run(): Long = Fixpoint.rounds(4, start, every = 2)(bump).count()
    val (_, plain) = jobsOf(run())
    val rounds = scala.collection.mutable.ArrayBuffer[Int]()
    val (_, observed) = jobsOf(Fixpoint.observing { (i, df) =>
      rounds += i
      df.queryExecution.executedPlan // planning only
    }(run()))
    assert(rounds.toSeq === (1 to 4))
    assert(observed === plain, s"observing added ${observed - plain} jobs")
  }

  test("an observed done-predicate adds no job to a round") {
    // x starts at 0..7 and grows by 1 a round: 2, 1, then 0 rows below 3
    val (plain, plainJobs) = jobsOf(Fixpoint.rounds(3, start)(bump))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val ((observed, _), observedJobs) = jobsOf(
      Fixpoint.converge("observed", 5, (start, -1L))(_._2 == 0) { case (r, (df, _)) =>
        val (c, m) = r.cut(df.select((col("x") + 1).as("x")),
          count_if(col("x") < 3), count(lit(1)), sum(col("x")))
        seen += ((m.getLong(0), m.getLong(1), m.getLong(2)))
        (c, m.getLong(0))
      })
    assert(seen.toSeq === Seq((2L, 8L, 36L), (1L, 8L, 44L), (0L, 8L, 52L)))
    assert(observedJobs === plainJobs,
      s"the metrics added ${observedJobs - plainJobs} jobs to 3 rounds")
    // the same predicate as an action on the cut is one job a round more
    val (_, countedJobs) = jobsOf(
      Fixpoint.converge("counted", 5, (start, -1L))(_._2 == 0) { case (r, (df, _)) =>
        val c = bump(r, df)
        (c, c.where(col("x") < 3).count())
      })
    assert(countedJobs >= plainJobs + 3, s"$countedJobs vs $plainJobs")
    assert(observed.collect().map(_.getLong(0)).sorted.toSeq ===
      plain.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("metrics off the cut cadence force the cut; an empty frame reads zero") {
    val cutAt = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Fixpoint.rounds(3, start, every = 3) { (r, df) =>
      val (c, m) = r.cut(df.select((col("x") + 1).as("x")), count(lit(1)))
      assert(m.getLong(0) === 8L)
      if (isCut(c)) cutAt += r.i
      c
    }
    assert(cutAt.toSeq === Seq(1, 2, 3))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (3L until 11L))
    // a plan the optimizer proves empty still delivers its row
    val empty = Fixpoint.rounds(1, start) { (r, df) =>
      val (c, m) = r.cut(df.where(lit(false)), count(lit(1)), sum(col("x")))
      assert(m.getLong(0) === 0L && m.isNullAt(1))
      c
    }
    assert(empty.count() === 0L)
  }

  test("after an observed cut a failing query fails alone, with no listener error") {
    Fixpoint.rounds(1, start)((r, df) => r.cut(df, count(lit(1)))._1).count()
    // the query-execution listeners run on the listener bus's shared queue,
    // which jobsOf drains; a listener that throws is logged here
    val bus = LogManager.getLogger("org.apache.spark.sql.util.ExecutionListenerBus")
      .asInstanceOf[Logger]
    val logged = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fixpoint-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    bus.addAppender(appender)
    val missing = java.nio.file.Files.createTempDirectory("fixpoint-spec")
      .resolve("missing").toString
    val (e, _) = try jobsOf(intercept[AnalysisException](spark.read.parquet(missing)))
      finally { bus.removeAppender(appender); appender.stop() }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    assert(logged.isEmpty, logged.asScala.mkString("\n"))
  }

  test("after return only the returned frame's checkpoints stay persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val init = start.localCheckpoint()
    val out = Fixpoint.rounds(7, init, every = 3)(bump)
    val leaves = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.nonEmpty && left.subsetOf(leaves.toSet),
      s"persisted $left, returned frame reads $leaves")
    out.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => ()
    }
  }
}
