package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The [[Fixpoint]] contract on small in-memory frames: the cap and its
  * one exception, fixed-round loops, the cut cadence, a job-free
  * observer, and a block manager that holds only the returned iterate. */
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

  /** The id the next Spark job will get (job ids are sequential). */
  private def nextJobId(): Int = {
    val sc = spark.sparkContext
    val f = sc.submitJob(sc.parallelize(Seq(1), 1), (_: Iterator[Int]) => (),
      Seq(0), (_: Int, _: Unit) => (), ())
    f.get()
    f.jobIds.head + 1
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
    val j0 = nextJobId()
    run()
    val plain = nextJobId() - j0 - 1
    val rounds = scala.collection.mutable.ArrayBuffer[Int]()
    val j1 = nextJobId()
    Fixpoint.observing { (i, df) =>
      rounds += i
      df.queryExecution.executedPlan // planning only
    }(run())
    val observed = nextJobId() - j1 - 1
    assert(rounds.toSeq === (1 to 4))
    assert(observed === plain, s"observing added ${observed - plain} jobs")
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
