package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The per-round lifecycle every iterative operator shares.
  *
  * A loop's state `S` is any value that holds DataFrames: one frame, a
  * tuple of frames and driver-side scalars, or a collection of frames.
  * Each round's step reads the state, builds the round's plan, cuts it
  * through its [[Round]] and returns the next state. The loop owns the
  * rest:
  *
  *  - the round counter and the cap: [[converge]] throws one
  *    `IllegalStateException` naming the operator and the cap when the
  *    state is still not done after `cap` rounds; [[rounds]] runs `n`
  *    rounds (fewer only when its `until` holds first) and never throws;
  *  - the cut: [[Round.cut]] is an eager `localCheckpoint()`, taken on
  *    every `every`-th round and on the last one. Rounds between cuts chain
  *    their plans: pageRank trades that re-execution against one job per
  *    round at a cadence of 3;
  *  - the metrics: a done-predicate reads counts and sums of a round's
  *    cut, never an action on it. `cut(df, metric, more*)` observes the
  *    metrics under a fresh name on the plan it checkpoints and reads the
  *    row from that plan's own query execution once the eager checkpoint
  *    returns, so the aggregates arrive with the cut's own jobs (a
  *    separate `count()` on the checkpoint is one to two jobs more per
  *    round). It registers no listener and waits on no listener bus. A
  *    round off the cut cadence that asks for metrics cuts anyway: only a
  *    materialization can deliver them;
  *  - the release: after each round the loop releases every checkpoint it
  *    owns that no frame of the new state still reads (its `LogicalRDD` is
  *    not a leaf of any state frame's plan). It owns the direct
  *    checkpoints its states hold, its rounds' cuts, and the final states
  *    of loops run inside one of its rounds. So a superseded iterate goes
  *    as soon as its successor has materialized, a rejected candidate goes
  *    in the round that rejected it, and outputs the answer unions (kept in
  *    the state as a collection) live until the caller's final cut. Peak
  *    footprint stays one iterate;
  *  - observation: inside [[observing]] the observer gets `(round, frame)`
  *    once per round, where the frame is the one the round named with
  *    [[Round.observe]], or else the un-cut plan of its first cut. The loop
  *    only hands the frame over, so observing starts no Spark job.
  *
  * The final state belongs to the caller, who releases what it no longer
  * reads after its own last cut.
  */
object Fixpoint {

  /** One round of a running loop: its 1-based index and its cuts. */
  final class Round private[Fixpoint] (val i: Int, cutting: Boolean) {
    private[Fixpoint] val owned = mutable.ArrayBuffer.empty[DataFrame]
    private var seen: Option[DataFrame] = None
    private var firstCut: Option[DataFrame] = None

    /** Eager `localCheckpoint()` of `df`, owned by the loop; on a round
      * off the cut cadence, `df` itself. */
    def cut(df: DataFrame): DataFrame = {
      if (firstCut.isEmpty) firstCut = Some(df)
      if (!cutting) df
      else checkpoint(df)
    }

    /** [[cut]] that also aggregates `metric` and `more` over the rows it
      * checkpoints, in the cut's own jobs, and returns them as one row in
      * argument order. Always cuts, also off the cut cadence: the row
      * exists only once the frame has been materialized. */
    def cut(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) = {
      if (firstCut.isEmpty) firstCut = Some(df)
      val name = s"graft_round_${metricNames.incrementAndGet()}"
      // positional names: two metrics may print the same expression
      val named = (metric +: more).zipWithIndex.map { case (m, j) => m.as(s"m$j") }
      val observed = df.observe(name, named.head, named.tail: _*)
      val c = checkpoint(observed)
      // the eager checkpoint ran as an action on `observed`'s own query
      // execution, so its metrics row (in argument order) is already filled
      (c, observed.queryExecution.observedMetrics(name))
    }

    private def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      owned += c
      c
    }

    /** Name the frame the observer sees for this round, when it is not the
      * round's first cut. */
    def observe(df: DataFrame): Unit = seen = Some(df)

    private[Fixpoint] def observed: Option[DataFrame] = seen.orElse(firstCut)
  }

  /** Suffixes of the observed-metric names, unique in the JVM. */
  private val metricNames = new AtomicLong

  private val observer = new DynamicVariable[(Int, DataFrame) => Unit]((_, _) => ())
  private val enclosing = new DynamicVariable[Option[Round]](None)

  /** Run `body` with `f` observing every round of every loop it runs. */
  def observing[T](f: (Int, DataFrame) => Unit)(body: => T): T =
    observer.withValue(f)(body)

  /** Step until `done(state)`: convergence-or-throw after `cap` rounds. */
  def converge[S](op: String, cap: Int, init: S)(done: S => Boolean)
                 (step: (Round, S) => S): S = {
    val (s, stopped) = loop(init, cap, 1, done)(step)
    if (!stopped) throw new IllegalStateException(
      s"$op did not converge in $cap rounds; raise the cap")
    s
  }

  /** Exactly `n` rounds (fewer if `until(state)` holds first), cutting
    * every `every`-th round and the last; never throws. */
  def rounds[S](n: Int, init: S, every: Int = 1,
                until: S => Boolean = (_: S) => false)
               (step: (Round, S) => S): S =
    loop(init, n, every, until)(step)._1

  /** Runs the rounds; returns the final state and whether `stop` held. */
  private def loop[S](init: S, n: Int, every: Int, stop: S => Boolean)
                     (step: (Round, S) => S): (S, Boolean) = {
    val owned = mutable.LinkedHashMap.empty[Int, DataFrame]
    def own(dfs: Iterable[DataFrame]): Unit =
      dfs.foreach(df => checkpointId(df).foreach(owned.getOrElseUpdate(_, df)))
    own(frames(init).toSeq)
    var s = init
    var i = 0
    var stopped = stop(s)
    while (!stopped && i < n) {
      i += 1
      val r = new Round(i, i % every == 0 || i == n)
      s = enclosing.withValue(Some(r))(step(r, s))
      val state = frames(s).toSeq
      own(r.owned)
      own(state)
      r.observed.foreach(observer.value(i, _))
      val live = state.flatMap(_.queryExecution.analyzed.collectWithSubqueries {
        case l: LogicalRDD => l.rdd.id
      }).toSet
      owned.filterInPlace { (id, df) => live(id) || { Blocks.release(df); false } }
      stopped = stop(s)
    }
    // a loop run inside another loop's round hands its final state's
    // checkpoints to that round, which releases them once unread
    enclosing.value.foreach(_.owned ++= owned.values)
    (s, stopped)
  }

  /** The RDD id of a direct checkpoint (the frame `localCheckpoint()`
    * returned), the only kind of frame [[Blocks.release]] frees. */
  private def checkpointId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Every DataFrame a state holds. */
  private def frames(s: Any): Iterator[DataFrame] = s match {
    case df: Dataset[Row @unchecked] => Iterator.single(df)
    case xs: Iterable[_] => xs.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }
}
