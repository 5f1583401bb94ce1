package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Citations

/** Focused spec for the size-aware keyed [[Blocks.cut]]: the cut must
  * (a) declare its hash partitioning on the keys downstream, (b) derive
  * its partition count from real leaf bytes / target with the floor
  * clamp, (c) remove the downstream exchange on the key, (d) never
  * change results, (e) never touch the session conf another query
  * plans under, and (f) run a shape step inside its one exchange — plus the size parsing the cut and
  * [[Citations.probeSide]] share: byte confs honor sign and unit, and
  * unknown sizes never read as huge. */
class PinnedCutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def src = (1 to 1000).map(i => (s"k${i % 97}", i)).toDF("k", "v")

  test("pinned cut keeps hash partitioning visible at the floor count") {
    val cut = Blocks.cut(src, "k")
    cut.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val hp = l.outputPartitioning
        assert(hp.isInstanceOf[HashPartitioning],
          s"expected HashPartitioning, got $hp")
        // tiny frame -> the floor (4)
        assert(hp.numPartitions == 4, s"expected floor 4, got $hp")
      case other => fail(s"checkpoint did not produce a LogicalRDD: $other")
    }
    Blocks.release(cut)
  }

  test("cut width scales with leaf bytes over the target") {
    // a LocalRelation's stats are exact; a ~28 kB frame over a 1 kB
    // target must size well above the floor and match cutPartitions
    val n = Blocks.cutPartitions(src, target = 1024)
    assert(n > 4, s"expected byte-derived width over the floor, got $n")
    val cut = Blocks.cut(src, n, Seq("k"))
    assert(cut.rdd.getNumPartitions == n,
      s"materialized ${cut.rdd.getNumPartitions} partitions, sized $n")
    Blocks.release(cut)
  }

  test("downstream aggregate on the pinned key plans zero exchanges") {
    val cut = Blocks.cut(src, "k")
    val agg = cut.groupBy(col("k")).agg(count(lit(1)))
    agg.collect()
    val finalPlan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange h"))
    assert(exchanges == 0, s"expected 0 exchanges, plan:\n$finalPlan")
    Blocks.release(cut)
  }

  test("pinned and plain cuts produce identical rows") {
    val a = Blocks.cut(src, "k")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
      .collect().map(_.toString).sorted
    val b = src.repartition(col("k")).localCheckpoint()
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("unknown-size frames fall back to the session shuffle partitions") {
    // no sizeable leaf: an unpersisted-RDD-backed frame would be the
    // real case; emulate by asking for a frame whose only leaf is a
    // released checkpoint
    val cp = src.localCheckpoint()
    Blocks.release(cp)
    // release is async: wait until the blocks are actually gone
    val rddId = cp.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.id
      case other => fail(s"not a LogicalRDD: $other")
    }
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getRDDStorageInfo
             .exists(i => i.id == rddId && i.memSize + i.diskSize > 0) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    val n = Blocks.cutPartitions(cp.repartition(col("k")))
    assert(n == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"expected fallback to session shuffle partitions, got $n")
  }

  test("a LogicalRelation reporting defaultSizeInBytes counts as unknown size") {
    // a non-file relation (JDBC-like) that does not override sizeInBytes
    // reports the session's defaultSizeInBytes (Long.MaxValue): the cut
    // must fall back to the session width, not clamp to 262144
    val rel = new BaseRelation with TableScan {
      override def sqlContext = spark.sqlContext
      override def schema = StructType(Seq(StructField("k", StringType)))
      override def buildScan() = spark.sparkContext.parallelize(Seq(Row("a")))
    }
    val n = Blocks.cutPartitions(spark.baseRelationToDataFrame(rel))
    assert(n == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"expected fallback to session shuffle partitions, got $n")
  }

  test("a keyed cut never changes the conf a query on another thread plans under") {
    // one thread runs 20 keyed cuts while a second polls the two confs a
    // cut's own exchange could be tempted to flip and plans a query
    // against them: the poller must never see either value move, and
    // every plan it makes meanwhile must stay adaptive
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val before = (spark.conf.get(aqeKey), spark.conf.get(spKey))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Boolean)]()
    @volatile var cutting = true
    val poller = new Thread(() =>
      while (cutting) {
        val conf = (spark.conf.get(aqeKey), spark.conf.get(spKey))
        val plan = spark.range(100).groupBy((col("id") % 7).as("g")).count()
          .queryExecution.executedPlan
        seen.add((conf._1, conf._2,
          plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]))
      })
    poller.start()
    try (1 to 20).foreach(_ => Blocks.release(Blocks.cut(src, "k")))
    finally { cutting = false; poller.join() }
    import scala.jdk.CollectionConverters._
    val polls = seen.asScala.toSeq
    assert(polls.nonEmpty, "the poller never ran")
    val moved = polls.filter { case (a, p, _) => (a, p) != before }
    assert(moved.size == 0, s"conf changed under a concurrent query: ${moved.take(3)}")
    assert(polls.forall(_._3), s"${polls.count(!_._3)} of ${polls.size} plans were not adaptive")
  }

  /** `body`'s result and the number of its stages that wrote shuffle
    * bytes, counted by a listener. The listener bus is asynchronous, so
    * the count is read once every job it saw start has ended and no new
    * event has arrived for 300 ms. */
  private def shufflesWritten[A](body: => A): (A, Int) = {
    val started, ended, written = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
          written.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      val deadline = System.nanoTime() + 10000000000L
      var last = (-1, -1, -1)
      var stableMs = 0
      while (stableMs < 300 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = (started.get, ended.get, written.get)
        if (now == last && now._1 > 0 && now._1 == now._2) stableMs += 50
        else { stableMs = 0; last = now }
      }
      assert(stableMs >= 300, s"listener events still arriving after 10 s: $last")
      (a, written.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  // a shape step that shuffles on the cut's keys runs inside the cut's one
  // exchange; the duplicated source gives the dedup shapes work to do
  private val shapes = Seq[(String, DataFrame => DataFrame)](
    "distinct" -> (_.distinct()),
    "dropDuplicates" -> (_.dropDuplicates("k", "v")),
    "groupBy" -> (_.groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("c"))),
    "window" -> (_.select(col("k"), col("v"),
      row_number().over(Window.partitionBy(col("k")).orderBy(col("v"))).as("rn"))))

  for ((name, shape) <- shapes)
    test(s"shaped cut ($name): one shuffle, declared HashPartitioning(keys, n), same rows") {
      val df = src.union(src)
      val n = Blocks.cutPartitions(df)
      // a session width unlike the cut's, so a shape that ran above its
      // own exchange could not pass for one that runs inside the cut's
      val (cut, shuffles) = withConf("spark.sql.shuffle.partitions" -> "3") {
        shufflesWritten(Blocks.cut(df, Seq("k"))(shape))
      }
      assert(shuffles == 1, s"$name: the shaped cut wrote $shuffles shuffles")
      cut.queryExecution.analyzed match {
        case l: LogicalRDD => l.outputPartitioning match {
          case HashPartitioning(exprs, m) =>
            assert(exprs.map(_.asInstanceOf[Attribute].name) == Seq("k") && m == n,
              s"$name: declared ${l.outputPartitioning}, expected hash(k) at $n")
          case other => fail(s"$name: expected HashPartitioning, got $other")
        }
        case other => fail(s"$name: the cut is not a LogicalRDD: $other")
      }
      val twoStep = Blocks.cut(shape(df), "k")
      assert(sortedRows(cut) === sortedRows(twoStep), s"$name: rows differ")
      Blocks.release(cut)
      Blocks.release(twoStep)
    }

  private def probeHint(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case h: ResolvedHint if h.hints.strategy.isDefined => h.hints.strategy.get
    } match {
      case Some(BROADCAST) => "broadcast"
      case Some(SHUFFLE_HASH) => "shuffle_hash"
      case other => fail(s"unexpected probe-side hint $other")
    }

  test("probeSide: autoBroadcastJoinThreshold -1 never broadcasts") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(probeHint(Citations.probeSide(src, 1L)) === "shuffle_hash")
      assert(probeHint(Citations.probeSide(src, 0L)) === "shuffle_hash")
    }
  }

  test("probeSide: autoBroadcastJoinThreshold 10MB is ten mebibytes") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      assert(probeHint(Citations.probeSide(src, 5L * 1024 * 1024)) === "broadcast")
      assert(probeHint(Citations.probeSide(src, 10L * 1024 * 1024)) === "shuffle_hash")
    }
  }

  test("probeSide: autoBroadcastJoinThreshold 1g is one gibibyte") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1g") {
      assert(probeHint(Citations.probeSide(src, 512L * 1024 * 1024)) === "broadcast")
      assert(probeHint(Citations.probeSide(src, 2L * 1024 * 1024 * 1024)) === "shuffle_hash")
    }
  }
}
