package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Citations

/** Focused spec for the r16 size-aware [[Blocks.pinnedCut]] internals:
  * the cut must (a) keep the hash partitioning visible downstream,
  * (b) derive its partition count from real leaf bytes / target with
  * the floor clamp, (c) remove the downstream exchange on the pinned
  * key, (d) be a plain AQE checkpoint under `spark.graft.cut.pin=false`,
  * and (e) never change results — plus the conf and size parsing the
  * cut and [[Citations.probeSide]] share: byte confs honor sign and
  * unit, unknown sizes never read as huge, malformed confs never throw. */
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
    val cut = Blocks.pinnedCut(src.repartition(col("k")))
    cut.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val hp = l.outputPartitioning
        assert(hp.isInstanceOf[HashPartitioning],
          s"expected HashPartitioning, got $hp")
        // tiny frame -> the floor (default 4)
        assert(hp.numPartitions == 4, s"expected floor 4, got $hp")
      case other => fail(s"checkpoint did not produce a LogicalRDD: $other")
    }
    Blocks.release(cut)
  }

  test("cut width scales with leaf bytes over the target") {
    // a LocalRelation's stats are exact; a ~28 kB frame over a 1 kB
    // target must size well above the floor and match cutPartitions
    withConf("spark.graft.cut.partitionBytes" -> "1024") {
      val df = src.repartition(col("k"))
      val n = Blocks.cutPartitions(df)
      assert(n > 4, s"expected byte-derived width over the floor, got $n")
      val cut = Blocks.pinnedCut(df)
      assert(cut.rdd.getNumPartitions == n,
        s"materialized ${cut.rdd.getNumPartitions} partitions, sized $n")
      Blocks.release(cut)
    }
  }

  test("downstream aggregate on the pinned key plans zero exchanges") {
    val cut = Blocks.pinnedCut(src.repartition(col("k")))
    val agg = cut.groupBy(col("k")).agg(count(lit(1)))
    agg.collect()
    val finalPlan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange h"))
    assert(exchanges == 0, s"expected 0 exchanges, plan:\n$finalPlan")
    Blocks.release(cut)
  }

  test("spark.graft.cut.pin=false degrades to a plain AQE checkpoint") {
    withConf("spark.graft.cut.pin" -> "false") {
      val cut = Blocks.pinnedCut(src.repartition(col("k")))
      cut.queryExecution.analyzed match {
        case l: LogicalRDD =>
          assert(!l.outputPartitioning.isInstanceOf[HashPartitioning],
            s"pin=false must not pin, got ${l.outputPartitioning}")
        case other => fail(s"not a LogicalRDD: $other")
      }
      Blocks.release(cut)
    }
  }

  test("pinned and plain cuts produce identical rows") {
    val a = Blocks.pinnedCut(src.repartition(col("k")))
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

  test("cut width parses spark.graft.cut.partitionBytes as a byte string") {
    val df = src.repartition(col("k"))
    val plain = withConf("spark.graft.cut.partitionBytes" -> "1024") {
      Blocks.cutPartitions(df)
    }
    val unit = withConf("spark.graft.cut.partitionBytes" -> "1k") {
      Blocks.cutPartitions(df)
    }
    assert(plain > 4 && unit === plain, s"1024 -> $plain but 1k -> $unit")
    // the documented default spelled out: tiny frame -> the floor
    withConf("spark.graft.cut.partitionBytes" -> "64m") {
      assert(Blocks.cutPartitions(df) === 4)
    }
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

  test("a malformed spark.graft.cut.pin reads as the default and still pins") {
    withConf("spark.graft.cut.pin" -> "no") {
      val cut = Blocks.pinnedCut(src.repartition(col("k")))
      cut.queryExecution.analyzed match {
        case l: LogicalRDD =>
          assert(l.outputPartitioning.isInstanceOf[HashPartitioning],
            s"malformed pin must keep the default, got ${l.outputPartitioning}")
        case other => fail(s"not a LogicalRDD: $other")
      }
      Blocks.release(cut)
    }
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
