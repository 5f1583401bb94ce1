package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: deterministic per-query cost counters — jobs, stages, total
  * shuffle bytes/records written, executor task time — for one execution
  * of each named query (all queries when no args). Shuffle bytes and
  * stage counts are load-independent, so A/B diffs stay meaningful on a
  * noisy host where wall-clock medians are garbage (the r10-r14 variance
  * problem). Not part of the query surface; never invoked by the driver.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.CostProbe [q ...]"
  */
object CostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchKit.session()
    Blocks.quietReleaseWarnings()
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var taskMs = 0L
    @volatile var sBytes = 0L
    @volatile var sRecs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        stages += 1
        taskMs += m.executorRunTime
        sBytes += m.shuffleWriteMetrics.bytesWritten
        sRecs += m.shuffleWriteMetrics.recordsWritten
      }
    })
    // the listener bus is async; poll counters until stable for a grace
    // period instead of one fixed sleep — a fixed sleep can attribute
    // query N's straggler stage events to query N+1. Capped at 10 s:
    // periodic background jobs could otherwise keep it polling forever.
    def settle(): Unit = {
      var last = (jobs, stages, taskMs, sBytes, sRecs)
      var stableMs = 0
      val deadline = System.nanoTime() + 10000000000L
      while (stableMs < 400 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = (jobs, stages, taskMs, sBytes, sRecs)
        if (now == last) stableMs += 100 else { stableMs = 0; last = now }
      }
      if (stableMs < 400)
        println("[cost] warning: counters still moving after 10 s; next query may absorb events")
    }
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // one untimed global warm-up so codegen/parquet-footer costs don't
    // land on the first probed query
    try BenchKit.checksum(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    Blocks.sweepAll(spark)
    settle()
    names.foreach { n =>
      jobs = 0; stages = 0; taskMs = 0; sBytes = 0; sRecs = 0
      val t0 = System.nanoTime()
      try {
        BenchKit.checksum(SparkEntry.queries(n)(spark, sfDir))
        settle()
        println(f"[cost] $n%-34s wall=${(System.nanoTime() - t0) / 1e9}%7.2fs " +
          f"jobs=$jobs%4d stages=$stages%4d taskS=${taskMs / 1000.0}%8.1f " +
          f"shufMB=${sBytes / 1e6}%9.2f shufRows=$sRecs%10d")
      } catch { case e: Throwable =>
        println(s"[cost] $n FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(120))
      }
      Blocks.sweepAll(spark)
    }
    spark.stop()
  }
}
