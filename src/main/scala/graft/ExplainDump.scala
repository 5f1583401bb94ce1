package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: write `plans/<round>/<query>_<tag>.txt` for named queries —
  * the `.explain("formatted")` output of the returned frame, the FINAL
  * executed (post-AQE) plan, and a job/stage/task census covering the
  * query's whole execution (for iterative operators the interesting
  * stages run while the operator CONSTRUCTS the frame — eager
  * checkpoints — so the listener is armed before construction, not just
  * before the collect). This is the committed before/after evidence an
  * optimization round's plan claims are checked against. Not part of the
  * query surface; never invoked by the driver.
  *
  * Usage: sbt "runMain graft.ExplainDump r16/before citation_pagerank ..."
  * Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS — bench-condition session via BenchKit.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <round/tag> <query...>")
    val Array(round, tag) = args.head.split("/", 2)
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchKit.session()
    val dir = java.nio.file.Paths.get("plans", round)
    java.nio.file.Files.createDirectories(dir)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        taskMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // the listener bus is async and private[spark]; poll the counters
    // until they are stable for a grace period instead of a fixed sleep
    // (a fixed sleep can attribute query N's straggler events to N+1),
    // giving up after 10 s so a steady event stream cannot hang the dump
    def settle(): Unit = {
      var last = (jobs, stages, tasks, taskMs)
      var stableMs = 0
      val deadline = System.nanoTime() + 10000000000L
      while (stableMs < 400 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = (jobs, stages, tasks, taskMs)
        if (now == last) stableMs += 100 else { stableMs = 0; last = now }
      }
      if (stableMs < 400)
        println("[plan] warning: counters still moving after 10 s; next query may absorb events")
    }

    names.foreach { n =>
      // warm-up execution (codegen, page cache) so the census measures
      // the plan, not first-touch effects; swept before the counted run
      try { SparkEntry.queries(n)(spark, sfDir).collect() }
      catch { case e: Throwable => System.err.println(s"[plan] $n warm-up failed: $e") }
      Blocks.sweepAll(spark)
      // drain straggler listener events from the warm-up before zeroing
      settle()
      jobs = 0; stages = 0; tasks = 0; taskMs = 0; shuffleRead = 0; shuffleWrite = 0
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      settle()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val body =
        s"""query: $n  tag: $tag  sf: $sfDir
           |wall_s: ${f"$wall%.2f"}  jobs: $jobs  stages: $stages  tasks: $tasks
           |executor_task_ms: $taskMs  shuffle_read_b: $shuffleRead  shuffle_write_b: $shuffleWrite
           |(census covers the WHOLE execution incl. eager checkpoints taken
           | while the operator constructs the frame — for iterative operators
           | that is where the per-round stages live)
           |
           |== explain(formatted) of the returned frame ==
           |$formatted
           |== executed plan (final, post-AQE) ==
           |$executed""".stripMargin
      java.nio.file.Files.write(dir.resolve(s"${n}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(f"[plan] $n%-28s wall=$wall%6.2fs jobs=$jobs%4d stages=$stages%5d " +
        f"tasks=$tasks%6d taskMs=$taskMs%7d sRead=$shuffleRead%10d")
      Blocks.sweepAll(spark)
    }
    spark.stop()
  }
}
