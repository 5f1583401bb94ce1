package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: run one query N times, record per round (rounds marked
  * by a marker execution from the Fixpoint observer) the stages and the
  * normalized final plan of every SQL execution, and report where runs
  * differ. */
object LouvainProbe {
  final case class Exec(name: String, stages: Int, plan: String)

  private def norm(s: String): String = s
    .replaceAll("#\\d+L?", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("id=#?\\d+", "id=")
    .replaceAll("\\d+(\\.\\d+)? (B|KiB|MiB)", "N B")
    .replaceAll("rdd_?\\d+", "rdd")
    .replaceAll("LogicalRDD \\[[^]]*\\], \\w+", "LogicalRDD")
    .replaceAll("Scan ExistingRDD\\S*", "ScanRDD")
    .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MPRDD")
    .replaceAll("\\[\\d+\\]", "[n]")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, q, runsS) = args
    val spark = BenchKit.session()
    val events = ArrayBuffer[Exec]()
    @volatile var stages = 0
    val l = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
    }
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val p = norm(qe.executedPlan.toString)
        events.synchronized { events += Exec(f, stages, p) }
        stages = 0
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    SparkEntry.queries(q)(spark, sfDir).collect()
    Blocks.sweepAll(spark)
    def settle(): Unit = { var last = -1; var n = events.synchronized(events.size)
      while (n != last) { Thread.sleep(1500); last = n; n = events.synchronized(events.size) } }
    settle()
    val runs = (1 to runsS.toInt).map { run =>
      events.synchronized(events.clear()); stages = 0
      Fixpoint.observing { (i, _) => spark.range(1).selectExpr(s"$i as marker").collect() } {
        SparkEntry.queries(q)(spark, sfDir).collect()
      }
      settle()
      Blocks.sweepAll(spark)
      val ev = events.synchronized(events.toVector)
      // split into rounds at the marker executions
      val rounds = ArrayBuffer(ArrayBuffer[Exec]())
      ev.foreach { e =>
        if (e.plan.contains("AS marker")) { rounds.last += e.copy(plan = ""); rounds += ArrayBuffer() }
        else rounds.last += e
      }
      println(s"[probe] run $run: total stages ${ev.map(_.stages).sum}, per segment " +
        rounds.map(r => s"${r.size}x/${r.map(_.stages).sum}st").mkString(" "))
      rounds.map(_.toVector).toVector
    }
    val base = runs.head
    runs.zipWithIndex.tail.foreach { case (r, k) =>
      val segs = base.zip(r).zipWithIndex
      segs.find { case ((a, b), _) => a != b }.foreach { case ((a, b), s) =>
        println(s"[probe] run ${k + 1} first differs from run 1 in segment $s")
        a.zipAll(b, Exec("-", 0, ""), Exec("-", 0, "")).zipWithIndex
          .filter { case ((x, y), _) => x != y }.take(3).foreach { case ((x, y), j) =>
            println(s"[probe]  exec $j: ${x.name} ${x.stages}st vs ${y.name} ${y.stages}st")
            val xl = x.plan.split("\n"); val yl = y.plan.split("\n")
            println("[probe]   run1 only: " + (xl.diff(yl)).take(12).mkString("\n[probe]     "))
            println(s"[probe]   run${k + 1} only: " + (yl.diff(xl)).take(12).mkString("\n[probe]     "))
          }
      }
    }
    spark.stop()
  }
}
