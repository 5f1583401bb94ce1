package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** One execution's resource counts, as the scheduler, the SQL layer and
  * the block manager report them. Times are milliseconds except where a
  * name says otherwise; job spans are epoch milliseconds. "Scan" means a
  * read of an input file (parquet or text), not of checkpointed blocks. */
final class Counts(val storageAtStart: Long) {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  val tasksPerStage = mutable.ArrayBuffer[Int]()
  var runMs = 0L
  var cpuNs = 0L
  var scanFileBytes = 0L
  var scanRows = 0L
  var scanTaskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val sqlActions = mutable.TreeMap[String, Int]()
  var planningMs = 0L
  val rddsStored = mutable.HashSet[Int]()
  var peakStorageBytes = storageAtStart
  val jobStarts = mutable.HashMap[Int, Long]()
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
}

/** The benchmark's own listeners: a `SparkListener` for jobs, stages,
  * tasks and block updates, and a `QueryExecutionListener` for SQL
  * executions, their planning phases and their file scans. Callbacks
  * arrive on the listener bus thread; [[begin]] and [[end]] are called
  * from the harness thread after the bus is drained. */
final class Census extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var counts = new Counts(0L)
  private val rddBlockBytes = mutable.HashMap[BlockId, Long]()
  private var storageBytes = 0L
  private val scanStages = mutable.HashSet[Int]()

  def begin(): Unit = synchronized { counts = new Counts(storageBytes) }
  def end(): Counts = synchronized { counts }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages += e.stageInfo.stageId
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts.jobs += 1
    counts.jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    counts.jobStarts.remove(e.jobId).foreach { t0 =>
      counts.jobSpans += ((e.jobId, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    scanStages -= e.stageInfo.stageId
    counts.stages += 1
    counts.tasksPerStage += e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counts.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      counts.runMs += m.executorRunTime
      counts.cpuNs += m.executorCpuTime
      if (scanStages(e.stageId)) counts.scanTaskMs += m.executorRunTime
      counts.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      counts.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      counts.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val bytes =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storageBytes += bytes - rddBlockBytes.getOrElse(info.blockId, 0L)
      if (bytes > 0) {
        rddBlockBytes(info.blockId) = bytes
        counts.rddsStored += rdd.rddId
      } else rddBlockBytes.remove(info.blockId)
      counts.peakStorageBytes = math.max(counts.peakStorageBytes, storageBytes)
    }
  }

  private def planned(action: String, qe: QueryExecution): Unit = synchronized {
    counts.sqlActions(action) = counts.sqlActions.getOrElse(action, 0) + 1
    counts.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    collect(qe.executedPlan) { case s: FileSourceScanExec => s.metrics }.foreach { m =>
      counts.scanFileBytes += m.get("filesSize").map(_.value).getOrElse(0L)
      counts.scanRows += m.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(funcName, qe)
}
