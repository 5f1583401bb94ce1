package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (getOrCreate dedups). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the number of Spark jobs it started, counted by a
    * listener. The listener bus delivers events in order, so once the
    * listener sees a marker job submitted after `body`, it has seen every
    * job `body` started. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.add(j.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      val marker = sc.submitJob(sc.parallelize(Seq(1), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      marker.get()
      val markerId = marker.jobIds.head
      var n = 0
      var id = started.poll(30, TimeUnit.SECONDS)
      while (id != null && id != markerId) {
        n += 1
        id = started.poll(30, TimeUnit.SECONDS)
      }
      assert(id != null, "the listener never saw the marker job")
      (a, n)
    } finally sc.removeSparkListener(listener)
  }
}
