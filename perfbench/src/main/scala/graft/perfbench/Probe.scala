package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener totals at one instant. Subtracting two snapshots gives the
  * work done between them. */
final case class Counts(values: Map[String, Long]) {
  def -(o: Counts): Counts =
    Counts(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0L)) })
  def +(o: Counts): Counts =
    Counts((values.keySet ++ o.values.keySet).map(k => k -> (apply(k) + o(k))).toMap)
  def apply(k: String): Long = values.getOrElse(k, 0L)
}

/** Scheduler-level counts for everything the engine runs: jobs, stages,
  * tasks and the task metrics the `exec` layer reports. Attached by the
  * benchmark, never by the engine. */
final class CountingListener extends SparkListener {
  private val keys = Seq("jobs", "stages", "tasks", "failed_tasks",
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read_b", "shuffle_write_b",
    "spill_b", "input_b", "output_b")
  private val c: Map[String, AtomicLong] = keys.map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      c("failed_tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("run_ms").addAndGet(m.executorRunTime)
      c("cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_read_b").addAndGet(
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      c("shuffle_write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_b").addAndGet(m.diskBytesSpilled)
      c("input_b").addAndGet(m.inputMetrics.bytesRead)
      c("output_b").addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Totals so far, after every event posted before this call arrived. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.perfbenchshim.BusShim.drain(sc)
    Counts(c.map { case (k, v) => k -> v.get })
  }
}

/** Peak old-generation occupancy right after a collection, from the
  * JVM's GC notifications: the live data the run holds, not garbage
  * waiting to be collected. */
object HeapWatch {
  private val peak = new AtomicLong(0L)

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit = {
      if (n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (isOld(pool)) peak.accumulateAndGet(u.getUsed, math.max)
        }
      }
    }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0L)

  /** Collect fully and fold the surviving old generation into the peak:
    * the live data a pass leaves behind, and a reading even when no
    * collection ran during the pass. */
  def collectNow(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .foreach(p => peak.accumulateAndGet(p.getUsage.getUsed, math.max))
  }

  /** Peak in MB since [[reset]]. */
  def peakMb: Double = peak.get / 1e6
}
