package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Benchmark-side Spark listener: jobs, stage intervals with their task
  * metrics, and the shuffle exchanges of every SQL execution's final
  * plan. Events are cheap lines; `run.py` keeps those inside the timed
  * region. */
final class SparkCounters extends SparkListener {
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    Record.add("job", e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = touch()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val si = e.stageInfo
    val m = si.taskMetrics
    Record.add("stage", si.stageId, si.submissionTime.getOrElse(-1L),
      si.completionTime.getOrElse(-1L), si.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    touch()
    e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd =>
        val p = plans.remove(end.executionId)
        if (p != null)
          Record.add("sqlexec", end.executionId, end.time * 1000000L,
            SparkCounters.exchanges(p))
      case _ =>
    }
  }

  /** The listener bus is asynchronous: wait until it has been quiet for
    * a moment so the timed region's events are all recorded. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object SparkCounters {
  /** Shuffle exchanges in a plan tree (reused exchanges are not new work). */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum

  def install(sc: SparkContext): SparkCounters = {
    val l = new SparkCounters
    sc.addSparkListener(l)
    l
  }
}

/** Driver-JVM probes: GC events (pause, heap before and after, cause) and a
  * stack sampler that charges threads to the program's modules or to the
  * Spark engine ([[layerOf]]) — how time is split over the program's own
  * layers without touching the program. */
object JvmProbes {
  private val gcListener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
        def used(key: String): Long =
          gcInfo.get(key).asInstanceOf[java.util.Map[_, _]].values.asScala
            .map(v => v.asInstanceOf[CompositeData].get("value")
              .asInstanceOf[CompositeData].get("used").asInstanceOf[Long]).sum
        val dur = gcInfo.get("duration").asInstanceOf[Long]
        Record.add("gc", Record.now(), used("memoryUsageBeforeGc"),
          used("memoryUsageAfterGc"), dur, info.get("gcCause"))
      }
  }

  def installGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ =>
    }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** The layer a thread's sample is charged to. A thread under program
    * code is charged to the innermost `graft.<module>` on its stack in any
    * state — a driver thread planning, or waiting for the jobs a module
    * started, spends that module's wall time — except an executor task
    * thread, which counts only while running. A running thread with no
    * program frame but Spark frames is the engine's (`spark`). */
  def layerOf(t: Thread, stack: Array[StackTraceElement]): Option[String] = {
    val running = t.getState == Thread.State.RUNNABLE && stack.nonEmpty &&
      !stack(0).isNativeMethod
    val module = stack.iterator.map(_.getClassName).collectFirst {
      case c if c.startsWith("graft.") =>
        val rest = c.stripPrefix("graft.")
        val dot = rest.indexOf('.')
        "graft." + (if (dot < 0) "main" else rest.substring(0, dot))
    }
    val executor = t.getName.startsWith("Executor task launch")
    module match {
      case Some(m) if running || !executor => Some(m)
      case _ if running && stack.exists(_.getClassName.startsWith("org.apache.spark.")) =>
        Some("spark")
      case _ => None
    }
  }

  final class Sampler(intervalMs: Long) extends Thread("perfbench-sampler") {
    setDaemon(true)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    @volatile var ticks = 0L
    @volatile private var running = true
    @volatile var on = false
    override def run(): Unit = while (running) {
      if (on) {
        ticks += 1
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          // a thread parked in native I/O (sockets, epoll) is RUNNABLE
          // but idle: layerOf does not count it as running
          if (t != this) layerOf(t, st).foreach(l => counts.merge(l, 1L, (a, b) => a + b))
        }
      }
      Thread.sleep(intervalMs)
    }
    def finish(): Unit = { running = false; join(5000) }
  }
}
