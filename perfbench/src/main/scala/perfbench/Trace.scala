package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans and Spark's own stage timestamps share one time axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One call into a layer: `op` groups the spans of one operation (a
  * catalog entry execution or a micro-batch), `parent` is the span that
  * made the call (0 for a root).
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. While `enabled` is false it records nothing
  * and `span` is a plain call, which is how the untraced mode runs.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var op = ""
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try f
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, op, name, t0, Clock.nowMs))
      }
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Record an interval measured elsewhere (a Spark stage). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, op, name, startMs, endMs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** What the Spark scheduler did for one operation. */
final class OpStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var scanRows = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val executionIds = mutable.Set.empty[Long]
  var planNodes = 0L
  var planExchanges = 0L

  /** The per-layer figures under the benchmark's metric names. */
  def metrics: Map[String, Any] = Map(
    "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.executor_run_ms" -> executorRunMs, "spark.executor_cpu_ms" -> executorCpuMs,
    "spark.shuffle_read_bytes" -> shuffleReadBytes, "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.spill_bytes" -> spillBytes, "sources.scan_bytes" -> scanBytes,
    "sources.scan_rows" -> scanRows, "plan.nodes" -> planNodes, "plan.exchanges" -> planExchanges)
}

/** Attributes jobs, stages, task metrics and final SQL plans to the
  * operation named by the `perfbench.op` local property of the thread
  * that submitted the job.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val byOp = new ConcurrentHashMap[String, OpStats]
  private val stageOp = new ConcurrentHashMap[Int, String]
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]

  private def stats(op: String) = byOp.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val s = stats(op)
      s.jobs += 1
      e.stageIds.foreach(stageOp.put(_, op))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => s.executionIds += id.toLong)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { op =>
      val s = stats(op)
      val i = e.stageInfo
      val m = i.taskMetrics
      s.stages += 1
      s.tasks += i.numTasks
      for (a <- i.submissionTime; b <- i.completionTime) s.stageIntervals += ((a, b))
      if (m != null) {
        s.executorRunMs += m.executorRunTime
        s.executorCpuMs += m.executorCpuTime / 1e6
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRows += m.inputMetrics.recordsRead
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  /** Remove and return the stats of `op`; call after the bus drained. */
  def take(op: String): OpStats = {
    val s = Option(byOp.remove(op)).getOrElse(new OpStats)
    s.executionIds.foreach { id =>
      Option(plans.remove(id)).foreach { p =>
        val nodes = flatten(p)
        s.planNodes += nodes.size
        s.planExchanges += nodes.count(_.nodeName.contains("Exchange"))
      }
    }
    s
  }
}

object LayerListener {
  val OpKey = "perfbench.op"

  def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(flatten)
}

/** JVM-wide counters: peak heap after any collection, and GC time. */
object Jvm {
  @volatile private var peakBytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val onGc = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakBytes) peakBytes = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  def heapPeakMb: Double = peakBytes / 1048576.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}
