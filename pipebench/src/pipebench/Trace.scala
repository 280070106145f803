package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Largest live heap after any GC while `recording`, from the JVM's GC
  * notifications, plus the JVM's cumulative GC time. */
object Heap {
  @volatile var recording = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** One call into a layer, made by the benchmark: name, wall interval,
  * the enclosing span, and the pass it belongs to. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(span: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         input: Long, output: Long)

/** Spans around the benchmark's calls into each layer. Disabled, `span`
  * just runs its body; enabled, every span tags the Spark jobs it launches
  * with its own job group so the listener can attribute them. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var pass = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spans of `pass`, and the ids of `root` and everything below it. */
  def ofPass(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(root.id)
  }
  /** Duration minus the part its child spans cover (children nest). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  def group(id: Int): String = s"pipebench-span-$id"
  def spanOf(group: String): Int =
    if (group != null && group.startsWith("pipebench-span-")) group.stripPrefix("pipebench-span-").toInt
    else -1
}

/** Spark and Catalyst counters, attributed to spans through job groups.
  * Registered in the traced run only. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[(Int, Int)]()        // (job, span)
  val stages = new ConcurrentLinkedQueue[(Int, Int)]()      // (stage, span)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()   // (start ms, plan s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Tracer.spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    e.stageIds.foreach(st => stageSpan.put(st, span))
    jobs.add((e.jobId, span))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((e.stageInfo.stageId, stageSpan.getOrDefault(e.stageInfo.stageId, -1)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val span = stageSpan.getOrDefault(e.stageId, -1)
    if (m == null) tasks.add(TaskRec(span, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(span, info.launchTime, info.finishTime,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
}
