package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall-clock milliseconds at nanosecond resolution, on the same epoch as
  * Spark's listener event times, so spans and job intervals intersect. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a layer's interval inside one operation. */
final case class Span(op: Int, layer: String, start: Double, end: Double)

/** Spark jobs and stages by job group. Counts only; it never blocks a
  * query thread (events arrive on Spark's listener bus). */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Double, val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final class Stage {
    @volatile var tasks = 0
    @volatile var cpuNs = 0L
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleReadRecords = 0L
    @volatile var spill = 0L
    @volatile var firstTaskEnd = Double.MaxValue
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new Job(e.jobId, group, e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized { s.firstTaskEnd = math.min(s.firstTaskEnd, e.taskInfo.finishTime.toDouble) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val s = stage(info.stageId)
    s.tasks = info.numTasks
    Option(info.taskMetrics).foreach { m =>
      s.cpuNs = m.executorCpuTime
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      s.shuffleReadRecords = m.shuffleReadMetrics.recordsRead
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsOf(group: String): Seq[Job] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)

  def stageOf(id: Int): Option[Stage] = Option(stages.get(id))

  /** Time from `startMs` until the first task of the last job's final
    * stage finished: when the first output partition reached the sink. */
  def firstResultMs(group: String, startMs: Double): Option[Double] =
    jobsOf(group).lastOption.flatMap(j => j.stages.maxOption)
      .flatMap(stageOf).map(_.firstTaskEnd).filter(_ < Double.MaxValue)
      .map(_ - startMs)

  /** Layer counts for the jobs of `groups`: sums over every completed
    * stage those jobs ran. */
  def execCounts(groups: Seq[String]): Map[String, Double] = {
    val js = groups.flatMap(jobsOf)
    val ss = js.flatMap(_.stages).distinct.flatMap(stageOf).filter(_.tasks > 0)
    val mb = 1024.0 * 1024.0
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> ss.map(_.spill).sum / mb,
      // a post-shuffle stage with one task funnels a whole stream through
      // one partition; single-task scans of one-row-group files do not count
      "exec.single_task_stages" ->
        ss.count(s => s.tasks == 1 && s.shuffleReadRecords > 0).toDouble)
  }

  /** Milliseconds of [from, to] covered by at least one job of `group`. */
  def busyMs(group: String, from: Double, to: Double): Double =
    Intervals.coveredMs(jobsOf(group).map(j =>
      (j.start, if (j.end.isNaN) to else j.end)), from, to)
}

object Intervals {
  def coveredMs(ivs: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Micro-batches of the streaming partial path. */
final class StreamRecorder extends StreamingQueryListener {
  val batches = new AtomicLong()
  val batchMs = new AtomicLong()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    batches.incrementAndGet()
    batchMs.addAndGet(e.progress.batchDuration)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** JVM gauges from the platform MXBeans. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
