package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into graft. Off by
  * default: `span` then only runs its body. When on, a span remembers its
  * name, wall interval, parent span and request id, and sets the Spark job
  * group of the calling thread to the span's id, so the [[JobListener]] can
  * attribute jobs to it. Spans stay in memory until [[Trace.stop]]. */
object Trace {
  final case class Span(id: Long, name: String, parent: Long, req: String,
                        startMs: Long, endMs: Long, durNs: Long) {
    def ms: Double = durNs / 1e6
  }

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val GroupKey = "spark.jobGroup.id"

  def start(): Unit = { spans.clear(); on = true }

  def stop(): Seq[Span] = { on = false; spans.asScala.toSeq.sortBy(_.startMs) }

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      val sc = SparkSession.active.sparkContext
      val prevGroup = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"pb-$id")
      current.set(id)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, req, w0, System.currentTimeMillis(),
          System.nanoTime() - t0))
        current.set(parent)
        sc.setLocalProperty(GroupKey, prevGroup)
      }
    }
}

/** Listener counts over a window: jobs (with their job group and wall
  * interval), tasks, task run time, shuffle write, spill, input records,
  * task failures, and the wait from stage submission to task launch. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, @volatile var endMs: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks, runMs, shuffleWriteBytes, spillBytes, inputRecords, failures,
      schedDelayMs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.reason != Success) failures.increment()
    val submitted = stageSubmit.get(e.stageId)
    if (submitted > 0) schedDelayMs.add(math.max(0L, e.taskInfo.launchTime - submitted))
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRecords.add(m.inputMetrics.recordsRead)
    }
  }

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Milliseconds of [startMs, endMs] during which no job ran. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    val iv = jobList.map(j => (math.max(j.startMs, startMs),
        math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    iv.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (endMs - startMs) - covered
  }
}
