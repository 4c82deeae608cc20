package crawlbench

import scala.collection.mutable
import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/**
 * Spark accounting for one measured call, in one listener.
 *
 * Untraced, it only sums executor run time over all tasks: the single
 * aggregate counter behind the end-to-end `exec_ms_per_url`. Traced, it also
 * keeps one record per job, stage and task, and the benchmark wraps every
 * call it times in [[span]]. Afterwards each job is charged to the innermost
 * span open when the job was submitted, comparing the job's submission
 * timestamp with the span timeline; the job's stages and tasks follow it.
 * Charging by time rather than by Spark's job-group property also catches
 * jobs that the engine submits from pool threads, which carry a stale group
 * or none: those are counted separately as `offGroupJobs`.
 *
 * Traced, the time spent in this bookkeeping (span marks, job-group calls
 * and the listener's per-job, -stage and -task records) is summed as
 * [[selfSeconds]]: tracing's own cost.
 *
 * Listener events arrive asynchronously; call [[drain]] before reading.
 */
final class Trace(sc: SparkContext, val traced: Boolean) extends SparkListener {
  import Trace._

  private val taskNanosAll = new java.util.concurrent.atomic.AtomicLong
  private val selfNanos = new java.util.concurrent.atomic.AtomicLong
  // traced records: appended on the listener thread, read after drain()
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagesDone = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  // span timeline: (epoch ms, innermost open group or null), benchmark thread
  private val marks = mutable.ArrayBuffer.empty[(Long, String)]
  private var open: List[String] = Nil

  sc.addSparkListener(this)

  def span[T](group: String)(f: => T): T =
    if (!traced) f
    else {
      own(push(group))
      try f finally own(pop())
    }

  private def own(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    selfNanos.addAndGet(System.nanoTime() - t0): Unit
  }

  private def push(group: String): Unit = {
    open = group :: open
    marks += ((System.currentTimeMillis(), group))
    sc.setJobGroup(group, group)
  }

  private def pop(): Unit = {
    open = open.tail
    marks += ((System.currentTimeMillis(), open.headOption.orNull))
    open.headOption.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
  }

  /** Delivers all pending events, then detaches this listener. */
  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
  }

  def drain(): Unit = BusDrain(sc)

  def taskSeconds: Double = taskNanosAll.get / 1e9

  def selfSeconds: Double = selfNanos.get / 1e9

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) own(synchronized {
    val prop = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += JobRec(e.jobId, e.time, prop)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) own(synchronized {
    jobEnds(e.jobId) = e.time
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) own(synchronized { stagesDone += e.stageInfo.stageId })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val nanos = m.executorRunTime * 1000000L
      taskNanosAll.addAndGet(nanos)
      if (traced) own(synchronized {
        tasks += TaskRec(e.stageId, nanos, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead)
      })
    }
  }

  private def groupAt(ms: Long): String = {
    // last mark at or before ms; marks are appended in time order
    var i = marks.length - 1
    while (i >= 0 && marks(i)._1 > ms) i -= 1
    if (i < 0) null else marks(i)._2
  }

  /** Per-group totals, keyed by span name ([[Unattributed]] for jobs
    * submitted while no span was open). Call after [[close]]. */
  def groups: Map[String, Agg] = synchronized {
    val jobGroup = jobs.map(j => j.id -> Option(groupAt(j.time)).getOrElse(Unattributed)).toMap
    def stageGroup(s: Int): String =
      stageJob.get(s).flatMap(jobGroup.get).getOrElse(Unattributed)
    val byGroup = mutable.Map.empty[String, Agg]
    def upd(g: String)(f: Agg => Agg): Unit = byGroup(g) = f(byGroup.getOrElse(g, Agg()))
    jobs.foreach { j =>
      val g = jobGroup(j.id)
      upd(g)(a => a.copy(jobs = a.jobs + 1,
        offGroupJobs = a.offGroupJobs + (if (j.prop != g) 1 else 0)))
    }
    stagesDone.foreach(s => upd(stageGroup(s))(a => a.copy(stages = a.stages + 1)))
    tasks.foreach { t =>
      upd(stageGroup(t.stage))(a => a.copy(taskNanos = a.taskNanos + t.nanos,
        gcMs = a.gcMs + t.gcMs, shuffleBytes = a.shuffleBytes + t.shuffleBytes,
        inputBytes = a.inputBytes + t.inputBytes, taskMs = t.nanos / 1000000L :: a.taskMs))
    }
    byGroup.toMap
  }

  /** Milliseconds of [fromMs, toMs) during which at least one job ran. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val spans = jobs.flatMap(j => jobEnds.get(j.id).map(e =>
      (math.max(j.time, fromMs), math.min(e, toMs)))).filter(s => s._1 < s._2).sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

object Trace {
  val Unattributed = "unattributed"
  private final case class JobRec(id: Int, time: Long, prop: String)
  private final case class TaskRec(stage: Int, nanos: Long, gcMs: Long,
      shuffleBytes: Long, inputBytes: Long)

  final case class Agg(jobs: Int = 0, offGroupJobs: Int = 0, stages: Int = 0,
      taskNanos: Long = 0L, gcMs: Long = 0L, shuffleBytes: Long = 0L,
      inputBytes: Long = 0L, taskMs: List[Long] = Nil) {
    def +(o: Agg): Agg = Agg(jobs + o.jobs, offGroupJobs + o.offGroupJobs,
      stages + o.stages, taskNanos + o.taskNanos, gcMs + o.gcMs,
      shuffleBytes + o.shuffleBytes, inputBytes + o.inputBytes, taskMs ++ o.taskMs)
  }
}
