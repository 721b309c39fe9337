package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Listener counters for one time window. */
final case class Counters(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                          cpuS: Double = 0, gcS: Double = 0,
                          shuffleMb: Double = 0, spillMb: Double = 0,
                          peakExecMb: Double = 0)

/** One traced call: `name` is the layer metric prefix (e.g.
  * `sources.bins`), `op` the timed op it belongs to. Window bounds are
  * epoch milliseconds, the clock Spark stamps its events with. */
final case class Span(op: Int, name: String, startMs: Long, endMs: Long,
                      wallS: Double, counters: Counters)

/** The benchmark's own SparkListener. It keeps compact per-task and
  * per-job records and attributes them to a span by time window: jobs
  * and stages by submission time in [start, end), tasks by finish time
  * in (start, end]. Ops run one at a time, so a window holds exactly the
  * work its call caused — including jobs that queries start on pooled
  * threads, which carry no job group of the caller. */
final class Recorder extends SparkListener {
  import Recorder.TaskRec
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  private val spans = ArrayBuffer.empty[Span]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += e.time }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  /** Counters of every event in the window; call after [[drain]]. */
  def window(startMs: Long, endMs: Long): Counters = synchronized {
    val ts = tasks.filter(t => t.finishMs > startMs && t.finishMs <= endMs)
    Counters(
      jobs = jobs.count(t => t >= startMs && t < endMs),
      stages = stages.count(t => t >= startMs && t < endMs),
      tasks = ts.size,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
      spillMb = ts.map(_.spillBytes).sum / 1e6,
      peakExecMb = if (ts.isEmpty) 0 else ts.map(_.peakBytes).max / 1e6)
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Times `body` as span `name` of op `op`; counters are attached later
    * by [[attributeSpans]], once the bus has drained. */
  def span[T](op: Int, name: String)(body: => T): T = {
    val s = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val e = System.currentTimeMillis()
      synchronized { spans += Span(op, name, s, e, wall, Counters()) }
    }
  }

  def attributeSpans(): Seq[Span] = synchronized {
    spans.toSeq.map(s => s.copy(counters = window(s.startMs, s.endMs)))
  }

  /** Drops the raw event records so they do not count as retained heap. */
  def clearEvents(): Unit = synchronized { tasks.clear(); jobs.clear(); stages.clear() }
}

object Recorder {
  private final case class TaskRec(finishMs: Long, cpuNs: Long, gcMs: Long,
                                   shuffleBytes: Long, spillBytes: Long,
                                   peakBytes: Long)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = os.getProcessCpuTime / 1e9
}
