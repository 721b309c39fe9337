package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Runs a block under one SparkListener and returns the block's value
  * with one record per Spark job started while it ran — from any
  * thread, so jobs submitted from futures or pooled threads inside the
  * block count too (thread-local job groups do not reach those).
  *
  * The listener bus delivers events asynchronously. It is drained
  * before the listener is added, so no earlier job's queued events
  * reach it, and again after the block, so every event of the block's
  * jobs has arrived. A drain that times out throws: a trace never
  * returns a count that may be short.
  */
object JobTrace {

  private val DrainTimeoutMs = 15000L

  /** Task metrics summed over tasks. */
  final case class Metrics(tasks: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                           shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                           spillBytes: Long = 0, peakExecBytes: Long = 0) {
    def +(o: Metrics): Metrics = Metrics(tasks + o.tasks, cpuNs + o.cpuNs,
      gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      peakExecBytes + o.peakExecBytes)
  }

  object Metrics {
    def sum(ms: Iterable[Metrics]): Metrics = ms.foldLeft(Metrics())(_ + _)
  }

  /** One completed stage attempt. `wallMs` is defined only when Spark
    * recorded both its submission and its completion time. */
  final case class Stage(id: Int, name: String, wallMs: Option[Long], metrics: Metrics)

  /** One job. `callSite` is the name of its result stage (the highest
    * stage id), which Spark takes from the action's call site, as its UI
    * does. `endMs` is empty for a job still running after the block. */
  final case class Job(id: Int, callSite: String, description: String,
                       startMs: Long, endMs: Option[Long], stages: Seq[Stage]) {
    def metrics: Metrics = Metrics.sum(stages.map(_.metrics))
  }

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val listener = new Listener
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, listener.jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def drain(sc: SparkContext): Unit =
    GraftColumnBridge.drainListenerBus(sc, DrainTimeoutMs)

  private def metrics(si: StageInfo): Metrics = Option(si.taskMetrics).fold(Metrics()) { m =>
    Metrics(si.numTasks, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }

  /** The one listener; public only so a test can find it on the bus. */
  final class Listener private[JobTrace] () extends SparkListener {
    private val starts = mutable.LinkedHashMap.empty[Int, SparkListenerJobStart]
    private val ends = mutable.Map.empty[Int, Long]
    // a stage shared by several jobs belongs to the first that lists it
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stages = mutable.Map.empty[Int, mutable.ArrayBuffer[Stage]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = e
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ends(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { job =>
        val wall = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        stages.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
          Stage(si.stageId, si.name, wall, metrics(si))
      }
    }

    private[JobTrace] def jobs: Seq[Job] = synchronized {
      starts.values.toSeq.map { e =>
        Job(e.jobId,
          e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          e.time, ends.get(e.jobId), stages.get(e.jobId).fold(Seq.empty[Stage])(_.toSeq))
      }
    }
  }
}
