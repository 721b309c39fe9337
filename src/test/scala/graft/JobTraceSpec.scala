package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.ListenerProbe

class JobTraceSpec extends SparkSpec {

  private def sc = spark.sparkContext
  private def traces: Int = ListenerProbe.count[JobTrace.Listener](sc)

  describe("JobTrace") {
    it("traces one job with its tasks and its action's call site") {
      val (n, jobs) = JobTrace(spark)(sc.parallelize(1 to 10, 2).count())
      assert(n == 10)
      assert(jobs.size == 1, jobs)
      val job = jobs.head
      assert(job.callSite.startsWith("count at"), job.callSite)
      assert(job.metrics.tasks == 2)
      assert(job.stages.size == 1)
      assert(job.endMs.exists(_ >= job.startMs))
    }

    it("counts a job submitted from a pooled thread that existed before the block") {
      val pool = Executors.newSingleThreadExecutor()
      try {
        // start the pool's thread first: it inherits no local
        // properties set later, as with q171's audit futures
        pool.submit(new Runnable { def run(): Unit = () }).get()
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val (n, jobs) = JobTrace(spark) {
          val pooled = Future(sc.parallelize(1 to 10, 2).count())
          sc.parallelize(1 to 4, 1).count() + Await.result(pooled, 1.minute)
        }
        assert(n == 14)
        assert(jobs.size == 2, jobs)
      } finally pool.shutdown()
    }

    it("removes its listener after the block, also when the block throws") {
      val before = traces
      JobTrace(spark) {
        assert(traces == before + 1)
        sc.parallelize(1 to 2).count()
      }
      assert(traces == before)
      intercept[IllegalStateException] {
        JobTrace(spark) {
          sc.parallelize(1 to 2).count()
          throw new IllegalStateException("block failed")
        }
      }
      assert(traces == before)
    }
  }
}
