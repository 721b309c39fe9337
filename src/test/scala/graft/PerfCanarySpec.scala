package graft

/** Weak-set regression canary: the floor decisions (q82/q119/q171/q188,
  * the q157/q175 fusions) and the guarded-dedup family's "LSH tier
  * skipped while the df budget never binds" property (q52 +
  * q48/q121/q125/q177/q184; silent tier re-enablement is the single
  * most expensive possible regression — it filled the disk at sf10
  * once) are one build change away from silently regressing.
  * Wall-clock asserts are flaky on a shared box, but every one of these
  * queries is JOB-FLOOR-BOUND — their recorded times are (job count) ×
  * (~0.2-0.4 s scheduling floor) — so the DETERMINISTIC pin is the
  * Spark job count: a change that re-adds a deleted pass, un-fuses an
  * aggregate, or re-enables a skipped LSH tier shows up as extra jobs
  * long before it shows up as seconds.
  *
  * Counting is one [[JobTrace]] over the FULL query lifecycle —
  * construction (driver-planned collects) plus the noop write. A
  * listener sees jobs submitted from any thread; a job-group count
  * would miss those submitted from pre-existing pooled threads (q171's
  * audit futures), because thread-local properties do not reach them.
  *
  * Ceilings live in [[PerfCanary.jobCeilings]] (one constants object
  * shared with Bench's wall-clock half) and are the exact observed
  * shipped-build counts — NOT observed+slack: a single extra job is a
  * real floor regression on queries this shape. If a deliberate plan
  * change moves a count, re-measure it with [[Profile]] (three traced
  * runs that must agree) and re-pin it there WITH the bench number that
  * justifies it.
  */
class PerfCanarySpec extends SparkSpec {

  private val sfDir =
    sys.env.getOrElse("GRAFT_CANARY_SF_DIR", "/root/testdata/sf0.01")

  private def jobCount(name: String): Int =
    JobTrace(spark) {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }._2.size

  describe("weak-set job-count canary") {
    PerfCanary.jobCeilings.foreach { case (name, ceiling) =>
      it(s"$name schedules at most $ceiling jobs") {
        val n = jobCount(name)
        info(s"$name: $n jobs")
        assert(n <= ceiling,
          s"$name scheduled $n jobs (ceiling $ceiling) — a floor pass was " +
            "re-added or a guarded tier re-enabled; see PerfCanarySpec's " +
            "scaladoc before re-pinning")
      }
    }
  }
}
