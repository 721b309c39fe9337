package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Per-query job profile: `<sfDir> <out.json> [query…]` (every query
  * when none is named). Each query runs once untraced through the noop
  * sink, to warm code generation, then three times under [[JobTrace]].
  * Its record holds the three job counts and wall times, and the last
  * run's summed task metrics and jobs grouped by call site. A query's
  * three counts agree when its job count is plan-structural; that count
  * is what [[PerfCanary.jobCeilings]] pins, so this is how a pin is
  * measured. The session is Verify's (local[SPARK_GRAFT_CPUS], as many
  * shuffle partitions), and tables are read uncached, as queries read
  * them everywhere but Bench.
  */
object Profile {

  /** The jobs of one call site: their summed job time, the slowest
    * stage with a known wall time, and their summed task metrics. */
  final case class Site(callSite: String, jobs: Int, jobMs: Long, stages: Int,
                        maxStageWallMs: Option[Long], metrics: JobTrace.Metrics)

  final case class Record(query: String, jobs: Seq[Int], wallS: Seq[Double],
                          stages: Int, metrics: JobTrace.Metrics, callSites: Seq[Site])

  private def sites(jobs: Seq[JobTrace.Job]): Seq[Site] =
    jobs.groupBy(_.callSite).toSeq.map { case (site, js) =>
      val stages = js.flatMap(_.stages)
      Site(site, js.size, js.flatMap(j => j.endMs.map(_ - j.startMs)).sum,
        stages.size, stages.flatMap(_.wallMs).maxOption,
        JobTrace.Metrics.sum(js.map(_.metrics)))
    }.sortBy(s => (-s.jobMs, s.callSite))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, only @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    def run(name: String): Unit =
      queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    val records = (if (only.isEmpty) queries.keys.toSeq.sorted else only).map { name =>
      run(name)
      val runs = Seq.fill(3)(JobTrace(spark) {
        val t0 = System.nanoTime()
        run(name)
        (System.nanoTime() - t0) / 1e9
      })
      val last = runs.last._2
      val rec = Record(name, runs.map(_._2.size), runs.map(_._1),
        last.map(_.stages.size).sum, JobTrace.Metrics.sum(last.map(_.metrics)), sites(last))
      println(s"[profile] $name jobs=${rec.jobs.mkString(",")} " +
        s"wall=${rec.wallS.map(w => f"$w%.3f").mkString(",")} s")
      rec
    }
    // one query per line, so a re-profile diffs by query
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      records.map(json.writeValueAsString).mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }
}
