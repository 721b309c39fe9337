package graft.perfbench

/** The traced run's per-layer metrics, named after the repository's
  * modules. Every workload reports the full list; a layer the workload
  * does not reach reads 0. */
object Layers {
  private val six = Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB")
  val spanLayers: Seq[String] =
    Seq("sources.pools", "sources.history", "sources.fees", "sources.bins",
      "pipeline.inputs", "pipeline.transform", "sinks.append", "sinks.read")
  val nodeCounters: Seq[(String, String)] = Seq(
    "sources.http_requests" -> "count", "sources.rpc_posts" -> "count",
    "sources.rpc_calls" -> "count", "sources.served_mb" -> "MB",
    "sources.rows_per_line" -> "ratio", "sinks.files_per_batch" -> "count",
    "sinks.bytes_per_row" -> "B")

  /** (name, unit, better) of every per-layer metric, in report order. */
  val names: Seq[(String, String, String)] =
    spanLayers.flatMap(l => six.map { case (m, u) => (s"$l.$m", u, "lower") }) ++
      nodeCounters.map { case (n, u) =>
        (n, u, if (n == "sources.rows_per_line") "higher" else "lower") } ++
      Seq(("driver.cpu_s", "s", "lower"), ("queries.build_s", "s", "lower"),
        ("queries.exec_s", "s", "lower")) ++
      Catalog.modules.map(_._1).flatMap(m => Seq(
        (s"queries.$m.wall_s", "s", "lower"), (s"queries.$m.jobs", "count", "lower"),
        (s"queries.$m.cpu_s", "s", "lower"))) ++
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "gc_s" -> "s",
        "shuffle_mb" -> "MB", "spill_mb" -> "MB", "peak_exec_mb" -> "MB")
        .map { case (m, u) => (s"spark.$m", u, "lower") } :+
      (("trace.overhead_s", "s", "lower"))

  private def counter(c: Counters, m: String, wall: Double): Double = m match {
    case "wall_s" => wall
    case "jobs" => c.jobs
    case "stages" => c.stages
    case "tasks" => c.tasks
    case "cpu_s" => c.cpuS
    case "gc_s" => c.gcS
    case "shuffle_mb" => c.shuffleMb
    case "spill_mb" => c.spillMb
    case "peak_exec_mb" => c.peakExecMb
  }

  /** Every metric but `trace.overhead_s`, which the runner adds. Span
    * values are medians over ops; per-module query values are means over
    * the module's queries, each taken at its first traced execution. */
  def metrics(windows: Seq[(OpSample, Counters)], spans: Seq[Span],
              layer: LayerStats): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    def spanMedian(name: String, m: String): Double =
      byName.get(name).map(ss => Stats.median(ss.map(s => counter(s.counters, m, s.wallS))))
        .getOrElse(0.0)
    val queryRuns = spans.filter(_.name.contains('|')).map { s =>
      val Array(kind, module, query) = s.name.split('|')
      (kind, module, query, s)
    }
    val perQuery = queryRuns.groupBy(r => (r._2, r._3)).toSeq.map { case ((m, _), rs) =>
      val op = rs.map(_._4.op).min
      val first = rs.filter(_._4.op == op).map(_._4)
      m -> (first.map(_.wallS).sum, first.map(_.counters.jobs).sum.toDouble,
        first.map(_.counters.cpuS).sum)
    }
    val byModule = perQuery.groupBy(_._1).map { case (m, qs) => m -> qs.map(_._2) }
    def kindMedian(kind: String) = {
      val ws = queryRuns.filter(_._1 == kind).map(_._4.wallS)
      if (ws.isEmpty) 0.0 else Stats.median(ws)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    names.filter(_._1 != "trace.overhead_s").map { case (n, u, _) =>
      val parts = n.split('.')
      val v = parts match {
        case Array(a, b, m) if spanLayers.contains(s"$a.$b") => spanMedian(s"$a.$b", m)
        case _ if nodeCounters.exists(_._1 == n) => layer.median(n)
        case Array("driver", "cpu_s") =>
          if (windows.isEmpty) 0.0 else Stats.median(windows.map { case (s, c) => s.processCpuS - c.cpuS })
        case Array("queries", "build_s") => kindMedian("build")
        case Array("queries", "exec_s") => kindMedian("exec")
        case Array("queries", module, m) =>
          val qs = byModule.getOrElse(module, Nil)
          mean(qs.map(q => m match { case "wall_s" => q._1; case "jobs" => q._2; case _ => q._3 }))
        case Array("spark", m) =>
          if (windows.isEmpty) 0.0 else Stats.median(windows.map { case (s, c) =>
            counter(c, m, s.latencyS) })
      }
      (n, v, u)
    }
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      val c = s.counters
      s"""{"op":${s.op},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${Json.num(s.wallS)},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""cpu_s":${Json.num(c.cpuS)},"gc_s":${Json.num(c.gcS)},"shuffle_mb":${Json.num(c.shuffleMb)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
