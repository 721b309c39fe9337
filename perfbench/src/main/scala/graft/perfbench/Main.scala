package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}

/** Per-op samples of named layer values; reported as medians. */
final class LayerStats {
  private val values = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def median(name: String): Double = values.get(name).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
}

object Stats {
  /** Linear interpolation between closest ranks, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** One timed op: wall latency plus the listener and process-CPU window. */
final case class OpSample(latencyS: Double, startMs: Long, endMs: Long, processCpuS: Double)

/** Op accounting of the closed loop. A failed op counts as attempted and
  * failed, never as a latency; any failure or check error makes the run
  * incorrect. */
final class OpLog {
  var attempted = 0
  var failed = 0
  /** Clocked time of every op, failed ones included. */
  var clockedS = 0.0
  val errors: ArrayBuffer[String] = ArrayBuffer.empty

  def timed(into: ArrayBuffer[OpSample])(body: => Unit): Boolean = {
    attempted += 1
    val s = System.currentTimeMillis(); val c0 = Recorder.processCpuS
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        failed += 1
        errors += s"op $attempted failed: $e"
        false
      }
    val lat = (System.nanoTime() - t0) / 1e9
    clockedS += lat
    if (ok) into += OpSample(lat, s, System.currentTimeMillis(), Recorder.processCpuS - c0)
    System.err.println(f"[perfbench] op $attempted: $lat%.3f s${if (ok) "" else " FAILED"}")
    ok
  }

  def correct: Boolean = failed == 0 && errors.isEmpty
}

/** Entry point of one benchmark run in a fresh JVM. Prints a single
  * JSON object as its last stdout line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  val Workloads = Set("sweep_wide", "sweep_deep", "catalog")
  /** The percentile reported as `op_tail_s`. A run holds too few ops for
    * the highest percentile with ten ops beyond it to exceed the median. */
  val TailPercentile = 75.0
  val WarmUpOps = 4
  /** Traced sweep ops per traced run. AQE sometimes plans the snapshot
    * with one job fewer, depending on which shuffle stage finishes
    * first; the median over five ops reports the usual count. */
  val MinTracedOps = 5

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload required"))
    require(Workloads.contains(w), s"unknown workload '$w'")
    Opts(w, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("work", ".bench_build/work"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps finished jobs for the (disabled) UI; a
      // small cap keeps retained heap independent of the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new java.io.File(o.work).mkdirs()
    val result = new Runner(o).run()
    println(result)
  }
}

/** Runs one workload: set-up, warm-up, the closed timed loop (one client,
  * the next op only after the previous returns), checks outside the
  * clock, then the metrics. */
final class Runner(o: Main.Opts) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Input generation before the first timed op; not part of set-up. */
  private var excludedS = 0.0
  private def excluded[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedS += (System.nanoTime() - t0) / 1e9
  }

  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s: $what")
  private val spark = Main.session(o.work)
  phase("session ready")
  private val rec = new Recorder
  spark.sparkContext.addSparkListener(rec)

  private val log = new OpLog
  private val samples = ArrayBuffer.empty[OpSample]
  private val traced = ArrayBuffer.empty[OpSample]
  private val layer = new LayerStats
  private var setupS = Double.NaN

  private def timed(into: ArrayBuffer[OpSample])(body: => Unit): Boolean = {
    if (setupS.isNaN)
      setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS
    log.timed(into)(body)
  }

  def run(): String = {
    try o.workload match {
      case "sweep_wide" => sweep(SweepShape.wide)
      case "sweep_deep" => sweep(SweepShape.deep)
      case "catalog" => catalog()
    } catch { case e: Throwable =>
      log.errors += s"run aborted: $e"
      e.printStackTrace()
    }
    report()
  }

  private var catalogCheck: Option[(String, String, Seq[String])] = None

  private def sweep(shape: SweepShape): Unit = {
    val root = s"${o.work}/sink"
    Files.deleteTree(new java.io.File(root))
    val node = new CannedNode
    node.install()
    val w = new Sweep(spark, shape, o.seed, root, node)
    def check(tick: Int, in: TickInputs, trace: Option[(Recorder, LayerStats)]): Unit =
      log.errors ++= w.check(tick, in, trace)
    (0 until Main.WarmUpOps).foreach { t =>
      val in = excluded(w.prepare(t))
      w.run(t, in); check(t, in, None)
      phase(s"warm-up op $t")
    }
    var tick = Main.WarmUpOps
    while (log.clockedS < o.seconds || (o.trace && traced.size < Main.MinTracedOps)) {
      val in = if (setupS.isNaN) excluded(w.prepare(tick)) else w.prepare(tick)
      val tracedOp = o.trace && (tick - Main.WarmUpOps) % 2 == 1
      val ok =
        if (tracedOp) timed(traced)(w.runTraced(tick, in, rec, layer))
        else timed(samples)(w.run(tick, in))
      if (ok) check(tick, in, if (tracedOp) Some((rec, layer)) else None)
      else Files.deleteTree(new java.io.File(s"$root/batch=t$tick"))
      tick += 1
    }
    node.uninstall()
  }

  private def catalog(): Unit = {
    val dir = s"${o.work}/../catalog/seed=${o.seed}/sf${Catalog.ScaleFactor}"
    if (!new java.io.File(s"$dir/_DONE").exists()) excluded {
      Files.deleteTree(new java.io.File(dir))
      CatalogGen.write(spark, o.seed, Catalog.ScaleFactor, dir)
      new java.io.File(s"$dir/_DONE").createNewFile()
    }
    val keep = Catalog.cacheTables(spark, dir)
    phase("tables cached")
    // warm-up: every query of the pass once, writing the outputs the
    // oracle check compares, so each query's first (codegen) run is
    // outside the clock
    val pass = Catalog.pass
    val out = s"${o.work}/catalog-out"
    Catalog.dump(spark, dir, pass.map(_._2), out)
    catalogCheck = Some((dir, out, pass.map(_._2.name)))
    phase("warm-up pass done")
    // whole passes only, so every run times the same mix of queries
    var i = 0
    while (log.clockedS < o.seconds || i % pass.size != 0) {
      val (module, q) = pass(i % pass.size)
      def plain(): Unit = {
        Catalog.hygiene(spark, keep)
        timed(samples)(Catalog.execute(spark, dir, q.fn))
      }
      // traced run: each query also runs traced, first on every other
      // query, so neither side always gets the warmer second run
      def withSpans(): Unit = if (o.trace) {
        Catalog.hygiene(spark, keep)
        timed(traced) {
          val df = rec.span(i, s"build|$module|${q.name}")(q.fn(spark, dir))
          rec.span(i, s"exec|$module|${q.name}")(df.write.format("noop").mode("overwrite").save())
        }
      }
      if (i % 2 == 0) { plain(); withSpans() } else { withSpans(); plain() }
      i += 1
    }
  }

  private def heapAfterGcMb(): Double = {
    rec.clearEvents()
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def report(): String = {
    rec.drain(spark.sparkContext)
    val windows = samples.map(s => (s, rec.window(s.startMs, s.endMs)))
    val spans = rec.attributeSpans()
    val lat = samples.map(_.latencyS).toSeq
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!o.trace) {
      val heap = heapAfterGcMb()
      metrics += (("setup_s", setupS, "s"))
      metrics += (("ops_per_s", samples.size / math.max(1e-9, log.clockedS), "1/s"))
      metrics += (("op_p50_s", Stats.median(lat), "s"))
      metrics += (("op_tail_s", Stats.percentile(lat, Main.TailPercentile), "s"))
      metrics += (("cpu_s_per_op", windows.map(_._2.cpuS).sum / math.max(1, samples.size), "s"))
      metrics += (("retained_heap_mb", heap, "MB"))
    } else {
      metrics ++= Layers.metrics(windows.toSeq, spans, layer)
      metrics += (("trace.overhead_s",
        Stats.median(traced.map(_.latencyS).toSeq) - Stats.median(lat), "s"))
      Layers.writeSpans(s"${o.work}/spans-${o.workload}-${o.seed}.jsonl", spans)
    }
    val check = catalogCheck.map { case (dir, out, names) =>
      s""","catalog_check":{"tables":${Json.str(dir)},"out":${Json.str(out)},"queries":[${names.map(Json.str).mkString(",")}]}"""
    }.getOrElse("")
    spark.stop()
    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    s"""{"workload":${Json.str(o.workload)},"correct":${log.correct},""" +
      s""""attempted":${log.attempted},"failed":${log.failed},"ops":${lat.size},""" +
      s""""errors":[${log.errors.take(20).map(Json.str).mkString(",")}],""" +
      s""""metrics":{$m}$check}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
