package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec

import java.nio.file.{Files => JFiles, Paths}
import scala.collection.mutable.ArrayBuffer

class PerfbenchSpec extends AnyFunSpec with BeforeAndAfterAll {
  private val tmp = JFiles.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session(tmp)
  override def afterAll(): Unit = {
    spark.stop()
    Files.deleteTree(new java.io.File(tmp))
  }

  private val small = SweepShape(users = 2, pools = 2, history = 5, fees = 5, bins = 5, full = false)
  private val full = SweepShape(users = 1, pools = 2, history = 100, fees = 200, bins = 2001, full = true)

  /** One op end to end on a fresh sink; returns the rows read back. */
  private def runOp(shape: SweepShape, seed: Long, tick: Int, root: String,
                    node: CannedNode): (TickInputs, Seq[Row]) = {
    val w = new Sweep(spark, shape, seed, root, node)
    val in = w.prepare(tick)
    w.run(tick, in)
    val rows = graft.sinks.ReportSink.readCommittedBatches(spark, root).get.drop("batch").collect()
    (in, rows.toSeq)
  }

  private def withNode[T](body: CannedNode => T): T = {
    val node = new CannedNode
    node.install()
    try body(node) finally node.uninstall()
  }

  describe("inputs") {
    it("the same seed gives byte-identical sweep inputs; another seed or tick does not") {
      Seq(small, full).foreach { shape =>
        val a = SweepGen.tick(shape, 7, 3).bytes
        assert(a.sameElements(SweepGen.tick(shape, 7, 3).bytes))
        assert(!a.sameElements(SweepGen.tick(shape, 8, 3).bytes))
        assert(!a.sameElements(SweepGen.tick(shape, 7, 4).bytes))
      }
    }

    it("the same seed gives byte-identical catalog tables; another seed does not") {
      def gen(seed: Long): Map[String, Array[Byte]] = {
        val d = s"$tmp/tables-$seed-${System.nanoTime()}"
        CatalogGen.write(spark, seed, 0.001, d)
        graft.Tables.names.map(n => n -> JFiles.readAllBytes(Paths.get(s"$d/$n.parquet"))).toMap
      }
      val a = gen(7); val b = gen(7); val c = gen(8)
      graft.Tables.names.foreach(n => assert(a(n).sameElements(b(n)), n))
      assert(!a("lineitem").sameElements(c("lineitem")))
      assert(a("region").sameElements(c("region")))
    }
  }

  describe("the sweep's output check") {
    it("passes on a real op and fails on a corrupted or missing row") {
      withNode { node =>
        val (in, rows) = runOp(full, 11, 0, s"$tmp/sink-ok", node)
        assert(rows.size == full.tasks)
        assert(Sweep.verify(rows, in).isEmpty)
        val i = rows.head.fieldIndex("token_x_amount")
        val corrupted = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          rows.head.toSeq.updated(i, rows.head.getDouble(i) * 1.001).toArray, rows.head.schema)
        assert(Sweep.verify(corrupted +: rows.tail, in).exists(_.contains("token_x_amount")))
        assert(Sweep.verify(rows.tail, in).exists(_.contains("rows, expected")))
      }
    }

    it("fails when a fetch fails inside an op") {
      withNode { node =>
        node.failUrls = _.contains("/history/")
        val (in, rows) = runOp(small, 12, 0, s"$tmp/sink-fail", node)
        assert(Sweep.verify(rows, in).nonEmpty)
      }
    }

    it("counts an op that throws as attempted and failed, never as a latency") {
      val log = new OpLog
      val samples = ArrayBuffer.empty[OpSample]
      assert(log.timed(samples)(()))
      assert(!log.timed(samples)(throw new RuntimeException("boom")))
      assert(log.attempted == 2 && log.failed == 1 && samples.size == 1)
      assert(!log.correct)
    }
  }

  describe("the span recorder") {
    def withRecorder[T](body: Recorder => T): T = {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      try body(rec) finally spark.sparkContext.removeSparkListener(rec)
    }

    it("attributes the same job and task counts to each sweep span across two runs") {
      withRecorder { rec =>
        withNode { node =>
          Seq(0, 1).foreach { run =>
            val w = new Sweep(spark, full, 21, s"$tmp/sink-trace-$run", node)
            Seq(5, 6, 7).map(_ + 10 * run).foreach { tick =>
              val in = w.prepare(tick)
              w.runTraced(tick, in, rec, new LayerStats)
              assert(w.check(tick, in, Some((rec, new LayerStats))).isEmpty)
            }
          }
        }
        rec.drain(spark.sparkContext)
        val spans = rec.attributeSpans()
        assert(spans.map(_.name).toSet == Layers.spanLayers.toSet)
        assert(spans.forall(_.counters.jobs > 0))
        // AQE plans the snapshot with one job fewer (and a coarser final
        // partitioning) when its shuffle stages finish in another order;
        // every other span repeats exactly
        val (aqe, exact) = spans.partition(s =>
          s.name == "pipeline.transform" || s.name == "sinks.append")
        exact.groupBy(_.name).values.foreach { ss =>
          assert(ss.map(s => (s.counters.jobs, s.counters.tasks)).distinct.size == 1, ss.head.name)
        }
        val transformJobs = aqe.filter(_.name == "pipeline.transform").map(_.counters.jobs)
        assert(transformJobs.max - transformJobs.min <= 1)
      }
    }

    it("attributes the same job counts to each query span across two runs") {
      val d = s"$tmp/tables-spans"
      CatalogGen.write(spark, 3, 0.001, d)
      withRecorder { rec =>
        val qs = Catalog.pass.map(_._2).filter(q =>
          Seq("CorpusOps", "WarehouseOps", "SetGraphOps").contains(
            Catalog.pass.find(_._2 == q).get._1))
        Seq(0, 1).foreach { run =>
          qs.zipWithIndex.foreach { case (q, i) =>
            rec.span(run * 100 + i, q.name)(Catalog.execute(spark, d, q.fn))
          }
        }
        rec.drain(spark.sparkContext)
        val spans = rec.attributeSpans()
        def counts(run: Int) = spans.filter(_.op / 100 == run)
          .map(s => s.name -> (s.counters.jobs, s.counters.tasks))
        assert(counts(0).size == 3 && counts(0).forall(_._2._1 > 0))
        assert(counts(0) == counts(1))
      }
    }
  }
}
