package graft.perfbench

import graft.pipeline.{LiveEndpoints, Snapshot}
import graft.sinks.ReportSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

import java.math.{BigDecimal => JBigDecimal}

/** The reference's hourly sweep as one op: extract through the live
  * connectors (served by [[CannedNode]]), build the 46-column snapshot,
  * append it as one atomic batch. */
final class Sweep(spark: SparkSession, shape: SweepShape, seed: Long,
                  root: String, node: CannedNode) {

  def prepare(tick: Int): TickInputs = SweepGen.tick(shape, seed, tick)

  private def now(tick: Int) = SweepGen.T0 + 86400L * 30 + 3600L * tick

  def run(tick: Int, in: TickInputs): Unit = {
    node.serve(in)
    val inputs = LiveEndpoints.inputs(spark, SweepGen.config, in.tasks)
    val snap = Snapshot.build(inputs, lit(now(tick)), lit(SweepGen.timestamp(now(tick))))
    ReportSink.appendAtomicBatch(snap, root, s"t$tick")
  }

  /** The same op with each layer materialized alone: every input frame
    * is persisted and forced through `noop`, then the snapshot likewise,
    * so the transform and sink spans measure only themselves. Spans are
    * recorded under op id `tick`. */
  def runTraced(tick: Int, in: TickInputs, rec: Recorder, layer: LayerStats): Unit = {
    node.serve(in)
    val before = node.counts
    def force(df: DataFrame): Long = {
      df.persist()
      df.write.format("noop").mode("overwrite").save()
      df.count() // served from the cache: no second fetch
    }
    val inputs = rec.span(tick, "pipeline.inputs") {
      LiveEndpoints.inputs(spark, SweepGen.config, in.tasks)
    }
    var rows = 0L
    rows += rec.span(tick, "sources.pools")(force(inputs.pool1d) + force(inputs.pool1h))
    rows += rec.span(tick, "sources.history")(force(inputs.history))
    rows += rec.span(tick, "sources.fees")(force(inputs.fees))
    rec.span(tick, "sources.bins")(force(inputs.bins))
    val snap = Snapshot.build(inputs, lit(now(tick)), lit(SweepGen.timestamp(now(tick))))
    rec.span(tick, "pipeline.transform")(force(snap))
    rec.span(tick, "sinks.append")(ReportSink.appendAtomicBatch(snap, root, s"t$tick"))
    val after = node.counts
    def d(k: String) = (after(k) - before(k)).toDouble
    layer.add("sources.http_requests", d("http_requests"))
    layer.add("sources.rpc_posts", d("rpc_posts"))
    layer.add("sources.rpc_calls", d("rpc_calls"))
    layer.add("sources.served_mb", d("bytes") / 1e6)
    layer.add("sources.rows_per_line", rows / math.max(1.0, d("lines")))
    Seq(inputs.pool1d, inputs.pool1h, inputs.history, inputs.fees, inputs.bins, snap)
      .foreach(_.unpersist(blocking = true))
  }

  /** Reads the batch back and compares it with the generator's values,
    * then removes it so every read sees one batch. A traced op's read is
    * a span too. */
  def check(tick: Int, in: TickInputs, trace: Option[(Recorder, LayerStats)]): Seq[String] = {
    def read(): Seq[Row] =
      ReportSink.readCommittedBatches(spark, root)
        .map(_.drop("batch").collect().toSeq).getOrElse(Nil)
    val rows = trace match {
      case Some((rec, _)) => rec.span(tick, "sinks.read")(read())
      case None => read()
    }
    val dir = new java.io.File(s"$root/batch=t$tick")
    trace.foreach { case (_, layer) =>
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      layer.add("sinks.files_per_batch", parts.length.toDouble)
      layer.add("sinks.bytes_per_row", parts.map(_.length).sum.toDouble / math.max(1, rows.length))
    }
    Files.deleteTree(dir)
    Sweep.verify(rows, in)
  }
}

object Sweep {
  val Columns = 46

  private def close(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Every task appears exactly once with 46 columns, and the checked
    * fields equal the generator's values: decimal sums exactly as
    * doubles (the engine sums them as decimals), the bin share within
    * 1e-9 (the engine sums per-bin doubles in task order). */
  def verify(rows: Seq[Row], in: TickInputs): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (rows.length != in.tasks.size)
      errs += s"tick ${in.tick}: ${rows.length} rows, expected ${in.tasks.size}"
    rows.headOption.foreach { r =>
      if (r.length != Columns) errs += s"tick ${in.tick}: ${r.length} columns, expected $Columns"
    }
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    rows.foreach { r =>
      val key = (r.getAs[String]("user_address"), r.getAs[String]("pool_address"))
      if (!seen.add(key)) errs += s"tick ${in.tick}: duplicate row $key"
      in.expected.get(key) match {
        case None => errs += s"tick ${in.tick}: unexpected row $key"
        case Some(e) =>
          def field(name: String, want: JBigDecimal, rel: Double): Unit = {
            val got = r.getAs[Any](name)
            val ok = got match {
              case d: Double => close(d, want.doubleValue, rel)
              case _ => false
            }
            if (!ok) errs += s"tick ${in.tick} $key: $name=$got, expected ${want.doubleValue}"
          }
          field("total_tokenX_amount_initial_deposit", e.depositX, 1e-15)
          field("accrued_fees_token_x", e.feesX, 1e-15)
          field("token_x_amount", e.tokenX, 1e-9)
          val recent = Option(r.getAs[String]("MostRecentDepositTime"))
          if (recent != e.recentDeposit)
            errs += s"tick ${in.tick} $key: MostRecentDepositTime=$recent, expected ${e.recentDeposit}"
      }
    }
    errs.result().take(20)
  }
}
