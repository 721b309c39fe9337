package graft.perfbench

import graft.{QueryDef, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registered query catalogue as a workload: one op is one query
  * executed through the `noop` sink, with Bench's table-cache policy,
  * warm-up and between-query hygiene. */
object Catalog {

  /** The registry modules in SparkEntry's order. */
  val modules: Seq[(String, Seq[QueryDef])] = {
    import graft.queries._
    Seq(
      "ReferenceParity" -> ReferenceParity.defs, "StreamingParity" -> StreamingParity.defs,
      "LlmOps" -> LlmOps.defs, "LlmOps2" -> LlmOps2.defs, "CorpusOps" -> CorpusOps.defs,
      "VectorOps" -> VectorOps.defs, "SketchOps" -> SketchOps.defs,
      "Analytics" -> Analytics.defs, "TimeSeries" -> TimeSeries.defs,
      "SetGraphOps" -> SetGraphOps.defs, "WarehouseOps" -> WarehouseOps.defs,
      "BehaviorOps" -> BehaviorOps.defs, "StatsOps" -> StatsOps.defs,
      "EvalOps" -> EvalOps.defs, "ImageOps" -> ImageOps.defs,
      "AudioOps" -> AudioOps.defs, "VideoOps" -> VideoOps.defs)
  }

  val PerModule = 1
  /** Generated tables' scale factor. */
  val ScaleFactor = 0.01

  /** One pass of the workload: from each module, `PerModule` queries
    * that have a DuckDB oracle, evenly spaced through the module, in
    * registry order. Fixed, so every run and seed times the same mix. */
  lazy val pass: Seq[(String, QueryDef)] = {
    val all = modules.flatMap(_._2).map(_.name)
    require(all.toSet == SparkEntry.queries.keySet && all.distinct.size == all.size,
      "Catalog.modules no longer matches SparkEntry's registry")
    modules.flatMap { case (m, defs) =>
      val withOracle = defs.filter(_.oracle.isDefined)
      val k = math.min(PerModule, withOracle.size)
      (0 until k).map(i => m -> withOracle((2 * i + 1) * withOracle.size / (2 * k)))
    }
  }

  /** Bench's storage tier: lineitem repartitioned for compute, every
    * table but documents cached, each table touched once. Returns the
    * persistent RDDs that hygiene must keep. */
  def cacheTables(spark: SparkSession, dir: String): Set[Int] = {
    spark.conf.set(Tables.ParallelizeScans, "lineitem")
    Tables.names.foreach { n =>
      val t = Tables(spark, dir, n)
      if (n != "documents") t.persist().count() else t.count()
    }
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  def execute(spark: SparkSession, dir: String,
              fn: (SparkSession, String) => DataFrame): Unit =
    fn(spark, dir).write.format("noop").mode("overwrite").save()

  /** Bench's between-query hygiene: drop per-query persisted blocks,
    * keep the table caches, and collect twice so the cleaner's backlog
    * is not paid inside the next op. */
  def hygiene(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    System.gc(); Thread.sleep(150)
    System.gc(); Thread.sleep(150)
  }

  /** Writes each query's result as parquet, and the oracle SQL of all
    * of them as `oracle_sql.json`, for the oracle compare. */
  def dump(spark: SparkSession, dir: String, qs: Seq[QueryDef], out: String): Unit = {
    Files.deleteTree(new java.io.File(out))
    qs.foreach(q => q.fn(spark, dir).coalesce(1).write.parquet(s"$out/${q.name}"))
    val sql = qs.map(q => s"${Json.str(q.name)}:${Json.str(q.oracle.get)}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), sql)
  }
}
