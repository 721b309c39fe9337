package graft

import graft.ops.{Cdc, DataQuality, Scd2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- DQ

  describe("DataQuality.check") {
    val df = Seq(
      (1L, 1, 10.0, "A"),
      (1L, 1, 20.0, "A"),  // duplicate (k1, k2) pair
      (2L, 1, -5.0, "B"),  // range violation
      (3L, 2, 30.0, "Z")   // accepted-values violation
    ).toDF("k1", "k2", "v", "flag")

    it("fuses row checks into one pass and counts violations per check") {
      val out = DataQuality.check(df,
        rowChecks = Seq(
          DataQuality.RowCheck("v_positive", !($"v" > 0)),
          DataQuality.RowCheck("flag_accepted", !$"flag".isin("A", "B"))))
        .as[(String, Long, Long, Boolean)].collect().toMap2
      assert(out("v_positive") == ((4L, 1L, false)))
      assert(out("flag_accepted") == ((4L, 1L, false)))
    }
    it("uniqueness counts all rows living in oversized key groups") {
      val out = DataQuality.check(df,
        rowChecks = Nil,
        uniques = Seq(DataQuality.UniqueCheck("pk", Seq("k1", "k2"))))
        .as[(String, Long, Long, Boolean)].collect().toMap2
      // the (1,1) group has 2 rows -> 2 violations, 4 rows total
      assert(out("pk") == ((4L, 2L, false)))
    }
    it("fk counts keys missing from the dimension, including null keys") {
      val dim = Seq(1L, 2L).toDF("id")
      val facts = Seq(Some(1L), Some(2L), Some(9L), None).toDF("k1")
      val out = DataQuality.check(facts,
        rowChecks = Nil,
        fks = Seq(DataQuality.FkCheck("fk", "k1", dim, "id")))
        .as[(String, Long, Long, Boolean)].collect().toMap2
      assert(out("fk") == ((4L, 2L, false)))
    }
    it("a fully-clean table passes every check") {
      val out = DataQuality.check(df.filter($"k1" === 3L),
        rowChecks = Seq(DataQuality.RowCheck("v_positive", !($"v" > 0))),
        uniques = Seq(DataQuality.UniqueCheck("pk", Seq("k1", "k2"))))
        .as[(String, Long, Long, Boolean)].collect().toMap2
      assert(out("v_positive") == ((1L, 0L, true)))
      assert(out("pk") == ((1L, 0L, true)))
    }
    it("null predicate results do not count as violations (SQL FILTER semantics)") {
      val nf = Seq(Some(1.0), None).toDF("v")
      val out = DataQuality.check(nf,
        rowChecks = Seq(DataQuality.RowCheck("v_big", $"v" > 100)))
        .as[(String, Long, Long, Boolean)].collect().toMap2
      assert(out("v_big") == ((2L, 0L, true)))
    }
    it("all row checks over a table share ONE aggregate (single scan)") {
      val plan = DataQuality.check(df,
        rowChecks = Seq(
          DataQuality.RowCheck("a", !($"v" > 0)),
          DataQuality.RowCheck("b", !$"flag".isin("A")),
          DataQuality.RowCheck("c", $"v".isNull)))
        .queryExecution.optimizedPlan
      val scans = plan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }
      assert(scans.size == 1, s"expected one scan, got:\n$plan")
    }
  }

  implicit class Tup4Map(rows: Array[(String, Long, Long, Boolean)]) {
    def toMap2: Map[String, (Long, Long, Boolean)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  // --------------------------------------------------------------- CDC

  describe("Cdc.snapshotDiff") {
    it("classifies insert, delete, update and drops unchanged") {
      val oldS = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
        .toDF("k", "x", "s")
      val newS = Seq((2L, 21.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d"))
        .toDF("k", "x", "s")
      val out = Cdc.snapshotDiff(oldS, newS, Seq("k"), Seq("x", "s"))
        .select($"k", $"change_type").as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "delete", 2L -> "update", 4L -> "insert"))
    }
    it("null-to-value and value-to-null transitions are updates; null==null is unchanged") {
      val oldS = Seq((1L, Option.empty[Double]), (2L, Some(2.0)), (3L, Option.empty[Double]))
        .toDF("k", "x")
      val newS = Seq((1L, Some(1.0)), (2L, Option.empty[Double]), (3L, Option.empty[Double]))
        .toDF("k", "x")
      val out = Cdc.snapshotDiff(oldS, newS, Seq("k"), Seq("x"))
        .select($"k", $"change_type").as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "update", 2L -> "update"))
    }
    it("carries old_/new_ value pairs for audit") {
      val oldS = Seq((1L, 10.0)).toDF("k", "x")
      val newS = Seq((1L, 11.0)).toDF("k", "x")
      val row = Cdc.snapshotDiff(oldS, newS, Seq("k"), Seq("x"))
        .select($"old_x", $"new_x").as[(Double, Double)].collect().head
      assert(row == ((10.0, 11.0)))
    }
  }

  // -------------------------------------------------------------- SCD2

  describe("Scd2.merge") {
    def ev(rows: (Long, String, Long, String)*): DataFrame =
      rows.toSeq.toDF("user_id", "ts_s", "event_id", "event_type")
        .select($"user_id", to_timestamp($"ts_s").as("ts"), $"event_id", $"event_type")

    def assertMergeEqualsBatch(all: DataFrame, cutoff: String): Unit = {
      val c = to_timestamp(lit(cutoff))
      val merged = Scd2.merge(Scd2.build(all.filter($"ts" < c)),
                              all.filter($"ts" >= c))
      val batch = Scd2.build(all)
      val m = merged.orderBy($"user_id", $"run").collect().toSeq
      val b = batch.orderBy($"user_id", $"run").collect().toSeq
      assert(m == b, s"merge != batch\nmerge: $m\nbatch: $b")
    }

    it("delta continuing the open run extends it in place (same run id, summed n_events)") {
      assertMergeEqualsBatch(ev(
        (1L, "2024-01-01 10:00:00", 1L, "view"),
        (1L, "2024-01-02 10:00:00", 2L, "view"),
        (1L, "2024-01-20 10:00:00", 3L, "view")), "2024-01-16 00:00:00")
    }
    it("delta changing type closes the open interval exactly where batch does") {
      assertMergeEqualsBatch(ev(
        (1L, "2024-01-01 10:00:00", 1L, "view"),
        (1L, "2024-01-20 10:00:00", 2L, "purchase"),
        (1L, "2024-01-21 10:00:00", 3L, "view")), "2024-01-16 00:00:00")
    }
    it("users appearing only in the delta start at run 1") {
      assertMergeEqualsBatch(ev(
        (1L, "2024-01-01 10:00:00", 1L, "view"),
        (9L, "2024-01-20 10:00:00", 2L, "click"),
        (9L, "2024-01-21 10:00:00", 3L, "view")), "2024-01-16 00:00:00")
    }
    it("users without delta rows pass through untouched (open row stays open)") {
      assertMergeEqualsBatch(ev(
        (1L, "2024-01-01 10:00:00", 1L, "view"),
        (1L, "2024-01-02 10:00:00", 2L, "click"),
        (2L, "2024-01-20 10:00:00", 3L, "view")), "2024-01-16 00:00:00")
    }
    it("multiple type changes inside the delta create consecutive runs") {
      assertMergeEqualsBatch(ev(
        (1L, "2024-01-01 10:00:00", 1L, "a"),
        (1L, "2024-01-02 10:00:00", 2L, "b"),
        (1L, "2024-01-17 10:00:00", 3L, "b"),
        (1L, "2024-01-18 10:00:00", 4L, "c"),
        (1L, "2024-01-19 10:00:00", 5L, "a"),
        (1L, "2024-01-19 11:00:00", 6L, "a")), "2024-01-16 00:00:00")
    }
    it("merge == batch on a pseudo-random 3-user stream at several cutoffs") {
      // deterministic generator, no RNG (session rule): type cycles by hash
      val rows = (1 to 60).map { i =>
        val u = (i * 7919 % 3 + 1).toLong
        val t = f"2024-01-${i % 28 + 1}%02d ${i % 24}%02d:00:00"
        val ty = Seq("a", "b", "c")((i * 31) % 3)
        (u, t, i.toLong, ty)
      }
      val all = ev(rows: _*)
      Seq("2024-01-05 00:00:00", "2024-01-15 00:00:00", "2024-01-28 00:00:00")
        .foreach(assertMergeEqualsBatch(all, _))
    }
  }

  // -------------------------------------------------------------- FIFO

  describe("queries.WarehouseOps.basketPairPlane (q135/q211 fused pass, round 18)") {
    // the fused plane must reproduce BOTH unfused aggregates exactly:
    // pair supports (brand_a < brand_b over each sorted distinct set)
    // and per-brand supports (each basket element once)
    val sets = Seq(
      (1L, Seq("A", "B", "C")),
      (2L, Seq("A", "B")),
      (3L, Seq("B")),          // size-1 basket: marker only, no pairs
      (4L, Seq("A", "B", "C", "D")),
      (5L, Seq[String]())      // degenerate empty set: contributes nothing
    ).toDF("l_orderkey", "bs")

    it("brand_b-null marker counts equal the plain per-brand explode counts") {
      val plane = graft.queries.WarehouseOps.basketPairPlane(sets)
      val got = plane.filter($"brand_b".isNull)
        .select($"brand_a", $"cnt").as[(String, Long)].collect().toMap
      val want = sets.select(explode($"bs").as("b"))
        .groupBy($"b").count().as[(String, Long)].collect().toMap
      assert(got == want)
      assert(got == Map("A" -> 3L, "B" -> 4L, "C" -> 2L, "D" -> 1L))
    }
    it("pair rows equal the unfused in-row pair expansion") {
      val plane = graft.queries.WarehouseOps.basketPairPlane(sets)
      val got = plane.filter($"brand_b".isNotNull)
        .select($"brand_a", $"brand_b", $"cnt")
        .as[(String, String, Long)].collect()
        .map { case (a, b, c) => ((a, b), c) }.toMap
      assert(got == Map(
        ("A", "B") -> 3L, ("A", "C") -> 2L, ("A", "D") -> 1L,
        ("B", "C") -> 2L, ("B", "D") -> 1L, ("C", "D") -> 1L))
    }
    it("explode emits a null array element as one null row (the brand_b marker)") {
      assert(spark.sql("SELECT explode(array(CAST(NULL AS STRING)))").as[String].collect().toSeq == Seq(null))
    }
  }

  describe("Fifo.matchLots (q180)") {
    def frame(rows: (Long, Long, Long, Double)*): DataFrame =
      rows.toDF("k", "ts", "id", "qty")

    def matches(inf: DataFrame, out: DataFrame): Map[(Long, Long), Double] =
      graft.ops.Fifo.matchLots(inf, out, "k", "ts", "id", "qty")
        .select($"out_id", $"in_id", $"matched_qty")
        .as[(Long, Long, Double)].collect()
        .map { case (o, i, q) => (o, i) -> q }.toMap

    it("splits outflows across lot boundaries oldest-first, drops unbacked demand") {
      // lots: 5 then 3 -> axis [0,5) [5,8); outs: 2, 4, 5 -> [0,2) [2,6) [6,11)
      val inf = frame((1L, 1L, 101L, 5.0), (1L, 2L, 102L, 3.0))
      val out = frame((1L, 3L, 201L, 2.0), (1L, 4L, 202L, 4.0), (1L, 5L, 203L, 5.0))
      val m = matches(inf, out)
      assert(m == Map(
        (201L, 101L) -> 2.0,            // fully inside lot 1
        (202L, 101L) -> 3.0,            // drains lot 1...
        (202L, 102L) -> 1.0,            // ...spills into lot 2
        (203L, 102L) -> 2.0))           // last 3 units unbacked -> no row
      // conservation: matched total == min(total inflow, total outflow)
      assert(m.values.sum == 8.0)
    }
    it("orders same-timestamp events by id to make the axis total") {
      val inf = frame((1L, 1L, 102L, 2.0), (1L, 1L, 101L, 1.0))
      val out = frame((1L, 2L, 201L, 1.0))
      // id 101 sorts first despite appearing second -> it backs the outflow
      assert(matches(inf, out) == Map((201L, 101L) -> 1.0))
    }
    it("keeps keys independent and exact on the 6-dp grid") {
      val inf = frame((1L, 1L, 101L, 0.000001), (2L, 1L, 102L, 7.5))
      val out = frame((1L, 2L, 201L, 0.000001), (2L, 2L, 202L, 2.5))
      assert(matches(inf, out) == Map(
        (201L, 101L) -> 0.000001, (202L, 102L) -> 2.5))
    }
  }
}
