package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

/** The shared scaffold of the adaptive graph ops ([[LabelProp]],
  * [[PageRank]], [[Triangles]], `ext.Dedup.dedupGroups` and
  * `ext.Dedup.hopsToRep`): a graph whose edge count is under a cap
  * collects to the driver and runs its loop over primitive arrays —
  * one collect job instead of several grid-sized Spark jobs per
  * superstep, which at small scale are pure scheduling floor — while a
  * larger graph keeps the op's distributed plan.
  *
  * Both paths read the same edge frame from [[edges]]: null-id edges
  * dropped (a null id is not a node; equi-joins would skip it on one
  * path while the driver path cannot hold it) and materialized once,
  * so the count probe, the driver collect and the distributed plan do
  * not each re-derive a possibly expensive input subtree.
  */
object DriverGraph {

  /** Default edge cap of every driver twin. At 4M edges the collected
    * graph is about 64 MB of primitive arrays (int endpoints, the
    * doubled CSR, per-node columns); the transient collected tuples
    * cost ~40 bytes/edge (~160 MB) before the copy. Both sit well
    * inside a driver heap, in the spirit of the broadcast-join
    * threshold. */
  val MaxDriverEdges: Long = 4L * 1024 * 1024

  /** The two id columns `a`, `b` of `df`, null-id edges dropped,
    * localCheckpoint'd unless `checkpoint = false` (a caller that skips
    * the probe and keeps its input lazy). */
  def edges(df: DataFrame, a: String, b: String,
            checkpoint: Boolean = true): DataFrame = {
    val e = df.select(col(a), col(b)).filter(col(a).isNotNull && col(b).isNotNull)
    if (checkpoint) e.localCheckpoint(true) else e
  }

  /** Whether the driver path may take the [[edges]] frame `e`. The
    * driver round-trips ids through Long and casts results back to the
    * id type, so both columns must be the SAME integral type — a mixed
    * (int, long) edge list would wrap ids on the cast-back where the
    * distributed path widens correctly. The type check runs first; only
    * then does the count probe (one job over the materialized frame). */
  def fits(e: DataFrame, maxDriverEdges: Long): Boolean = {
    val Seq(st, dt) = e.schema.fields.toSeq.map(_.dataType)
    st == dt && Seq(ByteType, ShortType, IntegerType, LongType).contains(st) &&
      e.count() <= maxDriverEdges
  }

  /** A collected graph: node ids in first-seen order over the flattened
    * (src, dst) sequence, and per-edge endpoint indices into `nodes`. */
  final class Graph(val nodes: Array[Long], val src: Array[Int],
                    val dst: Array[Int]) {
    def n: Int = nodes.length
    def m: Int = src.length

    /** Edge-occurrence degree: every edge counts at both endpoints, a
      * duplicated edge twice, a self-loop twice at its node. */
    lazy val deg: Array[Int] = {
      val d = new Array[Int](n)
      var e = 0
      while (e < m) { d(src(e)) += 1; d(dst(e)) += 1; e += 1 }
      d
    }

    /** Undirected CSR: the neighbours of node `v` are
      * `nbr(off(v) until off(v + 1))`, every edge listed from both ends. */
    lazy val (off: Array[Int], nbr: Array[Int]) = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
      val fill = java.util.Arrays.copyOf(off, n)
      val nbr = new Array[Int](2 * m)
      var e = 0
      while (e < m) {
        val a = src(e); val b = dst(e)
        nbr(fill(a)) = b; fill(a) += 1
        nbr(fill(b)) = a; fill(b) += 1
        e += 1
      }
      (off, nbr)
    }
  }

  /** Collects the [[edges]] frame `e` as specialized (Long, Long) tuples
    * (an Array[Row] of GenericRows would cost ~100 bytes/edge) and
    * indexes the nodes without boxing them through a generic set. */
  def collect(e: DataFrame): Graph = {
    val spark = e.sparkSession
    val Array(a, b) = e.columns
    val tupled = {
      import spark.implicits._
      e.select(col(a).cast("long"), col(b).cast("long")).as[(Long, Long)].collect()
    }
    val m = tupled.length
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val nodes = scala.collection.mutable.ArrayBuilder.make[Long]
    var n = 0
    def id(x: Long): Int = idx.getOrElseUpdate(x, { nodes += x; n += 1; n - 1 })
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var i = 0
    while (i < m) { src(i) = id(tupled(i)._1); dst(i) = id(tupled(i)._2); i += 1 }
    new Graph(nodes.result(), src, dst)
  }

  /** Rows `row(0 until n)` with the DDL `schema` as a LocalRelation —
    * not an RDD scan, so it carries exact row counts and downstream
    * joins plan as broadcasts statically — with the `ids` columns cast
    * back to the id type of the [[edges]] frame `e`. */
  def relation(e: DataFrame, schema: String, n: Int, ids: String*)
              (row: Int => Row): DataFrame = {
    val st = StructType.fromDDL(schema)
    val idType = e.schema.head.dataType
    e.sparkSession.createDataFrame(java.util.Arrays.asList((0 until n).map(row): _*), st)
      .select(st.fieldNames.toSeq.map(f =>
        if (ids.contains(f)) col(f).cast(idType).as(f) else col(f)): _*)
  }
}
