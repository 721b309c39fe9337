package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** The snapshot's whole per-(user, pool) summary as ONE aggregate
  * ([[graft.pipeline.Snapshot]]): a single fold over the task's union
  * rows, in place of nine declarative aggregates and the post-aggregate
  * deposit lambdas, so the reduce task generates no per-aggregate
  * projections. Each union row carries a `kind` tag and its payload;
  * per kind the fold keeps:
  *
  *  - [[Task]]: the task count, and the tick's two wall-clock values,
  *    which travel as data so that no tick-varying literal reaches
  *    generated code;
  *  - [[Deposit]]: the latest `(blockNumber, ts)` (struct order: nulls
  *    lowest) and the `Decimal(38,6)` sums of the deposits tied on it,
  *    each step rounded to `Decimal(38,6)` as `acc + x` is — a null
  *    amount nulls the sum, an overflow nulls it or, under ANSI, fails;
  *  - [[Fee]]: the `Decimal(38,12)` fee sums with `sum`'s semantics
  *    (nulls skipped, exact, range-checked once at the end), and the fee
  *    fold's `(binId, x, y)` entries;
  *  - [[Bin]]: the bin fold's entries, Σux, Σuy (`sum`: null when no
  *    value, `0.0 + x` first) and the first non-null sx, sy.
  *
  * A fold renders once at the end: its entries sorted as `array_sort`
  * sorts `struct(binId, x, y, text)` — nulls first per field, SQL
  * double order, and on equal values the text, where only `-0.0`
  * against `0.0` differs — then `"(id: x, y; …)"` with each number as
  * `cast(… as string)` renders it (`null` for a null field).
  */
object TaskSummary {
  val Task = 0
  val Deposit = 1
  val Fee = 2
  val Bin = 3

  /** The summary of one group of union rows; see [[TaskSummaryAgg]]
    * for the output fields. `id` is the deposit's blockNumber or the
    * fee/bin id, `x`/`y` a fold entry's amounts, `dx`/`dy` a deposit's
    * `Decimal(38,6)` amounts. */
  def apply(kind: Column, id: Column, ts: Column, x: Column, y: Column,
            dx: Column, dy: Column, ux: Column, uy: Column, sx: Column, sy: Column,
            nowUnix: Column, nowStr: Column): Column = {
    val fee = (c: Column) => c.cast(DecimalType(38, 12))
    val in = Seq(kind, id, ts, x, y, dx, dy, fee(x), fee(y), ux, uy, sx, sy, nowUnix, nowStr)
    GraftColumnBridge.column(TaskSummaryAgg(in.map(GraftColumnBridge.expression))
      .toAggregateExpression())
  }

  /** One fold entry; `nulls` has bit 0/1/2 set for a null id/x/y. */
  final class Entry(val id: Long, val x: Double, val y: Double, val nulls: Int) {
    def isNull(bit: Int): Boolean = (nulls & (1 << bit)) != 0
  }

  private def nullsFirst(a: Entry, b: Entry, bit: Int)(cmp: => Int): Int =
    (a.isNull(bit), b.isNull(bit)) match {
      case (false, false) => cmp
      case (an, bn) => java.lang.Boolean.compare(bn, an)
    }

  private val entryOrder: java.util.Comparator[Entry] = (a, b) => {
    var c = nullsFirst(a, b, 0)(java.lang.Long.compare(a.id, b.id))
    if (c == 0) c = nullsFirst(a, b, 1)(SQLOrderingUtil.compareDoubles(a.x, b.x))
    if (c == 0) c = nullsFirst(a, b, 2)(SQLOrderingUtil.compareDoubles(a.y, b.y))
    // equal by value: the texts differ only where -0.0 meets 0.0
    if (c == 0) c = nullsFirst(a, b, 1)(java.lang.Double.compare(a.x, b.x))
    if (c == 0) c = nullsFirst(a, b, 2)(java.lang.Double.compare(a.y, b.y))
    c
  }

  /** The entries sorted and rendered as `Relational.stringFold` renders
    * `format_string("%s: %s, %s", …)` entries. */
  def render(entries: java.util.ArrayList[Entry]): UTF8String = {
    val sorted = entries.toArray(new Array[Entry](entries.size))
    java.util.Arrays.sort(sorted, entryOrder)
    val sb = new java.lang.StringBuilder(sorted.length * 40 + 2).append('(')
    var i = 0
    while (i < sorted.length) {
      val e = sorted(i)
      if (i > 0) sb.append("; ")
      if (e.isNull(0)) sb.append("null") else sb.append(e.id)
      sb.append(": ")
      if (e.isNull(1)) sb.append("null") else sb.append(java.lang.Double.toString(e.x))
      sb.append(", ")
      if (e.isNull(2)) sb.append("null") else sb.append(java.lang.Double.toString(e.y))
      i += 1
    }
    UTF8String.fromString(sb.append(')').toString)
  }

  /** A running `Decimal(38,6)` sum folded as `(acc + x)` steps: null
    * once a null joins or a step overflows (`overflow` keeps the first
    * out-of-range value, for ANSI's error at the end). */
  final class TiedSum {
    var sum: Decimal = Decimal(0L, 38, 6)
    var overflow: Decimal = null
    def add(v: Decimal): Unit = if (sum != null) {
      if (v == null) sum = null
      else {
        val s = sum + v
        sum = GraftColumnBridge.toPrecision(s, 38, 6, nullOnOverflow = true)
        if (sum == null) overflow = s
      }
    }
  }

  /** A nullable double: `sum()` or `first(…, ignoreNulls = true)`. */
  final class DoubleSlot {
    var has = false
    var value = 0.0
    /** sum(): 0.0 + the first value, then + each next one. */
    def add(v: Double): Unit = { value = (if (has) value else 0.0) + v; has = true }
    def offer(v: Double): Unit = if (!has) { value = v; has = true }
    def result: Any = if (has) value else null
  }

  /** The aggregation buffer. */
  final class Buffer {
    var tasks = 0L
    var nowUnix: Any = null
    var nowStr: Any = null
    // the latest deposit key, and the sums of the deposits tied on it
    var hasDeposit = false
    var blockNull = true
    var block = 0L
    var tsNull = true
    var ts = 0L
    var depX = new TiedSum
    var depY = new TiedSum
    // fee sums: null until the first non-null amount
    var feeX: Decimal = null
    var feeY: Decimal = null
    val fees = new java.util.ArrayList[Entry]()
    val bins = new java.util.ArrayList[Entry]()
    // Σux, Σuy and the first sx, sy
    val ux = new DoubleSlot
    val uy = new DoubleSlot
    val sx = new DoubleSlot
    val sy = new DoubleSlot
    def doubles: Seq[DoubleSlot] = Seq(ux, uy, sx, sy)

    /** Compares a deposit key with the latest one, nulls lowest. */
    def compareKey(bNull: Boolean, b: Long, tNull: Boolean, t: Long): Int = {
      var c = if (bNull || blockNull) java.lang.Boolean.compare(!bNull, !blockNull)
              else java.lang.Long.compare(b, block)
      if (c == 0) c = if (tNull || tsNull) java.lang.Boolean.compare(!tNull, !tsNull)
                      else java.lang.Long.compare(t, ts)
      c
    }

    def setKey(bNull: Boolean, b: Long, tNull: Boolean, t: Long): Unit = {
      hasDeposit = true; blockNull = bNull; block = b; tsNull = tNull; ts = t
      depX = new TiedSum; depY = new TiedSum
    }
  }
}

/** The per-task summary aggregate; see [[TaskSummary]]. Inputs, in
  * order: kind, id, ts, x, y, dx, dy, the fee amounts as
  * `Decimal(38,12)` (evaluated on fee rows only), ux, uy, sx, sy,
  * nowUnix, nowStr. Output: one struct of the fields below. The buffer
  * is a plain object; with the exchange ahead of the aggregate, its
  * partial and final halves run in the same reduce task. */
case class TaskSummaryAgg(
    children: Seq[Expression],
    nullOnOverflow: Boolean = !SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TaskSummary.Buffer] {
  import TaskSummary._

  require(children.length == 15, s"TaskSummaryAgg takes 15 inputs, got ${children.length}")

  @transient private lazy val in: Array[Expression] = children.toArray
  private def nowTypes: Seq[DataType] = Seq(children(13).dataType, children(14).dataType)

  override def dataType: DataType = StructType(Seq(
    StructField("tasks", LongType, nullable = false),
    StructField("latest_ts", TimestampType),
    StructField("deposit_x", DecimalType(38, 6)),
    StructField("deposit_y", DecimalType(38, 6)),
    StructField("fees_x", DecimalType(38, 12)),
    StructField("fees_y", DecimalType(38, 12)),
    StructField("fees_per_bin", StringType, nullable = false),
    StructField("bin_distribution", StringType, nullable = false),
    StructField("sum_ux", DoubleType),
    StructField("sum_uy", DoubleType),
    StructField("first_sx", DoubleType),
    StructField("first_sy", DoubleType),
    StructField("now_unix", nowTypes(0)),
    StructField("now_str", nowTypes(1))))
  override def nullable: Boolean = false
  override def prettyName: String = "task_summary"

  override def createAggregationBuffer(): Buffer = new Buffer

  private def entry(row: InternalRow): Entry = {
    val id = in(1).eval(row); val x = in(3).eval(row); val y = in(4).eval(row)
    new Entry(if (id == null) 0L else id.asInstanceOf[Long],
      if (x == null) 0.0 else x.asInstanceOf[Double],
      if (y == null) 0.0 else y.asInstanceOf[Double],
      (if (id == null) 1 else 0) | (if (x == null) 2 else 0) | (if (y == null) 4 else 0))
  }

  private def decimal(i: Int, row: InternalRow): Decimal = in(i).eval(row).asInstanceOf[Decimal]
  private def double(i: Int, row: InternalRow)(f: Double => Unit): Unit = in(i).eval(row) match {
    case v: Double => f(v)
    case _ =>
  }
  private def addFee(sum: Decimal, v: Decimal): Decimal =
    if (v == null) sum else if (sum == null) v else sum + v

  override def update(buf: Buffer, row: InternalRow): Buffer = {
    in(0).eval(row).asInstanceOf[Int] match {
      case Task =>
        if (buf.tasks == 0) {
          buf.nowUnix = InternalRow.copyValue(in(13).eval(row))
          buf.nowStr = InternalRow.copyValue(in(14).eval(row))
        }
        buf.tasks += 1
      case Deposit =>
        val b = in(1).eval(row); val t = in(2).eval(row)
        val (bNull, bv) = (b == null, if (b == null) 0L else b.asInstanceOf[Long])
        val (tNull, tv) = (t == null, if (t == null) 0L else t.asInstanceOf[Long])
        val c = if (buf.hasDeposit) buf.compareKey(bNull, bv, tNull, tv) else 1
        if (c > 0) buf.setKey(bNull, bv, tNull, tv)
        if (c >= 0) { buf.depX.add(decimal(5, row)); buf.depY.add(decimal(6, row)) }
      case Fee =>
        buf.fees.add(entry(row))
        buf.feeX = addFee(buf.feeX, decimal(7, row))
        buf.feeY = addFee(buf.feeY, decimal(8, row))
      case Bin =>
        buf.bins.add(entry(row))
        double(9, row)(buf.ux.add)
        double(10, row)(buf.uy.add)
        if (!buf.sx.has) double(11, row)(buf.sx.offer)
        if (!buf.sy.has) double(12, row)(buf.sy.offer)
    }
    buf
  }

  /** Folds `other` (rows that arrived after `buf`'s) into `buf`. A
    * deposit sum tied in both is joined as one addend. */
  override def merge(buf: Buffer, other: Buffer): Buffer = {
    if (buf.tasks == 0) { buf.nowUnix = other.nowUnix; buf.nowStr = other.nowStr }
    buf.tasks += other.tasks
    if (other.hasDeposit) {
      val c = if (buf.hasDeposit)
        buf.compareKey(other.blockNull, other.block, other.tsNull, other.ts) else 1
      if (c > 0) {
        buf.setKey(other.blockNull, other.block, other.tsNull, other.ts)
        buf.depX = other.depX; buf.depY = other.depY
      } else if (c == 0) {
        Seq((buf.depX, other.depX), (buf.depY, other.depY)).foreach { case (s, o) =>
          if (o.sum == null && s.sum != null) { s.sum = null; s.overflow = o.overflow }
          else s.add(o.sum)
        }
      }
    }
    buf.feeX = addFee(buf.feeX, other.feeX)
    buf.feeY = addFee(buf.feeY, other.feeY)
    buf.fees.addAll(other.fees)
    buf.bins.addAll(other.bins)
    if (other.ux.has) buf.ux.add(other.ux.value)
    if (other.uy.has) buf.uy.add(other.uy.value)
    if (other.sx.has) buf.sx.offer(other.sx.value)
    if (other.sy.has) buf.sy.offer(other.sy.value)
    buf
  }

  private def depositSum(s: TiedSum): Any =
    if (s.sum == null && s.overflow != null && !nullOnOverflow)
      GraftColumnBridge.toPrecision(s.overflow, 38, 6, nullOnOverflow = false)
    else s.sum

  private def feeSum(s: Decimal): Any =
    if (s == null) null
    else GraftColumnBridge.toPrecision(s, 38, 12, nullOnOverflow)

  override def eval(buf: Buffer): Any = new GenericInternalRow(Array[Any](
    buf.tasks,
    if (buf.hasDeposit && !buf.tsNull) buf.ts else null,
    if (buf.hasDeposit) depositSum(buf.depX) else null,
    if (buf.hasDeposit) depositSum(buf.depY) else null,
    feeSum(buf.feeX), feeSum(buf.feeY),
    render(buf.fees), render(buf.bins),
    buf.ux.result, buf.uy.result, buf.sx.result, buf.sy.result,
    buf.nowUnix, buf.nowStr))

  // ---- buffer bytes: the partial → final hand-off ----

  @transient private lazy val nowProjection = InterpretedUnsafeProjection.createProjection(
    nowTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })

  private def writeDecimal(o: DataOutputStream, d: Decimal): Unit =
    if (d == null) o.writeBoolean(false)
    else {
      val u = d.toJavaBigDecimal.unscaledValue.toByteArray
      o.writeBoolean(true); o.writeInt(d.scale); o.writeInt(u.length); o.write(u)
    }

  private def readDecimal(i: DataInputStream): Decimal =
    if (!i.readBoolean()) null
    else {
      val scale = i.readInt()
      val u = new Array[Byte](i.readInt()); i.readFully(u)
      Decimal(new java.math.BigDecimal(new java.math.BigInteger(u), scale))
    }

  private def writeEntries(o: DataOutputStream, es: java.util.ArrayList[Entry]): Unit = {
    o.writeInt(es.size)
    es.forEach { e => o.writeLong(e.id); o.writeDouble(e.x); o.writeDouble(e.y); o.writeByte(e.nulls) }
  }

  private def readEntries(i: DataInputStream, es: java.util.ArrayList[Entry]): Unit = {
    val n = i.readInt()
    es.ensureCapacity(n)
    (0 until n).foreach { _ =>
      es.add(new Entry(i.readLong(), i.readDouble(), i.readDouble(), i.readByte()))
    }
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(64 + 25 * (buf.fees.size + buf.bins.size))
    val o = new DataOutputStream(bytes)
    o.writeLong(buf.tasks)
    val now = nowProjection(new GenericInternalRow(Array[Any](buf.nowUnix, buf.nowStr)))
    o.writeInt(now.getSizeInBytes); o.write(now.getBytes)
    o.writeBoolean(buf.hasDeposit)
    o.writeBoolean(buf.blockNull); o.writeLong(buf.block)
    o.writeBoolean(buf.tsNull); o.writeLong(buf.ts)
    Seq(buf.depX, buf.depY).foreach { s => writeDecimal(o, s.sum); writeDecimal(o, s.overflow) }
    writeDecimal(o, buf.feeX); writeDecimal(o, buf.feeY)
    writeEntries(o, buf.fees); writeEntries(o, buf.bins)
    buf.doubles.foreach { d => o.writeBoolean(d.has); o.writeDouble(d.value) }
    o.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Buffer = {
    val i = new DataInputStream(new java.io.ByteArrayInputStream(storage))
    val buf = new Buffer
    buf.tasks = i.readLong()
    val now = new UnsafeRow(2)
    val nowBytes = new Array[Byte](i.readInt()); i.readFully(nowBytes)
    now.pointTo(nowBytes, nowBytes.length)
    buf.nowUnix = InternalRow.copyValue(now.get(0, nowTypes(0)))
    buf.nowStr = InternalRow.copyValue(now.get(1, nowTypes(1)))
    buf.hasDeposit = i.readBoolean()
    buf.blockNull = i.readBoolean(); buf.block = i.readLong()
    buf.tsNull = i.readBoolean(); buf.ts = i.readLong()
    Seq(buf.depX, buf.depY).foreach { s => s.sum = readDecimal(i); s.overflow = readDecimal(i) }
    buf.feeX = readDecimal(i); buf.feeY = readDecimal(i)
    readEntries(i, buf.fees); readEntries(i, buf.bins)
    buf.doubles.foreach { d => d.has = i.readBoolean(); d.value = i.readDouble() }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TaskSummaryAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TaskSummaryAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TaskSummaryAgg = copy(children = newChildren)
}
