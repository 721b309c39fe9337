package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.Schemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** DataSource V2 connector for the reference's extract plane (SURVEY.md
  * §2.1 S2–S7), offline form: instead of HTTP GET / eth_call, payloads
  * are JSONL files shaped exactly like the API responses
  * (`graft.model.Schemas`). The connector structure is the one a live
  * REST/RPC source would use — swap the file iterator for an HTTP
  * client per partition and nothing else changes.
  *
  * Implements the two pushdowns the reference performs manually:
  *  - column pruning (the keep-maps at main.py:54-83) via
  *    SupportsPushDownRequiredColumns;
  *  - predicate pushdown (the startTime/endTime window params at
  *    main.py:30-34, F4) via SupportsPushDownFilters — comparison and
  *    equality filters on top-level atomic fields are evaluated on the
  *    raw JSON before row materialization.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.FixtureJsonSource")
  *     .option("payload", "userHistory")   // or explicit .schema(...)
  *     .load("/path/to/history.jsonl")
  * }}}
  */
class FixtureJsonSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixtureJsonSource.payloadSchema(options.get("payload"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    FixtureTable(schema, properties.get("path"),
                 Option(properties.get("mode")).getOrElse("FAILFAST"))

  override def supportsExternalMetadata(): Boolean = true
}

object FixtureJsonSource {
  def payloadSchema(payload: String): StructType = payload match {
    case "poolStats"   => Schemas.poolStats
    case "userHistory" => Schemas.userHistory
    case "feesEarned"  => Schemas.feesEarned
    case "binReserves" => Schemas.binReserves
    case other => throw new IllegalArgumentException(
      s"unknown payload '$other': pass option payload in " +
        "{poolStats,userHistory,feesEarned,binReserves} or an explicit schema")
  }
}

/** Parse-failure policy for poisoned payload rows (the reference
  * swallows per-task exceptions so one bad pool doesn't kill the sweep,
  * main.py:13-17,357-358 — this is the distributed analogue):
  *  - FAILFAST (default): a malformed line fails the task;
  *  - DROPMALFORMED: malformed lines are skipped;
  *  - PERMISSIVE: malformed lines quarantine to a null row, with the
  *    raw line captured in a `_corrupt_record` string column when the
  *    schema declares one — the sweep completes and the bad payloads
  *    stay inspectable as a side output
  *    (`df.filter($"_corrupt_record".isNotNull)`).
  */
case class FixtureTable(tableSchema: StructType, path: String,
                        mode: String = "FAILFAST")
    extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"fixture:$path"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FixtureScanBuilder(tableSchema, path,
      Option(options.get("mode")).getOrElse(mode))
}

class FixtureScanBuilder(fullSchema: StructType, path: String,
                         mode: String = "FAILFAST")
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept atomic comparisons on top-level fields; everything else is
    * returned as residual for Spark to evaluate post-scan.
    *
    * In quarantine modes (PERMISSIVE/DROPMALFORMED) EVERY filter is also
    * returned as residual: pushed predicates cannot be evaluated on an
    * unparseable line, so a quarantined row would otherwise flow into a
    * query whose predicate it violates. The scan still pre-filters good
    * rows with `pushed` (cheap row skipping); Spark merely re-checks —
    * under which a quarantined all-null row evaluates the predicate to
    * null and drops, the same contract as Spark's own PERMISSIVE JSON
    * source (corrupt rows surface only in unfiltered reads). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition {
      case EqualTo(a, _)            => atomic(a)
      case GreaterThan(a, _)        => atomic(a)
      case GreaterThanOrEqual(a, _) => atomic(a)
      case LessThan(a, _)           => atomic(a)
      case LessThanOrEqual(a, _)    => atomic(a)
      case IsNotNull(a)             => atomic(a)
      case _                        => false
    }
    pushed = sup
    if (mode.toUpperCase == "FAILFAST") residual else filters
  }

  /** Only types whose JSON text form compares faithfully are pushed.
    * Timestamp/Date/Decimal filter values stringify differently from
    * their JSON representation (e.g. java.sql.Timestamp.toString vs
    * ISO-8601), so those predicates stay residual and Spark evaluates
    * them on the materialized row — correct, just not pushed. Float is
    * excluded too: a Float filter value widened to double
    * (0.3f → 0.30000001192…) never equals the JSON-parsed double 0.3,
    * and a pushed-then-removed filter has no residual re-check — rows
    * would be silently dropped. */
  private def atomic(name: String): Boolean =
    fullSchema.fields.exists(f => f.name == name && (f.dataType match {
      case StringType | BooleanType | IntegerType | LongType |
           DoubleType => true
      case _ => false
    }))

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    FixtureScan(fullSchema, required, path, pushed, mode)
}

case class FixtureScan(fullSchema: StructType, required: StructType,
                       path: String, pushed: Array[Filter],
                       mode: String = "FAILFAST")
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"FixtureJsonScan path=$path, PushedFilters=[${pushed.mkString(", ")}], " +
      s"ReadSchema=${required.catalogString}"
  private def files: Array[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().filter(_.isFile).map(_.getPath).sorted
    else Array(path)
  }
  override def planInputPartitions(): Array[InputPartition] =
    files.map(FixtureInputPartition(_): InputPartition)
  /** Real on-disk bytes — without this a DSv2 scan reports
    * spark.sql.defaultSizeInBytes (≈ Long.MaxValue), which disables
    * size-based planning (Parallelize.forCompute's small-scan guard,
    * broadcast-join selection) for exactly this source. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(p => new java.io.File(p).length()).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    FixtureReaderFactory(required, pushed, mode)
}

case class FixtureInputPartition(file: String) extends InputPartition

case class FixtureReaderFactory(required: StructType, pushed: Array[Filter],
                                mode: String = "FAILFAST")
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FixtureReader(partition.asInstanceOf[FixtureInputPartition].file,
                      required, pushed, mode)
}

/** Per-partition JSONL reader over a local file. A missing/unreadable
  * file follows the same mode policy as any other transport failure. */
class FixtureReader(file: String, required: StructType,
                    pushed: Array[Filter], mode: String = "FAILFAST")
    extends JsonLinesReader(required, pushed, mode) {
  private var source: Option[scala.io.Source] = None
  override protected val lines: Iterator[String] =
    try {
      val s = scala.io.Source.fromFile(file, "UTF-8")
      source = Some(s)
      s.getLines()
    } catch { case e: Exception => setupError = Some(e); Iterator.empty }
  override protected def sourceId: String = s"file=$file"
  override def close(): Unit = source.foreach(_.close())
}

/** Shared per-partition quarantine plane: streams records of type `R`
  * from any transport (JSONL lines, decoded RPC returns) and applies
  * the mode policy (see [[FixtureTable]]) to every record that fails to
  * decode and to every transport failure. */
abstract class RecordReader[R](required: StructType, mode: String)
    extends PartitionReader[InternalRow] {

  /** Called once, on the first `next()`. */
  protected def records: Iterator[R]

  /** The record's row when it passes the pushed filters, None when a
    * pushed filter drops it; throws when the record is malformed. */
  protected def decode(record: R): Option[InternalRow]

  /** The record's text for the `_corrupt_record` column. */
  protected def raw(record: R): String

  /** Partition identity ("file=…", "url=…") for quarantine rows, so a
    * failed stream can be traced back to its source. */
  protected def sourceId: String = ""

  /** Set by subclasses whose transport fails during SETUP (file open,
    * HTTP connect) — handled through the same mode policy on the first
    * `next()` call. */
  protected var setupError: Option[Exception] = None

  protected var current: InternalRow = _
  private var streamFailed = false
  private lazy val stream = records

  private val corruptOrdinal: Int =
    required.fieldNames.indexOf("_corrupt_record")

  /** Quarantined row: all-null except the raw record (or error
    * rendering) in _corrupt_record when the schema declares it. Spark
    * re-checks every user predicate on these rows (see pushFilters), so
    * they surface only in unfiltered reads — same contract as Spark's
    * own PERMISSIVE JSON source. */
  protected def corruptRow(text: String): InternalRow = {
    val values = new Array[Any](required.length)
    if (corruptOrdinal >= 0) values(corruptOrdinal) = UTF8String.fromString(text)
    new GenericInternalRow(values)
  }

  /** Transport failure (setup or mid-stream) under the mode policy.
    * Terminal: the reader yields nothing further afterwards. */
  private def failStream(stage: String, e: Exception): Boolean = {
    streamFailed = true
    mode.toUpperCase match {
      case "PERMISSIVE" =>
        current = corruptRow(s"!$stage-failed $sourceId error=$e"); true
      case "DROPMALFORMED" =>
        System.err.println(s"[graft-source] dropping $stage-failed $sourceId: $e")
        false
      case _ => throw e
    }
  }

  override def next(): Boolean = {
    if (streamFailed) return false
    setupError match {
      case Some(e) => return failStream("setup", e)
      case None => ()
    }
    while (true) {
      // the transport iterator itself can fail mid-stream (lazy HTTP
      // body, truncated file): that failure follows the same mode
      // policy as a decode failure, and the reader then terminates (the
      // iterator is not resumable after a transport error)
      val record =
        try { if (!stream.hasNext) return false; stream.next() }
        catch { case e: Exception => return failStream("stream", e) }
      try {
        decode(record) match {
          case Some(row) => current = row; return true
          case None => ()
        }
      } catch {
        case e: Exception => mode.toUpperCase match {
          case "PERMISSIVE"    => current = corruptRow(raw(record)); return true
          case "DROPMALFORMED" => () // skip the poisoned record
          case _               => throw e
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** JSONL decode over the shared plane: evaluates pushed filters on the
  * parsed tree and materializes only required columns. */
abstract class JsonLinesReader(required: StructType,
                               pushed: Array[Filter], mode: String)
    extends RecordReader[String](required, mode) {
  import JsonLinesReader._

  protected val lines: Iterator[String]

  override protected def records: Iterator[String] =
    lines.map(_.trim).filter(_.nonEmpty)

  private val mapper = new ObjectMapper()

  override protected def raw(line: String): String = line

  override protected def decode(line: String): Option[InternalRow] = {
    val node = mapper.readTree(line)
    if (node == null || !node.isObject)
      throw new IllegalArgumentException(s"not a JSON object: $line")
    val field = (name: String) => fieldValue(node, name)
    if (pushed.forall(matches(field, _))) Some(convertStruct(node, required))
    else None
  }
}

object JsonLinesReader {

  private def fieldValue(node: JsonNode, name: String): Option[JsonNode] =
    Option(node.get(name)).filterNot(_.isNull)

  /** A pushed filter evaluated on a record's JSON field values
    * (`field` = name → non-null value, None when absent or null). */
  private[sources] def matches(field: String => Option[JsonNode], f: Filter): Boolean = f match {
    case IsNotNull(a)             => field(a).isDefined
    case EqualTo(a, v)            => cmp(field(a), v).contains(0)
    case GreaterThan(a, v)        => cmp(field(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(field(a), v).exists(_ >= 0)
    case LessThan(a, v)           => cmp(field(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(field(a), v).exists(_ <= 0)
    case _                        => true
  }

  private def cmp(value: Option[JsonNode], v: Any): Option[Int] =
    value.map { n =>
      v match {
        // UTF8String comparison = UTF-8 byte order, matching Spark's own
        // string ordering (java String.compareTo is UTF-16 code-unit
        // order, which diverges for supplementary-plane characters)
        case s: String              =>
          UTF8String.fromString(n.asText).compareTo(UTF8String.fromString(s))
        case b: java.lang.Boolean   => java.lang.Boolean.compare(n.asBoolean, b)
        // integral types compare as longs — a double round-trip loses
        // precision above 2^53 (e.g. block numbers, raw token amounts)
        case i: java.lang.Integer   => java.lang.Long.compare(n.asLong, i.longValue)
        case l: java.lang.Long      => java.lang.Long.compare(n.asLong, l.longValue)
        case num: Number            => java.lang.Double.compare(n.asDouble, num.doubleValue)
        case other                  => n.asText.compareTo(other.toString)
      }
    }

  private def convertStruct(node: JsonNode, schema: StructType): InternalRow = {
    val values = schema.fields.map { f =>
      fieldValue(node, f.name).map(convert(_, f.dataType)).orNull
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private[sources] def convert(n: JsonNode, dt: DataType): Any = dt match {
    case StringType      => UTF8String.fromString(if (n.isTextual) n.asText else n.toString)
    case LongType        => n.asLong
    case IntegerType     => n.asInt
    case DoubleType      => n.asDouble
    case FloatType       => n.asDouble.toFloat
    case BooleanType     => n.asBoolean
    case d: DecimalType  =>
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(n.asText), d.precision, d.scale)
    case TimestampType   =>
      // ISO / 'yyyy-MM-dd HH:mm:ss' strings, interpreted as UTC
      val ts = java.sql.Timestamp.valueOf(n.asText.replace("T", " ").stripSuffix("Z"))
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)
    case st: StructType  => convertStruct(n, st)
    case ArrayType(et, _) =>
      val arr = (0 until n.size()).map(i => convert(n.get(i), et)).toArray
      new GenericArrayData(arr)
    case other => throw new UnsupportedOperationException(s"type $other")
  }
}
