package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{BigIntegerNode, LongNode, TextNode}
import graft.functions.Keccak256
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.math.BigInteger
import java.util

/** JSON-RPC twin of [[HttpJsonSource]] — the live form of the
  * reference's on-chain extract (SURVEY.md §2.1 S7): `eth_call` of
  * `getBinsReserveOf(pair, user, activeBinId, idsPlus, idsMinus)`
  * (main.py:203-219, helperContractABI.json:190-263), which the
  * reference issues one blocking driver-side call per task.
  *
  * This source instead:
  *  - encodes each task's calldata with the public Solidity ABI rules
  *    (4-byte Keccak-256 selector + five 32-byte words — all arguments
  *    static), using the repo's own [[Keccak256]];
  *  - BATCHES `batchSize` calls into one JSON-RPC 2.0 batch POST, one
  *    batch per input partition, so a 10⁵-task sweep issues 10⁵/batch
  *    requests spread across the cluster's executors instead of 10⁵
  *    sequential driver round-trips;
  *  - decodes the response array by matching each entry's `id` back to
  *    its task and ABI-decodes the `(uint24, PopulatedBinUser[])` return
  *    into one row per populated bin, built directly from the decoded
  *    words (no JSON text in between);
  *  - keeps the pushdown/prune/quarantine contract of every other
  *    connector: pushed filters use the JSON plane's comparison rules
  *    ([[JsonLinesReader.matches]]), only required columns are built,
  *    and a per-item RPC error or an undecodable result becomes a
  *    quarantinable record of the shared [[RecordReader]] plane under
  *    the standard PERMISSIVE/DROPMALFORMED/FAILFAST policy — the
  *    reference's don't-kill-the-sweep semantics (main.py:13-17),
  *    item-granular.
  *
  * Output schema: [[graft.model.Schemas.binReserves]] (user_address,
  * poolAddress, binId, reserveX, reserveY, shares, totalShares) —
  * exactly the bins input of [[graft.pipeline.Snapshot]].
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.RpcBinsSource")
  *     .option("endpoint", "https://node/ext/bc/C/rpc")
  *     .option("contract", "0xA5c6...")
  *     .option("tasks", "pair,user,8388608,1000,1000;pair2,user2,...")
  *     .option("batchSize", "64")
  *     .option("mode", "PERMISSIVE")
  *     .load()
  * }}}
  *
  * The POST transport shares [[HttpTransport]]'s seam pattern via
  * [[RpcTransport.setOverride]] (zero-egress environment: specs inject
  * fixture RPC payloads; the default JDK client path is exercised for
  * request construction only).
  */
class RpcBinsSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.model.Schemas.binReserves

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    RpcBinsTable(schema,
      Option(properties.get("endpoint")).getOrElse(""),
      Option(properties.get("contract")).getOrElse(""),
      Option(properties.get("tasks")).getOrElse(""),
      Option(properties.get("batchSize")).map(_.toInt).getOrElse(64),
      Option(properties.get("mode")).getOrElse("FAILFAST"))

  override def supportsExternalMetadata(): Boolean = true
}

/** POST transport seam: (endpoint, body) → response body. */
object RpcTransport {
  type Post = (String, String) => String

  @volatile private var overridePost: Option[Post] = None

  def setOverride(f: Post): Unit = overridePost = Some(f)
  def clearOverride(): Unit = overridePost = None

  def post(endpoint: String, body: String): String =
    overridePost.getOrElse(default)(endpoint, body)

  /** One JDK client for every POST: one selector thread, pooled
    * connections. Built on first use. */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  val default: Post = (endpoint, body) => {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .timeout(java.time.Duration.ofMinutes(5))
      .header("content-type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $endpoint")
    resp.body()
  }
}

/** One on-chain task = the reference's per-(user, pool) call args. */
case class RpcBinsTask(pair: String, user: String, activeBinId: Long,
                       idsPlus: Long, idsMinus: Long)

/** Public-ABI encode/decode for getBinsReserveOf — static args, so the
  * calldata is head-only; the return is (uint24, tuple[]) where the
  * dynamic tuple[] sits at its head offset as len + len×5 words. */
object BinsAbi {
  /** keccak256("getBinsReserveOf(address,address,uint24,uint24,uint24)")[0:4] */
  val selector: String = {
    val sig = "getBinsReserveOf(address,address,uint24,uint24,uint24)"
    Keccak256.hash(sig.getBytes("ASCII")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def word(v: BigInteger): String = {
    val hex = v.toString(16)
    "0" * (64 - hex.length) + hex
  }
  /** Real addresses are hex; offline fixture ids ("P1") encode as their
    * right-aligned ASCII bytes, so fixtures need not fabricate 20-byte
    * addresses. */
  private def addressWord(a: String): String = {
    val s = a.stripPrefix("0x")
    val v = if (s.nonEmpty && s.forall(c => Character.digit(c, 16) >= 0))
      new BigInteger(s, 16)
    else new BigInteger(1, a.getBytes("UTF-8"))
    word(v)
  }

  def encodeCall(t: RpcBinsTask): String =
    "0x" + selector + addressWord(t.pair) + addressWord(t.user) +
      word(BigInteger.valueOf(t.activeBinId)) +
      word(BigInteger.valueOf(t.idsPlus)) + word(BigInteger.valueOf(t.idsMinus))

  /** Fixture/inverse helper: render (activeId, bins) as the ABI return
    * hex — used by specs and canned nodes to fabricate node responses
    * without a live chain. */
  def encodeResult(activeId: Long,
                   bins: Seq[(Long, BigInteger, BigInteger, BigInteger, BigInteger)]): String =
    "0x" + word(BigInteger.valueOf(activeId)) + word(BigInteger.valueOf(64)) +
      word(BigInteger.valueOf(bins.length.toLong)) +
      bins.map { case (id, rx, ry, sh, tot) =>
        word(BigInteger.valueOf(id)) + word(rx) + word(ry) + word(sh) + word(tot)
      }.mkString

  /** Decode the hex return into (binId, reserveX, reserveY, shares,
    * totalShares) tuples. Layout: word0 = uint24 activeId, word1 =
    * byte offset of the tuple[]; at the offset: length, then length
    * static 5-word tuples. */
  def decodeBins(resultHex: String): Seq[(Long, BigInteger, BigInteger, BigInteger, BigInteger)] = {
    def big(v: Any): BigInteger = v match {
      case l: Long => BigInteger.valueOf(l)
      case b: BigInteger => b
    }
    decode(resultHex)((id, rx, ry, sh, tot) => (id, big(rx), big(ry), big(sh), big(tot)))
  }

  /** [[decodeBins]]' walk, handing each bin to `bin` as its Long binId
    * and its four uint words, each a Long when it fits one (parsed in
    * place, no substring) and a BigInteger otherwise. Malformed input
    * fails with the same exceptions either way. */
  def decode[A](resultHex: String)(bin: (Long, Any, Any, Any, Any) => A): IndexedSeq[A] = {
    val h = resultHex.stripPrefix("0x")
    require(h.length >= 128 && h.length % 64 == 0,
      s"malformed getBinsReserveOf return (${h.length} hex chars)")
    def big(i: Int): BigInteger = new BigInteger(h.substring(i * 64, i * 64 + 64), 16)
    // a word whose first 49 hex digits are '0' is below 2^60; anything
    // else, malformed digits included, takes the BigInteger path
    def small(i: Int): Long = {
      val from = i * 64
      var z = from
      while (z < from + 49 && h.charAt(z) == '0') z += 1
      if (z < from + 49 || Character.digit(h.charAt(z), 16) < 0) -1L
      else try java.lang.Long.parseLong(h, z, from + 64, 16)
           catch { case _: NumberFormatException => -1L }
    }
    def word(i: Int): Any = small(i) match {
      case -1L => big(i)
      case v => v
    }
    def long(i: Int): Long = small(i) match {
      case -1L => big(i).longValueExact()
      case v => v
    }
    val off = big(1).intValueExact() / 32 // byte offset → word index
    val len = big(off).intValueExact()
    (0 until len).map { i =>
      val b = off + 1 + i * 5
      bin(long(b), word(b + 1), word(b + 2), word(b + 3), word(b + 4))
    }
  }
}

case class RpcBinsTable(tableSchema: StructType, endpoint: String,
                        contract: String, tasks: String, batchSize: Int,
                        mode: String)
    extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"rpc:$endpoint"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RpcBinsScanBuilder(tableSchema,
      Option(options.get("endpoint")).filter(_.nonEmpty).getOrElse(endpoint),
      Option(options.get("contract")).filter(_.nonEmpty).getOrElse(contract),
      Option(options.get("tasks")).filter(_.nonEmpty).getOrElse(tasks),
      Option(options.get("batchSize")).map(_.toInt).getOrElse(batchSize),
      Option(options.get("mode")).getOrElse(mode))
}

/** Same pushdown surface as the other connectors (column prune shrinks
  * the decode; pushed predicates drop rows pre-materialization). */
class RpcBinsScanBuilder(fullSchema: StructType, endpoint: String,
                         contract: String, tasks: String, batchSize: Int,
                         mode: String)
    extends FixtureScanBuilder(fullSchema, endpoint, mode) {
  override def build(): Scan = {
    val f = super.build().asInstanceOf[FixtureScan]
    RpcBinsScan(f.fullSchema, f.required, endpoint, contract, tasks,
                batchSize, f.pushed, mode)
  }
}

case class RpcBinsScan(fullSchema: StructType, required: StructType,
                       endpoint: String, contract: String, tasks: String,
                       batchSize: Int, pushed: Array[Filter], mode: String)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"RpcBinsScan endpoint=$endpoint, PushedFilters=[${pushed.mkString(", ")}], " +
      s"ReadSchema=${required.catalogString}"

  /** tasks = ";"-separated "pair,user,activeBinId,idsPlus,idsMinus";
    * one partition per `batchSize` tasks = one JSON-RPC batch POST. */
  override def planInputPartitions(): Array[InputPartition] = {
    require(batchSize > 0, s"batchSize=$batchSize must be positive")
    val parsed = tasks.split(";").map(_.trim).filter(_.nonEmpty).map { t =>
      t.split(",").map(_.trim) match {
        case Array(pair, user, bin, plus, minus) =>
          RpcBinsTask(pair, user, bin.toLong, plus.toLong, minus.toLong)
        case other => throw new IllegalArgumentException(
          s"task '$t': expected pair,user,activeBinId,idsPlus,idsMinus")
      }
    }
    parsed.grouped(batchSize)
      .map(b => RpcBinsPartition(b.toSeq): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    RpcBinsReaderFactory(required, endpoint, contract, pushed, mode)
}

case class RpcBinsPartition(tasks: Seq[RpcBinsTask]) extends InputPartition

case class RpcBinsReaderFactory(required: StructType, endpoint: String,
                                contract: String, pushed: Array[Filter],
                                mode: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RpcBinsReader(partition.asInstanceOf[RpcBinsPartition].tasks,
                      endpoint, contract, required, pushed, mode)
}

/** Per-partition reader: ONE batched POST for the partition's tasks,
  * envelope + ABI decode, then each bin built straight into an
  * [[InternalRow]] of the required columns. Pushed filters are checked
  * on the decoded values with the JSON plane's comparison rules before
  * the row is built. A per-item RPC error (or undecodable result) is a
  * record tagged with its task, which the shared [[RecordReader]] plane
  * quarantines under the mode policy — item-granular, the rest of the
  * batch survives. */
class RpcBinsReader(tasks: Seq[RpcBinsTask], endpoint: String,
                    contract: String, required: StructType,
                    pushed: Array[Filter], mode: String)
    extends RecordReader[Either[String, RpcBinsReader.Bin]](required, mode) {
  import RpcBinsReader._

  override protected def sourceId: String = s"endpoint=$endpoint"

  private val mapper = new ObjectMapper()

  /** Position of each required column among [[Fields]], -1 when the
    * ABI return carries no such field (e.g. `_corrupt_record`). */
  private val slots = required.fieldNames.map(Fields.indexOf(_))

  override protected val records: Iterator[Either[String, Bin]] =
    try {
      val body = tasks.zipWithIndex.map { case (t, i) =>
        s"""{"jsonrpc":"2.0","id":$i,"method":"eth_call","params":[{"to":${mapper.writeValueAsString(contract)},"data":"${BinsAbi.encodeCall(t)}"},"latest"]}"""
      }.mkString("[", ",", "]")
      val resp = mapper.readTree(RpcTransport.post(endpoint, body))
      require(resp.isArray, s"JSON-RPC batch response must be an array, got: $resp")
      import scala.jdk.CollectionConverters._
      // match responses to tasks by id (servers may reorder batches)
      val byId = resp.elements().asScala.map(e => e.get("id").asLong() -> e).toMap
      tasks.zipWithIndex.iterator.flatMap { case (t, i) =>
        byId.get(i.toLong) match {
          case None =>
            Iterator(Left(s"!rpc-missing id=$i pair=${t.pair} user=${t.user}"))
          case Some(e) if e.has("error") && !e.get("error").isNull =>
            Iterator(Left(s"!rpc-error id=$i pair=${t.pair} user=${t.user} error=${e.get("error")}"))
          case Some(e) =>
            try BinsAbi.decode(e.get("result").asText()) { (bin, rx, ry, sh, tot) =>
              Right(Array[Any](t.user, t.pair, bin, rx, ry, sh, tot)): Either[String, Bin]
            }.iterator catch {
              case ex: Exception =>
                Iterator(Left(s"!rpc-decode-failed id=$i pair=${t.pair} user=${t.user} error=$ex"))
            }
        }
      }
    } catch { case e: Exception => setupError = Some(e); Iterator.empty }

  override protected def decode(record: Either[String, Bin]): Option[InternalRow] =
    record match {
      case Left(failure) => throw new IllegalStateException(failure)
      case Right(bin) =>
        val field = (name: String) => Fields.indexOf(name) match {
          case -1 => None
          case k => Some(node(bin(k)))
        }
        if (!pushed.forall(JsonLinesReader.matches(field, _))) None
        else {
          val values = new Array[Any](slots.length)
          var i = 0
          while (i < slots.length) {
            if (slots(i) >= 0) values(i) = cell(bin(slots(i)), required.fields(i).dataType)
            i += 1
          }
          Some(new GenericInternalRow(values))
        }
    }

  /** A bin as the JSON line it would be served as — the quarantine text
    * when one of its values does not fit its column (e.g. a reserve
    * beyond the declared decimal precision). */
  override protected def raw(record: Either[String, Bin]): String = record match {
    case Left(failure) => failure
    case Right(bin) => Fields.indices.map { k =>
      val v = bin(k) match {
        case s: String => mapper.writeValueAsString(s)
        case other => other.toString
      }
      s""""${Fields(k)}":$v"""
    }.mkString("{", ",", "}")
  }
}

object RpcBinsReader {
  /** One decoded bin, in [[Fields]] order: user, pair (String), binId
    * (Long), then the four uint words (Long when the word fits one,
    * else BigInteger). */
  type Bin = Array[Any]

  private val Fields: IndexedSeq[String] =
    graft.model.Schemas.binReserves.fieldNames.toIndexedSeq

  private def node(v: Any): JsonNode = v match {
    case s: String => TextNode.valueOf(s)
    case l: Long => LongNode.valueOf(l)
    case b: BigInteger => BigIntegerNode.valueOf(b)
  }

  /** The schema's own column types are built directly; a caller-declared
    * other type converts as the JSON plane would convert the value. */
  private def cell(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: String, StringType) => UTF8String.fromString(s)
    case (l: Long, LongType) => l
    case (l: Long, d: DecimalType) =>
      val dec = Decimal(l)
      if (dec.changePrecision(d.precision, d.scale)) dec
      else Decimal(java.math.BigDecimal.valueOf(l), d.precision, d.scale) // fails as a BigInteger would
    case (b: BigInteger, d: DecimalType) =>
      Decimal(new java.math.BigDecimal(b), d.precision, d.scale)
    case _ => JsonLinesReader.convert(node(v), dt)
  }
}
