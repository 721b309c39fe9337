package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** Live form of the extract plane (SURVEY.md §2.1 S2–S7): the reference
  * loops HTTP GETs over (user, pool) tasks on the driver
  * (main.py:36-42) and eth_calls a contract per task (main.py:203-219).
  * This source issues those fetches FROM THE EXECUTORS — one URL per
  * input partition, so a 10⁵-endpoint sweep parallelizes across the
  * cluster instead of serializing on the driver — and decodes the JSONL
  * bodies through the exact same pushdown/prune/quarantine plane as
  * [[FixtureJsonSource]] ([[JsonLinesReader]]).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.HttpJsonSource")
  *     .option("payload", "userHistory")        // or explicit .schema(...)
  *     .option("urls", "https://api/...,https://api/...")  // 1 URL = 1 partition
  *     .option("mode", "PERMISSIVE")            // quarantine bad payloads
  *     .load()
  * }}}
  *
  * The transport is pluggable via [[HttpTransport.setOverride]] (specs
  * inject canned responses; this environment is zero-egress, so the
  * default JDK `java.net.http` path is exercised only for its request
  * construction). Per-URL fetch failures follow the same mode policy as
  * parse failures: PERMISSIVE quarantines the whole partition's fetch
  * error as one corrupt row, preserving the reference's
  * don't-kill-the-sweep semantics (main.py:13-17,357-358).
  */
class HttpJsonSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixtureJsonSource.payloadSchema(options.get("payload"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    HttpTable(schema,
      Option(properties.get("urls")).getOrElse(""),
      Option(properties.get("mode")).getOrElse("FAILFAST"),
      Option(properties.get("urlDelimiter")).getOrElse(","),
      Option(properties.get("headers")).getOrElse(""))

  override def supportsExternalMetadata(): Boolean = true
}

/** Transport seam: a URL → JSONL-lines function. The default is the
  * JDK HTTP client; tests (and exotic transports like an RPC batcher)
  * install an override. Executor-side in local mode; a cluster
  * deployment would ship configuration through the scan options
  * instead of this process-local registry (documented swap point). */
object HttpTransport {
  type Fetch = String => Iterator[String]

  @volatile private var overrideFetch: Option[Fetch] = None

  def setOverride(f: Fetch): Unit = overrideFetch = Some(f)
  def clearOverride(): Unit = overrideFetch = None

  def fetch(url: String): Iterator[String] = fetch(url, Nil)

  /** `headers` come from the scan's `headers` option (the reference
    * sends its API key as `x-traderjoe-api-key`, main.py:22); the
    * override seam stays URL-only — canned fixtures don't authenticate. */
  def fetch(url: String, headers: Seq[(String, String)]): Iterator[String] =
    overrideFetch.map(_(url)).getOrElse(default(url, headers))

  /** One JDK client for every GET: one selector thread, pooled
    * connections. Built on first use. */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  /** JDK java.net.http GET, body split into lines. */
  def default(url: String, headers: Seq[(String, String)]): Iterator[String] = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMinutes(5))
      .header("accept", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofLines())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    import scala.jdk.CollectionConverters._
    resp.body().iterator().asScala
  }

  /** "Name: value; Name2: value2" → pairs (the `headers` option wire
    * format — ';' and ':' are illegal in header NAMES per RFC 9110, so
    * no escaping is needed; values keep any ':' after the first). */
  def parseHeaders(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { h =>
      val i = h.indexOf(':')
      require(i > 0, s"header '$h': expected 'Name: value'")
      (h.substring(0, i).trim, h.substring(i + 1).trim)
    }
}

/** `delimiter` separates the `urls` option (default ","). URLs whose
  * query strings legitimately contain the delimiter need a different
  * one, e.g. `.option("urlDelimiter", "|")` — there is no escaping. */
case class HttpTable(tableSchema: StructType, urls: String, mode: String,
                     delimiter: String = ",", headers: String = "")
    extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String =
    s"http:${urls.split(java.util.regex.Pattern.quote(delimiter)).headOption.getOrElse("")}…"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(tableSchema,
      Option(options.get("urls")).filter(_.nonEmpty).getOrElse(urls),
      Option(options.get("mode")).getOrElse(mode),
      Option(options.get("urlDelimiter")).getOrElse(delimiter),
      Option(options.get("headers")).getOrElse(headers))
}

/** Same pushdown surface as the fixture source: pruned columns shrink
  * the decode, pushed predicates (the reference's startTime/endTime
  * window params, F4) drop rows before materialization. */
class HttpScanBuilder(fullSchema: StructType, urls: String, mode: String,
                      delimiter: String = ",", headers: String = "")
    extends FixtureScanBuilder(fullSchema, urls, mode) {
  override def build(): Scan = {
    val f = super.build().asInstanceOf[FixtureScan]
    HttpScan(f.fullSchema, f.required, urls, f.pushed, mode, delimiter, headers)
  }
}

case class HttpScan(fullSchema: StructType, required: StructType,
                    urls: String, pushed: Array[Filter], mode: String,
                    delimiter: String = ",", headers: String = "")
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"HttpJsonScan urls=$urls, PushedFilters=[${pushed.mkString(", ")}], " +
      s"ReadSchema=${required.catalogString}"
  override def planInputPartitions(): Array[InputPartition] =
    urls.split(java.util.regex.Pattern.quote(delimiter))
      .map(_.trim).filter(_.nonEmpty)
      .map(HttpInputPartition(_): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    HttpReaderFactory(required, pushed, mode, headers)
}

case class HttpInputPartition(url: String) extends InputPartition

case class HttpReaderFactory(required: StructType, pushed: Array[Filter],
                             mode: String, headers: String = "")
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new HttpReader(partition.asInstanceOf[HttpInputPartition].url,
                   required, pushed, mode, headers)
}

/** Per-partition reader: one HTTP fetch, then the shared JSONL decode
  * plane. Fetch failures (connect, non-2xx) and mid-stream body
  * failures both follow the shared [[JsonLinesReader]] transport
  * policy: FAILFAST rethrows the ORIGINAL exception, PERMISSIVE emits
  * exactly one quarantine row carrying the URL and error, DROPMALFORMED
  * logs the dropped URL (a whole partition's data loss is never fully
  * silent). */
class HttpReader(url: String, required: StructType,
                 pushed: Array[Filter], mode: String, headers: String = "")
    extends JsonLinesReader(required, pushed, mode) {
  override protected val lines: Iterator[String] =
    try HttpTransport.fetch(url, HttpTransport.parseHeaders(headers))
    catch { case e: Exception => setupError = Some(e); Iterator.empty }
  override protected def sourceId: String = s"url=$url"
  override def close(): Unit = ()
}
