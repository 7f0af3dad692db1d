package graft.sources

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.{Map => JMap, OptionalLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for JSON:API page envelopes — the
  * reference's paginated REST scan (S1-S4, outreach_etl.py:73-109,
  * 130-213) re-expressed as a Spark source.
  *
  * Two page sources:
  *  - `path`: a directory of page-envelope files (each page one
  *    `{data, meta, links}` JSON file) — one [[InputPartition]] per
  *    file, pages scan in parallel across executors.
  *  - `url`: live HTTP. The DRIVER fetches page 1 once (that also
  *    yields `meta.count`, outreach_etl.py:120, reported to the
  *    planner via [[SupportsReportStatistics]]), then:
  *      * if `links.next` is a page-number / offset cursor, the
  *        remaining page URLs are extrapolated from `meta.count` and
  *        fetched in PARALLEL — one partition per page;
  *      * if the cursor is opaque, a single partition walks the
  *        `links.next` chain sequentially (an opaque cursor is
  *        inherently sequential — the reference's loop at
  *        outreach_etl.py:141-155 is too).
  *    Requests carry `Authorization: Bearer` from [[JsonApiToken]] —
  *    an expiry-honoring token cache (the reference refetches the
  *    token on EVERY request because its `token_expires` global is
  *    never assigned, outreach_etl.py:53/70; here `expires_in` from
  *    the token response actually drives reuse) — and are retried a
  *    BOUNDED number of times with backoff (the reference's bare
  *    `while complete == None: try/except` retries forever on a
  *    permanent error, outreach_etl.py:141-149).
  *
  * Pushdown surface (mirrors what the reference pushes into the API
  * query string at outreach_etl.py:115-117):
  *  - filters on `attributes_updatedAt` (the `filter[updatedAt]=lo..hi`
  *    range — also serialized onto the HTTP query string) and on any
  *    flat column, evaluated inside the reader;
  *  - required-column pruning (only requested columns are converted);
  *  - limit pushdown (reader stops parsing early);
  *  - top-N pushdown (`sort=-updatedAt`, outreach_etl.py:115): each
  *    partition returns only its local top N (partial pushdown —
  *    Spark's TakeOrderedAndProject merges partitions).
  *
  * Records are flattened with the reference's underscore convention
  * (flatten_json, etl_tools.py:177-193) against the declared schema
  * from [[graft.schema.SchemaRegistry]] — list elements positionally
  * (`a_0`), nested dicts by path (`a_b`).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.JsonApiSource")
  *     .option("path", pagesDir).option("resource", "prospects").load()
  *   spark.read.format("graft.sources.JsonApiSource")
  *     .option("url", "http://host/api/prospects")
  *     .option("tokenUrl", "http://host/oauth/token")
  *     .option("clientId", id).option("clientSecret", sec)
  *     .option("refreshToken", tok)
  *     .option("resource", "prospects").load()
  * }}}
  */
class JsonApiSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonApiSource.tableSchema(options.get("resource"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new JsonApiTable(schema, JsonApiOptions.fromMap(properties.asScala.toMap))

  override def supportsExternalMetadata(): Boolean = true
}

object JsonApiSource {
  /** Declared flat schema minus the reference's ingest drops
    * (outreach_etl.py:105-107).
    */
  def tableSchema(resource: String): StructType = {
    require(resource != null, "option 'resource' is required")
    val full = graft.schema.SchemaRegistry.schemaFor(resource)
    val drops = graft.schema.SchemaRegistry.ingestDrops(resource).toSet
    StructType(full.fields.filterNot(f => drops(f.name)))
  }
}

/** All reader options, serializable so executors can re-create HTTP
  * clients/token state from it.
  */
case class JsonApiOptions(path: Option[String], url: Option[String],
                          tokenUrl: Option[String], clientId: String,
                          clientSecret: String, refreshToken: String,
                          pageLimit: Int, maxRetries: Int) {
  require(path.isDefined || url.isDefined,
    "one of options 'path' (page files) or 'url' (live HTTP) is required")
}

object JsonApiOptions {
  def fromMap(m: Map[String, String]): JsonApiOptions = {
    val lower = m.map { case (k, v) => k.toLowerCase -> v }
    JsonApiOptions(
      path = lower.get("path"),
      url = lower.get("url"),
      tokenUrl = lower.get("tokenurl"),
      clientId = lower.getOrElse("clientid", ""),
      clientSecret = lower.getOrElse("clientsecret", ""),
      refreshToken = lower.getOrElse("refreshtoken", ""),
      pageLimit = lower.getOrElse("pagelimit", "100").toInt,
      maxRetries = lower.getOrElse("maxretries", "3").toInt)
  }
}

/** Bounded-retry HTTP GET/POST over `java.net.HttpURLConnection` (no
  * external client dependency). 5xx and connection errors retry with
  * linear backoff up to `maxRetries` total attempts, then throw —
  * never the reference's unbounded retry loop. 4xx fail immediately
  * (retrying an auth/param error is useless).
  */
object JsonApiHttp {
  def get(url: String, headers: Map[String, String], maxRetries: Int): String =
    withRetry(url, maxRetries) {
      val conn = parseUrl(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod("GET")
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        readResponse(conn)
      } finally conn.disconnect()
    }

  def post(url: String, headers: Map[String, String], maxRetries: Int,
           body: Option[String] = None): String =
    withRetry(url, maxRetries) {
      val conn = parseUrl(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod("POST")
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        conn.setDoOutput(true)
        val out = conn.getOutputStream
        try body.foreach(b =>
          out.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        finally out.close()
        readResponse(conn)
      } finally conn.disconnect()
    }

  /** Retryable server/connection failure; `delayMs` > 0 carries a
    * server-requested pause (429 Retry-After, capped at 30 s).
    */
  final class Retryable(msg: String, val delayMs: Long = 0L)
      extends RuntimeException(msg)

  /** Deliberate 4xx response — a definitive server answer, never
    * retried (distinct from the transient I/O failures withRetry
    * absorbs).
    */
  final class ClientError(msg: String) extends java.io.IOException(msg)

  /** URI.create/toURL embed the FULL raw URL (query string included)
    * in their exception messages — exactly what `scrub` exists to keep
    * out of logs — so malformed URLs are re-thrown scrubbed. A URL
    * that doesn't parse never improves with retries → ClientError.
    */
  private def parseUrl(url: String): java.net.URL =
    try java.net.URI.create(url).toURL
    catch {
      case e @ (_: IllegalArgumentException | _: java.net.MalformedURLException) =>
        throw new ClientError(
          s"malformed URL ${scrub(url)} (${e.getClass.getSimpleName})")
    }

  /** Query strings can carry credentials (tokens, signed params);
    * exception messages keep only scheme/host/path.
    */
  private def scrub(url: Any): String = {
    val s = String.valueOf(url)
    val i = s.indexOf('?')
    if (i < 0) s else s.substring(0, i)
  }

  private def readResponse(conn: java.net.HttpURLConnection): String = {
    val code = conn.getResponseCode
    if (code == 429) {
      // rate limited: honor Retry-After (seconds) within a sane cap —
      // the realistic steady state of a paginated API sync
      val after = Option(conn.getHeaderField("Retry-After"))
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .getOrElse(1L)
      throw new Retryable(s"HTTP 429 from ${scrub(conn.getURL)}",
        math.min(math.max(after, 0L), 30L) * 1000L)
    }
    if (code >= 500)
      throw new Retryable(s"HTTP $code from ${scrub(conn.getURL)}")
    if (code >= 400)
      throw new ClientError(s"HTTP $code from ${scrub(conn.getURL)}")
    val in = conn.getInputStream
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def withRetry(url: String, maxRetries: Int)(body: => String): String = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < maxRetries) {
      attempt += 1
      try return body
      catch {
        // a 4xx is a definitive answer, not a transient fault
        case e: ClientError => throw e
        // everything else I/O-shaped is fair game for the bounded
        // retry: connect/read timeouts, connection resets
        // (SocketException), DNS blips (UnknownHostException),
        // premature EOF while streaming the response body
        case e @ (_: Retryable | _: java.io.IOException) =>
          lastErr = e
          if (attempt < maxRetries) {
            val serverDelay = e match {
              case r: Retryable => r.delayMs
              case _ => 0L
            }
            Thread.sleep(math.max(100L * attempt, serverDelay))
          }
      }
    }
    throw new java.io.IOException(
      s"request to ${scrub(url)} failed after $maxRetries attempts", lastErr)
  }
}

/** Per-JVM OAuth2 token cache keyed by (tokenUrl, clientId). The
  * refresh-token grant (reference get_access_token,
  * outreach_etl.py:55-72) is POSTed only when no token is cached or
  * the cached one is within `SafetyMarginMs` of the `expires_in`
  * deadline — fixing the reference bug where `token_expires` is
  * computed but never assigned to the global, so every request pays a
  * token round-trip.
  */
object JsonApiToken {
  private val SafetyMarginMs = 100 * 1000L
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, Long)]()
  // one lock PER key: token fetches block concurrent callers of the
  // same credential (that's the point) but never unrelated endpoints —
  // a global lock would hold head-of-line across network I/O
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Object]()

  def bearer(opts: JsonApiOptions): Map[String, String] =
    opts.tokenUrl match {
      case None => Map.empty
      case Some(turl) =>
        Map("Authorization" -> s"Bearer ${token(turl, opts)}",
          "Content-Type" -> "application/vnd.api+json")
    }

  private def token(turl: String, opts: JsonApiOptions): String = {
    val key = (turl, opts.clientId)
    val now = System.currentTimeMillis()
    val cached = cache.get(key)
    if (cached != null && now < cached._2 - SafetyMarginMs) cached._1
    // lock a SHARED per-key monitor (a fresh tuple would give no
    // mutual exclusion; a global lock would serialize unrelated keys
    // across network I/O)
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = cache.get(key)
      if (again != null && now < again._2 - SafetyMarginMs) again._1
      else {
        // RFC 6749 §4.1.3: the grant rides the form-encoded POST body,
        // never the URL — query strings end up in server access logs
        // and in exception messages
        val form = Seq(
          "client_id" -> opts.clientId,
          "client_secret" -> opts.clientSecret,
          "grant_type" -> "refresh_token",
          "refresh_token" -> opts.refreshToken)
          .map { case (k, v) => k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }
          .mkString("&")
        val body = JsonApiHttp.post(turl,
          Map("Content-Type" -> "application/x-www-form-urlencoded"),
          opts.maxRetries, Some(form))
        val json = new ObjectMapper().readTree(body)
        val tok = json.path("access_token").asText()
        val expiresIn = json.path("expires_in").asLong(7200L)
        cache.put(key, (tok, now + expiresIn * 1000L))
        tok
      }
    }
  }

  /** Test hook: drop all cached tokens. */
  def clear(): Unit = cache.clear()
}

class JsonApiTable(tableSchema: StructType, opts: JsonApiOptions)
    extends Table with SupportsRead {
  override def name(): String =
    s"jsonapi(${opts.path.orElse(opts.url).getOrElse("")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonApiScanBuilder(tableSchema, opts)
}

class JsonApiScanBuilder(fullSchema: StructType, opts: JsonApiOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = Int.MaxValue
  private var topN: Option[PushedTopN] = None
  private var countStar = false

  /** Partial COUNT(*) pushdown: each partition emits ONE partial-count
    * row instead of its records — the page envelopes are still fetched
    * (meta.count can be stale-low, so it is never trusted as the
    * answer; see planInputPartitions), but per-record flatten +
    * column conversion are skipped entirely, and a 207-column resource
    * ships 8 bytes per partition. Partial, not complete: Spark sums
    * the per-partition counts above the scan, which keeps the
    * semantics exact even with pushed filters (the reader evaluates
    * them itself). Grouped/column aggregates are declined — Spark
    * falls back to the regular scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val ok = agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      topN.isEmpty && limit == Int.MaxValue
    if (ok) countStar = true
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition(JsonApiFilters.supported)
    pushed = supported
    rest // Spark re-evaluates these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** Single flat-column orderings are pushed; each partition emits only
    * its local top N. Partial pushdown: Spark still merges with a
    * global TakeOrderedAndProject, so multi-partition order is safe.
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val ok = orders.length == 1 && (orders(0).expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        fullSchema.fieldNames.contains(nr.fieldNames()(0))
      case _ => false
    })
    if (ok) {
      val nr = orders(0).expression().asInstanceOf[NamedReference]
      topN = Some(PushedTopN(nr.fieldNames()(0),
        orders(0).direction() == SortDirection.DESCENDING,
        orders(0).nullOrdering() ==
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_LAST,
        l))
    }
    ok
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new JsonApiScan(opts, fullSchema, required, pushed, limit, topN,
      countStar)
}

/** Pushed per-partition top-N: order column, direction, null placement,
  * and N.
  */
case class PushedTopN(column: String, desc: Boolean, nullsLast: Boolean, n: Int)

class JsonApiScan(opts: JsonApiOptions, fullSchema: StructType,
                  required: StructType, filters: Array[Filter], limit: Int,
                  topN: Option[PushedTopN], countStar: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {
  // with COUNT(*) pushed, the scan's output is the single partial-count
  // column (Spark sums the partials above the scan)
  override def readSchema(): StructType =
    if (countStar) new StructType().add("count(*)", LongType, nullable = false)
    else required
  override def toBatch: Batch = this
  override def description(): String =
    s"jsonapi ${opts.path.orElse(opts.url).getOrElse("")} " +
      s"pushed=${filters.mkString(",")} limit=$limit " +
      topN.map(t => s"pushedTopN=${if (t.desc) "-" else ""}${t.column},${t.n}")
        .getOrElse("") +
      (if (countStar) " pushedAgg=count(*)" else "")

  /** The reference serializes the updatedAt range and sort onto the
    * API query string (outreach_etl.py:115-117); we rebuild that from
    * the PUSHED operators, so server-side filtering mirrors the plan.
    */
  private def queryString: String = {
    def str(v: Any): String = v match {
      case t: java.sql.Timestamp => t.toInstant.toString
      case other => other.toString
    }
    var lo: Option[String] = None
    var hi: Option[String] = None
    def walk(f: Filter): Unit = f match {
      case GreaterThan("attributes_updatedAt", v) => lo = Some(str(v))
      case GreaterThanOrEqual("attributes_updatedAt", v) => lo = Some(str(v))
      case LessThan("attributes_updatedAt", v) => hi = Some(str(v))
      case LessThanOrEqual("attributes_updatedAt", v) => hi = Some(str(v))
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    filters.foreach(walk)
    val parts = Seq("page[limit]" -> opts.pageLimit.toString) ++
      (if (lo.isDefined || hi.isDefined)
        Seq("filter[updatedAt]" -> s"${lo.getOrElse("")}..${hi.getOrElse("")}")
      else Nil) ++
      topN.collect { case t if t.column == "attributes_updatedAt" =>
        "sort" -> s"${if (t.desc) "-" else ""}updatedAt"
      }
    parts.map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
  }

  private def firstPageUrl: String =
    opts.url.get + (if (opts.url.get.contains("?")) "&" else "?") + queryString

  /** Driver-side page-1 fetch for HTTP mode (memoized — used by both
    * statistics and partition planning; its body is embedded in the
    * first partition so executors don't refetch it).
    */
  private lazy val firstPage: Option[(JsonNode, String)] = opts.url.map { _ =>
    val body = JsonApiHttp.get(firstPageUrl, JsonApiToken.bearer(opts),
      opts.maxRetries)
    (new ObjectMapper().readTree(body), body)
  }

  /** `meta.count` (outreach_etl.py:120/186) lets the planner size this
    * source for join-strategy choices (broadcast vs shuffle) and for
    * [[graft.plans.CoalesceSinglePartitionScan]]. A record is sized by
    * page 1's JSON text per record, at least the schema's default row
    * width: the text spells out every key and quotes every value, so it
    * is usually larger than the record's shuffled form and the estimate
    * errs high. File mode reads the first page file; HTTP mode reuses the
    * page-1 fetch. In HTTP mode a count no larger than page 1 while
    * page 1 has a `links.next` is known to be stale (the chain is
    * walked past it), and the size is reported as unknown.
    */
  override def estimateStatistics(): Statistics = {
    val page: Option[(JsonNode, Long)] = opts.url match {
      case Some(_) =>
        firstPage.map { case (root, body) =>
          (root, body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
        }
      case None =>
        pageFiles.headOption.map(f => (new ObjectMapper().readTree(f), f.length))
    }
    val sized: Option[(Long, Long)] = page.flatMap { case (root, bytes) =>
      val count = root.path("meta").path("count").asLong(-1L)
      val records = root.path("data").size().toLong
      val stale = opts.url.isDefined &&
        root.path("links").path("next").isTextual && count <= records
      if (count < 0L || stale) None
      else Some((count, (bytes / records.max(1L)).max(fullSchema.defaultSize.toLong)))
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        sized.map { case (c, w) => OptionalLong.of(c * w) }
          .getOrElse(OptionalLong.empty())
      override def numRows(): OptionalLong =
        sized.map { case (c, _) => OptionalLong.of(c) }
          .getOrElse(OptionalLong.empty())
    }
  }

  private def pageFiles: Array[java.io.File] = {
    val dir = new java.io.File(opts.path.getOrElse(""))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .sortBy(_.getName)
  }

  /** One partition per page. File mode lists the directory; HTTP mode
    * extrapolates page URLs from the page-1 cursor when it is numeric
    * (`page=2` style page numbers or `page[offset]=N` offsets), else
    * falls back to a single sequential cursor-chain partition.
    */
  override def planInputPartitions(): Array[InputPartition] = opts.url match {
    case None =>
      pageFiles.map(f =>
        JsonApiFilePartition(f.getAbsolutePath): InputPartition)
    case Some(_) =>
      val (root, body) = firstPage.get
      val count = root.path("meta").path("count").asLong(-1L)
      val next = root.path("links").path("next")
      // the EFFECTIVE page size is what the server actually returned —
      // a server that caps page[limit] below our request would
      // otherwise make the extrapolation under-count pages and
      // silently drop records
      val pageSize =
        if (root.path("data").isArray) root.path("data").size() else 0
      if (!next.isTextual)
        Array(JsonApiUrlPartition(firstPageUrl, Some(body)))
      else if (count < 0L || pageSize <= 0)
        // a next cursor with no trustworthy count/page-size math:
        // walk the chain — sequential but lossless
        Array(JsonApiChainPartition(firstPageUrl, Some(body)))
      else JsonApiCursor.extrapolate(next.asText(), count, pageSize) match {
        case Some(urls) if urls.nonEmpty =>
          // meta.count can be stale-low (server still serves
          // links.next past the computed lastPage), so the LAST
          // extrapolated page walks the cursor chain onward: with an
          // accurate count the chain stops after one page, with a
          // lying one the read degrades to sequential continuation
          // instead of silently dropping the tail
          val head = JsonApiUrlPartition(firstPageUrl, Some(body))
          val mid = urls.init.map(u => JsonApiUrlPartition(u, None))
          val tail = JsonApiChainPartition(urls.last, None)
          ((head +: mid) :+ tail).toArray[InputPartition]
        case _ =>
          // opaque cursor, or count claims page 1 is the only page
          // while a next cursor exists — walk the chain: sequential
          // but lossless
          Array(JsonApiChainPartition(firstPageUrl, Some(body)))
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonApiReaderFactory(opts, fullSchema, required, filters, limit,
      topN, countStar)
}

/** Cursor-URL extrapolation: if `links.next` differs from page 1 only
  * by a numeric `page`/`page[number]`/`page[offset]` parameter, all
  * remaining page URLs are derivable from `meta.count` — pages then
  * fetch in parallel. Opaque cursors return None.
  */
object JsonApiCursor {
  private val NumberParam =
    """([?&](?:page|page%5Bnumber%5D|page\[number\])=)(\d+)""".r
  private val OffsetParam =
    """([?&](?:page%5Boffset%5D|page\[offset\])=)(\d+)""".r

  /** URLs for pages 2..lastPage (page 1 is already fetched). */
  def extrapolate(nextUrl: String, count: Long, pageLimit: Int): Option[Seq[String]] = {
    val lastPage = math.ceil(count.toDouble / pageLimit).toLong
    NumberParam.findFirstMatchIn(nextUrl) match {
      case Some(m) if m.group(2).toLong == 2L =>
        Some((2L to lastPage).map(p =>
          NumberParam.replaceFirstIn(nextUrl,
            java.util.regex.Matcher.quoteReplacement(m.group(1)) + p)))
      case _ =>
        OffsetParam.findFirstMatchIn(nextUrl) match {
          case Some(m) if m.group(2).toLong == pageLimit.toLong =>
            Some((2L to lastPage).map(p =>
              OffsetParam.replaceFirstIn(nextUrl,
                java.util.regex.Matcher.quoteReplacement(m.group(1)) +
                  (p - 1) * pageLimit)))
          case _ => None
        }
    }
  }
}

case class JsonApiFilePartition(file: String) extends InputPartition
case class JsonApiUrlPartition(url: String, preloaded: Option[String])
    extends InputPartition
case class JsonApiChainPartition(startUrl: String, preloaded: Option[String])
    extends InputPartition

class JsonApiReaderFactory(opts: JsonApiOptions, fullSchema: StructType,
                           required: StructType, filters: Array[Filter],
                           limit: Int, topN: Option[PushedTopN],
                           countStar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mapper = new ObjectMapper()
    val pages: Iterator[JsonNode] = p match {
      case JsonApiFilePartition(file) =>
        Iterator(mapper.readTree(new java.io.File(file)))
      case JsonApiUrlPartition(url, preloaded) =>
        Iterator(mapper.readTree(preloaded.getOrElse(
          JsonApiHttp.get(url, JsonApiToken.bearer(opts), opts.maxRetries))))
      case JsonApiChainPartition(startUrl, preloaded) =>
        // lazily walk links.next until it disappears. The walk must
        // TERMINATE even against a pathological server: a next URL
        // already visited is a cycle (refetching would duplicate rows
        // — fail loudly, the read can't be lossless), and a long run
        // of consecutive data-less pages that still advertise next is
        // a server loop in different clothes (a few empties mid-chain
        // are tolerated — sparse pages exist after deletes).
        new Iterator[JsonNode] {
          private var nextUrl: Option[String] = Some(startUrl)
          private var first = preloaded
          private val seen = scala.collection.mutable.HashSet[String]()
          private var emptyStreak = 0
          override def hasNext: Boolean = nextUrl.isDefined
          override def next(): JsonNode = {
            val url = nextUrl.get
            if (!seen.add(url))
              throw new IllegalStateException(
                "links.next cycle detected while walking page chain " +
                  s"(${seen.size} pages fetched); refusing to refetch")
            val body = first match {
              case Some(b) => first = None; b
              case None =>
                JsonApiHttp.get(url, JsonApiToken.bearer(opts), opts.maxRetries)
            }
            val root = mapper.readTree(body)
            val data = root.path("data")
            emptyStreak =
              if (data.isArray && data.size() == 0) emptyStreak + 1 else 0
            if (emptyStreak >= 100)
              throw new IllegalStateException(
                "100 consecutive empty pages with a live links.next " +
                  s"while walking page chain (${seen.size} pages fetched); " +
                  "server is looping")
            val link = root.path("links").path("next")
            nextUrl = if (link.isTextual) Some(link.asText()) else None
            root
          }
        }
    }
    if (countStar) new JsonApiCountReader(pages, fullSchema, filters)
    else new JsonApiPageReader(pages, fullSchema, required, filters, limit,
      topN)
  }
}

/** Partial COUNT(*) reader: emits one row = this partition's record
  * count. With no pushed filters the count is `data[].size` per page
  * envelope — no per-record flatten, no column conversion; with
  * filters each record is flattened only as far as filter evaluation
  * needs. Spark sums the partials above the scan.
  */
class JsonApiCountReader(pages: Iterator[JsonNode], fullSchema: StructType,
                         filters: Array[Filter])
    extends PartitionReader[InternalRow] {
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    var n = 0L
    pages.foreach { root =>
      val data = root.path("data")
      if (data.isArray) {
        if (filters.isEmpty) n += data.size()
        else data.elements().asScala.foreach { el =>
          val rec = JsonApiFlatten.flatten(el)
          if (filters.forall(f => JsonApiFilters.eval(f, rec, fullSchema)))
            n += 1
        }
      }
    }
    row = new GenericInternalRow(Array[Any](n))
    done = true
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Parses page envelopes, flattens `data[]` records, applies pushed
  * filters, keeps only the pushed top-N (when present), converts only
  * required columns to Catalyst values.
  */
class JsonApiPageReader(pages: Iterator[JsonNode], fullSchema: StructType,
                        required: StructType, filters: Array[Filter],
                        limit: Int, topN: Option[PushedTopN])
    extends PartitionReader[InternalRow] {

  private val raw: Iterator[Map[String, JsonNode]] = pages.flatMap { root =>
    val data = root.path("data")
    if (data.isArray) data.elements().asScala.map(JsonApiFlatten.flatten)
    else Iterator.empty
  }.filter(rec => filters.forall(f => JsonApiFilters.eval(f, rec, fullSchema)))

  /** With pushed top-N the partition keeps a BOUNDED N-element heap on
    * the order column (never the whole page set — a cursor-chain
    * partition may span an entire collection), emitting its local top
    * N in order. O(n log N) work, O(N) memory.
    */
  private val records: Iterator[Map[String, JsonNode]] = topN match {
    case None => raw
    case Some(t) =>
      val dt = fullSchema.fields.find(_.name == t.column).map(_.dataType)
        .getOrElse(StringType)
      def key(rec: Map[String, JsonNode]): Option[Any] =
        rec.get(t.column).map(JsonApiFlatten.convert(_, dt))
      val ord = new Ordering[Option[Any]] {
        def compare(a: Option[Any], b: Option[Any]): Int = (a, b) match {
          case (None, None) => 0
          case (None, _) => if (t.nullsLast) 1 else -1
          case (_, None) => if (t.nullsLast) -1 else 1
          case (Some(x), Some(y)) =>
            val c = (x, y) match {
              case (l: Long, r: Long) => java.lang.Long.compare(l, r)
              case (l: Double, r: Double) => java.lang.Double.compare(l, r)
              case (l: Boolean, r: Boolean) => java.lang.Boolean.compare(l, r)
              case (l: UTF8String, r: UTF8String) => l.compareTo(r)
              case (l, r) => l.toString.compareTo(r.toString)
            }
            if (t.desc) -c else c
        }
      }
      // head = WORST kept element (ord is ascending-best, and
      // PriorityQueue dequeues the maximum of its ordering)
      type Entry = (Option[Any], Map[String, JsonNode])
      val entryOrd: Ordering[Entry] = Ordering.by[Entry, Option[Any]](_._1)(ord)
      val heap = scala.collection.mutable.PriorityQueue.empty[Entry](entryOrd)
      raw.foreach { rec =>
        val k = key(rec)
        if (heap.size < t.n) heap.enqueue((k, rec))
        else if (ord.compare(k, heap.head._1) < 0) {
          heap.dequeue(); heap.enqueue((k, rec))
        }
      }
      heap.dequeueAll.toSeq.reverse.map((e: Entry) => e._2).iterator
  }

  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean = {
    if (emitted < limit && records.hasNext) {
      current = toRow(records.next())
      emitted += 1
      true
    } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def toRow(rec: Map[String, JsonNode]): InternalRow = {
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      values(i) = rec.get(f.name).map(JsonApiFlatten.convert(_, f.dataType)).orNull
      i += 1
    }
    new GenericInternalRow(values)
  }
}

/** The reference's flatten_json (etl_tools.py:177-193) over Jackson
  * nodes: dicts by `_`-joined path, list elements positionally.
  */
object JsonApiFlatten {
  def flatten(node: JsonNode): Map[String, JsonNode] = {
    val out = mutable.LinkedHashMap.empty[String, JsonNode]
    def walk(n: JsonNode, prefix: String): Unit =
      if (n.isObject) {
        n.properties().asScala.foreach { e =>
          walk(e.getValue,
            if (prefix.isEmpty) e.getKey else s"${prefix}_${e.getKey}")
        }
      } else if (n.isArray) {
        var i = 0
        n.elements().asScala.foreach { el =>
          walk(el, s"${prefix}_$i"); i += 1
        }
      } else if (!n.isNull && !n.isMissingNode) {
        out(prefix) = n
      }
    walk(node, "")
    out.toMap
  }

  /** JSON scalar → Catalyst value for the declared type (the late
    * dtype coercion pass, etl_tools.py:45-61: bad values raise — we
    * throw too, matching errors='raise').
    */
  def convert(n: JsonNode, dt: DataType): Any = dt match {
    case StringType =>
      UTF8String.fromString(if (n.isTextual) n.asText() else n.toString)
    case LongType    => if (n.isNumber) n.asLong() else n.asText().trim.toLong
    case DoubleType  => if (n.isNumber) n.asDouble() else n.asText().trim.toDouble
    case BooleanType => if (n.isBoolean) n.asBoolean() else n.asText().trim.toBoolean
    case TimestampType => parseTimestampMicros(n.asText())
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** ISO-8601 (with or without offset / time part) → epoch micros. */
  def parseTimestampMicros(s: String): Long = {
    val inst =
      try Instant.parse(s)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)
          catch {
            case _: java.time.format.DateTimeParseException =>
              LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toInstant
          }
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }
}

/** Pushed-filter evaluation inside the reader — the JSON:API
  * server-side `filter[...]` semantics (outreach_etl.py:115-117).
  */
object JsonApiFilters {
  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNull | _: IsNotNull => true
    case And(l, r) => supported(l) && supported(r)
    case _ => false
  }

  def eval(f: Filter, rec: Map[String, JsonNode], schema: StructType): Boolean =
    f match {
      case EqualTo(a, v)            => cmp(a, v, rec, schema).contains(0)
      case GreaterThan(a, v)        => cmp(a, v, rec, schema).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v, rec, schema).exists(_ >= 0)
      case LessThan(a, v)           => cmp(a, v, rec, schema).exists(_ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, v, rec, schema).exists(_ <= 0)
      case IsNull(a)                => !rec.contains(a)
      case IsNotNull(a)             => rec.contains(a)
      case And(l, r)                => eval(l, rec, schema) && eval(r, rec, schema)
      case _                        => true
    }

  /** Compare record value vs literal in the declared type's order;
    * None when the column is absent (filter fails, except IsNull).
    */
  private def cmp(attr: String, value: Any, rec: Map[String, JsonNode],
                  schema: StructType): Option[Int] =
    rec.get(attr).map { n =>
      schema.fields.find(_.name == attr).map(_.dataType) match {
        case Some(TimestampType) =>
          val lv = value match {
            case t: java.sql.Timestamp =>
              val ti = t.toInstant
              ti.getEpochSecond * 1000000L + ti.getNano / 1000L
            case i: Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
            case s => JsonApiFlatten.parseTimestampMicros(s.toString)
          }
          java.lang.Long.compare(
            JsonApiFlatten.parseTimestampMicros(n.asText()), lv)
        case Some(LongType) =>
          java.lang.Long.compare(n.asLong(), value.toString.toLong)
        case Some(DoubleType) =>
          java.lang.Double.compare(n.asDouble(), value.toString.toDouble)
        case _ =>
          // binary UTF-8 order, matching Spark's UTF8String collation
          // (Java String.compareTo is UTF-16 code-unit order and
          // disagrees beyond the BMP)
          org.apache.spark.unsafe.types.UTF8String.fromString(n.asText())
            .compareTo(
              org.apache.spark.unsafe.types.UTF8String.fromString(value.toString))
      }
    }
}
