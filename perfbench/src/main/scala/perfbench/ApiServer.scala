package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Localhost JSON:API server that behaves like the real API for
  * `previous_day` syncs:
  *  - `POST /oauth/token` answers the refresh-token grant;
  *  - `GET /api/<resource>` requires a bearer token it issued, honours
  *    `filter[updatedAt]=lo..hi` (inclusive ISO instants) and
  *    `page[limit]`, and serves records in `updatedAt` order;
  *  - `links.next` is an opaque cursor, so a reader must walk the chain;
  *  - a seeded, fixed set of pages answers 500 once per walk: for each
  *    day, the prospects chain fails one of that day's pages (chosen by
  *    seed and day), and the retry succeeds. So every walk of one day's
  *    three chains meets exactly one 500, always on the same resource,
  *    and no seed moves the retry's backoff from one op to another.
  * It counts what a reader made it do, readable from outside.
  */
final class ApiServer(data: Map[String, IndexedSeq[PageGen.Rec]], seed: Long) {
  val requests = new LongAdder
  val failures = new LongAdder
  val tokenFetches = new LongAdder
  val pages = new LongAdder
  val records = new LongAdder
  val bytes = new LongAdder

  private val sorted = data.map { case (r, recs) =>
    r -> recs.sortBy(x => (x.updatedUs, x.id)).toArray }
  private val tokens = ConcurrentHashMap.newKeySet[String]()
  private val pending = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(2)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/vnd.api+json")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
    if (code == 200) bytes.add(b.length)
  }

  private def params(q: String): Map[String, String] =
    Option(q).toSeq.flatMap(_.split("&")).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      def dec(s: String) = URLDecoder.decode(s, StandardCharsets.UTF_8)
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap

  private def cursor(offset: Int, lo: Long, hi: Long, limit: Int): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      s"""{"o":"$offset/$lo/$hi/$limit/${seed & 0xffff}"}""".getBytes(StandardCharsets.UTF_8))

  private def uncursor(c: String): (Int, Long, Long, Int) = {
    val s = new String(Base64.getUrlDecoder.decode(c), StandardCharsets.UTF_8)
    val f = s.drop(6).takeWhile(_ != '"').split('/')
    (f(0).toInt, f(1).toLong, f(2).toLong, f(3).toInt)
  }

  private def micros(iso: String, dflt: Long): Long =
    if (iso.isEmpty) dflt
    else {
      val i = java.time.Instant.parse(iso)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

  /** Whether this request is the scheduled failure of its walk: the
    * first request for the scheduled page fails, its retry does not.
    */
  private def failsOnce(uri: String, resource: String, lo: Long, offset: Int,
                        limit: Int, count: Int): Boolean =
    lo != Long.MinValue && {
      val day = java.lang.Math.floorDiv(lo, 86400000000L)
      val pages = ((count + limit - 1) / limit) max 1
      resource == ApiServer.FailingResource &&
        offset / limit == java.lang.Math.floorMod(PageGen.term(seed, day), pages.toLong) &&
        (pending.add(uri) || { pending.remove(uri); false })
    }

  server.createContext("/oauth/token", (ex: HttpExchange) => {
    requests.increment()
    val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (ex.getRequestMethod != "POST" || !form.contains("grant_type=refresh_token"))
      send(ex, 400, """{"error":"invalid_request"}""")
    else {
      tokenFetches.increment()
      val t = s"tok-${tokenFetches.sum}-${seed & 0xffff}"
      tokens.add(t)
      send(ex, 200, s"""{"access_token":"$t","token_type":"bearer","expires_in":7200}""")
    }
  })

  server.createContext("/api/", (ex: HttpExchange) => {
    requests.increment()
    val uri = ex.getRequestURI
    val resource = uri.getPath.stripPrefix("/api/")
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!auth.startsWith("Bearer ") || !tokens.contains(auth.drop(7)))
      send(ex, 401, """{"errors":[{"status":"401","title":"unauthorized"}]}""")
    else sorted.get(resource) match {
      case None => send(ex, 404, """{"errors":[{"status":"404"}]}""")
      case Some(recs) =>
        val p = params(uri.getRawQuery)
        val (offset, lo, hi, limit) = p.get("cursor") match {
          case Some(c) => uncursor(c)
          case None =>
            val range = p.getOrElse("filter[updatedAt]", "..")
            val i = range.indexOf("..")
            (0, micros(range.take(i), Long.MinValue),
              micros(range.drop(i + 2), Long.MaxValue),
              p.get("page[limit]").map(_.toInt).getOrElse(50).max(1).min(1000))
        }
        val from = lowerBound(recs, lo)
        val to = lowerBound(recs, if (hi == Long.MaxValue) hi else hi + 1)
        if (failsOnce(uri.toString, resource, lo, offset, limit, to - from)) {
          failures.increment()
          send(ex, 500, """{"errors":[{"status":"500","title":"transient"}]}""")
        } else {
          val slice = recs.slice(from + offset, (from + offset + limit) min to)
          val next =
            if (from + offset + limit < to)
              Some(s"$base/api/$resource?cursor=${cursor(offset + limit, lo, hi, limit)}")
            else None
          pages.increment()
          records.add(slice.length)
          send(ex, 200, PageGen.page(resource, slice.toSeq, to - from, next))
        }
    }
  })

  private def lowerBound(a: Array[PageGen.Rec], us: Long): Int = {
    var l = 0
    var h = a.length
    while (l < h) {
      val m = (l + h) >>> 1
      if (a(m).updatedUs < us) l = m + 1 else h = m
    }
    l
  }

  server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Reader options for one resource. */
  def sourceOptions(resource: String): Map[String, String] = Map(
    "url" -> s"$base/api/$resource",
    "tokenUrl" -> s"$base/oauth/token",
    "clientId" -> "perfbench", "clientSecret" -> "secret",
    "refreshToken" -> "refresh", "pageLimit" -> PageGen.PerPage.toString)
}

object ApiServer {
  /** The resource whose chain meets the 500 on every day. */
  val FailingResource = "prospects"
}
