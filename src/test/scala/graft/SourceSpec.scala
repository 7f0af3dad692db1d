package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.SchemaRegistry

class SourceSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def fixture(name: String): String =
    getClass.getResource(s"/jsonapi/$name").getPath

  private def read(dir: String): DataFrame =
    spark.read.format("graft.sources.JsonApiSource")
      .option("resource", "prospects")
      .option("path", dir)
      .load()

  test("schema registry: declared column counts and types") {
    assert(SchemaRegistry.schemaFor("prospects").length == 207)
    assert(SchemaRegistry.schemaFor("sequences").length == 90)
    assert(SchemaRegistry.schemaFor("mailings").length == 68)
    val p = SchemaRegistry.schemaFor("prospects")
    assert(p("attributes_updatedAt").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(p("attributes_clickCount").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(p.fields.forall(_.nullable))
  }

  test("extension-point resources fail eagerly with an actionable message") {
    val e = intercept[IllegalArgumentException] {
      SchemaRegistry.schemaFor("accounts")
    }
    assert(e.getMessage.contains("extension point"), e.getMessage)
    assert(e.getMessage.contains("register"), e.getMessage)
    val u = intercept[IllegalArgumentException] {
      SchemaRegistry.schemaFor("nonsense")
    }
    assert(u.getMessage.contains("supported: prospects"), u.getMessage)
  }

  test("extension points become real resources via registerJson") {
    // `opportunities` (never registered elsewhere in the suite) keeps
    // this independent of test ordering against the `accounts` checks
    SchemaRegistry.registerJson("opportunities",
      """{"id": "string", "attributes_amount": "float",
         "attributes_closedAt": "datetime"}""")
    val sch = SchemaRegistry.schemaFor("opportunities")
    assert(sch.length == 3)
    assert(sch("attributes_amount").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(sch("attributes_closedAt").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(sch.fields.forall(_.nullable))
  }

  test("a -Dgraft.schemas.dir file enables an extension resource") {
    val dir = TempDirs.create("graft_schemas")
    java.nio.file.Files.writeString(dir.resolve("accounts_ext.json"),
      """{"id": "string", "attributes_name": "string",
         "attributes_employees": "integer"}""")
    System.setProperty(SchemaRegistry.SchemasDirProp, dir.toString)
    try {
      val sch = SchemaRegistry.schemaFor("accounts_ext")
      assert(sch.length == 3)
      assert(sch("attributes_employees").dataType ==
        org.apache.spark.sql.types.LongType)
    } finally {
      System.clearProperty(SchemaRegistry.SchemasDirProp)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("jsonapi source: pages scan in parallel partitions, flatten applied") {
    val df = read(fixture("prospects"))
    assert(df.rdd.getNumPartitions == 2) // one per page file
    val rows = df.select("id", "attributes_firstName", "attributes_emails_1",
        "attributes_contactHistogram_0_1", "relationships_account_data_id")
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "Ada")
    assert(rows(0).getString(2) == "b@x.com")
    assert(rows(0).getString(3) == "2")
    assert(rows(0).getLong(4) == 7L)
    // absent fields ride as NULL (schema-seeded columns)
    assert(rows(1).isNullAt(2))
  }

  test("jsonapi source: updatedAt range filter is pushed and applied") {
    val df = read(fixture("prospects"))
      .filter(col("attributes_updatedAt")
        .between(lit("2019-06-01"), lit("2019-06-05")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("jsonapi"), plan)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("count(*) pushes to the source as partial per-partition counts") {
    val df = read(fixture("prospects")).groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    // the scan advertises the pushed aggregate and emits the partial
    // count schema, not the record columns
    assert(plan.contains("pushedAgg=count(*)"), plan)
    assert(df.collect().head.getLong(0) == 3L)
    // correctness with a pushed filter: the reader evaluates the
    // filter per record before counting
    val filtered = read(fixture("prospects"))
      .filter(col("attributes_updatedAt")
        .between(lit("2019-06-01"), lit("2019-06-05")))
      .groupBy().count()
    assert(filtered.queryExecution.executedPlan.toString
      .contains("pushedAgg=count(*)"))
    assert(filtered.collect().head.getLong(0) == 2L)
    // grouped aggregates are declined — full scan, same answer
    val grouped = read(fixture("prospects"))
      .groupBy(col("relationships_account_data_id")).count()
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("pushedAgg"))
    assert(grouped.agg(sum("count")).collect().head.getLong(0) == 3L)
  }

  test("jsonapi source: limit pushdown stops the reader early") {
    val df = read(fixture("prospects")).limit(1)
    assert(df.count() == 1)
  }

  test("jsonapi source: column pruning reaches the reader") {
    val df = read(fixture("prospects")).select("attributes_firstName")
    assert(df.schema.length == 1)
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("Ada", "Grace", "Edsger"))
  }

  test("jsonapi source: empty page (meta.count=0) yields empty relation") {
    assert(read(fixture("empty")).count() == 0)
  }

  test("mailings table schema excludes the ingest-dropped body columns") {
    val s = graft.sources.JsonApiSource.tableSchema("mailings")
    assert(s.length == 66)
    assert(!s.fieldNames.contains("attributes_bodyHtml"))
    assert(!s.fieldNames.contains("attributes_bodyText"))
  }

  test("topN pushdown: per-partition top-N reaches the scan") {
    val df = read(fixture("prospects"))
      .select("id", "attributes_updatedAt")
      .orderBy(col("attributes_updatedAt").desc)
      .limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedTopN=-attributes_updatedAt,2"), plan)
    // partial pushdown: Spark's global TakeOrderedAndProject still merges
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L))
  }

  test("topN pushdown respects null ordering (desc => nulls last)") {
    val dir = TempDirs.create("jsonapi-nulls").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "page1.json").toPath,
      """{"data": [
        |  {"id": 1, "type": "prospect", "attributes": {"firstName": "N"}},
        |  {"id": 2, "type": "prospect",
        |   "attributes": {"updatedAt": "2019-06-01T00:00:00Z"}},
        |  {"id": 3, "type": "prospect",
        |   "attributes": {"updatedAt": "2019-06-05T00:00:00Z"}}
        |], "meta": {"count": 3}, "links": {}}""".stripMargin)
    // desc default = NULLS LAST: the null-updatedAt record must NOT
    // displace real values from the partition's local top-2
    val got = read(dir.getAbsolutePath)
      .select("id", "attributes_updatedAt")
      .orderBy(col("attributes_updatedAt").desc)
      .limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 2L), got)
  }

  // ----------------------------------------------------------------- HTTP

  /** Mock JSON:API server (JDK HttpServer): bearer-auth'd paginated
    * prospects (5 records, page size 2), an OAuth2 token endpoint, a
    * configurable cursor style, and per-URL first-attempt 500s in
    * flaky mode.
    */
  private class MockApi(cursorStyle: String, flaky: Boolean = false,
                        staleCount: Boolean = false,
                        cycle: Boolean = false) {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val tokenCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val getCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    private val attempts =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)

    private def record(i: Int): String =
      s"""{"id": $i, "type": "prospect", "attributes": {
         |  "firstName": "P$i", "clickCount": ${i * 10},
         |  "updatedAt": "2019-06-0${i}T00:00:00Z"}}""".stripMargin

    private def pageJson(page: Int): String = {
      val ids = ((page - 1) * 2 + 1) to math.min(page * 2, 5)
      val next =
        if (cycle && page >= 2) // buggy server: page 2 links back to itself
          s""","next": "$base/api/prospects?cursor=c2""""
        else if (page >= 3) ""
        else if (cursorStyle == "page")
          s""","next": "$base/api/prospects?page=${page + 1}""""
        else s""","next": "$base/api/prospects?cursor=c${page + 1}""""
      s"""{"data": [${ids.map(record).mkString(",")}],
         |"meta": {"count": ${if (staleCount) 3 else 5}},
         |"links": {"self": "x"$next}}""".stripMargin
    }

    private def parseForm(raw: String): Map[String, String] =
      raw.split("&")
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap

    private def query(ex: HttpExchange): Map[String, String] =
      parseForm(Option(ex.getRequestURI.getRawQuery).getOrElse(""))

    private def send(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    server.createContext("/oauth/token", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        // RFC 6749: the grant must arrive in the form-encoded body;
        // reject any credential on the query string
        val form = parseForm(new String(
          ex.getRequestBody.readAllBytes(), "UTF-8"))
        if (ex.getRequestMethod != "POST" ||
            ex.getRequestURI.getRawQuery != null ||
            form.get("grant_type") != Some("refresh_token") ||
            form.get("client_id") != Some("cid") ||
            form.get("client_secret") != Some("sec"))
          send(ex, 400, """{"error":"bad request"}""")
        else {
          val n = tokenCalls.incrementAndGet()
          send(ex, 200, s"""{"access_token":"tok-$n","expires_in":7200}""")
        }
      }
    })
    server.createContext("/api/prospects", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        getCalls.incrementAndGet()
        val url = ex.getRequestURI.toString
        if (flaky && attempts.add(url)) { send(ex, 500, "boom"); return }
        if (Option(ex.getRequestHeaders.getFirst("Authorization"))
            .forall(!_.startsWith("Bearer tok-"))) {
          send(ex, 401, """{"error":"unauthorized"}""")
          return
        }
        val q = query(ex)
        val page = q.get("page").orElse(q.get("cursor").map(_.drop(1)))
          .map(_.toInt).getOrElse(1)
        send(ex, 200, pageJson(page))
      }
    })
    server.createContext("/api/dead", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = send(ex, 500, "dead")
    })
    server.createContext("/api/limited", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        if (attempts.add("limited")) {
          ex.getResponseHeaders.set("Retry-After", "0")
          send(ex, 429, """{"error":"rate limited"}""")
        } else send(ex, 200, """{"ok": true}""")
    })
    server.start()
    def base: String =
      s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def readHttp(api: MockApi): DataFrame =
    spark.read.format("graft.sources.JsonApiSource")
      .option("resource", "prospects")
      .option("url", s"${api.base}/api/prospects")
      .option("tokenUrl", s"${api.base}/oauth/token")
      .option("clientId", "cid").option("clientSecret", "sec")
      .option("refreshToken", "ref")
      .option("pageLimit", "2")
      .load()

  test("http: numeric cursor chain is extrapolated into parallel page partitions") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("page")
    try {
      val df = readHttp(api).select("id", "attributes_firstName")
      assert(df.rdd.getNumPartitions == 3) // ceil(5/2) pages
      assert(df.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq ==
        (1 to 5).map(i => (i.toLong, s"P$i")))
      // token fetched ONCE for planning + 3 partition reads (the
      // reference refetches per request — its expiry cache never engages)
      assert(api.tokenCalls.get() == 1, s"token calls: ${api.tokenCalls.get()}")
    } finally api.stop()
  }

  test("http: links.next cycle fails loudly instead of looping forever") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("opaque", cycle = true)
    try {
      val ex = intercept[Exception] { readHttp(api).select("id").collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("cycle")),
        s"expected a cycle error, got: ${messages(ex).mkString(" | ")}")
    } finally api.stop()
  }

  test("http: opaque cursor falls back to a sequential chain partition") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("opaque")
    try {
      val df = readHttp(api).select("id")
      assert(df.rdd.getNumPartitions == 1)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 5L))
    } finally api.stop()
  }

  test("http: 5xx responses retry with bound, then succeed") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("page", flaky = true)
    try {
      // every URL 500s once then succeeds; maxRetries=3 absorbs it
      assert(readHttp(api).count() == 5)
    } finally api.stop()
  }

  test("http: permanent failure stops after maxRetries attempts (no infinite loop)") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("page")
    try {
      val e = intercept[Exception] {
        graft.sources.JsonApiHttp.get(s"${api.base}/api/dead", Map.empty, 3)
      }
      assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
    } finally api.stop()
  }

  test("http: 429 rate limit honors Retry-After and succeeds on retry") {
    val api = new MockApi("page")
    try {
      val body = graft.sources.JsonApiHttp.get(
        s"${api.base}/api/limited", Map.empty, 3)
      assert(body.contains("ok"))
    } finally api.stop()
  }

  test("http: stale-low meta.count degrades to chain continuation, not loss") {
    graft.sources.JsonApiToken.clear()
    // server claims count=3 (lastPage=2) but serves links.next past it;
    // the last extrapolated page must walk the chain to pages 3+
    val api = new MockApi("page", staleCount = true)
    try {
      val got = readHttp(api).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (1L to 5L), got.mkString(","))
    } finally api.stop()
  }

  test("http: exception messages never carry the query string") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("page")
    try {
      val e = intercept[Exception] {
        graft.sources.JsonApiHttp.get(
          s"${api.base}/api/dead?client_secret=s3kr1t-marker", Map.empty, 2)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(!msgs.contains("s3kr1t-marker"), msgs)
      assert(msgs.contains("/api/dead"), msgs)
    } finally api.stop()
  }

  test("http: meta.count is reported as scan statistics") {
    graft.sources.JsonApiToken.clear()
    val api = new MockApi("page")
    try {
      val df = readHttp(api)
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
      assert(scan.computeStats().rowCount.contains(BigInt(5)),
        scan.computeStats().toString)
    } finally api.stop()
  }

  test("jsonapi_sync query: window filter + upsert over fixture pages") {
    val rows = graft.queries.ReferenceQueries
      .jsonapiSync(spark, "unused").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L)) // 6 windowed out
    val id2 = rows.find(_.getLong(0) == 2L).get
    // the page-2 (newer updatedAt) version must win the upsert
    assert(id2.getAs[Long]("clickcount") == 11L)
    assert(id2.getAs[String]("lastname") == "H")
    assert(id2.getAs[String]("emails_1") == "gh@x.com")
    // flatten: positional list + 2-D histogram + relationship path
    val id1 = rows.find(_.getLong(0) == 1L).get
    assert(id1.getAs[String]("hist_0_0") == "2019-05-01")
    assert(id1.getAs[Long]("account_id") == 7L)
  }

  test("jsonapi_sync_chain reads its chain count without a SQL execution of its own") {
    // the one-partition require reads the physical RDD's count; a
    // `pages.rdd` there ran a DeserializeToObject execution just for it
    val run = SparkRun(spark)(
      graft.queries.ReferenceQueries.jsonapiSyncChain(spark, "unused").collect().toSeq)
    assert(!run.plans.exists(_.nodeName == "DeserializeToObject"),
      run.plans.map(_.nodeName))
    // the result pin's checkpoint and the collect; a third was the count
    assert(run.plans.size == 2, run.plans.map(_.nodeName))
    // the chain walk over HTTP reads the same rows as the file pages
    val files = graft.queries.ReferenceQueries.jsonapiSync(spark, "unused").collect().toSeq
    assert(run.value == files)
    assert(run.value.nonEmpty)
  }
}
