package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.fetch.{FetchClient, SyntheticConfig, SyntheticInternet}
import graft.model.FetchRequest
import graft.remote.{CrawlerBuddy, RemoteServer, RemoteUrl}

/** S11/S12: the remote crawl-server client pair, driven end-to-end over
  * the in-process crawler buddy (the same wire protocol the reference
  * buddy speaks — request_encode out, section-list JSON back). */
class RemoteSpec extends AnyFunSuite {

  // same config as the committed all_properties goldens (GoldenGen)
  val internet = SyntheticInternet(SyntheticConfig(
    seed = 42L, nSites = 1, pagesPerSite = 2, imagesPerSite = 1,
    itemsPerFeed = 2))
  def newServer(key: Option[String] = None,
      serverKey: Option[String] = None) = new RemoteServer(
    "http://buddy.local:3000",
    new CrawlerBuddy.InProcessTransport(
      new CrawlerBuddy(internet, serverKey)),
    key = key)

  test("S11 wire parity: /api/get equals the committed golden bytes") {
    val got = newServer().getGetJ(url = Some("https://site-0.test"))
    assert(got.nonEmpty)
    val expected = java.nio.file.Files.readString(
      java.nio.file.Paths.get("fixtures/golden/all_properties_html.json"))
    assert(JsonMethods.compact(JsonMethods.render(got.get)) == expected)
  }

  test("S12 accessors match a direct parse of the same page") {
    val ru = new RemoteUrl("https://site-0.test", newServer())
    val direct = {
      val resp = FetchClient.fetchOne(
        FetchRequest.default("https://site-0.test"), internet)
      val parsed = graft.parse.PageFactory.recognize(
        resp.url, resp.headers, resp.text)
      graft.parse.PageFactory.toPageMeta(resp.url, parsed)
    }
    assert(ru.title == direct.title)
    assert(ru.description == direct.description)
    assert(ru.language == direct.language)
    assert(ru.statusCode.contains(200))
    assert(ru.isValid)
    assert(ru.text.exists(_.contains("<html")))
    // the primary response arrives via the Response section and the
    // Streams map keyed by request URL
    assert(ru.responses.keySet == Set("https://site-0.test"))
    // PropertiesHash survives the wire and base64-decodes to 16 md5 bytes
    assert(ru.metaHash.exists(_.length == 16))
  }

  test("S12 RSS entries arrive through the wire, dates coerced") {
    val ru = new RemoteUrl("https://site-0.test/feed", newServer())
    // entries read only PRE-FETCHED properties — never a lazy remote call
    // (remoteurl.py:206-225 reads self.all_properties directly; ADVICE r3)
    assert(ru.entries.isEmpty, "entries must not trigger a remote fetch")
    ru.allProperties // the get_responses()-style explicit fetch
    assert(ru.entries.nonEmpty)
    ru.entries.foreach { e =>
      assert(e.get("link").exists(_.isInstanceOf[JString]))
      // date_published was a loose string on the wire; the reader
      // coerced it (remoteurl.py:206-225)
      e.get("date_published").foreach {
        case JString(s) => assert(s.contains("T"), s"uncoerced date: $s")
        case other      => fail(s"unexpected date type $other")
      }
    }
  }

  test("feeds endpoint and ping endpoint answer without a prefetch") {
    val server = newServer()
    val ru = new RemoteUrl("https://site-0.test", server)
    // feeds via /api/feeds (all_properties not prefetched on this path)
    assert(ru.feeds.contains("https://site-0.test/feed"))
    assert(server.getPingJ(url = Some("https://site-0.test")).contains(200))
    assert(server.getPingJ(url = Some("https://status-404.test/"))
      .contains(404))
    assert(server.getInfoJ().exists(j =>
      (j \ "success") == JBool(true)))
  }

  test("set/findj round-trip stores and returns the response JSON") {
    val server = newServer()
    val resp = FetchClient.fetchOne(
      FetchRequest.default("https://site-0.test"), internet)
    assert(server.set(resp, crawlId = Some("c1"),
      url = Some("https://site-0.test")))
    val found = server.findJ(crawlId = Some("c1"),
      url = Some("https://site-0.test"))
    assert(found.nonEmpty)
    assert((found.get \ "status_code") == JInt(200))
    // unknown key → success:false → the reference client sees None…
    // (findJ surfaces the raw JSON; the caller checks success)
    val missing = server.findJ(crawlId = Some("nope"))
    assert(missing.exists(j => (j \ "success") == JBool(false)))
  }

  test("server key gate: wrong key collapses to None like the reference") {
    val gated = newServer(key = Some("right"), serverKey = Some("right"))
    assert(gated.getGetJ(url = Some("https://site-0.test")).nonEmpty)
    val wrong = newServer(key = Some("wrong"), serverKey = Some("right"))
    assert(wrong.getGetJ(url = Some("https://site-0.test")).isEmpty)
    val absent = newServer(key = None, serverKey = Some("right"))
    assert(absent.getGetJ(url = Some("https://site-0.test")).isEmpty)
  }

  test("request survives the GET-encode wire round-trip (S6 inverse)") {
    val req = FetchRequest.default("https://site-0.test/page/1").copy(
      userAgent = "custom-agent/2.0", timeoutS = 7, delayS = 1,
      requestType = FetchRequest.TypeHead, sslVerify = false,
      acceptTypes = Seq("text/html", "application/xml"),
      bytesLimit = 123456L, cookies = Map("CONSENT" -> "YES"),
      settings = Map("a" -> "b"), handlerName = Some("h"),
      clientId = Some("c9"))
    val buddy = new CrawlerBuddy(internet)
    val (decoded, _) = buddy.queryToRequest(
      graft.http.WireFormats.requestEncode(req)).get
    assert(decoded == req)
  }

  /** The buddy's former per-field GET decoder, kept as the oracle of the
    * one that reads the params through `WireFormats.jsonToRequest`. */
  def perFieldDecode(query: String)
      : Option[(FetchRequest, Map[String, String])] = {
    val pairs = query.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _        => None
      }
    }
    val m = pairs.toMap
    val url = m.getOrElse("url", return None)
    var req = FetchRequest.default(url)
    m.get("User-Agent").foreach(v => req = req.copy(userAgent = v))
    m.get("timeout_s").flatMap(_.toIntOption)
      .foreach(v => req = req.copy(timeoutS = v))
    m.get("delay_s").flatMap(_.toIntOption)
      .foreach(v => req = req.copy(delayS = v))
    m.get("request_type").foreach(v => req = req.copy(requestType = v))
    m.get("ssl_verify").foreach(v => req = req.copy(sslVerify = v == "True"))
    m.get("respect_robots")
      .foreach(v => req = req.copy(respectRobots = v == "True"))
    m.get("accept_types").filter(_.nonEmpty)
      .foreach(v => req = req.copy(acceptTypes = v.split(",").toSeq))
    m.get("bytes_limit").flatMap(_.toLongOption)
      .foreach(v => req = req.copy(bytesLimit = v))
    m.get("http_proxy").foreach(v => req = req.copy(httpProxy = Some(v)))
    m.get("https_proxy").foreach(v => req = req.copy(httpsProxy = Some(v)))
    m.get("crawler_name").foreach(v => req = req.copy(crawlerName = v))
    m.get("handler_name").foreach(v => req = req.copy(handlerName = Some(v)))
    m.get("client_id").foreach(v => req = req.copy(clientId = Some(v)))
    def jsonMap(k: String): Map[String, String] = m.get(k).map { raw =>
      JsonMethods.parseOpt(raw) match {
        case Some(JObject(fields)) => fields.collect {
          case (kk, JString(vv)) => kk -> vv
        }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)
    val settings = jsonMap("settings")
    val cookies = jsonMap("cookies")
    val headers = jsonMap("request_headers")
    if (settings.nonEmpty) req = req.copy(settings = settings)
    if (cookies.nonEmpty) req = req.copy(cookies = cookies)
    if (headers.nonEmpty) req = req.copy(requestHeaders = headers)
    Some((req, m))
  }

  test("GET request decoding through jsonToRequest equals the per-field decoder") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    val str: Gen[String] = Gen.frequency(
      2 -> Gen.const(""),
      3 -> Gen.alphaNumStr.map(_.take(8)),
      2 -> Gen.listOf(Gen.oneOf("&", "=", "+", "%", ",", " ", "\"", "{",
        "}", "\u00e9", "\u4e2d", "a", "1")).map(_.mkString))
    val nullableStr = Gen.frequency(1 -> Gen.const(null: String), 4 -> str)
    val strMap = Gen.frequency(
      2 -> Gen.const(Map.empty[String, String]),
      3 -> Gen.mapOfN(3, Gen.zip(str, str)))
    val number = Gen.frequency(4 -> Gen.choose(-5, 100),
      1 -> Gen.oneOf(Int.MinValue, Int.MaxValue))
    val request: Gen[FetchRequest] = for {
      url <- Gen.oneOf(Gen.const("https://site-0.test/page/1"), str)
      userAgent <- nullableStr
      headers <- strMap
      timeoutS <- number
      delayS <- number
      requestType <- Gen.oneOf(Gen.oneOf(FetchRequest.TypeFull,
        FetchRequest.TypeHead, FetchRequest.TypePing), str)
      sslVerify <- Gen.oneOf(true, false)
      respectRobots <- Gen.oneOf(true, false)
      acceptTypes <- Gen.oneOf(Gen.const(Seq.empty[String]),
        Gen.const(Seq("")), Gen.listOfN(3, str))
      bytesLimit <- Gen.oneOf(Gen.choose(0L, 10000000L),
        Gen.const(Long.MaxValue))
      httpProxy <- Gen.option(str)
      httpsProxy <- Gen.option(str)
      settings <- strMap
      cookies <- strMap
      crawlerName <- nullableStr
      handlerName <- Gen.option(str)
      clientId <- Gen.option(str)
    } yield FetchRequest(url, userAgent, headers, timeoutS, delayS,
      requestType, sslVerify, respectRobots, acceptTypes, bytesLimit,
      httpProxy, httpsProxy, settings, cookies, crawlerName, handlerName,
      clientId)
    val buddy = new CrawlerBuddy(internet)
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(request) { r =>
        val query = graft.http.WireFormats.requestEncode(r)
        buddy.queryToRequest(query) == perFieldDecode(query)
      })
    assert(result.passed, result.status.toString)
    // a value requestEncode never writes: the JSON decoder keeps the
    // default for a lowercase boolean, where the per-field one read false
    assert(buddy.queryToRequest("url=x&respect_robots=true").get._1
      .respectRobots)
  }

  test("whole-table wire export: all_properties as a DataFrame column") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val udf = CrawlerBuddy.allPropertiesUdf(internet)
    val out = Seq("https://site-0.test", "https://site-0.test/page/1")
      .toDF("url")
      .withColumn("all_properties", udf(col("url")))
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      val json = JsonMethods.parse(r.getAs[String]("all_properties"))
      val names = json match {
        case JArray(sections) => sections.map(s => s \ "name").collect {
          case JString(n) => n
        }
        case _ => Nil
      }
      assert(names.contains("Properties") && names.contains("Response"),
        s"sections: $names")
    }
  }
}
