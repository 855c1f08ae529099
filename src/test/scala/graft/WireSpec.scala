package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.http.WireFormats
import graft.model.{FetchRequest, FetchResponse}
import graft.parse.ContentText

/** JSON wire formats (S6-S9), display transforms (X5), social derivations
  * (A2) and the YouTube JSON accessors (Y1/Y2). */
class WireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("get_all_properties section list matches the committed golden byte-for-byte") {
    // HTML page and RSS feed (with Entries) — the reference's flagship
    // wire output (baseurl.py:520-574) as the crawler buddy serves it;
    // goldens written by GoldenGen
    import graft.fetch.{SyntheticConfig, SyntheticInternet}
    val buddy = new graft.remote.CrawlerBuddy(SyntheticInternet(
      SyntheticConfig(seed = 42L, nSites = 1, pagesPerSite = 2,
        imagesPerSite = 1, itemsPerFeed = 2)))
    def golden(name: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"fixtures/golden/$name"))
    val html = buddy.allPropertiesJson("https://site-0.test")
    assert(html == golden("all_properties_html.json"))
    // structure: ordered section names, PropertiesHash present
    val names = "\"name\":\"([A-Za-z]+)\"".r
      .findAllMatchIn(html).map(_.group(1)).toSeq
    assert(names == Seq("Properties", "PropertiesHash", "Text", "Streams",
      "Request", "Response", "Headers", "Entries"))
    assert(html.contains("\"crawler_type\":\"NoneType\"")) // request.py:190 quirk
    val rss = buddy.allPropertiesJson("https://site-0.test/feed")
    assert(rss == golden("all_properties_rss.json"))
    assert(rss.contains("\"name\":\"Entries\""))
    assert(rss.contains("\"date_published\":\"2024-01-"))
  }

  test("python repr used for PropertiesHash matches CPython semantics") {
    import graft.http.AllProperties.{pyRepr, pyStrRepr}
    import scala.collection.immutable.ListMap
    assert(pyStrRepr("abc") == "'abc'")
    assert(pyStrRepr("it's") == "\"it's\"")   // CPython flips to double quotes
    assert(pyStrRepr("a'b\"c") == "'a\\'b\"c'") // both present → single + escape
    assert(pyRepr(None) == "None")
    assert(pyRepr(Some("x")) == "'x'")
    assert(pyRepr(7) == "7")
    assert(pyRepr(1.0) == "1.0")
    assert(pyRepr(Seq("a", "b")) == "['a', 'b']")
    assert(pyRepr(ListMap("k" -> 1, "j" -> None)) == "{'k': 1, 'j': None}")
  }

  test("request/response file IO round-trip (S10)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wire")
    val req = FetchRequest.default("https://example.com/a")
      .copy(cookies = Map("CONSENT" -> "YES+cb.20210328-17-p0.en+F+678"),
        httpProxy = Some("http://proxy:3128"), clientId = Some("c1"))
    val reqPath = dir.resolve("request.json")
    WireFormats.requestToFile(req, reqPath)
    val back = WireFormats.requestFromFile(reqPath).get
    assert(back.cookies == req.cookies)
    assert(back.httpProxy == req.httpProxy)
    assert(back.clientId == req.clientId)
    val resp = FetchResponse("https://example.com/b", "https://example.com/a",
      200, Map("Content-Type" -> "text/html"), Array[Byte](1, 2), Some("hi"),
      "utf-8", Seq.empty, 5L, Some("text/html"), None)
    val respPath = dir.resolve("response.json")
    WireFormats.responseToFile(resp, respPath)
    val rback = WireFormats.responseFromFile(respPath).get
    assert(rback.url == "https://example.com/b")
    assert(rback.requestUrl == "https://example.com/a") // both urls survive
    assert(rback.status == 200)
  }

  test("request json round-trip") {
    val req = FetchRequest.default("https://example.com/page")
      .copy(requestHeaders = Map("Accept" -> "text/html"),
        acceptTypes = Seq("text/html", "application/xml"),
        handlerName = Some("HttpPageHandler"))
    val json = WireFormats.requestToJsonString(req)
    assert(json.contains(""""url":"https://example.com/page""""))
    assert(json.contains(""""User-Agent""""))
    val back = WireFormats.jsonToRequest(json).get
    assert(back.url == req.url)
    assert(back.userAgent == req.userAgent)
    assert(back.requestHeaders == req.requestHeaders)
    assert(back.timeoutS == req.timeoutS)
    assert(back.acceptTypes == Seq("text/html", "application/xml"))
    assert(back.handlerName.contains("HttpPageHandler"))
  }

  test("request json string coercions") {
    val json = """{"url":"https://x.com","timeout_s":"30","ssl_verify":"True",
      "respect_robots":"False","bytes_limit":"123"}"""
    val req = WireFormats.jsonToRequest(json).get
    assert(req.timeoutS == 30)
    assert(req.sslVerify)
    assert(!req.respectRobots)
    assert(req.bytesLimit == 123L)
  }

  test("request encode produces GET params") {
    val enc = WireFormats.requestEncode(FetchRequest.default("https://x.com/a b"))
    assert(enc.contains("url=https%3A%2F%2Fx.com%2Fa+b"))
    assert(enc.contains("timeout_s=20"))
  }

  test("response json round-trip with url fallback chain") {
    val resp = FetchResponse(
      url = "https://x.com/final", requestUrl = "https://x.com/orig",
      status = 200, headers = Map("Content-Type" -> "text/html"),
      body = "hello".getBytes, text = Some("hello"), encoding = "utf-8",
      errors = Seq("warn1"), crawlTimeMs = 1500,
      recognizedContentType = Some("text/html"), bodyHash = None)
    val json = WireFormats.responseToJsonString(resp)
    assert(json.contains(""""status_code":200"""))
    assert(json.contains(""""status_code_str":"HTTP_STATUS_OK(200)""""))
    assert(json.contains(""""is_valid":true"""))
    val back = WireFormats.jsonToResponse(json).get
    assert(back.url == "https://x.com/final")
    assert(back.requestUrl == "https://x.com/orig")
    assert(back.status == 200)
    assert(back.text.contains("hello"))
    assert(new String(back.body) == "hello")
    assert(back.errors == Seq("warn1"))
    // fallback: no url → request.url → request_url
    val fb = WireFormats.jsonToResponse(
      """{"request_url":"https://y.com","status_code":404}""").get
    assert(fb.url == "https://y.com")
  }

  test("strip html attributes keeps only a.href and img.src") {
    val in = """<div class="x" id="y"><a href="https://a.com" rel="nofollow">t</a><img src="i.png" width="5"></div>"""
    val out = ContentText.stripHtmlAttributes(in)
    assert(out == """<div><a href="https://a.com">t</a><img src="i.png"></div>""")
  }

  test("linkify wraps bare urls but not ones inside anchors") {
    assert(ContentText.linkify("see https://a.com now")
      == """see <a href="https://a.com">https://a.com</a> now""")
    val already = """<a href="https://a.com">https://a.com</a>"""
    assert(ContentText.linkify(already) == already)
  }

  test("social derivations") {
    // the derivations the crawl emits (handlerinterface.py:162-184)
    import graft.handlers.Social.SocialData
    def votes(up: Long, down: Long) =
      SocialData(thumbsUp = Some(up), thumbsDown = Some(down))
    assert(votes(80, 20).derivedUpvoteRatio.contains(0.8))
    assert(votes(0, 0).derivedUpvoteRatio.contains(0.0))
    assert(votes(80, 20).derivedUpvoteDiff.contains(60L))
    assert(SocialData(thumbsUp = Some(50), viewCount = Some(1000))
      .upvoteViewRatio.contains(0.05))
  }

  test("youtube video json accessors") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val json = """{"id":"abc123","title":"My Video","description":"d",
      "duration":161,"thumbnails":[{"url":"https://thumb/0.jpg"}],
      "upload_date":"20240110","channel":"Chan","channel_id":"UCX",
      "channel_url":"https://youtube.com/channel/UCX",
      "channel_follower_count":1000,"view_count":5000,"like_count":99,
      "live_status":"not_live","was_live":false}""".replace("\n", "")
    val df = graft.handlers.YouTubeJson.parseVideo(
      Seq(json).toDF("raw"), "raw")
    val row = df.collect()(0)
    assert(row.getAs[String]("title") == "My Video")
    assert(row.getAs[String]("thumbnail") == "https://thumb/0.jpg")
    assert(row.getAs[String]("channel_feed_url")
      == "https://www.youtube.com/feeds/videos.xml?channel_id=UCX")
    assert(row.getAs[Long]("view_count") == 5000L)
    assert(!row.getAs[Boolean]("is_live"))
    assert(row.getAs[String]("link_url")
      == "https://www.youtube.com/watch?v=abc123")
    assert(row.getAs[java.sql.Timestamp]("date_published").toString
      .startsWith("2024-01-10"))
  }

  test("return dislike json + derivations") {
    import spark.implicits._
    val json = """{"likes":80,"dislikes":20,"viewCount":1000,"rating":4.5}"""
    val df = graft.handlers.YouTubeJson.parseDislike(
      Seq(json).toDF("raw"), "raw")
    val row = df.collect()(0)
    assert(row.getAs[Long]("thumbs_up") == 80L)
    assert(row.getAs[Double]("upvote_ratio") == 0.8)
    assert(row.getAs[Long]("upvote_diff") == 60L)
    assert(row.getAs[Double]("upvote_view_ratio") == 0.08)
  }
}
