package graft

import org.scalatest.funsuite.AnyFunSuite
import java.time.Instant
import graft.parse._

/** Golden vectors transcribed from the reference parser suites
  * (reference: tests/unit/test_htmlpage.py, tests/unit/test_rsspage.py,
  * tests/unit/test_opmlpage.py). */
class ParseSpec extends AnyFunSuite {

  def html(url: String, contents: String) = new HtmlMeta(url, contents)

  test("html language") {
    assert(html("https://linkedin.com/test",
      "<html>\n<body>\n</body>\n</html>").language == "")
    assert(html("https://linkedin.com/test",
      "<html lang=\"it\">\n<body>\n</body>\n</html>").language == "it")
  }

  test("html title cascades") {
    assert(html("https://x.com", "<html>\n<body>\n</body>\n</html>").title.isEmpty)
    assert(html("https://x.com",
      "<html>\n <title>This is a lower case title</title>\n<body></body></html>")
      .title.contains("This is a lower case title"))
    assert(html("https://x.com",
      "<html>\n <TITLE>This is a upper case title</TITLE>\n<body></body></html>")
      .title.contains("This is a upper case title"))
    assert(html("https://x.com",
      "<html>\n <meta name=\"title\" content=\"selected meta title\" />\n<body></body></html>")
      .title.contains("selected meta title"))
    assert(html("https://x.com",
      "<html>\n <TITLE>selected meta title</TITLE>\n <meta property=\"og:title\" content=\"selected og:title\" />\n<body></body></html>")
      .title.contains("selected og:title"))
  }

  test("html description cascades") {
    assert(html("https://x.com",
      "<html>\n <description>selected description</description>\n<body></body></html>")
      .description.contains("selected description"))
    assert(html("https://x.com",
      "<html>\n <meta name=\"description\" content=\"selected meta description\"/>\n<body></body></html>")
      .description.contains("selected meta description"))
    assert(html("https://x.com",
      "<html>\n <description>selected meta description</description>\n <meta property=\"og:description\" content=\"selected og:description\" />\n<body></body></html>")
      .description.contains("selected og:description"))
  }

  test("html date published cascades with utc-replace quirk") {
    val article = html("https://x.com",
      "<html>\n <meta property=\"article:published_time\" content=\"2024-01-09T21:26:00Z\" />\n<body></body></html>")
    assert(article.datePublished.contains(Instant.parse("2024-01-09T21:26:00Z")))
    val music = html("https://x.com",
      "<html>\n <meta name=\"music:release_date\" content=\"2024-01-09T21:26:00Z\"/>\n<body></body></html>")
    assert(music.datePublished.contains(Instant.parse("2024-01-09T21:26:00Z")))
    val youtube = html("https://x.com",
      "<html>\n <meta itemprop=\"datePublished\" content=\"2024-01-11T09:00:07-00:00\">\n<body></body></html>")
    assert(youtube.datePublished.contains(Instant.parse("2024-01-11T09:00:07Z")))
    // -07:00 offset is REPLACED by UTC, not converted (dateutils.py:24-26)
    val offset = html("https://x.com",
      "<html>\n <meta itemprop=\"datePublished\" content=\"2024-05-10T09:04:54-07:00\">\n<body></body></html>")
    assert(offset.datePublished.contains(Instant.parse("2024-05-10T09:04:54Z")))
  }

  val rssLinksPage = """<html>
 <head>
 <TITLE>This is a upper case title</TITLE>
 <link rel="alternate" type="application/rss+xml" title="9to5Google &raquo; Feed" href="http://your-site.com/your-feed1.rss" />
 <link rel="alternate" type="application/rss+xml" title="9to5Google &raquo; Feed" href="http://your-site.com/your-feed2.rss" />
 <link rel="alternate" type="application/rss+xml" title="9to5Google &raquo; Feed" href="http://your-site.com/your-feed3.rss" />
 </head>
 <body>
 page body
 </body>
"""

  test("html feed discovery") {
    val m = html("https://linkedin.com/test", rssLinksPage)
    val feeds = m.feeds
    assert(feeds.head == "http://your-site.com/your-feed1.rss")
    assert(feeds.contains("http://your-site.com/your-feed2.rss"))
    assert(feeds.contains("http://your-site.com/your-feed3.rss"))
  }

  val faviconPage = """<html>
 <head>
 <link rel="shortcut icon" href="https://www.youtube.com/s/desktop/e4d15d2c/img/favicon.ico" type="image/x-icon"><link rel="icon" href="https://www.youtube.com/s/desktop/e4d15d2c/img/favicon_32x32.png" sizes="32x32"><link rel="icon" href="https://www.youtube.com/s/desktop/e4d15d2c/img/favicon_48x48.png" sizes="48x48">
 <link rel="canonical" href="https://www.example.com/">
 <title>YouTube</title>
 </head>
 <body>
 page body
 </body>
"""

  test("html favicons + canonical") {
    val m = html("https://linkedin.com/test", faviconPage)
    val f = m.favicons
    assert(f.contains("https://www.youtube.com/s/desktop/e4d15d2c/img/favicon.ico"))
    assert(f.contains("https://www.youtube.com/s/desktop/e4d15d2c/img/favicon_32x32.png"))
    assert(f.contains("https://www.youtube.com/s/desktop/e4d15d2c/img/favicon_48x48.png"))
    assert(m.canonicalUrl.contains("https://www.example.com"))
  }

  test("html charset meta and http-equiv") {
    val m1 = html("https://x.com",
      "<html>\n<head><title>YouTube</title>\n<meta charset=\"shift_jis\" />\n</head><body>test</body>")
    assert(m1.charset.contains("shift_jis"))
    val m2 = html("https://x.com",
      "<html>\n<head><title>YouTube</title>\n<meta http-equiv=\"Content-Type\" content = \"text/html; charset=shift_jis\" />\n</head><body>test</body>")
    assert(m2.charset.contains("shift_jis"))
  }

  val schemaPage = """
 <head>
<link itemprop="url" href="https://www.youtube.com/watch?v=111"><meta itemprop="name" content="itemprop name"><meta itemprop="description" content="itemprop description"><span itemprop="author" itemscope itemtype="http://schema.org/Person"><link itemprop="url" href="http://www.youtube.com/@TheFridayCheckout"><link itemprop="name" content="The Friday Checkout"></span><link itemprop="thumbnailUrl" href="https://thumbnailurl.com"><meta itemprop="datePublished" content="2024-05-10T09:04:54-07:00">
 </head>
 <body>
     test
 </body>
"""

  test("html schema fields") {
    val m = html("https://linkedin.com/test", schemaPage)
    assert(m.schemaField("url").contains("https://www.youtube.com/watch?v=111"))
    assert(m.schemaField("name").contains("itemprop name"))
    assert(m.schemaField("description").contains("itemprop description"))
    assert(m.schemaField("thumbnailUrl").contains("https://thumbnailurl.com"))
  }

  val schemaNested = """
 <head>
<div id="w" itemscope itemid="" itemtype="http://schema.org/VideoObject"><link itemprop="url" href="https://www.youtube.com/watch?v=111"><meta itemprop="name" content="itemprop name"><span itemprop="author" itemscope itemtype="http://schema.org/Person"><link itemprop="url" href="http://www.youtube.com/@someotherchannel"><link itemprop="name" content="The Friday Checkout"></span></div>
 </head>
 <body>test</body>
"""

  test("html schema field ex (scoped by itemtype)") {
    val m = html("https://linkedin.com/test", schemaNested)
    assert(m.schemaFieldEx("http://schema.org/VideoObject", "url", "href")
      .contains("https://www.youtube.com/watch?v=111"))
    assert(m.schemaFieldEx("http://schema.org/Person", "url", "href")
      .contains("http://www.youtube.com/@someotherchannel"))
  }

  test("html thumbnail resolves relative schema image") {
    val web = """<!doctype html><html itemscope="" itemtype="http://schema.org/WebPage" lang="pl"><head>
        <meta charset="UTF-8">
        <meta content="origin" name="referrer">
        <meta content="/images/branding/googleg/1x/googleg_standard_color_128dp.png" itemprop="image">
        <title>Google</title>
        <script nonce="x">window._hst=Date.now();pe</script></head></html>"""
    val m = html("https://google.com", web)
    assert(m.schemaField("image")
      .contains("/images/branding/googleg/1x/googleg_standard_color_128dp.png"))
    assert(m.thumbnail.contains(
      "https://google.com/images/branding/googleg/1x/googleg_standard_color_128dp.png"))
  }

  test("html og:video:tag tags") {
    val web = """<!doctype html><html lang="pl"><head><meta charset="UTF-8">
        <meta property="og:video:tag" content="tag1">
        <meta property="og:video:tag" content="tag2">
        <title>Google</title></head></html>"""
    assert(html("https://google.com", web).tags.contains("tag1,tag2"))
  }

  test("html pwa manifest") {
    val web = "<html>\n<head><link rel=\"manifest\" href=\"test_page_manifest.json\" /></head><body></body></html>"
    val m = html("https://linkedin.com/test", web)
    assert(m.isPwa)
    assert(m.pwaManifest.contains("test_page_manifest.json"))
  }

  val perfectPage = """<html lang="pl">
<head>
 <title>title</title>
 <description>selected meta description</description>
 <author>author</author>
 <keywords>nothing else matters</keywords>
 <meta name="title" content="meta title" />
 <meta name="description" content="meta description" />
 <meta property="og:title" content="selected og:title" />
 <meta property="og:description" content="selected og:description" />
 <meta property="og:image" href="https://something-someting.com" />
 <meta itemprop="datePublished" content="2024-01-11T09:00:07-00:00">
 <link rel="manifest" href="test_page_manifest.json" />
</head>
    <body>
    </body>
</html>
"""

  test("html page rating — perfect page is 100, degrades with domain depth") {
    import graft.score.Rating
    val r100 = Rating.htmlRating("https://perfect.com",
      html("https://perfect.com", perfectPage))
    assert(r100 == 100)
    val r1 = Rating.htmlRating("https://www.perfect.com",
      html("https://www.perfect.com", perfectPage))
    assert(r1 < r100)
    val r2 = Rating.htmlRating("https://something.www.perfect.com",
      html("https://something.www.perfect.com", perfectPage))
    assert(r2 < r1)
  }

  test("html body hash") {
    val m = html("https://x.com",
      "<html>\n<head><title>t</title></head><body>some body text</body></html>")
    assert(m.bodyText.contains("some body text"))
    assert(m.bodyHash.map(Hashing.toHex)
      == Hashing.md5("some body text").map(Hashing.toHex))
  }

  // ------------------------------------------------------------------ RSS

  val rssFeed = """
<?xml version="1.0" encoding="UTF-8"?>
<rss xmlns:dc="http://purl.org/dc/elements/1.1/" version="2.0" xmlns:itunes="http://www.itunes.com/dtds/podcast-1.0.dtd">
<channel>
    <title><![CDATA[SAMTIME on Odysee]]></title>
    <subtitle><![CDATA[SAMTIME subtitle]]></subtitle>
    <description><![CDATA[SAMTIME channel description]]></description>
    <link>https://odysee.com/@samtime:1</link>
    <image><url>https://thumbnails.lbry.com/UCd6vEDS3SOhWbXZrxbrf_bw</url>
    <title>SAMTIME on Odysee</title>
    <link>https://odysee.com/@samtime:1</link>
    </image>
    <lastBuildDate>Tue, 28 Nov 2023 13:57:18 GMT</lastBuildDate>
    <language><![CDATA[ci]]></language>
    <itunes:author>SAMTIME author</itunes:author><itunes:image href="https://thumbnails.lbry.com/UCd6vEDS3SOhWbXZrxbrf_bw"/>
    <item><title><![CDATA[First entry title]]></title><description><![CDATA[First entry description]]></description><link>https://odysee.com/first:1</link><pubDate>Mon, 27 Nov 2023 18:50:08 GMT</pubDate><itunes:author>SAMTIME x</itunes:author></item>
    <item><title><![CDATA[Second entry]]></title><description><![CDATA[<p>html desc</p>]]></description><link>https://odysee.com/second:2</link><pubDate>Fri, 24 Nov 2023 18:00:29 GMT</pubDate></item>
</channel>
</rss>
"""

  test("rss channel meta") {
    val m = new RssMeta("https://linkedin.com/test", rssFeed)
    assert(m.isValid)
    assert(m.title.contains("SAMTIME on Odysee"))
    assert(m.description.contains("SAMTIME channel description"))
    assert(m.language.contains("ci"))
    assert(m.thumbnail.contains("https://thumbnails.lbry.com/UCd6vEDS3SOhWbXZrxbrf_bw"))
    assert(m.author.contains("SAMTIME author"))
  }

  test("rss entries with date clamp") {
    val batch = Instant.parse("2024-01-01T00:00:00Z")
    val m = new RssMeta("https://linkedin.com/test", rssFeed)
    val entries = m.entries(batch)
    assert(entries.length == 2)
    assert(entries(0).title.contains("First entry title"))
    assert(entries(0).description.contains("First entry description"))
    assert(entries(0).link == "https://odysee.com/first:1")
    assert(entries(0).datePublished == Instant.parse("2023-11-27T18:50:08Z"))
    assert(entries(0).author.contains("SAMTIME x"))
    assert(entries(1).author.contains("SAMTIME author")) // inherited
    assert(entries(0).language.contains("ci"))
    assert(entries(0).pageRating > 0)
  }

  test("rss future date clamps to batch time") {
    val feed = """<rss><channel><title>t</title>
      <item><title>e</title><link>https://x.com/1</link><pubDate>Mon, 27 Nov 2090 18:50:08 GMT</pubDate></item>
      </channel></rss>"""
    val batch = Instant.parse("2024-01-01T00:00:00Z")
    val m = new RssMeta("https://x.com/feed", feed)
    assert(m.entries(batch)(0).datePublished == batch)
  }

  test("rss missing date becomes batch time") {
    val feed = """<rss><channel><title>t</title>
      <item><title>e</title><link>https://x.com/1</link></item>
      </channel></rss>"""
    val batch = Instant.parse("2024-01-01T00:00:00Z")
    val m = new RssMeta("https://x.com/feed", feed)
    assert(m.entries(batch)(0).datePublished == batch)
  }

  test("rss empty link uses positional fallback") {
    val feed = """<rss><channel><title>t</title>
      <item><title>e1</title><link/>https://ignore.me<guid>https://x.com/guid1</guid></item>
      </channel></rss>"""
    val batch = Instant.parse("2024-01-01T00:00:00Z")
    val m = new RssMeta("https://x.com/feed", feed)
    val entries = m.entries(batch)
    // fallback scans for <link ... > ... < — here the first <link after <item
    assert(entries.length == 1)
    assert(entries(0).link == "https://ignore.me")
  }

  test("rss escaped-in-html workaround") {
    val feed = "<html><body>&lt;rss&gt;&lt;channel&gt;&lt;title&gt;T&lt;/title&gt;&lt;item&gt;&lt;title&gt;e&lt;/title&gt;&lt;link&gt;https://x.com/1&lt;/link&gt;&lt;/item&gt;&lt;/channel&gt;&lt;/rss&gt;</body></html>"
    val m = new RssMeta("https://x.com/feed", feed)
    assert(m.isValid)
    val entries = m.entries(Instant.parse("2024-01-01T00:00:00Z"))
    assert(entries.length == 1)
    assert(entries(0).link == "https://x.com/1")
  }

  test("atom feed entries") {
    val feed = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
      <title>Atom Feed</title>
      <entry><title>A1</title><link href="https://x.com/a1"/><published>2023-05-01T10:00:00Z</published><author><name>alice</name></author></entry>
      </feed>"""
    val m = new RssMeta("https://x.com/atom", feed)
    assert(m.isValid)
    assert(m.title.contains("Atom Feed"))
    val entries = m.entries(Instant.parse("2024-01-01T00:00:00Z"))
    assert(entries.length == 1)
    assert(entries(0).link == "https://x.com/a1")
    assert(entries(0).author.contains("alice"))
    assert(entries(0).datePublished == Instant.parse("2023-05-01T10:00:00Z"))
  }

  // ----------------------------------------------------------------- OPML

  test("opml entries") {
    val opml = """<opml version="1.0"><body>
      <outline text="a" title="Feed A" xmlUrl="https://a.com/rss" htmlUrl="https://a.com"/>
      <outline text="b" title="Feed B" xmlUrl="https://b.com/rss"/>
      <outline text="nofeed" title="No Url"/>
      </body></opml>"""
    assert(OpmlParser.isValid(opml))
    val entries = OpmlParser.entries(opml)
    assert(entries.map(_.url) == Vector("https://a.com/rss", "https://b.com/rss"))
    assert(entries(0).title.contains("Feed A"))
  }

  // -------------------------------------------------------------- factory

  test("page factory cascade") {
    import graft.parse.PageFactory._
    val htmlHeaders = Map("Content-Type" -> "text/html")
    val rssHeaders = Map("Content-Type" -> "application/rss+xml")
    val htmlDoc = "<html><body>x</body></html>"
    assert(recognize("https://x.com", htmlHeaders, Some(htmlDoc))
      .exists(_.kind == "html"))
    assert(recognize("https://x.com", rssHeaders, Some(rssFeed))
      .exists(_.kind == "rss"))
    // server says html but body is RSS → cascade falls to rss
    assert(recognize("https://x.com", htmlHeaders, Some(rssFeed))
      .exists(_.kind == "rss"))
    // media: no page
    assert(recognize("https://x.com/i.png",
      Map("Content-Type" -> "image/png"), Some("junk")).isEmpty)
    // unknown type falls to default
    assert(recognize("https://x.com", Map("Content-Type" -> "text/plain"),
      Some("hello world")).exists(_.kind == "default"))
    assert(recognize("https://x.com", htmlHeaders, None).isEmpty)
  }

  /** Page recognition as it was before the one-cascade rewrite: four
    * hand-ordered chains, each ending in a `guess` that builds the HTML
    * and RSS parsers again. Kept here only as the oracle of the property
    * below. */
  private object ChainedRecognize {
    import graft.http.ContentTypes
    import graft.parse.PageFactory._

    def recognize(url: String, headers: Map[String, String],
        text: Option[String]): Option[Parsed] = {
      val contents = text.getOrElse(return None)
      if (contents.isEmpty) return None
      def tryHtml: Option[Parsed] = {
        val m = new HtmlMeta(url, contents)
        if (m.isValidHtml) Some(ParsedHtml(m)) else None
      }
      def tryRss: Option[Parsed] = {
        val m = new RssMeta(url, contents)
        if (m.isValid) Some(ParsedRss(m)) else None
      }
      def tryOpml: Option[Parsed] =
        if (OpmlParser.isValid(contents))
          Some(ParsedOpml(OpmlParser.entries(contents), url))
        else None
      def tryJson: Option[Parsed] = None
      if (ContentTypes.isHtml(headers))
        return tryHtml.orElse(tryRss).orElse(tryOpml).orElse(tryJson)
          .orElse(guess(url, contents))
      if (ContentTypes.isRss(headers))
        return tryRss.orElse(tryOpml).orElse(tryHtml).orElse(tryJson)
          .orElse(guess(url, contents))
      if (ContentTypes.isJson(headers))
        return tryJson.orElse(tryRss).orElse(tryHtml)
          .orElse(guess(url, contents))
      if (ContentTypes.contains(headers, "image") ||
          ContentTypes.contains(headers, "audio") ||
          ContentTypes.contains(headers, "video") ||
          ContentTypes.contains(headers, "font")) return None
      guess(url, contents)
    }

    private def guess(url: String, contents: String): Option[Parsed] = {
      val html = new HtmlMeta(url, contents)
      if (html.isValidHtml) return Some(ParsedHtml(html))
      val rss = new RssMeta(url, contents)
      if (rss.isValid) return Some(ParsedRss(rss))
      if (OpmlParser.isValid(contents))
        return Some(ParsedOpml(OpmlParser.entries(contents), url))
      Some(ParsedDefault(url, contents))
    }
  }

  test("page recognition equals the chained cascade it replaced") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    val contentTypes = Seq(Some("text/html"), Some("application/xhtml+xml"),
      Some("application/rss+xml"), Some("application/atom+xml"),
      Some("application/xml"), Some("application/json"), Some("text/x-opml"),
      Some("text/plain"), Some("image/png"), Some("font/woff"), None)
    val bodies = Seq(
      """<html lang="en"><head><title>T</title>
        |<meta name="description" content="d">
        |<link rel="alternate" type="application/rss+xml" href="/feed">
        |</head><body><a href="/x">x</a></body></html>""".stripMargin,
      "<html><head><title>Bare</title></head></html>",
      rssFeed,
      """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
        |<title>Atom Feed</title><entry><title>A1</title>
        |<link href="https://x.com/a1"/></entry></feed>""".stripMargin,
      """<?xml version="1.0"?><rdf:RDF
        |xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |xmlns="http://purl.org/rss/1.0/"><channel><title>RDF Feed</title>
        |<link>https://x.com/</link></channel><item><title>R1</title>
        |<link>https://x.com/r1</link></item></rdf:RDF>""".stripMargin,
      "<html><body>&lt;rss&gt;&lt;channel&gt;&lt;title&gt;T&lt;/title&gt;" +
        "&lt;item&gt;&lt;title&gt;e&lt;/title&gt;&lt;link&gt;https://x.com/1" +
        "&lt;/link&gt;&lt;/item&gt;&lt;/channel&gt;&lt;/rss&gt;</body></html>",
      """<rss><channel><title>t</title><item><title>e</title>
        |<link>https://x.com/1</link></item></channel></rss>
        |<html><body>x</body></html>""".stripMargin,
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>https://x.com/a</loc></url></urlset>""".stripMargin,
      """<opml version="1.0"><body>
        |<outline title="A" xmlUrl="https://a.com/rss"/></body></opml>""".stripMargin,
      """{"title": "t", "items": [1, 2]}""",
      "hello world")
    // one body, or two glued together so that tags of several page types
    // meet in one response
    val body: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf(bodies),
      2 -> Gen.zip(Gen.oneOf(bodies), Gen.oneOf(bodies)).map {
        case (a, b) => a + b })
    val url = "https://x.com/page"
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(Gen.oneOf(contentTypes), body) { (ct, b) =>
        val headers = ct.map("Content-Type" -> _).toMap
        val got = PageFactory.recognize(url, headers, Some(b))
        val want = ChainedRecognize.recognize(url, headers, Some(b))
        Prop(got.map(_.kind) == want.map(_.kind) &&
          PageFactory.toPageMeta(url, got) ==
            PageFactory.toPageMeta(url, want)) :| s"$ct\n$b"
      })
    assert(result.passed, result.status.toString)
  }

  test("date guessing") {
    val now = Instant.parse("2024-06-01T00:00:00Z")
    assert(DateKit.guessDate("published on Jan. 15, 2024 by x", now)
      .contains(Instant.parse("2024-01-15T00:00:00Z")))
    assert(DateKit.guessDate("date: 15 January 2024 14:48 UTC", now)
      .contains(Instant.parse("2024-01-15T00:00:00Z")))
    assert(DateKit.guessDate("archived 2020-03-07 snapshot", now)
      .contains(Instant.parse("2020-03-07T00:00:00Z")))
    assert(DateKit.guessDate("no dates here", now).isEmpty)
  }

  test("content type helpers") {
    import graft.http.ContentTypes
    val h = Map("Content-Type" -> "text/html; charset=UTF-8")
    assert(ContentTypes.isHtml(h))
    assert(ContentTypes.charset(h).contains("UTF-8"))
    assert(ContentTypes.contentTypeKeys(h).contains(Seq("text", "html")))
    assert(ContentTypes.contentTypeKeys(
      Map("content-type" -> "application/rss+xml"))
      .contains(Seq("application", "rss", "xml")))
    assert(ContentTypes.charset(
      Map("Content-Type" -> "text/html; charset=\"utf-8\"")).contains("utf-8"))
  }

  /** The page-type scan as it was before the allocation-free search: it
    * lower-cases the whole page, then looks the tags up. Kept here only
    * as the oracle of the property below. */
  private object LowerCasedValidity {
    def html(lower: String): Int = {
      val h = lower.indexOf("<html")
      if (h >= 0 && (lower.contains("<body") || lower.contains("<meta"))) h
      else -1
    }
    def rss(lower: String): Int =
      if (lower.contains("<rss") && lower.contains("<channel"))
        lower.indexOf("<rss")
      else if (lower.contains("<feed") && lower.contains("<entry"))
        lower.indexOf("<feed")
      else if (lower.contains("<rdf") && lower.contains("<channel"))
        lower.indexOf("<rdf")
      else -1
    def isContentsHtml(contents: String, locale: java.util.Locale): Boolean =
      if (contents == null || contents.isEmpty) false
      else {
        val lower = contents.toLowerCase(locale)
        val (h, r) = (html(lower), rss(lower))
        if (h >= 0 && r >= 0) h < r else h >= 0
      }
  }

  test("page-type tag search equals lower-casing the page, in any locale") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // tags in mixed case, next to the characters whose lower case is or
    // contains an ASCII letter (U+0130 İ → i̇, U+212A Kelvin → k) and a
    // letter whose upper case is ASCII (U+017F ſ → S)
    val tags = Seq("html", "body", "meta", "rss", "channel", "feed",
      "entry", "rdf", "link", "title")
    val mixedCase: Gen[String] = for {
      t <- Gen.oneOf(tags)
      flips <- Gen.listOfN(t.length, Gen.oneOf(true, false))
    } yield "<" + t.zip(flips).map { case (c, up) =>
      if (up) c.toUpper else c }.mkString
    val token: Gen[String] = Gen.frequency(
      6 -> mixedCase,
      1 -> Gen.oneOf("\u0130", "\u212A", "\u017F", "<", ">", " ", "x",
        "<\u0130", "<h\u212Atml", "<r\u017Fs", "<\u017Fpan"))
    val page: Gen[String] = Gen.listOf(token).map(_.mkString)
    val locales = Seq(java.util.Locale.ROOT, java.util.Locale.forLanguageTag("tr"))
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(5000).withMaxSize(40),
      Prop.forAll(page) { s =>
        locales.forall(l => PageValidity.isContentsHtml(s) ==
          LowerCasedValidity.isContentsHtml(s, l)) &&
          (PageValidity.positionOfHtmlTags(s) >= 0) ==
            (LowerCasedValidity.html(s.toLowerCase(java.util.Locale.ROOT)) >= 0) &&
          (PageValidity.positionOfRssTags(s) >= 0) ==
            (LowerCasedValidity.rss(s.toLowerCase(java.util.Locale.ROOT)) >= 0)
      })
    assert(result.passed, result.status.toString)
    assert(PageValidity.isContentsHtml("<HTML><BODY>x</BODY></HTML>"))
    assert(!PageValidity.isContentsHtml("<rss><channel><html><body>"))
    assert(PageValidity.isContentsHtml("<html><body><rss><channel>"))
  }
}
