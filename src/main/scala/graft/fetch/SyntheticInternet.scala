package graft.fetch

import java.nio.charset.StandardCharsets
import graft.model.ImageRow

/** Deterministic fake internet: a pure `url → (status, headers, body)`
  * oracle, mirroring the URL-keyed dispatch style of the reference's own
  * test double (reference: webtoolkit/tests/fakeresponse.py:158-298 — the
  * big if/elif tables keyed by URL; content-type by prefix, status by URL,
  * image URLs carry binary only).
  *
  * URL space (FIXTURES.md §2):
  *   https://site-<k>.test/            HTML root: links + feed + images
  *   https://site-<k>.test/page/<j>    HTML page: intra- + cross-site links
  *   https://site-<k>.test/feed        RSS with items
  *   https://site-<k>.test/robots.txt  robots with Disallow + Sitemap
  *   https://site-<k>.test/img/<id>.<fmt>  image bytes (corpus row)
  *   https://site-<k>.test/private/…   200 page (robots-disallowed)
  *   https://status-<code>.test/       that status
  *   https://slow.test/ , https://big.test/   timeout / too-big paths
  *   https://crash.test/               fetch throws (600 exception path)
  */
final case class SyntheticConfig(
    seed: Long = 42L,
    nSites: Int = 10,
    pagesPerSite: Int = 8,
    imagesPerSite: Int = 4,
    itemsPerFeed: Int = 5,
    /** body paragraphs per content page — sized so a synthetic page costs
      * roughly what parsing a real ~50 KB web page costs */
    bodyParagraphs: Int = 0,
    /** how long https://slow.test stalls before answering — exercises the
      * S3 total-timeout watchdog (crawlerinterface.py:280-307) */
    slowDelayMs: Long = 3000L,
    /** serve the social-handler fixture hosts (youtube / reddit / HN /
      * their JSON APIs) — off by default so site-N crawls stay minimal */
    socialSites: Boolean = false,
    /** serve /sitemap.xml (sitemapindex → urlset, incl. an orphan page
      * reachable only through the sitemap) — L7 recursive expansion */
    sitemaps: Boolean = true)

final case class SyntheticResponse(
    status: Int,
    headers: Map[String, String],
    body: Array[Byte],
    text: Option[String])

final case class SyntheticInternet(config: SyntheticConfig) extends Serializable {

  import ImageKit.mix

  private def textResponse(status: Int, contentType: String,
      text: String): SyntheticResponse = {
    val bytes = text.getBytes(StandardCharsets.UTF_8) // encode ONCE
    SyntheticResponse(status,
      Map("Content-Type" -> contentType,
        "Content-Length" -> bytes.length.toString),
      bytes, Some(text))
  }

  /** The oracle. Unknown URLs → 404. */
  def get(url: String): SyntheticResponse = {
    val sitePrefix = "https://site-"
    if (url.startsWith(sitePrefix)) {
      val rest = url.substring(sitePrefix.length)
      val dot = rest.indexOf(".test")
      if (dot < 0) return textResponse(404, "text/html", notFound(url))
      val k = rest.substring(0, dot).toIntOption.getOrElse(
        return textResponse(404, "text/html", notFound(url)))
      if (k < 0 || k >= config.nSites)
        return textResponse(404, "text/html", notFound(url))
      val path = rest.substring(dot + ".test".length)
      sitePath(k, path, url)
    } else if (url.startsWith("https://status-")) {
      val rest = url.substring("https://status-".length)
      val dot = rest.indexOf(".test")
      val code = if (dot > 0) rest.substring(0, dot).toIntOption.getOrElse(404)
        else 404
      textResponse(code, "text/html", s"<html><body>status $code</body></html>")
    } else if (url.startsWith("https://slow.test")) {
      // a genuinely stalled read: the fetch client's watchdog must cut it
      // off and map it to the 604 timeout status (S3)
      try Thread.sleep(config.slowDelayMs)
      catch { case _: InterruptedException => /* watchdog abandoned us */ }
      textResponse(200, "text/html",
        "<html><head><title>slow</title></head><body>finally</body></html>")
    } else if (config.socialSites && socialResponse(url).nonEmpty) {
      socialResponse(url).get
    } else if (url.startsWith("https://crash.test")) {
      // a fetch that blows up mid-flight: the client must map it to the
      // 600 exception status with the message, NOT the 604 timeout
      throw new IllegalStateException(s"synthetic connection reset: $url")
    } else if (url.startsWith("https://big.test")) {
      // header says 10 MB — the byte-limit guard must reject before body
      SyntheticResponse(200,
        Map("Content-Type" -> "application/octet-stream",
          "Content-Length" -> "10000000"),
        Array.empty, None)
    } else textResponse(404, "text/html", notFound(url))
  }

  private def notFound(url: String): String =
    s"<html><head><title>404 Not Found</title></head><body>$url</body></html>"

  private def redirect(status: Int, location: String): SyntheticResponse =
    SyntheticResponse(status,
      Map("Location" -> location, "Content-Length" -> "0"),
      Array.empty, None)

  private def sitePath(k: Int, path: String, url: String): SyntheticResponse =
    path match {
      case "" | "/" => textResponse(200, "text/html", rootPage(k))
      case "/feed" =>
        textResponse(200, "application/rss+xml", feedPage(k))
      case "/feeds.opml" =>
        textResponse(200, "text/x-opml", opmlPage(k))
      case "/api/info.json" =>
        // the reference's JSON-page quirk: a JSON body is never a valid
        // page (pages.py:75-93) — it must fall through to default type
        textResponse(200, "application/json",
          s"""{"title": "Site $k API", "description": "synthetic api"}""")
      case "/robots.txt" => textResponse(200, "text/plain", robotsTxt(k))
      // 301/302 chains — the redirect-following parity surface
      // (reference behavior: requests follows, response.py:197-210)
      case p if p.startsWith("/moved/") =>
        redirect(301, s"/page/${p.substring("/moved/".length)}")
      case "/hop" => redirect(302, "/moved/0")
      // /target is reached through this redirect AND linked directly from
      // /page/0 in the SAME batch — exercises the final-URL seen-set
      // credit (never re-fetched once redirected to) including the
      // redirect-vs-fresh-link precedence collision
      case "/alias" => redirect(301, "/target")
      case "/target" =>
        textResponse(200, "text/html",
          s"""<html lang="en"><head><title>Target of site $k</title>
             |<meta name="description" content="redirect-only page" />
             |</head><body>target</body></html>""".stripMargin)
      case "/sitemap.xml" if config.sitemaps =>
        textResponse(200, "application/xml", sitemapIndex(k))
      case "/sitemap-pages.xml" if config.sitemaps =>
        textResponse(200, "application/xml", sitemapPages(k))
      case "/orphan" if config.sitemaps =>
        textResponse(200, "text/html",
          s"""<html lang="en"><head><title>Orphan of site $k</title>
             |<meta name="description" content="reachable only via sitemap" />
             |</head><body>orphan</body></html>""".stripMargin)
      case p if p.startsWith("/page/") =>
        p.substring("/page/".length).toIntOption match {
          case Some(j) if j >= 0 && j < config.pagesPerSite =>
            textResponse(200, "text/html", contentPage(k, j))
          case _ => textResponse(404, "text/html", notFound(url))
        }
      case p if p.startsWith("/img/") =>
        imageFor(k, p) match {
          case Some(row) =>
            SyntheticResponse(200,
              Map("Content-Type" -> s"image/${row.fmt}",
                "Content-Length" -> row.bytes.length.toString),
              row.bytes, None) // images carry no text (fakeresponse.py:283-295)
          case None => textResponse(404, "text/html", notFound(url))
        }
      case p if p.startsWith("/private") =>
        textResponse(200, "text/html",
          s"<html><head><title>private $k</title></head><body>secret</body></html>")
      case _ => textResponse(404, "text/html", notFound(url))
    }

  /** Image ids are global corpus indexes: site k owns rows
    * k*imagesPerSite … (k+1)*imagesPerSite-1. */
  def imageIndexOf(k: Int, slot: Int): Int = k * config.imagesPerSite + slot

  def imageRowFor(k: Int, slot: Int): ImageRow =
    ImageKit.imageRow(config.seed, imageIndexOf(k, slot))

  private def imageFor(k: Int, path: String): Option[ImageRow] = {
    // /img/img00000003.jpeg
    val name = path.substring("/img/".length)
    val dot = name.lastIndexOf('.')
    if (dot < 0) return None
    val id = name.substring(0, dot)
    if (!id.startsWith("img")) return None
    id.substring(3).toIntOption.flatMap { idx =>
      val slot = idx - k * config.imagesPerSite
      if (slot < 0 || slot >= config.imagesPerSite) None
      else {
        val row = ImageKit.imageRow(config.seed, idx)
        if (row.image_id == id) Some(row) else None
      }
    }
  }

  /** Root page: og/meta head, feed link, links to pages, images, one
    * cross-site link, one robots-disallowed link. */
  private def rootPage(k: Int): String = {
    val pages = (0 until config.pagesPerSite)
      .map(j => s"""      <a href="/page/$j">page $j</a>""").mkString("\n")
    val images = (0 until config.imagesPerSite)
      .map { s =>
        val row = imageRowFor(k, s)
        s"""      <a href="/img/${row.image_id}.${row.fmt}">${row.caption}</a>"""
      }.mkString("\n")
    val next = (k + 1) % config.nSites
    s"""<html lang="en">
<head>
  <title>Site $k — synthetic</title>
  <meta name="description" content="Synthetic site $k root" />
  <meta property="og:title" content="Site $k" />
  <link rel="alternate" type="application/rss+xml" href="/feed" />
  <link rel="icon" href="/img/favicon.ico" />
</head>
<body>
$pages
$images
      <a href="https://site-$next.test/">next site</a>
      <a href="/private/secret">private area</a>
      <a href="/moved/1">old page 1 location</a>
      <a href="/hop">double hop</a>
      <a href="/alias">aliased page</a>
      <a href="/feeds.opml">feed list</a>
      <a href="/api/info.json">api info</a>
</body>
</html>
"""
  }

  /** Content page: seeded subset of sibling links + a cross-site link +
    * optional body bulk (so per-page parse cost matches real HTML). */
  private def contentPage(k: Int, j: Int): String = {
    val h = mix(config.seed, s"site-$k-page-$j")
    val siblings = (0 until config.pagesPerSite)
      .filter(s => s != j && ((h >> s) & 1L) == 1L)
      .map(s => s"""      <a href="/page/$s">sibling $s</a>""").mkString("\n")
    val cross = (math.abs(h) % config.nSites).toInt
    val published = s"2024-0${1 + (math.abs(h) % 9)}-1${math.abs(h >> 8) % 9}"
    val body =
      if (config.bodyParagraphs <= 0) ""
      else (0 until config.bodyParagraphs).map { p =>
        val hp = mix(h, p.toString)
        val words = (0 until 80).map(w =>
          wordTable(((hp >> (w % 56)) & 0x3f).toInt ^ (w & 0x3f)))
        s"      <p>${words.mkString(" ")}</p>"
      }.mkString("\n")
    s"""<html lang="en">
<head>
  <title>Site $k page $j</title>
  <meta name="description" content="Page $j of site $k" />
  <meta property="article:published_time" content="${published}T10:00:00Z" />
</head>
<body>
$siblings
      <a href="https://site-$cross.test/">cross link</a>
      <a href="/">home</a>
${if (j == 0) "      <a href=\"/target\">direct target link</a>" else ""}
$body
</body>
</html>
"""
  }

  private val wordTable: IndexedSeq[String] = {
    val syllables = Vector("ba", "de", "ki", "lo", "mu", "na", "po", "ra",
      "se", "ti", "vu", "wa", "ze", "chi", "dro", "fal")
    (0 until 64).map { i =>
      syllables(i % 16) + syllables((i / 4) % 16) + syllables((i / 16) % 16)
    }
  }

  /** RSS feed with one empty-`<link/>`-fallback entry per FIXTURES.md §2. */
  private def feedPage(k: Int): String = {
    val items = (0 until config.itemsPerFeed).map { i =>
      val h = mix(config.seed, s"feed-$k-item-$i")
      val day = 1 + (math.abs(h) % 27)
      if (i == config.itemsPerFeed - 1)
        // positional-fallback case (pages.py:168-214): empty link element
        s"""    <item><title>Item $i of site $k</title><link/>https://site-$k.test/page/${i % config.pagesPerSite}<pubDate>Mon, $day Jan 2024 10:00:00 GMT</pubDate></item>"""
      else
        s"""    <item><title>Item $i of site $k</title><description>entry $i</description><link>https://site-$k.test/page/${i % config.pagesPerSite}</link><pubDate>Mon, $day Jan 2024 10:00:00 GMT</pubDate></item>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
<rss version="2.0">
<channel>
  <title>Site $k feed</title>
  <description>Synthetic feed $k</description>
  <link>https://site-$k.test/</link>
  <language>en</language>
$items
</channel>
</rss>
"""
  }

  /** Every site disallows /private/; even sites also disallow /page/7. */
  private def robotsTxt(k: Int): String = {
    val extra = if (k % 2 == 0) "Disallow: /page/7\n" else ""
    s"""User-agent: *
Disallow: /private/
${extra}Sitemap: https://site-$k.test/sitemap.xml
"""
  }

  /** OPML outline listing this site's feed and the next site's — its
    * xmlUrl entries become frontier work through the O1 parser. */
  private def opmlPage(k: Int): String = {
    val next = (k + 1) % config.nSites
    s"""<?xml version="1.0" encoding="UTF-8"?>
<opml version="2.0">
<head><title>Site $k subscriptions</title></head>
<body>
  <outline text="Site $k feed" title="Site $k feed" type="rss" xmlUrl="https://site-$k.test/feed" />
  <outline text="Site $next feed" title="Site $next feed" type="rss" xmlUrl="https://site-$next.test/feed" />
</body>
</opml>
"""
  }

  /** Sitemap index → child urlset (recursion per sitemaps.org protocol;
    * the reference expands these via its link scan, domaincache.py:130-167). */
  private def sitemapIndex(k: Int): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://site-$k.test/sitemap-pages.xml</loc></sitemap>
</sitemapindex>
"""

  /** Child urlset: all pages plus /orphan (reachable only from here). */
  private def sitemapPages(k: Int): String = {
    val urls = ((0 until config.pagesPerSite)
      .map(j => s"https://site-$k.test/page/$j") :+
      s"https://site-$k.test/orphan")
      .map(u => s"  <url><loc>$u</loc></url>").mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
$urls
</urlset>
"""
  }

  // ----------------------------------------------- social fixture hosts

  /** Deterministic social-web corner: a seed page linking to a YouTube
    * video, a YouTube @handle channel, a Reddit post and an HN item, plus
    * the JSON APIs their handlers side-fetch (J-5 / §2.9 two-phase). */
  private def socialResponse(url: String): Option[SyntheticResponse] = {
    val u = if (url.endsWith("/")) url.dropRight(1) else url
    u match {
      case "https://social.test" =>
        Some(textResponse(200, "text/html",
          """<html lang="en"><head><title>Social hub</title></head><body>
            |  <a href="https://www.youtube.com/watch?v=vidA">a video</a>
            |  <a href="https://www.youtube.com/@handletest">a channel</a>
            |  <a href="https://www.reddit.com/r/test/comments/p1/title">a post</a>
            |  <a href="https://news.ycombinator.com/item?id=99">an item</a>
            |</body></html>""".stripMargin))
      case "https://www.youtube.com/watch?v=vidA" =>
        Some(textResponse(200, "text/html",
          """<html lang="en"><head><title>Video A - YouTube</title>
            |<meta property="og:title" content="Video A" />
            |</head><body>video page</body></html>""".stripMargin))
      case "https://returnyoutubedislikeapi.com/votes?videoId=vidA" =>
        Some(textResponse(200, "application/json",
          """{"id":"vidA","likes":100,"dislikes":10,"viewCount":5000,"rating":4.5}"""))
      case "https://www.youtube.com/@handletest" =>
        // name-form channel: feed only discoverable from the page HTML —
        // the two-phase fetch round (handlerchannelyoutube.py:107-114)
        Some(textResponse(200, "text/html",
          """<html lang="en"><head><title>Handle Test - YouTube</title>
            |<link rel="alternate" type="application/rss+xml" href="https://www.youtube.com/feeds/videos.xml?channel_id=UChandle123" />
            |</head><body>channel page</body></html>""".stripMargin))
      case "https://www.youtube.com/feeds/videos.xml?channel_id=UChandle123" =>
        Some(textResponse(200, "application/rss+xml",
          """<?xml version="1.0" encoding="UTF-8"?>
            |<rss version="2.0"><channel>
            |  <title>Handle Test channel</title>
            |  <link>https://www.youtube.com/channel/UChandle123</link>
            |  <item><title>Handle video</title><link>https://www.youtube.com/watch?v=vidA</link></item>
            |</channel></rss>""".stripMargin))
      case "https://www.reddit.com/r/test/comments/p1/title" =>
        Some(textResponse(200, "text/html",
          """<html lang="en"><head><title>A reddit post</title></head>
            |<body>post body</body></html>""".stripMargin))
      case "https://www.reddit.com/p1.json" =>
        // reddit comment JSON is not strictly parseable (reference scans it
        // by raw text, handlers.py:59-96) — serve a similarly messy blob
        Some(textResponse(200, "application/json",
          """[{"data": {"children": [{"kind": "t3", "data": {"upvote_ratio": 0.93, "score": 321, "ups": 321}}]}}]"""))
      case "https://news.ycombinator.com/item?id=99" =>
        Some(textResponse(200, "text/html",
          """<html lang="en"><head><title>HN item 99</title></head>
            |<body>story</body></html>""".stripMargin))
      case "https://hacker-news.firebaseio.com/v0/item/99.json?print=pretty" =>
        Some(textResponse(200, "application/json",
          """{"by":"tester","id":99,"score":42,"descendants":7,"type":"story","title":"HN item 99"}"""))
      case _ => None
    }
  }
}
