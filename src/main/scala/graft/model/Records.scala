package graft.model

import java.sql.Timestamp

/** Core record shapes of the engine — fixed case-class schemas replacing
  * the reference's dynamic property dicts (SURVEY.md §1.1; reference:
  * webtoolkit/request.py:16-65, webtoolkit/response.py:178-265,
  * webtoolkit/contentinterface.py:164-182).
  *
  * Everything is `Encoder`-friendly: Options for nullables, Map/Seq for
  * dicts/lists, java.sql.Timestamp for UTC instants (session TZ is pinned
  * UTC), Array[Byte] for binary.
  */

/** Fetch request (reference: webtoolkit/request.py:16-65). */
final case class FetchRequest(
    url: String,
    userAgent: String,
    requestHeaders: Map[String, String],
    timeoutS: Int,
    delayS: Int,
    requestType: String, // "ping" | "head" | "full" (request.py:11-13)
    sslVerify: Boolean,
    respectRobots: Boolean,
    acceptTypes: Seq[String],
    bytesLimit: Long,
    httpProxy: Option[String],
    httpsProxy: Option[String],
    settings: Map[String, String],
    cookies: Map[String, String],
    crawlerName: String,
    handlerName: Option[String],
    clientId: Option[String])

object FetchRequest {
  val TypePing = "ping"
  val TypeHead = "head"
  val TypeFull = "full"

  /** Fixed deterministic UA (a randomized ua_generator would break
    * replay); the crawl loop's robots gate checks the same agent. */
  val UserAgent = "Mozilla/5.0 (X11; Linux x86_64) graft/1.0"

  /** Defaults mirror the reference config: 20 s crawler timeout
    * (crawlerinterface.py:253-259), 5 MB byte limit (webconfig.py:128-129),
    * [[UserAgent]]. */
  def default(url: String): FetchRequest = FetchRequest(
    url = url,
    userAgent = UserAgent,
    requestHeaders = Map.empty,
    timeoutS = 20,
    delayS = 0,
    requestType = TypeFull,
    sslVerify = false,
    respectRobots = true,
    acceptTypes = Seq.empty,
    bytesLimit = 5000000L,
    httpProxy = None,
    httpsProxy = None,
    settings = Map.empty,
    cookies = Map.empty,
    crawlerName = "SyntheticCrawler",
    handlerName = None,
    clientId = None)
}

/** Fetch response (reference: webtoolkit/response.py:178-265). */
final case class FetchResponse(
    url: String, // final, post-redirect
    requestUrl: String, // original
    status: Int,
    headers: Map[String, String],
    body: Array[Byte],
    text: Option[String],
    encoding: String,
    errors: Seq[String],
    crawlTimeMs: Long,
    recognizedContentType: Option[String],
    bodyHash: Option[Array[Byte]])

/** Wide nullable page-metadata struct — the canonical "properties" map
  * (reference: webtoolkit/contentinterface.py:164-182 + HTML extras at
  * webtoolkit/pages.py:1130-1159). */
final case class PageMeta(
    link: String,
    title: Option[String],
    description: Option[String],
    author: Option[String],
    album: Option[String],
    thumbnail: Option[String],
    language: Option[String],
    pageRating: Int,
    datePublished: Option[Timestamp],
    tags: Option[String],
    linkCanonical: Option[String],
    metaTitle: Option[String],
    metaDescription: Option[String],
    ogTitle: Option[String],
    ogDescription: Option[String],
    ogSiteName: Option[String],
    ogLocale: Option[String],
    ogImage: Option[String],
    charset: Option[String],
    feeds: Seq[String],
    favicons: Map[String, String],
    contentsLength: Option[Long],
    pageType: String, // html | rss | opml | default | none
    bodyHashHex: Option[String])

/** One row of the image corpus (BASELINE.json input_hint). */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)
