package graft.parse

import java.sql.Timestamp
import graft.http.ContentTypes
import graft.model.PageMeta
import graft.score.Rating

/** Content-type-ordered page recognition — cheapest likely parser first,
  * validity checks deciding the cascade
  * (reference: webtoolkit/pages.py:1328-1432). */
object PageFactory {

  sealed trait Parsed { def kind: String }
  final case class ParsedHtml(meta: HtmlMeta) extends Parsed { val kind = "html" }
  final case class ParsedRss(meta: RssMeta) extends Parsed { val kind = "rss" }
  final case class ParsedOpml(entries: Vector[OpmlParser.OpmlEntry], url: String)
      extends Parsed { val kind = "opml" }
  final case class ParsedDefault(url: String, contents: String) extends Parsed {
    val kind = "default"
  }

  /** One candidate parser: the page it recognizes, or None when its
    * validity check fails. */
  private type Candidate = (String, String) => Option[Parsed]

  private val html: Candidate = (url, contents) => {
    val m = new HtmlMeta(url, contents)
    Option.when(m.isValidHtml)(ParsedHtml(m))
  }
  private val rss: Candidate = (url, contents) => {
    val m = new RssMeta(url, contents)
    Option.when(m.isValid)(ParsedRss(m))
  }
  private val opml: Candidate = (url, contents) =>
    Option.when(OpmlParser.isValid(contents))(
      ParsedOpml(OpmlParser.entries(contents), url))

  private val htmlFirst = List(html, rss, opml)
  private val rssFirst = List(rss, opml, html)
  // the reference tries a JsonPage first, but one is never valid: it
  // nulls every parsed object that is not `{}` (pages.py:79-93)
  private val jsonFirst = List(rss, html, opml)

  /** The trial order per suggested content type (pages.py:1339-1432):
    * each candidate runs at most once, the first valid one wins, else the
    * throw-nothing default page. Media/font responses yield None; unknown
    * types take the HTML order. */
  def recognize(url: String, headers: Map[String, String],
      text: Option[String]): Option[Parsed] = {
    val contents = text.getOrElse(return None)
    if (contents.isEmpty) return None
    val order =
      if (ContentTypes.isHtml(headers)) htmlFirst
      else if (ContentTypes.isRss(headers)) rssFirst
      else if (ContentTypes.isJson(headers)) jsonFirst
      else if (Seq("image", "audio", "video", "font")
          .exists(ContentTypes.contains(headers, _))) return None
      else htmlFirst
    order.iterator.flatMap(_(url, contents)).nextOption()
      .orElse(Some(ParsedDefault(url, contents)))
  }

  /** Flatten a parsed page into the wide [[PageMeta]] struct
    * (the §3.2 properties projection). */
  def toPageMeta(url: String, parsed: Option[Parsed]): PageMeta =
    parsed match {
      case Some(ParsedHtml(m)) =>
        PageMeta(
          link = url,
          title = m.title,
          description = m.description,
          author = m.author,
          album = None,
          thumbnail = m.thumbnail,
          language = Some(m.language),
          pageRating = Rating.htmlRating(url, m),
          datePublished = m.datePublished.map(Timestamp.from),
          tags = m.tags,
          linkCanonical = m.canonicalUrl.orElse(Some(url)),
          metaTitle = m.metaField("title"),
          metaDescription = m.metaField("description"),
          ogTitle = m.ogField("title"),
          ogDescription = m.ogField("description"),
          ogSiteName = m.ogField("site_name"),
          ogLocale = m.ogField("locale"),
          ogImage = m.ogField("image"),
          charset = m.charset,
          feeds = m.feeds,
          favicons = m.favicons,
          contentsLength = Some(m.contents.length.toLong),
          pageType = "html",
          bodyHashHex = m.bodyHash.map(Hashing.toHex))
      case Some(ParsedRss(m)) =>
        PageMeta(
          link = url,
          title = m.title,
          description = m.description,
          author = m.author,
          album = None,
          thumbnail = m.thumbnail,
          language = m.language,
          pageRating = Rating.contentRating(url, m.title, m.description,
            m.language, m.thumbnail, m.datePublished.isDefined),
          datePublished = m.datePublished.map(Timestamp.from),
          tags = None,
          linkCanonical = Some(url),
          metaTitle = None, metaDescription = None, ogTitle = None,
          ogDescription = None, ogSiteName = None, ogLocale = None,
          ogImage = None,
          charset = m.charset,
          feeds = m.feeds,
          favicons = Map.empty,
          contentsLength = Option(m.contents).map(_.length.toLong),
          pageType = "rss",
          bodyHashHex = m.bodyHash.map(Hashing.toHex))
      case Some(ParsedOpml(entries, u)) =>
        PageMeta(u, None, None, None, None, None, None, 0, None, None,
          Some(u), None, None, None, None, None, None, None, None,
          entries.map(_.url), Map.empty, None, "opml", None)
      case Some(ParsedDefault(u, contents)) =>
        PageMeta(u, None, None, None, None, None, None, 0, None, None,
          Some(u), None, None, None, None, None, None, None, None,
          Seq.empty, Map.empty, Some(contents.length.toLong), "default",
          Hashing.md5(contents).map(Hashing.toHex))
      case None =>
        PageMeta(url, None, None, None, None, None, None, 0, None, None,
          Some(url), None, None, None, None, None, None, None, None,
          Seq.empty, Map.empty, None, "none", None)
    }
}
