package graft.links

import scala.util.matching.Regex
import graft.url.UrlKit

/** Link extraction from page content — the engine's generator ("one page row
  * → N link rows", exploded in the crawl loop).
  *
  * Behavior parity with the reference's content link parser
  * (reference: webtoolkit/contentlinkparser.py): three scans (raw regex,
  * HTML-entity-encoded regex, href attributes), suspicious-char truncation,
  * invalid-link removal. The reference computes but discards a final
  * `is_web_link` filter (contentlinkparser.py:42-47 returns the pre-filter
  * set) — reproduced here; frontier admission applies that filter later.
  *
  * Scanning. `Regex.findAllIn` runs `Matcher.find`, which attempts a match
  * at every character of the page. Every match of the five link patterns
  * starts with a fixed literal (`htt` for the four URL patterns, `href="`
  * for the attribute pattern), and none of them uses an anchor or a
  * lookaround. So a match can only start where the literal occurs, and
  * `lookingAt` on the region starting there makes exactly the attempt
  * `find` makes at that position. [[LinkPattern.matches]] therefore visits
  * only the literal's occurrences (`String.indexOf`), and skips those that
  * start before the previous match's end, as `find` resumes there: the
  * result is the same non-overlapping matches, in the same order, as
  * `findAllIn` on the same pattern.
  */
object LinkExtractor {

  /** A link pattern whose every match starts with `literal`, and which has
    * no anchors or lookarounds; group 1 is the extracted link. */
  private[graft] final class LinkPattern(val literal: String, val regex: Regex) {
    /** Group 1 of each match `regex.findAllMatchIn(contents)` yields, in
      * the same order. */
    def matches(contents: String): Seq[String] = {
      val out = Vector.newBuilder[String]
      val m = regex.pattern.matcher(contents)
      val n = contents.length
      var i = contents.indexOf(literal)
      while (i >= 0) {
        if (m.region(i, n).lookingAt()) {
          out += m.group(1)
          i = contents.indexOf(literal, m.end())
        } else i = contents.indexOf(literal, i + 1)
      }
      out.result()
    }
  }

  private[graft] val rawPatterns: Map[String, LinkPattern] = Map(
    "https" -> new LinkPattern("htt",
      raw"(https?://[a-zA-Z0-9./\-_?&=#;:]+)".r),
    "http" -> new LinkPattern("htt",
      raw"(http?://[a-zA-Z0-9./\-_?&=#;:]+)".r))

  private[graft] val encodedPatterns: Map[String, LinkPattern] = Map(
    "https" -> new LinkPattern("htt",
      raw"(https?:&#x2F;&#x2F;[a-zA-Z0-9./\-_?&=#;:]+)".r),
    "http" -> new LinkPattern("htt",
      raw"(http?:&#x2F;&#x2F;[a-zA-Z0-9./\-_?&=#;:]+)".r))

  private def stripTrailingDots(s: String): String =
    s.substring(0, s.lastIndexWhere(_ != '.') + 1)

  /** Plain `https?://…` scan; trailing dots stripped
    * (contentlinkparser.py:90-98). */
  def linksRaw(contents: String, protocol: String = "https"): Set[String] =
    rawPatterns(protocol).matches(contents).iterator
      .map(stripTrailingDots).toSet

  /** Entity-encoded `https?:&#x2F;&#x2F;…` scan, decoded after match.
    * Returns a Seq — the reference returns a list here, duplicates intact
    * (contentlinkparser.py:100-110). */
  def linksEncoded(contents: String, protocol: String = "https"): Seq[String] =
    encodedPatterns(protocol).matches(contents)
      .map(l => HtmlEntities.unescape(stripTrailingDots(l)))

  private[graft] val hrefPattern =
    new LinkPattern("href=\"", raw"""href="([a-zA-Z0-9./\-_?&=@#;:]+)""".r)
  private val schemePrefix = raw"^[a-zA-Z0-9]+:".r
  private val userAtPrefix = raw"^[a-zA-Z0-9]+@".r

  /** href attribute scan with per-item normalization
    * (contentlinkparser.py:123-141). */
  def linksHref(pageUrl: String, contents: String): Set[String] = {
    val url = pageUrl match {
      case null => null
      case u    => UrlKit.noArgLink(u).orNull
    }
    val domain = UrlKit.domainFull(url).orNull
    hrefPattern.matches(contents).iterator
      .flatMap(processAhrefItem(url, domain, _)).toSet
  }

  private val bareSchemes = Set("http://", "https://", "ftp://", "smb://")

  private def isLinkValid(link: String): Boolean =
    link != null && link.nonEmpty && !bareSchemes.contains(link)

  private def joinUrlParts(a0: String, b0: String): String = {
    val a = if (a0.endsWith("/")) a0 else a0 + "/"
    val b = if (b0.startsWith("/")) b0.substring(1) else b0
    a + b
  }

  /** Normalize one href: strip mailto:/tel:-style schemes, `//`→https,
    * `/`→domain join, strip `user@`, relative→page join, https default,
    * entity decode (contentlinkparser.py:143-201). */
  def processAhrefItem(url: String, domain0: String, item0: String): Option[String] = {
    var item = item0.trim
    if (schemePrefix.findFirstIn(item).isDefined &&
        !item.startsWith("http") && !item.startsWith("ftp") &&
        !item.startsWith("smb")) {
      item = item.substring(item.indexOf(':') + 1)
    }
    if (item.startsWith("//") && !item.startsWith("http"))
      item = "https:" + item
    if (item.startsWith("/")) {
      if (!isLinkValid(domain0)) return None
      item = joinUrlParts(domain0, item)
    }
    if (userAtPrefix.findFirstIn(item).isDefined)
      item = item.substring(item.indexOf('@') + 1)
    if (!item.startsWith("http") && !item.startsWith("ftp") &&
        !item.startsWith("smb")) {
      val dom = UrlKit.domainOnly("https://" + item).orNull
      if (!isLinkValid(dom)) return None
      if (dom.count(_ == '.') <= 0) {
        if (!isLinkValid(url)) return None
        item = joinUrlParts(url, item)
      }
    }
    if (!item.startsWith("http") && !item.startsWith("ftp") &&
        !item.startsWith("smb")) {
      item = "https://" + item
    }
    if (item.startsWith("https:&#x2F;&#x2F") || item.startsWith("http:&#x2F;&#x2F"))
      item = HtmlEntities.unescape(item)
    Some(item)
  }

  private val suspiciousMarkers = Seq("\"", "<", ">", "&quot;", "&gt;", "&lt;")

  /** Truncate at the first of `"`, `<`, `>`, `&quot;`, `&gt;`, `&lt;`
    * — in that scan order — then trim (contentlinkparser.py:49-72). */
  def filterSuspicious(links: Set[String]): Set[String] =
    links.map { item0 =>
      var item = item0
      suspiciousMarkers.foreach { marker =>
        val wh = item.indexOf(marker)
        if (wh != -1) item = item.substring(0, wh)
      }
      item.trim
    }

  private val invalidLinks =
    Set[String](null, "", "http", "https", "http://", "https://")

  /** Drop null/empty/bare-scheme artifacts (contentlinkparser.py:74-88). */
  def filterInvalid(links: Set[String]): Set[String] = links -- invalidLinks

  /** The full union scan (contentlinkparser.py:30-47). */
  def links(pageUrl: String, contents: String): Set[String] = {
    val all = linksRaw(contents, "https") ++ linksEncoded(contents, "https") ++
      linksRaw(contents, "http") ++ linksEncoded(contents, "http") ++
      linksHref(pageUrl, contents)
    filterInvalid(filterSuspicious(all))
  }

  def filterLinkHtml(links: Set[String]): Set[String] =
    links.filter(UrlKit.isWebpageLink)

  /** Substring containment, not prefix — quirk of the reference
    * (contentlinkparser.py:212-222). */
  def filterInDomain(links: Set[String], domain: String): Set[String] =
    if (!isLinkValid(domain)) Set.empty
    else links.filter(_.contains(domain))

  def filterOutDomain(links: Set[String], domain: String): Set[String] =
    if (!isLinkValid(domain)) Set.empty
    else links.filterNot(_.contains(domain))

  /** Page-internal webpage links (contentlinkparser.py:299-304). */
  def linksInner(pageUrl: String, contents: String): Set[String] = {
    val pageNoArg = UrlKit.noArgLink(pageUrl).orNull
    val dom = UrlKit.domainFull(pageNoArg).orNull
    filterInDomain(filterLinkHtml(links(pageUrl, contents)), dom)
  }

  /** External webpage links (contentlinkparser.py:306-313). */
  def linksOuter(pageUrl: String, contents: String): Set[String] = {
    val pageNoArg = UrlKit.noArgLink(pageUrl).orNull
    val dom = UrlKit.domainFull(pageNoArg).orNull
    val html = filterLinkHtml(links(pageUrl, contents))
    html -- filterInDomain(html, dom)
  }

  /** Distinct valid domains of all extracted links
    * (contentlinkparser.py:254-281). */
  def domains(pageUrl: String, contents: String): Set[String] = {
    val out = links(pageUrl, contents).flatMap { link =>
      val dom = UrlKit.domainFull(link).orNull
      if (!isLinkValid(dom)) None
      else if (dom == "https://" || dom == "http://") None
      else if (!UrlKit.isWebLink(link)) None
      else Some(dom)
    }
    filterInvalid(out)
  }

  /** Deterministic array form for the Spark explode path: sorted so the
    * crawl order is a pure function of content, not of set iteration. */
  def extractLinksSorted(pageUrl: String, contents: String): Array[String] =
    links(pageUrl, contents).toArray.sorted
}
