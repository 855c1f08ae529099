package graft

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite
import graft.fetch.{SyntheticConfig, SyntheticInternet}
import graft.links.{HtmlEntities, LinkExtractor}
import graft.links.LinkExtractor.LinkPattern
import graft.url.UrlKit

/** Golden vectors transcribed from the reference link-parser suite
  * (reference: tests/unit/test_contentlinkparser.py). */
class LinkExtractorSpec extends AnyFunSuite {

  val contentsWithLinks: String = """
<!DOCTYPE html>
<html lang="en-US">
	<head>
		<meta charSet="utf-8"/>
        "09 jan. 2024 02:00"
    </head>
    <body>
      <a href="https://www.youtube.com">YouTube domain</a>
      <a href="https://www.youtube.com:443">YouTube domain with port</a>
      <a href="https://www.youtube.com:443/location">YouTube domain with port, and location</a>
      <a href="https://www.youtube.com/location">YouTube domain, and location</a>
      <a href="https://www.youtube.com/location?v=12323&test=q#whatever">YouTube domain, and location</a>
      <a href="https://linkedin.com/location">Linkedin with location</a>
      <a href="from?site=github.com/bellard">From</a>
      <a href="//test.com/location">Test.com with location</a>
      <a href="/location">This page with location</a>
      <a href="location">This page with location</a>
      <a href="https:&#x2F;&#x2F;www.cedarpolicy.com" rel="nofollow">https:&#x2F;&#x2F;www.cedarpolicy.com</a>
      <a href="https:&#x2F;&#x2F;old.reddit.com&#x2F;r&#x2F;Oberon&#x2F;comments" rel="nofollow">Text</a>
      <a href="mailto:renegat@renegat0x0.ddns.net">Mailto</a>
      <a href="https:&#x2F;&#x2F;encoded.link.com&#x2F;product-page&#x2F;interceptor-carrier-board">Link</a>
      <a href="https:&#x2F;&#x2F;encoded.link2.com&#x22;product-page">Link</a>
      <a href="https:&#x2F;&#x2F;encoded.link3.com&#x3c;product-page">Link</a>

      <a href="https://">unknown</a>
      <a href="http://">unknown</a>

    </body>
</html>
"""
  val pageUrl = "https://test_get_links.com/test"

  test("links raw https scan") {
    val links = LinkExtractor.linksRaw(contentsWithLinks, "https")
    assert(links.contains("https://www.youtube.com"))
    assert(links.contains("https://www.youtube.com:443"))
    assert(links.contains("https://www.youtube.com:443/location"))
    assert(links.contains("https://www.youtube.com/location"))
    assert(links.contains("https://www.youtube.com/location?v=12323&test=q#whatever"))
    assert(links.contains("https://linkedin.com/location"))
    assert(!links.contains("https://www.cedarpolicy.com"))
    assert(links.size == 6)
  }

  test("links encoded https scan") {
    val links = LinkExtractor.linksEncoded(contentsWithLinks, "https")
    assert(links.contains("https://www.cedarpolicy.com"))
    assert(links.contains("https://old.reddit.com/r/Oberon/comments"))
    assert(links.contains("https://encoded.link.com/product-page/interceptor-carrier-board"))
    assert(links.contains("https://encoded.link2.com\"product-page"))
    assert(links.contains("https://encoded.link3.com<product-page"))
    assert(links.size == 6) // cedarpolicy matched twice (href + anchor text)
  }

  test("links encoded http scan is empty here") {
    assert(LinkExtractor.linksEncoded(contentsWithLinks, "http").isEmpty)
  }

  test("get_links full union") {
    val links = LinkExtractor.links(pageUrl, contentsWithLinks)
    val expected = Set(
      "https://www.youtube.com",
      "https://www.youtube.com:443",
      "https://www.youtube.com:443/location",
      "https://www.youtube.com/location",
      "https://www.youtube.com/location?v=12323&test=q#whatever",
      "https://linkedin.com/location",
      "https://test_get_links.com/test/from?site=github.com/bellard",
      "https://test.com/location",
      "https://test_get_links.com/location",
      "https://test_get_links.com/test/location",
      "https://renegat0x0.ddns.net",
      "https://www.cedarpolicy.com",
      "https://old.reddit.com/r/Oberon/comments",
      "https://encoded.link.com/product-page/interceptor-carrier-board",
      "https://encoded.link2.com",
      "https://encoded.link3.com")
    assert(links == expected)
    assert(links.size == 16)
  }

  test("get_domains") {
    val doms = LinkExtractor.domains(pageUrl, contentsWithLinks)
    val expected = Set(
      "https://www.youtube.com", "https://linkedin.com", "https://test.com",
      "https://test_get_links.com", "https://renegat0x0.ddns.net",
      "https://www.cedarpolicy.com", "https://old.reddit.com",
      "https://encoded.link.com", "https://encoded.link2.com",
      "https://encoded.link3.com")
    assert(doms == expected)
    assert(!doms.contains("https://www.youtube.com:443"))
  }

  test("get_links with invalid base url drops page-relative links") {
    val links = LinkExtractor.links("https://", contentsWithLinks)
    assert(links.size == 13)
    assert(!links.contains("https://test_get_links.com/test/from?site=github.com/bellard"))
    assert(!links.contains("https://test_get_links.com/location"))
    assert(!links.contains("https://test_get_links.com/test/location"))
    assert(links.contains("https://test.com/location"))
    assert(links.contains("https://renegat0x0.ddns.net"))
  }

  test("get_links with null base url drops page-relative links") {
    val links = LinkExtractor.links(null, contentsWithLinks)
    assert(links.size == 13)
    assert(links.contains("https://www.youtube.com"))
    assert(links.contains("https://encoded.link3.com"))
  }

  test("filter_link_html keeps webpage links") {
    assert(LinkExtractor.filterLinkHtml(Set("http://otherpage1.net"))
      .contains("http://otherpage1.net"))
  }

  test("inner/outer partition") {
    val inner = LinkExtractor.linksInner(pageUrl, contentsWithLinks)
    val outer = LinkExtractor.linksOuter(pageUrl, contentsWithLinks)
    assert(inner.forall(_.contains("test_get_links.com")))
    assert(outer.nonEmpty)
    assert((inner & outer).isEmpty)
  }

  // ---------------------------------------------------------- scan oracle

  private val patterns: Seq[LinkPattern] =
    LinkExtractor.rawPatterns.values.toSeq ++
      LinkExtractor.encodedPatterns.values :+ LinkExtractor.hrefPattern

  private def findAll(p: LinkPattern, s: String): Seq[String] =
    p.regex.findAllMatchIn(s).map(_.group(1)).toSeq

  private def stripDots(s: String): String = s.reverse.dropWhile(_ == '.').reverse

  /** `links` as five full-page `findAllIn` scans — the form the literal-
    * prefix scan replaced. */
  private def oracleLinks(pageUrl: String, contents: String): Set[String] = {
    def raw(p: String) =
      findAll(LinkExtractor.rawPatterns(p), contents).map(stripDots).toSet
    def encoded(p: String) = findAll(LinkExtractor.encodedPatterns(p), contents)
      .map(stripDots).map(HtmlEntities.unescape)
    val url = Option(pageUrl).flatMap(UrlKit.noArgLink).orNull
    val domain = UrlKit.domainFull(url).orNull
    val href = findAll(LinkExtractor.hrefPattern, contents)
      .flatMap(LinkExtractor.processAhrefItem(url, domain, _)).toSet
    val all = raw("https") ++ encoded("https") ++ raw("http") ++
      encoded("http") ++ href
    LinkExtractor.filterInvalid(LinkExtractor.filterSuspicious(all))
  }

  private val pageUrls = Seq(pageUrl, null, "https://")

  /** Every pattern's scan equals `findAllIn`, every oracle match starts
    * with the pattern's literal, and `links` equals the oracle union. */
  private def sameAsOracle(s: String): Boolean =
    patterns.forall { p =>
      p.matches(s) == findAll(p, s) &&
        p.regex.findAllIn(s).forall(_.startsWith(p.literal))
    } && pageUrls.forall(u => LinkExtractor.links(u, s) == oracleLinks(u, s))

  private val tokens = Seq("htt", "http", "https", "://", ":", "/", "//",
    "&#x2F;", "href=\"", "\"", ".", "..", ";", "&", "#", "?", "=", "@",
    "a", "b.com", "x-y_z", " ", "<", ">", "&quot;", "mailto:", "www.")

  private val linkDense: Gen[String] =
    Gen.listOf(Gen.oneOf(tokens)).map(_.mkString)

  test("literal-prefix scan equals findAllIn on generated link-dense text") {
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(5000).withMaxSize(80),
      Prop.forAll(linkDense)(sameAsOracle))
    assert(result.passed, result.status.toString)
  }

  test("literal-prefix scan equals findAllIn on fixed edge cases") {
    val cases = Seq(
      "https://a.com/?u=https://b.com",
      "hthttps://x", "htttp://x", "hhttps://x.org",
      "https://a.com/https:&#x2F;&#x2F;b.com/c and http:&#x2F;&#x2F;d.org",
      "see https://a.com/x... and http://b.org. or https://...",
      "<a href=\"/page/1\">x</a> <a href=\"no/closing/quote",
      "href=\"href=\"https://a.com\"", "href=\"\"", "", "htt", "https://")
    cases.foreach(c => assert(sameAsOracle(c), c))

    val nested = "https://a.com/?u=https://b.com"
    assert(LinkExtractor.rawPatterns("https").matches(nested) == Seq(nested))
    assert(LinkExtractor.rawPatterns("https").matches("hthttps://x") ==
      Seq("https://x"))
    assert(LinkExtractor.rawPatterns("http").matches("htttp://x").isEmpty)
    assert(LinkExtractor.rawPatterns("http").matches("htt://x htthttp://y") ==
      Seq("htt://x", "http://y"))
    assert(LinkExtractor.linksRaw("see https://a.com/x... and https://...") ==
      Set("https://a.com/x", "https://"))
    assert(LinkExtractor.hrefPattern.matches("<a href=\"no/closing") ==
      Seq("no/closing"))
  }

  test("links is unchanged on synthetic content pages (120 paragraphs)") {
    val internet = SyntheticInternet(SyntheticConfig(
      seed = 7L, nSites = 4, pagesPerSite = 12, itemsPerFeed = 3,
      bodyParagraphs = 120))
    val urls = for {
      k <- 0 until 4
      path <- Seq("/", "/feed", "/sitemap.xml", "/sitemap-pages.xml") ++
        (0 until 12).map(i => s"/page/$i")
    } yield s"https://site-$k.test$path"
    val texts = urls.map(u => u -> internet.get(u).text.getOrElse(""))
    assert(texts.count(_._2.length > 20000) >= 40)
    texts.foreach { case (u, text) =>
      assert(LinkExtractor.links(u, text) == oracleLinks(u, text), u)
    }
  }

  test("statuses classification") {
    import graft.http.Statuses
    assert(Statuses.isValid(200) && Statuses.isValid(302) && Statuses.isValid(399))
    assert(!Statuses.isValid(403) && !Statuses.isValid(null))
    assert(Statuses.isInvalid(404) && Statuses.isInvalid(500) && Statuses.isInvalid(100))
    assert(!Statuses.isInvalid(0) && !Statuses.isInvalid(403) && !Statuses.isInvalid(429))
    assert(!Statuses.isInvalid(614) && !Statuses.isInvalid(615) && !Statuses.isInvalid(200))
    assert(Statuses.isUncertain(403) && Statuses.isUncertain(429) && Statuses.isUncertain(600))
    assert(Statuses.isUncertain(614) && Statuses.isUncertain(615) && !Statuses.isUncertain(200))
    assert(Statuses.isRetrySuggested(429) && Statuses.isRetrySuggested(615))
    assert(!Statuses.isRetrySuggested(403))
    assert(Statuses.isRedirect(301) && Statuses.isRedirect(403) && !Statuses.isRedirect(200))
    assert(Statuses.toText(200) == "HTTP_STATUS_OK(200)")
    assert(Statuses.toText(777) == "STATUS_CODE(777)")
  }
}
