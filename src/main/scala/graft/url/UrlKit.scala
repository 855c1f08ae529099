package graft.url

import java.nio.charset.StandardCharsets
import java.nio.charset.CodingErrorAction
import java.nio.ByteBuffer
import scala.collection.mutable

/** URL parsing, canonicalization and classification.
  *
  * Behavior-parity re-expression of the reference's URL-location semantics
  * (reference: webtoolkit/urllocation.py). Every function is pure and
  * null-tolerant so the whole object can back Spark UDFs / expressions.
  * The quirks of the reference (substring-based scheme detection, port kept
  * in `domainOnly` but stripped in `domainFull`, `www.` stripped anywhere in
  * the host, the single trailing-`/`-then-`.` strip in cleaning, ...) are
  * deliberate: the crawl frontier's URL-seen set must be bit-identical.
  */
object UrlKit {

  /** Extensions treated as binary payloads
    * (reference: webtoolkit/urllocation.py:23-45). */
  val BinaryExtensions: Set[String] = Set(
    "exe", "msi", "bat", "cmd", "sh",
    "bin", "dll", "so", "dylib", "o", "a",
    "iso", "img",
    "apk", "deb", "rpm", "pkg")

  private val webSchemePrefixes =
    Seq("http://", "https://", "smb://", "ftp://", "//", "\\\\")
  private val protocolledPrefixes =
    Seq("http://", "https://", "smb://", "ftp://", "email://", "//", "\\\\")

  // ---------------------------------------------------------------- parsing

  /** Split a URL into `[scheme, separator, netloc, path?, args?]`.
    * Protocol-less input is assumed https (http for .onion)
    * (reference: webtoolkit/urllocation.py:313-404). */
  def parseUrl(url: String): Option[Vector[String]] = {
    if (url == null || url.isEmpty) return None
    val protocolPos = url.indexOf("://")
    if (protocolPos >= 0) {
      val protocol = url.substring(0, protocolPos).toLowerCase
      val rest = url.substring(protocolPos + 3)
      Some(Vector(protocol, "://") ++ parseLocation(rest))
    } else if (url.startsWith("//")) {
      Some(Vector("", "//") ++ parseLocation(url.substring(2)))
    } else if (url.startsWith("\\\\")) {
      Some(Vector("", "\\\\") ++ parseLocation(url.substring(2)))
    } else {
      val head =
        if (url.endsWith(".onion")) Vector("http", "://")
        else Vector("https", "://")
      Some(head ++ parseLocation(url))
    }
  }

  /** netloc + [path [+ args]]; path keeps its leading separator, args keep
    * the leading `?`/`#`. */
  private def parseLocation(rest: String): Vector[String] = {
    val cut = firstIndexOfAny(rest, Array('/', '\\', '?', '#'))
    val (netloc, tail) =
      if (cut >= 0) (rest.substring(0, cut), rest.substring(cut))
      else (rest, "")
    val argCut = firstIndexOfAny(tail, Array('?', '#'))
    if (argCut >= 0)
      Vector(netloc, tail.substring(0, argCut), tail.substring(argCut))
    else Vector(netloc, tail)
  }

  private def firstIndexOfAny(s: String, chars: Array[Char]): Int = {
    var best = -1
    var i = 0
    while (i < chars.length) {
      val p = s.indexOf(chars(i))
      if (p >= 0 && (best == -1 || p < best)) best = p
      i += 1
    }
    best
  }

  // ------------------------------------------------------------ accessors

  /** Full domain with scheme, host lowercased, port and `user@` stripped
    * (reference: webtoolkit/urllocation.py:406-442). */
  def domainFull(url: String, noWww: Boolean = false): Option[String] = {
    if (url == null || url.isEmpty) return None
    val parts = parseUrl(url).getOrElse(return None)
    var host = parts(2)
    val colon = host.indexOf(':')
    if (colon >= 0) host = host.substring(0, colon)
    var domainPart = host.toLowerCase
    if (noWww && domainPart.contains("www."))
      domainPart = domainPart.replace("www.", "")
    val text = parts(0) + parts(1) + domainPart
    if (!isProtocolledLink(text)) return None
    if (text.trim == "http://" || text.trim == "https://") return None
    val at = text.indexOf('@')
    if (at >= 0) Some(parts(0) + parts(1) + text.substring(at + 1))
    else Some(text)
  }

  /** Lowercased netloc; keeps any port (quirk of the reference —
    * webtoolkit/urllocation.py:444-458). */
  def domainOnly(url: String, noWww: Boolean = false): Option[String] = {
    if (url == null || url.isEmpty) return None
    parseUrl(url).map { parts =>
      var d = parts(2).toLowerCase
      if (noWww && d.contains("www.")) d = d.replace("www.", "")
      d
    }
  }

  def scheme(url: String): Option[String] = parseUrl(url).map(_(0))

  def port(url: String): Option[Int] =
    parseUrl(url).flatMap { parts =>
      val wh = parts(2).indexOf(':')
      if (wh == -1) None
      else parts(2).substring(wh + 1).toIntOption
    }

  def protocolless(url: String): String = {
    val pos = url.indexOf("://")
    if (pos >= 0) url.substring(pos + 3) else url
  }

  def protocolUrl(url: String, protocol: String = "https"): String = {
    val pos = url.indexOf("://")
    if (pos >= 0) protocol + "://" + url.substring(pos + 3)
    else protocol + "://" + url
  }

  /** Prefixes https:// unless "http" occurs anywhere in the URL (quirk —
    * webtoolkit/urllocation.py:682-688). */
  def fullUrl(url: String): String =
    if (!url.toLowerCase.contains("http")) "https://" + url else url

  /** Truncate at `?` then `#` (webtoolkit/urllocation.py:487-505). */
  def noArgLink(url: String): Option[String] = {
    if (url == null || url.isEmpty) return None
    var u = url
    val q = u.indexOf('?')
    if (q >= 0) u = u.substring(0, q)
    val h = u.indexOf('#')
    if (h >= 0) u = u.substring(0, h)
    Some(u)
  }

  /** Last dot-segment of the arg-less URL when shorter than 5 chars
    * (webtoolkit/urllocation.py:468-485). */
  def pageExt(url: String): Option[String] = {
    if (url == null || url.isEmpty) return None
    var loc = noArgLink(url).getOrElse(return None)
    if (isDomain(url)) return None
    if (loc.endsWith("/")) loc = loc.dropRight(1)
    val sp = loc.split("\\.", -1)
    if (sp.length > 1 && sp.last.length < 5) Some(sp.last) else None
  }

  /** Frozen-table MIME sniff; empty for domains and analytics hosts
    * (webtoolkit/urllocation.py:259-274). */
  def guessType(url: String): String = {
    if (url == null || url.isEmpty) return ""
    if (isDomain(url)) return ""
    val mime = MimeTable.guessType(url)
    if (mime.isEmpty) return ""
    if (isAnalytics(url)) return ""
    mime.toLowerCase
  }

  // ----------------------------------------------------------- predicates

  def isProtocolledLink(url: String): Boolean =
    url != null && protocolledPrefixes.exists(url.startsWith)

  /** Admission predicate for the crawl frontier
    * (webtoolkit/urllocation.py:68-121). */
  def isWebLink(url: String): Boolean = {
    if (url == null) return false
    if (!webSchemePrefixes.exists(url.startsWith)) return false
    if (!url.contains(".")) return false
    val dom = domainOnly(url).getOrElse(return false)
    if (dom.isEmpty || !dom.contains(".")) return false
    val sp = dom.split("\\.", -1)
    if (Set("htm", "html", "php", "js", "css", "zip").contains(sp.last))
      return false
    if (dom.contains("&") || dom.contains("?")) return false
    if (sp(0).trim.isEmpty) return false
    if (sp(1).trim.isEmpty) return false
    if (sp(1).contains("_")) return false
    true
  }

  def isWebpageLink(url: String): Boolean = {
    if (!isWebLink(url)) return false
    if (isAnalytics(url)) return false
    if (isDomain(url)) return true
    if (url.endsWith("/")) return true
    getType(url) == UrlTypes.Html
  }

  def isOnion(url: String): Boolean =
    domainFull(url).exists(_.endsWith(".onion"))

  def isDomain(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    if (isOnion(url)) return false
    domainFull(url).contains(fullUrl(url))
  }

  def isIpv4(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    val dom = domainOnly(url).getOrElse(return false)
    val slash = dom.split("/", -1)
    if (slash.length > 2) return false
    val quad = slash(0).split("\\.", -1)
    if (quad.length != 4) return false
    val octetsOk = quad.forall { o =>
      o.nonEmpty && o.forall(_.isDigit) && !(o.length > 1 && o.head == '0') &&
        o.length <= 3 && o.toInt <= 255
    }
    if (!octetsOk) return false
    if (slash.length == 2) {
      val p = slash(1).toIntOption.getOrElse(return false)
      if (p < 0 || p > 32) return false
      // network address must have host bits zero (strict network semantics)
      val addr = quad.foldLeft(0L)((acc, o) => (acc << 8) | o.toLong)
      val hostMask = if (p == 32) 0L else (1L << (32 - p)) - 1
      (addr & hostMask) == 0
    } else true
  }

  def isIpv6(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    val dom = domainOnly(url).getOrElse(return false)
    val addr = dom.split("/", -1)(0)
    if (!addr.contains(":")) return false
    val dbl = addr.indexOf("::")
    if (dbl >= 0 && addr.indexOf("::", dbl + 1) >= 0) return false
    val groups =
      if (dbl >= 0) {
        val left = addr.substring(0, dbl).split(":", -1).filter(_.nonEmpty)
        val right = addr.substring(dbl + 2).split(":", -1).filter(_.nonEmpty)
        if (left.length + right.length > 7) return false
        left ++ right
      } else {
        val g = addr.split(":", -1)
        if (g.length != 8) return false
        g
      }
    groups.forall(g =>
      g.nonEmpty && g.length <= 4 &&
        g.forall(c => c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
  }

  def isIp(url: String): Boolean = isIpv4(url) || isIpv6(url)

  def isImage(url: String): Boolean = mediaKind(url, "image")
  def isAudio(url: String): Boolean = mediaKind(url, "audio")
  def isVideo(url: String): Boolean = mediaKind(url, "video")

  private def mediaKind(url: String, kind: String): Boolean = {
    if (url == null || url.isEmpty) return false
    if (isDomain(url)) return false
    if (pageExt(url).isEmpty) return false
    guessType(url).contains(kind)
  }

  def isBinary(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    if (isDomain(url)) return false
    val ext = pageExt(url).getOrElse(return false)
    if (isAnalytics(url)) return false
    BinaryExtensions.contains(ext)
  }

  def isMedia(url: String): Boolean =
    isImage(url) || isAudio(url) || isVideo(url)

  /** Frozen infrastructure/ads host-substring blacklist
    * (webtoolkit/urllocation.py:896-961). */
  private val analyticsSubstrings = Seq(
    "adservice.google.com", ".googleapis.com", "googlesyndication",
    ".googletagmanager.com", "google-analytics", "googletagservices",
    "googleusercontent.com", "gstatic.com",
    "amazon-adsystem.com", "amazonaws.com",
    "static.ads-twitter.com", "analytics.twitter.com",
    "doubleverify.com", "g.doubleclick.net", "ad.doubleclick.net",
    "goatcounter.com", ".cookiebot.com", "cloudfront.net",
    ".smartadserver.com", "ads.us.e-planning.net",
    "static.cloudflareinsights.com", "static1.squarespace.com",
    "redditstatic.com", "cdn.speedcurve.com", "shopifycdn.com")

  def isAnalytics(url: String): Boolean = {
    val dom = domainOnly(url).getOrElse(return false)
    if (dom.isEmpty) return false
    analyticsSubstrings.exists(dom.contains)
  }

  /** URL-shortener blacklist (webtoolkit/urllocation.py:963-1005). */
  private val linkServiceSubstrings = Seq(
    "lmg.gg", "geni.us", "tinyurl.com", "bit.ly", "ow.ly", "adfoc.us",
    "mailchi.mp", "dbh.la", "ffm.to", "kit.co", "utm.io", "tiny.pl",
    "reurl.cc", "amzn.to")

  def isLinkService(url: String): Boolean = {
    val dom = domainOnly(url).getOrElse(return false)
    if (dom.isEmpty) return false
    linkServiceSubstrings.exists(dom.contains) || dom.endsWith("link.to")
  }

  private val mainstreamSubstrings = Seq(
    "www.facebook", "www.rumble", "wikipedia.org", "twitter.com",
    "www.reddit.com", "stackoverflow.com", "www.quora.com",
    "www.instagram.com")

  def isMainstream(url: String): Boolean = {
    val dom = domainOnly(url).getOrElse("")
    mainstreamSubstrings.exists(dom.contains) || isYoutube(url)
  }

  def isYoutube(url: String): Boolean = {
    val dom = domainOnly(url).getOrElse(return false)
    dom == "youtube.com" || dom == "youtu.be" || dom == "www.m.youtube.com" ||
      dom == "m.youtube.com" || dom == "www.youtube.com"
  }

  // ------------------------------------------------------------- type enum

  /** URL → {html,rss,css,javascript,font,file,unknown}
    * (webtoolkit/urllocation.py:727-785). */
  def getType(url: String): String = {
    if (isDomain(url)) return UrlTypes.Html
    if (isOnion(url)) return UrlTypes.Html
    if (pageExt(url).isEmpty) return UrlTypes.Html
    typeByExt(url).foreach(t => return t)
    if (guessType(url).contains("html")) return UrlTypes.Html
    if (isImage(url) || isAudio(url) || isVideo(url) || isBinary(url))
      return UrlTypes.File
    UrlTypes.Unknown
  }

  private val extTypeMapping = Map(
    "css" -> UrlTypes.Css, "js" -> UrlTypes.Javascript,
    "html" -> UrlTypes.Html, "htm" -> UrlTypes.Html,
    "php" -> UrlTypes.Html, "aspx" -> UrlTypes.Html,
    "woff2" -> UrlTypes.Font, "tff" -> UrlTypes.Font,
    "mobi" -> UrlTypes.File, "zip" -> UrlTypes.File)

  def typeByExt(url: String): Option[String] = {
    if (isAnalytics(url)) return None
    pageExt(url).flatMap(extTypeMapping.get)
  }

  def isHtml(url: String): Boolean = getType(url) == UrlTypes.Html
  def isRss(url: String): Boolean = getType(url) == UrlTypes.Rss

  def robotsTxtUrl(url: String): Option[String] = {
    if (isOnion(url)) return None
    domainFull(url).map(_ + "/robots.txt")
  }

  // --------------------------------------------------------- href resolve

  /** Resolve an href against a base — absolute / `//x` / `/x` / bare
    * (webtoolkit/urllocation.py:690-719). */
  def resolve(domain0: String, url: String): String = {
    if (url.toLowerCase.startsWith("http")) url
    else if (url.startsWith("//")) "https:" + url
    else if (url.startsWith("/")) {
      var dom = domainFull(domain0).getOrElse("")
      if (!dom.endsWith("/")) dom += "/"
      dom + url.substring(1)
    } else {
      var dom = domain0
      if (!dom.endsWith("/")) dom += "/"
      dom + url
    }
  }

  // ------------------------------------------------------- hierarchy walk

  /** Parent location (webtoolkit/urllocation.py:56-66, 1007-1028). */
  def up(url: String, skipInternal: Boolean = false): Option[String] = {
    if (url == null || url.isEmpty) return None
    if (isDomain(url)) upDomain(url)
    else if (skipInternal) domainFull(url)
    else upNotDomain(url)
  }

  private def upDomain(url: String): Option[String] = {
    if (url.count(_ == '.') == 1) return None
    val parts = parseUrl(url).getOrElse(return None)
    if (parts.length < 3) return None
    val sp = parts(2).split("\\.", -1)
    Some(parts(0) + parts(1) + sp.drop(1).mkString("."))
  }

  private def upNotDomain(url: String): Option[String] = {
    val wh = url.lastIndexOf('/')
    if (wh >= 0) Some(url.substring(0, wh)) else None
  }

  // -------------------------------------------------------- split / join

  /** URL → segments (webtoolkit/urllocation.py:798-824). */
  def split(url: String): Vector[String] = {
    val parts = parseUrl(url).getOrElse(return Vector.empty)
    val result = mutable.ArrayBuffer[String]()
    if (parts.length > 2) result ++= parts.take(3)
    if (parts.length > 3) {
      parts.drop(3).foreach { part0 =>
        var part = part0
        if (part.startsWith("\\")) part = part.substring(1)
        if (part.startsWith("/")) part = part.substring(1)
        if (part.endsWith("\\")) part = part.dropRight(1)
        if (part.endsWith("/")) part = part.dropRight(1)
        if (part.contains("\\")) result ++= part.split("\\\\", -1)
        else if (part.contains("/")) result ++= part.split("/", -1)
        else result += part
      }
    }
    result.toVector
  }

  /** Inverse of [[split]] (webtoolkit/urllocation.py:826-852). */
  def join(parts: Seq[String]): String = {
    var result = parts(0) + parts(1) + parts(2)
    parts.drop(3).foreach { part0 =>
      if (result.endsWith("/")) result = result.dropRight(1)
      if (result.endsWith("\\")) result = result.dropRight(1)
      var part = part0
      if (part.startsWith("/")) part = part.substring(1)
      if (part.startsWith("\\")) part = part.substring(1)
      if (part.endsWith("/")) part = part.dropRight(1)
      if (part.endsWith("\\")) part = part.dropRight(1)
      if (part.startsWith("?") || part.startsWith("#")) result += part
      else result = result + "/" + part
    }
    result
  }

  // ------------------------------------------------------- query params

  /** Percent-decode (`+` → space, `%XX` → byte, UTF-8). */
  def urlDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else if (c == '+') { out.write(' '); i += 1 }
      else { out.write(c.toString.getBytes(StandardCharsets.UTF_8)); i += 1 }
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  private def isHex(c: Char): Boolean =
    c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** Query-string portion of a URL: after the first `?`, before any `#`. */
  private def queryOf(url: String): String = {
    val q = url.indexOf('?')
    if (q < 0) return ""
    val rest = url.substring(q + 1)
    val h = rest.indexOf('#')
    if (h >= 0) rest.substring(0, h) else rest
  }

  /** First value per key, decoded; empty-valued params skipped (matches
    * CPython `parse_qs` defaults used at webtoolkit/urllocation.py:854-857). */
  def paramsFirst(url: String): Map[String, String] = {
    val query = queryOf(url)
    if (query.isEmpty) return Map.empty
    val out = mutable.LinkedHashMap[String, String]()
    query.split("&", -1).foreach { pair =>
      val eq = pair.indexOf('=')
      if (eq > 0) {
        val k = urlDecode(pair.substring(0, eq))
        val v = urlDecode(pair.substring(eq + 1))
        if (v.nonEmpty && !out.contains(k)) out(k) = v
      }
    }
    out.toMap
  }

  // ------------------------------------------------------- canonicalizer

  /** The canonical-URL function — strip, trailing-`/`-then-`.` strip,
    * domain lowercasing, redirect unwraps and tracker-param removal
    * (webtoolkit/urllocation.py:507-552). Recursion depth is bounded; the
    * reference recurses unboundedly through the redirect fixes. */
  def cleanedLink(url0: String): Option[String] = cleanedLink(url0, 0)

  private val MaxCleanDepth = 10

  private def cleanedLink(url0: String, depth: Int): Option[String] = {
    if (url0 == null || url0.isEmpty) return None
    var url = url0.trim
    if (url.endsWith("/")) url = url.dropRight(1)
    if (url.endsWith(".")) url = url.dropRight(1)
    if (isOnion(url)) return Some(url)
    if (!isWebLink(url)) return Some(url)
    val domain = domainFull(url).getOrElse(return None)
    val domainLower = domain.toLowerCase
    url = domainLower + url.substring(math.min(domain.length, url.length))
    if (url.isEmpty) return None
    if (depth >= MaxCleanDepth) return Some(url)
    var u: Option[String] = Some(url)
    u = u.flatMap(googleRedirectFix(_, depth))
    u = u.flatMap(googleAmpFix(_, depth))
    u = u.flatMap(youtubeRedirectFix(_, depth))
    u = u.flatMap(linkedinRedirectFix(_, depth))
    u = u.flatMap(bingRedirectFix(_, depth))
    u.map(trackless)
  }

  /** Unwrap a redirect-style param: re-protocol + recursive clean. */
  private def unwrapParam(value: String, depth: Int): Option[String] = {
    val v = if (!isProtocolledLink(value)) protocolUrl(value) else value
    cleanedLink(v, depth + 1)
  }

  /** google.com/url?url=…|q=… (webtoolkit/urllocation.py:554-574). */
  private def googleRedirectFix(url: String, depth: Int): Option[String] = {
    if (!url.contains("https://www.google.com/url")) return Some(url)
    val params = paramsFirst(url)
    params.get("url").orElse(params.get("q")) match {
      case Some(v) => unwrapParam(v, depth)
      case None    => Some(url)
    }
  }

  /** google.com/amp/s/<url> (webtoolkit/urllocation.py:576-587). */
  private def googleAmpFix(url: String, depth: Int): Option[String] = {
    val prefix = "https://www.google.com/amp/s"
    if (!url.contains(prefix)) return Some(url)
    val rest = url.substring(math.min(prefix.length + 1, url.length))
    unwrapParam(rest, depth)
  }

  /** youtube.com/redirect?q=… with an extra percent-decode pass
    * (webtoolkit/urllocation.py:589-607). */
  private def youtubeRedirectFix(url: String, depth: Int): Option[String] = {
    if (!url.contains("https://www.youtube.com/redirect")) return Some(url)
    paramsFirst(url).get("q") match {
      case Some(v) => unwrapParam(urlDecode(v), depth)
      case None    => Some(url)
    }
  }

  /** linkedin.com …?url=… (webtoolkit/urllocation.py:609-623). */
  private def linkedinRedirectFix(url: String, depth: Int): Option[String] = {
    if (!url.contains("https://www.linkedin.com")) return Some(url)
    paramsFirst(url).get("url") match {
      case Some(v) => unwrapParam(v, depth)
      case None    => Some(url)
    }
  }

  /** bing …?u=a1<base64url> (webtoolkit/urllocation.py:625-647). */
  private def bingRedirectFix(url: String, depth: Int): Option[String] = {
    try {
      val encoded0 = paramsFirst(url).get("u").getOrElse(return Some(url))
      val encoded =
        if (encoded0.startsWith("a1")) encoded0.substring(2) else encoded0
      val padded = encoded + "=" * ((4 - encoded.length % 4) % 4)
      val bytes = java.util.Base64.getMimeDecoder.decode(padded)
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.IGNORE)
        .onUnmappableCharacter(CodingErrorAction.IGNORE)
      val decoded = dec.decode(ByteBuffer.wrap(bytes)).toString
      cleanedLink(decoded, depth + 1)
    } catch { case _: Exception => Some(url) }
  }

  /** `url`-param unwrap used stand-alone (webtoolkit/urllocation.py:649-661). */
  def urlArg(url: String): Option[String] = {
    if (url == null || url.isEmpty) return None
    paramsFirst(url).get("url") match {
      case Some(v) => cleanedLink(v, 1)
      case None    => Some(url)
    }
  }

  /** Frozen tracking-parameter blacklist. The reference delegates to the
    * `url_cleaner` package (webtoolkit/urllocation.py:663-680); its rule set
    * is third-party data, frozen here as an explicit list so the URL-seen
    * set cannot drift with library versions. Parameter order and encoding
    * of surviving params are preserved verbatim. */
  private val trackerParams: Set[String] = Set(
    "fbclid", "gclid", "gclsrc", "dclid", "msclkid", "twclid", "yclid",
    "igshid", "mc_cid", "mc_eid", "mkt_tok", "ref_src", "ref_url",
    "_hsenc", "_hsmi", "vero_id", "vero_conv", "wickedid", "oly_anon_id",
    "oly_enc_id", "__s", "rb_clickid", "s_cid", "ml_subscriber",
    "ml_subscriber_hash", "_openstat", "spm", "scm", "pvid", "algo_pvid")

  private def isTrackerParam(key: String): Boolean =
    trackerParams.contains(key.toLowerCase) ||
      key.toLowerCase.startsWith("utm_")

  /** Strip tracking params from http(s) URLs
    * (webtoolkit/urllocation.py:663-680). */
  def trackless(url: String): String = {
    val sch = scheme(url).getOrElse(return url)
    if (sch != "http" && sch != "https") return url
    val q = url.indexOf('?')
    if (q < 0) return url
    val afterQ = url.substring(q + 1)
    val h = afterQ.indexOf('#')
    val (query, fragment) =
      if (h >= 0) (afterQ.substring(0, h), afterQ.substring(h)) else (afterQ, "")
    val kept = query.split("&", -1).filter { pair =>
      val eq = pair.indexOf('=')
      val key = if (eq >= 0) pair.substring(0, eq) else pair
      !isTrackerParam(key)
    }
    val base = url.substring(0, q)
    if (kept.isEmpty) base + fragment
    else base + "?" + kept.mkString("&") + fragment
  }
}
