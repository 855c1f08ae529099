package graft.parse

import java.security.MessageDigest
import java.nio.charset.StandardCharsets

/** Cheap token-scan page-type validity checks shared by the parser cascade
  * (reference: webtoolkit/contentinterface.py:390-416). */
object PageValidity {

  /** Index of the first `<` + `tag` in `contents[0, until)`, ASCII case
    * insensitive, or -1. `tag` is lower-case ASCII letters. One pass from
    * each `<`, no copy: the page is never lower-cased as a whole. The
    * older code lower-cased it with `String.toLowerCase()`, which depends
    * on the JVM's default locale; these tags contain no `i` or `k`, so
    * comparing `c | 0x20` against ASCII letters answers like lower-casing
    * under the root locale, whatever the default locale is. */
  private def indexOfTag(contents: String, tag: String, until: Int): Int = {
    val last = until - tag.length - 1
    var lt = contents.indexOf('<')
    while (lt >= 0 && lt <= last) {
      var j = 0
      while (j < tag.length && (contents.charAt(lt + 1 + j) | 0x20) == tag.charAt(j))
        j += 1
      if (j == tag.length) return lt
      lt = contents.indexOf('<', lt + 1)
    }
    -1
  }

  private def indexOfTag(contents: String, tag: String): Int =
    indexOfTag(contents, tag, contents.length)

  /** Position of `<html` when `<body` or `<meta` also present, else -1. */
  def positionOfHtmlTags(contents: String): Int = {
    if (contents == null || contents.isEmpty) return -1
    val html = indexOfTag(contents, "html")
    if (html >= 0 && (indexOfTag(contents, "meta") >= 0 ||
        indexOfTag(contents, "body") >= 0)) html
    else -1
  }

  /** Position of `<rss`/`<feed`/`<rdf` with their container tags, else -1. */
  def positionOfRssTags(contents: String): Int = {
    if (contents == null || contents.isEmpty) return -1
    val rss = indexOfTag(contents, "rss")
    if (rss >= 0 && indexOfTag(contents, "channel") >= 0) return rss
    val feed = indexOfTag(contents, "feed")
    if (feed >= 0 && indexOfTag(contents, "entry") >= 0) return feed
    val rdf = indexOfTag(contents, "rdf")
    if (rdf >= 0 && indexOfTag(contents, "channel") >= 0) return rdf
    -1
  }

  /** HTML wins when its tags appear before RSS tags (pages.py:1232-1250).
    * RSS tags can come first only if one of `<rss`, `<feed`, `<rdf` starts
    * before `<html`, so only then are the RSS containers looked up. */
  def isContentsHtml(contents: String): Boolean = {
    val html = positionOfHtmlTags(contents)
    html >= 0 && (
      indexOfTag(contents, "rss", html) < 0 &&
        indexOfTag(contents, "feed", html) < 0 &&
        indexOfTag(contents, "rdf", html) < 0 || {
        val rss = positionOfRssTags(contents)
        rss < 0 || html < rss
      })
  }

  /** Captcha fingerprints (contentinterface.py:184-211). */
  private val captchaFingerprints = Seq(
    "google.com/recaptcha", "recaptcha/api.js", "g-recaptcha",
    "hcaptcha.com", "hcaptcha-box", "h-captcha",
    "challenges.cloudflare.com/turnstile", "cf-turnstile")

  def isCaptchaProtected(contents: String): Boolean =
    contents != null && captchaFingerprints.exists(contents.contains)
}

/** MD5 content hashing (reference: webtoolkit/webtools.py:179-204). */
object Hashing {
  /** MD5 digest of UTF-8 text; None for null/empty (the reference returns
    * None for falsy input). */
  def md5(text: String): Option[Array[Byte]] =
    if (text == null || text.isEmpty) None
    else Some(MessageDigest.getInstance("MD5")
      .digest(text.getBytes(StandardCharsets.UTF_8)))

  def md5Binary(binary: Array[Byte]): Option[Array[Byte]] =
    if (binary == null || binary.isEmpty) None
    else Some(MessageDigest.getInstance("MD5").digest(binary))

  def toHex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString
}
