package graft.parse

import scala.util.matching.Regex
import graft.parse.HtmlScanner.Tag

/** Display-layer text transforms (X5)
  * (reference: webtoolkit/webtools.py:207-289 `InputContent`): strip all
  * HTML attributes except `href` on `<a>` and `src` on `<img>`, then wrap
  * bare http(s) URLs not already inside a tag in `<a>` elements.
  */
object ContentText {

  /** Rebuild the markup with attributes stripped (webtools.py:232-250). */
  def stripHtmlAttributes(text: String): String = {
    val doc = HtmlScanner.parse(text)
    if (doc.tags.isEmpty) return text
    val sb = new StringBuilder
    var pos = 0
    doc.tags.foreach { tag =>
      sb.append(text.substring(pos, tag.start))
      sb.append(renderTag(tag))
      pos = tag.contentStart
    }
    sb.append(text.substring(pos))
    sb.toString
  }

  private def renderTag(tag: Tag): String = {
    if (tag.isClose) return s"</${tag.name}>"
    val kept: Seq[(String, String)] = tag.name match {
      case "a" => tag.attrs.get("href").map("href" -> _).toSeq
      case "img" => tag.attrs.get("src").map("src" -> _).toSeq
      case _ => Seq.empty
    }
    val attrs = kept.map { case (k, v) => s""" $k="$v"""" }.mkString
    s"<${tag.name}$attrs>"
  }

  private def urlPattern(protocol: String): Regex =
    (Regex.quote(protocol) + raw"\S+").r

  /** Wrap bare URLs in `<a>` unless the preceding 10 chars already place
    * them inside an anchor/img (webtools.py:253-289). */
  def linkify(text0: String, protocol: String = "https://"): String = {
    if (!text0.contains(protocol)) return text0
    val sb = new StringBuilder
    var i = 0
    val re = urlPattern(protocol)
    var continue = true
    while (continue) {
      re.findFirstMatchIn(text0.substring(i)) match {
        case Some(m) =>
          val start = i + m.start
          val end = i + m.end
          val url = m.matched
          val preceding = text0.substring(math.max(0, start - 10), start)
          sb.append(text0.substring(i, start))
          if (!preceding.contains("<a href=\"") && !preceding.contains("<img"))
            sb.append(s"""<a href="$url">$url</a>""")
          else sb.append(url)
          i = end
        case None =>
          sb.append(text0.substring(i))
          continue = false
      }
    }
    sb.toString
  }

  /** strip attributes, then linkify https:// and http://
    * (webtools.py:219-230). */
  def htmlify(text: String): String = {
    var t = stripHtmlAttributes(text)
    t = linkify(t, "https://")
    t = linkify(t, "http://")
    t
  }
}
