package graft.parse

/** OPML outline parsing (reference: webtoolkit/pages.py:606-702). */
object OpmlParser {

  final case class OpmlEntry(url: String, title: Option[String])

  /** All `.//outline` elements carrying an `xmlUrl`
    * (pages.py:664-687; the recovering-lxml parse becomes a tag scan). */
  def entries(contents: String): Vector[OpmlEntry] = {
    if (contents == null || contents.isEmpty) return Vector.empty
    val doc = HtmlScanner.parse(contents)
    doc.findAll("outline").flatMap { tag =>
      // attr keys are lowercased by the scanner (xmlUrl → xmlurl)
      tag.attrs.get("xmlurl").map(u => OpmlEntry(u, tag.attrs.get("title")))
    }
  }

  def feeds(contents: String): Vector[String] = entries(contents).map(_.url)

  /** `<opml` token present (pages.py:699-702). */
  def isValid(contents: String): Boolean =
    contents != null && contents.contains("<opml")
}
