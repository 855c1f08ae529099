package graft.http

import java.util.Base64
import scala.collection.immutable.ListMap
import org.json4s._
import graft.model.{FetchRequest, FetchResponse, PageMeta}
import graft.handlers.Social
import graft.parse.{FeedEntry, Hashing}

/** `get_all_properties` — the reference's flagship wire output: an ordered
  * list of named sections (reference: webtoolkit/baseurl.py:520-574):
  * Properties, PropertiesHash (MD5 of the Python `str()` of the properties
  * dict, base64), Text|Binary, Streams, Request, Response, Headers,
  * [Social], Entries. This is the schema the remote-server client
  * (remoteurl.py:23-288) consumes, so producing it makes the engine's
  * output interchangeable with the reference's.
  */
object AllProperties {

  // ---------------------------------------------------------- python repr
  // PropertiesHash is MD5 over Python's `str(properties_dict)`
  // (baseurl.py:533; calculate_hash at webtools.py:179-204). The engine
  // reproduces CPython's dict/str repr for the value types that occur in
  // the properties map: str, None, int, float, list, dict.

  def pyRepr(v: Any): String = v match {
    case null | None    => "None"
    case Some(x)        => pyRepr(x)
    case s: String      => pyStrRepr(s)
    case b: Boolean     => if (b) "True" else "False"
    case i: Int         => i.toString
    case l: Long        => l.toString
    case d: Double      =>
      if (d == math.rint(d) && !d.isInfinite) f"$d%.1f" else d.toString
    case seq: Seq[_]    => seq.map(pyRepr).mkString("[", ", ", "]")
    case m: ListMap[_, _] =>
      m.map { case (k, value) => s"${pyRepr(k)}: ${pyRepr(value)}" }
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  /** CPython str repr: single quotes unless the string contains a single
    * quote and no double quote. */
  def pyStrRepr(s: String): String = {
    val hasSingle = s.contains('\'')
    val hasDouble = s.contains('"')
    val (quote, escaped) =
      if (hasSingle && !hasDouble) ('"', s.replace("\\", "\\\\"))
      else ('\'', s.replace("\\", "\\\\").replace("'", "\\'"))
    val body = escaped.replace("\n", "\\n").replace("\r", "\\r")
      .replace("\t", "\\t")
    s"$quote$body$quote"
  }

  // ------------------------------------------------------- properties map

  /** The ordered properties map (contentinterface.py:164-182 base keys +
    * get_properties_data extras, baseurl.py:576-626). Dates are already
    * stringified — the reference mutates the dict before hashing
    * (baseurl.py:528-531), so hash and wire form agree. */
  def propertiesMap(meta: PageMeta, requestUrl: String): ListMap[String, Any] = {
    var m = ListMap[String, Any](
      "link" -> meta.link,
      "title" -> meta.title,
      "description" -> meta.description,
      "author" -> meta.author,
      "album" -> meta.album,
      "thumbnail" -> meta.thumbnail,
      "language" -> meta.language,
      "page_rating" -> meta.pageRating,
      "date_published" -> meta.datePublished.map(_.toInstant.toString),
      "tags" -> meta.tags,
      "link_canonical" -> meta.linkCanonical,
      "link_request" -> requestUrl)
    if (meta.feeds.nonEmpty) m += "feeds" -> meta.feeds
    if (meta.pageType == "html") {
      m += "favicon" -> meta.favicons.headOption.map(_._2)
      m += "meta title" -> meta.metaTitle
      m += "meta description" -> meta.metaDescription
      m += "og:title" -> meta.ogTitle
      m += "og:description" -> meta.ogDescription
      m += "og:image" -> meta.ogImage
      m += "og:site_name" -> meta.ogSiteName
    }
    m += "link_archives" -> Seq(
      "https://web.archive.org/web/*/" + meta.link)
    m
  }

  private def anyToJson(v: Any): JValue = v match {
    case null | None   => JNull
    case Some(x)       => anyToJson(x)
    case s: String     => JString(s)
    case b: Boolean    => JBool(b)
    case i: Int        => JInt(i)
    case l: Long       => JInt(l)
    case d: Double     => JDouble(d)
    case seq: Seq[_]   => JArray(seq.map(anyToJson).toList)
    case m: ListMap[_, _] =>
      JObject(m.map { case (k, value) =>
        k.toString -> anyToJson(value)
      }.toList)
    case other => JString(other.toString)
  }

  /** One parsed feed entry in wire form: the pages.py:142-166 property
    * map with `feed_entry` stripped and dates stringified
    * (baseurl.py:655-670). */
  private def entryMap(e: FeedEntry): ListMap[String, Any] = ListMap(
    "link" -> e.link,
    "title" -> e.title,
    "description" -> e.description,
    "thumbnail" -> e.thumbnail,
    "language" -> e.language,
    "author" -> e.author,
    "album" -> Option(e.album).filter(_.nonEmpty),
    "bookmarked" -> e.bookmarked,
    "date_published" -> Option(e.datePublished).map(_.toString),
    "source" -> Option(e.source),
    "tags" -> (if (e.tags.isEmpty) None else Some(e.tags.mkString(", "))))

  private def socialMap(s: Social.SocialData): ListMap[String, Any] = {
    var m = ListMap[String, Any]()
    s.thumbsUp.foreach(v => m += "thumbs_up" -> v)
    s.thumbsDown.foreach(v => m += "thumbs_down" -> v)
    s.viewCount.foreach(v => m += "view_count" -> v)
    s.derivedUpvoteRatio.foreach(v => m += "upvote_ratio" -> v)
    s.rating.foreach(v => m += "rating" -> v)
    s.followersCount.foreach(v => m += "followers_count" -> v)
    s.derivedUpvoteDiff.foreach(v => m += "upvote_diff" -> v)
    m
  }

  /** Assemble the ordered section list (baseurl.py:520-574). */
  def build(meta: PageMeta, req: FetchRequest, resp: FetchResponse,
      entries: Seq[FeedEntry] = Seq.empty,
      social: Social.SocialData = Social.SocialData()): JArray = {

    def section(name: String, data: JValue): JObject =
      JObject(List("name" -> JString(name), "data" -> data))

    val sections = scala.collection.mutable.ListBuffer[JObject]()

    val props = propertiesMap(meta, resp.requestUrl)
    sections += section("Properties", anyToJson(props))

    // PropertiesHash = base64(md5(str(properties))) (baseurl.py:533,
    // property_encode at :672-673)
    val hash = Hashing.md5(pyRepr(props)).get
    sections += section("PropertiesHash",
      JString(Base64.getEncoder.encodeToString(hash)))

    // Text xor Binary (baseurl.py:537-549)
    resp.text match {
      case Some(t) =>
        sections += section("Text",
          JObject(List("Contents" -> JString(t))))
      case None if resp.body != null && resp.body.nonEmpty =>
        sections += section("Binary", JObject(List("Contents" ->
          JString(Base64.getEncoder.encodeToString(resp.body)))))
      case None =>
    }

    // Streams: named responses of the (possibly compound) handler — the
    // engine's single-fetch handlers expose the primary exchange keyed by
    // request URL (baseurl.py:242-263)
    sections += section("Streams", JObject(List(
      resp.requestUrl -> WireFormats.responseToJson(resp))))

    // Request: request_to_json + the crawler_type quirk — the reference
    // nulls the live object then names its type, which is always
    // "NoneType" on the wire (baseurl.py:554-556, request.py:190)
    val JObject(reqFields) = WireFormats.requestToJson(req)
    sections += section("Request",
      JObject(reqFields :+ ("crawler_type" -> (JString("NoneType"): JValue))))

    sections += section("Response", WireFormats.responseToJson(resp))

    sections += section("Headers",
      if (resp.headers.nonEmpty)
        JObject(resp.headers.map { case (k, v) =>
          k -> (JString(v): JValue)
        }.toList)
      else JNull)

    val sm = socialMap(social)
    if (sm.nonEmpty) sections += section("Social", anyToJson(sm))

    sections += section("Entries",
      JArray(entries.map(e => anyToJson(entryMap(e))).toList))

    JArray(sections.toList)
  }
}
