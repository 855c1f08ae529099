package graft.remote

import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable

import graft.crawl.CrawlLoop
import graft.fetch.{FetchClient, SyntheticInternet}
import graft.http.{AllProperties, WireFormats}
import graft.model.{FetchRequest, FetchResponse}
import graft.parse.PageFactory

/** The server half of the S11 wire: crawls on request and answers with
  * the section-list JSON ([[AllProperties]]). The reference keeps this in
  * a separate "crawler buddy" deployment; here the same contract runs
  * in-process so the client pair is exercised end-to-end against the real
  * engine, and a [[allPropertiesUdf]] exposes the identical section JSON
  * as a per-row column for whole-table wire export from Spark.
  *
  * Serializable on purpose: the UDF ships one buddy per executor; each
  * request is an independent fetch+parse, so there is no shared state to
  * coordinate (the /set - /findj store is driver-side test plumbing and
  * deliberately transient).
  */
final class CrawlerBuddy(internet: SyntheticInternet,
    requiredKey: Option[String] = None) extends Serializable {

  /** /set storage: (crawl_id, url) → response JSON (+ names). */
  @transient private lazy val stored =
    mutable.LinkedHashMap[(String, String), JObject]()

  /** Crawl one request and build the full section list — what the
    * reference buddy does per /api/get. */
  def allPropertiesFor(req: FetchRequest): JArray = {
    val (resp, social) = FetchClient.finishPage(FetchClient.startPage(req,
      internet, nowNanos = () => 0L)) // deterministic crawl_time on the wire
    val parsed = PageFactory.recognize(resp.url, resp.headers, resp.text)
    val meta = PageFactory.toPageMeta(resp.url, parsed)
    val entries = parsed match {
      case Some(PageFactory.ParsedRss(m)) => m.entries(CrawlLoop.StartTime)
      case _                              => Seq.empty
    }
    AllProperties.build(meta, req, resp, entries, social)
  }

  def allPropertiesJson(url: String): String = {
    val arr = allPropertiesFor(FetchRequest.default(url))
    JsonMethods.compact(JsonMethods.render(arr))
  }

  /** Decode the GET-encoded request (inverse of
    * WireFormats.requestEncode; the buddy-side counterpart of S6): the
    * params laid over the default request's JSON, read by
    * `WireFormats.jsonToRequest`. The map-valued params travel as JSON
    * objects; an empty `accept_types` means no restriction. */
  def queryToRequest(query: String): Option[(FetchRequest, Map[String, String])] = {
    val m = query.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _        => None
      }
    }.toMap
    val url = m.getOrElse("url", return None)
    val JObject(defaults) =
      WireFormats.requestToJson(FetchRequest.default(url))
    val overrides = m.toList.flatMap {
      case (k, v) if CrawlerBuddy.mapParams(k) =>
        JsonMethods.parseOpt(v).collect { case o: JObject => k -> o }
      case ("accept_types", "") => None
      case (k, v)               => Some(k -> JString(v))
    }
    WireFormats.jsonToRequest(
      JObject(defaults.filterNot(f => m.contains(f._1)) ++ overrides))
      .map(req => (req, m))
  }

  private def ok(fields: (String, JValue)*): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(("success" -> (JBool(true): JValue)) :: fields.toList)))
  private def failure: String = """{"success":false}"""

  /** Serve one GET: full URL with endpoint + query. Returns the body the
    * HTTP layer would send, or None for a transport-level error. */
  def serveGet(fullUrl: String): Option[String] = {
    val qMark = fullUrl.indexOf('?')
    val (path0, query) =
      if (qMark >= 0) (fullUrl.substring(0, qMark), fullUrl.substring(qMark + 1))
      else (fullUrl, "")
    val path = path0.replaceFirst("^https?://[^/]*", "")
    path match {
      case "/api/info" => Some(ok("name" -> JString("graft-buddy"),
        "version" -> JString("1.0")))
      case "/findj" =>
        val params = query.split("&").flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _           => None
        }).toMap
        val k = (params.getOrElse("crawl_id", ""), params.getOrElse("url", ""))
        stored.get(k).map(o => JsonMethods.compact(JsonMethods.render(o)))
          .orElse(Some(failure))
      case _ =>
        val decoded = queryToRequest(query).getOrElse(return Some(failure))
        val (req, params) = decoded
        if (requiredKey.exists(k => !params.get("key").contains(k)))
          return Some(failure)
        path match {
          case "/api/get" =>
            Some(JsonMethods.compact(JsonMethods.render(
              allPropertiesFor(req))))
          case "/api/feeds" =>
            val props = allPropertiesFor(req)
            val feeds = RemoteServer
              .readPropertiesSection("Properties", props) match {
              case Some(JObject(fields)) => fields.collectFirst {
                case ("feeds", JArray(vs)) => JArray(vs)
              }.getOrElse(JArray(Nil))
              case _ => JArray(Nil)
            }
            Some(ok("feeds" -> feeds))
          case "/api/social" =>
            val props = allPropertiesFor(req)
            RemoteServer.readPropertiesSection("Social", props) match {
              case Some(o: JObject) =>
                Some(JsonMethods.compact(JsonMethods.render(
                  JObject(("success" -> (JBool(true): JValue)) :: o.obj))))
              case _ => Some(ok())
            }
          case "/api/link" =>
            val clean = graft.url.UrlKit.cleanedLink(req.url)
            Some(ok(
              "link" -> JString(req.url),
              "link_canonical" -> clean.map(c => JString(c): JValue)
                .getOrElse(JNull),
              "domain" -> graft.url.UrlKit.domainOnly(req.url)
                .map(d => JString(d): JValue).getOrElse(JNull)))
          case "/api/ping" =>
            val resp = FetchClient.fetchOne(
              req.copy(requestType = FetchRequest.TypePing), internet)
            Some(ok("status" -> JInt(resp.status)))
          case _ => Some(failure)
        }
    }
  }

  /** Serve one POST (the /set endpoint). */
  def servePost(fullUrl: String, json: String,
      params: Map[String, String]): Boolean = {
    val path = fullUrl.replaceFirst("^https?://[^/]*", "")
      .takeWhile(_ != '?')
    if (path != "/set") return false
    JsonMethods.parseOpt(json) match {
      case Some(o: JObject) =>
        stored((params.getOrElse("crawl_id", ""),
          params.getOrElse("url", ""))) = o
        true
      case _ => false
    }
  }
}

object CrawlerBuddy {

  /** The request params whose GET value is a JSON object. */
  private val mapParams = Set("settings", "cookies", "request_headers")

  /** The in-process transport: the client's wire bytes go straight into
    * the buddy's dispatcher — same protocol, no socket. */
  final class InProcessTransport(buddy: CrawlerBuddy) extends RemoteTransport {
    override def get(url: String, timeoutS: Int): Option[String] =
      buddy.serveGet(url)
    override def post(url: String, json: String,
        params: Map[String, String], timeoutS: Int): Boolean =
      buddy.servePost(url, json, params)
  }

  /** Whole-table wire export (VERDICT r2 #8): one section-list JSON per
    * URL row — `df.withColumn("all_properties", udf(col("url")))`. Each
    * executor crawls its partition's URLs independently; at 10^10-URL
    * scale this is the same map-only shape as the fetch stage. */
  def allPropertiesUdf(internet: SyntheticInternet)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val buddy = new CrawlerBuddy(internet)
    org.apache.spark.sql.functions.udf(
      (url: String) => buddy.allPropertiesJson(url))
  }
}
