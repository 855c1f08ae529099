package graft.http

import java.util.Base64
import scala.collection.immutable.ListMap
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.model.{FetchRequest, FetchResponse}
import graft.parse.{DateKit, Hashing}

/** Request/response JSON wire formats (S6-S9)
  * (reference: webtoolkit/request.py:150-261, webtoolkit/response.py:520-637).
  * Field names, conditional presence, ordering and the base64 binary/hash
  * encoding mirror the reference so golden fixtures interchange. json4s is
  * used for ser/de — it ships inside the provided Spark jars.
  */
object WireFormats {

  // ------------------------------------------------------------- request

  /** request.py:150-198 — fields present only when truthy-ish. */
  def requestToJson(req: FetchRequest): JObject = {
    var fields = List[(String, JValue)]("url" -> JString(req.url))
    if (req.userAgent != null && req.userAgent.nonEmpty)
      fields :+= "User-Agent" -> JString(req.userAgent)
    if (req.requestHeaders.nonEmpty)
      fields :+= "request_headers" ->
        JObject(req.requestHeaders.map { case (k, v) =>
          k -> (JString(v): JValue)
        }.toList)
    fields :+= "timeout_s" -> JInt(req.timeoutS)
    fields :+= "delay_s" -> JInt(req.delayS)
    if (req.requestType != null && req.requestType.nonEmpty)
      fields :+= "request_type" -> JString(req.requestType)
    fields :+= "ssl_verify" -> JBool(req.sslVerify)
    fields :+= "respect_robots" -> JBool(req.respectRobots)
    if (req.acceptTypes.nonEmpty)
      fields :+= "accept_types" -> JString(req.acceptTypes.mkString(","))
    fields :+= "bytes_limit" -> JInt(req.bytesLimit)
    // field order mirrors request.py:179-197: proxies, settings, cookies
    // between bytes_limit and crawler_name; client_id last
    req.httpProxy.foreach(p => fields :+= "http_proxy" -> JString(p))
    req.httpsProxy.foreach(p => fields :+= "https_proxy" -> JString(p))
    if (req.settings.nonEmpty)
      fields :+= "settings" -> JObject(req.settings.map { case (k, v) =>
        k -> (JString(v): JValue)
      }.toList)
    if (req.cookies.nonEmpty)
      fields :+= "cookies" -> JObject(req.cookies.map { case (k, v) =>
        k -> (JString(v): JValue)
      }.toList)
    if (req.crawlerName != null && req.crawlerName.nonEmpty)
      fields :+= "crawler_name" -> JString(req.crawlerName)
    req.handlerName.foreach(h => fields :+= "handler_name" -> JString(h))
    req.clientId.foreach(c => fields :+= "client_id" -> JString(c))
    JObject(fields)
  }

  def requestToJsonString(req: FetchRequest): String =
    JsonMethods.compact(JsonMethods.render(requestToJson(req)))

  /** request.py:209-261 — str→int/bool coercions included. */
  def jsonToRequest(json: String): Option[FetchRequest] = {
    val parsed = try JsonMethods.parse(json) catch {
      case _: Exception => return None
    }
    jsonToRequest(parsed)
  }

  def jsonToRequest(parsed: JValue): Option[FetchRequest] = {
    def str(k: String): Option[String] = parsed \ k match {
      case JString(s) => Some(s)
      case _          => None
    }
    def int(k: String, default: Int): Int = parsed \ k match {
      case JInt(v)    => v.toInt
      case JString(s) => s.toIntOption.getOrElse(default)
      case _          => default
    }
    def long(k: String, default: Long): Long = parsed \ k match {
      case JInt(v)    => v.toLong
      case JString(s) => s.toLongOption.getOrElse(default)
      case _          => default
    }
    def bool(k: String, default: Boolean): Boolean = parsed \ k match {
      case JBool(b)        => b
      case JString("True") => true
      case JString("False") => false
      case _               => default
    }
    val url = str("url").getOrElse(return None)
    def strMap(k: String): Map[String, String] = parsed \ k match {
      case JObject(fs) =>
        fs.collect { case (name, JString(v)) => name -> v }.toMap
      case _ => Map.empty[String, String]
    }
    Some(FetchRequest(
      url = url,
      userAgent = str("User-Agent").orNull,
      requestHeaders = strMap("request_headers"),
      timeoutS = int("timeout_s", 20),
      delayS = int("delay_s", 0),
      requestType = str("request_type").getOrElse(FetchRequest.TypeFull),
      sslVerify = bool("ssl_verify", default = false),
      respectRobots = bool("respect_robots", default = true),
      acceptTypes = str("accept_types").map(_.split(",").toSeq)
        .getOrElse(Seq.empty),
      bytesLimit = long("bytes_limit", 5000000L),
      httpProxy = str("http_proxy"),
      httpsProxy = str("https_proxy"),
      settings = strMap("settings"),
      cookies = strMap("cookies"),
      crawlerName = str("crawler_name").orNull,
      handlerName = str("handler_name"),
      clientId = str("client_id")))
  }

  /** GET-param encoding of a request (request.py:264-270). */
  def requestEncode(req: FetchRequest): String = {
    val JObject(fields) = requestToJson(req)
    fields.map { case (k, v) =>
      val value = v match {
        case JString(s) => s
        case JInt(i)    => i.toString
        case JBool(b)   => if (b) "True" else "False"
        case other      => JsonMethods.compact(JsonMethods.render(other))
      }
      urlEncode(k) + "=" + urlEncode(value)
    }.mkString("&")
  }

  private def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  // ------------------------------------------------------------ response

  /** response.py:520-583 — ordered field dict with base64 hash/binary. */
  def responseToJson(resp: FetchResponse): JObject = {
    val headers = resp.headers
    val contentType = ContentTypes.contentType(headers)
    val contentLength = ContentTypes.contentLength(headers)
      .orElse(resp.text.map(_.length.toLong))
      .orElse(Option(resp.body).map(_.length.toLong))
      .getOrElse(0L)
    val hash = resp.text.flatMap(Hashing.md5)
      .orElse(Option(resp.body).flatMap(Hashing.md5Binary))
    var fields = List[(String, JValue)](
      "url" -> JString(resp.url),
      "request_url" -> JString(resp.requestUrl),
      "headers" -> JObject(headers.map { case (k, v) =>
        k -> (JString(v): JValue)
      }.toList),
      "is_valid" -> JBool(Statuses.isValid(resp.status)),
      "is_invalid" -> JBool(Statuses.isInvalid(resp.status)),
      "is_allowed" -> JBool(true),
      "status_code" -> JInt(resp.status),
      "status_code_str" -> JString(Statuses.toText(resp.status)),
      "crawl_time_s" -> JDouble(resp.crawlTimeMs / 1000.0),
      "Content-Type" -> contentType.map(JString(_): JValue)
        .getOrElse(JNull),
      "Recognized-Content-Type" -> resp.recognizedContentType
        .map(JString(_): JValue).getOrElse(JNull),
      "Content-Length" -> JInt(contentLength),
      "Charset" -> JString(resp.encoding),
      "hash" -> hash.map(h => JString(Base64.getEncoder.encodeToString(h))
        : JValue).getOrElse(JNull),
      // a fetched response carries no hash of its own; a decoded one
      // keeps the hash it was sent with
      "body_hash" -> resp.bodyHash.orElse(hash)
        .map(h => JString(Base64.getEncoder.encodeToString(h)): JValue)
        .getOrElse(JNull))
    ContentTypes.header(headers, "Last-Modified")
      .flatMap(DateKit.dateStrToDate).foreach { lm =>
        fields :+= "Last-Modified" -> JString(lm.toString)
      }
    if (resp.errors.nonEmpty)
      fields :+= "errors" -> JArray(resp.errors.map(JString(_): JValue).toList)
    fields :+= "text" -> resp.text.map(JString(_): JValue).getOrElse(JNull)
    fields :+= "binary" -> (
      if (resp.body != null && resp.body.nonEmpty)
        JString(Base64.getEncoder.encodeToString(resp.body))
      else JNull)
    JObject(fields)
  }

  def responseToJsonString(resp: FetchResponse): String =
    JsonMethods.compact(JsonMethods.render(responseToJson(resp)))

  /** response.py:586-637 — url fallback chain request→request_url. */
  def jsonToResponse(json: String): Option[FetchResponse] = {
    val parsed = try JsonMethods.parse(json) catch {
      case _: Exception => return None
    }
    def str(k: String): Option[String] = parsed \ k match {
      case JString(s) => Some(s)
      case _          => None
    }
    val requestUrl = str("request_url")
    val url = str("url")
      .orElse((parsed \ "request" \ "url") match {
        case JString(s) => Some(s)
        case _          => None
      })
      .orElse(requestUrl)
      .getOrElse(return None)
    val status = parsed \ "status_code" match {
      case JInt(v)    => v.toInt
      case JString(s) => s.toIntOption.getOrElse(0)
      case _          => 0
    }
    val headers = parsed \ "headers" match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _           => Map.empty[String, String]
    }
    val text = str("text")
    val binary = str("binary")
      .flatMap(b => try Some(Base64.getDecoder.decode(b))
        catch { case _: Exception => None })
      .getOrElse(Array.empty[Byte])
    val bodyHash = str("body_hash")
      .flatMap(b => try Some(Base64.getDecoder.decode(b))
        catch { case _: Exception => None })
    val errors = parsed \ "errors" match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _          => Seq.empty[String]
    }
    Some(FetchResponse(
      url = url,
      requestUrl = requestUrl.getOrElse(url),
      status = status,
      headers = headers,
      body = binary,
      text = text,
      encoding = str("Charset").getOrElse("utf-8"),
      errors = errors,
      crawlTimeMs = (parsed \ "crawl_time_s" match {
        case JDouble(d) => (d * 1000).toLong
        case JInt(i)    => i.toLong * 1000
        case _          => 0L
      }),
      recognizedContentType = str("Recognized-Content-Type"),
      bodyHash = bodyHash))
  }

  // -------------------------------------------------- file IO (S10)
  // Single-record JSON files (reference: webtoolkit/response.py:640-666,
  // webtoolkit/request.py:293-319) — the golden-fixture interchange format.

  def requestToFile(req: FetchRequest, path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, requestToJsonString(req))

  def requestFromFile(path: java.nio.file.Path): Option[FetchRequest] =
    if (!java.nio.file.Files.exists(path)) None
    else jsonToRequest(java.nio.file.Files.readString(path))

  def responseToFile(resp: FetchResponse, path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, responseToJsonString(resp))

  def responseFromFile(path: java.nio.file.Path): Option[FetchResponse] =
    if (!java.nio.file.Files.exists(path)) None
    else jsonToResponse(java.nio.file.Files.readString(path))
}
