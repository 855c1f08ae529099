package graft.fetch

import java.nio.charset.{Charset, StandardCharsets}
import scala.collection.mutable
import scala.util.Try
import graft.model.{FetchRequest, FetchResponse}
import graft.http.{ContentTypes, Statuses}
import graft.parse.{Hashing, PageValidity}

/** The per-request fetch client — S1-S5 of the operator inventory.
  *
  * Called inside `mapPartitions`; the per-host minimum gap (the
  * reference's `delay_s`, webtoolkit/request.py:31) is kept by the
  * caller, `CrawlLoop.fetchAndParse`, which fetches one host's requests
  * in one partition, in sequence, when the gap is set (J-3). Guards are
  * header-first like the reference (webtoolkit/crawlers/
  * requestscrawler.py:49-70): byte limit and accept types are checked
  * before the body is materialized.
  */
object FetchClient {

  /** Accept-type token set: "text/html,application/xml" → {text, html,
    * application, xml}; empty → all (crawlerinterface.py:208-227). */
  def acceptTypeTokens(acceptTypes: Seq[String]): Set[String] = {
    if (acceptTypes.isEmpty) return Set("all")
    val out = mutable.Set[String]()
    acceptTypes.foreach { media0 =>
      val semi = media0.indexOf(';')
      val media = if (semi >= 0) media0.substring(0, semi) else media0
      media.split(",").foreach { m =>
        m.trim.replace("+", "/").split("/").foreach { part =>
          if (part.trim.nonEmpty) out += part.trim
        }
      }
    }
    out.toSet
  }

  /** Watchdog pool for the total-timeout guard (S3). The reference runs
    * every fetch on a worker thread and `join(timeout_s+5)`s it, abandoning
    * stuck reads (webtoolkit/crawlers/crawlerinterface.py:280-307). A cached
    * daemon pool gives the same semantics without a fresh thread per URL:
    * a timed-out task is cancelled with interrupt; if it is truly stuck the
    * pool just grows by one abandoned thread, exactly like the reference. */
  private lazy val watchdogPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-fetch-watchdog")
      t.setDaemon(true)
      t
    })

  /** Total-timeout slack over the nominal request timeout. The reference
    * uses +5 s because `requests` carries its own socket timeout; the
    * synthetic internet has none, so a small fixed slack suffices. */
  private val watchdogSlackMs = 200L

  /** Outcome of a deadline-guarded fetch: the reference distinguishes a
    * killed worker thread (604 timeout) from an exception raised inside the
    * fetch (600 exception, statuses.py:42-49) — so must we. */
  private[fetch] sealed trait DeadlineResult[+T]
  private[fetch] final case class DeadlineOk[T](value: T) extends DeadlineResult[T]
  private[fetch] case object DeadlineTimeout extends DeadlineResult[Nothing]
  private[fetch] final case class DeadlineFailed(message: String)
      extends DeadlineResult[Nothing]

  /** Run `body` under a deadline of `timeoutS` seconds (+slack). */
  private[fetch] def withDeadline[T](timeoutS: Int)(
      body: => T): DeadlineResult[T] = {
    if (timeoutS <= 0)
      return try DeadlineOk(body) catch {
        case e: Exception => DeadlineFailed(describe(e))
      }
    val fut = watchdogPool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = body
    })
    try DeadlineOk(fut.get(timeoutS * 1000L + watchdogSlackMs,
      java.util.concurrent.TimeUnit.MILLISECONDS))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        fut.cancel(true) // interrupt; abandon if uninterruptible
        DeadlineTimeout
      case e: java.util.concurrent.ExecutionException =>
        DeadlineFailed(describe(if (e.getCause != null) e.getCause else e))
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"

  /** Redirect statuses `requests` follows automatically (3xx with a
    * Location; the reference relies on requests' allow_redirects=True and
    * records both final `url` and `request_url`, response.py:197-210). */
  private val redirectStatuses = Set(301, 302, 303, 307, 308)
  private val maxRedirects = 10

  /** Per-service request mutation before fetch: the YouTube CONSENT cookie
    * (reference: webtoolkit/handlers/handlerhttppage.py:84-98). */
  def updateRequestForServices(req: FetchRequest): FetchRequest = {
    val dom = graft.url.UrlKit.domainOnly(req.url).getOrElse("")
    if (dom.contains("youtube.com") && !req.cookies.contains("CONSENT"))
      req.copy(cookies =
        req.cookies + ("CONSENT" -> "YES+cb.20210328-17-p0.en+F+678"))
    else req
  }

  /** One request against the synthetic internet, with the reference's
    * guard order: status → byte limit → accept types → decode. Follows
    * redirect chains; `url` is the final location, `requestUrl` the
    * original (response.py:197-210). A fetch that exceeds `timeoutS` maps
    * to the engine-internal 604 timeout status (statuses.py:42-49). */
  def fetchOne(req0: FetchRequest, internet: SyntheticInternet,
      nowNanos: () => Long = () => System.nanoTime()): FetchResponse = {
    val req = updateRequestForServices(req0)
    val t0 = nowNanos()
    val errors = mutable.ArrayBuffer[String]()

    // fetch + redirect-follow under one total deadline (reference scope:
    // the whole requests.get call, redirects included)
    var finalUrl = req.url
    val rawRes: DeadlineResult[SyntheticResponse] = withDeadline(req.timeoutS) {
      var current = req.url
      var resp = internet.get(current)
      var hops = 0
      while (redirectStatuses.contains(resp.status) && hops < maxRedirects &&
          ContentTypes.redirectUrl(resp.headers).nonEmpty) {
        val loc = ContentTypes.redirectUrl(resp.headers).get
        current = graft.url.UrlKit.resolve(current, loc)
        resp = internet.get(current)
        hops += 1
      }
      finalUrl = current
      resp
    }
    val raw = rawRes match {
      case DeadlineOk(r) => r
      case other =>
        // 604 is reserved for the expired watchdog; an exception inside the
        // fetch is 600 with its message, never masked as a timeout
        val status = other match {
          case DeadlineFailed(msg) =>
            errors += s"Exception: $msg"
            Statuses.CodeException
          case _ =>
            errors += s"Timeout: ${req.timeoutS}s exceeded"
            Statuses.CodeTimeout
        }
        return FetchResponse(
          url = req.url, requestUrl = req.url, status = status,
          headers = Map.empty, body = Array.empty, text = None,
          encoding = "utf-8", errors = errors.toSeq,
          crawlTimeMs = (nowNanos() - t0) / 1000000L,
        recognizedContentType = None, bodyHash = None)
    }

    var status = raw.status
    var body: Array[Byte] = raw.body
    var text: Option[String] = raw.text

    // ping/head stop at headers (request.py:11-13, requestscrawler.py:61-63)
    val headerOnly = req.requestType == FetchRequest.TypePing ||
      req.requestType == FetchRequest.TypeHead

    // byte-limit guard BEFORE body read (crawlerinterface.py:174-180)
    val contentLength = ContentTypes.contentLength(raw.headers)
    if (!headerOnly && contentLength.exists(_ > req.bytesLimit)) {
      errors += s"Page is too big: ${contentLength.get}"
      status = Statuses.CodeFileTooBig
      body = Array.empty
      text = None
    }

    // accept-type guard (crawlerinterface.py:182-199)
    val accepts = acceptTypeTokens(req.acceptTypes)
    if (!headerOnly && status == 200 && !accepts.contains("all")) {
      ContentTypes.contentTypeKeys(raw.headers).foreach { keys =>
        if (!keys.exists(accepts.contains)) {
          errors += s"Response type is not supported:${ContentTypes.contentType(raw.headers).getOrElse("")}"
          status = Statuses.CodePageUnsupported
          body = Array.empty
          text = None
        }
      }
    }

    if (headerOnly) { body = Array.empty; text = None }

    // encoding resolution chain: header charset → meta charset → utf-8
    // (requestscrawler.py:108-142)
    val headerCharset = ContentTypes.charset(raw.headers)
    val encoding = headerCharset
      .orElse(text.flatMap(t => new graft.parse.HtmlMeta(req.url, t).charset))
      .getOrElse("utf-8")

    val decodedText = text.orElse {
      if (body.nonEmpty &&
          ContentTypes.contentType(raw.headers).exists(ContentTypes.isText))
        Try(new String(body, Charset.forName(encoding))).toOption
      else None
    }

    val recognized = ContentTypes.contentType(raw.headers).map { ct =>
      val semi = ct.indexOf(';')
      if (semi >= 0) ct.substring(0, semi) else ct
    }

    FetchResponse(
      url = finalUrl,
      requestUrl = req.url,
      status = status,
      headers = raw.headers,
      body = if (body == null) Array.empty else body,
      text = decodedText,
      encoding = encoding,
      errors = errors.toSeq,
      crawlTimeMs = (nowNanos() - t0) / 1000000L,
      recognizedContentType = recognized,
      bodyHash = decodedText.flatMap(Hashing.md5)
        .orElse(Hashing.md5Binary(body)))
  }
}
