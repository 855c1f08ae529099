package graft.fetch

import java.nio.charset.Charset
import scala.collection.mutable
import scala.util.Try
import graft.handlers.{Handlers, Social}
import graft.model.{FetchRequest, FetchResponse}
import graft.http.{ContentTypes, Statuses}

/** The per-request fetch client — S1-S5 of the operator inventory.
  *
  * Called inside `mapPartitions`. A request is `start`ed on the watchdog
  * pool and `finish`ed later, so a partition can keep several in flight;
  * `fetchOne` is the two back to back. `startPage`/`finishPage` are the
  * same for a page: handler dispatch, the page request and the handler's
  * social-API side-fetch, the one path the crawl and the crawler buddy
  * share. The per-host minimum gap (the reference's `delay_s`,
  * webtoolkit/request.py:31) is kept by the caller,
  * `CrawlLoop.fetchAndParse`, which fetches one host's requests in one
  * partition, one at a time, when the gap is set (J-3). Guards are
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
    * pool just grows by one abandoned thread, exactly like the reference.
    * The pool is also what lets a caller keep several requests in flight:
    * `start` submits, `finish` collects. */
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

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"

  /** What the pooled raw fetch returns: the last response of the redirect
    * chain, its URL, and when the call returned, on the deadline clock
    * (`System.nanoTime`) and on the caller's `nowNanos` clock. */
  private[fetch] final case class RawFetch(resp: SyntheticResponse,
      finalUrl: String, doneNanos: Long, doneClock: Long)

  /** A request `start` set running; `finish` collects it. `deadline` is
    * on the `System.nanoTime` clock, `t0` on the caller's `clock`. */
  final class Started private[fetch] (
      private[fetch] val req: FetchRequest,
      private[fetch] val clock: () => Long,
      private[fetch] val t0: Long,
      private[fetch] val deadline: Long,
      private[fetch] val raw: java.util.concurrent.Future[RawFetch]) {
    /** Interrupt the fetch if it still runs (its caller has gone away). */
    def cancel(): Unit = raw.cancel(true)
  }

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

  /** Start one request against the synthetic internet: the raw fetch,
    * redirect chain included (the reference's deadline scope is the whole
    * `requests.get` call), runs on the watchdog pool and records when it
    * returned. With `timeoutS <= 0` there is no deadline and it runs here,
    * before `start` returns. */
  def start(req0: FetchRequest, internet: SyntheticInternet,
      nowNanos: () => Long = () => System.nanoTime()): Started = {
    val req = updateRequestForServices(req0)
    val t0 = nowNanos()
    val deadline = System.nanoTime() +
      (req.timeoutS * 1000L + watchdogSlackMs) * 1000000L
    val call: java.util.concurrent.Callable[RawFetch] = () => {
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
      RawFetch(resp, current, System.nanoTime(), nowNanos())
    }
    val raw =
      if (req.timeoutS <= 0) {
        val task = new java.util.concurrent.FutureTask(call)
        task.run()
        task
      } else watchdogPool.submit(call)
    new Started(req, nowNanos, t0, deadline, raw)
  }

  /** Collect a started request. A fetch that is not done by its own start
    * + `timeoutS` (+slack) maps to the engine-internal 604 timeout status
    * (statuses.py:42-49) — also when it is collected later and returned in
    * between, since the pooled call records when it returned. An exception
    * inside the fetch is 600 with its message, never masked as a timeout.
    * The body is not hashed here (`bodyHash` stays empty): only the wire
    * reads a hash, and `WireFormats.responseToJson` computes it. */
  def finish(started: Started): FetchResponse = {
    val req = started.req
    def failed(status: Int, error: String) = FetchResponse(
      url = req.url, requestUrl = req.url, status = status,
      headers = Map.empty, body = Array.empty, text = None,
      encoding = "utf-8", errors = Seq(error),
      crawlTimeMs = (started.clock() - started.t0) / 1000000L,
      recognizedContentType = None, bodyHash = None)
    def timedOut = failed(Statuses.CodeTimeout,
      s"Timeout: ${req.timeoutS}s exceeded")
    try {
      if (req.timeoutS <= 0) respond(started, started.raw.get())
      else {
        val raw = started.raw.get(
          math.max(0L, started.deadline - System.nanoTime()),
          java.util.concurrent.TimeUnit.NANOSECONDS)
        if (raw.doneNanos - started.deadline > 0) timedOut
        else respond(started, raw)
      }
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        started.cancel() // interrupt; abandon if uninterruptible
        timedOut
      case e: java.util.concurrent.ExecutionException =>
        failed(Statuses.CodeException,
          s"Exception: ${describe(if (e.getCause != null) e.getCause else e)}")
    }
  }

  /** A returned raw fetch through the reference's guard order: status →
    * byte limit → accept types → decode. `url` is the final location,
    * `requestUrl` the original (response.py:197-210). */
  private def respond(started: Started, fetched: RawFetch): FetchResponse = {
    val req = started.req
    val raw = fetched.resp
    val errors = mutable.ArrayBuffer[String]()
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
      url = fetched.finalUrl,
      requestUrl = req.url,
      status = status,
      headers = raw.headers,
      body = if (body == null) Array.empty else body,
      text = decodedText,
      encoding = encoding,
      errors = errors.toSeq,
      crawlTimeMs = (fetched.doneClock - started.t0) / 1000000L,
      recognizedContentType = recognized,
      bodyHash = None)
  }

  /** A page `startPage` set running: the handler its URL dispatched to,
    * the page request and the handler's social-API request, if any. */
  final class StartedPage private[fetch] (
      val handler: Option[Handlers.HandlerResult],
      private[fetch] val page: Started,
      private[fetch] val social: Option[(String, Started)]) {
    /** Interrupt both requests if they still run. */
    def cancel(): Unit = { page.cancel(); social.foreach(_._2.cancel()) }
  }

  /** Start one page as the reference's `BaseUrl` does for the crawler and
    * the crawler-buddy server alike: dispatch the handler, which may
    * rewrite the URL before the fetch (baseurl.py:305), and start the
    * page request together with the handler's social-API side-fetch
    * (J-5; the reference fans these out on a thread pool,
    * defaulturlhandler.py:183-207). */
  def startPage(req: FetchRequest, internet: SyntheticInternet,
      nowNanos: () => Long = () => System.nanoTime()): StartedPage = {
    val handler = Handlers.dispatch(req.url)
    val page = start(req.copy(url = handler.map(_.url).getOrElse(req.url)),
      internet, nowNanos)
    new StartedPage(handler, page, for (h <- handler; api <- h.socialApiUrl)
      yield (api, start(req.copy(url = api), internet, nowNanos)))
  }

  /** Collect a started page: the page response, and the social data of
    * a valid side-fetch (empty without one). */
  def finishPage(started: StartedPage): (FetchResponse, Social.SocialData) = {
    val resp = finish(started.page)
    val social = started.social.fold(Social.SocialData()) { case (api, s) =>
      val sresp = finish(s)
      if (Statuses.isValid(sresp.status))
        Social.forHandler(started.handler.get.name, api,
          sresp.text.getOrElse(""))
      else Social.SocialData()
    }
    (resp, social)
  }

  /** One request, started and collected: `finish(start(req))`. */
  def fetchOne(req: FetchRequest, internet: SyntheticInternet,
      nowNanos: () => Long = () => System.nanoTime()): FetchResponse =
    finish(start(req, internet, nowNanos))
}
