package graft.http

import org.apache.spark.sql.Column

/** HTTP status classification, including the engine-internal 6xx codes.
  *
  * Reference: webtoolkit/statuses.py. The classification quirks matter for
  * frontier state transitions: 403/429/0/614/615 are NOT invalid even
  * though ≥400 or <200, and 429/615 suggest a retry (`tries+1` re-enqueue).
  */
object Statuses {
  val Unknown = 0
  val Ok = 200
  val MovedPermanently = 301
  val Found = 302
  val UserAgent = 403 // crawler rejected; page itself may be fine
  val NotFound = 404
  val TooManyRequests = 429
  // engine-internal codes (statuses.py:42-49)
  val CodeException = 600
  val CodeConnectionError = 603
  val CodeTimeout = 604
  val CodeFileTooBig = 612
  val CodePageUnsupported = 613
  val CodeServerError = 614
  val CodeServerTooManyRequests = 615
  val CodeServerDataNotReady = 616

  /** 200 ≤ x < 400 (statuses.py:99-107). */
  def isValid(status: Integer): Boolean =
    status != null && status >= 200 && status < 400

  /** ≥400 or <200, with carve-outs 0/403/429/614/615 (statuses.py:110-145). */
  def isInvalid(status: Integer): Boolean = {
    if (status == null) return true
    status.intValue match {
      case Unknown | UserAgent | TooManyRequests | CodeServerError |
          CodeServerTooManyRequests => false
      case s => s < 200 || s >= 400
    }
  }

  /** Retry might succeed with another crawler / later (statuses.py:148-171). */
  def isUncertain(status: Integer): Boolean =
    status != null && Set(UserAgent, CodeServerError, CodeException,
      TooManyRequests, CodeServerTooManyRequests).contains(status.intValue)

  /** 429 / 615 → re-enqueue with backoff (statuses.py:174-186). */
  def isRetrySuggested(status: Integer): Boolean =
    status != null &&
      (status.intValue == TooManyRequests ||
        status.intValue == CodeServerTooManyRequests)

  private val statusNames: Map[Int, String] = Map(
    0 -> "HTTP_STATUS_UNKNOWN", 200 -> "HTTP_STATUS_OK",
    201 -> "HTTP_STATUS_CREATED", 202 -> "HTTP_STATUS_ACCEPTED",
    204 -> "HTTP_STATUS_NO_CONTENT", 301 -> "HTTP_STATUS_MOVED_PERMANENTLY",
    302 -> "HTTP_STATUS_FOUND", 304 -> "HTTP_STATUS_NOT_MODIFIED",
    400 -> "HTTP_STATUS_BAD_REQUEST", 401 -> "HTTP_STATUS_UNAUTHORIZED",
    403 -> "HTTP_STATUS_USER_AGENT", 404 -> "HTTP_STATUS_NOT_FOUND",
    405 -> "HTTP_STATUS_METHOD_NOT_ALLOWED",
    429 -> "HTTP_STATUS_TOO_MANY_REQUESTS",
    495 -> "HTTP_STATUS_SSL_CERTIFICATE_ERROR",
    496 -> "HTTP_STATUS_SSL_HANDSHAKE_FAILED",
    499 -> "HTTP_STATUS_CLIENT_CLOSED_REQUEST",
    500 -> "HTTP_STATUS_INTERNAL_SERVER_ERROR",
    501 -> "HTTP_STATUS_NOT_IMPLEMENTED", 502 -> "HTTP_STATUS_BAD_GATEWAY",
    503 -> "HTTP_STATUS_SERVICE_UNAVAILABLE",
    504 -> "HTTP_STATUS_GATEWAY_TIMEOUT", 600 -> "HTTP_STATUS_CODE_EXCEPTION",
    603 -> "HTTP_STATUS_CODE_CONNECTION_ERROR",
    604 -> "HTTP_STATUS_CODE_TIMEOUT", 612 -> "HTTP_STATUS_CODE_FILE_TOO_BIG",
    613 -> "HTTP_STATUS_CODE_PAGE_UNSUPPORTED",
    614 -> "HTTP_STATUS_CODE_SERVER_ERROR",
    615 -> "HTTP_STATUS_CODE_SERVER_TOO_MANY_REQUESTS")

  /** statuses.py:52-95. */
  def toText(status: Int): String =
    statusNames.get(status).map(n => s"$n($status)")
      .getOrElse(s"STATUS_CODE($status)")

  /** Strictly >300 and <400, or 403, counts as a redirect-ish response
    * (reference: webtoolkit/response.py:380-387). */
  def isRedirect(status: Integer): Boolean =
    status != null &&
      ((status > 300 && status < 400) || status.intValue == UserAgent)

  // ---- Column forms: codegen-friendly, no UDF, usable in pure SQL. ----

  def invalidCol(status: Column): Column =
    status.isNull ||
      (!status.isin(Unknown, UserAgent, TooManyRequests, CodeServerError,
        CodeServerTooManyRequests) && (status < 200 || status >= 400))

  def retryCol(status: Column): Column =
    status.isin(TooManyRequests, CodeServerTooManyRequests)
}
