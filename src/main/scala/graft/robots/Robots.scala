package graft.robots

import scala.collection.mutable

/** robots.txt evaluation with CPython `urllib.robotparser` semantics —
  * the gate applied before every fetch
  * (reference: webtoolkit/domaincache.py:41-61 delegates to the stdlib
  * parser; its observable behavior is frozen here):
  *   - user-agent groups; rules accumulate until the next blank-ish
  *     user-agent line after rules;
  *   - first applicable rule in file order wins; default allow;
  *   - paths are prefix matches ("*" exactly means match-all, wildcards are
  *     otherwise literal);
  *   - the checked path is the URL's path (query included per CPython,
  *     which urlparses then re-quotes path+"?"+query? no — path only).
  */
object Robots {

  final case class Rule(allow: Boolean, path: String)
  final case class Group(agents: Seq[String], rules: Seq[Rule])
  final case class RobotRules(groups: Seq[Group], sitemaps: Seq[String]) {

    private def groupFor(userAgent: String): Option[Group] = {
      val ua = userAgent.split("/")(0).toLowerCase
      groups.find(g => g.agents.exists(a => a != "*" && ua.contains(a)))
        .orElse(groups.find(_.agents.contains("*")))
    }

    def canFetch(userAgent: String, url: String): Boolean = {
      val path0 = pathOf(url)
      val path = if (path0.isEmpty) "/" else path0
      groupFor(userAgent) match {
        case None => true
        case Some(g) =>
          g.rules.find(r => r.path == "*" || path.startsWith(r.path))
            .forall(_.allow)
      }
    }
  }

  private def pathOf(url: String): String = {
    // scheme://host[:port]/path[?query][#fragment] → /path
    val afterScheme = {
      val p = url.indexOf("://")
      if (p >= 0) url.substring(p + 3) else url
    }
    val slash = afterScheme.indexOf('/')
    if (slash < 0) return ""
    var path = afterScheme.substring(slash)
    val q = path.indexOf('?')
    if (q >= 0) path = path.substring(0, q)
    val h = path.indexOf('#')
    if (h >= 0) path = path.substring(0, h)
    path
  }

  /** Parse robots.txt contents (the CPython state machine: user-agent lines
    * open a group; a user-agent line after rules starts a new group). */
  def parse(contents: String): RobotRules = {
    val groups = mutable.ArrayBuffer[Group]()
    val sitemaps = mutable.ArrayBuffer[String]()
    var agents = mutable.ArrayBuffer[String]()
    var rules = mutable.ArrayBuffer[Rule]()
    var state = 0 // 0=start, 1=saw user-agent, 2=saw rule

    def flush(): Unit = {
      if (agents.nonEmpty)
        groups += Group(agents.toSeq, rules.toSeq)
      agents = mutable.ArrayBuffer[String]()
      rules = mutable.ArrayBuffer[Rule]()
    }

    contents.split("\n", -1).foreach { line0 =>
      var line = line0
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (state == 2) flush()
              agents += value.toLowerCase
              state = 1
            case "disallow" if state != 0 =>
              rules += Rule(allow = false, value)
              state = 2
            case "allow" if state != 0 =>
              rules += Rule(allow = true, value)
              state = 2
            case "sitemap" => sitemaps += value
            case _ =>
          }
        }
      }
    }
    flush()
    // empty-path rules never apply (startswith("") is always true in
    // CPython but an empty Disallow means allow-everything: drop it)
    val cleaned = groups.map(g =>
      g.copy(rules = g.rules.filterNot(r => !r.allow && r.path.isEmpty)))
    RobotRules(cleaned.toSeq, sitemaps.toSeq)
  }

  /** Executor-local LRU of parsed rules keyed by the robots.txt body —
    * the gate UDF receives the broadcast *text* per host (cheap to ship,
    * columnar) and parses it at most once per executor (the reference's
    * LRU(400) singleton, domaincache.py:170-259, re-expressed as local
    * memoization behind a distributed rules table). */
  private val parseCache =
    new java.util.LinkedHashMap[String, RobotRules](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, RobotRules]): Boolean = size > 512
    }

  def cachedParse(contents: String): RobotRules = parseCache.synchronized {
    val hit = parseCache.get(contents)
    if (hit != null) hit
    else {
      val parsed = parse(contents)
      parseCache.put(contents, parsed)
      parsed
    }
  }

  /** The per-row gate: does `userAgent` get to fetch `url` under this
    * robots.txt body? */
  def allows(contents: String, userAgent: String, url: String): Boolean =
    cachedParse(contents).canFetch(userAgent, url)

  /** Sitemap-line scan exactly as the reference does it by hand
    * (domaincache.py:82-101): any line containing "Sitemap", value after
    * the first ":". */
  def sitemapLines(contents: String): Seq[String] = {
    if (contents == null) return Seq.empty
    contents.split("\n", -1).toSeq
      .map(_.replace("\r", ""))
      .filter(_.contains("Sitemap"))
      .flatMap { line =>
        val wh2 = line.indexOf(':')
        if (wh2 >= 0) Some(line.substring(wh2 + 1).trim) else None
      }.distinct
  }
}
