package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.handlers.Handlers
import graft.robots.Robots
import graft.score.Moderation

/** Vectors from the reference handler suites
  * (reference: tests/unit/test_handleryoutube.py, test_handlerodysee.py,
  * test_handlers.py) plus robots/moderation checks. */
class HandlersSpec extends AnyFunSuite {

  test("compound multi-source merge: pick-first + ordered coalesce (J-5)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    // (logical_url, source_order, is_valid, url, title, description, language)
    val sources = Seq(
      // all valid: url-match (order 1) preferred over first (order 0);
      // title coalesces from source 0, language only on source 1
      ("https://a.test", 0L, true, "https://a.test/feed", "A feed", null, null),
      ("https://a.test", 1L, true, "https://a.test", null, "A desc", "en"),
      // one invalid: it wins the pick even though it is last
      ("https://b.test", 0L, true, "https://b.test", "B page", "B desc", null),
      ("https://b.test", 1L, false, "https://b.test/api", null, null, "fr"))
      .toDF("logical_url", "source_order", "is_valid", "url", "title",
        "description", "language")
    val merged = graft.handlers.Compound.mergeSources(sources)
      .collect().map(r => r.getAs[String]("logical_url") -> r).toMap
    val a = merged("https://a.test")
    assert(a.getAs[String]("picked_url") == "https://a.test") // url match
    assert(a.getAs[Boolean]("picked_valid"))
    assert(a.getAs[String]("title") == "A feed")      // order-0 wins
    assert(a.getAs[String]("description") == "A desc") // first non-null
    assert(a.getAs[String]("language") == "en")
    val b = merged("https://b.test")
    assert(b.getAs[String]("picked_url") == "https://b.test/api") // invalid first
    assert(!b.getAs[Boolean]("picked_valid"))
    assert(b.getAs[String]("title") == "B page")
  }

  test("youtube video codes") {
    assert(Handlers.youTubeVideoCode("https://www.youtube.com/watch?v=1234").contains("1234"))
    assert(Handlers.youTubeVideoCode("https://www.youtube.com/shorts/1234").contains("1234"))
    assert(Handlers.youTubeVideoCode(
      "https://www.youtube.com/watch?app=desktop&v=nkll0StZJLA&t=34s")
      .contains("nkll0StZJLA"))
    assert(Handlers.youTubeVideoCode("https://youtu.be/1234").contains("1234"))
    assert(Handlers.youTubeVideoCode("https://www.youtu.be/1234?t=50").contains("1234"))
  }

  test("youtube video dispatch") {
    val r = Handlers.dispatch("https://www.youtube.com/watch?v=1234").get
    assert(r.name == "YouTubeVideoHandler")
    assert(r.canonicalUrl.contains("https://www.youtube.com/watch?v=1234"))
    assert(r.socialApiUrl.contains(
      "https://returnyoutubedislikeapi.com/votes?videoId=1234"))
    assert(Handlers.dispatch("https://m.youtube.com/watch?v=123").get.name
      == "YouTubeVideoHandler")
  }

  test("youtube channel dispatch") {
    val r = Handlers.dispatch(
      "https://www.youtube.com/channel/UCd6vEDS3SOhWbXZrxbrf_bw").get
    assert(r.name == "YouTubeChannelHandler")
    assert(r.code.contains("UCd6vEDS3SOhWbXZrxbrf_bw"))
    assert(r.feeds.contains(
      "https://www.youtube.com/feeds/videos.xml?channel_id=UCd6vEDS3SOhWbXZrxbrf_bw"))
    val feed = Handlers.dispatch(
      "https://www.youtube.com/feeds/videos.xml?channel_id=UCXYZ").get
    assert(feed.name == "YouTubeChannelHandler")
    assert(feed.code.contains("UCXYZ"))
    assert(feed.canonicalUrl.contains(
      "https://www.youtube.com/feeds/videos.xml?channel_id=UCXYZ"))
    // handle forms carry no static code (needs a fetch round)
    val handle = Handlers.dispatch("https://www.youtube.com/@TheChannel").get
    assert(handle.name == "YouTubeChannelHandler")
    assert(handle.code.isEmpty)
  }

  test("odysee dispatch") {
    val v = Handlers.dispatch(
      "https://odysee.com/@samtime:1/apple-reacts:c1?query=1").get
    assert(v.name == "OdyseeVideoHandler")
    assert(v.url == "https://odysee.com/@samtime:1/apple-reacts:c1")
    assert(v.code.contains("apple-reacts:c1"))
    assert(v.feeds == Seq("https://odysee.com/$/rss/@samtime:1"))
    val c = Handlers.dispatch("https://odysee.com/$/rss/@samtime:1").get
    assert(c.name == "OdyseeChannelHandler")
    assert(c.code.contains("@samtime:1"))
    val chan = Handlers.dispatch("https://odysee.com/@samtime:1").get
    assert(chan.name == "OdyseeChannelHandler")
    assert(chan.feeds == Seq("https://odysee.com/$/rss/@samtime:1"))
  }

  test("reddit dispatch") {
    val post = Handlers.dispatch(
      "https://www.reddit.com/r/redditdev/comments/1hw8p3j/i_used_the_reddit_api/").get
    assert(post.name == "RedditUrlHandler")
    assert(post.code.contains("1hw8p3j"))
    assert(post.socialApiUrl.contains("https://www.reddit.com/1hw8p3j.json"))
    assert(post.feeds == Seq("https://www.reddit.com/r/redditdev/.rss"))
    val sub = Handlers.dispatch("https://www.reddit.com/r/redditdev/").get
    assert(sub.code.contains("redditdev"))
    assert(sub.socialApiUrl.contains("https://www.reddit.com/r/redditdev/.json"))
  }

  test("github dispatch") {
    val r = Handlers.dispatch("https://github.com/apache/spark").get
    assert(r.name == "GitHubUrlHandler")
    assert(r.feeds.contains("https://github.com/apache/spark/commits.atom"))
    assert(r.feeds.contains("https://github.com/apache/spark/releases.atom"))
    assert(r.socialApiUrl.contains("https://api.github.com/repos/apache/spark"))
  }

  test("hackernews dispatch") {
    val r = Handlers.dispatch("https://news.ycombinator.com/item?id=3778901").get
    assert(r.name == "HackerNewsHandler")
    assert(r.code.contains("3778901"))
    assert(r.socialApiUrl.contains(
      "https://hacker-news.firebaseio.com/v0/item/3778901.json?print=pretty"))
  }

  test("twitter strips ref_src") {
    val r = Handlers.dispatch(
      "https://twitter.com/someone/status/1?ref_src=twsrc").get
    assert(r.name == "TwitterUrlHandler")
    assert(r.url == "https://twitter.com/someone/status/1")
  }

  test("fallback and unhandled") {
    assert(Handlers.dispatch("https://example.com/page").get.name
      == "HttpPageHandler")
    assert(Handlers.dispatch("smb://server/share").isEmpty)
    assert(Handlers.dispatch(
      "http://dreadytofatroptsdj6io7l3xptbet6onoyno2yv7jicoxknyazubrad.onion").isEmpty)
    assert(Handlers.dispatch(
      "https://web.archive.org/web/2020/http://x.com").get.name
      == "InternetArchive")
    assert(Handlers.dispatch("https://boards.4chan.org/g/").get.name
      == "FourChanChannelHandler")
  }

  test("robots parsing and can_fetch") {
    val contents =
      """User-agent: *
        |Disallow: /private/
        |Allow: /private/ok
        |Disallow: /tmp
        |Sitemap: https://site.test/sitemap.xml
        |
        |User-agent: badbot
        |Disallow: /
        |""".stripMargin
    val rules = Robots.parse(contents)
    assert(rules.canFetch("*", "https://site.test/"))
    assert(rules.canFetch("*", "https://site.test/page"))
    assert(!rules.canFetch("*", "https://site.test/private/page"))
    // file order: Disallow /private/ precedes Allow /private/ok
    assert(!rules.canFetch("*", "https://site.test/private/ok"))
    assert(!rules.canFetch("*", "https://site.test/tmp/x"))
    assert(!rules.canFetch("badbot", "https://site.test/anything"))
    assert(Robots.sitemapLines(contents) == Seq("https://site.test/sitemap.xml"))
  }

  test("robots allow-first file order wins") {
    val rules = Robots.parse(
      "User-agent: *\nAllow: /private/ok\nDisallow: /private/\n")
    assert(rules.canFetch("*", "https://site.test/private/ok"))
    assert(!rules.canFetch("*", "https://site.test/private/no"))
  }

  test("moderation") {
    assert(Moderation.isSiteNotFound("404 Not Found"))
    assert(Moderation.isSiteNotFound("Access Denied"))
    assert(!Moderation.isSiteNotFound("Welcome to my site"))
    assert(Moderation.isPornBlocked("Hot XXX clips"))
    assert(!Moderation.isPornBlocked("Cooking with sesame oil")) // 'ses' not keyword
    assert(Moderation.isCasinoBlocked("slot server deluxe", ""))
    assert(Moderation.isCasinoBlocked("casino casino", "poker jackpot"))
    assert(!Moderation.isCasinoBlocked("poker night", "one mention only"))
    assert(Moderation.isValid("A regular page", "with a description"))
    assert(Moderation.age("nsfw porn", "").contains(15))
    assert(Moderation.age("one porn mention", "").isEmpty)
  }

  test("moderation Column forms equal the scalar forms") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.Prop.propBoolean
    import org.apache.spark.sql.functions.col
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    // every keyword, overlapping ones (slut/slutt, sex/sexua), the casino
    // phrase, filler; glued with no separator, a space or a newline, so
    // keywords repeat and run into each other; any letter may be upper case
    val words = Moderation.pornKeywords ++ Moderation.pornPointKeywords ++
      Moderation.casinoKeywords ++ Moderation.notFoundTitles ++
      Moderation.ageKeywords ++ Seq("slot server", "sussex", "page", "a")
    val token = for {
      w <- Gen.oneOf(words)
      upper <- Gen.listOfN(w.length, Gen.prob(0.3))
      sep <- Gen.oneOf("", " ", "\n")
    } yield w.zip(upper).map { case (c, u) => if (u) c.toUpper else c }
      .mkString + sep
    val text = Gen.frequency(1 -> Gen.const(null: String),
      9 -> Gen.listOf(token).map(_.mkString))
    val t = col("title")
    val d = col("description")
    var outcomes = Set.empty[(String, Any)]
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(10).withMaxSize(12),
      Prop.forAllNoShrink(Gen.listOfN(200, Gen.zip(text, text))) { rows =>
        val got = rows.toDF("title", "description").select(t, d,
          Moderation.isSiteNotFoundCol(t), Moderation.isPornBlockedCol(t),
          Moderation.isCasinoBlockedCol(t, d), Moderation.isValidCol(t, d),
          Moderation.ageCol(t, d)).collect()
        val mismatches = got.flatMap { r =>
          val (ti, de) = (r.getString(0), r.getString(1))
          val pairs = Seq(
            "isSiteNotFound" -> (r.get(2), Moderation.isSiteNotFound(ti)),
            "isPornBlocked" -> (r.get(3), Moderation.isPornBlocked(ti)),
            "isCasinoBlocked" ->
              (r.get(4), Moderation.isCasinoBlocked(ti, de)),
            "isValid" -> (r.get(5), Moderation.isValid(ti, de)),
            "age" -> (Option(r.get(6)), Moderation.age(ti, de)))
          outcomes ++= pairs.map { case (name, (_, want)) => name -> want }
          pairs.collect { case (name, (column, want)) if column != want =>
            s"$name($ti, $de): column $column, scalar $want" }
        }
        mismatches.isEmpty :| mismatches.take(3).mkString("; ")
      })
    assert(result.passed, result.status.toString)
    // every form met both of its outcomes
    Seq("isSiteNotFound", "isPornBlocked", "isCasinoBlocked", "isValid")
      .foreach { name =>
        assert(outcomes(name -> true) && outcomes(name -> false), name)
      }
    assert(outcomes("age" -> Some(15)) && outcomes("age" -> None))
  }

  test("moderation keyword quirk: sex matches sesame? no — substring check") {
    // "sex" as substring: "Sussex history" contains "sex" → blocked,
    // faithfully reproducing the reference's substring semantics
    assert(Moderation.isPornBlocked("Sussex history"))
  }
}
