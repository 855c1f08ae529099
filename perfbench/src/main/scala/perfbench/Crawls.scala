package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlConfig, CrawlLoop, CrawlResult}
import graft.fetch.{FetchClient, SyntheticConfig, SyntheticInternet}
import graft.frontier.{Frontier, SeenSet}
import graft.links.LinkExtractor
import graft.model.FetchRequest
import graft.parse.PageFactory
import graft.robots.Robots
import graft.store.SnapshotStore
import graft.url.UrlKit

/** Shape of one crawl. Every crawl of the benchmark is one batch. */
final case class CrawlShape(sites: Int, pagesPerSite: Int,
    bodyParagraphs: Int, perHostBudget: Int, durable: Boolean,
    seedPages: Boolean = false) {

  def internet(seed: Long): SyntheticInternet =
    SyntheticInternet(SyntheticConfig(seed = seed, nSites = sites,
      pagesPerSite = pagesPerSite, imagesPerSite = 2, itemsPerFeed = 3,
      bodyParagraphs = bodyParagraphs))

  def config(slots: Int): CrawlConfig =
    CrawlConfig(maxBatches = 1, perHostBudget = perHostBudget,
      fetchPartitions = slots, useBloom = true, bloomRanges = 16,
      emitCrawlSeq = false, durableDeltas = durable, compactEvery = 2,
      robotsCacheSize = math.max(1024, 2 * sites))

  /** Site roots; with `seedPages`, every content page as well, so one
    * batch fetches the whole site set. */
  def seeds: Seq[String] = (0 until sites).flatMap { k =>
    s"https://site-$k.test/" +: (if (!seedPages) Nil
      else (0 until pagesPerSite).map(j => s"https://site-$k.test/page/$j"))
  }
}

object Crawls {
  val LogCols = Seq("batch", "seq", "url", "final_url", "status", "host",
    "content_type")

  def log(r: CrawlResult): DataFrame = r.crawlLog.select(LogCols.map(col): _*)

  def fetchedTwice(log: DataFrame): Seq[String] = {
    val dup = log.groupBy("url").count().filter(col("count") > 1).count()
    if (dup > 0) Seq(s"$dup urls fetched more than once") else Nil
  }

  def urlStatus(log: DataFrame): Set[(String, Int)] = {
    import log.sparkSession.implicits._
    log.select("url", "status").as[(String, Int)].collect().toSet
  }
}

object CrawlLayers {
  /** URLs the per-row replay covers: enough for stable per-call means,
    * few enough to keep a traced run short. */
  val ReplayUrls = 400
}

/** Replays the per-row layers single-threaded over a deterministic sample
  * of a crawl's own URLs, and the frame layers on its final tables. */
final class CrawlLayers(env: Env, shape: CrawlShape, internet: SyntheticInternet) {
  private val ua = CrawlConfig().userAgent

  private def timedUs[T](acc: Array[Long])(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    acc(0) += System.nanoTime() - t0
    acc(1) += 1
    v
  }
  private def usPer(acc: Array[Long]): Double =
    if (acc(1) == 0) 0.0 else acc(0) / 1000.0 / acc(1)

  def rows(tr: Tracer, log: DataFrame): Map[String, Double] = {
    val spark = env.spark
    import spark.implicits._
    val urls = log.select("url", "host").as[(String, String)]
      .orderBy("url").limit(CrawlLayers.ReplayUrls).collect()
    val fetch, synth, parse, links, robots, admit = Array(0L, 0L)
    var linkCount = 0L
    var pages = 0L
    val robotsTxt = scala.collection.mutable.Map[String, String]()
    tr.span("replay.rows") {
      urls.foreach { case (url, host) =>
        val txt = robotsTxt.getOrElseUpdate(host,
          internet.get(s"https://$host/robots.txt").text.getOrElse(""))
        tr.span("robots.allows") {
          timedUs(robots)(Robots.allows(txt, ua, url))
        }
        tr.span("fetch.synthetic") { timedUs(synth)(internet.get(url)) }
        val req = FetchRequest.default(url).copy(userAgent = ua)
        val resp = tr.span("fetch.fetchOne") {
          timedUs(fetch)(FetchClient.fetchOne(req, internet))
        }
        val parsed = tr.span("parse.recognize") {
          timedUs(parse) {
            val p = PageFactory.recognize(resp.url, resp.headers, resp.text)
            PageFactory.toPageMeta(resp.url, p)
            p
          }
        }
        parsed match {
          case Some(PageFactory.ParsedHtml(m)) =>
            val ls = tr.span("links.extract") {
              timedUs(links)(LinkExtractor.extractLinksSorted(resp.url, m.contents))
            }
            pages += 1
            linkCount += ls.length
            tr.span("url.admit") {
              ls.foreach { raw =>
                timedUs(admit) {
                  UrlKit.cleanedLink(raw).exists(c => c.nonEmpty &&
                    UrlKit.isWebLink(c) && !UrlKit.isAnalytics(c) &&
                    !UrlKit.isLinkService(c))
                }
              }
            }
          case _ =>
        }
      }
    }
    val perUrlUs = (fetch(0) + parse(0) + links(0) + robots(0) + admit(0)) /
      1000.0 / math.max(urls.length, 1)
    Map(
      "fetch.us_per_call" -> usPer(fetch),
      "fetch.synthetic_us_per_call" -> usPer(synth),
      "parse.us_per_call" -> usPer(parse),
      "links.us_per_call" -> usPer(links),
      "links.per_page" -> (if (pages == 0) 0.0 else linkCount.toDouble / pages),
      "robots.allows_us_per_call" -> usPer(robots),
      "url.admit_us_per_call" -> usPer(admit),
      "replay.row_us_per_url" -> perUrlUs)
  }

  /** Frontier, seen-set and store layers. The links found on the pages of
    * `batchLog` are admitted and filtered against `seenBefore`, the seen
    * set as that batch met it; dequeue and store run on the final tables
    * of `r`. */
  def frames(tr: Tracer, listener: SpanListener, out: Outcome,
      r: CrawlResult, batchLog: DataFrame,
      seenBefore: DataFrame): Map[String, Double] = {
    val spark = env.spark
    import spark.implicits._
    val cfg = shape.config(env.slots)
    val internetL = internet
    // the batch's raw links, re-derived through the loop's own fused
    // fetch+parse over the URLs it fetched
    val rawLinks = batchLog
      .select(col("url"), xxhash64(col("url")).as("url_hash"), col("host"),
        lit(0L).as("salt"), col("seq"))
      .as[(String, Long, String, Long, Long)]
      .mapPartitions(it => CrawlLoop.fetchAndParse(it, internetL, cfg))
      .select(explode(concat(col("links"), col("feeds"), col("entry_links")))
        .as("url"))
      .persist()
    rawLinks.count()
    val bt = lit(Timestamp.valueOf("2024-01-01 01:00:00"))
    def timedSpan[T](name: String)(body: => T): (T, Double, Int) = {
      val (v, sp) = tr.timed(name)(body)
      (v, sp.durNs / 1e9, sp.id)
    }
    val (admitted, admitS, admitId) = timedSpan("frontier.admit") {
      val a = Frontier.admit(rawLinks, lit(1), bt, cfg.saltBuckets).persist()
      a.count()
      a
    }
    val (_, dequeueS, dequeueId) = timedSpan("frontier.dequeue") {
      Frontier.dequeue(r.frontier, bt, cfg.perHostBudget)
        .write.format("noop").mode("overwrite").save()
    }
    // the seen-set Bloom tier, filled from the seen set before the batch
    val seen = seenBefore.select("url", "url_hash").persist()
    seen.count()
    val acc = new SeenSet.PartitionedBloomAccumulator(cfg.bloomRanges,
      cfg.bloomExpected)
    spark.sparkContext.register(acc, "perfbench.seenBloom")
    seen.select("url_hash").as[Long].foreach(h => acc.add(h))
    val bloom = acc.value
    val (nBloom, bloomS, _) = timedSpan("seen.filter_bloom") {
      SeenSet.filterNewWithPartitionedBloom(admitted, seen, bloom).count()
    }
    val (nExact, exactS, _) = timedSpan("seen.filter_exact") {
      SeenSet.filterNewExact(admitted, seen).count()
    }
    out.check("bloom_on_equals_off") {
      if (nBloom != nExact) Seq(s"bloom $nBloom new links, exact $nExact")
      else Nil
    }
    val hashes = admitted.select("url_hash").as[Long].collect()
    val bypass = hashes.count(h => !bloom.mightContainLong(h))
    val nAdmitted = hashes.length.toLong
    // store: commit the final tables to a fresh store, read and verify
    val dir = env.freshDir("store-replay")
    val store = new SnapshotStore(dir.toString)
    val tables = Seq("crawl_log" -> r.crawlLog, "seen" -> r.seen,
      "frontier" -> r.frontier)
    val (_, commitS, _) = timedSpan("store.commit") {
      tables.foreach { case (t, df) => store.commit(t, 0L, df) }
    }
    val (_, readS, _) = timedSpan("store.read_verify") {
      tables.foreach { case (t, df) =>
        val n = store.read(spark, t, Some(0L)).get.count()
        val bad = store.verify(t, 0L)
        if (bad.nonEmpty) out.check(s"store_verify_$t")(bad)
      }
    }
    Env.deleteTree(dir)
    admitted.unpersist(); seen.unpersist(); rawLinks.unpersist()
    val admitCost = listener.of(admitId)
    val dequeueCost = listener.of(dequeueId)
    Map(
      "frontier.admit_s" -> admitS,
      "frontier.admit_jobs" -> admitCost.jobs.toDouble,
      "frontier.admit_shuffle_bytes" -> admitCost.shuffleWriteBytes.toDouble,
      "frontier.dequeue_s" -> dequeueS,
      "frontier.dequeue_jobs" -> dequeueCost.jobs.toDouble,
      "frontier.dequeue_shuffle_bytes" -> dequeueCost.shuffleWriteBytes.toDouble,
      "seen.filter_bloom_s" -> bloomS,
      "seen.filter_exact_s" -> exactS,
      "seen.bloom_bypass_ratio" ->
        (if (nAdmitted == 0) 0.0 else bypass.toDouble / nAdmitted),
      "seen.new_link_ratio" ->
        (if (nAdmitted == 0) 0.0 else nExact.toDouble / nAdmitted),
      "store.commit_s" -> commitS,
      "store.read_verify_s" -> readS)
  }

  /** Listener totals over the crawl spans of the traced reps, per rep
    * (a rep's crawl is one batch). */
  def engine(listener: SpanListener,
      crawlSpans: Seq[Span]): Map[String, Double] = {
    val c = listener.sum(crawlSpans.map(_.id))
    val reps = math.max(crawlSpans.length, 1).toDouble
    Map(
      "crawl.jobs_per_batch" -> c.jobs / reps,
      "crawl.stages_per_batch" -> c.stages / reps,
      "crawl.task_time_s" -> c.taskTimeS / reps,
      "crawl.task_skew" -> c.taskSkew,
      "crawl.shuffle_write_bytes" -> c.shuffleWriteBytes / reps,
      "crawl.spill_bytes" -> c.spillBytes / reps,
      "crawl.gc_s" -> c.gcMs / 1000.0 / reps)
  }

  /** Share of a rep's task time the per-row layers account for: their
    * single-threaded cost per URL times the URLs of a rep. */
  def rowShare(rows: Map[String, Double], engine: Map[String, Double],
      urlsPerRep: Double): Double =
    rows("replay.row_us_per_url") * urlsPerRep / 1e6 /
      math.max(engine("crawl.task_time_s"), 1e-9)

  /** Fetches and failed fetches of the crawl, as its own per-host metrics
    * table counts them. */
  def fetchCounts(r: CrawlResult): Map[String, Double] = {
    val row = r.metrics.agg(sum("fetches"), sum("failures")).head()
    Map("fetch.calls" -> row.getLong(0).toDouble,
      "fetch.errors" -> row.getLong(1).toDouble)
  }

  /** robots_fetched over the distinct hosts dequeued, in the batches the
    * result's counters cover. */
  def robotsMissRatio(r: CrawlResult): Double = {
    val spark = env.spark
    import spark.implicits._
    val robots = r.counters.filter(col("counter") === "robots_fetched")
    val fetched = robots.agg(sum("value")).as[Long].head()
    val hosts = r.crawlLog.join(robots.select("batch"), "batch")
      .select("host").distinct().count()
    if (hosts == 0) 0.0 else fetched.toDouble / hosts
  }

}

/** `crawl_wide`: one wide single-batch crawl whose fused fetch+parse is
  * most of the wall, at every slot; in traced mode also the same crawl at
  * one slot and a small durable crawl. */
final class CrawlWide(env: Env, shape: CrawlShape, durableShape: CrawlShape)
    extends Workload {
  private val internet = shape.internet(env.seed)
  private val layers = new CrawlLayers(env, shape, internet)
  private var last: Option[CrawlResult] = None

  def prepare(): Unit = ()
  // after one warm rep the next ran ~20 % slower than the fourth
  val warmReps = 2

  private def crawl(tr: Tracer, out: Outcome, slots: Int,
      name: String): Option[(CrawlResult, Double)] =
    out.op(name) {
      tr.op(name) {
        new CrawlLoop(env.spark, internet, shape.config(slots))
          .run(shape.seeds)
      }
    } { r =>
      val log = Crawls.log(r)
      env.digests.check("crawl_log", Digest.of(log)) ++
        Crawls.fetchedTwice(log)
    }

  def rep(tr: Tracer, out: Outcome): Seq[(String, Double)] =
    crawl(tr, out, env.slots, "crawl.run").map { case (r, s) =>
      last = Some(r)
      Seq("crawl_s" -> s, "rep_s" -> s, "urls" -> r.crawlLog.count().toDouble)
    }.getOrElse(Nil)

  def detail(m: Map[String, Double]): Map[String, Double] =
    (for (s <- m.get("crawl_s"); u <- m.get("urls"))
      yield Map("crawl_urls_per_s" -> u / s)).getOrElse(Map.empty)

  /** The same crawl at one slot, in a session of its own: the
    * single-thread baseline and the 1-slot ≡ n-slot check. Returns
    * `crawl_1slot_s` and `crawl_scaling_eff`. */
  private def oneSlot(out: Outcome, r: CrawlResult,
      reps: Seq[Map[String, Double]]): Map[String, Double] = {
    val wide = Crawls.urlStatus(Crawls.log(r))
    env.spark.stop()
    env.spark = Env.session(1, env.tmp)
    crawl(new Tracer(None), out, 1, "crawl.run_1slot").map { case (one, s) =>
      val oneSet = Crawls.urlStatus(Crawls.log(one))
      out.check("one_slot_equals_wide") {
        if (oneSet == wide) Nil
        else Seq(s"1-slot (url, status) set differs from ${env.slots}-slot")
      }
      val wideRate = Stats.median(reps.map(m => m("urls") / m("crawl_s")))
      Map("crawl_1slot_s" -> s,
        "crawl_scaling_eff" -> wideRate / (env.slots * oneSet.size / s))
    }.getOrElse(Map.empty)
  }

  def layers(tr: Tracer, listener: SpanListener, out: Outcome,
      reps: Seq[Map[String, Double]]): Map[String, Double] = {
    val r = last.get
    val crawlSpans = tr.all.filter(_.name == "crawl.run")
    val engine = layers.engine(listener, crawlSpans)
    val rows = layers.rows(tr, Crawls.log(r))
    // one batch: its links met a seen set holding only the seeds
    val seeded = new CrawlLoop(env.spark, internet, shape.config(env.slots))
      .seedFrontier(shape.seeds)
    val frames = layers.frames(tr, listener, out, r, r.crawlLog, seeded)
    val durable = new DurableCrawl(env, durableShape).once(tr, out)
    val shares = layers.fetchCounts(r) ++ Map(
      "robots.miss_ratio" -> layers.robotsMissRatio(r),
      "share.row_layers" ->
        layers.rowShare(rows, engine, r.crawlLog.count().toDouble))
    // last: it replaces the session
    engine ++ rows ++ frames ++ durable ++ shares ++ oneSlot(out, r, reps)
  }
}

/** A small durable crawl: one batch committed as deltas to a
  * [[SnapshotStore]] in a fresh directory, then one `resume()` batch that
  * reads the state back and writes a base snapshot. Every operation is
  * checked: the crawl log read back from the store equals the in-memory
  * one, and the resumed crawl fetches no URL twice. */
final class DurableCrawl(env: Env, shape: CrawlShape) {
  private val internet = shape.internet(env.seed)

  /** The crawl log as the store holds it after the run: the base table of
    * the last compaction plus the log deltas committed after it. */
  private def storedLog(store: SnapshotStore): DataFrame = {
    val spark = env.spark
    val base = store.latestSnapshot("crawl_log")
    val deltas = store.snapshots("crawl_log_delta")
      .filter(s => base.forall(_ < s))
      .map(s => store.read(spark, "crawl_log_delta", Some(s)).get)
    (base.map(b => store.read(spark, "crawl_log", Some(b)).get).toSeq ++ deltas)
      .map(_.select(Crawls.LogCols.map(col): _*))
      .reduce(_ unionByName _)
  }

  /** Runs the crawl and its resume once; returns `batch_s`, `resume_s`
    * and the store's size figures. */
  def once(tr: Tracer, out: Outcome): Map[String, Double] = {
    val dir = env.freshDir("durable")
    val store = new SnapshotStore(dir.toString)
    val run = out.op("durable.run") {
      tr.op("durable.run") {
        new CrawlLoop(env.spark, internet, shape.config(env.slots),
          Some(store)).run(shape.seeds)
      }
    } { r =>
      val mem = Digest.of(Crawls.log(r))
      val disk = Digest.of(storedLog(store))
      env.digests.check("durable_crawl_log", mem) ++
        (if (disk != mem) Seq(s"stored crawl log $disk != in-memory $mem")
         else Nil)
    }
    val resumed = run.flatMap { _ =>
      out.op("durable.resume") {
        tr.op("durable.resume") {
          new CrawlLoop(env.spark, internet, shape.config(env.slots),
            Some(store)).resume()
        }
      } { r =>
        val log = Crawls.log(r)
        env.digests.check("resumed_crawl_log", Digest.of(log)) ++
          Crawls.fetchedTwice(log)
      }
    }
    val figures = for ((_, runS) <- run; (rr, resumeS) <- resumed) yield {
      val snapshots = Option(dir.toFile.list()).toSeq.flatten
        .map(t => store.snapshots(t).length).sum
      // one batch: the run's wall is its batch time
      Map("batch_s" -> runS, "resume_s" -> resumeS,
        "store.bytes_per_url" -> Env.treeBytes(dir) / rr.crawlLog.count().toDouble,
        "store.snapshots" -> snapshots.toDouble)
    }
    Env.deleteTree(dir)
    figures.getOrElse(Map.empty)
  }
}
