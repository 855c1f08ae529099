package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.crawl.{CrawlLoop, CrawlConfig}
import graft.fetch.{SyntheticInternet, SyntheticConfig, ImageKit}
import graft.store.SnapshotStore

/** End-to-end crawl over the deterministic SyntheticInternet: frontier
  * growth, robots exclusion, crawl-order determinism across runs, image
  * fidelity (PSNR/caption), snapshot resume. */
class CrawlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val internet = SyntheticInternet(SyntheticConfig(
    seed = 42L, nSites = 4, pagesPerSite = 4, imagesPerSite = 2,
    itemsPerFeed = 3))

  def newLoop(cfg: CrawlConfig = CrawlConfig(maxBatches = 3),
      store: Option[SnapshotStore] = None) =
    new CrawlLoop(spark, internet, cfg, store)

  /** the per-batch "bloom_enabled" counter, in batch order */
  def bloomEnabled(r: graft.crawl.CrawlResult): Seq[Long] = r.counters
    .filter(org.apache.spark.sql.functions.col("counter") === "bloom_enabled")
    .orderBy("batch").collect().map(_.getAs[Long]("value")).toSeq

  /** the crawl log without its timing column, as sorted row strings */
  def logRows(r: graft.crawl.CrawlResult): Seq[String] = r.crawlLog
    .select("batch", "seq", "url", "final_url", "status", "host",
      "content_type")
    .collect().map(_.toString).sorted.toSeq

  def seenUrls(r: graft.crawl.CrawlResult): Seq[String] =
    r.seen.select("url").collect().map(_.getString(0)).sorted.toSeq

  /** every frontier row, pending and done, on the columns that carry its
    * crawl state, as sorted row strings */
  def frontierRows(r: graft.crawl.CrawlResult): Seq[String] = r.frontier
    .select("url", "state", "tries", "not_before", "ver", "depth",
      "discovered_at")
    .collect().map(_.toString).sorted.toSeq

  test("crawl discovers pages across sites and batches") {
    spark.sparkContext.setLogLevel("WARN")
    val result = newLoop().run(Seq("https://site-0.test/"))
    val log = result.crawlLog.collect()
    assert(log.nonEmpty)
    // batch 0 fetches exactly the seed
    assert(log.count(_.getAs[Int]("batch") == 0) == 1)
    // later batches discover site pages and cross-site roots
    val urls = log.map(_.getAs[String]("url")).toSet
    assert(urls.contains("https://site-0.test"))
    assert(urls.exists(_.contains("/page/")))
    assert(urls.exists(_.contains("site-1.test")))
    // seen set has no duplicates
    val seen = result.seen.collect().map(_.getAs[String]("url"))
    assert(seen.length == seen.distinct.length)
  }

  test("crawl order is deterministic across runs") {
    def runOnce(): Seq[(Int, Long, String)] =
      newLoop().run(Seq("https://site-0.test/"))
        .crawlLog.orderBy("batch", "seq")
        .collect().map(r => (r.getAs[Int]("batch"), r.getAs[Long]("seq"),
          r.getAs[String]("url"))).toSeq
    val a = runOnce()
    val b = runOnce()
    assert(a == b)
  }

  test("robots gate excludes /private/ and even-site /page/7") {
    val bigInternet = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = 2, pagesPerSite = 8, imagesPerSite = 1))
    val loop = new CrawlLoop(spark, bigInternet,
      CrawlConfig(maxBatches = 3), None)
    val result = loop.run(Seq("https://site-0.test/"))
    val fetchedUrls = result.crawlLog.collect().map(_.getAs[String]("url"))
    assert(!fetchedUrls.exists(_.contains("/private")))
    assert(!fetchedUrls.contains("https://site-0.test/page/7")) // even site
    val excluded = result.frontier
      .filter(org.apache.spark.sql.functions.col("state") === "excluded")
      .collect().map(_.getAs[String]("url"))
    assert(excluded.exists(_.contains("/private")))
  }

  test("fetched image bytes match the corpus (PSNR / caption invariant)") {
    val result = newLoop().run(Seq("https://site-0.test/"))
    val images = result.images.collect()
    assert(images.nonEmpty)
    images.foreach { row =>
      val id = row.getAs[String]("image_id")
      val bytes = row.getAs[Array[Byte]]("bytes")
      val idx = id.substring(3).toInt
      val expected = ImageKit.imageRow(42L, idx)
      assert(expected.image_id == id)
      if (expected.fmt == "png") {
        assert(java.util.Arrays.equals(bytes, expected.bytes))
      } else {
        val p = ImageKit.psnrOf(bytes, expected.bytes)
        assert(p >= 40.0, s"PSNR $p for $id")
      }
      // phash must match the corpus row exactly (same decoded pixels)
      assert(ImageKit.hamming(
        ImageKit.phashOf(bytes), expected.phash) <= 2)
      assert(ImageKit.captionFor(42L, id) == expected.caption)
    }
  }

  test("snapshot store commits and resumes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(dir)
    val result = newLoop(CrawlConfig(maxBatches = 2), Some(store))
      .run(Seq("https://site-0.test/"))
    assert(store.latestSnapshot("frontier").contains(1L))
    // time travel: batch-0 frontier is smaller than batch-1 frontier
    val f0 = store.read(spark, "frontier", Some(0)).get.count()
    val f1 = store.read(spark, "frontier", Some(1)).get.count()
    assert(f0 <= f1)
    // resumed seen-set equals the in-memory result
    val resumed = store.read(spark, "seen", Some(1)).get
    assert(resumed.count() == result.seen.count())
    assert(store.manifest("frontier", 1).exists(_.contains("\"lineage\"")))
  }

  test("resume() continues exactly: interrupted + resumed == uninterrupted") {
    // the north rule's exact-resume: 2 durable batches, process "dies",
    // a NEW loop resumes 2 more — the combined crawl log, seen set and
    // frontier must equal a 4-batch run that never stopped
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val store = new SnapshotStore(dir)
    newLoop(CrawlConfig(maxBatches = 2), Some(store))
      .run(Seq("https://site-0.test/"))
    val resumed = newLoop(CrawlConfig(maxBatches = 2), Some(store)).resume()
    val fresh = newLoop(CrawlConfig(maxBatches = 4))
      .run(Seq("https://site-0.test/"))
    assert(logRows(resumed) == logRows(fresh),
      "resumed crawl log diverges from the uninterrupted run")
    assert(seenUrls(resumed) == seenUrls(fresh))
    assert(frontierRows(resumed) == frontierRows(fresh))
    // and the resumed run kept committing: snapshots 0..3 exist
    assert(store.latestSnapshot("frontier").contains(3L))
    assert(store.verify("crawl_log", 3).isEmpty)
  }

  test("durable DELTA commits are O(batch) and resume exactly") {
    // the 10^10-frontier durable shape: each batch commits only its
    // delta parts; full base snapshots appear only at compaction
    // boundaries; resume reconstructs base + deltas with the in-memory
    // tombstone semantics and must equal an uninterrupted run
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta-resume").toString
    val store = new SnapshotStore(dir)
    def cfg = CrawlConfig(maxBatches = 2, durableDeltas = true,
      compactEvery = 3)
    newLoop(cfg, Some(store)).run(Seq("https://site-0.test/"))
    // two batches committed as deltas; no base table yet (boundary is 3)
    assert(store.snapshots("frontier").isEmpty)
    assert(store.snapshots("crawl_log_delta") == Seq(0L, 1L))
    // O(batch): the batch-1 log delta holds ONLY batch-1 rows
    val d1 = store.read(spark, "crawl_log_delta", Some(1)).get
    assert(d1.select("batch").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // resume two more batches — crossing the base-compaction boundary
    val resumed = newLoop(cfg, Some(store)).resume()
    assert(store.snapshots("frontier") == Seq(2L),
      "base snapshot must appear exactly at the compaction boundary")
    assert(!store.snapshots("crawl_log_delta").contains(2L),
      "a base batch writes no delta slices")
    assert(store.snapshots("crawl_log_delta").contains(3L))
    val fresh = newLoop(CrawlConfig(maxBatches = 4))
      .run(Seq("https://site-0.test/"))
    assert(logRows(resumed) == logRows(fresh),
      "delta-resumed crawl log diverges from the uninterrupted run")
    assert(seenUrls(resumed) == seenUrls(fresh))
    assert(frontierRows(resumed) == frontierRows(fresh))
  }

  test("a store resumes under either cadence: interrupted + resumed == uninterrupted") {
    // one store layout whatever durableDeltas says (it only sets how often
    // a base is written), so 2 batches under one setting resume 2 more
    // under the other and must equal a 4-batch run that never stopped
    val seeds = Seq("https://site-0.test/")
    val delta = CrawlConfig(maxBatches = 2, durableDeltas = true,
      compactEvery = 3)
    val full = CrawlConfig(maxBatches = 2)
    val fresh = newLoop(CrawlConfig(maxBatches = 4)).run(seeds)
    val deltaTables = Seq("frontier_delta", "frontier_dequeued_keys",
      "frontier_redirect_tombstones", "seen_delta", "crawl_log_delta")
    for ((first, second) <- Seq(delta -> full, full -> delta)) {
      val how = s"durableDeltas ${first.durableDeltas} -> " +
        s"${second.durableDeltas}"
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cross-resume").toString
      val store = new SnapshotStore(dir)
      newLoop(first, Some(store)).run(seeds)
      val resumed = newLoop(second, Some(store)).resume()
      assert(logRows(resumed) == logRows(fresh), how)
      assert(seenUrls(resumed) == seenUrls(fresh), how)
      assert(frontierRows(resumed) == frontierRows(fresh), how)
      // the base tables, the five delta tables and the marker, no other
      assert(new java.io.File(dir).list().toSet.subsetOf(
        Set("frontier", "seen", "crawl_log", "batch_commit") ++ deltaTables),
        how)
      if (second == full) {
        // each resumed batch wrote a base and no delta slice
        assert(store.snapshots("frontier") == Seq(2L, 3L), how)
        assert(store.snapshots("crawl_log_delta") == Seq(0L, 1L), how)
        deltaTables.foreach { t =>
          assert(store.snapshots(t).forall(_ < 2L), s"$how: $t")
        }
      } else {
        // bases 0 and 1 from the full run, 2 at the compaction boundary,
        // then batch 3 as a delta
        assert(store.snapshots("frontier") == Seq(0L, 1L, 2L), how)
        assert(store.snapshots("crawl_log_delta") == Seq(3L), how)
      }
    }
  }

  test("a torn base batch replayed as a delta batch resumes exactly") {
    // batch 2 of a base-every-batch run dies after its frontier base
    // landed (the frontier commits first, the marker last). Resuming under
    // the delta cadence drops that frontier snapshot, which the replay of
    // batch 2 as deltas would not overwrite, and the next resume equals
    // the uninterrupted run.
    val seeds = Seq("https://site-0.test/")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-torn-base").toString
    val store = new SnapshotStore(dir)
    newLoop(CrawlConfig(maxBatches = 2), Some(store)).run(seeds)
    store.commit("frontier", 2L, store.read(spark, "frontier", Some(1L)).get)
    val delta = CrawlConfig(maxBatches = 1, durableDeltas = true,
      compactEvery = 4)
    newLoop(delta, Some(store)).resume()
    assert(store.latestSnapshot("batch_commit").contains(2L))
    assert(store.snapshots("crawl_log_delta") == Seq(2L))
    assert(store.snapshots("frontier") == Seq(0L, 1L),
      "the torn batch's frontier snapshot 2 must be dropped")
    val resumed = newLoop(delta, Some(store)).resume()
    val fresh = newLoop(CrawlConfig(maxBatches = 4)).run(seeds)
    assert(logRows(resumed) == logRows(fresh))
    assert(seenUrls(resumed) == seenUrls(fresh))
    assert(frontierRows(resumed) == frontierRows(fresh))
  }

  test("per-host delay holds across salt buckets: one host's fetches are serial") {
    // six pages of one host that the salted partition id (the one the
    // fetch uses without a gap) splits over at least two of the four
    // fetch partitions, none holding more than three; with a 1 s per-host
    // gap the batch cannot finish before five gaps have passed, where
    // concurrent partitions would take at most two
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val seeds = (0 until 6).map(j => s"https://site-2.test/page/$j")
    val cfg = CrawlConfig(maxBatches = 1, delayS = 1, fetchPartitions = 4)
    val p = lit(4)
    val perPartition = newLoop(cfg).seedFrontier(seeds)
      .groupBy(pmod(pmod(col("host_hash"), p) + pmod(col("url_hash"), p), p))
      .count().collect().map(_.getLong(1))
    assert(perPartition.length >= 2 && perPartition.max <= seeds.length / 2,
      s"salted split ${perPartition.mkString("/")}")
    newLoop(cfg.copy(delayS = 0)).run(seeds) // warm-up: same batch, no gap
    val t0 = System.nanoTime()
    val result = newLoop(cfg).run(seeds)
    val wallS = (System.nanoTime() - t0) / 1e9
    assert(result.crawlLog.count() == seeds.length)
    assert(wallS >= seeds.length - 1,
      f"$wallS%.2f s for ${seeds.length} pages of one host at a 1 s gap")
  }

  test("a hot host spreads over every fetch partition; the log does not move") {
    // one host holds the whole frontier: 32 pages (robots excludes
    // /page/7 of an even site), at least 4 per fetch partition
    import org.apache.spark.sql.functions.spark_partition_id
    val net = SyntheticInternet(SyntheticConfig(seed = 42L, nSites = 1,
      pagesPerSite = 32))
    val seeds = (0 until 32).map(j => s"https://site-0.test/page/$j")
    def crawl(parts: Int) = new CrawlLoop(spark, net,
      CrawlConfig(maxBatches = 1, fetchPartitions = parts)).run(seeds)
    val spread = crawl(4)
    val perPartition = spread.pages.groupBy(spark_partition_id()).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(spread.pages.count() >= 4 * 4)
    assert(perPartition.keySet == (0 until 4).toSet,
      s"one host's URLs per fetch partition: $perPartition")
    assert(logRows(spread) == logRows(crawl(1)))
  }

  test("pipelined fetch (S3): each request keeps its own deadline") {
    // one partition, several requests in flight: the stalled URL between
    // fast pages times out on its own deadline, the pages around it come
    // back in input order, and the whole partition takes about one
    // deadline, not one per request
    val slowNet = SyntheticInternet(SyntheticConfig(slowDelayMs = 3000L))
    val oneSecond = (u: String) =>
      graft.model.FetchRequest.default(u).copy(timeoutS = 1)
    def partition(urls: Seq[String]): (Seq[(String, Int)], Double) = {
      val rows = urls.zipWithIndex.map { case (u, i) =>
        (u, i.toLong, "host", 0L, i.toLong) }
      val pages = spark.sparkContext.parallelize(rows, 1)
        .mapPartitions(it => CrawlLoop.fetchAndParse(it, slowNet,
          CrawlConfig(), oneSecond))
        .map(p => (p.url, p.status))
      val t0 = System.nanoTime()
      val out = pages.collect().toSeq
      (out, (System.nanoTime() - t0) / 1e9)
    }
    assert(CrawlLoop.FetchWindow > 1)
    val fast = (0 until 4).map(j => s"https://site-0.test/page/$j")
    val urls = fast.take(2) ++ Seq("https://slow.test/") ++ fast.drop(2)
    val (pages, wallS) = partition(urls)
    assert(pages.map(_._1) == urls, "pages come out in input order")
    assert(pages.map(_._2) == urls.map(u =>
      if (u.startsWith("https://slow")) graft.http.Statuses.CodeTimeout
      else 200))
    assert(wallS < 2.5, f"$wallS%.2f s for one stalled request")
    // the later stalled requests are reached only when the first one has
    // timed out, past their own deadlines while they still run: 604 at
    // once, not one deadline each
    val slow = Seq("a", "b", "c").map(p => s"https://slow.test/$p")
    val (stalled, stalledS) = partition(slow)
    assert(stalled == slow.map(_ -> graft.http.Statuses.CodeTimeout))
    assert(stalledS < 2.5, f"$stalledS%.2f s for three stalled requests")
    // a request that returned after its deadline is a 604 even when it is
    // collected later, once it has returned
    val lateNet = SyntheticInternet(SyntheticConfig(slowDelayMs = 1500L))
    val started = graft.fetch.FetchClient.start(
      oneSecond("https://slow.test/"), lateNet)
    Thread.sleep(2000)
    assert(graft.fetch.FetchClient.finish(started).status ==
      graft.http.Statuses.CodeTimeout)
  }

  test("per-host budget limits fetches per batch") {
    val result = newLoop(CrawlConfig(maxBatches = 2, perHostBudget = 2))
      .run(Seq("https://site-0.test/"))
    val batch1 = result.crawlLog
      .filter(org.apache.spark.sql.functions.col("batch") === 1)
      .collect()
    val byHost = batch1.groupBy(_.getAs[String]("host"))
    byHost.foreach { case (host, rows) =>
      assert(rows.length <= 2, s"host $host fetched ${rows.length} > budget")
    }
  }

  test("redirects are followed: final_url differs, chains resolve") {
    import org.apache.spark.sql.functions.col
    val result = newLoop(CrawlConfig(maxBatches = 2))
      .run(Seq("https://site-0.test/"))
    val log = result.crawlLog.collect()
    val moved = log.find(_.getAs[String]("url") == "https://site-0.test/moved/1")
    assert(moved.nonEmpty, "the /moved/1 link was crawled")
    assert(moved.get.getAs[String]("final_url") == "https://site-0.test/page/1")
    assert(moved.get.getAs[Int]("status") == 200)
    // 302 → 301 → 200 chain
    val hop = log.find(_.getAs[String]("url") == "https://site-0.test/hop")
    assert(hop.nonEmpty)
    assert(hop.get.getAs[String]("final_url") == "https://site-0.test/page/0")
  }

  test("redirect target is credited into the seen set, never re-fetched") {
    val result = newLoop(CrawlConfig(maxBatches = 3))
      .run(Seq("https://site-0.test/"))
    val seen = result.seen.collect().map(_.getAs[String]("url")).toSet
    // /target is reached through the /alias 301 AND linked directly from
    // /page/0 in the same batch — redirect credit must win: the target is
    // seen, and never fetched as its own request, in either discovery path
    assert(seen.contains("https://site-0.test/target"))
    val requested = result.crawlLog.collect().map(_.getAs[String]("url"))
    assert(!requested.contains("https://site-0.test/target"),
      "a redirect-delivered target must never be dequeued as a request, " +
        "even when a crawled page links it in the same batch")
    val aliasPage = result.pages
      .filter(org.apache.spark.sql.functions.col("url") ===
        "https://site-0.test/alias").collect()
    assert(aliasPage.head.getAs[String]("final_url") ==
      "https://site-0.test/target")
    assert(aliasPage.head.getAs[String]("title") == "Target of site 0")
    // no URL is ever fetched twice across the whole run
    val dupes = requested.groupBy(identity).filter(_._2.length > 1).keys
    assert(dupes.isEmpty, s"re-fetched URLs: ${dupes.take(5).mkString(", ")}")
  }

  test("robots gate holds when distinct hosts exceed the LRU cache") {
    // 4 hosts through a cache of 1: eviction must never fail-open the
    // gate for hosts being crawled in the current batch (the reference
    // re-fetches on miss and never skips the gate, domaincache.py)
    val result = newLoop(CrawlConfig(maxBatches = 2, robotsCacheSize = 1))
      .run((0 until 4).map(k => s"https://site-$k.test/"))
    val fetched = result.crawlLog.collect().map(_.getAs[String]("url"))
    assert(fetched.nonEmpty)
    assert(!fetched.exists(_.contains("/private/")),
      "robots-disallowed URLs crawled after LRU eviction")
    // and the same run with an uncapped cache fetches the same URL set
    val uncapped = newLoop(CrawlConfig(maxBatches = 2))
      .run((0 until 4).map(k => s"https://site-$k.test/"))
    assert(fetched.sorted.toSeq ==
      uncapped.crawlLog.collect().map(_.getAs[String]("url")).sorted.toSeq)
  }

  test("bloom auto-disables past capacity; results stay exact") {
    // capacity 8 disables the accelerator on the first seen-delta; the
    // crawl must fall back to the exact anti-join with identical results
    val tiny = newLoop(CrawlConfig(maxBatches = 2, useBloom = true,
      bloomExpected = 8)).run(Seq("https://site-0.test/"))
    val exact = newLoop(CrawlConfig(maxBatches = 2, useBloom = false))
      .run(Seq("https://site-0.test/"))
    assert(tiny.seen.collect().map(_.getAs[String]("url")).sorted.toSeq ==
      exact.seen.collect().map(_.getAs[String]("url")).sorted.toSeq)
    val urls = tiny.crawlLog.collect().map(_.getAs[String]("url"))
    assert(urls.distinct.length == urls.length, "duplicate fetches")
    // batch 0's filter ran with the Bloom tier; its seen delta overran
    // the capacity, so batch 1 ran exact-only
    assert(bloomEnabled(tiny) == Seq(1L, 0L))
    assert(bloomEnabled(exact) == Seq(0L, 0L))
  }

  test("partitioned bloom (8 url_hash ranges) stays exact vs no bloom") {
    // the 10^10-scale path: per-range filters, routed adds and probes —
    // must be behaviorally identical to the exact-only loop
    val ranged = newLoop(CrawlConfig(maxBatches = 2, useBloom = true,
      bloomRanges = 8)).run(Seq("https://site-0.test/"))
    val exact = newLoop(CrawlConfig(maxBatches = 2, useBloom = false))
      .run(Seq("https://site-0.test/"))
    assert(ranged.seen.collect().map(_.getAs[String]("url")).sorted.toSeq ==
      exact.seen.collect().map(_.getAs[String]("url")).sorted.toSeq)
    val urls = ranged.crawlLog.collect().map(_.getAs[String]("url"))
    assert(urls.distinct.length == urls.length, "duplicate fetches")
  }

  test("partitioned bloom accumulator: routing, merge, lazy ranges") {
    import graft.frontier.SeenSet
    val a = new SeenSet.PartitionedBloomAccumulator(4, 4000)
    val b = new SeenSet.PartitionedBloomAccumulator(4, 4000)
    val hs = (0L until 400L).map(i => i * 2654435761L - 200L)
    hs.take(200).foreach(a.add)
    hs.drop(200).foreach(b.add)
    a.merge(b)
    val v = a.value
    assert(hs.forall(v.mightContainLong), "inserted hash not found")
    // ranges route consistently: a hash only sets bits in its own range
    val lone = new SeenSet.PartitionedBloomAccumulator(4, 4000)
    lone.add(42L)
    val lv = lone.value
    assert(lv.filters.count(_ != null) == 1, "lazy allocation broken")
    assert(lv.mightContainLong(42L))
    assert(lv.filters(lv.rangeOf(42L)) != null)
    // a hash owned by an unallocated range is definitely-new, no lookup
    val otherRange = (0L until 10L).find(h => lv.rangeOf(h) != lv.rangeOf(42L)).get
    assert(!lv.mightContainLong(otherRange))
  }

  test("a fetch exception maps to 600 with its message, not 604") {
    val net = SyntheticInternet(SyntheticConfig())
    val resp = graft.fetch.FetchClient.fetchOne(
      graft.model.FetchRequest.default("https://crash.test/"), net)
    assert(resp.status == graft.http.Statuses.CodeException)
    assert(resp.errors.exists(_.contains("synthetic connection reset")))
    // no-deadline path classifies identically
    val resp0 = graft.fetch.FetchClient.fetchOne(
      graft.model.FetchRequest.default("https://crash.test/")
        .copy(timeoutS = 0), net)
    assert(resp0.status == graft.http.Statuses.CodeException)
  }

  test("fetch deadline (S3): a stalled read maps to status 604") {
    val slowNet = SyntheticInternet(SyntheticConfig(slowDelayMs = 3000L))
    val req = graft.model.FetchRequest.default("https://slow.test/")
      .copy(timeoutS = 1)
    val t0 = System.nanoTime()
    val resp = graft.fetch.FetchClient.fetchOne(req, slowNet)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(resp.status == graft.http.Statuses.CodeTimeout)
    assert(resp.errors.exists(_.contains("Timeout")))
    assert(elapsedS < 2.5, s"watchdog returned in ${elapsedS}s, not at 3s")
    // and without the deadline pressure the same URL succeeds
    val fastNet = SyntheticInternet(SyntheticConfig(slowDelayMs = 50L))
    assert(graft.fetch.FetchClient.fetchOne(
      graft.model.FetchRequest.default("https://slow.test/"), fastNet)
      .status == 200)
  }

  test("sitemap URLs expand recursively into the frontier (L7)") {
    val result = newLoop(CrawlConfig(maxBatches = 5))
      .run(Seq("https://site-0.test/"))
    val urls = result.crawlLog.collect().map(_.getAs[String]("url")).toSet
    assert(urls.contains("https://site-0.test/sitemap.xml"))
    assert(urls.contains("https://site-0.test/sitemap-pages.xml"),
      "child sitemap found through the sitemap index")
    assert(urls.contains("https://site-0.test/orphan"),
      "sitemap-only page crawled")
  }

  /** the social-handler fixture hosts, crawled once for the tests below */
  lazy val socialNet = SyntheticInternet(SyntheticConfig(
    seed = 42L, nSites = 1, socialSites = true))
  lazy val socialCrawl = new CrawlLoop(spark, socialNet,
    CrawlConfig(maxBatches = 4)).run(Seq("https://social.test/"))

  test("social side-fetch + two-phase handle discovery end-to-end (J-5)") {
    import org.apache.spark.sql.functions.col
    val result = socialCrawl
    val pages = result.pages.collect()
    def page(url: String) = pages.find(_.getAs[String]("url") == url)

    val yt = page("https://www.youtube.com/watch?v=vidA")
    assert(yt.nonEmpty, "youtube video page crawled")
    assert(yt.get.getAs[Long]("social_thumbs_up") == 100L)
    assert(yt.get.getAs[Long]("social_thumbs_down") == 10L)
    assert(yt.get.getAs[Long]("social_view_count") == 5000L)
    assert(math.abs(yt.get.getAs[Double]("social_upvote_ratio") -
      100.0 / 110.0) < 1e-9)

    val rd = page("https://www.reddit.com/r/test/comments/p1/title")
    assert(rd.nonEmpty, "reddit post crawled")
    assert(rd.get.getAs[Double]("social_upvote_ratio") == 0.93)
    assert(rd.get.getAs[Double]("social_rating") == 321.0)

    val hn = page("https://news.ycombinator.com/item?id=99")
    assert(hn.nonEmpty, "hn item crawled")
    assert(hn.get.getAs[Long]("social_upvote_diff") == 42L)

    // two-phase @handle: feed only discoverable from the channel HTML,
    // fetched in a later batch; channel code then derivable from the feed
    val feedRow = result.crawlLog.filter(
      col("url") === "https://www.youtube.com/feeds/videos.xml?channel_id=UChandle123")
      .collect()
    assert(feedRow.nonEmpty, "discovered channel feed fetched in round 2")
    val handleBatch = result.crawlLog
      .filter(col("url") === "https://www.youtube.com/@handletest")
      .collect().head.getAs[Int]("batch")
    assert(feedRow.head.getAs[Int]("batch") > handleBatch)
    assert(graft.handlers.Handlers.youTubeChannelCode(
      "https://www.youtube.com/feeds/videos.xml?channel_id=UChandle123")
      .contains("UChandle123"))
  }

  test("the crawler buddy's Social section equals the crawl's social columns") {
    import org.json4s._
    val pages = socialCrawl.pages.collect()
    val buddy = new graft.remote.CrawlerBuddy(socialNet)
    // wire key → crawl column (AllProperties.socialMap)
    val columns = Seq("thumbs_up" -> "social_thumbs_up",
      "thumbs_down" -> "social_thumbs_down",
      "view_count" -> "social_view_count",
      "upvote_ratio" -> "social_upvote_ratio", "rating" -> "social_rating",
      "followers_count" -> "social_followers",
      "upvote_diff" -> "social_upvote_diff")
    def social(url: String): Option[JValue] =
      graft.remote.RemoteServer.readPropertiesSection("Social",
        buddy.allPropertiesFor(graft.model.FetchRequest.default(url)))
    def number(v: JValue): Option[Double] = v match {
      case JInt(i)    => Some(i.toDouble)
      case JLong(l)   => Some(l.toDouble)
      case JDouble(d) => Some(d)
      case _          => None
    }
    Seq("https://www.youtube.com/watch?v=vidA",
      "https://www.reddit.com/r/test/comments/p1/title",
      "https://news.ycombinator.com/item?id=99").foreach { url =>
      val row = pages.find(_.getAs[String]("url") == url)
      assert(row.nonEmpty, s"$url crawled")
      val section = social(url)
      assert(section.nonEmpty, s"$url has a Social section")
      val crawled = columns.flatMap { case (key, column) =>
        Option(row.get.getAs[Any](column)).map(v =>
          key -> v.asInstanceOf[Number].doubleValue)
      }
      assert(crawled.nonEmpty, s"$url has social columns")
      val served = columns.flatMap { case (key, _) =>
        number(section.get \ key).map(key -> _)
      }
      assert(served == crawled, url)
    }
    assert(pages.exists(_.getAs[String]("url") == "https://social.test"))
    assert(social("https://social.test").isEmpty,
      "a page without a social handler has no Social section")
  }

  test("OPML and JSON pages flow through the dispatch cascade (F1/O1/J1)") {
    import org.apache.spark.sql.functions.col
    val result = newLoop(CrawlConfig(maxBatches = 3))
      .run(Seq("https://site-0.test/"))
    val pages = result.pages.collect()
    val opml = pages.find(_.getAs[String]("url")
      .endsWith("/feeds.opml"))
    assert(opml.nonEmpty, "OPML page crawled")
    assert(opml.get.getAs[String]("page_type") == "opml")
    // OPML xmlUrl entries become frontier work: site-1's feed is only
    // linked from site-0's OPML at this batch depth
    val requested = result.crawlLog.collect().map(_.getAs[String]("url"))
    assert(requested.contains("https://site-0.test/feed"))
    // the JSON-page quirk (pages.py:75-93): valid JSON is never a valid
    // page — it must land as default type, not json
    val json = pages.find(_.getAs[String]("url").endsWith("/api/info.json"))
    assert(json.nonEmpty, "JSON page crawled")
    assert(json.get.getAs[String]("page_type") != "json")
  }

  test("bloom-accelerated dedup matches exact dedup") {
    val exact = newLoop(CrawlConfig(maxBatches = 3, useBloom = false))
      .run(Seq("https://site-0.test/"))
    val bloom = newLoop(CrawlConfig(maxBatches = 3, useBloom = true))
      .run(Seq("https://site-0.test/"))
    val a = exact.seen.collect().map(_.getAs[String]("url")).sorted
    val b = bloom.seen.collect().map(_.getAs[String]("url")).sorted
    assert(a.toSeq == b.toSeq)
    assert(bloomEnabled(bloom) == Seq(1L, 1L, 1L),
      "the default capacity must keep the filter on")
  }

  test("host-range shards union to the unsharded run") {
    // the last cap-proportional term in the loop is the robots-rules
    // broadcast; the scale story is N loop instances, each owning a
    // host-hash range. Two shards over the same seeds must crawl
    // DISJOINT host sets whose crawl logs and seen sets union to the
    // unsharded run's exactly (same batches, same statuses — per-host
    // work never depends on other hosts)
    val net = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = 6, pagesPerSite = 3, imagesPerSite = 1,
      itemsPerFeed = 2))
    val seeds = (0 until 6).map(k => s"https://site-$k.test/")
    def cfg(count: Int, idx: Int) = CrawlConfig(maxBatches = 3,
      emitCrawlSeq = false, shardCount = count, shardIndex = idx)
    def run(count: Int, idx: Int) =
      new CrawlLoop(spark, net, cfg(count, idx), None).run(seeds)
    val whole = run(1, 0)
    val s0 = run(2, 0)
    val s1 = run(2, 1)
    def logOf(r: graft.crawl.CrawlResult) = r.crawlLog
      .select("batch", "seq", "url", "final_url", "status", "host",
        "content_type").collect().map(_.toString)
    def hostsOf(r: graft.crawl.CrawlResult) = r.crawlLog.select("host")
      .distinct().collect().map(_.getString(0)).toSet
    assert(hostsOf(s0).nonEmpty && hostsOf(s1).nonEmpty,
      "both shards must own some of the 6 hosts")
    assert(hostsOf(s0).intersect(hostsOf(s1)).isEmpty,
      "shards fetched overlapping hosts")
    assert((logOf(s0) ++ logOf(s1)).sorted.toSeq ==
      logOf(whole).sorted.toSeq,
      "shard crawl logs do not union to the unsharded run")
    def seenOf(r: graft.crawl.CrawlResult) = r.seen.select("url")
      .collect().map(_.getString(0)).toSet
    assert(seenOf(s0).union(seenOf(s1)) == seenOf(whole),
      "shard seen sets do not union to the unsharded run")
  }

  test("empty batches commit markers; drained resume skips them exactly") {
    // r4 ADVICE: a zero-dequeue batch committed nothing — not even its
    // marker — so a drained crawl re-ran its trailing empty batches on
    // every resume. Now the marker advances through empties (tables stay
    // put — nothing changed) and resume anchors past them.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-drained").toString
    val store = new SnapshotStore(dir)
    val tiny = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = 1, pagesPerSite = 2, imagesPerSite = 1,
      itemsPerFeed = 1))
    def cfg(batches: Int) = CrawlConfig(maxBatches = batches,
      durableDeltas = true, compactEvery = 3)
    val r = new CrawlLoop(spark, tiny, cfg(8), Some(store))
      .run(Seq("https://site-0.test/"))
    import org.apache.spark.sql.functions.col
    val dequeued = r.counters.filter(col("counter") === "dequeued")
      .orderBy("batch").collect().map(_.getAs[Long]("value"))
    assert(dequeued.length == 8)
    assert(dequeued.last == 0L, "the 1-site crawl should drain in 8 batches")
    assert(store.latestSnapshot("batch_commit").contains(7L),
      "marker must advance through empty batches")
    // resume continues at batch 8 (not replaying 0-size batches) and a
    // further empty batch commits marker 8
    new CrawlLoop(spark, tiny, cfg(1), Some(store)).resume()
    assert(store.latestSnapshot("batch_commit").contains(8L))
    // full mode: drained run also advances its marker, and resume reads
    // the state tables from the latest snapshot at-or-before it
    val dirF = java.nio.file.Files
      .createTempDirectory("graft-drained-full").toString
    val storeF = new SnapshotStore(dirF)
    val rF = new CrawlLoop(spark, tiny,
      CrawlConfig(maxBatches = 8), Some(storeF))
      .run(Seq("https://site-0.test/"))
    assert(storeF.latestSnapshot("batch_commit").contains(7L))
    assert(storeF.latestSnapshot("frontier").get < 7L,
      "empty batches must not rewrite unchanged state tables")
    val resumedF = new CrawlLoop(spark, tiny,
      CrawlConfig(maxBatches = 1), Some(storeF)).resume()
    assert(seenUrls(resumedF) == seenUrls(rF))
  }
}
