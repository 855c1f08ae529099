package graft.crawl

import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.fetch.{FetchClient, SyntheticInternet}
import graft.frontier.{Frontier, SeenSet}
import graft.handlers.Social
import graft.http.{ContentTypes, Statuses}
import graft.links.LinkExtractor
import graft.model.FetchRequest
import graft.parse.PageFactory
import graft.robots.Robots
import graft.store.SnapshotStore
import graft.streaming.CrawlMetricsStream

/** One fetched-and-parsed page — fetch and parse are fused inside the same
  * partition so response bodies never cross a shuffle boundary. `url` is
  * the frontier (request) URL; `final_url` the post-redirect location
  * (reference: response.py:197-210 keeps both). */
final case class FetchedPage(
    url: String,
    final_url: String,
    url_hash: Long,
    host: String,
    seq: Long,
    status: Int,
    content_type: String,
    crawl_time_ms: Long,
    page_type: String,
    title: String,
    description: String,
    language: String,
    date_published: Timestamp,
    page_rating: Int,
    links: Seq[String],
    feeds: Seq[String],
    entry_links: Seq[String],
    is_image: Boolean,
    image_bytes: Array[Byte],
    body_hash_hex: String,
    errors: Seq[String],
    social_thumbs_up: Option[Long],
    social_thumbs_down: Option[Long],
    social_view_count: Option[Long],
    social_upvote_ratio: Option[Double],
    social_rating: Option[Double],
    social_followers: Option[Long],
    social_upvote_diff: Option[Long])

final case class CrawlConfig(
    maxBatches: Int = 5,
    perHostBudget: Int = 100,
    /** per-host minimum gap between fetches, in seconds (J-3; reference
      * delay_s, request.py:31). Above 0, every URL of a host is fetched
      * in one partition, one request at a time, so the gap holds across
      * the batch; at 0 a hot host's URLs spread over all fetch partitions
      * and each partition keeps `CrawlLoop.FetchWindow` requests in
      * flight. */
    delayS: Int = 0,
    fetchPartitions: Int = 0, // 0 → spark.sql.shuffle.partitions
    useBloom: Boolean = true,
    /** Bloom capacity — size to the run's URL budget; oversizing inflates
      * the per-batch filter aggregation shuffled to the driver. */
    bloomExpected: Long = 1L << 20,
    /** url_hash ranges the seen-Bloom is partitioned into (see
      * SeenSet.PartitionedBloom). 1 = a single filter; at 10^10-URL
      * design scale set ~4096 so per-range filters stay MB-sized and
      * capacity scales with the range count instead of auto-disabling.
      * Every task still receives all ranges by broadcast: no code places
      * a range's filter with that range's seen rows. */
    bloomRanges: Int = 1,
    /** host-hash-range sharding: this loop instance dequeues (and
      * therefore fetches, robots-gates and rules-caches) ONLY hosts with
      * `pmod(host_hash, shardCount) == shardIndex`. This is how a
      * 10^10-URL deployment bounds the one cap-proportional term left in
      * the loop — the broadcast of the robots-rules table into the gate
      * join: N loop instances each own a disjoint host range, so each
      * broadcasts only its own shard's rules cap. Discovery is
      * unaffected (links to other shards' hosts still enter this shard's
      * frontier and seen set; the owning shard fetches them), and with
      * every seed visible to every shard, the shards' crawl logs are
      * disjoint by host and union to the unsharded run's exactly
      * (CrawlSpec proves it). */
    shardCount: Int = 1,
    shardIndex: Int = 0,
    /** domain-rules LRU capacity (reference LRU(400), domaincache.py:176).
      * Eviction runs AFTER the batch's robots gate, so rules for hosts
      * being gated in the current batch are never evicted mid-gate; an
      * evicted host that reappears is a cache miss and re-fetches, exactly
      * like the reference. The rules table is fully distributed (miss
      * detection = anti-join, eviction = recency top-k); the driver keeps
      * only the row-count scalar. The one remaining cap-proportional term
      * is the broadcast of the rules table into the gate join — size the
      * cap per loop shard (a 10^10-URL deployment shards by host-hash
      * range and each shard broadcasts only its own cap). */
    robotsCacheSize: Int = 400,
    /** base cadence, in batches: a base bakes the lazy transitions and
      * tombstones of the frontier and the seen increments into one part
      * each — one O(|state|) rewrite amortized over K O(batch) appends.
      * An in-memory run (no store) takes a base every K batches. With a
      * store, K is the cadence only under `durableDeltas`. */
    compactEvery: Int = 4,
    /** base cadence of the durable store; it matters only with a store.
      * The store has one layout: base snapshots (full
      * frontier/seen/crawl_log), delta snapshots (frontier rows,
      * dequeued-key and redirect tombstones, seen increment, log rows —
      * O(batch) bytes) and a batch_commit marker. A non-empty batch writes
      * either a base or its deltas, never both. false = a base every
      * batch (simple time travel; O(state) write per batch). true = the
      * 10^10-frontier shape: a base every `compactEvery` batches, deltas
      * in between. resume() reads any store under either setting. */
    durableDeltas: Boolean = false,
    /** the global contiguous crawl-sequence column is the crawl-order
      * parity artifact (range-partitioned sort + zipWithIndex). At
      * production scale turn it off: ordering stays deterministic via
      * url_hash, but no global pass is spent on a contiguous counter. */
    emitCrawlSeq: Boolean = true) {

  /** robots-gate UA — the reference checks the request's agent, not "*"
    * (baseurl.py:221-223). */
  def userAgent: String = FetchRequest.UserAgent

  /** salt count of the frontier's `host_hash_salted` column, which
    * `Frontier.admit` still writes so stores stay readable across
    * versions. The fetch exchange no longer reads it: with `delayS` 0 a
    * host's salt is `pmod(url_hash, P)` over the P fetch partitions, so
    * the salt count there is P (see the fetch stage in `runInternal`). */
  def saltBuckets: Int = 4
}

final case class CrawlResult(
    frontier: DataFrame,
    seen: DataFrame,
    crawlLog: DataFrame,
    pages: DataFrame,
    images: DataFrame,
    metrics: DataFrame,
    /** per-batch driver counters (batch, counter, value): "dequeued",
      * "robots_fetched", "links_seen_delta", "bloom_inserted_total",
      * "bloom_enabled" (1 when the batch's seen filter used the Bloom
      * tier, 0 with useBloom off or after the auto-disable) —
      * the loop's observed metrics surfaced as data instead of stdout
      * (r4 ask #8). Scalars only; O(batches) rows, built driver-side
      * from values the loop already materialized. */
    counters: DataFrame)

/** The micro-batch crawl driver (SURVEY.md §7.3; north rule):
  * per iteration — per-host priority dequeue, distributed robots
  * refresh + broadcast gate, host-partitioned fetch+parse, link
  * extraction, two-tier dedup, delta re-enqueue, snapshot commit.
  *
  * State is kept as append-only delta parts (frontier rows + dequeued-key
  * and redirect tombstones + seen increments), each checkpointed once
  * when produced, and folded into one base at the base cadence (see
  * `compactEvery`) — between bases the per-batch write cost is
  * proportional to the batch, not to the frontier
  * (10^10-frontier design scale). Deterministic: batch time derives from
  * the batch number, the dequeue is a total order, extracted links are
  * sorted before enqueue.
  */
final class CrawlLoop(spark: SparkSession, internet: SyntheticInternet,
    config: CrawlConfig, store: Option[SnapshotStore] = None) {

  import spark.implicits._

  private def batchTime(batch: Int): Timestamp =
    Timestamp.from(CrawlLoop.StartTime.plusSeconds(60L * batch))

  /** Seeds → initial frontier (batch 0). */
  def seedFrontier(seeds: Seq[String]): DataFrame = {
    val raw = seeds.toDF("url")
    Frontier.admit(raw, lit(0), lit(batchTime(0)), config.saltBuckets)
      .withColumn("ver", lit(0))
  }

  /** Distributed robots.txt fetch for hosts with no cached rules — robots
    * URLs are ordinary fetch work through the same per-partition client
    * (J-2; replaces the reference's driver-singleton DomainCache,
    * domaincache.py:170-259). `missingHosts` is itself a distributed
    * frame (batch hosts anti-joined against the rules table) — NO
    * driver-side host collection anywhere (r3 VERDICT #3). Neither side
    * of that anti-join is bucketed by host, so the planner moves rows for
    * it like for any join; keeping both sides bucketed by host, so the
    * anti-join is co-partitioned and only the miss list shuffles, is
    * design-scale work that has not been built. Returns (host,
    * robots_txt, robots_status, fetched_batch), checkpointed, with the
    * new-row count. */
  private def fetchRobots(missingHosts: DataFrame, batch: Int,
      parts: Int): (DataFrame, Long) = {
    val internetL = internet
    import spark.implicits._
    checkpointCounted(missingHosts.select("host").as[String]
      .repartition(parts, col("host"))
      .mapPartitions { hosts =>
        hosts.map { host =>
          val resp = FetchClient.fetchOne(
            FetchRequest.default(s"https://$host/robots.txt"), internetL)
          (host,
            if (resp.status == 200) resp.text.getOrElse("") else "",
            resp.status)
        }
      }.toDF("host", "robots_txt", "robots_status")
      .withColumn("fetched_batch", lit(batch)))
  }

  /** Materializes `df` in one job and returns it with its row count, which
    * rides that job as an observed metric (a scalar; the rows stay
    * distributed). */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val checkpointed = df.observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    (checkpointed, obs.get("n").asInstanceOf[Long])
  }

  def run(seeds: Seq[String]): CrawlResult = runInternal(Some(seeds))

  /** Exact resume (north rule): continue a durable crawl from the
    * store's last COMPLETE batch — anchored on the batch-commit marker
    * written after all of a batch's tables, so a crash mid-commit is
    * replayed, never half-loaded. State is the latest base at or before
    * the marker plus every delta after it; the layout does not depend on
    * `durableDeltas`, so any store resumes under either setting (the
    * setting only picks the base cadence from here on). The frontier
    * (pending + done rows with their tries/not_before), the seen set, and
    * the crawl log load back;
    * the Bloom accelerator repopulates from the seen table inside the
    * one checkpoint job that loads it; batch numbering (and therefore
    * batch time, dequeue order and crawl_seq) continues from the marker.
    * `config.maxBatches` counts the ADDITIONAL batches. Determinism
    * makes the resumed crawl log, seen set and frontier identical to an
    * uninterrupted run's (CrawlSpec proves it). Scope note: `pages`,
    * `images` and `metrics` in the returned result cover only the
    * post-resume batches — those frames are per-batch outputs, not
    * durable state; export them per batch (or recompute from the
    * committed crawl log) in a deployment that needs them across
    * restarts. */
  def resume(): CrawlResult = runInternal(None)

  private def runInternal(seedsOpt: Option[Seq[String]]): CrawlResult = {
    // ---- delta state ---------------------------------------------------
    // frontier = union(frontierParts): its pending rows minus dequeued
    // (url_hash, ver) keys and redirect-target urls, and its other rows
    // as they are; checkpointed parts only where a frame is reused across
    // batches — per-batch transitions stay lazy and execute inside the
    // NEXT batch's dequeue job (one fewer action per batch)
    val frontierParts = mutable.ArrayBuffer[DataFrame]()
    val dequeuedKeyParts = mutable.ArrayBuffer[DataFrame]()
    val redirectTombstoneParts = mutable.ArrayBuffer[DataFrame]()
    val seenParts = mutable.ArrayBuffer[DataFrame]()
    val logParts = mutable.ArrayBuffer[DataFrame]()
    val pageParts = mutable.ArrayBuffer[DataFrame]()
    val imageParts = mutable.ArrayBuffer[DataFrame]()
    val metricParts = mutable.ArrayBuffer[DataFrame]()

    def unionAll(parts: Seq[DataFrame]): DataFrame =
      if (parts.isEmpty) spark.emptyDataFrame
      else parts.reduce(_ unionByName _)

    // only pending rows meet the tombstones: a row leaves pending under a
    // new version, so no dequeued key matches a done row, and the state
    // filter sits below both anti-joins' shuffles
    def pendingView: DataFrame = {
      var view = unionAll(frontierParts.toSeq)
        .filter(col("state") === Frontier.StatePending)
      if (dequeuedKeyParts.nonEmpty)
        view = view.join(unionAll(dequeuedKeyParts.toSeq),
          Seq("url_hash", "ver"), "left_anti")
      // a URL whose content a redirect already delivered must never be
      // fetched again, even if it was enqueued before the redirect was
      // discovered (response.py:197-210)
      if (redirectTombstoneParts.nonEmpty)
        view = view.join(unionAll(redirectTombstoneParts.toSeq),
          Seq("url_hash", "url"), "left_anti")
      view
    }
    def frontierView: DataFrame = unionAll(frontierParts.toSeq)
      .filter(col("state") =!= Frontier.StatePending)
      .unionByName(pendingView)
    def seenView: DataFrame = unionAll(seenParts.toSeq)
    // a frontier base snapshot replaces every frontier part: its rows
    // already have the tombstones applied
    def setFrontierBase(fr: DataFrame): Unit = {
      frontierParts.clear()
      dequeuedKeyParts.clear()
      redirectTombstoneParts.clear()
      frontierParts += fr
    }

    // the store's delta tables, each holding one batch's slice of a parts
    // array: the parts past that array's commit mark
    val deltaTables = Seq(
      "frontier_delta" -> frontierParts,
      "frontier_dequeued_keys" -> dequeuedKeyParts,
      "frontier_redirect_tombstones" -> redirectTombstoneParts,
      "seen_delta" -> seenParts,
      "crawl_log_delta" -> logParts)

    // ---- seen-set Bloom accelerator ------------------------------------
    // Populated by a pass-through tap on url_hash inside the seen-delta
    // checkpoint job (no dedicated aggregation pass). Partitioned into
    // config.bloomRanges url_hash ranges (SeenSet.PartitionedBloom): at
    // 10^10-URL design scale per-range filters stay MB-sized and live
    // where their range's anti-join probes run, so capacity scales with
    // the range count. The auto-disable below remains the honesty
    // backstop for a run that overruns its configured total capacity —
    // the loop falls back to the always-authoritative exact anti-join,
    // and the batch's "bloom_enabled" counter reads 0.
    val bloomAcc = new SeenSet.PartitionedBloomAccumulator(
      math.max(1, config.bloomRanges), config.bloomExpected)
    if (config.useBloom)
      spark.sparkContext.register(bloomAcc, "graft.seenBloom")
    var bloomInserted = 0L
    var bloomEnabled = config.useBloom
    val bloomTap = udf { (h: Long) => bloomAcc.add(h); h }.asNondeterministic()
    def tapped(df: DataFrame): DataFrame =
      if (bloomEnabled) df.withColumn("url_hash", bloomTap(col("url_hash")))
      else df
    def noteInserted(n: Long): Unit = {
      bloomInserted += n
      if (bloomInserted > config.bloomExpected) bloomEnabled = false
    }

    val startBatch = seedsOpt match {
      case Some(seeds) =>
        val seeded = tapped(seedFrontier(seeds)).localCheckpoint(true)
        frontierParts += seeded
        seenParts += seeded.select("url", "url_hash")
        noteInserted(seeds.size.toLong)
        0
      case None =>
        // resume: rebuild the state views from the latest snapshot; the
        // seen load doubles as the Bloom-repopulation pass (every
        // url_hash flows through the accumulator tap in ONE checkpoint
        // job — without it an empty filter would declare seen URLs
        // "definitely new" and corrupt the dedup)
        val st = store.getOrElse(throw new IllegalStateException(
          "resume() requires a SnapshotStore"))
        def loadSeen(frames: Seq[DataFrame]): Unit = {
          val (seenLoaded, n) = checkpointCounted(tapped(
            frames.map(_.select("url", "url_hash")).reduce(_ unionByName _)))
          seenParts += seenLoaded
          noteInserted(n)
        }
        // anchor on the batch-commit MARKER — the one tiny table written
        // LAST in each batch's durable commit. A crash anywhere mid-commit
        // leaves no marker for that batch, so resume anchors on the
        // previous complete batch and deterministically replays the torn
        // one; without this, a multi-table commit has no atomicity and a
        // torn batch would resume into a state no uninterrupted run
        // produces.
        val marker = st.latestSnapshot("batch_commit").getOrElse(
          throw new IllegalStateException(
            "no committed batch marker to resume"))
        // the torn batch's partial snapshots are dropped before its
        // replay: the replay rewrites only the tables it commits, so any
        // other would outlive it (a base's frontier when the batch is
        // replayed as a delta batch, say)
        (Seq("frontier", "seen", "crawl_log") ++ deltaTables.map(_._1))
          .foreach { t =>
            st.snapshots(t).filter(_ > marker).foreach(st.drop(t, _))
          }
        // every snapshot loaded below is lineage-verified against disk
        // first (part names + byte sizes from its manifest) so a torn or
        // tampered snapshot refuses to resume instead of silently
        // loading a subset (r4 ask #8 — verify() was caller-opt-in)
        def readVerified(table: String, sn: Long): DataFrame = {
          val bad = st.verify(table, sn)
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"snapshot $table/$sn failed lineage verification: " +
                bad.mkString("; "))
          st.read(spark, table, Some(sn)).getOrElse(
            throw new IllegalStateException(
              s"snapshot $table/$sn vanished between verify and read"))
        }
        // the latest base at or before the marker (empty batches write
        // none, so it may be older) + every marker-covered delta after
        // it, loaded into the SAME parts arrays the in-memory views are
        // built from — tombstone semantics are therefore identical to an
        // uninterrupted run. Deltas at or before the base are already in
        // it. A base is a batch with all three base tables: a store
        // written before torn snapshots were dropped can hold the lone
        // frontier of a crash inside a base commit.
        val withBase = Seq("seen", "crawl_log").map(st.snapshots(_).toSet)
        val baseSnap = st.snapshots("frontier")
          .filter(sn => withBase.forall(_(sn))).lastOption
        def after(sn: Long) = baseSnap.forall(_ < sn)
        def deltas(table: String): Seq[DataFrame] =
          st.snapshots(table).filter(after).map(readVerified(table, _))
        baseSnap.foreach { b =>
          setFrontierBase(readVerified("frontier", b))
          logParts += readVerified("crawl_log", b)
        }
        // seen deltas load with the base below, through the Bloom tap
        deltaTables.foreach { case (table, parts) =>
          if (parts ne seenParts) parts ++= deltas(table)
        }
        val seenFrames =
          baseSnap.map(readVerified("seen", _)).toSeq ++ deltas("seen_delta")
        if (seenFrames.isEmpty)
          throw new IllegalStateException(
            "no committed base or delta snapshots to resume")
        loadSeen(seenFrames)
        (marker + 1).toInt
    }

    // ---- domain-rules cache (reference DomainCache LRU, fully distributed)
    // robots_txt rows live distributed in checkpointed `rulesParts`, keyed
    // by host with a fetched_batch recency column. The driver holds ONE
    // scalar — the current row count, maintained from per-checkpoint
    // observed metrics — never a host list (r3 VERDICT #3: the old
    // host→batch LinkedHashMap was the first thing a 10^10-frontier
    // deployment would have had to shard). Miss detection is a
    // distributed anti-join; eviction is a distributed recency top-k.
    val rulesParts = mutable.ArrayBuffer[DataFrame]()
    var rulesCount = 0L
    def rulesView: DataFrame = unionAll(rulesParts.toSeq)

    // per-batch driver counters for CrawlResult.counters — scalars the
    // loop already holds; never a distributed collection
    val counterRows = mutable.ArrayBuffer[(Int, String, Long)]()

    // commit marks: per delta table, the index of the first part of its
    // array NOT yet durably committed. Parts loaded by resume are durable;
    // a fresh run's seed wave is not — it is batch 0's delta or part of
    // batch 0's base.
    val marks = Array.fill(deltaTables.length)(0)
    def markCommitted(): Unit =
      deltaTables.indices.foreach(i => marks(i) = deltaTables(i)._2.length)
    if (seedsOpt.isEmpty) markCommitted()
    // how often a batch writes a base: durableDeltas is read only here
    val baseEvery =
      if (store.isDefined && !config.durableDeltas) 1 else config.compactEvery
    val fetchParts =
      if (config.fetchPartitions > 0) config.fetchPartitions
      else spark.sessionState.conf.numShufflePartitions

    for (batch <- startBatch until startBatch + config.maxBatches) {
      val bt = batchTime(batch)
      // ---- dequeue: ONE action materializes the batch AND the pending
      //      transitions of previous batches still in the lazy view; the
      //      row count rides along (a scalar — the batch's hosts stay
      //      distributed) ---------------------------------------------
      val (dequeued, n) = {
        // shard gate: only this instance's host-hash range dequeues;
        // out-of-range rows stay pending for the shard that owns them
        val eligible =
          if (config.shardCount > 1)
            pendingView.filter(pmod(col("host_hash"),
              lit(config.shardCount)) === lit(config.shardIndex.toLong))
          else pendingView
        val raw = Frontier.dequeue(eligible, lit(bt), config.perHostBudget)
        checkpointCounted(if (config.emitCrawlSeq) Frontier.withCrawlSeq(raw)
          else raw.withColumn("seq", col("url_hash")))
      }
      counterRows += ((batch, "dequeued", n))
      if (n > 0) {
        // ---- robots refresh: distributed miss list (batch hosts
        //      anti-join rules), distributed fetch of only the misses
        //      (J-2). One small job per batch; its cost when nothing is
        //      missing is the anti-join, which is not co-partitioned
        //      (nothing buckets crawl state by host) -------------------
        val batchHostsDf = dequeued.select("host").distinct()
        val missing =
          if (rulesParts.isEmpty) batchHostsDf
          else batchHostsDf.join(rulesView.select("host"),
            Seq("host"), "left_anti")
        val (newRules, newCount) = fetchRobots(missing, batch, fetchParts)
        counterRows += ((batch, "robots_fetched", newCount))
        // the new rules' Sitemap URLs are enqueued (L7; domaincache.py:
        // 102-167 expands recursively — recursion here is the loop
        // itself: sitemap pages get link-scanned like any page)
        val sitemapUrls =
          if (newCount == 0) None
          else {
            rulesParts += newRules
            rulesCount += newCount
            val sitemapLinesUdf =
              udf((txt: String) => Robots.sitemapLines(txt))
            Some(newRules.filter(col("robots_status") === 200)
              .select(explode(sitemapLinesUdf(col("robots_txt"))).as("url")))
          }

        // ---- robots gate: broadcast rules join + allow UDF --------------
        // The gate joins the PRE-eviction rules (this batch's hosts are
        // always present — fetched above if missing, so the rules parts
        // are never empty here, and eviction keeps one); the LRU trim runs
        // after the batch, so rules are never evicted for hosts being
        // gated right now, and a null robots_txt can only mean the robots
        // fetch itself failed (⇒ allowed, like the reference).
        val ua = config.userAgent
        val allowedUdf = udf { (txt: String, url: String) =>
          txt == null || txt.isEmpty || Robots.allows(txt, ua, url)
        }
        val gated = dequeued
          .join(broadcast(rulesView
            .select("host", "robots_txt")), Seq("host"), "left")
          .withColumn("allowed", allowedUdf(col("robots_txt"), col("url")))
          .drop("robots_txt")
        val toFetch = gated.filter(col("allowed"))

        // ---- host-partitioned, deterministically ordered fetch+parse ----
        // the partition id is computed, not hashed again: with a per-host
        // gap, pmod(host_hash, P), so one partition fetches all of a
        // host's URLs in sequence; without one, the host's partition plus
        // the salt pmod(url_hash, P), so a hot host spreads over all P
        // fetch partitions. The inner pmods keep the sum from overflowing.
        val internetL = internet
        val cfg = config
        val parts = lit(fetchParts)
        val hostPart = pmod(col("host_hash"), parts)
        val partitionId =
          if (config.delayS > 0) hostPart
          else pmod(hostPart + pmod(col("url_hash"), parts), parts)
        val fetched: Dataset[FetchedPage] =
          toFetch
            .select("url", "url_hash", "host", "host_hash", "seq")
            .repartitionById(fetchParts, partitionId.cast("int"))
            .sortWithinPartitions("host", "seq")
            .as[(String, Long, String, Long, Long)]
            .mapPartitions { it =>
              CrawlLoop.fetchAndParse(it, internetL, cfg)
            }.localCheckpoint(true) // the ONE materialization of the batch

        // per-batch outputs are lazy views over the checkpointed batch
        logParts += fetched
          .select(lit(batch).as("batch"), col("seq"), col("url"),
            col("final_url"), col("status"), col("host"),
            col("crawl_time_ms"), col("content_type"))
        pageParts += fetched
          .drop("links", "feeds", "entry_links", "image_bytes")
          .withColumn("batch", lit(batch))
        imageParts += fetched.filter(col("is_image"))
          .select(col("url"), col("image_bytes").as("bytes"))
          .withColumn("image_id",
            regexp_extract(col("url"), "/img/(img\\d+)\\.", 1))
          .withColumn("batch", lit(batch))
        // metrics rollup (A4) + approximate distinct monitoring (A5)
        metricParts += CrawlMetricsStream.hostRollup(fetched.groupBy("host"),
          approx_count_distinct(col("url_hash")).as("approx_distinct_urls"))
          .withColumn("batch", lit(batch))

        // ---- new links: pages ∪ feeds ∪ entries ∪ sitemap URLs → admit →
        //      two-tier dedup → redirect credit → pending + seen delta,
        //      all materialized by ONE checkpoint whose job also feeds the
        //      Bloom accumulator through the url_hash tap -----------------
        val rawLinks = fetched
          .select(explode(concat(col("links"), col("feeds"),
            col("entry_links"))).as("url"))
        val allRaw = sitemapUrls match {
          case Some(sm) => rawLinks.unionByName(sm)
          case None     => rawLinks
        }
        val admitted = Frontier.admit(allRaw, lit(batch + 1), lit(bt),
          config.saltBuckets).persist()
        val seen = seenView
        val fresh0 =
          if (bloomEnabled)
            SeenSet.filterNewWithPartitionedBloom(admitted, seen,
              bloomAcc.value)
          else SeenSet.filterNewExact(admitted, seen)
        counterRows += ((batch, "bloom_enabled", if (bloomEnabled) 1L else 0L))

        // redirect targets enter the seen set under their canonical form —
        // the reference processed the final URL's response, so the engine
        // must never re-fetch it (response.py:197-210). Targets take
        // precedence over same-batch link discoveries: a URL that is both
        // a fresh link and a redirect target is credited as seen, never
        // enqueued.
        val cleanUdf = Frontier.cleanUdf
        val redirectTargets = fetched
          .filter(col("final_url") =!= col("url"))
          .select(cleanUdf(col("final_url")).as("url"))
          .filter(col("url").isNotNull)
          .dropDuplicates("url")
          .withColumn("url_hash", xxhash64(col("url")))
        val redirCredit = redirectTargets
          .join(seen.select("url_hash", "url"), Seq("url_hash", "url"),
            "left_anti")
          .withColumn("src", lit("redir"))
        val freshRows = fresh0
          .join(redirectTargets.select("url_hash", "url"),
            Seq("url_hash", "url"), "left_anti")
          .withColumn("ver", lit(batch + 1))
          .withColumn("src", lit("link"))
        val (delta, deltaN) = checkpointCounted(tapped(
          freshRows.unionByName(redirCredit, allowMissingColumns = true)))
        admitted.unpersist()
        counterRows += ((batch, "links_seen_delta", deltaN))
        noteInserted(deltaN)
        counterRows += ((batch, "bloom_inserted_total", bloomInserted))
        val fresh = delta.filter(col("src") === "link").drop("src")
        seenParts += delta.select("url", "url_hash")
        // pre-existing pending rows for redirect targets are tombstoned —
        // the redirect visit already delivered their content
        redirectTombstoneParts += redirectTargets.select("url_hash", "url")

        // ---- state transition: only this batch's dequeued rows. Lazy on
        //      purpose — it reads only checkpointed inputs and executes
        //      inside the next batch's dequeue job (or the compaction),
        //      costing zero scheduled actions here ----------------------
        val statusByHash = fetched.select(col("url_hash"),
          col("status").as("fetch_status"))
        val transitioned = gated
          .join(statusByHash, Seq("url_hash"), "left")
          .withColumn("state",
            when(!col("allowed"), Frontier.StateExcluded)
              .when(col("fetch_status").isNotNull &&
                Statuses.retryCol(col("fetch_status")) &&
                col("tries") + 1 < CrawlLoop.MaxTries, Frontier.StatePending)
              .when(col("fetch_status").isNotNull &&
                Statuses.invalidCol(col("fetch_status")),
                Frontier.StateFailed)
              .when(col("fetch_status").isNotNull, Frontier.StateFetched)
              .otherwise(col("state")))
          .withColumn("tries",
            when(col("fetch_status").isNotNull &&
              Statuses.retryCol(col("fetch_status")),
              col("tries") + 1).otherwise(col("tries")))
          .withColumn("not_before",
            when(col("state") === Frontier.StatePending &&
              col("fetch_status").isNotNull,
              lit(batchTime(batch + 1))).otherwise(col("not_before")))
          .withColumn("ver", lit(batch + 1))
          .drop("fetch_status", "allowed", "seq")
        // tombstone the dequeued versions — the gate and status joins are
        // left joins on `dequeued`, so the transition's keys are the
        // checkpointed batch's keys; the transition re-appends every
        // dequeued row under a new version, which survives the tombstone
        frontierParts += transitioned
        dequeuedKeyParts += dequeued.select("url_hash", "ver")
        frontierParts += fresh

        // ---- domain-rules LRU eviction, AFTER the gate ------------------
        // (reference evicts by insert date, domaincache.py:244-259; an
        // evicted host that reappears is a miss and re-fetches next time).
        // Distributed recency top-k: orderBy+limit compiles to
        // TakeOrderedAndProject — per-partition top-cap then a cap-bounded
        // merge, no global sort, no WindowExec, no driver host list. The
        // deterministic (fetched_batch, host) order makes eviction
        // reproducible across runs.
        if (rulesCount > config.robotsCacheSize) {
          val compacted =
            rulesView
              .orderBy(col("fetched_batch").desc, col("host").desc)
              .limit(config.robotsCacheSize)
              .localCheckpoint(true)
          rulesParts.clear()
          rulesParts += compacted
          rulesCount = config.robotsCacheSize
        }

      }
      // ---- base: the one compaction. It bakes the lazy transitions and
      //      tombstones into one frontier part and one seen part; with a
      //      store the frames are the committed base tables read back.
      //      An EMPTY batch writes no base — nothing changed ----------------
      val lineage = Map("batch" -> batch.toString, "dequeued" -> n.toString)
      if (n > 0 && (batch + 1) % baseEvery == 0) {
        val (frontierBase, seenBase) = store match {
          case Some(s) =>
            // the full tables and no delta slices (resume skips deltas
            // at or before a base)
            s.commit("frontier", batch, frontierView, lineage)
            s.commit("seen", batch, seenView, lineage)
            s.commit("crawl_log", batch, unionAll(logParts.toSeq), lineage)
            (s.read(spark, "frontier", Some(batch)).get,
              s.read(spark, "seen", Some(batch)).get)
          case None =>
            (frontierView.localCheckpoint(true), seenView.localCheckpoint(true))
        }
        setFrontierBase(frontierBase)
        seenParts.clear()
        seenParts += seenBase
      } else store.foreach { s =>
        // the 10^10-frontier shape: only this batch's parts — O(batch)
        // bytes, not O(state); an empty batch writes none beyond a not
        // yet durable seed wave
        deltaTables.zip(marks).foreach { case ((table, parts), mark) =>
          if (parts.length > mark)
            s.commit(table, batch, unionAll(parts.drop(mark).toSeq), lineage)
        }
      }
      // the marker sits OUTSIDE the n > 0 condition and is written LAST: a
      // batch is durable iff its marker exists (resume anchors on it — see
      // runInternal), and an EMPTY batch still commits it, so the resume
      // anchor advances across drained batches instead of replaying them
      // on every resume (r4 ADVICE #2)
      store.foreach { s =>
        s.commit("batch_commit", batch,
          Seq((batch, n)).toDF("batch", "dequeued"), lineage)
        markCommitted()
      }
    }
    CrawlResult(frontierView, seenView, unionAll(logParts.toSeq),
      unionAll(pageParts.toSeq), unionAll(imageParts.toSeq),
      unionAll(metricParts.toSeq),
      counterRows.toSeq.toDF("batch", "counter", "value"))
  }
}

object CrawlLoop {

  /** fetch attempts per URL before a retryable status becomes terminal */
  val MaxTries = 3

  /** batch 0's time; batch b runs at StartTime + b minutes, so batch time
    * derives from the batch number and a crawl replays exactly */
  val StartTime: Instant = Instant.parse("2024-01-01T00:00:00Z")

  /** Requests one fetch partition keeps in flight ahead of the page it
    * parses, when no per-host gap is set (4 and 8 measured alike on the
    * `crawl_wide` benchmark). */
  val FetchWindow = 4

  /** Fused fetch + parse for one partition, in input order. Up to
    * `FetchWindow` requests run on the fetch client's pool while this
    * thread parses, so charset sniffing, recognition and link extraction
    * stay on the task thread; with `delayS > 0` the window is 1, and a
    * host's next request waits out the gap after the previous one
    * returned. Requests still in flight when the task ends are cancelled.
    * `request` builds a URL's request (its deadline, say). Pure w.r.t. its
    * inputs — the only nondeterminism (crawl_time_ms) never feeds back
    * into state. */
  def fetchAndParse(it: Iterator[(String, Long, String, Long, Long)],
      internet: SyntheticInternet, config: CrawlConfig,
      request: String => FetchRequest = FetchRequest.default)
      : Iterator[FetchedPage] = {
    val window = if (config.delayS > 0) 1 else FetchWindow
    val lastFetchNanos = scala.collection.mutable.Map[String, Long]()
    final case class InFlight(url: String, urlHash: Long, host: String,
        seq: Long, page: FetchClient.StartedPage)
    val inFlight = mutable.Queue[InFlight]()
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit] { _ =>
        inFlight.foreach(_.page.cancel())
      })

    def begin(url: String, urlHash: Long, host: String, seq: Long): InFlight = {
      val req = request(url).copy(delayS = config.delayS)
      // per-host min-gap politeness (J-3; reference delay_s, request.py:31)
      if (req.delayS > 0) {
        lastFetchNanos.get(host).foreach { last =>
          val waitMs =
            req.delayS * 1000L - (System.nanoTime() - last) / 1000000L
          if (waitMs > 0) Thread.sleep(waitMs)
        }
      }
      // the social-API side-fetch starts with the page, on the same host
      // budget slot (J-5)
      InFlight(url, urlHash, host, seq, FetchClient.startPage(req, internet))
    }
    def fill(): Unit =
      while (inFlight.size < window && it.hasNext) {
        val (url, urlHash, host, _, seq) = it.next()
        inFlight.enqueue(begin(url, urlHash, host, seq))
      }

    new Iterator[FetchedPage] {
      def hasNext: Boolean = { fill(); inFlight.nonEmpty }
      def next(): FetchedPage = {
        fill()
        val f = inFlight.dequeue()
        val (resp, social) = FetchClient.finishPage(f.page)
        if (config.delayS > 0) lastFetchNanos(f.host) = System.nanoTime()
        fill() // the next requests run while this page is parsed
        parsePage(f.url, f.urlHash, f.host, f.seq, resp, social,
          f.page.handler.map(_.feeds).getOrElse(Seq.empty))
      }
    }
  }

  /** Parse one fetched page into its `FetchedPage` row. */
  private def parsePage(url: String, urlHash: Long, host: String, seq: Long,
      resp: graft.model.FetchResponse, social: Social.SocialData,
      handlerFeeds: Seq[String]): FetchedPage = {
    val isImage = ContentTypes.isImage(resp.headers)
    val parsed =
      if (Statuses.isValid(resp.status) && !isImage)
        PageFactory.recognize(resp.url, resp.headers, resp.text)
      else None
    val meta = PageFactory.toPageMeta(resp.url, parsed)
    val entryLinks: Seq[String] = parsed match {
      case Some(PageFactory.ParsedRss(m)) =>
        m.entries(StartTime).map(_.link)
      case Some(PageFactory.ParsedOpml(entries, _)) => entries.map(_.url)
      case _ => Seq.empty
    }
    // sitemap XML carries no recognized page type; the reference link-
    // scans it like any content (domaincache.py:130-167). Lazy: only a
    // page that is not parsed HTML pays for the two full-text scans.
    lazy val isSitemap = resp.text.exists(t =>
      t.contains("<urlset") || t.contains("<sitemapindex"))
    val links: Seq[String] = parsed match {
      case Some(PageFactory.ParsedHtml(m)) =>
        LinkExtractor.extractLinksSorted(resp.url, m.contents).toSeq
      case _ if isSitemap && Statuses.isValid(resp.status) =>
        LinkExtractor.extractLinksSorted(resp.url, resp.text.get).toSeq
      case _ => Seq.empty
    }
    FetchedPage(
      url = url,
      final_url = resp.url,
      url_hash = urlHash,
      host = host,
      seq = seq,
      status = resp.status,
      content_type = resp.recognizedContentType.getOrElse(""),
      crawl_time_ms = resp.crawlTimeMs,
      page_type = meta.pageType,
      title = meta.title.orNull,
      description = meta.description.orNull,
      language = meta.language.orNull,
      date_published = meta.datePublished.orNull,
      page_rating = meta.pageRating,
      links = links,
      feeds = meta.feeds ++ handlerFeeds,
      entry_links = entryLinks,
      is_image = isImage,
      image_bytes = if (isImage) resp.body else Array.empty[Byte],
      body_hash_hex = meta.bodyHashHex.orNull,
      errors = resp.errors,
      social_thumbs_up = social.thumbsUp,
      social_thumbs_down = social.thumbsDown,
      social_view_count = social.viewCount,
      social_upvote_ratio = social.derivedUpvoteRatio,
      social_rating = social.rating,
      social_followers = social.followersCount,
      social_upvote_diff = social.derivedUpvoteDiff)
  }
}
