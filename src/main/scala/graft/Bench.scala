package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import graft.crawl.{CrawlConfig, CrawlLoop}
import graft.fetch.{SyntheticConfig, SyntheticInternet}
import graft.parse.HtmlMeta
import graft.links.LinkExtractor

/** Benchmark main — ONE JSON line, emitted unconditionally, inside a
  * wall-clock budget:
  *
  *  1. Spark-free pipeline scaling (plain threads) — isolates engine-code
  *     scaling from batch-orchestration floor and sandbox CPU steal;
  *  2. headline SparkEntry query timings on SPARK_GRAFT_SF_DIR;
  *  3. the north-rule scaling evidence: the same crawl (fetch+parse+dedup
  *     over the deterministic synthetic internet) at task-slot counts
  *     N=2 and 4N=8 (and 32 as supplementary), identical input.
  *
  * Budget protocol (round-2 lesson: a bench the driver kills at rc=124
  * produces NO evidence): `SPARK_GRAFT_BENCH_BUDGET_S` (default 480 —
  * round 3 used only 342 s of the driver's ~600 s allowance; 480 + sbt
  * overhead stays safely under it) bounds the whole run. Each phase
  * checks the remaining budget before spending; crawl reps degrade
  * (fewer reps, then no 32-slot level) rather than overrun; the JSON
  * line prints even when phases were skipped or threw.
  *
  * Round-4 ordering lesson: scaling efficiency is a batch-size property
  * (the per-batch orchestration floor amortizes with batch size), so the
  * crawl phase ESCALATES to larger scales before spending second reps —
  * one complete 400-600-site round is worth more than two 150-site reps.
  *
  * Round-5 lesson — storm-survivor mode (the artifact must NEVER be
  * empty; r5 recorded zero crawl data when every leg cancelled against
  * warm-window deadlines in a sustained steal storm):
  *  (a) the 2.2x warm-throughput bonus is dropped when calibration runs
  *      below half the quiet-window floor (storm runs never warm into
  *      it, and deadlines derived from the inflated estimate cancel
  *      every leg);
  *  (b) two consecutive cancelled legs trigger a fresh calibration that
  *      can only shrink the throughput estimate;
  *  (c) a budget reserve is held until one complete (2,8) pair exists;
  *      if the phase still ends pairless, ONE minimal 100-site round
  *      runs with the per-rep deadline waived (reaper-bounded) so the
  *      artifact always carries a complete pair, honestly flagged;
  *  (d) in a storm-flagged window the pair is secured FIRST: the base
  *      round's t2 leg runs waived (a complete non-physical pair beats
  *      an empty artifact — the t2 cap exists to protect retry budget
  *      that a storm window cannot use anyway), and the supplementary
  *      32-slot leg is skipped.
  * Every cancel and recalibration is emitted in the JSON (`cancelled`,
  * `recalibrations`, `storm_calibration`, `last_resort`) so a
  * storm-window artifact is self-diagnosing.
  *
  * Protocol notes (no real cluster exists in this sandbox):
  *  - "cluster size" is emulated as the number of concurrent task slots
  *    (partition count) inside one local[32] session — each task is
  *    single-threaded, so k slots ≈ k single-core executors;
  *  - N=2 vs 4N=8 keeps both levels on distinct physical cores (the box
  *    is 32 hardware threads on 16 physical cores, so 8→32 conflates SMT
  *    sharing with scaling);
  *  - each level reports the best of its completed runs: the sandbox VM
  *    suffers intermittent CPU-steal bursts and min-time filters them;
  *    interleaving levels across reps exposes every level to the same
  *    conditions.
  */
object Bench {

  /** Storm-window detection threshold: half the ~740 urls/s the 60-site
    * calibration crawl sustains in a quiet window (18 logged BASELINE.md
    * runs). Below it the window is a steal storm and the warm-throughput
    * multiplier must not apply (BenchPolicySpec pins the boundary). */
  private[graft] val StormCalibThreshold = 370.0
  private[graft] def isStormCalibration(calibUrlsPerSec: Double): Boolean =
    calibUrlsPerSec < StormCalibThreshold

  /** Next escalation scale: grow ≤2.5×, bounded by what the budget
    * affords, rounded DOWN to a 50-multiple BEFORE capping at the env
    * scale — rounding after the cap made a non-50-multiple env cap
    * unreachable (r5 ADVICE; BenchPolicySpec pins the regression). */
  private[graft] def nextEscalationScale(envCap: Int, cur: Int,
      affordable: Int): Int =
    math.min(envCap, math.min((2.5 * cur).toInt, affordable) / 50 * 50)

  /** 2-slot deadline cap: past 4.6× the recorded 8-slot min a 2-slot rep
    * can never form a physical pair (bound 4.5×) — cancel it rather than
    * hold its full 3×-estimate deadline (45 s flat floor for tiny t8). */
  private[graft] def t2DeadlineCap(deadline0: Double,
      t8Min: Option[Double]): Double =
    t8Min.map(t8 => math.min(deadline0, math.max(4.6 * t8, 45.0)))
      .getOrElse(deadline0)

  private[graft] def buildSession(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def work(internet: SyntheticInternet, i: Int): Int = {
    val url = s"https://site-${i % 100}.test/page/${i % 60}"
    val resp = internet.get(url)
    val text = resp.text.getOrElse("")
    val meta = new HtmlMeta(url, text)
    val links = LinkExtractor.links(url, text)
    meta.title.map(_.length).getOrElse(0) + links.size
  }

  /** Spark-free parallel-scaling probe of the raw fetch+parse work:
    * pages/sec for `pages` synthetic generate + parse + link-extract
    * units on `threads` plain threads. Separates "my code doesn't scale"
    * from "Spark orchestration doesn't scale" from "this VM's memory
    * bandwidth saturates". */
  private def measure(threads: Int, pages: Int,
      paragraphs: Int = 60): Double = {
    val internet = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = 100, pagesPerSite = 60, imagesPerSite = 0,
      itemsPerFeed = 3, bodyParagraphs = paragraphs))
    (0 until 2000).foreach(work(internet, _)) // JIT warm
    val pool = Executors.newFixedThreadPool(threads)
    val sink = new AtomicInteger()
    val t0 = System.nanoTime()
    (0 until pages).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = { sink.addAndGet(work(internet, i)); () }
      })
    }
    pool.shutdown()
    pool.awaitTermination(600, TimeUnit.SECONDS)
    pages / ((System.nanoTime() - t0) / 1e9)
  }

  /** One crawl at a given slot count; returns (urlsFetched, seconds). */
  private def crawlOnce(spark: SparkSession, scale: Int,
      slots: Int): (Long, Double) = {
    spark.conf.set("spark.sql.shuffle.partitions", slots.toString)
    val internet = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = scale, pagesPerSite = 60, imagesPerSite = 2,
      itemsPerFeed = 3, bodyParagraphs = 60))
    // production configuration: crawl-seq artifact off (ordering stays
    // deterministic via url_hash); robots cache sized to the working set
    // like a real deployment (the reference's 400 is per-process — a
    // 1000-executor run shards hosts, so per-shard cap ≈ working set);
    // bloomRanges = 16 so the measured path IS the design-scale
    // hash-range-partitioned Bloom, not the single-filter special case
    // NOTE: in this emulation the partition count IS the concurrency cap
    // (one local[32] JVM, no per-executor slot limit) — fetchPartitions
    // must equal `slots` exactly; finer "wave" partitioning would hand a
    // 2-slot run extra physical cores and fabricate throughput
    val loop = new CrawlLoop(spark, internet,
      CrawlConfig(maxBatches = 2, perHostBudget = 100,
        fetchPartitions = slots, useBloom = true, bloomRanges = 16,
        emitCrawlSeq = false,
        robotsCacheSize = math.max(1024, 2 * scale)))
    val seeds = (0 until scale).map(k => s"https://site-$k.test/")
    val t0 = System.nanoTime()
    val result = loop.run(seeds)
    val fetched = result.crawlLog.count()
    (fetched, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "480").toDouble
    def elapsed: Double = (System.nanoTime() - wall0) / 1e9
    def remaining: Double = budgetS - elapsed

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // batch size: bigger batches amortize the constant per-batch
    // orchestration cost the way real 10^8-URL frontier batches would;
    // 600 sites × ~71 URLs ≈ 43k URLs/run fits the default budget
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SITES", "1000").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "0").toInt

    // ---- 1. Spark-free pipeline scaling (cheap, deterministic) ---------
    var pps2, pps8 = 0.0
    try {
      pps2 = measure(2, 8000)
      pps8 = measure(8, 8000)
    } catch { case _: Throwable => }
    val cpuEfficiency = if (pps2 > 0) (pps8 / pps2) / 4.0 else 0.0

    val spark = buildSession(cpus)
    // hard stop: once the budget (plus margin) is blown, repeatedly cancel
    // all in-flight jobs so no single steal-inflated measurement can hold
    // the JSON line hostage — partial data always beats rc=124. The floor
    // widens to -45s ONLY while the storm-survivor last-resort round runs
    // (480 + 45 + sbt startup stays under the driver's ~600s kill).
    @volatile var reaperFloorS = -15.0
    val reaper = new Thread(() => {
      while (true) {
        Thread.sleep(5000)
        if (remaining < reaperFloorS) {
          System.err.println("[bench] budget blown: cancelling jobs")
          try spark.sparkContext.cancelAllJobs() catch { case _: Throwable => }
        }
      }
    }, "bench-budget-reaper")
    reaper.setDaemon(true)
    reaper.start()

    // ---- 2. headline queries (reserve: at most ~30% of budget) ---------
    // the r01-comparable headline set at sfDir; q17 runs after this loop
    // at sf0.01 (its sf0.1 cost is true-pair verification volume, not
    // plan work — see the comment there)
    val headline = Seq("q01_agg", "q02_join_broadcast", "q04_topk_window",
      "q06_ordered_coalesce", "q09_gap_window", "q11_dedup_exact",
      "q12_langid_sql", "q14_token_count", "q15_minhash_lsh",
      "q18_ann_brute", "q19_ann_ivf", "q21_langid_engine")
    val queryStop = 0.3 * budgetS
    val times = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def runQuery(name: String, dir: String): Unit =
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable =>
          try fn(spark, dir).count() catch { case _: Throwable => }
        }
      }
    // one cheap warm pass at sf0.001 first: codegen + JIT + reader init
    // land there, so the timed sf0.1 numbers measure the plan, not the JVM
    headline.foreach { name =>
      if (elapsed < 0.18 * budgetS) runQuery(name, "/root/testdata/sf0.001")
    }
    headline.foreach { name =>
      if (elapsed < queryStop) {
        val t0 = System.nanoTime()
        runQuery(name, sfDir)
        times += name -> (System.nanoTime() - t0) / 1e9
      } else System.err.println(s"[bench] budget: skipped $name")
    }
    // q17 — the exact set-similarity join — is timed at sf0.01, pinned:
    // at sf0.1 the synthetic corpus holds ~850k TRUE ≥0.6-Jaccard pairs
    // (7% of all pairs) so the cost there is true-pair verification, not
    // plan work; sf0.01 times the prefix-filter plan itself (r4 ask #6)
    if (elapsed < queryStop) {
      val t0 = System.nanoTime()
      runQuery("q17_ngram_jaccard", "/root/testdata/sf0.01")
      times += "q17_ngram_jaccard_sf001" -> (System.nanoTime() - t0) / 1e9
    } else System.err.println("[bench] budget: skipped q17@sf0.01")

    // ---- 3. crawl scaling within the remaining budget ------------------
    // No dedicated warmup crawl: a warmup is an unbounded budget hole
    // under this sandbox's CPU-steal bursts (round-3 lesson: one warmup
    // took 46s clean and 428s stolen). The Spark-free `measure` + the query
    // phase already warmed the URL/parse and codegen hot paths, and the
    // first 32-slot measurement is min-of-reps-filtered anyway.
    // SPARK_GRAFT_BENCH_WARMUPS can force warmup crawls back on (at
    // quarter scale).
    // best (slots, sites) → (urls, min seconds); the report uses the
    // LARGEST sites with complete 2-and-8 data
    val best = scala.collection.mutable.Map[(Int, Int), (Long, Double)]()
    var measuredSites = scale
    // storm-survivor bookkeeping, emitted in the JSON so a storm-window
    // artifact is self-diagnosing without the stderr tail (r5: the cancel
    // ledger lived only in uncaptured log lines)
    val cancelLedger =
      scala.collection.mutable.ArrayBuffer[(Int, Int, Double, Double)]()
    val recalRates = scala.collection.mutable.ArrayBuffer[Double]()
    var consecutiveCancels = 0
    var lastResortUsed = false
    var calibRateOut = 0.0
    var stormCalibrationOut = false
    try {
      (1 to warmups).foreach { _ =>
        val (_, s) = crawlOnce(spark, math.max(50, scale / 4), cpus)
        System.err.println(f"[bench] warmup: $s%.1fs")
      }
      // calibrate against CURRENT machine conditions: a tiny 8-slot crawl
      // (also the crawl-path JIT warm) yields the throughput that sizes
      // the base round — under a CPU-steal burst the calibration is slow,
      // the base scale shrinks, and the critical levels still fit
      val urlsPerSite = 71.0
      def calibrate(): Double = {
        val (u, sec) = crawlOnce(spark, 60, 8)
        val rate = if (sec > 0) u / sec else 0.0
        System.err.println(f"[bench] calibration: $u urls in $sec%.1fs " +
          f"($rate%.0f urls/s)")
        rate
      }
      val calibRate = calibrate()
      calibRateOut = calibRate
      // storm-survivor rule (a): the quiet-window JIT-cold 60-site
      // calibration runs ~740 urls/s (BASELINE.md, 18 logged runs).
      // Below half that the window is a steal storm, and storm runs
      // never warm into the 2.2x bonus — applying it sized every r5
      // deadline at ~1.4x a realistic storm time and EVERY leg
      // cancelled; the artifact kept nothing. Warm bonus only when the
      // window is plausibly quiet.
      val stormCalibration = isStormCalibration(calibRate)
      stormCalibrationOut = stormCalibration
      if (stormCalibration)
        System.err.println(f"[bench] STORM calibration ($calibRate%.0f " +
          "urls/s < 370): warm multiplier dropped, deadlines sized from " +
          "the storm rate")
      // warm, bigger-batch runs sustain ~2-3x the JIT-cold 60-site
      // calibration rate (measured round 3: calib 300 urls/s vs 1071
      // at 250 sites warm) - 2.2 keeps sizing honest in quiet windows
      val warmMult = if (stormCalibration) 1.0 else 2.2
      var estTput8 =
        if (calibRate > 1.0) calibRate * warmMult else 1500.0
      val crawlBudget = math.max(remaining, 30.0)
      // storm-survivor rule (c): until one complete (2,8) pair exists at
      // ANY scale, a reserve stays carved out of every gate so the
      // last-resort minimal round can always run — a 100-site round is
      // ~40s quiet and ~120s in a 3x storm. Once a pair lands (the
      // normal case, minutes in) the reserve is 0 and the full budget is
      // back. Deadlines and affordability checks below use crawlRem, not
      // the raw wall remaining, so no doomed leg can eat the reserve.
      val lastResortReserve = 120.0
      def pairDone: Boolean =
        best.keys.exists { case (sl, n) => sl == 8 && best.contains((2, n)) }
      def crawlRem: Double =
        remaining - (if (pairDone) 0.0 else lastResortReserve)
      // a round is t8 + t2 ≈ t8·(1+3.2) = 4.2·t8; size the base so the
      // base round PLUS one 2.0× escalation round (the 0.8-efficiency
      // regime) fit: 4.2·(1+2.0)·1.1 margin ≈ 13.9·t8-per-site-unit;
      // further escalations/reps ride whatever budget then remains
      val fit = 0.8 * math.max(crawlBudget - lastResortReserve, 30.0) *
        estTput8 / (urlsPerSite * 13.9)
      val baseScale = math.min(scale, math.max(100, fit.toInt / 50 * 50))
      System.err.println(f"[bench] crawl budget $crawlBudget%.0fs → " +
        f"base $baseScale sites (env cap $scale)")

      def t8at(sites: Int): Double = best.get((8, sites)).map(_._2)
        .getOrElse(urlsPerSite * sites / estTput8)
      // what a CLEAN (steal-free) rep would take, from the physical ratios
      def cleanEst(slots: Int, sites: Int): Double = slots match {
        case 2  => 3.2 * t8at(sites)
        case 32 => 0.6 * t8at(sites)
        case _  => t8at(sites)
      }
      def est(slots: Int, sites: Int): Double =
        best.get((slots, sites)) match {
          // a recorded 2-slot min that violates the 4.5x physical bound
          // vs the recorded 8-slot min is steal-inflated BY CONSTRUCTION
          // (2 slots cannot be that much slower than 8 for the same
          // work); estimating from it poisons every budget gate — one r5
          // run kept est(2,750)=132.9s while a clean rep was ~89s, so
          // the rep passes gated t2 out (1.2x159s never fit), spent
          // three reps re-sharpening the already-clean t8 leg, and the
          // report fell back to the base scale. Estimate a clean rep.
          case Some((_, m)) if slots == 2 &&
              best.get((8, sites)).exists(t8 => m > 4.5 * t8._2) =>
            cleanEst(2, sites)
          case Some((_, m)) => m
          case None => cleanEst(slots, sites)
        }
      // per-rep watchdog (r4 lesson: ONE steal-inflated 850-site rep ran
      // 249 s vs ~40 s estimated, burned the escalation budget to
      // completion and left the artifact at the smaller scale). Each
      // measurement runs in its own thread under its own job group with a
      // deadline of 3× its physical-bounds estimate (flat floor for tiny
      // estimates, capped at what the wall budget can still afford);
      // exceeding it cancels the job group and records NOTHING — the
      // escalation/rep loops already treat a missing level as retryable,
      // so a cancelled rep costs its deadline, not the whole budget.
      var measureSeq = 0
      var zombie: Thread = null
      def measure(slots: Int, sites: Int,
          waiveDeadline: Boolean = false): Unit = {
        // a cancelled worker that survived interrupt + the 10s join may
        // still be executing (cancelJobGroup is not a guarantee of prompt
        // death) — running the next measurement beside it contaminates
        // exactly the timing this harness polices. Wait it out briefly;
        // if it still won't die, say so loudly in the log.
        if (zombie != null && zombie.isAlive) {
          System.err.println(s"[bench] waiting out zombie rep ${zombie.getName}")
          zombie.join(15000)
          if (zombie.isAlive)
            System.err.println(s"[bench] WARNING: zombie rep " +
              s"${zombie.getName} still alive — it overlaps this measurement")
        }
        zombie = null
        val estS = est(slots, sites)
        // physical-feasibility gate: when the remaining budget (+reaper
        // margin, minus the last-resort reserve) cannot fit even a
        // steal-FREE rep, starting one is pure waste — it burns its whole
        // deadline and is then cancelled (observed r5: a 75s-deadline t2
        // retry against a clean time of ~89s). The flat canRetry floor
        // deliberately allows cheap retries; this gate only blocks
        // physically-impossible ones. The last-resort round waives it.
        val clean = cleanEst(slots, sites)
        if (!waiveDeadline && crawlRem + 15.0 < clean) {
          System.err.println(f"[bench] sites=$sites slots=$slots SKIPPED: " +
            f"remaining $crawlRem%.0fs cannot fit even a clean " +
            f"~$clean%.0fs rep")
          return
        }
        val deadline0 = math.min(math.max(3.0 * estS, 30.0),
          math.max(crawlRem + 15.0, 30.0))
        // a 2-slot rep running past 4.6x the recorded 8-slot min can
        // never form a physical pair (bound 4.5x): its only possible
        // contribution is non-physical fallback data the report
        // deprioritizes anyway. Cancelling there leaves budget for a
        // fresh attempt that may dodge the burst (observed r5: a 600-site
        // t2 leg held its 3x-estimate deadline for 330 s — the whole
        // remaining budget — when no result past ~160 s could matter).
        // The last-resort round runs un-deadlined: the reaper still
        // bounds it at the wall budget, and partial honest data at a
        // minimal scale beats an empty artifact (r5 kept NOTHING).
        val deadline =
          if (waiveDeadline) math.max(remaining + 45.0, 40.0)
          else if (slots == 2)
            t2DeadlineCap(deadline0, best.get((8, sites)).map(_._2))
          else deadline0
        measureSeq += 1
        val group = s"bench-$measureSeq-s$slots-n$sites"
        val out = new java.util.concurrent.atomic.AtomicReference[(Long, Double)]()
        val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val worker = new Thread(() => {
          try {
            spark.sparkContext.setJobGroup(group,
              s"bench crawl $sites sites @ $slots slots",
              interruptOnCancel = true)
            out.set(crawlOnce(spark, sites, slots))
          } catch { case t: Throwable => err.set(t) }
          finally spark.sparkContext.clearJobGroup()
        }, group)
        worker.setDaemon(true)
        val t0 = System.nanoTime()
        worker.start()
        worker.join((deadline * 1000).toLong)
        if (worker.isAlive) {
          val ranS = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] sites=$sites slots=$slots CANCELLED " +
            f"after $ranS%.1fs " +
            f"(deadline $deadline%.1fs = 3x est $estS%.1fs) — no data kept")
          try spark.sparkContext.cancelJobGroup(group)
          catch { case _: Throwable => }
          worker.interrupt()
          worker.join(10000)
          if (worker.isAlive) zombie = worker
          cancelLedger += ((slots, sites, deadline, ranS))
          consecutiveCancels += 1
          // storm-survivor rule (b): two consecutive cancels mean the
          // machine got slower than whatever sized these deadlines —
          // re-calibrate against CURRENT conditions and only ever shrink
          // the estimate (steal only deflates throughput; a faster fresh
          // reading is luck, not a new regime). Bounded at two
          // recalibrations per run: beyond that the window is hopeless
          // and the last-resort round is the remaining play.
          if (consecutiveCancels >= 2 && recalRates.length < 2 &&
              crawlRem > 20.0) {
            System.err.println("[bench] 2 consecutive cancels: recalibrating")
            val fresh = try calibrate() catch { case _: Throwable => 0.0 }
            recalRates += fresh
            if (fresh > 1.0) estTput8 = math.min(estTput8, fresh)
            consecutiveCancels = 0
          }
        } else if (err.get != null) {
          System.err.println(s"[bench] sites=$sites slots=$slots failed: " +
            s"${err.get.getMessage}")
        } else if (out.get != null) {
          val r = out.get
          System.err.println(f"[bench] sites=$sites slots=$slots sec=${r._2}%.1f")
          consecutiveCancels = 0
          val k = (slots, sites)
          if (!best.contains(k) || r._2 < best(k)._2) best(k) = r
        }
      }
      // base round: ONE rep at each headline level (8 first — it sizes
      // the escalation estimates). The first rep runs even when the
      // estimate says it won't fit — without it there is no evidence at
      // all — but never past the deadline.
      measure(8, baseScale)
      // in a storm-flagged window the base t2 leg IS the survivor pair:
      // its deadline is waived (the reaper still bounds it at the wall).
      // Observed (r6 run 2, calibration 7× slow): the 4.6×-t8 cap
      // cancelled a ~160 s t2 leg that was the only obtainable pair in
      // the window, 200 s went to that cancel plus a doomed 32-slot leg,
      // and the end-of-phase last resort then hit the wall — artifact
      // empty. A complete NON-physical pair beats an empty artifact (the
      // report flags physicality honestly); in a storm the pair is
      // secured before anything else spends budget. If the storm t8 leg
      // itself cancelled, the t2 spend waits for the backstop instead.
      if (crawlRem > 0 &&
          (!stormCalibration || best.contains((8, baseScale))))
        measure(2, baseScale, waiveDeadline = stormCalibration)
      // escalation BEFORE second reps (round-3 lesson: the driver window
      // spent its budget on rep 2 at a steal-shrunk 150-site base and the
      // 0.8-efficiency regime never ran): scaling efficiency is a
      // big-batch property — the per-batch orchestration floor amortizes
      // with batch size — so climb to the LARGEST round the remaining
      // budget affords, sized from MEASURED per-site cost (r5: fixed 2×
      // steps from a steal-shrunk 100-site base burned the budget on
      // 200/400-site rungs and never reached the ≥0.8 regime; a
      // budget-driven jump goes 100 → ~350 in one round). Growth is
      // capped at 2.5×/step: a 4× jump proved all-or-nothing — when a
      // steal burst drowned the top scale's 2-slot leg, no middle rung
      // existed and the report fell back to the tiny base — while
      // 2.5×/step reaches the same top in two rounds and leaves a
      // mid-scale complete round as the fallback evidence.
      var cur = baseScale
      def runEscalation(): Unit = {
        var escalate = true
        while (escalate) {
          val perSite = (est(8, cur) + est(2, cur)) * 1.1 / cur
          val affordable = (0.6 * crawlRem / perSite).toInt
          val next = nextEscalationScale(scale, cur, affordable)
          if (next >= (1.5 * cur).toInt &&
              best.contains((8, cur)) && best.contains((2, cur))) {
            measure(8, next)
            measure(2, next)
            if (best.contains((8, next)) && best.contains((2, next))) cur = next
            else escalate = false
          } else escalate = false
        }
      }
      runEscalation()
      // leftover budget → alternating (interleaved-rep, escalation-retry)
      // passes at the TOP scale: extra reps sharpen the minima
      // (min-of-reps steal filtering where it is load-bearing), and each
      // pass gives escalation another chance — a steal-inflated first
      // measurement otherwise blocks the climb even after reps prove the
      // scale cheap (observed: t8 63.7 s then 21.6 s at 500 sites)
      var pass = 0
      // gate on the CHEAPEST leg (8 slots), not the full round: when the
      // tail budget affords one more 8-slot rep but not a 2-slot one,
      // that rep still sharpens the top-scale minimum (r5: a 400-site
      // round finished with 94 s left — enough for the t8 retry that
      // would have deflated a steal-inflated 38 s measurement)
      while (pass < math.max(3, reps) &&
          crawlRem > 1.2 * math.min(est(8, cur), est(2, cur))) {
        // spend the next rep on the SUSPECT leg first: when the recorded
        // 2-vs-8 pair is (near-)non-physical, the 2-slot min is what is
        // blocking a physical report — re-sharpening the clean t8 leg
        // first can strand the t2 retry past the budget (r5 run above)
        val suspect2 = best.contains((2, cur)) && best.contains((8, cur)) &&
          best((2, cur))._2 > 4.2 * best((8, cur))._2
        for (slots <- if (suspect2) Seq(2, 8) else Seq(8, 2)) {
          if (crawlRem > 1.2 * est(slots, cur)) measure(slots, cur)
          // re-check escalation after EVERY leg, not once per pass: a
          // single refreshed minimum can flip affordability, and the
          // other leg's rep at the CURRENT scale may be exactly the
          // budget a larger round needed (observed: t8 31.2→18.5 s at
          // 350 sites made a 550-site round affordable, but a 60 s t2
          // rep ran first and stranded it)
          runEscalation()
        }
        pass += 1
      }
      measuredSites = cur
      // the 32-slot level is supplementary (SMT-confounded) — in a
      // storm-flagged window it is a doomed 40s burn (r6 run 2), so it
      // only runs when the window is plausibly quiet
      if (!stormCalibration && crawlRem > 1.2 * est(32, cur))
        measure(32, cur)
      // steal-recovery at the report scale: a min-time implying a
      // physically impossible ratio means every rep of that level landed
      // in a steal burst — 8 slots can be at most ~2.6× slower than 32
      // (16 physical cores, SMT bonus), 2 slots at most ~4.5× slower than
      // 8. Re-measure while ratios are non-physical, budget permitting.
      // recovery retries ignore the usual 1.2× estimate guard down to a
      // small flat floor: a non-physical artifact is worse than a retry
      // the reaper may cancel (cancelled retries just keep the old data)
      def canRetry(slots: Int): Boolean =
        crawlRem > math.min(1.2 * est(slots, cur), 25.0)
      var extra = 0
      while (extra < 4 && best.contains((8, cur)) && best.contains((32, cur)) &&
          best((8, cur))._2 > 2.6 * best((32, cur))._2 && canRetry(8)) {
        measure(8, cur); extra += 1
      }
      while (extra < 4 && best.contains((8, cur)) && best.contains((2, cur)) &&
          best((8, cur))._2 > best((2, cur))._2 && canRetry(8)) {
        measure(8, cur); extra += 1 // 8 slots cannot be slower than 2
      }
      while (extra < 8 && best.contains((2, cur)) && best.contains((8, cur)) &&
          best((2, cur))._2 > 4.0 * best((8, cur))._2 && canRetry(2)) {
        // a ratio above 4.0 is SUPERLINEAR scaling — impossible on one
        // box (perfect scaling is exactly 4.0; the per-batch floor makes
        // real runs sublinear), so the 2-slot min still carries steal
        // inflation that flatters the efficiency. Re-measure while
        // budget remains: a flattering-but-implausible 1.0+ report is
        // worse evidence than an honest 0.8 (observed: t2 108.5 vs
        // clean ~86 s at 600 sites reported eff 1.006).
        measure(2, cur); extra += 1
      }
      // 32 slots strictly adds cores over 8 — a 32-slot min slower than
      // the 8-slot min means that single landed in a burst (measured: one
      // 40 s links-dedup job in an otherwise 14 s run); re-measure cheaply
      while (extra < 8 && best.contains((32, cur)) && best.contains((8, cur)) &&
          best((32, cur))._2 > 1.1 * best((8, cur))._2 && canRetry(32)) {
        measure(32, cur); extra += 1
      }
      // throughput-monotonicity recovery: per-URL cost only ever FALLS
      // with batch size (the per-batch floor amortizes — every quiet
      // -window sweep confirms it), so a larger scale measuring >15%
      // LOWER 8-slot throughput than a smaller one is a steal signature
      // on the larger scale's rep, and steal only deflates. Re-measure
      // the top scale's legs while budget remains so the report lands on
      // the largest batch, not on whichever scale dodged the bursts (the
      // physical-ratio loops above then police the refreshed pair).
      def tput(slots: Int, s: Int): Double =
        best.get((slots, s)).map(r => r._1.toDouble / r._2).getOrElse(0.0)
      var mono = 0
      def smallerBeats(slots: Int): Boolean =
        best.contains((slots, cur)) && best.keys.map(_._2)
          .filter(_ < cur).exists(s => tput(slots, s) > 1.15 * tput(slots, cur))
      while (mono < 3 && smallerBeats(8) && canRetry(8)) {
        measure(8, cur); mono += 1
      }
      while (mono < 5 && smallerBeats(2) && canRetry(2)) {
        measure(2, cur); mono += 1
      }
      // refreshed minima can re-expose a non-physical pair — one more
      // bounded police pass (same rules as above)
      while (mono < 7 && best.contains((2, cur)) && best.contains((8, cur)) &&
          best((2, cur))._2 > 4.0 * best((8, cur))._2 && canRetry(2)) {
        measure(2, cur); mono += 1
      }
      while (mono < 7 && best.contains((8, cur)) && best.contains((2, cur)) &&
          best((8, cur))._2 > best((2, cur))._2 && canRetry(8)) {
        measure(8, cur); mono += 1
      }
      // storm-survivor rule (c), the guarantee this protocol was missing
      // for four rounds: if the whole phase ends with no complete (2,8)
      // pair at ANY scale (r5: every leg cancelled in a steal storm), run
      // ONE minimal 100-site round with the per-rep deadline waived — the
      // budget reaper still bounds it — and keep whatever completes,
      // physical-flagged honestly. 100 sites ≈ 7.1k URLs: far below the
      // ≥0.8-efficiency regime, but reduced-scale data beats an empty
      // artifact.
      if (!pairDone) {
        lastResortUsed = true
        reaperFloorS = -45.0
        // an 8-slot leg that DID complete is the better half to keep:
        // finish that pair with a waived 2-slot rep when a clean one
        // plausibly fits the wall; otherwise (or if that still fails)
        // fall back to a fresh minimal 100-site round
        val withT8 = best.keys.collect { case (8, n) => n }.toSeq.sorted
        withT8.find(n => 3.2 * best((8, n))._2 < remaining + 15.0)
          .foreach { n =>
            System.err.println(s"[bench] LAST RESORT: waived 2-slot rep " +
              s"to complete the existing 8-slot leg at $n sites")
            measure(2, n, waiveDeadline = true)
          }
        if (!pairDone && remaining > 40.0) {
          // the >40s guard: with the wall already (nearly) blown, a fresh
          // round is pure reaper fodder — r6 run 2 launched one at
          // remaining ≤ 0 and pushed elapsed to 537 s against the
          // driver's ~600 s kill for zero data
          val minimal = math.min(100, scale)
          System.err.println(s"[bench] LAST RESORT: no complete (2,8) pair " +
            s"— one un-deadlined $minimal-site round (reaper-bounded)")
          measure(8, minimal, waiveDeadline = true)
          measure(2, minimal, waiveDeadline = true)
          if (best.contains((8, minimal))) measuredSites = minimal
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] crawl phase failed: ${e.getMessage}")
    }
    try spark.stop() catch { case _: Throwable => }

    // report the complete scale with the highest 8-slot throughput: CPU
    // steal only ever deflates throughput, so max-throughput selection
    // picks the least-stolen complete dataset — and on a quiet machine
    // the largest scale wins anyway (the floor amortizes). Scales whose
    // 2-vs-8 ratio is outside physical bounds are preferred AGAINST: a
    // smaller physical measurement beats a larger one whose 2-slot reps
    // all drowned in a steal storm (the efficiency there is garbage).
    val completeScales = best.keys.map(_._2).toSeq.distinct
      .filter(s => best.contains((8, s)) && best.contains((2, s)))
    def isPhysicalScale(s: Int): Boolean = {
      val t2v = best((2, s))._2
      val t8v = best((8, s))._2
      t2v >= t8v && t2v <= 4.5 * t8v
    }
    val reportPool = {
      val phys = completeScales.filter(isPhysicalScale)
      if (phys.nonEmpty) phys else completeScales
    }
    val reportSites = reportPool
      .sortBy(s => -(best((8, s))._1.toDouble / best((8, s))._2))
      .headOption.getOrElse(measuredSites)
    measuredSites = reportSites
    val (n2, s2) = best.getOrElse((2, reportSites), (0L, 0.0))
    val (n8, s8) = best.getOrElse((8, reportSites), (0L, 0.0))
    val (n32, s32) = best.getOrElse((32, reportSites), (0L, 0.0))
    val tput2 = if (s2 > 0) n2 / s2 else 0.0
    val tput8 = if (s8 > 0) n8 / s8 else 0.0
    val tput32 = if (s32 > 0) n32 / s32 else 0.0
    val efficiency = if (tput2 > 0) (tput8 / tput2) / 4.0 else 0.0
    val efficiency32 = if (tput8 > 0) (tput32 / tput8) / 4.0 else 0.0
    // self-describing honesty: ratios outside physical bounds mean a
    // steal burst survived min-of-reps — the number is not load-bearing
    // the flag covers the headline pair only — the supplementary 32-slot
    // level (SMT-confounded and lowest-priority for retries) is excluded
    val physical = s2 > 0 && s8 > 0 && s2 >= s8 && s2 <= 4.5 * s8

    val qs = times.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val cancelsJson = cancelLedger.map { case (sl, n, dl, ran) =>
      f"""{"slots":$sl,"sites":$n,"deadline_s":$dl%.1f,"ran_s":$ran%.1f}"""
    }.mkString("[", ",", "]")
    val recalsJson = recalRates.map(r => f"$r%.1f").mkString("[", ",", "]")
    // every per-scale min-time, for transparency
    val scalesJson = best.keys.map(_._2).toSeq.distinct.sorted.map { sc =>
      val levels = Seq(2, 8, 32).flatMap(sl =>
        best.get((sl, sc)).map(v => f""""t$sl":${v._2}%.2f"""))
      s""""$sc":{${levels.mkString(",")}}"""
    }.mkString("{", ",", "}")
    println(
      f"""{"metric":"sustained_fetch_dedup_urls_per_sec","value":$tput8%.1f,"unit":"urls/sec","queries":$qs,"sf":"$sfDir","budget_s":$budgetS%.0f,"elapsed_s":$elapsed%.1f,"crawl_scaling":{"scales":$scalesJson,"protocol":"task-slot counts emulate executor count in one local[$cpus] JVM; up to $reps interleaved reps per level inside the wall budget, min-time kept (sandbox CPU-steal filtering)","sites":$measuredSites,"slots_n":2,"slots_4n":8,"urls":$n8,"sec_n":$s2%.2f,"urls_per_sec_n":$tput2%.1f,"sec_4n":$s8%.2f,"urls_per_sec_4n":$tput8%.1f,"scaling_efficiency_n_to_4n":$efficiency%.3f,"physical":$physical,"calibration_urls_per_sec":$calibRateOut%.1f,"storm_calibration":$stormCalibrationOut,"recalibrations":$recalsJson,"cancelled":$cancelsJson,"last_resort":$lastResortUsed,"slots_32_sec":$s32%.2f,"urls_per_sec_32":$tput32%.1f,"efficiency_8_to_32_smt_capped":$efficiency32%.3f},"pipeline_scaling":{"protocol":"Spark-free fetch+parse on plain threads, 8000 pages","pages_per_sec_2t":$pps2%.1f,"pages_per_sec_8t":$pps8%.1f,"efficiency_n_to_4n":$cpuEfficiency%.3f}}""")
  }
}
