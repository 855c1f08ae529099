package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's entry point:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   [--work-dir <dir>] [--digests <file>] [--print-digests]
  * }}}
  * Runs one workload closed loop (one caller; each operation starts when
  * the previous one returns) for `--seconds`, checks every output, and
  * prints one JSON object as the last line of stdout. `--trace 0` reports
  * the end-to-end metrics; `--trace 1` the per-layer metrics, from spans
  * around every call the benchmark makes and a listener that attributes
  * engine work to them. A detail line before it carries every figure with
  * its sample count. Spark runs `local[n]`, `n` being the CPUs the JVM
  * may use. */
object Main {

  val Workloads = Seq("crawl_wide", "dedup_corpus")

  // fixed input sizes; see README.md for how they were chosen
  val WideShape = CrawlShape(sites = 20, pagesPerSite = 60,
    bodyParagraphs = 120, perHostBudget = 100, durable = false,
    seedPages = true)
  val DurableShape = CrawlShape(sites = 20, pagesPerSite = 20,
    bodyParagraphs = 0, perHostBudget = 6, durable = true)
  val CorpusDocs = 300
  val CorpusVecs = 300
  /** Reps a run times at least; it reports their median. */
  val MinReps = 3


  /** Per-layer metric names with units, as `--trace 1` prints them. A
    * layer a workload does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "fetch.calls" -> "count", "fetch.us_per_call" -> "us",
    "fetch.synthetic_us_per_call" -> "us", "fetch.errors" -> "count",
    "parse.us_per_call" -> "us",
    "links.us_per_call" -> "us", "links.per_page" -> "count",
    "robots.allows_us_per_call" -> "us", "robots.miss_ratio" -> "ratio",
    "url.admit_us_per_call" -> "us",
    "frontier.admit_s" -> "s", "frontier.admit_jobs" -> "count",
    "frontier.admit_shuffle_bytes" -> "bytes",
    "frontier.dequeue_s" -> "s", "frontier.dequeue_jobs" -> "count",
    "frontier.dequeue_shuffle_bytes" -> "bytes",
    "seen.filter_bloom_s" -> "s", "seen.filter_exact_s" -> "s",
    "seen.bloom_bypass_ratio" -> "ratio", "seen.new_link_ratio" -> "ratio",
    "store.commit_s" -> "s", "store.read_verify_s" -> "s",
    "store.bytes_per_url" -> "bytes", "store.snapshots" -> "count",
    "crawl.jobs_per_batch" -> "count", "crawl.stages_per_batch" -> "count",
    "crawl.task_time_s" -> "s", "crawl.task_skew" -> "ratio",
    "crawl.shuffle_write_bytes" -> "bytes", "crawl.spill_bytes" -> "bytes",
    "crawl.gc_s" -> "s",
    "dedup.jaccard_pairs_s" -> "s", "dedup.jaccard_pairs" -> "count",
    "dedup.jaccard_shuffle_bytes" -> "bytes",
    "dedup.jaccard_task_skew" -> "ratio",
    "dedup.cc_neighbor_min_s" -> "s", "dedup.cc_neighbor_min_jobs" -> "count",
    "dedup.cc_star_s" -> "s", "dedup.cc_star_jobs" -> "count",
    "dedup.lsh_dropped_buckets" -> "count",
    "ann.sketch_index_s" -> "s", "ann.sketch_topk_s" -> "s",
    "share.row_layers" -> "ratio", "share.ml" -> "ratio",
    "trace.overhead" -> "ratio", "trace.spans" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: Path, digests: String,
      printDigests: Boolean)

  def parseArgs(args: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument $a")
      if (a == "--print-digests") { flags += a; i += 1 }
      else {
        require(i + 1 < args.length, s"$a needs a value")
        kv(a.drop(2)) = args(i + 1)
        i += 2
      }
    }
    val w = kv.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w),
      s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, kv.getOrElse("seed", "42").toLong,
      kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1",
      Paths.get(kv.getOrElse("work-dir", ".bench_build/perfbench/work"))
        .toAbsolutePath,
      kv.getOrElse("digests", "perfbench/digests.tsv"),
      flags.contains("--print-digests"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val steal0 = Steal.sample()
    val a = parseArgs(argv)
    Digests.print = a.printDigests
    val digests = Digests.load(a.digests, a.workload, a.seed)
    val tmp = a.workDir.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(tmp)
    val slots = Runtime.getRuntime.availableProcessors()
    val env = new Env(Env.session(slots, tmp), a.seed, tmp, slots, digests)
    val line =
      try run(a, env, jvmStartMs, steal0)
      finally {
        env.spark.stop()
        Env.deleteTree(tmp)
      }
    println(line)
  }

  private def workloadFor(a: Args, env: Env): Workload = a.workload match {
    case "crawl_wide"    => new CrawlWide(env, WideShape, DurableShape)
    case "dedup_corpus"  => new DedupCorpus(env, CorpusDocs, CorpusVecs)
  }

  private def run(a: Args, env: Env, jvmStartMs: Long,
      steal0: Steal.Sample): String = {
    val w = workloadFor(a, env)
    val out = new Outcome
    val listener = new SpanListener
    val sc = env.spark.sparkContext
    if (a.trace) sc.addSparkListener(listener)
    val off = new Tracer(None)
    val on = new Tracer(if (a.trace) Some(sc) else None)

    // set-up: session (already up), inputs, warm rep
    def mark(what: String): Unit = System.err.println(f"[perfbench] $what at " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s")
    mark("session up")
    w.prepare()
    mark("inputs ready")
    (1 to w.warmReps).foreach(_ => w.rep(off, out))
    mark("warm-up done")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 *
      (1 - Steal.share(steal0, Steal.sample()))
    // traced mode reports no set-up time; one more untraced rep keeps the
    // slower first timed rep out of the ABBA pairs below
    if (a.trace) w.rep(off, out)

    // the timed window: reps until the next would overrun it; in traced
    // mode traced and untraced reps alternate (ABBA), for the overhead
    val minReps = if (a.trace) 4 else MinReps
    val reps = mutable.ArrayBuffer[Rep]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastRep = 0.0
    var attempts = 0
    while (attempts < minReps || elapsed + lastRep <= a.seconds) {
      val traced = a.trace && (attempts % 4 == 1 || attempts % 4 == 2)
      attempts += 1
      val (ops, wall, stolen) = Steal.timed(w.rep(if (traced) on else off, out))
      lastRep = wall
      System.err.println(f"[perfbench] rep $attempts%d: wall $wall%.3f s, " +
        f"${stolen * 100}%.1f %% stolen" + (if (traced) ", traced" else ""))
      if (ops.nonEmpty) reps += Rep(traced, ops.toMap, wall, stolen)
    }
    val untraced = reps.filter(!_.traced)
    val repS = untraced.map(_.ops("rep_s")).toSeq
    require(repS.nonEmpty && (!a.trace || reps.exists(_.traced)),
      s"no rep succeeded in the timed window: ${out.problems.mkString("; ")}")
    val opMaps = untraced.map(_.ops).toSeq

    val layerMetrics =
      if (!a.trace) Map.empty[String, Double]
      else {
        org.apache.spark.BenchAccess.drainListeners(sc)
        val traced = reps.filter(_.traced)
        val m = w.layers(on, listener, out, opMaps)
        // a workload may have replaced the session; stopping drains it
        if (!sc.isStopped) org.apache.spark.BenchAccess.drainListeners(sc)
        writeSpans(a, on, listener)
        m ++ Map(
          "trace.overhead" -> (Stats.median(traced.map(_.ops("rep_s")).toSeq) /
            Stats.median(repS) - 1.0),
          "trace.spans" -> on.all.length.toDouble)
      }

    val medians = opMaps.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(opMaps.flatMap(_.get(k)))).toMap
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) PerLayer.map { case (n, u) =>
        (n, layerMetrics.getOrElse(n, 0.0), u) }
      else Seq(("rep_s", Stats.median(repS), "s"), ("setup_s", setupS, "s"))

    val detail: Seq[(String, Any)] = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "slots" -> env.slots,
      "trace" -> a.trace,
      "rep_s" -> Json.obj(Stats.summary(repS).fields :+ ("samples" -> repS)),
      "rep_wall_s" -> untraced.map(_.wallS).toSeq,
      "rep_stolen_share" -> untraced.map(_.stolen).toSeq,
      "ops" -> Json.obj(opMaps.flatMap(_.keys).distinct.map(k =>
        k -> Json.obj(Stats.summary(opMaps.flatMap(_.get(k))).fields))),
      "figures" -> Json.obj((w.detail(medians) ++
        layerMetrics.filter { case (k, _) => !PerLayer.exists(_._1 == k) })
        .toSeq),
      "error_rate" -> out.failed.toDouble / math.max(out.attempted, 1),
      "peak_rss_mb" -> peakRssMb(),
      "problems" -> out.problems.toSeq)
    println(Json.render(Json.obj(Seq("detail" -> Json.obj(detail)))))
    Json.render(Json.obj(Seq(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) }))))
  }

  /** One timed rep: its operations' figures, its wall seconds and the
    * stolen share of the CPU time wanted over it. */
  private final case class Rep(traced: Boolean, ops: Map[String, Double],
      wallS: Double, stolen: Double)

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def writeSpans(a: Args, tr: Tracer, l: SpanListener): Unit = {
    val path = a.workDir.getParent
      .resolve(s"trace-${a.workload}-${a.seed}.json")
    val t0 = tr.all.map(_.startNs).foldLeft(Long.MaxValue)(math.min)
    val rows = tr.all.sortBy(_.startNs).map { s =>
      val c = l.of(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.traceId, "start_ms" -> (s.startNs - t0) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> tr.selfNs(s) / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_time_ms" -> c.taskMs.sum,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes))
    }
    Files.write(path, Json.render(rows).getBytes("UTF-8"))
    System.err.println(s"[perfbench] ${rows.length} spans written to $path")
  }
}

/** A minimal JSON writer: numbers keep every digit Scala prints. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: Seq[(String, Any)]): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${render(x)}" }
        .mkString("{", ", ", "}")
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in output")
      d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }
}
