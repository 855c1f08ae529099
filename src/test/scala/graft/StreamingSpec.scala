package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.http.Statuses
import graft.streaming.CrawlMetricsStream
import graft.streaming.CrawlMetricsStream.{BudgetAlert, FetchEvent}

/** Structured-Streaming crawl telemetry: watermarked windowed metrics and
  * the stateful per-host budget watch (§2.10 streaming mapping). */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(minute: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse(f"2024-01-01T10:$minute%02d:00Z"))

  test("windowed metrics aggregate per host under a watermark") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val query = CrawlMetricsStream
      .windowedMetrics(input.toDF(), watermark = "10 minutes",
        windowLen = "5 minutes")
      .writeStream.format("memory").queryName("metrics")
      .outputMode("update").start()
    // failures are what the crawl's own rollup counts (Statuses.invalidCol):
    // 404 and 604 (timeout) fail, 403 and 429 do not
    input.addData(
      FetchEvent("https://a.test/1", "a.test", 200, 10L, ts(0)),
      FetchEvent("https://a.test/2", "a.test", 404, 30L, ts(1)),
      FetchEvent("https://a.test/3", "a.test", 403, 20L, ts(1)),
      FetchEvent("https://b.test/1", "b.test", 200, 50L, ts(2)),
      FetchEvent("https://b.test/2", "b.test", 429, 70L, ts(3)),
      FetchEvent("https://b.test/3", "b.test", 604, 90L, ts(4)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("metrics").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("fetches"),
        r.getAs[Long]("failures"), r.getAs[Double]("avg_crawl_time_ms")))
      .toSet
    assert(rows == Set(("a.test", 3L, 1L, 20.0), ("b.test", 3L, 1L, 70.0)))
  }

  test("readStream file source over committed crawl_log snapshots (e2e)") {
    // the production wiring (r3 VERDICT #8): a durable-mode crawl commits
    // crawl_log snapshots; the telemetry job readStreams those files and
    // must reproduce the batch rollup exactly. Also exercises
    // SnapshotStore.verify on the freshly committed snapshot and on a
    // tampered part file.
    import org.apache.spark.sql.functions._
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-snap").toString
    val store = new graft.store.SnapshotStore(root)
    val internet = graft.fetch.SyntheticInternet(
      graft.fetch.SyntheticConfig(seed = 42L, nSites = 2, pagesPerSite = 3,
        imagesPerSite = 1, itemsPerFeed = 2))
    new graft.crawl.CrawlLoop(spark, internet,
      graft.crawl.CrawlConfig(maxBatches = 2), Some(store))
      .run(Seq("https://site-0.test/"))
    val snap = store.latestSnapshot("crawl_log").get
    assert(store.verify("crawl_log", snap).isEmpty,
      "fresh snapshot must verify clean")

    val dataPath = f"$root/crawl_log/snap-$snap%06d/data"
    def withEventTime(df: org.apache.spark.sql.DataFrame) = df.withColumn(
      "event_time",
      (unix_timestamp(lit("2024-01-01 00:00:00")) + col("batch") * 60)
        .cast("timestamp"))
    val schema = spark.read.parquet(dataPath).schema
    val stream = withEventTime(
      spark.readStream.schema(schema).parquet(dataPath))
    val query = CrawlMetricsStream.windowedMetrics(stream)
      .writeStream.format("memory").queryName("snap_metrics")
      .outputMode("complete").start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("snap_metrics").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("fetches"),
        r.getAs[Long]("failures"))).toSet
    val batch = withEventTime(spark.read.parquet(dataPath))
      .groupBy(window(col("event_time"), "5 minutes"), col("host"))
      .agg(count(lit(1)).as("fetches"),
        sum(when(Statuses.invalidCol(col("status")), 1).otherwise(0))
          .as("failures"))
      .collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("fetches"),
        r.getAs[Long]("failures"))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed $streamed != batch $batch")

    // tamper: appending bytes to a part file must fail verification
    val part = new java.io.File(dataPath).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.write(part.toPath, Array[Byte](0x42),
      java.nio.file.StandardOpenOption.APPEND)
    val problems = store.verify("crawl_log", snap)
    assert(problems.exists(_.contains("size mismatch")), problems.toString)
  }

  test("politeness alerts fire once when a host crosses its budget") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val query = CrawlMetricsStream
      .politenessAlerts(input.toDS(), budget = 2)
      .writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    // batch 1: under budget — no alert
    input.addData(
      FetchEvent("https://a.test/1", "a.test", 200, 1L, ts(0)),
      FetchEvent("https://a.test/2", "a.test", 200, 1L, ts(1)))
    query.processAllAvailable()
    assert(spark.table("alerts").count() == 0)
    // batch 2: third+fourth fetch cross the budget of 2 — exactly one alert
    input.addData(
      FetchEvent("https://a.test/3", "a.test", 200, 1L, ts(2)),
      FetchEvent("https://a.test/4", "a.test", 200, 1L, ts(3)),
      FetchEvent("https://b.test/1", "b.test", 200, 1L, ts(3)))
    query.processAllAvailable()
    val alerts = spark.table("alerts").as[BudgetAlert].collect().toSeq
    assert(alerts == Seq(BudgetAlert("a.test", 4L, 2)))
    // batch 3: already over budget — no duplicate alert
    input.addData(FetchEvent("https://a.test/5", "a.test", 200, 1L, ts(4)))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("alerts").count() == 1)
  }

  test("streaming first-occurrence filter dedups url_hash under watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CrawlMetricsStream.DiscoveredUrl
    val input = MemoryStream[DiscoveredUrl]
    val query = CrawlMetricsStream
      .firstOccurrences(input.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("firstseen")
      .outputMode("append").start()
    input.addData(
      DiscoveredUrl("https://a.test/1", 11L, ts(0)),
      DiscoveredUrl("https://a.test/2", 22L, ts(1)),
      DiscoveredUrl("https://a.test/1", 11L, ts(2))) // same-batch dup
    query.processAllAvailable()
    input.addData(
      DiscoveredUrl("https://a.test/1", 11L, ts(5)), // cross-batch dup
      DiscoveredUrl("https://a.test/3", 33L, ts(6)))
    query.processAllAvailable()
    query.stop()
    val seen = spark.table("firstseen").collect()
      .map(_.getAs[Long]("url_hash")).sorted.toSeq
    assert(seen == Seq(11L, 22L, 33L),
      s"each url_hash exactly once, got $seen")
  }
}
