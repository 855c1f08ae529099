package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.http.Statuses

/** Structured-Streaming form of the crawl monitoring side (§2.10).
  *
  * The crawl loop itself is a deterministic batch micro-loop (state must
  * be inspectable snapshots, SURVEY §2.10); what genuinely *streams* at
  * cluster scale is its telemetry: fetch events flowing out of executors.
  * This module maps the A4 metrics rollup and the J-3 politeness budget
  * onto the streaming primitives:
  *
  *   - `windowedMetrics`: watermarked event-time windows → per-host
  *     fetch/failure/latency aggregates (append-mode safe, late events
  *     beyond the watermark dropped);
  *   - `politenessAlerts`: `flatMapGroupsWithState` keeping one running
  *     per-host counter with a processing-time timeout — emits an alert
  *     row the moment a host exceeds its budget inside the state window,
  *     the streaming analogue of the reference's per-domain rate concern
  *     (webtoolkit/request.py:31 delay_s; domaincache.py singleton).
  *
  * Inputs are any streaming Dataset with the crawl-log event shape —
  * `readStream` file source over the committed crawl_log snapshots, or a
  * MemoryStream in tests.
  */
object CrawlMetricsStream {

  final case class FetchEvent(
      url: String,
      host: String,
      status: Int,
      crawl_time_ms: Long,
      event_time: Timestamp)

  final case class HostBudgetState(fetches: Long)

  final case class BudgetAlert(host: String, fetches: Long, budget: Int)

  /** The A4 per-host rollup of fetch events — `fetches`,
    * `avg_crawl_time_ms`, `failures` — followed by `extra`; the crawl's
    * per-batch metrics and `windowedMetrics` both aggregate with it. */
  def hostRollup(events: RelationalGroupedDataset, extra: Column*): DataFrame =
    events.agg(count(lit(1)).as("fetches"),
      avg("crawl_time_ms").as("avg_crawl_time_ms") +:
        sum(when(Statuses.invalidCol(col("status")), 1).otherwise(0))
          .as("failures") +: extra: _*)

  /** Watermarked sliding-window per-host metrics (A4 as a stream). */
  def windowedMetrics(events: DataFrame, watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    hostRollup(events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("host")))

  /** Stateful per-host budget watch: one counter per host; emits one
    * alert per budget crossing. Pass a `stateTimeout` in production so
    * idle hosts age out (a processing-time timeout keeps the query
    * re-triggering to evaluate timeouts — leave it None for
    * drain-and-assert tests). */
  def politenessAlerts(events: Dataset[FetchEvent], budget: Int,
      stateTimeout: Option[String] = None): Dataset[BudgetAlert] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (stateTimeout.nonEmpty) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostBudgetState, BudgetAlert](
        OutputMode.Append(), timeoutConf) {
        (host: String, rows: Iterator[FetchEvent],
            state: GroupState[HostBudgetState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val before = state.getOption.map(_.fetches).getOrElse(0L)
            val after = before + rows.size
            state.update(HostBudgetState(after))
            stateTimeout.foreach(state.setTimeoutDuration)
            // alert exactly once, on the batch that crosses the budget
            if (before <= budget && after > budget)
              Iterator.single(BudgetAlert(host, after, budget))
            else Iterator.empty
          }
      }
  }

  final case class DiscoveredUrl(
      url: String, url_hash: Long, event_time: Timestamp)

  /** Streaming first-occurrence filter — J-1 as a stream. In a
    * continuous-ingest deployment, freshly extracted links stream in and
    * only first occurrences flow onward to the frontier writer;
    * `dropDuplicatesWithinWatermark` keys state by `url_hash` and ages it
    * out at the watermark horizon, so dedup state is bounded by the
    * horizon's URL volume instead of crawl history. Full-history
    * exactness stays the batch loop's job (the exact anti-join against
    * the seen table); this operator is the cheap streaming pre-filter in
    * front of it — the same two-tier contract as the Bloom accelerator. */
  def firstOccurrences(urls: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    urls
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("url_hash")
}
