package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Two-tier URL-seen dedup (J-1; SURVEY.md §2.5).
  *
  * The exact `left_anti` join on `url_hash`+`url` is the source of truth —
  * the north rule requires the seen set to match the reference exactly, so
  * the Bloom filter is only an accelerator: candidates the filter marks
  * "definitely new" skip the shuffle join entirely; "possibly seen" rows go
  * through the exact anti-join. At 10^10-URL scale the filter absorbs the
  * overwhelmingly-common case (a link never seen before) at ~zero shuffle
  * cost; false positives only cost a join probe, never correctness.
  *
  * The filter tier is one design: the url_hash-range-partitioned Bloom
  * below, populated by a task-side accumulator (one range is the
  * single-filter case). No cuckoo or other deletable filter is used, by
  * decision: a filter that supports deletes or expiry pays, in space and
  * probe cost, for *windowed* membership (Learned Cuckoo Filter for
  * sliding windows, SIGMOD 2023), and this seen set never expires — a
  * URL once seen stays seen for the life of the crawl. The one windowed
  * membership test in the engine, the streaming first-occurrence filter
  * (`CrawlMetricsStream.firstOccurrences`), uses watermark state instead.
  */
object SeenSet {

  /** Exact-only path: candidates not present in `seen`. */
  def filterNewExact(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(seen.select("url_hash", "url"), Seq("url_hash", "url"),
      "left_anti")

  /** Hash-range-partitioned Bloom: R independent filters, each owning the
    * url_hash range `pmod(h, R) == r` (replaces the single-filter
    * auto-disable caveat). Capacity scales linearly with R at constant
    * per-filter size and fpp (10^10 URLs / 4096 ranges ≈ 2.4M per filter
    * ≈ 3 MB at 1%), and accumulator merge traffic stays small because
    * allocation is lazy per range: a task tapping a hash-clustered slice
    * of the delta only materializes the few ranges it actually touched.
    *
    * What runs today: [[filterNewWithPartitionedBloom]] BROADCASTS the
    * whole array, so every task holds every range's filter, and the seen
    * table is not bucketed or co-partitioned by url_hash range. Placing
    * each range's filter where that range's probes run — the seen table
    * bucketed by the same range key, a task probing one resident filter
    * — is design-scale work that has not been built. */
  final class PartitionedBloom(val ranges: Int, val filters: Array[BloomFilter])
      extends Serializable {
    def rangeOf(h: Long): Int = (((h % ranges) + ranges) % ranges).toInt
    def mightContainLong(h: Long): Boolean = {
      val f = filters(rangeOf(h))
      f != null && f.mightContainLong(h)
    }
  }

  /** The partitioned filter built as a task-side accumulator: the crawl
    * loop taps every `url_hash` flowing through the seen-delta
    * checkpoint, so the filter is populated inside a job that runs
    * anyway — no separate `stat.bloomFilter` aggregation pass per batch.
    * Properties that make an accumulator safe here: inserts are
    * idempotent (task retries and speculative duplicates just re-set the
    * same bits) and the driver only reads the value between jobs, after
    * all task merges have landed. */
  final class PartitionedBloomAccumulator(ranges: Int, expectedTotal: Long,
      fpp: Double = 0.01)
      extends org.apache.spark.util.AccumulatorV2[Long, PartitionedBloom] {
    require(ranges >= 1, "ranges must be >= 1")
    private val perRange = math.max(1000L, expectedTotal / ranges)
    private var filters: Array[BloomFilter] = null
    private def rangeOf(h: Long): Int = (((h % ranges) + ranges) % ranges).toInt
    private def ensure(): Unit =
      if (filters == null) filters = new Array[BloomFilter](ranges)
    override def isZero: Boolean = filters == null
    override def copy(): PartitionedBloomAccumulator = {
      val c = new PartitionedBloomAccumulator(ranges, expectedTotal, fpp)
      if (filters != null) {
        c.ensure()
        var r = 0
        while (r < ranges) {
          if (filters(r) != null) {
            c.filters(r) = BloomFilter.create(perRange, fpp)
            c.filters(r).mergeInPlace(filters(r))
          }
          r += 1
        }
      }
      c
    }
    override def reset(): Unit = filters = null
    /** Task serialization calls copyAndReset on the DRIVER-side
      * instance; the default copy()+reset() would deep-copy the
      * accumulated filters (MBs) just to discard them — ship a fresh
      * empty accumulator instead. */
    override def copyAndReset(): PartitionedBloomAccumulator =
      new PartitionedBloomAccumulator(ranges, expectedTotal, fpp)
    override def add(h: Long): Unit = {
      ensure()
      val r = rangeOf(h)
      if (filters(r) == null) filters(r) = BloomFilter.create(perRange, fpp)
      filters(r).putLong(h)
    }
    private def mergeArray(other: Array[BloomFilter]): Unit = {
      ensure()
      var r = 0
      while (r < ranges) {
        if (other(r) != null) {
          if (filters(r) == null) filters(r) = BloomFilter.create(perRange, fpp)
          filters(r).mergeInPlace(other(r))
        }
        r += 1
      }
    }
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Long, PartitionedBloom]): Unit =
      o match {
        // task-side partials merge directly — no snapshot copy on the
        // per-task merge path
        case p: PartitionedBloomAccumulator if p.filters != null =>
          mergeArray(p.filters)
        case p: PartitionedBloomAccumulator => ()
        case other if !other.isZero => mergeArray(other.value.filters)
        case _ => ()
      }
    /** Snapshot (deep copy of the populated ranges) for broadcast. */
    override def value: PartitionedBloom = {
      ensure()
      val snap = new Array[BloomFilter](ranges)
      var r = 0
      while (r < ranges) {
        if (filters(r) != null) {
          snap(r) = BloomFilter.create(perRange, fpp)
          snap(r).mergeInPlace(filters(r))
        }
        r += 1
      }
      new PartitionedBloom(ranges, snap)
    }
  }

  /** The two-tier split against a partitioned filter: "definitely new"
    * skips the join, "possibly seen" is guarded by the exact anti-join, so
    * correctness never depends on the filter. `candidates` is read twice
    * — callers pass a materialized (persisted or checkpointed) frame and
    * own its lifecycle; persisting here would leak. */
  def filterNewWithPartitionedBloom(candidates: DataFrame, seen: DataFrame,
      bloom: PartitionedBloom): DataFrame = {
    val spark = candidates.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomBc.value.mightContainLong(h))
    val definitelyNew = candidates.filter(!mightContain(col("url_hash")))
    val possiblySeen = candidates.filter(mightContain(col("url_hash")))
    definitelyNew.unionByName(filterNewExact(possiblySeen, seen))
  }
}
