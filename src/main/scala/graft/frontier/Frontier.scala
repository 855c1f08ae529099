package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.url.UrlKit

/** Frontier-table operators: admission, salted priority dequeue (W2),
  * per-host budgets (J-3). All pure DataFrame transforms — the dequeue is
  * a deterministic function of (frontier state, config), never of task
  * completion order, so crawl order replays exactly.
  */
object Frontier {

  /** The values of a frontier row's `state` column. */
  val StatePending = "pending"
  val StateFetched = "fetched"
  val StateFailed = "failed"
  val StateExcluded = "excluded"

  /** The deterministic dequeue order: ties never depend on partitioning. */
  private def dequeueOrder: Seq[Column] =
    Seq(desc("priority"), col("discovered_at"), col("url_hash"), col("url"))

  val cleanUdf = udf((url: String) => UrlKit.cleanedLink(url).orNull)

  /** Canonicalize + admission-filter raw links → frontier-shaped rows.
    * `host_hash_salted` salts a host over `saltBuckets` values; stores
    * carry the column, but the crawl's fetch exchange computes its own
    * partition id from `host_hash` and `url_hash`. The dequeue below
    * treats a host as one budget unit. The per-link hot
    * path runs as native codegen expressions (graft.functions), not
    * ScalaUDFs — no encoder round-trip, stays in whole-stage codegen. */
  def admit(rawLinks: DataFrame, depth: Column, batchTime: Column,
      saltBuckets: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(rawLinks.sparkSession)
    rawLinks
      .withColumn("url", expr("url_admit(url)"))
      .filter(col("url").isNotNull)
      // hash BEFORE the dedup and dedup on (url_hash, url): url_hash is
      // a pure function of url, so the distinct set is unchanged — but
      // the dedup's exchange is now keyed exactly like every downstream
      // seen-set/redirect anti-join (url_hash, url), so those joins
      // reuse this partitioning instead of re-shuffling the candidate
      // links (guide §2.4: two operations keyed the same way share one
      // exchange)
      .withColumn("url_hash", xxhash64(col("url")))
      .dropDuplicates("url_hash", "url")
      .withColumn("host", expr("url_domain_only(url)"))
      .withColumn("host_hash", xxhash64(col("host")))
      .withColumn("host_hash_salted",
        xxhash64(col("host"), pmod(col("url_hash"), lit(saltBuckets))))
      .withColumn("depth", depth)
      .withColumn("priority", lit(0.0))
      .withColumn("discovered_at", batchTime)
      .withColumn("state", lit(StatePending))
      .withColumn("tries", lit(0))
      .withColumn("not_before", lit(null).cast("timestamp"))
  }

  /** W2: salted per-host top-k dequeue in `dequeueOrder`. Returns rows to
    * fetch this batch. */
  def dequeue(frontier: DataFrame, batchTime: Column,
      perHostBudget: Int): DataFrame = {
    val eligible = frontier
      .filter(col("state") === StatePending)
      .filter(col("not_before").isNull || col("not_before") <= batchTime)
    val w = Window.partitionBy("host").orderBy(dequeueOrder: _*)
    eligible
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perHostBudget)
      .drop("rn")
  }

  /** Global deterministic sequence for the crawl log: one number per batch
    * in `dequeueOrder`. Implemented as a parallel range-partitioned sort +
    * zipWithIndex — a global `row_number()` window would drag every row
    * through one partition. */
  def withCrawlSeq(dequeued: DataFrame): DataFrame = {
    val spark = dequeued.sparkSession
    val sorted = dequeued.orderBy(dequeueOrder: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType, nullable = false))
    val rows = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(rows, schema)
  }
}
