package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the physical-plan shapes the 100 TB posture claims — regressions
  * here are silent performance cliffs, not wrong answers, so they need
  * their own assertions. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("rules LRU eviction is a TakeOrderedAndProject, not a global sort") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val rules = (1 to 500).map(i => (s"host-$i", s"txt$i", 200, i % 7))
      .toDF("host", "robots_txt", "robots_status", "fetched_batch")
    val evict = rules
      .orderBy(col("fetched_batch").desc, col("host").desc)
      .limit(100)
    val plan = planOf(evict)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort leaked into eviction:\n$plan")
  }

  test("frontier dequeue budget is a WindowGroupLimit, host-partitioned") {
    import spark.implicits._
    val pending = (1 to 200).map(i =>
      (s"u$i", i.toLong, s"host-${i % 9}", 0.0,
        new java.sql.Timestamp(0L), "pending",
        null.asInstanceOf[java.sql.Timestamp]))
      .toDF("url", "url_hash", "host", "priority", "discovered_at",
        "state", "not_before")
    val dq = graft.frontier.Frontier.dequeue(pending, lit(
      new java.sql.Timestamp(60000L)), perHostBudget = 5)
    val plan = planOf(dq)
    assert(plan.contains("WindowGroupLimit"), plan)
    // the window is partitioned — never the r2 "No Partition Defined"
    assert(!plan.contains("No Partition Defined"), plan)
  }

  test("robots gate joins the rules as a broadcast, never a shuffle") {
    import spark.implicits._
    val batch = (1 to 300).map(i => (s"u$i", s"host-${i % 40}"))
      .toDF("url", "host")
    val rules = (1 to 40).map(i => (s"host-$i", s"txt$i"))
      .toDF("host", "robots_txt")
    val gated = batch.join(broadcast(rules), Seq("host"), "left")
    val plan = planOf(gated)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("IVF centroid sample is a TakeOrderedAndProject, not a global sort") {
    // a range source, not a local Seq: the optimizer would fold a filter
    // over a LocalRelation away before planning
    def corpus(s: SparkSession) = s.range(1024).select(
      col("id").cast("int").as("id"),
      array(col("id").cast("float"), lit(1f)).as("v"))
    val nCells = 8
    // ~16 of 1,024 ids pass the 1/64 hash prefilter — enough for nCells,
    // so centroids runs only the prefiltered top-k, never its fallback
    val kept = corpus(spark)
      .filter(pmod(xxhash64(col("id")), lit(64)) === 0).count()
    assert(kept >= nCells, s"prefilter kept $kept < $nCells rows")
    // a child session owns its listener manager, so only the centroids
    // query reaches the listener
    val session = spark.newSession()
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]()
    session.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    val cents = graft.ml.Ann.centroids(corpus(session), "id", "v", nCells)
    assert(cents.length == nCells)
    // the listener is called asynchronously from the listener bus
    val plan = plans.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    assert(plan != null, "no executed plan reported within 60 s")
    assert(plan.contains("pmod"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort leaked into centroid sampling:\n$plan")
  }
}
