package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ml.{Ann, Dedup}

/** `dedup_corpus`: the near-duplicate queries over a fixed corpus, each
  * into the `noop` sink. Only `ml/Dedup` and `ml/Ann` run; no crawl code.
  * A rep runs q17, q25 and q27: q17 has no connected components, q25 and
  * q27 share their edges but not their components algorithm. The four
  * sketch queries run as one operation in traced mode only, warm and
  * then timed. */
final class DedupCorpus(env: Env, docs: Int, vecs: Int) extends Workload {
  private val PlantedOffset = 1000000000L
  private lazy val dir = env.freshDir("corpus")
  private val ops = Seq(
    "q17_s" -> Seq("q17_ngram_jaccard"),
    "q25_s" -> Seq("q25_dedup_clusters"),
    "q27_s" -> Seq("q27_dedup_clusters_star"))
  private val sketchOps = Seq("sketch_dedup_s" -> Seq("q15_minhash_lsh",
    "q16_simhash", "q24_embed_neardup", "q28_ann_sketch"))

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(env.spark, dir.toString)

  def prepare(): Unit = Corpus.write(env.spark, dir, env.seed, docs, vecs)
  val warmReps = 1

  /** Runs each operation once, checked; returns the seconds of those that
    * ran and the digest of every query output. */
  private def run(tr: Tracer, out: Outcome, ops: Seq[(String, Seq[String])])
      : (Seq[(String, Double)], Map[String, Digest]) = {
    val digests = scala.collection.mutable.Map[String, Digest]()
    val times = ops.flatMap { case (op, queries) =>
      out.op(op) {
        tr.op(op) {
          queries.map { q =>
            tr.span(q) {
              val (df, digest) = Digest.observed(query(q))
              // q17 also counts its planted (id, id + 10^9) pairs
              val planted = Observation()
              val counted =
                if (q != "q17_ngram_jaccard") df
                else df.observe(planted, sum(when(
                  col("id_b") === col("id_a") + lit(PlantedOffset), 1L)
                  .otherwise(0L)).as("n"))
              counted.write.format("noop").mode("overwrite").save()
              (q, digest(),
                if (q == "q17_ngram_jaccard") Some(planted.get("n")) else None)
            }
          }
        }
      } { ds =>
        ds.flatMap { case (q, d, planted) =>
          digests(q) = d
          env.digests.check(q, d) ++ planted.collect {
            case n: java.lang.Long if n != 3L =>
              s"$n of the 3 planted pairs in q17"
          }
        }
      }.map { case (_, s) => op -> s }
    }
    (times, digests.toMap)
  }

  def rep(tr: Tracer, out: Outcome): Seq[(String, Double)] = {
    val (times, digests) = run(tr, out, ops)
    (digests.get("q25_dedup_clusters"), digests.get("q27_dedup_clusters_star"))
    match {
      case (Some(a), Some(b)) => out.check("q25_labels_equal_q27") {
          if (a != b) Seq(s"q25 labels $a != q27 labels $b") else Nil
        }
      case _ =>
    }
    if (times.length == ops.length) times :+ ("rep_s" -> times.map(_._2).sum)
    else Nil
  }

  def detail(m: Map[String, Double]): Map[String, Double] =
    m.filter { case (k, _) => ops.exists(_._1 == k) }

  def layers(tr: Tracer, listener: SpanListener, out: Outcome,
      reps: Seq[Map[String, Double]]): Map[String, Double] = {
    val spark = env.spark
    // a warm pass first, as the timed reps had
    run(new Tracer(None), out, sketchOps)
    val (sketch, _) = run(tr, out, sketchOps)
    // the q25 input: the even-id half of the corpus plus its planted copies
    val all = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val half = all.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val planted = half.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(PlantedOffset))
      .withColumn("text", concat(col("text"), lit(" appended")))
    val docsDf = half.unionByName(planted).persist()
    docsDf.count()
    val nodes = docsDf.select(col("doc_id").as("id"))
    var edges: DataFrame = null
    val (pairs, jac) = tr.timed("dedup.jaccard_pairs") {
      edges = Dedup.exactJaccardPairs(docsDf, "doc_id", "text", n = 3,
        threshold = 0.6).persist()
      edges.count()
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (_, nm) = tr.timed("dedup.cc_neighbor_min") {
      noop(Dedup.connectedComponents(nodes, edges))
    }
    val (_, star) = tr.timed("dedup.cc_star") {
      noop(Dedup.connectedComponentsStar(nodes, edges))
    }
    edges.unpersist(); docsDf.unpersist()
    // the sketch queries left their bucket stats behind
    val dropped = Seq("minhash-lsh", "simhash", "embed-neardup")
      .flatMap(Dedup.droppedBuckets).map(_._1).sum
    val emb = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
    var idx: DataFrame = null
    val (_, index) = tr.timed("ann.sketch_index") {
      idx = Ann.sketchIndex(emb, "vec_id", "embedding").persist()
      idx.count()
    }
    val (_, topk) = tr.timed("ann.sketch_topk") {
      noop(Ann.sketchTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", k = 5, index = Some(idx)))
    }
    idx.unpersist()
    val jacCost = listener.of(jac.id)
    def secs(sp: Span) = sp.durNs / 1e9
    // the traced reps' query spans: wall time, as the replays measure
    def median(q: String) = Stats.median(tr.all.filter(_.name == q).map(secs))
    sketch.toMap ++ Map(
      "dedup.jaccard_pairs_s" -> secs(jac),
      "dedup.jaccard_pairs" -> pairs.toDouble,
      "dedup.jaccard_shuffle_bytes" -> jacCost.shuffleWriteBytes.toDouble,
      "dedup.jaccard_task_skew" -> jacCost.taskSkew,
      "dedup.cc_neighbor_min_s" -> secs(nm),
      "dedup.cc_neighbor_min_jobs" -> listener.of(nm.id).jobs.toDouble,
      "dedup.cc_star_s" -> secs(star),
      "dedup.cc_star_jobs" -> listener.of(star.id).jobs.toDouble,
      "dedup.lsh_dropped_buckets" -> dropped.toDouble,
      "ann.sketch_index_s" -> secs(index),
      "ann.sketch_topk_s" -> secs(topk),
      "share.ml" -> (2 * secs(jac) + secs(nm) + secs(star)) /
        (median("q25_dedup_clusters") + median("q27_dedup_clusters_star")))
  }
}
