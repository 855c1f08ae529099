package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** The dedup workload's input tables, `documents` and `embeddings`, in the
  * shape the dedup queries read. Their content is fixed (generated from a
  * constant), so output digests hold for every workload seed; the seed
  * only permutes row order and the number of files each table is split
  * into. */
object Corpus {
  private val ContentSeed = 42L
  private val Vocabulary = Array("a", "the", "data", "spark", "batch",
    "stream", "table", "query", "join", "sort", "merge", "hash", "scan",
    "filter", "group", "agg", "window", "row", "column", "key", "value",
    "line", "part", "order", "customer", "vector", "small", "big", "fast",
    "slow", "index", "page", "crawl", "link", "host", "fetch", "parse",
    "frontier", "seen", "store")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def documents(n: Int): Seq[Doc] = {
    val rnd = new SplittableRandom(ContentSeed)
    (0 until n).map { i =>
      val words = 20 + rnd.nextInt(80)
      val text = Iterator.fill(words)(Vocabulary(rnd.nextInt(Vocabulary.length)))
        .mkString(" ")
      Doc(i.toLong, text, "en", s"src-${i % 7}", text.length.toLong)
    }
  }

  def embeddings(n: Int, dim: Int = 64, labels: Int = 10): Seq[Vec] = {
    val rnd = new SplittableRandom(ContentSeed + 1)
    val centers = Array.fill(labels, dim)(rnd.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = i % labels
      val v = Array.tabulate(dim)(d =>
        (centers(label)(d) + (rnd.nextDouble() * 2 - 1)).toFloat)
      Vec(i.toLong, v, label)
    }
  }

  /** Fisher–Yates permutation of `xs` under `seed`. */
  def permuted[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    val rnd = new SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Writes `<dir>/documents.parquet` and `<dir>/embeddings.parquet`. */
  def write(spark: SparkSession, dir: Path, seed: Long, nDocs: Int,
      nVecs: Int): Unit = {
    import spark.implicits._
    val files = 1 + java.lang.Math.floorMod(seed, 4L).toInt
    spark.createDataset(permuted(documents(nDocs), seed))
      .coalesce(1).repartition(files)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    spark.createDataset(permuted(embeddings(nVecs), seed ^ 0x5DEECE66DL))
      .coalesce(1).repartition(files)
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }
}
