package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed, a scratch directory
  * inside the checkout, and the pinned digests. */
final class Env(var spark: SparkSession, val seed: Long, val tmp: Path,
    val slots: Int, val digests: Digests) {

  def freshDir(prefix: String): Path = {
    Files.createDirectories(tmp)
    Files.createTempDirectory(tmp, prefix)
  }
}

object Env {
  def session(slots: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally stream.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val stream = Files.walk(p)
      try stream.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally stream.close()
    }
}

/** One named workload. A rep runs each of its operations once, closed
  * loop, and returns its figures: seconds per operation, `rep_s` (the
  * operations' total) and counts; nothing if an operation failed to run. */
trait Workload {
  /** Input generation (the part of set-up that belongs to the workload). */
  def prepare(): Unit
  /** Reps run before timing, as set-up: enough that the timed reps no
    * longer speed up as the JIT compiles more of the engine. */
  def warmReps: Int
  def rep(tr: Tracer, out: Outcome): Seq[(String, Double)]
  /** Traced mode: per-layer figures from spans, the listener and
    * single-threaded replays of the per-row layers, plus detail figures
    * (names that are not per-layer metrics). Runs once, after the reps. */
  def layers(tr: Tracer, listener: SpanListener, out: Outcome,
      reps: Seq[Map[String, Double]]): Map[String, Double]
  /** End-to-end detail figures derived from the reps' medians. */
  def detail(medians: Map[String, Double]): Map[String, Double]
}
