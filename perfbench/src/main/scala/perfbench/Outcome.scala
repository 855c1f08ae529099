package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Counts operations and their failures. An operation fails when it
  * throws or when any check of its output fails. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer[String]()

  /** Runs `body` once, timed; then `checks` on its value, untimed. Returns
    * the value and the seconds `body` took less steal (see [[Steal]]), or
    * None if it threw. */
  def op[T](name: String)(body: => T)(checks: T => Seq[String])
      : Option[(T, Double)] = {
    attempted += 1
    val (value, wall, stolen) = Steal.timed {
      try Some(body)
      catch { case NonFatal(e) => fail(s"$name threw $e"); None }
    }
    val secs = wall * (1 - stolen)
    value.map { v =>
      val bad =
        try checks(v)
        catch { case NonFatal(e) => Seq(s"check threw $e") }
      if (bad.nonEmpty) fail(s"$name: ${bad.mkString("; ")}")
      (v, secs)
    }
  }

  /** A check made outside any timed operation counts as its own op. */
  def check(name: String)(bad: => Seq[String]): Unit = {
    op(name)(())(_ => bad)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (problems.length < 20) problems += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** Expected output digests, one `workload<TAB>seed<TAB>output<TAB>digest`
  * per line; seed `*` pins a digest for every seed. An output with no pin
  * for the run's seed is held to the digest of its first computation. */
final class Digests(lines: Seq[String], workload: String, seed: Long) {
  private val pinned: Map[String, Digest] = lines
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    .map(_.split("\t"))
    .collect { case Array(w, s, out, d)
      if w == workload && (s == "*" || s == seed.toString) =>
        out -> Digest.parse(d) }
    .toMap
  private val seen = mutable.Map[String, Digest]()

  /** Problems with `got` as the digest of `output`. */
  def check(output: String, got: Digest): Seq[String] = {
    if (Digests.print)
      System.err.println(s"[perfbench] digest\t$workload\t$seed\t$output\t$got")
    val want = pinned.get(output).orElse(seen.get(output))
    seen.getOrElseUpdate(output, got)
    want.filter(_ != got).map(w => s"$output digest $got, expected $w").toSeq
  }
}

object Digests {
  @volatile var print = false

  def load(path: String, workload: String, seed: Long): Digests = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try new Digests(src.getLines().toList, workload, seed)
    finally src.close()
  }
}
