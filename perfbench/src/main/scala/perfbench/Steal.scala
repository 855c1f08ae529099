package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Try

/** Steal time: time a virtual machine's CPUs had work to run but the
  * hypervisor ran another guest instead. On a shared host it takes 0–30 %
  * of the CPUs' time and changes from minute to minute, so the same code
  * can take 1.5× as long from one run to the next. A CPU accrues steal
  * only while it has work, so of the CPU time the machine's work wanted
  * over an interval, `steal / (busy + steal)` was taken away, and the work
  * ran that much longer than it would have on CPUs of its own. Every
  * end-to-end time the benchmark reports is wall time less that share:
  * exact when one thread runs and when every CPU is busy. */
object Steal {
  /** `/proc/stat` counts in USER_HZ ticks, 100 a second on Linux. */
  private val TicksPerS = 100.0

  /** CPU seconds since boot, summed over the machine's CPUs. */
  final case class Sample(busyS: Double, stealS: Double)

  /** The busy (user, nice, system, irq, softirq) and steal seconds of the
    * `cpu` line of a `/proc/stat` text. */
  def parse(procStat: String): Sample =
    procStat.linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toDouble / TicksPerS))
      .filter(_.length >= 8)
      .map(f => Sample(f(0) + f(1) + f(2) + f(5) + f(6), f(7)))
      .getOrElse(Sample(0, 0))

  /** Now; all zero where `/proc/stat` is missing. */
  def sample(): Sample =
    Try(new String(Files.readAllBytes(Paths.get("/proc/stat")))).toOption
      .map(parse).getOrElse(Sample(0, 0))

  /** The share of the CPU time wanted between two samples that was stolen. */
  def share(from: Sample, to: Sample): Double = {
    val busy = to.busyS - from.busyS
    val steal = to.stealS - from.stealS
    if (busy + steal <= 0) 0.0 else steal / (busy + steal)
  }

  /** Runs `body`; returns its value, its wall seconds and the stolen
    * share over them. */
  def timed[T](body: => T): (T, Double, Double) = {
    val s0 = sample()
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9, share(s0, sample()))
  }
}
