package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Order-independent output digest: the row count plus the wrapping sum of
  * one 64-bit hash per row. Addition commutes, so neither row order nor
  * partitioning changes it, while a changed, missing or duplicated row
  * does. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(':')
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Combine per-row hashes; the same multiset gives the same digest. */
  def ofHashes(hashes: Iterator[Long]): Digest = {
    var n = 0L
    var sum = 0L
    hashes.foreach { h => n += 1; sum += h }
    Digest(n, sum)
  }

  private def rowHash(df: DataFrame) = xxhash64(df.columns.map(col): _*)

  /** Digest of `df` computed by a job of its own. */
  def of(df: DataFrame): Digest = {
    import df.sparkSession.implicits._
    val parts = df.select(rowHash(df)).as[Long]
      .mapPartitions { it =>
        val d = ofHashes(it)
        Iterator((d.rows, d.hash))
      }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** `df` with the digest riding its next action as an observed metric,
    * so a timed write produces the digest without a second pass. The sum
    * is exact in decimal and wrapped to 64 bits afterwards. */
  def observed(df: DataFrame): (DataFrame, () => Digest) = {
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("hash"))
    (out, () => {
      val m = obs.get
      val sum = m("hash").asInstanceOf[java.math.BigDecimal].toBigInteger
      Digest(m("rows").asInstanceOf[Long], sum.longValue)
    })
  }
}
