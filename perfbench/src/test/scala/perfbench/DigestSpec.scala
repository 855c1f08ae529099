package perfbench

import org.apache.spark.sql.functions._

class DigestSpec extends SparkSuite {

  test("combining hashes ignores their order") {
    val hs = Seq(5L, -3L, Long.MaxValue, 42L, Long.MinValue)
    assert(Digest.ofHashes(hs.iterator) == Digest.ofHashes(hs.reverseIterator))
    assert(Digest.ofHashes(hs.iterator).rows == 5)
    assert(Digest.ofHashes(hs.iterator) != Digest.ofHashes(hs.tail.iterator))
  }

  test("a digest round-trips through its text form") {
    val d = Digest(12L, -7L)
    assert(Digest.parse(d.toString) == d)
  }

  test("row order and partitioning do not change a frame's digest") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"row-$i")).toDF("id", "text")
    val shuffled = df.orderBy(rand(7)).repartition(5)
    assert(Digest.of(df) == Digest.of(shuffled))
    assert(Digest.of(df) != Digest.of(df.filter(col("id") =!= 17)))
    assert(Digest.of(df) != Digest.of(df.union(df.limit(1))))
  }

  test("the observed digest equals the digest of a job of its own") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, i % 7)).toDF("a", "b")
    val (obs, digest) = Digest.observed(df.repartition(3))
    obs.write.format("noop").mode("overwrite").save()
    assert(digest() == Digest.of(df))
  }
}
