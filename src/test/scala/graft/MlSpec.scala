package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.ml._
import graft.fetch.ImageKit

/** Training-data pipeline operators: dedup sketches, ANN, text analysis,
  * multimodal plumbing. */
class MlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import org.apache.spark.sql.functions._

  val docA = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  val docB = "the quick brown fox jumps over the lazy dog and runs far away into the green forest today"
  val docC = "completely different content about databases indexes and query optimizers with nothing shared"

  test("minhash estimates jaccard") {
    val sa = Dedup.minhashSignature(docA)
    val sb = Dedup.minhashSignature(docB)
    val sc0 = Dedup.minhashSignature(docC)
    assert(Dedup.minhashSimilarity(sa, sb) > 0.5)
    assert(Dedup.minhashSimilarity(sa, sc0) < 0.2)
    // deterministic
    assert(sa.toSeq == Dedup.minhashSignature(docA).toSeq)
  }

  test("minhash lsh finds planted near-dups distributed") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val docs = (Seq((1L, docA), (2L, docB), (3L, docC)) ++
      (10L until 40L).map(i => (i, s"unique filler document number $i with totally distinct words ${i * 7} and ${i * 13}")))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash near-dup pairs") {
    import spark.implicits._
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    assert(ImageKit.hamming(Dedup.simhash(docA), Dedup.simhash(docB)) <= 6)
    assert(ImageKit.hamming(Dedup.simhash(docA), Dedup.simhash(docC)) > 6)
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("degenerate buckets (5k identical docs) complete without pair blowup") {
    import spark.implicits._
    // 5000 identical boilerplate docs — one hot bucket per band; without
    // the cap this is 12.5M candidate pairs in one key. The planted
    // near-dup pair must still surface from its own (small) buckets.
    val boiler = (100L until 5100L).map(i => (i, "lorem ipsum boilerplate page please enable javascript to continue"))
    val docs = (Seq((1L, docA), (2L, docB), (3L, docC)) ++ boiler)
      .toDF("doc_id", "text").repartition(4)
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // boilerplate pairs were dropped (they are exact dedup's job), so the
    // result stays tiny instead of quadratic
    assert(pairs.size < 100)
    val sPairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sPairs.contains((1L, 2L)))
    assert(sPairs.size < 100)
  }

  test("prefix-filter set-similarity join equals the cartesian ground truth") {
    // de-circularizes the q17 pipeline AND the q15 verify semantics: the
    // scalable prefix-filtered join must reproduce the brute-force
    // all-pairs form exactly on real sf0.01 documents (the form DuckDB
    // independently verifies), including threshold edge behavior
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val grams = udf((t: String) => TextKit.charNgramHashes(t, 3))
    val jac = udf((a: Seq[Long], b: Seq[Long]) =>
      TextKit.jaccard(a.toArray, b.toArray))
    val texts = docs.select(col("doc_id"), grams(col("text")).as("g"))
    val brute = texts.as("a").crossJoin(texts.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", jac(col("a.g"), col("b.g")))
      .filter(col("j") >= 0.6)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val fast = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.6)
    assert(brute.except(fast).count() == 0, "prefix filter lost pairs")
    assert(fast.except(brute).count() == 0, "prefix filter invented pairs")
    // empty-gram docs (shorter than n chars) pair with each other (jac=1)
    import spark.implicits._
    val tiny = Seq((1L, "ab"), (2L, "x"), (3L, "a full length document here"))
      .toDF("doc_id", "text")
    val tinyPairs = Dedup.exactJaccardPairs(tiny, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tinyPairs == Set((1L, 2L)))
  }

  test("lsh and simhash pairs are sound against recomputed ground truth") {
    // de-circularizes the q15/q16 golden pins: every emitted pair must
    // survive independent recomputation of its own acceptance criterion,
    // and recall on planted near-dups must be total
    import spark.implicits._
    val base = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val planted = base.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      .withColumn("text", concat(col("text"), lit(" appended")))
    val docs = base.unionByName(planted)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // q15 shape: every pair's true shingle Jaccard ≥ threshold
    val lsh = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b) =>
      val j = TextKit.jaccard(TextKit.wordShingleHashes(texts(a), 3),
        TextKit.wordShingleHashes(texts(b), 3))
      assert(j >= 0.5, s"pair ($a,$b) has true jaccard $j < 0.5")
    }
    val plantedIds = planted.collect().map(_.getLong(0)).toSet
    plantedIds.foreach { p =>
      assert(lsh.exists(pr => pr._1 == p - 1000000000L && pr._2 == p),
        s"planted dup $p not recalled by LSH")
    }
    // q16 shape: every emitted pair's recomputed simhash Hamming ≤ 3, and
    // each planted pair is emitted IFF its true Hamming is within the
    // threshold (appending a word can legitimately flip > 3 bits — the
    // sketch measures distance, it does not promise recall of any edit)
    val sh = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    sh.foreach { case (a, b, h) =>
      val real = ImageKit.hamming(Dedup.simhash(texts(a)),
        Dedup.simhash(texts(b)))
      assert(real == h && real <= 3, s"pair ($a,$b): reported $h, real $real")
    }
    plantedIds.foreach { p =>
      val trueH = ImageKit.hamming(Dedup.simhash(texts(p - 1000000000L)),
        Dedup.simhash(texts(p)))
      assert(sh.exists(pr => pr._1 == p - 1000000000L && pr._2 == p) ==
        (trueH <= 3), s"planted $p: true hamming $trueH vs emitted set")
    }
  }

  test("embedding-cosine near-dup: sound, recalls noised planted dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian())
    }
    val base = (0 until 200).map(i => (i.toLong, vec(i)))
    // planted: tiny-noise copies of the first 3 (cosine ≈ 0.999)
    val planted = (0 until 3).map { i =>
      val v = vec(i).map(_ + rnd.nextGaussian() * 0.01)
      (1000L + i, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 3).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)),
        s"noised planted dup $i not recalled")
    }
    // soundness: every pair's recomputed cosine really is ≥ threshold
    val byId = (base ++ planted).toMap
    pairs.foreach { case (a, b) =>
      assert(Dedup.cosine(byId(a), byId(b)) >= 0.95)
    }
    // and random non-dup vectors never qualify
    assert(pairs.forall { case (a, b) => a < 3 && b == 1000L + a })
  }

  test("connected components label chains, cliques and singletons") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("id")
    // a 4-chain (1-2-3-4), a triangle (5,6,7), an edge (8,9), singleton 10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(comp(_) == 1L))
    assert((5L to 7L).forall(comp(_) == 5L))
    assert(comp(8L) == 8L && comp(9L) == 8L)
    assert(comp(10L) == 10L)
  }

  test("large-star/small-star labels chains, cliques and singletons") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    // connectedComponentsStar is kept as an alias of connectedComponents
    val comp = Dedup.connectedComponentsStar(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(comp(_) == 1L))
    assert((5L to 7L).forall(comp(_) == 5L))
    assert(comp(8L) == 8L && comp(9L) == 8L)
    assert(comp(10L) == 10L)
  }

  test("hub graph (50k-degree node): both CC entry points, skew-safe plan") {
    import spark.implicits._
    // a 10^8-degree web hub in miniature: one node with 50k neighbors.
    // The r4 star-CC computed neighborhood minima with a window
    // partitioned by node — the whole neighborhood materialized in ONE
    // task, no partial aggregation. Both CC entry points (the function
    // and its star alias) must (a) still label correctly, and (b) the
    // boundary aggregation — a node's row holds at most one root per
    // partition — must plan as a partial aggregate, with no Window and no
    // cartesian product.
    val n = 50000
    val nodes = (1L to (n + 1).toLong).toDF("id")
    val edges = (2L to (n + 1).toLong).map(i => (1L, i)).toDF("id_a", "id_b")
      .repartition(4)
    Seq(Dedup.connectedComponents _, Dedup.connectedComponentsStar _)
      .foreach { cc =>
        val comps = cc(nodes, edges).groupBy("component").count().collect()
        assert(comps.length == 1 && comps.head.getLong(0) == 1L &&
          comps.head.getLong(1) == (n + 1).toLong)
      }
    // plan shape of the level itself (pre-AQE plan carries the structure)
    val e = edges.select(col("id_a").as("u"), col("id_b").as("v"))
    val plan = Dedup.boundaryAggregate(Dedup.localRoots(e)._1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_collect_set") && plan.contains("partial_min"),
      s"boundary aggregation is not a partial aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"skew-unsafe Window operator in the boundary aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the boundary aggregation:\n$plan")
  }

  test("CC ignores edge endpoints absent from nodes (r7)") {
    import spark.implicits._
    // edges are semi-joined to the nodes on both endpoints before the
    // first union-find level, so an endpoint that is not a node mints no
    // output row and lends no label: a phantom id smaller than every
    // node must not become a component's root
    val nodes = Seq(5L, 6L, 7L).toDF("id")
    // 99 is not a node; 1 is not a node but would win every min
    val edges = Seq((5L, 6L), (6L, 99L), (1L, 7L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet == Set(5L, 6L, 7L))
    assert(comp(5L) == 5L && comp(6L) == 5L)
    // 7's only edge goes to the phantom node 1 — it must stay its own
    // component, not adopt 1 as a label
    assert(comp(7L) == 7L)
  }

  test("shingle-array verify equals text-pair jaccard (r7 q15 verify)") {
    // r7 moved nearDuplicatePairs' verify from per-pair re-tokenization
    // to per-doc sorted shingle arrays — pin the arithmetic equivalence
    // on real doc pairs, including the empty/short-text edges
    val texts = Seq(docA, docB, docC, "", "one", "one two three")
    for (a <- texts; b <- texts) {
      val viaSets = TextKit.jaccard(
        TextKit.wordShingleHashes(a, 3), TextKit.wordShingleHashes(b, 3))
      val sa = TextKit.wordShingleHashes(a, 3); java.util.Arrays.sort(sa)
      val sb = TextKit.wordShingleHashes(b, 3); java.util.Arrays.sort(sb)
      assert(TextKit.jaccardSorted(sa, sb) == viaSets,
        s"jaccard mismatch for ($a, $b)")
    }
  }

  test("jaccardSortedAtLeast ≡ jaccardSorted under a >= t filter (r7)") {
    // r7 gave the q17/q25/q27 verify an early merge exit; the contract
    // is: exact score whenever the pair passes the filter, any value
    // < t (here -1) when it provably cannot. Sweep randomized sorted
    // arrays × thresholds, including each pair's own exact Jaccard as a
    // threshold (the boundary where a rounding slip would flip a row).
    val rnd = new scala.util.Random(7)
    def sortedDistinct(n: Int, pool: Int): Array[Long] = {
      val s = scala.collection.mutable.SortedSet[Long]()
      while (s.size < n) s += rnd.nextInt(pool).toLong
      s.toArray
    }
    val cases = (Seq.tabulate(40) { i =>
      (sortedDistinct(1 + rnd.nextInt(60), 80),
        sortedDistinct(1 + rnd.nextInt(60), 80))
    } ++ Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      // exact-boundary pair: inter=3, union=5 → 3.0/5.0 == 0.6 in IEEE
      (Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 5L))))
    for ((a, b) <- cases) {
      val exact = TextKit.jaccardSorted(a, b)
      for (t <- Seq(0.0, 0.3, 0.5, 0.6, 0.8, 1.0, exact,
          exact - 1e-12, exact + 1e-12)) {
        val got = TextKit.jaccardSortedAtLeast(a, b, t)
        if (exact >= t)
          assert(got == exact,
            s"passing pair must carry the exact score (t=$t, " +
              s"exact=$exact, got=$got, |a|=${a.length}, |b|=${b.length})")
        else
          assert(got < t,
            s"failing pair must stay below t (t=$t, exact=$exact, " +
              s"got=$got)")
      }
    }
  }

  test("120-node path shuffled over 8 partitions: all 1, in 2 to 4 levels") {
    import spark.implicits._
    // diameter 119: a round-per-hop algorithm needs 119 rounds. Partition-
    // local union-find halves the partition count per level, so 8 input
    // partitions bound the run at ⌊log₂ 8⌋ + 1 = 4 levels, and shuffled
    // edges leave cross-partition boundary work for at least a second one
    val n = 120
    val nodes = (1L to n.toLong).toDF("id")
    val path = new scala.util.Random(11)
      .shuffle((1L until n.toLong).map(i => (i, i + 1)))
    val edges = path.toDF("id_a", "id_b").repartition(8)
    val (labels, levels) = Dedup.connectedComponentsLevels(nodes, edges)
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == n && comp.values.forall(_ == 1L))
    assert(levels > 1 && levels <= 4, s"$levels levels over 8 partitions")
  }

  test("one-partition edge set: union-find completes in exactly 1 level") {
    import spark.implicits._
    // the level bound's base case: one partition sees every edge, so it
    // leaves no boundary graph and no second level
    val n = 120
    val nodes = (1L to n.toLong).toDF("id")
    val edges = new scala.util.Random(11)
      .shuffle((1L until n.toLong).map(i => (i, i + 1)))
      .toDF("id_a", "id_b").repartition(1)
    val (labels, levels) = Dedup.connectedComponentsLevels(nodes, edges)
    assert(labels.collect().forall(_.getLong(1) == 1L))
    assert(levels == 1, s"$levels levels over 1 partition")
  }

  test("CC equals a driver-side union-find on random graphs (1-16 partitions)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // boundary frames keep all 4 shuffle partitions here (no AQE
    // coalescing), so inputs over 4+ partitions can take 3-4 levels and
    // the resolution through several level maps is exercised
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import session.implicits._
    // ids 40..44 are never nodes, and each of 0..39 is a node with
    // probability 0.8: phantom endpoints and isolated nodes both occur
    val graphs = for {
      isNode <- Gen.listOfN(40, Gen.prob(0.8))
      base <- Gen.listOf(Gen.zip(Gen.choose(0L, 44L), Gen.choose(0L, 44L)))
      again <- Gen.someOf(base)
      loops <- Gen.listOf(Gen.choose(0L, 44L))
      parts <- Gen.choose(1, 16)
    } yield {
      val nodes = isNode.zipWithIndex.collect { case (true, i) => i.toLong }
      // duplicate and reversed copies, self-loops
      val edges = base ++ again ++ again.map(_.swap) ++ loops.map(x => (x, x))
      (nodes, new scala.util.Random(parts).shuffle(edges), parts)
    }
    def reference(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for ((a, b) <- edges if parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(x => x -> find(x)).toMap
    }
    var deepest = 0
    def agrees(nodes: Seq[Long], edges: Seq[(Long, Long)], parts: Int) = {
      val (labels, levels) = Dedup.connectedComponentsLevels(
        nodes.toDF("id"), edges.toDF("id_a", "id_b").repartition(parts))
      deepest = math.max(deepest, levels)
      val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      val bound = 32 - Integer.numberOfLeadingZeros(parts) // ⌊log₂ p⌋ + 1
      rows.length == nodes.length && rows.toMap == reference(nodes, edges) &&
        levels <= bound
    }
    // one fixed input deep enough for the depth check below, so it does
    // not rest on the draw: a 41-node (40-edge) path shuffled over 16
    // partitions takes 4 levels (≥ 3 is what the check needs)
    val path = (0L until 40L).map(i => (i, i + 1))
    assert(agrees(0L to 40L, new scala.util.Random(16).shuffle(path), 16))
    assert(deepest >= 3, s"the fixed path took $deepest levels")
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(20).withMaxSize(60),
      Prop.forAllNoShrink(graphs) { case (nodes, edges, parts) =>
        agrees(nodes, edges, parts)
      })
    assert(result.passed, result.status.toString)
    assert(deepest >= 3, s"no generated graph took more than $deepest levels")
  }

  test("dropped degenerate buckets surface as observed metrics") {
    import spark.implicits._
    // 40 identical rows collide into every chunk bucket; with
    // maxBucket=10 all 4 chunk buckets drop, and the accounting must ride
    // the main query (no extra action) and be readable afterwards under
    // the op name perfbench sums
    val docs = ((0 until 40).map(i => (i.toLong, docA)) ++
      Seq((100L, docC))).toDF("doc_id", "text")
    // the odd vector is the negation, so its sign sketch is the exact
    // complement and shares no chunk bucket with the 40
    val vecs = ((0 until 40).map(i => (i.toLong, Array.fill(16)(1.0))) ++
      Seq((100L, Array.fill(16)(-1.0)))).toDF("vec_id", "embedding")
    for ((op, pairs) <- Seq(
        "simhash" -> Dedup.simhashNearDupPairs(docs, "doc_id", "text",
          maxBucket = 10),
        "embed-neardup" -> Dedup.embeddingNearDupPairs(vecs, "vec_id",
          "embedding", threshold = 0.9, maxBucket = 10))) {
      assert(pairs.count() == 0, op) // all candidate buckets were degenerate
      val stats = Dedup.droppedBuckets(op)
      assert(stats.nonEmpty, s"$op: bucket metrics did not ride the query")
      assert(stats.get._1 >= 4L, s"$op: expected >=4 dropped buckets: $stats")
      assert(stats.get._2 == 40L, s"$op: largest dropped should be 40: $stats")
    }
  }

  test("per-call bucket handles: a later same-op call cannot clobber") {
    import spark.implicits._
    // r4 ADVICE: the registry was keyed by op name only, so two same-op
    // queries clobbered each other's metrics. The *Observed variants hand
    // each call its own handle: run A (tight cap → drops) then run B
    // (loose cap → no drops); A's handle must still report A's numbers
    // after B completes, and vice versa.
    val docs = ((0 until 40).map(i => (i.toLong, docA)) ++
      Seq((100L, docC))).toDF("doc_id", "text")
    val (pairsA, statsA) = Dedup.simhashNearDupPairsObserved(
      docs, "doc_id", "text", maxBucket = 10)
    pairsA.count()
    val (pairsB, statsB) = Dedup.simhashNearDupPairsObserved(
      docs, "doc_id", "text", maxBucket = 100)
    pairsB.count()
    assert(statsA.get.exists(_._1 >= 4L),
      s"handle A lost its own drops after call B: ${statsA.get}")
    assert(statsB.get.exists(_._1 == 0L),
      s"handle B should see zero drops: ${statsB.get}")
    // the last-call convenience registry points at B now (documented)
    assert(Dedup.droppedBuckets("simhash").exists(_._1 == 0L))
  }

  test("ngram jaccard") {
    assert(TextKit.jaccard(TextKit.charNgramHashes(docA, 3),
      TextKit.charNgramHashes(docB, 3)) > 0.8)
    assert(TextKit.jaccard(TextKit.charNgramHashes(docA, 3),
      TextKit.charNgramHashes(docC, 3)) < 0.3)
  }

  test("language id on natural text") {
    assert(TextKit.languageOf(
      "the cat sat on the mat and that is the end of the story") == "en")
    assert(TextKit.languageOf(
      "der Hund und die Katze sind nicht in der Küche") == "de")
    assert(TextKit.languageOf(
      "le chat est dans la maison et la porte est ouverte") == "fr")
    assert(TextKit.languageOf(
      "el perro y los gatos son una familia que vive bien") == "es")
    assert(TextKit.languageOf("") == "und")
    assert(TextKit.languageOf("xyzzy plugh") == "und")
  }

  test("quality scoring") {
    val good = TextKit.quality(
      "This is a well formed paragraph of text with the usual amount of " +
        "punctuation and a healthy mix of common words in it.")
    assert(good.score > 0.5)
    assert(TextKit.quality("x").score < 0.2)
    assert(TextKit.quality("!!! ??? ### $$$ %%% ^^^ &&&").score < 0.2)
    assert(TextKit.quality("").score == 0.0)
  }

  test("token counting") {
    assert(TextKit.tokens("The quick  brown fox").toSeq
      == Seq("the", "quick", "brown", "fox"))
    assert(TextKit.tokenCountBpeIsh("cat") == 1)
    assert(TextKit.tokenCountBpeIsh("extraordinarily") == 4) // 15 chars → 4 units
  }

  test("winnowing fingerprint is edit-robust") {
    val fa = TextKit.winnowingFingerprint(docA).toSet
    val fb = TextKit.winnowingFingerprint(docB).toSet
    val fc = TextKit.winnowingFingerprint(docC).toSet
    val simAB = (fa & fb).size.toDouble / (fa | fb).size
    val simAC = (fa & fc).size.toDouble / (fa | fc).size
    assert(simAB > 0.6)
    assert(simAC < 0.2)
  }

  test("ann brute force and ivf agree on easy clusters") {
    import spark.implicits._
    // 4 well-separated clusters of 10 vectors each
    def vec(cluster: Int, i: Int): Seq[Float] = {
      val base = Array.fill(8)(0.0f)
      base(cluster * 2) = 10.0f
      base(cluster * 2 + 1) = 10.0f
      base(7 - cluster) += 0.01f * i // slight within-cluster variation
      base.toSeq
    }
    val rows = for (c <- 0 until 4; i <- 0 until 10)
      yield (c * 10L + i, vec(c, i), c)
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id").isin(0L, 10L, 20L, 30L))
    val brute = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every brute-force neighbor is in the query's own cluster
    brute.foreach { case (q, n) => assert(q / 10 == n / 10) }
    val ivf = Ann.ivfTopK(df, queries, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // IVF recall vs brute force on separated clusters should be perfect
    assert(ivf == brute)
  }

  test("q19 IVF recall vs DuckDB-verified brute ranks at sf0.01") {
    // de-circularizes the q19 golden pin (r3 VERDICT #5): the brute-force
    // ranks are independently DuckDB-mirrored (q18), so anchoring IVF
    // recall to them — same corpus, same queries, same parameters as the
    // q19 entry — grounds the pin in an independent derivation
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val brute = pairsOf(Ann.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    val ivf = pairsOf(Ann.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 16, nProbe = 4))
    assert(brute.size == 40)
    val recall = (ivf intersect brute).size.toDouble / brute.size
    info(f"IVF recall@5 vs brute: $recall%.3f")
    // self-matches alone give 8/40 = 0.2; probing 4/16 cells of this
    // unclustered corpus must still recover well beyond that floor
    // (measured: 0.500, fully deterministic — floor set with margin)
    assert(recall >= 0.45, f"IVF recall $recall%.3f below floor")
  }

  test("ANN default path: recall >= 0.9 at <= 25% scored fraction (swept)") {
    import spark.implicits._
    // the r4 ask: the shipped ANN default must hold recall >= 0.9 against
    // the DuckDB-verified brute ranks while scoring <= 25% of the corpus.
    // IVF cannot get there on an unclustered corpus (its nProbe sweep is
    // recorded below for the honest comparison — true neighbors here sit
    // at cosine ~0.3, so probed Voronoi cells miss them near-chance);
    // the sketch-Hamming radius path can, and is the default (q28).
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val brute = pairsOf(Ann.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    // IVF sweep at fixed nCells=16 — recall vs probe fraction, recorded
    for (nProbe <- Seq(2, 4, 8)) {
      val r = (pairsOf(Ann.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = nProbe)) intersect brute).size
        .toDouble / brute.size
      info(f"IVF nCells=16 nProbe=$nProbe (frac ${nProbe / 16.0}%.2f): " +
        f"recall $r%.3f")
    }
    // sketch-radius sweep: recall AND exact scored fraction per threshold
    // (recomputed driver-side from the same deterministic sketch the
    // operator uses — 500 rows, exact bookkeeping)
    val rows = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val bits = 768
    val sk = rows.map { case (id, v) =>
      id -> (0 until bits / 64).map(w =>
        Dedup.signSketch(v, 64, 0x5eedL + 0x9e37L * w)).toArray
    }.toMap
    def hamming(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val qids = rows.map(_._1).filter(_ < 8)
    val nPairs = qids.length * (rows.length - 1)
    for (frac <- Seq(0.42, 0.44, 0.46, 0.48)) {
      val th = (bits * frac).toInt
      var cand = 0
      var hit = 0
      qids.foreach { q =>
        rows.foreach { case (id, _) =>
          if (id != q && hamming(sk(q), sk(id)) <= th) {
            cand += 1
            if (brute.contains((q, id))) hit += 1
          }
        }
      }
      val recall = hit.toDouble / brute.size
      val scored = cand.toDouble / nPairs
      info(f"sketch bits=$bits radius=$th (${frac}%.2f): " +
        f"recall $recall%.3f scored-fraction $scored%.3f")
      if (frac == 0.46) { // the production default — both bars must hold
        assert(recall >= 0.9, f"default-radius recall $recall%.3f < 0.9")
        assert(scored <= 0.25, f"default-radius scored $scored%.3f > 0.25")
      }
    }
    // and the operator itself at defaults: on this corpus the radius
    // loses nothing, so the output IS the brute ranking (which is what
    // lets q28's oracle be the genuine DuckDB mirror, not a golden pin)
    val sketch = pairsOf(Ann.sketchTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    assert(sketch == brute, "sketchTopK defaults must recover brute exactly")
  }

  test("sketch-ANN index split: prefilter scans sketches, never vectors") {
    // the production shape (r5 VERDICT #2): the 96 B/row sketch index is
    // built ONCE and persisted; query batches then run the Hamming
    // prefilter over (id, sketch) only, and the corpus vector column is
    // joined back for IN-RADIUS rows only. Pinned two ways: the plan
    // subtree below the Hamming-radius predicate must contain no corpus
    // vector scan (only the 8-row query side sketches vectors), and the
    // index path must stay exact vs brute (the q28 bar).
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val tmp = java.nio.file.Files.createTempDirectory("sketchidx")
    val idxPath = tmp.resolve("idx.parquet").toString
    Ann.sketchIndex(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(idxPath)
    val idx = spark.read.parquet(idxPath)
    val top = Ann.sketchTopK(emb, queries, "vec_id", "embedding", k = 5,
      index = Some(idx))
    // the radius predicate may live in a Filter or be folded into the
    // join condition — find it either way
    val radiusNode: LogicalPlan = top.queryExecution.optimizedPlan.collectFirst {
      case f: Filter if f.condition.toString.contains("bit_count") => f: LogicalPlan
      case j: Join if j.condition.exists(_.toString.contains("bit_count")) =>
        j: LogicalPlan
    }.getOrElse(fail("no Hamming-radius predicate in the optimized plan"))
    val scanPathsBelow = radiusNode.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
        case _ => ""
      }
    }
    assert(scanPathsBelow.exists(_.contains("idx.parquet")),
      s"prefilter does not scan the sketch index: $scanPathsBelow")
    assert(scanPathsBelow.count(_.contains("embeddings.parquet")) == 1,
      "prefilter subtree must scan embeddings ONCE (the 8-row query " +
        s"side), never the corpus vectors: $scanPathsBelow")
    // exactness through the index path (same bar as q28's DuckDB mirror)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val brute = pairsOf(Ann.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    assert(pairsOf(top) == brute,
      "index-path sketchTopK must recover brute exactly on this corpus")
  }

  test("sketch-ANN: width-mismatched stored index fails loudly, not empty") {
    // without the in-expression guard, zip_with pads the narrower sketch
    // with nulls, the Hamming sum goes null, the radius filter drops
    // every row, and a wrong stored index silently returns EMPTY
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 2)
    val narrow = Ann.sketchIndex(emb, "vec_id", "embedding",
      sketchBits = 128)
    val ex = intercept[Throwable] {
      Ann.sketchTopK(emb, queries, "vec_id", "embedding", k = 3,
        index = Some(narrow)).count()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("width mismatch"),
      s"expected a loud width-mismatch error, got: $chain")
  }

  test("ANN sketch-radius default holds at sf0.1 too (corpus-drift pin)") {
    // r5 VERDICT #3: the shipped 0.46 Hamming fraction was evidenced on
    // the sf0.01 distribution only. Same recall/scored-fraction bars at
    // 10x the rows — driver-side exact bookkeeping from the same
    // deterministic sketch the operator uses.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val brute = pairsOf(Ann.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    assert(brute.size == 40)
    val rows = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val bits = 768
    val sk = rows.map { case (id, v) =>
      id -> (0 until bits / 64).map(w =>
        Dedup.signSketch(v, 64, 0x5eedL + 0x9e37L * w)).toArray
    }.toMap
    def hamming(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val qids = rows.map(_._1).filter(_ < 8)
    val th = (bits * 0.46).toInt // the production default
    var cand = 0
    var hit = 0
    qids.foreach { q =>
      rows.foreach { case (id, _) =>
        if (id != q && hamming(sk(q), sk(id)) <= th) {
          cand += 1
          if (brute.contains((q, id))) hit += 1
        }
      }
    }
    val recall = hit.toDouble / brute.size
    val scored = cand.toDouble / (qids.length * (rows.length - 1))
    info(f"sf0.1: sketch bits=$bits radius=$th recall $recall%.3f " +
      f"scored-fraction $scored%.3f")
    assert(recall >= 0.9, f"sf0.1 default-radius recall $recall%.3f < 0.9")
    assert(scored <= 0.25, f"sf0.1 default-radius scored $scored%.3f > 0.25")
  }

  test("multimodal: image meta + resize real, audio/video stubs shaped") {
    val row = ImageKit.imageRow(42L, 7)
    val meta = Multimodal.imageMeta(row.bytes).get
    assert(meta.w == row.w && meta.h == row.h)
    assert(meta.fmt == row.fmt)
    val resized = Multimodal.resizeImage(row.bytes, 32, 32).get
    val rmeta = Multimodal.imageMeta(resized).get
    assert(rmeta.w == 32 && rmeta.h == 32 && rmeta.fmt == "png")
    val feats = Multimodal.audioFeaturesStub(row.bytes)
    assert(feats.length == 8)
    assert(feats.toSeq == Multimodal.audioFeaturesStub(row.bytes).toSeq)
    val frames = Multimodal.sampleFramesStub(row.bytes, 4)
    assert(frames.map(_._1) == Seq(0, 1, 2, 3))
    assert(Multimodal.imageMeta("not an image".getBytes).isEmpty)
  }

  /** 0.5 s of a 440 Hz sine at 8 kHz mono, amplitude 0.5, through the
    * JDK's own WAV writer. */
  private def synthWav(): Array[Byte] = {
    val rate = 8000f
    val n = 4000
    val raw = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 0.5 * 32767).toShort
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, n),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** 3-frame animated GIF of deterministic pixel frames. */
  private def synthGif(): (Array[Byte], Seq[java.awt.image.BufferedImage]) = {
    val frames = (0 until 3).map(i =>
      ImageKit.renderPixels(ImageKit.mix(42L, s"frame$i"), 64, 64))
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(img => writer.writeToSequence(
      new javax.imageio.IIOImage(img, null, null), null))
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    (baos.toByteArray, frames)
  }

  test("real WAV audio decode: signal features match the synthesized sine") {
    // the feature extractor must recover the real signal statistics of
    // the synthesized sine, not a byte-hash pseudo-vector
    val rate = 8000f
    val f = Multimodal.audioFeatures(synthWav())
    assert(f(7) == 1.0f, "decoded flag must be set on the real path")
    assert(math.abs(f(0) - 0.5f) < 0.01, s"duration ${f(0)}")
    assert(f(2) == 1.0f, "channels")
    assert(math.abs(f(3) - 0.5 / math.sqrt(2)) < 0.01, s"rms ${f(3)}")
    assert(math.abs(f(4) - 0.5) < 0.01, s"peak ${f(4)}")
    assert(math.abs(f(5) - 2 * 440 / rate) < 0.01, s"zcr ${f(5)}")
    // non-audio bytes take the labeled stub path: flag stays unset
    assert(Multimodal.audioFeatures("not audio".getBytes)(7) != 1.0f)
  }

  test("real GIF frame sampling: decoded frames match source phashes") {
    val (gif, frames) = synthGif()
    assert(Multimodal.sniffFormat(gif) == "gif")
    val sampled = Multimodal.sampleFrames(gif, 3)
    assert(sampled.map(_._1) == Seq(0, 1, 2))
    // GIF 256-color quantization may perturb a few phash bits; the
    // perceptual hash of each decoded frame must stay close to its source
    sampled.zip(frames).foreach { case ((idx, ph), src) =>
      val d = ImageKit.hamming(ph, ImageKit.phash(src))
      assert(d <= 6, s"frame $idx phash drifted $d bits")
    }
    // sampling 2 of 3 picks evenly spaced distinct indices
    assert(Multimodal.sampleFrames(gif, 2).map(_._1) == Seq(0, 1))
  }

  test("multimodal DataFrame pipelines: describeAudio + explodeFrames") {
    import spark.implicits._
    val png = ImageKit.encode(
      ImageKit.renderPixels(ImageKit.mix(42L, "still"), 32, 32), "png")
    val (gif, _) = synthGif()
    val df = Seq((1L, synthWav()), (2L, gif), (3L, png))
      .toDF("media_id", "bytes")
    val audio = Multimodal.describeAudio(df, "bytes").collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Boolean]("audio_decoded"))
      .toMap
    assert(audio(1L) && !audio(2L) && !audio(3L))
    val frames = Multimodal
      .explodeFrames(df.filter($"media_id" === 2L), "bytes", 3)
      .select("media_id", "frame_index", "frame_phash").collect()
    assert(frames.length == 3)
    assert(frames.map(_.getAs[Int]("frame_index")).sorted.toSeq == Seq(0, 1, 2))
  }

  test("psnr invariant holds for jpeg roundtrip at q=0.9") {
    (0 until 8).foreach { i =>
      val img = ImageKit.renderPixels(ImageKit.mix(42L, s"img$i"), 64, 64)
      val jpeg = ImageKit.encode(img, "jpeg")
      assert(ImageKit.psnr(img, ImageKit.decode(jpeg)) >= 40.0)
      val png = ImageKit.encode(img, "png")
      assert(ImageKit.psnr(img, ImageKit.decode(png)).isPosInfinity)
    }
  }
}
