package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.crawl.{CrawlConfig, CrawlLoop}
import graft.fetch.{ImageKit, SyntheticConfig, SyntheticInternet}
import graft.ml.{Ann, Dedup, Multimodal, TextKit}

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with a DuckDB-runnable oracle for every SQL-expressible
  * one. Column names are aliased identically on both sides; float-unsafe
  * aggregates go through exact decimal arithmetic before a final cast so
  * the hash compare is summation-order-independent.
  */
object SparkEntry {

  private def ld(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.parquet(s"$dir/$table.parquet")

  /** Flagship: a mini deterministic crawl — frontier → dequeue → fetch →
    * parse → dedup → re-enqueue — returning the discovered-page table. */
  def entry(spark: SparkSession): DataFrame = miniCrawl(spark).pages

  private def miniCrawl(spark: SparkSession) = {
    val internet = SyntheticInternet(SyntheticConfig(
      seed = 42L, nSites = 3, pagesPerSite = 3, imagesPerSite = 1,
      itemsPerFeed = 2))
    new CrawlLoop(spark, internet, CrawlConfig(maxBatches = 2))
      .run(Seq("https://site-0.test/"))
  }

  /** Exact-decimal money sum, cast back to double at the end — identical
    * in Spark and DuckDB regardless of partial-agg order. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // SQL-expressible language-ID scoring shared by Spark and the oracle:
  // marker-occurrence counts on the padded lowercase text.
  private def occ(text: Column, marker: String): Column =
    (length(text) - length(regexp_replace(text,
      java.util.regex.Pattern.quote(marker), ""))) / lit(marker.length)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core over the TPC-H-ish tables -------------------
    "q01_agg" -> ((s, dir) => {
      ld(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
    }),
    "q02_join_broadcast" -> ((s, dir) => {
      val orders = ld(s, dir, "orders")
      val customer = ld(s, dir, "customer")
      orders.join(broadcast(customer),
        orders("o_custkey") === customer("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_price"))
    }),
    "q03_anti_join" -> ((s, dir) => {
      // J-1 shape: the URL-seen dedup is exactly this anti-join
      ld(s, dir, "customer")
        .join(ld(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey")
    }),
    "q04_topk_window" -> ((s, dir) => {
      // W2 shape: salted per-host priority dequeue = per-key top-k window
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      ld(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }),
    "q05_status_classes" -> ((s, dir) => {
      // X6 classification over synthesized status codes
      val st = (col("o_orderkey") % 700).cast("int")
      val cls = when(st.isin(0, 403, 429, 614, 615), "carveout")
        .when(st >= 200 && st < 400, "valid")
        .when(st < 200 || st >= 400, "invalid")
      ld(s, dir, "orders")
        .withColumn("status_class", cls)
        .groupBy("status_class").agg(count(lit(1)).as("n"))
    }),
    "q06_ordered_coalesce" -> ((s, dir) => {
      // J-5/W4 shape: compound-handler pick-first = min_by ordered
      // coalesce; order key made unique (linenumber duplicates exist) so
      // the pick is deterministic in any engine
      ld(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(min_by(col("l_partkey"),
          col("l_linenumber") * lit(100000000L) + col("l_partkey"))
          .as("first_part"),
          sum(col("l_quantity")).as("sum_qty"))
    }),
    "q07_metrics_rollup" -> ((s, dir) => {
      // A4 shape: per-host crawl metrics rollup
      ld(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double")
            .as("sum_value"))
    }),
    "q08_time_bucket" -> ((s, dir) => {
      ld(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),
    "q09_gap_window" -> ((s, dir) => {
      // politeness-gap analysis shape: per-key event-time deltas
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      ld(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
        .groupBy("user_id")
        .agg(max(col("gap_s")).as("max_gap_s"), count(lit(1)).as("n_events"))
    }),
    "q10_url_parse" -> ((s, dir) => {
      // URL classification core expressed SQL-portably: synthesize URLs,
      // extract host, roll up (the UDF-exact variants live in sbt tests)
      ld(s, dir, "customer")
        .withColumn("url", concat(lit("https://site-"),
          (col("c_custkey") % 50).cast("string"), lit(".test/page/"),
          col("c_custkey").cast("string")))
        .withColumn("host", split(col("url"), "/").getItem(2))
        .groupBy("host").agg(count(lit(1)).as("n_urls"))
    }),
    // ---- training-data pipeline over documents/embeddings ------------
    "q11_dedup_exact" -> ((s, dir) => {
      // exact dedup: hash-group, keep min id
      ld(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    }),
    "q12_langid_sql" -> ((s, dir) => {
      val t = concat(lit(" "), lower(col("text")), lit(" "))
      val en = occ(t, " the ") + occ(t, " and ") + occ(t, " of ")
      val de = occ(t, " der ") + occ(t, " die ") + occ(t, " und ")
      val fr = occ(t, " le ") + occ(t, " la ") + occ(t, " est ")
      val es = occ(t, " el ") + occ(t, " los ") + occ(t, " una ")
      ld(s, dir, "documents")
        .withColumn("lang_pred",
          when(en >= de && en >= fr && en >= es, "en")
            .when(de >= fr && de >= es, "de")
            .when(fr >= es, "fr")
            .otherwise("es"))
        .select("doc_id", "lang_pred")
    }),
    "q13_quality_sql" -> ((s, dir) => {
      val words = size(filter(split(col("text"), " "),
        x => x =!= ""))
      ld(s, dir, "documents")
        .withColumn("n_chars_calc", length(col("text")))
        .withColumn("n_words", words)
        .withColumn("quality_bucket",
          when(words < 5, "too_short")
            .when(length(col("text")) > 5000, "long")
            .otherwise("ok"))
        .select("doc_id", "n_chars_calc", "n_words", "quality_bucket")
    }),
    "q14_token_count" -> ((s, dir) => {
      ld(s, dir, "documents")
        .withColumn("n_tokens",
          size(filter(split(col("text"), " "), x => x =!= "")))
        .select("doc_id", "n_tokens")
    }),
    // ---- near-dup / similarity (not DuckDB-expressible: engine-side
    //      correctness is pinned by planted duplicates + sbt specs) ------
    "q15_minhash_lsh" -> ((s, dir) => {
      Dedup.nearDuplicatePairs(withPlantedDups(ld(s, dir, "documents"), s),
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    "q16_simhash" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(withPlantedDups(ld(s, dir, "documents"), s),
        "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    "q17_ngram_jaccard" -> ((s, dir) => {
      // EXACT character-3-gram Jaccard ground truth (the DuckDB oracle is
      // the independent all-pairs form) — computed with the prefix-filter
      // set-similarity join, so the plan carries no cartesian product and
      // survives a 100× corpus: candidates come from an equi-join on each
      // doc's (1-t)·|g|+1 smallest gram hashes, verified exactly.
      Dedup.exactJaccardPairs(withPlantedDups(ld(s, dir, "documents"), s),
        "doc_id", "text", n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")
    }),
    "q18_ann_brute" -> ((s, dir) => {
      val emb = ld(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }),
    "q19_ann_ivf" -> ((s, dir) => {
      val emb = ld(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCells = 16, nProbe = 4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }),
    "q28_ann_sketch" -> ((s, dir) => {
      // the default ANN scale path (sign-sketch Hamming prefilter + exact
      // re-rank): on this corpus the 768-bit radius recovers the exact
      // brute top-5 while scoring <25% of the pairs, so the oracle is the
      // same GENUINE DuckDB brute-force mirror as q18 — a stronger check
      // than a golden pin (the prefilter must lose nothing, not just stay
      // byte-stable)
      val emb = ld(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      // production split: the 96 B/row sketch index is built (persisted,
      // in a deployment) separately from the query; the prefilter scans
      // only (id, sketch) and vectors join back for in-radius rows
      val idx = Ann.sketchIndex(emb, "vec_id", "embedding")
      Ann.sketchTopK(emb, queries, "vec_id", "embedding", k = 5,
        index = Some(idx))
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }),
    "q20_fingerprint" -> ((s, dir) => {
      val fp = udf((text: String) =>
        TextKit.winnowingFingerprint(text).length)
      val sh = udf((text: String) => Dedup.simhash(text))
      ld(s, dir, "documents")
        .withColumn("n_fingerprints", fp(col("text")))
        .withColumn("simhash", sh(col("text")))
        .select("doc_id", "n_fingerprints", "simhash")
    }),
    "q21_langid_engine" -> ((s, dir) => {
      val lang = udf((text: String) => TextKit.languageOf(text))
      val q = udf((text: String) => TextKit.quality(text).score)
      ld(s, dir, "documents")
        .withColumn("lang_pred", lang(col("text")))
        .withColumn("quality_score", q(col("text")))
        .select("doc_id", "lang_pred", "quality_score")
    }),
    "q24_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup: sign-sketch blocking + exact cosine
      // verify. The oracle is a GENUINE DuckDB all-pairs mirror: at
      // threshold 0.9 the only qualifying pairs in this corpus are the
      // planted exact copies (natural random-embedding cosines top out
      // ~0.5), and identical vectors share the sketch bit-for-bit, so
      // blocking recall is exact where the oracle can see
      val emb = ld(s, dir, "embeddings")
      val planted = emb.orderBy("vec_id").limit(3)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      Dedup.embeddingNearDupPairs(emb.unionByName(planted),
        "vec_id", "embedding", threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "q25_dedup_clusters" -> ((s, dir) => {
      // keep-one-per-cluster assignment: exact-Jaccard pairs (the
      // oracle-verifiable edge set) → connected components (partition-
      // local union-find over a halving boundary graph); the DuckDB
      // mirror recomputes the same components with a recursive CTE.
      // The deterministic half-corpus subset keeps the DuckDB mirror's
      // all-pairs edge recomputation inside the driver's gate budget;
      // the operator itself is subset-agnostic
      val docs = withPlantedDups(
        ld(s, dir, "documents").filter(col("doc_id") % 2 === 0), s)
      val edges = Dedup.exactJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "q27_dedup_clusters_star" -> ((s, dir) => {
      // the same cluster assignment as q25 through the same CC function
      // (this key once ran large-star/small-star contraction); the key
      // and the shared recursive-CTE DuckDB mirror stay
      val docs = withPlantedDups(
        ld(s, dir, "documents").filter(col("doc_id") % 2 === 0), s)
      val edges = Dedup.exactJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "q26_repetition" -> ((s, dir) => {
      // repetition-based quality signals (Gopher-style), pure built-ins —
      // stays inside whole-stage codegen, no UDF
      val words = filter(split(col("text"), " "), x => x =!= "")
      val bigrams = zip_with(
        slice(words, lit(1), greatest(size(words) - 1, lit(0))),
        slice(words, lit(2), greatest(size(words) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      ld(s, dir, "documents")
        .withColumn("n_words", size(words))
        .withColumn("n_distinct_words", size(array_distinct(words)))
        .withColumn("dup_word_ratio",
          when(size(words) === 0, 0.0).otherwise(
            lit(1.0) - size(array_distinct(words)).cast("double")
              / size(words)))
        .withColumn("dup_bigram_ratio",
          when(size(bigrams) === 0, 0.0).otherwise(
            lit(1.0) - size(array_distinct(bigrams)).cast("double")
              / size(bigrams)))
        .select("doc_id", "n_words", "n_distinct_words",
          "dup_word_ratio", "dup_bigram_ratio")
    }),
    // ---- crawl + multimodal ------------------------------------------
    "q22_crawl_log" -> ((s, dir) => {
      // deterministic columns only (crawl_time_ms is wall clock) so the
      // committed golden fixture pins the crawl order exactly
      miniCrawl(s).crawlLog
        .select("batch", "seq", "url", "final_url", "status", "host",
          "content_type")
        .orderBy("batch", "seq")
    }),
    "q23_image_pipeline" -> ((s, dir) => {
      import s.implicits._
      val corpus = s.sparkContext.parallelize(0 until 64, 8)
        .map(i => ImageKit.imageRow(42L, i)).toDF()
      val hamming = udf((a: Long, b: Long) => ImageKit.hamming(a, b))
      Multimodal.describeImages(corpus, "bytes")
        .withColumn("phash_hamming",
          hamming(col("phash"), col("decoded_phash")))
        .select("image_id", "w", "h", "fmt", "decoded_w", "decoded_h",
          "decoded_fmt", "phash_hamming")
        .orderBy("image_id")
    }))

  /** Plant deterministic near-duplicates: copies of the 3 lowest-id docs
    * with one word appended, ids offset by 10^9 — guarantees the near-dup
    * queries demonstrate detection on any corpus. */
  private def withPlantedDups(docs: DataFrame, s: SparkSession): DataFrame = {
    val base = docs.select("doc_id", "text")
    val planted = base.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      .withColumn("text", concat(col("text"), lit(" appended")))
    base.unionByName(planted)
  }

  /** Where the committed golden fixtures live. Resolved at dump time
    * (Verify runs from the repo checkout), overridable via
    * GRAFT_FIXTURES_DIR — no hardcoded checkout path in the SQL. */
  private lazy val fixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR",
      new java.io.File("fixtures/golden").getAbsolutePath)

  /** Shared by q25 (neighbor-min) and q27 (large-star/small-star): the
    * component assignment is algorithm-independent, so one recursive-CTE
    * DuckDB derivation independently verifies both implementations. */
  private val dedupClustersOracleSql: String =
    """WITH RECURSIVE base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |docs AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id, text || ' appended' AS text
      |  FROM (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 3)),
      |grams AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(lower(text), i::INT, 3))) AS g
      |  FROM docs),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.g AS ga, b.g AS gb
      |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
      |edges AS (SELECT id_a, id_b FROM (
      |  SELECT id_a, id_b,
      |    CASE WHEN len(ga) = 0 AND len(gb) = 0 THEN 1.0
      |         WHEN len(ga) = 0 OR len(gb) = 0 THEN 0.0
      |         ELSE len(list_intersect(ga, gb))::DOUBLE /
      |              (len(ga) + len(gb) - len(list_intersect(ga, gb))) END AS jac
      |  FROM pairs) WHERE jac >= 0.6),
      |und AS (SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL SELECT id_b AS src, id_a AS dst FROM edges),
      |walk AS (
      |  SELECT doc_id AS id, doc_id AS comp FROM docs
      |  UNION
      |  SELECT u.dst AS id, w.comp AS comp
      |  FROM walk w JOIN und u ON u.src = w.id
      |  WHERE w.comp < u.dst)
      |SELECT id AS doc_id, min(comp) AS component FROM walk
      |GROUP BY id ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q03_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q04_topk_window" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
        |PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin,
    "q05_status_classes" ->
      """SELECT CASE
        |WHEN CAST(o_orderkey % 700 AS INT) IN (0,403,429,614,615) THEN 'carveout'
        |WHEN CAST(o_orderkey % 700 AS INT) >= 200 AND CAST(o_orderkey % 700 AS INT) < 400 THEN 'valid'
        |ELSE 'invalid' END AS status_class, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q06_ordered_coalesce" ->
      """SELECT l_orderkey,
        |min_by(l_partkey, l_linenumber * 100000000 + l_partkey) AS first_part,
        |sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q07_metrics_rollup" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q08_time_bucket" ->
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q09_gap_window" ->
      """SELECT user_id, max(gap_s) AS max_gap_s, count(*) AS n_events FROM (
        |SELECT user_id, date_diff('second',
        |LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
        |FROM events) GROUP BY user_id""".stripMargin,
    "q10_url_parse" ->
      """SELECT string_split('https://site-' || CAST(c_custkey % 50 AS VARCHAR)
        ||| '.test/page/' || CAST(c_custkey AS VARCHAR), '/')[3] AS host,
        |count(*) AS n_urls FROM customer GROUP BY 1""".stripMargin,
    "q11_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
        |count(*) AS n_copies FROM documents GROUP BY 1""".stripMargin,
    "q12_langid_sql" ->
      """WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS txt FROM documents),
        |s AS (SELECT doc_id,
        |(length(txt)-length(replace(txt,' the ','')))/5
        |+(length(txt)-length(replace(txt,' and ','')))/5
        |+(length(txt)-length(replace(txt,' of ','')))/4 AS en,
        |(length(txt)-length(replace(txt,' der ','')))/5
        |+(length(txt)-length(replace(txt,' die ','')))/5
        |+(length(txt)-length(replace(txt,' und ','')))/5 AS de,
        |(length(txt)-length(replace(txt,' le ','')))/4
        |+(length(txt)-length(replace(txt,' la ','')))/4
        |+(length(txt)-length(replace(txt,' est ','')))/5 AS fr,
        |(length(txt)-length(replace(txt,' el ','')))/4
        |+(length(txt)-length(replace(txt,' los ','')))/5
        |+(length(txt)-length(replace(txt,' una ','')))/5 AS es FROM t)
        |SELECT doc_id, CASE
        |WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |WHEN de >= fr AND de >= es THEN 'de'
        |WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM s""".stripMargin,
    "q13_quality_sql" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
        |len(list_filter(string_split(text, ' '), x -> x != '')) AS n_words,
        |CASE WHEN len(list_filter(string_split(text, ' '), x -> x != '')) < 5
        |THEN 'too_short' WHEN length(text) > 5000 THEN 'long'
        |ELSE 'ok' END AS quality_bucket FROM documents""".stripMargin,
    "q14_token_count" ->
      """SELECT doc_id, len(list_filter(string_split(text, ' '),
        |x -> x != '')) AS n_tokens FROM documents""".stripMargin,
    // q15/q16/q19/q20/q22/q23 use committed golden fixtures (generated once
    // by graft.GoldenGen at sf0.01, checked in): their sketch/hash internals
    // (splitmix64, minhash permutations, xxhash64 centroids, phash) are not
    // expressible in DuckDB SQL. The fixture pins byte-exact regressions.
    "q15_minhash_lsh" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q15_minhash_lsh.parquet')",
    "q16_simhash" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q16_simhash.parquet')",
    "q17_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, text || ' appended' AS text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 3)),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(text) - 1, 1)),
        |    i -> substr(lower(text), i::INT, 3))) AS g
        |  FROM docs),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.g AS ga, b.g AS gb
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |  CASE WHEN len(ga) = 0 AND len(gb) = 0 THEN 1.0
        |       WHEN len(ga) = 0 OR len(gb) = 0 THEN 0.0
        |       ELSE len(list_intersect(ga, gb))::DOUBLE /
        |            (len(ga) + len(gb) - len(list_intersect(ga, gb))) END AS jac
        |  FROM pairs)
        |SELECT id_a, id_b FROM j WHERE jac >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    "q18_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN q WHERE neighbor_id != query_id),
        |r AS (SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY floor(cos * 1e6) / 1e6 DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q19_ann_ivf" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q19_ann_ivf.parquet')",
    // q28 = q18's genuine brute-force mirror: the sketch prefilter must
    // recover the exact brute ranking on this corpus (recall 1.0 — see
    // the Scaladoc on Ann.sketchTopK and the MlSpec sweep)
    "q28_ann_sketch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN q WHERE neighbor_id != query_id),
        |r AS (SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY floor(cos * 1e6) / 1e6 DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q20_fingerprint" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q20_fingerprint.parquet')",
    "q21_langid_engine" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, text, toks,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that'))) AS en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','dans'))) AS fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y','es','una','que'))) AS es,
        |  len(list_filter(toks, x -> x IN ('il','gli','che','e','di','una','per'))) AS it,
        |  len(list_filter(toks, x -> x IN ('i','nie','jest','na','do'))) AS pl
        |  FROM t),
        |m AS (SELECT doc_id, en, de, fr, es, it, pl,
        |  greatest(en, de, fr, es, it, pl) AS mx,
        |  length(text) AS nchars,
        |  len(toks) AS nwords,
        |  list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE
        |    / len(toks) AS mwl,
        |  length(regexp_replace(text, '[a-zA-Z0-9 \t\n\r]', '', 'g'))::DOUBLE
        |    / length(text) AS punctratio,
        |  length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
        |    / length(text) AS upperratio,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in','a','is','that','it','for','on','as','with','was','at','by')))::DOUBLE
        |    / len(toks) AS stopratio
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN mx = 0 THEN 'und'
        |    WHEN de >= en AND de >= es AND de >= fr AND de >= it AND de >= pl THEN 'de'
        |    WHEN en >= es AND en >= fr AND en >= it AND en >= pl THEN 'en'
        |    WHEN es >= fr AND es >= it AND es >= pl THEN 'es'
        |    WHEN fr >= it AND fr >= pl THEN 'fr'
        |    WHEN it >= pl THEN 'it' ELSE 'pl' END AS lang_pred,
        |  (((((CAST(1.0 AS DOUBLE)
        |    * (CASE WHEN nwords < 5 OR nwords > 100000 THEN 0.2 ELSE 1.0 END))
        |    * (CASE WHEN mwl < 2 OR mwl > 12 THEN 0.4 ELSE 1.0 END))
        |    * (CASE WHEN punctratio > 0.3 THEN 0.3 ELSE 1.0 END))
        |    * (CASE WHEN upperratio > 0.4 THEN 0.3 ELSE 1.0 END))
        |    * (CASE WHEN stopratio < 0.05 THEN 0.6 ELSE 1.0 END)) AS quality_score
        |FROM m""".stripMargin,
    "q25_dedup_clusters" -> dedupClustersOracleSql,
    // q27 runs the same CC function as q25 — one independent mirror
    // verifies both keys
    "q27_dedup_clusters_star" -> dedupClustersOracleSql,
    "q26_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w,
        |  CASE WHEN len(w) >= 2 THEN
        |    list_transform(range(1, len(w)),
        |      i -> w[i::INT] || ' ' || w[(i+1)::INT])
        |  ELSE []::VARCHAR[] END AS bg FROM t)
        |SELECT doc_id, len(w) AS n_words,
        |  len(list_distinct(w)) AS n_distinct_words,
        |  CASE WHEN len(w) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END
        |    AS dup_word_ratio,
        |  CASE WHEN len(bg) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_distinct(bg))::DOUBLE / len(bg) END
        |    AS dup_bigram_ratio
        |FROM b""".stripMargin,
    "q24_embed_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000 AS vec_id, embedding::DOUBLE[] AS e
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 3)),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) *
        |     sqrt(list_dot_product(b.e, b.e))) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b FROM p WHERE cos >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q22_crawl_log" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q22_crawl_log.parquet')",
    "q23_image_pipeline" ->
      s"SELECT * FROM read_parquet('$fixturesDir/q23_image_pipeline.parquet')")
}
