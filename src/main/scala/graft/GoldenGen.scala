package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** One-shot generator for the committed golden fixtures backing the
  * queries whose internals (minhash permutations, splitmix64, xxhash64
  * centroid sampling, phash) are not expressible in DuckDB SQL.
  *
  * Usage: runMain graft.GoldenGen <sfDir> <outDir>
  * The driver's DuckDB oracle then reads the fixture with read_parquet and
  * compares it against the live Verify output — a byte-exact regression
  * pin, regenerated only when an operator's semantics intentionally change.
  */
object GoldenGen {

  val goldenQueries = Seq("q15_minhash_lsh", "q16_simhash", "q19_ann_ivf",
    "q20_fingerprint", "q22_crawl_log", "q23_image_pipeline")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    goldenQueries.foreach { name =>
      val tmp = s"$outDir/_tmp_$name"
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[golden] wrote $outDir/$name.parquet")
    }
    writeAllPropertiesGolden(outDir)
    spark.stop()
  }

  /** `get_all_properties` section-list goldens (baseurl.py:520-574): one
    * HTML page and one RSS feed (with Entries) off the deterministic
    * synthetic internet, as the crawler buddy serves them. WireSpec and
    * RemoteSpec byte-compare against these. */
  def writeAllPropertiesGolden(outDir: String): Unit = {
    import graft.fetch.{SyntheticConfig, SyntheticInternet}
    val buddy = new graft.remote.CrawlerBuddy(SyntheticInternet(
      SyntheticConfig(seed = 42L, nSites = 1, pagesPerSite = 2,
        imagesPerSite = 1, itemsPerFeed = 2)))
    Files.writeString(Paths.get(s"$outDir/all_properties_html.json"),
      buddy.allPropertiesJson("https://site-0.test"))
    Files.writeString(Paths.get(s"$outDir/all_properties_rss.json"),
      buddy.allPropertiesJson("https://site-0.test/feed"))
    println(s"[golden] wrote $outDir/all_properties_{html,rss}.json")
  }
}
