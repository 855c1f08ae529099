package graft.store

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-*semantics* snapshot store over plain Parquet (SURVEY.md §7.4).
  *
  * No Iceberg jars ship in this environment, so the observable properties
  * the north rule needs — snapshot isolation, exact resume, time travel to
  * batch i, per-partition lineage — are provided by: one immutable Parquet
  * directory per (table, snapshot) and a manifest JSON per snapshot
  * recording the data path + row count + lineage note. The manifest is the
  * commit point: readers only ever follow a fully-written manifest, and the
  * latest snapshot is the highest id that has one. Writers never mutate a
  * committed snapshot; [[drop]] removes one whole. Swapping in a real
  * Iceberg catalog touches only this file.
  */
final class SnapshotStore(root: String) {

  private def tableDir(table: String) = Paths.get(root, table)
  private def snapshotDir(table: String, snapshot: Long) =
    tableDir(table).resolve(f"snap-$snapshot%06d")

  /** Commit `df` as snapshot `snapshot` of `table`. Data first, manifest
    * last — a crash leaves either the old or the new snapshot fully
    * visible, never a torn one. The manifest row count
    * rides the write as an observed metric: one evaluation per commit. */
  def commit(table: String, snapshot: Long, df: DataFrame,
      lineage: Map[String, String] = Map.empty): Unit = {
    val dir = snapshotDir(table, snapshot)
    val dataPath = dir.resolve("data").toString
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataPath)
    val rows = obs.get("rows").asInstanceOf[Long]

    val lineageJson = lineage.map { case (k, v) =>
      s""""${escape(k)}":"${escape(v)}""""
    }.mkString("{", ",", "}")
    // per-partition lineage: every data file (one per write partition)
    // with its byte size — read straight from the written directory, no
    // extra Spark job; a resume can verify parts individually
    val partsJson =
      partFiles(Paths.get(dataPath)).map { case (n, size) =>
        s""""${escape(n)}":$size"""
      }.sorted.mkString("{", ",", "}")
    val manifest =
      s"""{"table":"${escape(table)}","snapshot":$snapshot,
         |"data":"${escape(dataPath)}","rows":$rows,
         |"partitions":$partsJson,
         |"lineage":$lineageJson}""".stripMargin.replace("\n", "")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("manifest.json"), manifest)
  }

  /** Drop snapshot `snapshot` of `table`, if present. The manifest goes
    * first, so the snapshot leaves [[snapshots]] before any of its data
    * does; a crash midway leaves only unlisted data, which a later commit
    * of the same id overwrites. */
  def drop(table: String, snapshot: Long): Unit = {
    val dir = snapshotDir(table, snapshot)
    Files.deleteIfExists(dir.resolve("manifest.json"))
    if (Files.exists(dir)) {
      val stream = Files.walk(dir)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally stream.close()
    }
  }

  /** All committed snapshot ids of `table`, ascending (a snapshot counts
    * only once its manifest is fully written — torn writes are invisible,
    * matching the reader contract of [[commit]]). */
  def snapshots(table: String): Seq[Long] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val stream = Files.list(dir)
    try {
      val buf = scala.collection.mutable.ListBuffer[Long]()
      stream.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("snap-") &&
            Files.exists(p.resolve("manifest.json")))
          n.substring(5).toLongOption.foreach(buf += _)
      }
      buf.toSeq.sorted
    } finally stream.close()
  }

  /** Latest committed snapshot id of `table`, if any. */
  def latestSnapshot(table: String): Option[Long] =
    snapshots(table).lastOption

  /** Read a specific snapshot (time travel), or the latest. A snapshot
    * is readable only once its manifest exists — the manifest is written
    * after the data, so this refuses torn (partially written) snapshots
    * instead of silently loading a subset of part files. */
  def read(spark: SparkSession, table: String,
      snapshot: Option[Long] = None): Option[DataFrame] = {
    val snap = snapshot.orElse(latestSnapshot(table)).getOrElse(return None)
    val dir = snapshotDir(table, snap)
    if (!Files.exists(dir.resolve("manifest.json"))) return None
    val dataPath = dir.resolve("data")
    if (!Files.exists(dataPath)) return None
    Some(spark.read.parquet(dataPath.toString))
  }

  def manifest(table: String, snapshot: Long): Option[String] = {
    val p = snapshotDir(table, snapshot).resolve("manifest.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Check a committed snapshot's per-partition lineage against what is
    * on disk: every part file the manifest recorded must exist with the
    * recorded byte size, and no extra part files may have appeared.
    * Returns the mismatches (empty = verified) so a resume can refuse a
    * torn or tampered snapshot instead of silently reading it. */
  def verify(table: String, snapshot: Long): Seq[String] = {
    val man = manifest(table, snapshot)
      .getOrElse(return Seq(s"missing manifest for $table/$snapshot"))
    val recorded = """"(part-[^"]+)"\s*:\s*(\d+)""".r
      .findAllMatchIn(man).map(m => m.group(1) -> m.group(2).toLong).toMap
    val dataPath = snapshotDir(table, snapshot).resolve("data")
    if (!Files.exists(dataPath))
      return Seq(s"missing data dir $dataPath")
    val actual = partFiles(dataPath).toMap
    val missing = (recorded.keySet -- actual.keySet).toSeq.sorted
      .map(n => s"missing part $n")
    val extra = (actual.keySet -- recorded.keySet).toSeq.sorted
      .map(n => s"unrecorded part $n")
    val resized = recorded.keySet.intersect(actual.keySet).toSeq.sorted
      .filter(n => recorded(n) != actual(n))
      .map(n => s"size mismatch $n: manifest ${recorded(n)} disk ${actual(n)}")
    missing ++ extra ++ resized
  }

  /** part-* files of a data dir with byte sizes; the listing stream is
    * closed deterministically (it holds a directory fd). */
  private def partFiles(dataPath: java.nio.file.Path): Seq[(String, Long)] = {
    val stream = Files.list(dataPath)
    try {
      val buf = scala.collection.mutable.ListBuffer[(String, Long)]()
      stream.iterator().forEachRemaining { f =>
        val n = f.getFileName.toString
        if (n.startsWith("part-")) buf += (n -> Files.size(f))
      }
      buf.toSeq
    } finally stream.close()
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
}
