package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan dump for the pushdown/broadcast/codegen audit and for the plan
  * half of an A/B: writes the formatted physical plan of each named
  * SparkEntry query, or of every query, to
  * `<outDir>/<query>_<suffix>.txt`. The session is `graft.Bench`'s, at
  * `SPARK_GRAFT_CPUS` slots, so the plans match the ones the bench runs.
  * A query whose plan cannot be built is reported on stderr and the
  * dump exits non-zero after writing the rest.
  *
  * Usage: sbt "runMain graft.Plans <sfDir> <outDir> <suffix> [query...]"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Plans <sfDir> <outDir> <suffix> [query...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.buildSession(cpus)
    new java.io.File(outDir).mkdirs()
    val failed = names.filterNot { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val path = s"$outDir/${name}_$suffix.txt"
        val w = new java.io.PrintWriter(path)
        try w.println(plan) finally w.close()
        System.err.println(s"[plans] wrote $path")
        true
      } catch { case t: Throwable =>
        System.err.println(s"[plans] $name failed: ${t.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
