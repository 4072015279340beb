package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (tools/compare.py) and
  * manifest.json, each query's outcome ([[run]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [subset]\n" +
          "  subset: comma-separated names, or @sweep10x (the canonical\n" +
          "  scaled-oracle set, dev.SweepSets); default = all queries\n" +
          "  (SPARK_GRAFT_VERIFY_QUERIES env also accepted)")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.core.GraftSession.local(appName = "graft-verify")
    // optional dev-loop subset (arg 3 or env); driver runs all
    val subset = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_VERIFY_QUERIES"))
      .map {
        case "@sweep10x" => graft.dev.SweepSets.sweep10x.toSet
        case s => s.split(",").map(_.trim).toSet
      }
    val failed = run(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>` as parquet and one
    * entry per query to `<outDir>/manifest.json` (name, status ok or
    * failed, rows written, wall seconds, and the error of a failure),
    * so a failed query is on record even where no oracle names it.
    * Returns the names of the failed queries.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val outcomes = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(e.toString)
        }
      (name, (System.nanoTime() - t0) / 1e9, error)
    }
    val entries = outcomes.map { case (name, wall, error) =>
      val fields = error match {
        case None => s""""status": "ok", "rows": """ +
          spark.read.parquet(s"$outDir/$name").count()
        case Some(e) =>
          s""""status": "failed", "rows": null, "error": ${q(e)}"""
      }
      s"""{"name": ${q(name)}, $fields, "wall_s": """ +
        "%.3f}".formatLocal(java.util.Locale.ROOT, wall)
    }
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      entries.mkString("{\"queries\": [\n", ",\n", "\n]}\n"))
    outcomes.collect { case (name, _, Some(_)) => name }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in the oracle SQL would otherwise make the reader's
  // json.load fail and silently drop every correctness check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
