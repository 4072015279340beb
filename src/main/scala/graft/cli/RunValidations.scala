package graft.cli

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession
import graft.pipeline.Warehouse
import graft.quality.Expectations
import graft.quality.Expectations.ValidationReport

/** One-shot validation sweep over every warehouse layer — the
  * engine's equivalent of the reference's
  * expectations/run_all_expectations.py:29-147 (which loops suites,
  * prints a per-suite pass/fail summary, and exits nonzero on any
  * failure; GE then renders the same results as data docs).
  *
  *   spark-submit --class graft.cli.RunValidations <jar> <warehouseDir>
  *
  * The layers and their suites are `pipeline.Warehouse`'s entries.
  * Each suite is ONE aggregation pass over its table (see
  * quality.Expectations), so the whole sweep costs one scan per layer.
  * A missing table is reported and counts as a failure — a monthly
  * operator should notice a half-built warehouse, not validate around
  * it.
  */
object RunValidations {

  /** (table, Some(report)) per layer, None when the table is missing/
    * unreadable. Separated from main for spec coverage.
    */
  def validateAll(spark: SparkSession, wh: String)
      : Seq[(String, Option[ValidationReport])] = {
    // corpus-side layers validate only when present — a flights-only
    // warehouse is complete without them, but a landed corpus is
    // gated exactly like the marts (see quality.CorpusSuites)
    (Warehouse.validated ++ Warehouse.corpus.filter(_.exists(spark, wh)))
      .map { t =>
        val report =
          try Some(Expectations.validate(t.read(spark, wh), t.suite))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        t.path -> report
      }
  }

  /** True iff every layer exists and every check passed. */
  def allPassed(results: Seq[(String, Option[ValidationReport])]): Boolean =
    results.forall(_._2.exists(_.success))

  /** Markdown data-docs — the engine's stand-in for GE's rendered
    * report: one table per layer with every check's name, outcome, and
    * observed value, plus a summary header. Returns the document.
    */
  def renderReport(results: Seq[(String, Option[ValidationReport])],
      wh: String): String = {
    val (p, t) = (results.count(_._2.exists(_.success)), results.size)
    val header =
      s"""# Data quality report
         |
         |Warehouse: `$wh`  —  **$p/$t suites passed**
         |""".stripMargin
    val sections = results.map {
      case (table, None) =>
        s"\n## $table\n\nMISSING — table unreadable or not built.\n"
      case (table, Some(r)) =>
        val rows = r.results.map(x =>
          s"| ${if (x.success) "PASS" else "**FAIL**"} | ${x.name} | ${x.observed} |")
        s"""
           |## $table — ${r.summary.linesIterator.next()}
           |
           || outcome | check | observed |
           ||---|---|---|
           |${rows.mkString("\n")}
           |""".stripMargin
    }
    header + sections.mkString
  }

  /** Write the report to `<wh>/_validation/report.md` through the
    * warehouse's Hadoop filesystem (so `file:`/`hdfs:` warehouses work
    * like local paths) and return its fully qualified path.
    */
  def writeReport(spark: SparkSession,
      results: Seq[(String, Option[ValidationReport])], wh: String): Path = {
    val p = new Path(wh, "_validation/report.md")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(renderReport(results, wh).getBytes(UTF_8))
    finally out.close()
    fs.makeQualified(p)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: RunValidations <warehouseDir>")
      sys.exit(2)
    }
    val wh = args(0)
    val spark = GraftSession.local(appName = "graft-validate")
    val results = validateAll(spark, wh)
    results.foreach {
      case (table, Some(r)) =>
        println(s"[${if (r.success) "PASS" else "FAIL"}] $table: ${r.summary}")
      case (table, None) =>
        println(s"[FAIL] $table: table missing or unreadable")
    }
    val ok = allPassed(results)
    val (p, t) = (results.count(_._2.exists(_.success)), results.size)
    println(s"[quality] $p/$t suites passed; report: ${writeReport(spark, results, wh)}")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
