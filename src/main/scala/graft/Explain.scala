package graft

/** Dev tool: print formatted physical plans for selected queries (all
  * with no args) and a one-line summary of scan pushdown / join
  * strategy / codegen coverage per query, ending in a stable plan
  * fingerprint (`plan=`, see [[planHash]]).
  *
  *   sbt "runMain graft.Explain q01_pricing_summary q04_star_broadcast"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local(appName = "graft-explain")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // materialize THIS df's queryExecution so AQE finalizes the plan
      // (a noop write would execute a separate clone and leave
      // isFinalPlan=false here); Explain runs at sf0.001 so collect is
      // cheap
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r
        .findAllIn(plan).toSeq.count(!_.contains("[]"))
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      // codegen stages appear as "*(n)" prefixes in plan strings
      val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size
      val exch = "Exchange".r.findAllIn(plan).size
      println(s"== $name: pushedFilters=$pushed broadcastHash=$bhj " +
        s"broadcastNL=$bnl sortMerge=$smj codegenSpans=$wsc exchanges=$exch " +
        s"plan=${planHash(df, sfDir)}")
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FULL")) {
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }

  /** Fingerprint of `df`'s static plans: the optimized logical plan and
    * the physical plan before adaptive execution, with expression and
    * plan ids, the JVM-wide counter in lambda variable names (`x_424`),
    * object identities, the data, checkout and temp directories and the
    * random suffix of temp names normalized, hashed to 16 hex
    * digits. The counters above read the final AQE plan, whose join
    * build sides depend on which stage finished first; this hash is
    * equal across runs and checkouts when the plan is.
    *
    * A file scan prints its `Location` cut at
    * `spark.sql.maxMetadataStringLength` characters, so the cut would
    * fall at a different place of the path in checkouts whose paths
    * differ in length: the printed locations are dropped and every
    * scan's root paths are hashed whole instead.
    */
  def planHash(df: org.apache.spark.sql.DataFrame, sfDir: String): String = {
    val qe = df.queryExecution
    val roots = qe.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(", ")
    }
    val physical = qe.sparkPlan.toString
      .replaceAll("Location: .*?(?=, PartitionFilters: )", "Location: ") +
      roots.sorted.mkString("\n", "\n", "")
    val dirs = Seq(new java.io.File(sfDir).getAbsolutePath -> "<data>",
      sys.props("user.dir") -> "<checkout>",
      sys.props("java.io.tmpdir") -> "<tmp>")
    val text = dirs.foldLeft(s"${qe.optimizedPlan}\n$physical") {
      case (t, (dir, tag)) => t.replace(dir, tag)
    }.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(lambda [A-Za-z]+)_\\d+", "$1_")
      .replaceAll("\\$\\$Lambda\\$[^ ,)\\]]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,8}\\b", "@")
      .replaceAll("(<tmp>/[A-Za-z_]*)-?\\d{6,}", "$1")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
