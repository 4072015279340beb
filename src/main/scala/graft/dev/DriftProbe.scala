package graft.dev

/** WITHIN-RUN pass-drift experiment (dev tool, not a driver surface).
  *
  * Observation under test: over the full registry the bench's pass 2
  * total runs slower than pass 1 (pass_drift 1.03 at 228 queries →
  * 1.24 at 278) — a signal that grew with registry size, measured on
  * an idle box, so it is engine/JVM-side, not machine contention.
  *
  * Method (the DRIFT_r13 worktree-control discipline applied WITHIN
  * one JVM): run the registry three times in one session —
  *
  *   pass 1   cold JVM (after the standard one-query warm-up)
  *   pass 2   aged JVM + accumulated Spark session state
  *   CLEANUP  unpersist every lingering RDD (localCheckpoint blocks
  *            pin storage until the driver GCs their handles),
  *            clearCache(), System.gc()
  *   pass 3   aged JVM, CLEAN session state
  *
  * The pass-3 comparison splits the two candidate mechanisms:
  *   pass3 ≈ pass1  → accumulated session state (pinned checkpoint
  *                    blocks / cache pressure) is the drift.
  *   pass3 ≈ pass2  → monotone JVM aging (JIT code-cache /
  *                    metaspace / codegen recompilation) is the
  *                    drift; session state is innocent.
  *
  * Between passes it snapshots the counters each mechanism moves:
  * GC time, heap-after-GC, JIT compilation time, loaded classes,
  * Janino codegen compile count+time (CodegenMetrics), pinned RDD
  * blocks and storage bytes. Output: per-pass totals + per-query
  * walls + counter deltas as JSON to target/drift_r14.json, and the
  * top per-query pass2/pass1 regressions to stderr.
  */
object DriftProbe {

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def jitMillis: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  private def loadedClasses: Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean
      .getTotalLoadedClassCount

  private def heapUsed: Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed

  private def codegen: (Long, Long) = {
    val m = org.apache.spark.metrics.source.CodegenMetrics
    (m.METRIC_SOURCE_CODE_SIZE.getCount,
      m.METRIC_COMPILATION_TIME.getCount)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(appName = "graft-drift")
    val queries = graft.SparkEntry.queries
    val names = graft.SparkEntry.names

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[drift] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    final case class Snap(gc: Long, jit: Long, classes: Long,
        heap: Long, cgSrc: Long, cgCompiles: Long, rdds: Int,
        storageBytes: Long)
    def snap(): Snap = {
      val (src, comp) = codegen
      val rddInfos = spark.sparkContext.getRDDStorageInfo
      Snap(gcMillis, jitMillis, loadedClasses, heapUsed, src, comp,
        spark.sparkContext.getPersistentRDDs.size,
        rddInfos.map(i => i.memSize + i.diskSize).sum)
    }
    def r3(x: Double): String = (math.round(x * 1000) / 1000.0).toString

    run(names.head) // untimed warm-up (Bench's rule)

    val passes = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(String, Double)], Snap, Snap)]
    def timedPass(label: String): Unit = {
      val before = snap()
      val walls = names.map(n => n -> run(n))
      val after = snap()
      passes += ((label, walls, before, after))
      System.err.println(f"[drift] $label total=${walls.map(_._2).sum}%.1fs " +
        s"gc+${after.gc - before.gc}ms jit+${after.jit - before.jit}ms " +
        s"cgCompiles+${after.cgCompiles - before.cgCompiles} " +
        s"rdds=${after.rdds} storage=${after.storageBytes / (1 << 20)}MiB " +
        s"heap=${after.heap / (1 << 20)}MiB")
    }

    timedPass("pass1")
    timedPass("pass2")
    // CLEANUP: release everything a query run can leave pinned
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    System.gc(); Thread.sleep(2000); System.gc()
    timedPass("pass3_after_cleanup")

    // top pass2/pass1 per-query regressions
    val p1 = passes(0)._2.toMap
    val p2 = passes(1)._2.toMap
    // p2 > 0 excludes pass-2 failures (recorded as wall = -1.0) so a
    // failed query never shows up as a bogus negative ratio
    val regress = names.filter(n => p1(n) > 0.3 && p2(n) > 0)
      .map(n => (n, p1(n), p2(n), p2(n) / p1(n)))
      .sortBy(-_._4).take(15)
    System.err.println("[drift] top pass2/pass1 regressions (p1 > 0.3s):")
    regress.foreach { case (n, a, b, r) =>
      System.err.println(f"[drift]   $n  ${a}%.2f -> ${b}%.2f  (${r}%.2fx)")
    }

    val json = passes.map { case (label, walls, b, a) =>
      val qs = walls.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      s"""{"pass":"$label","total":${r3(walls.map(_._2).sum)},
         |"gc_ms":${a.gc - b.gc},"jit_ms":${a.jit - b.jit},
         |"classes":${a.classes - b.classes},
         |"cg_src":${a.cgSrc - b.cgSrc},
         |"cg_compiles":${a.cgCompiles - b.cgCompiles},
         |"rdds_end":${a.rdds},"storage_bytes_end":${a.storageBytes},
         |"heap_end":${a.heap},"queries":$qs}""".stripMargin
        .replaceAll("\n", "")
    }.mkString("[", ",\n", "]")
    val out = java.nio.file.Paths.get("target/drift_r14.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
    System.err.println(s"[drift] wrote $out")
    spark.stop()
  }
}
