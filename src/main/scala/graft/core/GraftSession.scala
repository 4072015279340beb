package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.array.ByteArrayMethods

/** SparkSession factory with the engine's standard configuration.
  *
  * Ports the intent of the reference's session builder
  * (configs/spark_config.py:27-58) — UTC session timezone, AQE with
  * partition coalescing and skew-join handling — re-tuned for this
  * engine: shuffle partitions sized to the local core count instead of
  * the 200 default (on a real cluster this is set to ~2-3x total cores
  * via --conf; the builder here only provides local-mode defaults).
  *
  * Memory pages are sized to the heap ([[pageSizeBytes]]). Spark's
  * default page is nextPow2(execution pool / cores / 16) clamped to
  * 1–64 MB: 16 MB in a 3 GB driver, 64 MB in a 7 GB one. A broadcast
  * hash relation on a non-long key (`UnsafeHashedRelation`: the string
  * AIRLINE_CODE / AIRPORT_CODE / ROUTE_CODE dim joins) allocates one
  * whole page however few rows it holds, and keeps it until the
  * ContextCleaner drops the broadcast, so a gold build's seven such
  * relations held 112 MB for dims of a few KB. The derived page is the
  * smallest power of two ≥ 1 MB (Spark's floor) such that 8192 pages —
  * `TaskMemoryManager`'s page-table size — cover the whole heap, so one
  * task runs out of heap before it can hit "Have already allocated a
  * maximum of 8192 pages": 1 MB up to an 8 GB heap, 16 MB at 128 GB.
  * A `--conf spark.buffer.pageSize` (a system property by the time the
  * driver builds its session) still overrides it; on a real cluster the
  * value derives from the driver's heap, so size it for the executors'
  * heap there.
  */
object GraftSession {

  /** Spark's memory-page size for a JVM with `maxHeap` bytes of heap
    * (see the object doc): nextPow2(max(1 MB, ⌈maxHeap / 8192⌉)).
    */
  def pageSizeBytes(maxHeap: Long = Runtime.getRuntime.maxMemory): Long =
    ByteArrayMethods.nextPowerOf2(math.max(1L << 20, (maxHeap + 8191) / 8192))

  /** Apply graft's standard confs to any builder (shared by mains and
    * tests so plans are identical everywhere).
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4 defaults to ANSI mode; the reference ran Spark 3.5
      // non-ANSI, whose ÷0→NULL / failed-cast→NULL semantics are
      // load-bearing (mart KPIs on all-cancelled groups, SURVEY §7.4).
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dims/lookups in this engine are small; raise the auto-broadcast
      // bound like the reference's fact build (build_fact_flights.py:113)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // DataFrame shuffles are Tungsten-encoded regardless; this only
      // touches the few RDD-layer operators (rank-selection
      // percentiles) and broadcasts, where Kryo is ~2x JavaSerializer
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // testdata events.parquet has shipped ts as TIMESTAMP(NANOS)
      // (which vanilla Spark rejects — this conf reads it as an
      // epoch-nanos long) and as TIMESTAMP(MICROS); Tables.microsCol
      // normalizes either layout to epoch-µs. Keep the conf: it is a
      // no-op for µs data and keeps nanos files readable.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // runtime bloom-filter pushdown for selective joins
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // The generated-class cache defaults to 100 entries; the ~290-
      // query registry emits ~9,700 codegen units per full pass, so a
      // long-lived session (the bench's pass 2, any interactive reuse)
      // recompiles EVERYTHING — measured in bench/DRIFT_r14.md:
      // 9,768 janino compiles and 191 s of background JIT in pass 2
      // with zero cross-pass reuse. 16k entries fits a full registry
      // pass (metaspace cost ~hundreds of MB against a 128 GiB JVM)
      // and makes repeated plans compile once per JVM.
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      // managed-table warehouse (bucketed tables) out of the repo tree
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // Every SQLExecution start (and every AQE re-plan) eagerly
      // stringifies the physical plan for the listener bus. For the
      // wide-expression queries here (minhash/LSH trees) the default
      // "formatted" mode burns seconds of driver CPU per job in
      // TreeNode.nodeName regexes (measured via jstack mid-stall —
      // main thread RUNNABLE in String.replaceAll, executors idle).
      // "simple" mode + a bounded plan string make it O(small). 256 KB
      // fits the widest legitimate plans (the minhash/LSH signature
      // trees stringify at ~150 KB) with zero truncation warnings
      // while still capping a pathological plan's stringify cost.
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.maxPlanStringLength", (256 * 1024).toString)
      // the schema-listing sibling of maxPlanStringLength: wide
      // projections (34-col silver, stacked percentile structs) exceed
      // the 25-field default and warn once per job otherwise
      .config("spark.sql.debug.maxToStringFields", "200")
      .config("spark.buffer.pageSize",
        sys.props.getOrElse("spark.buffer.pageSize", pageSizeBytes().toString))

  /** Local session: `cores` executor threads in-process. */
  def local(cores: Int = localCores, appName: String = "graft"): SparkSession = {
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName)
        .withExtensions(graft.expressions.GraftExtensions.inject),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every unpartitioned window in this engine is a DELIBERATE
    // single-partition pass over a bounded-tiny intermediate (the
    // packing operator's per-bucket totals — one row per bucket; the
    // BM25 rank over its k survivors). WindowExec warns on each, which
    // at bench cadence is pure noise drowning real warnings — the
    // genuinely dangerous global-window-over-data shape is designed
    // out (see SCALE.md) and would show up as a wall-time cliff, not
    // a log line. This muting is process-global, so the lost early
    // signal is replaced by a COMPILED control: PlanQualitySpec sweeps
    // every oracle query's physical plan for empty-partitionSpec
    // Window nodes against an explicit bounded-intermediate allowlist.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors().min(32))
}
