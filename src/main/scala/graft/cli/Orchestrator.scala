package graft.cli

/** Dependency-aware task runner — the engine's equivalent of the
  * reference's Airflow DAG (airflow/dags/lakehouse_etl_pipeline.py:
  * 19-67: bronze >> silver >> gold >> [export, validate] with
  * retries=2 and a retry delay on a monthly schedule).
  *
  * Scope, honestly drawn: this provides the DAG SEMANTICS — validated
  * dependency graph, topological execution, per-task retries with
  * delay, downstream skip on upstream failure, machine-readable run
  * report. WHEN to fire (the monthly cron) stays with the operator's
  * scheduler (cron/systemd timer/Airflow calling this main), exactly
  * as the reference's DAG body is separable from its `schedule`
  * field. No new daemon, no external dependency.
  *
  * Tasks run sequentially in dependency order, as in the reference's
  * linear Airflow chain. The overlap lives inside the stages: each one
  * writes its independent tables at the same time (`core.Overlap`;
  * gold's dims, then its marts, export's three CSVs), which fills the
  * cores that one small write leaves idle. At scale those writes share
  * the executors under Spark's FIFO scheduler, so the first-submitted
  * job still gets the slots first and the overlap only back-fills.
  */
object Orchestrator {

  final case class TaskDef(name: String, dependsOn: Seq[String],
      run: () => Unit, retries: Int = 2, retryDelayMs: Long = 0L)

  sealed trait Status
  case object Succeeded extends Status
  case object Failed extends Status
  case object UpstreamFailed extends Status

  final case class TaskRun(name: String, status: Status, attempts: Int,
      error: Option[String])

  /** Validate the graph (unknown/duplicate names, cycles) and return
    * a topological order — deterministic: among ready tasks, the one
    * declared first runs first.
    */
  def topoOrder(tasks: Seq[TaskDef]): Seq[TaskDef] = {
    val byName = tasks.map(t => t.name -> t).toMap
    require(byName.size == tasks.size, "duplicate task names")
    for (t <- tasks; d <- t.dependsOn)
      require(byName.contains(d), s"task ${t.name} depends on unknown task $d")
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    var remaining = tasks
    while (remaining.nonEmpty) {
      val (ready, blocked) =
        remaining.partition(_.dependsOn.forall(done.contains))
      require(ready.nonEmpty,
        s"dependency cycle among: ${blocked.map(_.name).mkString(", ")}")
      done += ready.head.name
      remaining = ready.tail ++ blocked
    }
    done.toSeq.map(byName)
  }

  /** Execute the DAG. A task failing after its retries marks every
    * transitive downstream task UpstreamFailed (never run) — the rest
    * of the DAG still executes, like Airflow's default trigger rule.
    */
  def runDag(tasks: Seq[TaskDef],
      sleep: Long => Unit = Thread.sleep): Seq[TaskRun] = {
    val failed = scala.collection.mutable.Set.empty[String]
    topoOrder(tasks).map { t =>
      if (t.dependsOn.exists(failed.contains)) {
        failed += t.name
        TaskRun(t.name, UpstreamFailed, 0, None)
      } else {
        var attempts = 0
        var lastError: Option[String] = None
        var ok = false
        while (!ok && attempts <= t.retries) {
          if (attempts > 0 && t.retryDelayMs > 0) sleep(t.retryDelayMs)
          attempts += 1
          try { t.run(); ok = true; lastError = None }
          catch { case e: Throwable =>
            lastError = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        if (!ok) failed += t.name
        TaskRun(t.name, if (ok) Succeeded else Failed, attempts, lastError)
      }
    }
  }

  /** The reference DAG, one month per invocation:
    * bronze → silver → gold → {export, validate}.
    */
  def monthlyDag(spark: org.apache.spark.sql.SparkSession,
      flightsCsv: String, airportsCsv: String, carriersCsv: String,
      wh: String, incremental: Boolean): Seq[TaskDef] = {
    val ingest =
      if (incremental)
        TaskDef("incremental", Nil, () => {
          graft.pipeline.Incremental.run(
            spark, wh, flightsCsv, airportsCsv, carriersCsv)
          ()
        })
      else TaskDef("gold", Seq("silver"),
        () => RunPipeline.runGold(spark, wh))
    if (incremental)
      Seq(ingest,
        TaskDef("export", Seq("incremental"), () => RunPipeline.runExport(spark, wh)),
        TaskDef("validate", Seq("incremental"), () =>
          require(RunValidations.allPassed(RunValidations.validateAll(spark, wh)),
            "validation failed")))
    else
      Seq(
        TaskDef("bronze", Nil,
          () => RunPipeline.runBronze(spark, flightsCsv, airportsCsv, carriersCsv, wh)),
        TaskDef("silver", Seq("bronze"), () => RunPipeline.runSilver(spark, wh)),
        ingest,
        TaskDef("export", Seq("gold"), () => RunPipeline.runExport(spark, wh)),
        TaskDef("validate", Seq("gold"), () =>
          require(RunValidations.allPassed(RunValidations.validateAll(spark, wh)),
            "validation failed")))
  }

  /** Streaming handoff DAG: the checkpointed file-stream ingest lands
    * raw rows exactly-once in the stream-bronze audit table, then the
    * SAME new files fold through the idempotent incremental pipeline
    * (pipeline.Incremental.foldNewFiles — marker-log file tracking, so
    * a re-run with no new files is a no-op), then validation sweeps
    * the warehouse. This is the continuous-ingest counterpart of
    * monthlyDag's batch chain.
    */
  def streamingDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, airportsCsv: String, carriersCsv: String,
      wh: String): Seq[TaskDef] = Seq(
    TaskDef("stream_ingest", Nil, () =>
      graft.streaming.StreamIngest.ingestOnce(spark, watchDir,
        graft.pipeline.FlightSchema.flightData,
        graft.pipeline.Warehouse.streamBronze.at(wh),
        graft.pipeline.Warehouse.streamCheckpoint.at(wh))),
    TaskDef("incremental_fold", Seq("stream_ingest"), () => {
      graft.pipeline.Incremental.foldNewFiles(
        spark, wh, watchDir, airportsCsv, carriersCsv)
      ()
    }),
    TaskDef("validate", Seq("incremental_fold"), () =>
      require(RunValidations.allPassed(RunValidations.validateAll(spark, wh)),
        "validation failed")))

  /** Document-corpus dedup DAG: fold newly landed doc files through
    * the stored-signature-index pipeline (in-batch near-dedup →
    * cross-corpus check against the index → survivor append), then
    * validate the index invariants. The continuous-ingest counterpart
    * of q112: steady-state dedup cost stays O(delta) END TO END
    * because the standing DAG maintains the bands/sets index the
    * cross check reads — the corpus text is never re-scanned.
    */
  def dedupDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, indexDir: String, n: Int, tau: Double,
      p: graft.operators.Dedup.MinHashParams): Seq[TaskDef] = Seq(
    TaskDef("dedup_fold", Nil, () => {
      graft.pipeline.DedupIndexPipeline.foldNewDocFiles(
        spark, indexDir, watchDir, n, tau, p)
      ()
    }),
    TaskDef("dedup_validate", Seq("dedup_fold"), () =>
      require(graft.pipeline.DedupIndexPipeline.validateIndex(
        spark, indexDir, p), "dedup index invariants violated")))

  /** Image lane of the standing dedup index: fold newly landed media
    * files (pHash fingerprint → in-batch drop → cross-corpus probe
    * against STORED fingerprints → O(delta) appends) under its own
    * marker log, then validate the image-lane invariants. Shares
    * `indexDir` with [[dedupDag]] — a mixed corpus folds text and
    * image batches into one index independently.
    */
  def imageDedupDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, indexDir: String, maxHamming: Int,
      maxBucket: Int = 10000, bandBits: Int = 16): Seq[TaskDef] = Seq(
    TaskDef("image_dedup_fold", Nil, () => {
      graft.pipeline.DedupIndexPipeline.foldNewMediaFiles(
        spark, indexDir, watchDir, maxHamming, maxBucket, bandBits)
      ()
    }),
    TaskDef("image_dedup_validate", Seq("image_dedup_fold"), () =>
      require(graft.pipeline.DedupIndexPipeline.validateImageIndex(
        spark, indexDir), "image dedup index invariants violated")))

  /** Audio-lane dedup DAG — [[imageDedupDag]] with the Haitsma–Kalker
    * fingerprinter; folds into the same index dir under its own
    * marker log.
    */
  def audioDedupDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, indexDir: String, coeffs: Seq[Double],
      frameLen: Int, hop: Int, maxHamming: Int,
      maxBucket: Int = 10000, bandBits: Int = 16): Seq[TaskDef] = Seq(
    TaskDef("audio_dedup_fold", Nil, () => {
      graft.pipeline.DedupIndexPipeline.foldNewAudioFiles(
        spark, indexDir, watchDir, coeffs, frameLen, hop, maxHamming,
        maxBucket, bandBits)
      ()
    }),
    TaskDef("audio_dedup_validate", Seq("audio_dedup_fold"), () =>
      require(graft.pipeline.DedupIndexPipeline.validateAudioIndex(
        spark, indexDir, coeffs, frameLen, hop),
        "audio dedup index invariants violated")))

  /** Embedding-corpus ANN-index DAG: fold newly landed vector files
    * through the stored-ANN-index pipeline (bootstrap build → frozen-
    * model O(delta) append-encode → growth-triggered retrain as a new
    * model generation), then validate the index invariants. The
    * continuous-ingest counterpart of q117's stored artifacts, and the
    * vector sibling of [[dedupDag]].
    */
  def annDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, indexDir: String, idCol: String, vecCol: String,
      m: Int, retrainGrowth: Double = 2.0): Seq[TaskDef] = Seq(
    TaskDef("ann_fold", Nil, () => {
      graft.pipeline.AnnIndexPipeline.foldNewVecFiles(
        spark, indexDir, watchDir, idCol, vecCol, m,
        retrainGrowth = retrainGrowth)
      ()
    }),
    TaskDef("ann_validate", Seq("ann_fold"), () =>
      require(graft.pipeline.AnnIndexPipeline.validateIndex(
        spark, indexDir, m), "ann index invariants violated")))

  /** Document-corpus CURATION DAG: fold newly landed doc batches
    * through the q139 funnel (URL dedup → language gate → Gopher
    * rules → exact dedup, in-batch AND against the stored curated-
    * corpus hash table), then validate the curated-corpus invariants.
    * The standing-pipeline form of the curation funnel, and the third
    * sibling next to [[dedupDag]] / [[annDag]]: steady-state cost is
    * O(delta) because the cross-corpus stage joins stored HASHES, not
    * text.
    */
  def curationDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, curDir: String,
      keepLangs: Seq[String]): Seq[TaskDef] = Seq(
    TaskDef("curation_fold", Nil, () => {
      graft.pipeline.CurationPipeline.foldNewDocFiles(
        spark, curDir, watchDir, keepLangs)
      ()
    }),
    TaskDef("curation_validate", Seq("curation_fold"), () =>
      require(graft.pipeline.CurationPipeline.validateCurated(spark, curDir),
        "curated corpus invariants violated")))

  /** END-TO-END dataset build DAG — the capstone composition: landed
    * crawl batches → curation funnel (q139 stages, stored-hash exact
    * dedup) → MinHash near-dup fold against the stored signature
    * index (q112's O(delta) path, watching the curated output) →
    * packed training sequences (seeded shuffle + token packing) →
    * validation of every layer's invariants. A user pointing this at
    * a landing directory gets a training-ready work order out; the
    * fold stages stay O(delta), and only the final packing is a
    * per-epoch full rewrite (documented in [[
    * graft.pipeline.DatasetPipeline]]).
    */
  def datasetDag(spark: org.apache.spark.sql.SparkSession,
      watchDir: String, curDir: String, indexDir: String, outDir: String,
      keepLangs: Seq[String], n: Int, tau: Double,
      p: graft.operators.Dedup.MinHashParams, seed: Long = 42L,
      numShards: Int = 4, seqLen: Int = 64,
      merges: Seq[(String, String)] =
        graft.operators.BpeTrainer.demoMerges): Seq[TaskDef] = Seq(
    TaskDef("dataset_curate", Nil, () => {
      graft.pipeline.CurationPipeline.foldNewDocFiles(
        spark, curDir, watchDir, keepLangs)
      ()
    }),
    TaskDef("dataset_neardup", Seq("dataset_curate"), () => {
      graft.pipeline.DedupIndexPipeline.foldNewDocFiles(
        spark, indexDir, s"$curDir/curated", n, tau, p)
      ()
    }),
    TaskDef("dataset_pack", Seq("dataset_neardup"), () => {
      graft.pipeline.DatasetPipeline.packCorpus(
        spark, s"$indexDir/corpus", outDir, seed, numShards, seqLen)
      ()
    }),
    TaskDef("dataset_tokenize", Seq("dataset_neardup"), () => {
      graft.pipeline.DatasetPipeline.packIdSequences(
        spark, s"$indexDir/corpus", outDir, seed, numShards, seqLen,
        merges)
      ()
    }),
    TaskDef("dataset_validate", Seq("dataset_pack", "dataset_tokenize"),
      () => {
      require(graft.pipeline.CurationPipeline.validateCurated(spark, curDir),
        "curated corpus invariants violated")
      require(graft.pipeline.DedupIndexPipeline.validateIndex(spark,
        indexDir, p), "dedup index invariants violated")
      require(graft.pipeline.DatasetPipeline.validatePacked(spark,
        s"$indexDir/corpus", outDir, seqLen),
        "packed dataset invariants violated")
      require(graft.pipeline.DatasetPipeline.validateSequences(spark,
        s"$indexDir/corpus", outDir, seqLen, merges),
        "training-sequence invariants violated")
    }))

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: Orchestrator <flightsCsvOrWatchDir> <airportsCsv> " +
          "<carriersCsv> <warehouseDir> [--incremental | --stream]")
      sys.exit(2)
    }
    val Array(flightsCsv, airportsCsv, carriersCsv, wh) = args.take(4)
    val incremental = args.contains("--incremental")
    val streaming = args.contains("--stream")
    val spark = graft.core.GraftSession.local(appName = "graft-orchestrator")
    val runs = runDag(
      if (streaming)
        streamingDag(spark, flightsCsv, airportsCsv, carriersCsv, wh)
      else monthlyDag(spark, flightsCsv, airportsCsv, carriersCsv, wh, incremental))
    runs.foreach(r => println(
      s"[dag] ${r.name}: ${r.status} after ${r.attempts} attempt(s)" +
        r.error.map(e => s" — $e").getOrElse("")))
    spark.stop()
    sys.exit(if (runs.forall(_.status == Succeeded)) 0 else 1)
  }
}
