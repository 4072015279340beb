package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{MarkerLog, VersionedTable}
import graft.operators.AnnIndex

/** Continuous-ingest maintenance of the stored ANN index — the
  * vector-search sibling of [[DedupIndexPipeline]]: as embedding
  * batches land, the standing DAG keeps [[AnnIndex]]'s artifacts
  * current so query-time cost never regresses to "re-encode the
  * corpus".
  *
  * Per newly landed `*.parquet` vector file (tracked by a
  * [[graft.core.MarkerLog]] fold, crash-safe because re-encoding an
  * unmarked file under the frozen model reproduces identical rows):
  *
  *  1. the batch's raw vectors APPEND to the `vectors/` table (the
  *     retrain corpus — codes are lossy, so rebuilding a generation
  *     needs the originals; at 100 TB this is the embedding fact
  *     table the deployment already keeps);
  *  2. BOOTSTRAP: no model yet → [[AnnIndex.build]] trains generation
  *     1 on the batch (√n auto-sizing via seedMod ≤ 0 passes
  *     through);
  *  3. STEADY STATE: [[AnnIndex.appendEncode]] under the FROZEN
  *     latest generation — O(batch) compute and delta-file I/O;
  *  4. RETRAIN TRIGGER: when the corpus has grown past
  *     `retrainGrowth`× its size at the last build, commit a NEW
  *     model generation over the full vectors table (codebooks/
  *     centroids version forward, codes/cells rewrite — the
  *     copy-on-write cost every quantized index pays when its model
  *     changes; with √n auto-sizing the cell count tracks corpus
  *     growth, keeping per-cell candidate work flat).
  *
  *  5. DRIFT TRIGGER: independently of growth, when the stored cells
  *     table's max/mean occupancy passes `maxImbalance`
  *     ([[AnnIndex.cellImbalance]]) — a frozen model serving a
  *     drifted corpus piles the delta into few cells, and probe cost
  *     follows the hottest cell — the fold commits a new generation
  *     immediately (`retrain_drift`).
  *
  * Steady-state ingest is therefore O(delta) END TO END, and retrains
  * are explicit, versioned, amortized events — never a per-batch
  * surprise. The rows-at-last-build watermark is a marker name in a
  * second MarkerLog (bounded driver-side metadata, like the fold
  * markers).
  *
  * Layout under `indexDir`:
  * {{{
  *   codebooks/ centroids/    VersionedTable model generations
  *   codes/ cells/            append-only (AnnIndex layout)
  *   vectors/                 append-only raw vectors (retrain corpus)
  *   _folded_files/<name>     MarkerLog of folded files
  *   _model/rows_at_build_<n> MarkerLog holding the retrain watermark
  * }}}
  */
object AnnIndexPipeline {

  final case class FoldResult(file: String, rows: Long, action: String)

  private def vectorsDir(ix: String) = s"$ix/vectors"
  private def modelLog(spark: SparkSession, ix: String) =
    MarkerLog(spark, s"$ix/_model")

  private def rowsAtLastBuild(spark: SparkSession, ix: String): Option[Long] =
    modelLog(spark, ix).names
      .collect { case s if s.startsWith("rows_at_build_") =>
        s.stripPrefix("rows_at_build_").toLong }
      .sorted.lastOption

  private def recordBuild(spark: SparkSession, ix: String, rows: Long): Unit =
    modelLog(spark, ix).create(s"rows_at_build_$rows")

  /** Fold every not-yet-processed `*.parquet` vector file (schema:
    * idCol, vecCol, …) from `watchDir` into the stored index.
    * Idempotent: a second invocation with no new files does nothing.
    */
  def foldNewVecFiles(spark: SparkSession, indexDir: String,
      watchDir: String, idCol: String, vecCol: String, m: Int,
      pqSeedMod: Int = 0, ivfSeedMod: Int = 0,
      retrainGrowth: Double = 2.0,
      maxImbalance: Double = Double.PositiveInfinity): Seq[FoldResult] = {
    require(retrainGrowth > 1.0, "retrainGrowth must exceed 1")
    require(maxImbalance > 1.0, "maxImbalance must exceed 1 (balanced)")
    val folded = MarkerLog(spark, s"$indexDir/_folded_files")
    folded.foldNew(watchDir, ".parquet") { f =>
      val batch = spark.read.parquet(f.toString)
        .select(col(idCol), col(vecCol))
      val nBatch = batch.count()
      batch.write.mode("append").parquet(vectorsDir(indexDir))
      val all = spark.read.parquet(vectorsDir(indexDir))
      val nAll = all.count()
      val action =
        VersionedTable.latestVersion(spark, s"$indexDir/codebooks") match {
          case None =>
            AnnIndex.build(all, idCol, vecCol, m, pqSeedMod, ivfSeedMod,
              indexDir)
            recordBuild(spark, indexDir, nAll)
            "build"
          case Some(_)
              if nAll >= retrainGrowth *
                rowsAtLastBuild(spark, indexDir).getOrElse(Long.MaxValue) =>
            AnnIndex.build(all, idCol, vecCol, m, pqSeedMod, ivfSeedMod,
              indexDir)
            recordBuild(spark, indexDir, nAll)
            "retrain"
          case Some(_) =>
            AnnIndex.appendEncode(batch, idCol, vecCol, m, indexDir)
            // DRIFT TRIGGER: growth is not the only reason to
            // re-centroid — a frozen model serving a drifted corpus
            // (new source, embedding-model version change) piles the
            // delta into few cells; when max/mean occupancy passes
            // maxImbalance, commit a new generation now
            if (maxImbalance.isFinite &&
                AnnIndex.cellImbalance(spark, indexDir) > maxImbalance) {
              AnnIndex.build(all, idCol, vecCol, m, pqSeedMod, ivfSeedMod,
                indexDir)
              recordBuild(spark, indexDir, nAll)
              "retrain_drift"
            } else "append"
        }
      FoldResult(f.getName, nBatch, action)
    }
  }

  /** Index invariants the standing DAG validates after each fold:
    * every stored vector has exactly m code rows and one cell row;
    * ids are unique and consistent across the three tables; every
    * code references a codeword of the CURRENT codebook generation
    * and every cell a current centroid.
    */
  def validateIndex(spark: SparkSession, indexDir: String, m: Int): Boolean = {
    val mod = AnnIndex.load(spark, indexDir)
    val vecs = spark.read.parquet(vectorsDir(indexDir))
    val n = vecs.count()
    val idsMatch =
      mod.cells.count() == n &&
      mod.cells.select(mod.cells.columns.head).distinct().count() == n &&
      mod.codes.count() == n * m &&
      mod.cells.join(vecs, Seq(vecs.columns.head), "left_anti").isEmpty
    val refsValid =
      mod.codes.join(mod.codebooks.select(col("sub"), col("cw")),
        Seq("sub", "cw"), "left_anti").isEmpty &&
      mod.cells.join(mod.centroids.select(col("cell")),
        Seq("cell"), "left_anti").isEmpty
    idsMatch && refsValid
  }
}
