package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{MarkerLog, ParquetTable}
import graft.operators.Dedup
import graft.operators.Dedup.MinHashParams

/** Continuous-ingest maintenance of the q112 stored dedup index —
  * the missing link between [[Dedup.crossNearDupsFromIndex]] (which
  * READS a materialized bands/sets index) and a standing pipeline
  * that must KEEP that index current as document batches land.
  *
  * Per newly landed file (tracked by a [[graft.core.MarkerLog]] fold,
  * crash-safe because a re-fold of an unmarked file reproduces the
  * same verdicts and the survivor append is keyed by doc id):
  *
  *  1. IN-BATCH near-dedup: drop every doc matching a lower-id doc in
  *     the same batch (the q39 survivor rule, via
  *     [[Dedup.minhashNearDups]]);
  *  2. CROSS-CORPUS check: survivors verify against the STORED index
  *     ([[Dedup.crossNearDupsFromIndex]] — O(batch) signature work +
  *     one band-bucket equi-join, the corpus text is never touched);
  *  3. the kept docs' bands / shingle sets / rows APPEND to the index
  *     (delta files only — O(batch) I/O), and every batch doc's
  *     keep/drop verdict (with its best match, q112's ranking rule)
  *     appends to a verdicts audit table.
  *
  * Steady state is therefore O(delta) END TO END: no step reads the
  * corpus text, and the index after any number of folds is
  * bit-identical to recomputing [[Dedup.minhashBands]] /
  * [[Dedup.shingleSets]] over the kept corpus from scratch
  * (OrchestratorSpec proves the two-batch case).
  *
  * Layout under `indexDir`:
  * {{{
  *   bands/     (doc_id, band_idx, band_hash)   append-only
  *   sets/      (doc_id, shingle_set)           append-only
  *   corpus/    (doc_id, text)                  append-only (kept docs)
  *   verdicts/  (doc_id, src_file, keep, dup_scope, dup_of, jaccard)
  *   _folded_files/<name>                       MarkerLog of folded files
  * }}}
  */
object DedupIndexPipeline {

  final case class FoldResult(file: String, kept: Long, dropped: Long)

  private def bandsDir(ix: String) = s"$ix/bands"
  private def setsDir(ix: String) = s"$ix/sets"
  private def corpusDir(ix: String) = s"$ix/corpus"
  private def verdictsDir(ix: String) = s"$ix/verdicts"
  private def fpsDir(ix: String) = s"$ix/fps"
  private def mediaDir(ix: String) = s"$ix/media"
  private def imageVerdictsDir(ix: String) = s"$ix/image_verdicts"
  private def audioFpsDir(ix: String) = s"$ix/audio_fps"
  private def audioMediaDir(ix: String) = s"$ix/audio_media"
  private def audioVerdictsDir(ix: String) = s"$ix/audio_verdicts"

  /** Fold every not-yet-processed `*.parquet` doc file (schema:
    * doc_id, text, …) from `watchDir` into the index. Returns one
    * [[FoldResult]] per newly folded file; idempotent — a second
    * invocation with no new files does nothing.
    */
  def foldNewDocFiles(spark: SparkSession, indexDir: String,
      watchDir: String, n: Int, tau: Double, p: MinHashParams,
      maxBucket: Int = 10000): Seq[FoldResult] =
    MarkerLog(spark, s"$indexDir/_folded_files")
      .foldNew(watchDir, ".parquet") { f =>
        foldBatch(spark, indexDir,
          spark.read.parquet(f.toString).select(col("doc_id"), col("text")),
          f.getName, n, tau, p, maxBucket)
      }

  /** One batch through steps 1–3. Exposed for direct (non-file)
    * ingest paths; [[foldNewDocFiles]] is the standing-DAG entry.
    */
  def foldBatch(spark: SparkSession, indexDir: String, batch: DataFrame,
      srcFile: String, n: Int, tau: Double, p: MinHashParams,
      maxBucket: Int): FoldResult = {
    // 1. in-batch survivors: drop docs matching a lower-id batch doc
    val inPairs = Dedup.minhashNearDups(batch, "doc_id", "text", n, tau, p,
      maxBucket)
    val bestIn = bestMatch(inPairs.select(col("d2").as("doc_id"),
      col("d1").as("dup_of"), col("jaccard")))
    val afterIn = batch.join(bestIn.select("doc_id"), Seq("doc_id"),
      "left_anti")
    // 2. cross-corpus verdicts against the STORED index (absent on
    // the bootstrap fold — everything is new corpus)
    val bestCross =
      if (ParquetTable.exists(spark, bandsDir(indexDir)))
        bestMatch(Dedup.crossNearDupsFromIndex(
          Forget.readAppendDir(spark, bandsDir(indexDir)),
          Forget.readAppendDir(spark, setsDir(indexDir)),
          afterIn, "doc_id", "text", n, tau, p, maxBucket)
          .select(col("bid").as("doc_id"), col("cid").as("dup_of"),
            col("jaccard")))
      else spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("dup_of"),
          lit(0.0).as("jaccard")).limit(0)
    val survivors = afterIn.join(bestCross.select("doc_id"), Seq("doc_id"),
      "left_anti")
      // the fold iterates (in-batch pairs, cross join, three appends
      // share this lineage) — cut it once, same discipline as the CC
      // loop's localCheckpoint
      .localCheckpoint(true)
    // 3. append index + corpus + verdicts
    Dedup.minhashBands(survivors, "doc_id", "text", n, p)
      .write.mode("append").parquet(bandsDir(indexDir))
    Dedup.shingleSets(survivors, "doc_id", "text", n)
      .write.mode("append").parquet(setsDir(indexDir))
    survivors.write.mode("append").parquet(corpusDir(indexDir))
    val verdicts = batch.select(col("doc_id"))
      .join(bestIn.withColumn("dup_scope", lit("batch")), Seq("doc_id"), "left")
      .join(bestCross.select(col("doc_id"), col("dup_of").as("c_dup_of"),
        col("jaccard").as("c_jaccard")), Seq("doc_id"), "left")
      .select(col("doc_id"), lit(srcFile).as("src_file"),
        when(col("dup_of").isNull && col("c_dup_of").isNull, 1).otherwise(0)
          .as("keep"),
        coalesce(col("dup_scope"),
          when(col("c_dup_of").isNotNull, lit("corpus"))).as("dup_scope"),
        coalesce(col("dup_of"), col("c_dup_of")).as("dup_of"),
        coalesce(col("jaccard"), col("c_jaccard")).as("jaccard"))
    verdicts.write.mode("append").parquet(verdictsDir(indexDir))
    val kept = survivors.count()
    FoldResult(srcFile, kept, batch.count() - kept)
  }

  /** q112's best-match rule: per id, best score first (jaccard DESC
    * for text, hamming ASC for fingerprints) with ties to the lowest
    * matched id.
    */
  private def bestMatch(matches: DataFrame, idCol: String = "doc_id",
      score: DataFrame => org.apache.spark.sql.Column =
        _("jaccard").desc): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(score(matches), col("dup_of").asc)
    matches.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------
  // IMAGE lane: the pHash member of the standing index. Same fold
  // protocol as the text lane — in-batch drop, cross-corpus probe
  // against STORED fingerprints ([[Dedup.crossFingerprintDups]]:
  // 64 bits/row, media bytes never re-read), O(delta) appends —
  // under its own marker log, so mixed corpora fold text and image
  // batches into one index dir independently.
  //
  // Additional layout under `indexDir`:
  // {{{
  //   fps/            (media_id, phash)                  append-only
  //   media/          (media_id, content)                append-only
  //   image_verdicts/ (media_id, src_file, keep, dup_scope, dup_of,
  //                    hamming)
  //   _folded_media/<name>                               MarkerLog
  // }}}
  // ---------------------------------------------------------------

  /** Fold every not-yet-processed `*.parquet` media file (schema:
    * media_id, content, …) from `watchDir` into the image lane.
    * Idempotent via the `_folded_media` marker log.
    */
  def foldNewMediaFiles(spark: SparkSession, indexDir: String,
      watchDir: String, maxHamming: Int, maxBucket: Int = 10000,
      bandBits: Int = 16): Seq[FoldResult] =
    foldNewFpFiles(spark, indexDir, watchDir, "_folded_media",
      (batch, src) => foldImageBatch(spark, indexDir, batch, src,
        maxHamming, maxBucket, bandBits))

  /** The AUDIO lane's [[foldNewMediaFiles]]: fold every
    * not-yet-processed `*.parquet` media file from `watchDir` into the
    * audio lane (Haitsma–Kalker fingerprints, own `_folded_audio`
    * marker log, own `audio_fps`/`audio_media`/`audio_verdicts` dirs).
    */
  def foldNewAudioFiles(spark: SparkSession, indexDir: String,
      watchDir: String, coeffs: Seq[Double], frameLen: Int, hop: Int,
      maxHamming: Int, maxBucket: Int = 10000,
      bandBits: Int = 16): Seq[FoldResult] =
    foldNewFpFiles(spark, indexDir, watchDir, "_folded_audio",
      (batch, src) => foldAudioBatch(spark, indexDir, batch, src,
        coeffs, frameLen, hop, maxHamming, maxBucket, bandBits))

  private def foldNewFpFiles(spark: SparkSession, indexDir: String,
      watchDir: String, markerLog: String,
      fold: (DataFrame, String) => FoldResult): Seq[FoldResult] =
    MarkerLog(spark, s"$indexDir/$markerLog")
      .foldNew(watchDir, ".parquet") { f =>
        fold(spark.read.parquet(f.toString)
          .select(col("media_id"), col("content")), f.getName)
      }

  /** One image batch through the fold: fingerprint, in-batch drop
    * (lower-id survivor, best match = lowest hamming), cross-corpus
    * probe against the stored fingerprints, append survivors +
    * fingerprints + verdicts. Undecodable payloads (null phash) have
    * no signature and always keep — the image analogue of docs below
    * the shingle width.
    */
  def foldImageBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, srcFile: String, maxHamming: Int,
      maxBucket: Int, bandBits: Int): FoldResult = {
    import graft.operators.Multimodal
    foldFpBatch(spark, batch, srcFile,
      b => Multimodal.phashFeatures(b)
        .select(col("media_id"), col("phash")),
      "phash", fpsDir(indexDir), mediaDir(indexDir),
      imageVerdictsDir(indexDir), maxHamming, maxBucket, bandBits)
  }

  /** One audio batch through the fold — the image fold with the
    * Haitsma–Kalker fingerprinter
    * ([[graft.operators.Multimodal.audioFingerprints]]); too-short or
    * undecodable payloads (null afp) always keep.
    */
  def foldAudioBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, srcFile: String, coeffs: Seq[Double],
      frameLen: Int, hop: Int, maxHamming: Int,
      maxBucket: Int, bandBits: Int): FoldResult = {
    import graft.operators.Multimodal
    foldFpBatch(spark, batch, srcFile,
      b => Multimodal.audioFingerprints(b, coeffs, frameLen, hop)
        .select(col("media_id"), col("afp")),
      "afp", audioFpsDir(indexDir), audioMediaDir(indexDir),
      audioVerdictsDir(indexDir), maxHamming, maxBucket, bandBits)
  }

  /** The shared 64-bit-fingerprint fold (image pHash / audio HK):
    * fingerprint once, in-batch drop, cross-corpus probe against the
    * stored fingerprints, O(delta) appends. Null fingerprints have no
    * signature and always keep.
    */
  private def foldFpBatch(spark: SparkSession, batch: DataFrame,
      srcFile: String, fingerprint: DataFrame => DataFrame,
      fpCol: String, fpsD: String, mediaD: String, verdictsD: String,
      maxHamming: Int, maxBucket: Int, bandBits: Int): FoldResult = {
    // fingerprint once; reused by in-batch pairs, the cross probe,
    // and the fps append
    val fps = fingerprint(batch.select(col("media_id"), col("content")))
      .localCheckpoint(true)
    val sig = fps.filter(col(fpCol).isNotNull)
    val inPairs = Dedup.fingerprintPairs(sig, "media_id", fpCol,
      maxHamming, maxBucket, bandBits)
    val bestIn = bestMatch(
      inPairs.select(col("d2").as("media_id"), col("d1").as("dup_of"),
        col("hamming")),
      "media_id", _("hamming").asc)
    val afterIn = batch.join(bestIn.select("media_id"), Seq("media_id"),
      "left_anti")
    val afterInSig = sig.join(bestIn.select("media_id"), Seq("media_id"),
      "left_anti")
    val bestCross =
      if (ParquetTable.exists(spark, fpsD))
        bestMatch(Dedup.crossFingerprintDups(
          Forget.readAppendDir(spark, fpsD), afterInSig,
          "media_id", fpCol, maxHamming, maxBucket, bandBits)
          .select(col("bid").as("media_id"), col("cid").as("dup_of"),
            col("hamming")),
          "media_id", _("hamming").asc)
      else spark.emptyDataFrame
        .select(lit(0L).as("media_id"), lit(0L).as("dup_of"),
          lit(0).as("hamming")).limit(0)
    val survivors = afterIn.join(bestCross.select("media_id"),
        Seq("media_id"), "left_anti")
      .localCheckpoint(true)
    afterInSig.join(bestCross.select("media_id"), Seq("media_id"),
        "left_anti")
      .write.mode("append").parquet(fpsD)
    survivors.write.mode("append").parquet(mediaD)
    val verdicts = batch.select(col("media_id"))
      .join(bestIn.withColumn("dup_scope", lit("batch")),
        Seq("media_id"), "left")
      .join(bestCross.select(col("media_id"), col("dup_of").as("c_dup_of"),
        col("hamming").as("c_hamming")), Seq("media_id"), "left")
      .select(col("media_id"), lit(srcFile).as("src_file"),
        when(col("dup_of").isNull && col("c_dup_of").isNull, 1).otherwise(0)
          .as("keep"),
        coalesce(col("dup_scope"),
          when(col("c_dup_of").isNotNull, lit("corpus"))).as("dup_scope"),
        coalesce(col("dup_of"), col("c_dup_of")).as("dup_of"),
        coalesce(col("hamming"), col("c_hamming")).as("hamming"))
    verdicts.write.mode("append").parquet(verdictsD)
    val kept = survivors.count()
    FoldResult(srcFile, kept, batch.count() - kept)
  }

  /** Shared fingerprint-lane invariants (image pHash / audio HK):
    * fingerprint ids are unique, every fingerprint row has its media
    * row, and every DECODABLE kept payload carries a fingerprint
    * (`fingerprint` recomputes them; `fpCol` is its non-null gate).
    */
  private def validateFpIndex(spark: SparkSession, mediaD: String,
      fpsD: String, fpCol: String,
      fingerprint: DataFrame => DataFrame): Boolean = {
    val media = Forget.readAppendDir(spark, mediaD)
    val fps = Forget.readAppendDir(spark, fpsD)
    val nFps = fps.count()
    fps.select("media_id").distinct().count() == nFps &&
      media.select("media_id").distinct().count() == media.count() &&
      fps.join(media, Seq("media_id"), "left_anti").isEmpty &&
      fingerprint(media).filter(col(fpCol).isNotNull)
        .join(fps, Seq("media_id"), "left_anti").isEmpty
  }

  /** Audio-lane invariants — [[validateImageIndex]] for the HK lane. */
  def validateAudioIndex(spark: SparkSession, indexDir: String,
      coeffs: Seq[Double], frameLen: Int, hop: Int): Boolean =
    validateFpIndex(spark, audioMediaDir(indexDir),
      audioFpsDir(indexDir), "afp",
      m => graft.operators.Multimodal
        .audioFingerprints(m, coeffs, frameLen, hop))

  /** Image-lane invariants: fingerprint ids are unique, every
    * fingerprint row has its media row, and every DECODABLE kept
    * payload carries a fingerprint.
    */
  def validateImageIndex(spark: SparkSession, indexDir: String): Boolean =
    validateFpIndex(spark, mediaDir(indexDir), fpsDir(indexDir),
      "phash", graft.operators.Multimodal.phashFeatures)

  /** Index invariants a standing DAG validates after each fold:
    * every kept corpus doc with a signature has exactly `p.bands`
    * band rows and one shingle-set row; ids are unique. (Docs below
    * the shingle width have no signature — counted separately.)
    */
  def validateIndex(spark: SparkSession, indexDir: String,
      p: MinHashParams): Boolean = {
    val corpus = Forget.readAppendDir(spark, corpusDir(indexDir))
    val bands = Forget.readAppendDir(spark, bandsDir(indexDir))
    val sets = Forget.readAppendDir(spark, setsDir(indexDir))
    val nSets = sets.count()
    sets.select("doc_id").distinct().count() == nSets &&
      corpus.select("doc_id").distinct().count() == corpus.count() &&
      bands.count() == nSets * p.bands &&
      bands.join(corpus, Seq("doc_id"), "left_anti").isEmpty
  }
}
