package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{MarkerLog, ParquetTable}
import graft.functions.{TextFns, UrlFns}

/** Continuous-ingest CURATION pipeline — the standing-DAG form of
  * q139's funnel, and the third sibling next to [[DedupIndexPipeline]]
  * (near-dup index) and [[AnnIndexPipeline]] (vector index): as crawl
  * batches land, each runs the FineWeb/RefinedWeb stage chain and the
  * survivors accumulate into a curated corpus with an auditable
  * per-batch funnel record.
  *
  * Per newly landed file (tracked by a [[graft.core.MarkerLog]] fold
  * under `curDir/_folded_files` — idempotent, crash-safe):
  *
  *  1. in-batch URL dedup — canonical URL ([[UrlFns.canonicalizeUrl]])
  *     keyed, min doc_id survives;
  *  2. language gate — `keepLangs` membership;
  *  3. Gopher quality rules — the q110 flag set
  *     ([[graft.queries.TextAnalysis.gopherFlags]]), all four must
  *     pass;
  *  4. exact text dedup, in-batch AND cross-corpus: the curated
  *     corpus maintains an append-only (doc_id, content_hash) table,
  *     so the cross check joins batch hashes against stored HASHES —
  *     O(delta) work, the curated text is never re-read (the exact
  *     sibling of the q112 signature index).
  *
  * Appends under `curDir`: `curated/` (surviving rows), `hashes/`
  * (doc_id, h), `metrics/` one funnel row per batch — the
  * q139-funnel observability mart, accumulated over time.
  */
object CurationPipeline {

  final case class FunnelResult(file: String, nInput: Long, afterUrl: Long,
      afterLang: Long, afterGopher: Long, afterExact: Long)

  private def curatedDir(c: String) = s"$c/curated"
  private def hashesDir(c: String) = s"$c/hashes"
  private def metricsDir(c: String) = s"$c/metrics"

  /** Fold every not-yet-processed `*.parquet` batch file (schema:
    * doc_id, url, lang, source, text) from `watchDir` into the
    * curated corpus. Idempotent across re-runs.
    */
  def foldNewDocFiles(spark: SparkSession, curDir: String,
      watchDir: String, keepLangs: Seq[String]): Seq[FunnelResult] =
    MarkerLog(spark, s"$curDir/_folded_files")
      .foldNew(watchDir, ".parquet") { f =>
        curateBatch(spark, curDir, spark.read.parquet(f.toString),
          f.getName, keepLangs)
      }

  /** One batch through stages 1–4 (exposed for non-file ingest). */
  def curateBatch(spark: SparkSession, curDir: String, batch: DataFrame,
      srcFile: String, keepLangs: Seq[String]): FunnelResult = {
    // stages 1–3: cumulative flags in ONE pass over the batch (the
    // q139 shape — the text is not re-scanned between stages)
    val wUrl = Window.partitionBy(col("curl")).orderBy(col("doc_id").asc)
    val gpass = col("r_nwords") * col("r_meanlen") * col("r_stop") *
      col("r_dupfrac") === 1
    val flagged = graft.queries.TextAnalysis.gopherFlags(batch)
      .join(batch.select(col("doc_id"), col("url")), Seq("doc_id"))
      .withColumn("curl", UrlFns.canonicalizeUrl(col("url")))
      .withColumn("url_rn", row_number().over(wUrl))
      .withColumn("s1", (col("url_rn") === 1).cast("int"))
      .withColumn("s2", (col("s1") === 1 &&
        col("lang").isin(keepLangs.map(x => x: Any): _*)).cast("int"))
      .withColumn("s3", (col("s2") === 1 && gpass).cast("int"))
      .withColumn("h", TextFns.rollingHash(col("text")))
    // stage 4a: in-batch exact dedup (survivor-first window, q139)
    val wHash = Window.partitionBy(col("h"))
      .orderBy(col("s3").desc, col("doc_id").asc)
    val inBatch = flagged.withColumn("hrn", row_number().over(wHash))
      .withColumn("s4a", (col("s3") === 1 && col("hrn") === 1).cast("int"))
    // stage 4b: cross-corpus exact dedup against STORED hashes only —
    // the curated text is never re-read
    val staged0 =
      if (ParquetTable.exists(spark, hashesDir(curDir)))
        inBatch.join(
          Forget.readAppendDir(spark, hashesDir(curDir)).select(col("h"))
            .distinct().withColumn("__seen", lit(1)),
          Seq("h"), "left")
          .withColumn("s4",
            (col("s4a") === 1 && col("__seen").isNull).cast("int"))
      else inBatch.withColumn("s4", col("s4a"))
    // one lineage cut before the three appends + counts reuse it
    val staged = staged0.localCheckpoint(true)
    val survivors = staged.filter(col("s4") === 1)
    survivors
      .select(col("doc_id"), col("curl").as("url"), col("lang"),
        col("source"), col("text"))
      .write.mode("append").parquet(curatedDir(curDir))
    survivors.select(col("doc_id"), col("h"))
      .write.mode("append").parquet(hashesDir(curDir))
    val m = staged.agg(count(lit(1)), sum(col("s1")), sum(col("s2")),
      sum(col("s3")), sum(col("s4"))).head()
    val r = FunnelResult(srcFile, m.getLong(0), m.getLong(1), m.getLong(2),
      m.getLong(3), m.getLong(4))
    spark.createDataFrame(Seq(
      (r.file, r.nInput, r.afterUrl, r.afterLang, r.afterGopher,
        r.afterExact)))
      .toDF("src_file", "n_input", "after_url", "after_lang",
        "after_gopher", "after_exact")
      .write.mode("append").parquet(metricsDir(curDir))
    r
  }

  /** Invariants a standing DAG validates after each fold: curated ids
    * unique, one stored hash per curated row, curated content hashes
    * globally distinct (the cross-corpus stage's whole contract), and
    * each metrics row monotone along the funnel.
    */
  def validateCurated(spark: SparkSession, curDir: String): Boolean = {
    val curated = Forget.readAppendDir(spark, curatedDir(curDir))
    val hashes = Forget.readAppendDir(spark, hashesDir(curDir))
    val metrics = spark.read.parquet(metricsDir(curDir))
    val n = curated.count()
    curated.select("doc_id").distinct().count() == n &&
      hashes.count() == n &&
      hashes.select("h").distinct().count() == n &&
      metrics.filter(!(col("n_input") >= col("after_url") &&
        col("after_url") >= col("after_lang") &&
        col("after_lang") >= col("after_gopher") &&
        col("after_gopher") >= col("after_exact"))).isEmpty
  }
}
