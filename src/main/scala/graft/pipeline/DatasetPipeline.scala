package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.TrainingPrep

/** Training-dataset materialization — the LAST stage of the
  * end-to-end dataset build ([[graft.cli.Orchestrator.datasetDag]]):
  * given the curated, near-dup-free corpus snapshot, produce the
  * shard writer's work order — a seeded deterministic corpus shuffle
  * plus the token-packing offset table that maps every document into
  * fixed-length training sequences.
  *
  * Unlike the upstream folds (which are O(delta) appends), packing is
  * a FULL REWRITE by design: sequence offsets are a prefix sum over
  * the global shuffled order, so any corpus change moves every
  * downstream offset — the packed table is a pure function of the
  * corpus snapshot and is regenerated per epoch materialization
  * (cost is linear in the corpus, once per epoch, and entirely
  * shuffle-bounded by [[TrainingPrep.packOffsets]]' two-phase
  * bucketed prefix sum — no global sort).
  */
object DatasetPipeline {

  /** Pack the corpus at `corpusDir` (doc_id, text, …) into
    * `outDir/packed`: seeded shuffle order (shard, pos), whitespace
    * token counts, and per-document sequence offsets for `seqLen`-
    * token training sequences. Returns the packed row count.
    */
  def packCorpus(spark: SparkSession, corpusDir: String, outDir: String,
      seed: Long, numShards: Int, seqLen: Int): Long = {
    val corpus = Forget.readAppendDir(spark, corpusDir)
      .withColumn("n_tokens",
        size(TextFns.tokens(col("text"))).cast("long"))
    val ordered = TrainingPrep.shuffleOrder(corpus, "doc_id", seed,
      numShards)
      // one monotone order key over (shard, pos): shards are disjoint
      // ranges, so packing never interleaves shards
      .withColumn("ord",
        col("shard").cast("long") * lit(1L << 40) + col("pos"))
    val packed = TrainingPrep.packOffsets(ordered, "ord", "n_tokens",
      seqLen)
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("offset"), col("first_seq"), col("last_seq"), col("n_seqs"))
    packed.write.mode("overwrite").parquet(s"$outDir/packed")
    spark.read.parquet(s"$outDir/packed").count()
  }

  /** Materialize TRAINING-READY sequences: tokenize the corpus to
    * vocabulary ids with a shipped merge list
    * ([[graft.operators.BpeTrainer.bpeEncodeIds]]), order it with the
    * seeded shuffle, pack into `seqLen`-id sequences via the bucketed
    * prefix sum, and ASSEMBLE each sequence's actual id array from its
    * contributing document slices — [[packCorpus]] emits the OFFSET
    * table (the work order); this emits the sequences themselves
    * (seq_id, ids, n_ids) at `outDir/sequences`.
    *
    * Invariants (OrchestratorSpec): every sequence except the last
    * carries exactly `seqLen` ids; Σ n_ids = Σ per-doc token counts
    * (gapless, nothing duplicated); and the concatenation over
    * seq_id order equals the concatenation of per-document id arrays
    * in shuffled order — which round-trip-detokenizes to the corpus.
    *
    * Scale: tokenization is scan + broadcast vocab probe + one
    * doc-keyed reassembly; assembly shuffles each id exactly once,
    * keyed by seq_id (segment slices are narrow). Like [[packCorpus]],
    * a full rewrite per epoch by design.
    */
  def packIdSequences(spark: SparkSession, corpusDir: String,
      outDir: String, seed: Long, numShards: Int, seqLen: Int,
      merges: Seq[(String, String)]): Long = {
    import graft.operators.BpeTrainer
    val corpus = Forget.readAppendDir(spark, corpusDir)
    val vocab = BpeTrainer.vocabTable(corpus, "text", merges)
    val ids = BpeTrainer.bpeEncodeIds(corpus, "doc_id", "text", merges, vocab)
      .withColumn("n_tokens", size(col("ids")).cast("long"))
    val ordered = TrainingPrep.shuffleOrder(ids, "doc_id", seed, numShards)
      .withColumn("ord",
        col("shard").cast("long") * lit(1L << 40) + col("pos"))
    val seqs = TrainingPrep.packSequences(ordered, "ord", "n_tokens", seqLen)
      .withColumn("n_ids", size(col("ids")))
    seqs.write.mode("overwrite").parquet(s"$outDir/sequences")
    spark.read.parquet(s"$outDir/sequences").count()
  }

  /** MULTIMODAL variant of [[packIdSequences]]: an images table at
    * `imagesDir` (doc_id, p, ref — insert-before text position and
    * media id) interleaves one placeholder id (= |vocab|, the next
    * free id) per image into each document's token stream before
    * packing, and an ALIGNMENT table maps every image to its
    * (seq_id, pos_in_seq) slot — the layout a multimodal trainer
    * consumes (sequences + where to splice each image's features).
    * Writes `outDir/sequences` and `outDir/image_align`. Returns
    * (nSequences, nAlignedImages). Docs without images pack
    * unchanged; images of dropped/unknown docs are ignored (inner
    * join against the corpus).
    */
  def packMultimodalSequences(spark: SparkSession, corpusDir: String,
      imagesDir: String, outDir: String, seed: Long, numShards: Int,
      seqLen: Int, merges: Seq[(String, String)]): (Long, Long) = {
    import graft.operators.{BpeTrainer, TrainingPrep}
    val corpus = Forget.readAppendDir(spark, corpusDir)
    val vocab = BpeTrainer.vocabTable(corpus, "text", merges)
    val imgId = vocab.count()
    val marks = spark.read.parquet(imagesDir)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("p").cast("int").as("p"),
        col("ref").cast("long").as("ref")))).as("marks"))
    // bpeEncodeIds posexplode emits no rows for a doc with zero text
    // tokens, so left-join the encodings back onto the full corpus: an
    // image-only / whitespace-text doc must still reach the interleave
    // (as an empty id array) or its placeholders silently vanish from
    // both sequences and image_align
    val encRaw = BpeTrainer.bpeEncodeIds(corpus, "doc_id", "text", merges, vocab)
    val enc = corpus.select(col("doc_id"))
      .join(encRaw, Seq("doc_id"), "left")
      .withColumn("ids", coalesce(col("ids"),
        array().cast(encRaw.schema("ids").dataType)))
      .join(marks, Seq("doc_id"), "left")
      .withColumn("marks", coalesce(col("marks"),
        array().cast("array<struct<p:int,ref:bigint>>")))
    val inter = TrainingPrep.interleavePlaceholders(enc, "doc_id",
        "marks", imgId)
      .withColumn("n_tokens", size(col("ids")).cast("long"))
    val ordered = TrainingPrep.shuffleOrder(inter, "doc_id", seed, numShards)
      .withColumn("ord",
        col("shard").cast("long") * lit(1L << 40) + col("pos"))
      .localCheckpoint() // read by assembly AND alignment
    val seqs = TrainingPrep.packSequences(ordered, "ord", "n_tokens", seqLen)
      .withColumn("n_ids", size(col("ids")))
    val align = TrainingPrep.packOffsets(ordered, "ord", "n_tokens", seqLen)
      .select(col("doc_id"), col("offset"),
        posexplode(col("refs")).as(Seq("img_idx", "r")))
      .select(col("doc_id"), col("img_idx"),
        col("r.ref").as("media_ref"),
        (col("offset") + col("r.idx")).as("gpos"))
      .withColumn("seq_id", floor(col("gpos") / seqLen).cast("long"))
      .withColumn("pos_in_seq", pmod(col("gpos"), lit(seqLen)).cast("int"))
    seqs.write.mode("overwrite").parquet(s"$outDir/sequences")
    align.write.mode("overwrite").parquet(s"$outDir/image_align")
    (spark.read.parquet(s"$outDir/sequences").count(),
      spark.read.parquet(s"$outDir/image_align").count())
  }

  /** Sequence-table invariants the standing DAG validates (the
    * bounded checks; the ≡-recompute assertion is OrchestratorSpec's):
    * every sequence except the last carries exactly `seqLen` ids,
    * sequence ids are gapless 0..maxSeq, and Σ n_ids equals the
    * corpus' total BPE token count under the same merge list.
    */
  def validateSequences(spark: SparkSession, corpusDir: String,
      outDir: String, seqLen: Int,
      merges: Seq[(String, String)]): Boolean = {
    import graft.operators.BpeTrainer
    val seqs = spark.read.parquet(s"$outDir/sequences")
    val total = Forget.readAppendDir(spark, corpusDir)
      .agg(sum(BpeTrainer.bpeTokenCount(col("text"), merges)))
      .head.getLong(0)
    val agg = seqs.agg(max(col("seq_id")).as("mx"),
      sum(col("n_ids")).as("s"), count(lit(1)).as("n")).head
    val (maxSeq, sumIds, n) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val badLen = seqs
      .filter(col("seq_id") =!= maxSeq && col("n_ids") =!= seqLen)
      .count()
    badLen == 0 && sumIds == total && n == maxSeq + 1
  }

  /** Packed-table invariants the standing DAG validates: one row per
    * corpus doc, offsets are EXACTLY the prefix sums of token counts
    * in (shard, pos) order (gapless, overlap-free), and every
    * document's sequence range matches its offset.
    */
  def validatePacked(spark: SparkSession, corpusDir: String,
      outDir: String, seqLen: Int): Boolean = {
    import org.apache.spark.sql.expressions.Window
    val packed = spark.read.parquet(s"$outDir/packed")
    val corpusN = Forget.readAppendDir(spark, corpusDir).count()
    val w = Window.orderBy(col("shard"), col("pos"))
    val bad = packed
      .withColumn("expect_offset",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .filter(col("offset") =!= col("expect_offset") ||
        col("first_seq") =!= floor(col("offset") / seqLen) ||
        col("last_seq") =!= floor(
          (col("offset") + greatest(col("n_tokens"), lit(1L)) - 1) / seqLen))
    packed.count() == corpusN && bad.isEmpty
  }
}
