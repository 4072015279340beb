package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Training-data preparation operators an LLM pipeline runs between
  * "deduplicated corpus" and "tokenized training shards": eval-set
  * decontamination, Gopher-style repetition statistics, distributed
  * concat-and-chunk sequence packing, and int8 embedding quantization.
  *
  * The reference engine stops at lakehouse marts
  * (`/root/reference/src/jobs/create_data_marts.py`); these operators
  * extend the same Spark-first discipline to the data-curation steps
  * that precede model training. Every method is a declarative plan —
  * no UDFs, no driver-side loops — with the shuffle structure chosen
  * for the 100 TB case (see each method's scale note).
  */
object TrainingPrep {

  // ------------------------------------------------------------------
  // Decontamination (eval-set n-gram overlap)
  // ------------------------------------------------------------------

  /** Per-document contamination report: for every training document
    * (rows where `isEval` is false), the number and fraction of its
    * distinct word `n`-gram shingles that also occur anywhere in the
    * eval set (rows where `isEval` is true). Documents with zero
    * overlap are omitted — at scale the contaminated set is tiny
    * relative to the corpus and the caller anti-joins on it.
    *
    * Shingling runs on shingle HASHES (TextFns.shingleHashes, native
    * codegen) so the eval index is a set of longs, not strings.
    *
    * Scale (100 TB corpus, bounded eval set): the eval shingle index
    * is built once, deduplicated, and BROADCAST — eval benchmarks are
    * MBs, not TBs, so the train side never shuffles for the probe.
    * The only shuffle is the per-doc re-aggregation of matches, and
    * map-side partial aggregation collapses that to at most one row
    * per contaminated document per input partition before the
    * exchange. If the eval set ever outgrows broadcast range, drop
    * the `broadcast` hint and this becomes a plain shuffled semi-join
    * keyed by shingle hash — same plan shape as Dedup.jaccardPairs.
    */
  def contaminationReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      isEval: Column): DataFrame = {
    val sh = docs.select(
      col(idCol),
      isEval.as("is_eval"),
      array_distinct(TextFns.shingleHashes(col(textCol), n)).as("sh"))
    val evalIndex = sh.filter(col("is_eval"))
      .select(explode(col("sh")).as("shingle")).distinct()
    val train = sh.filter(!col("is_eval"))
      .select(col(idCol), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("shingle"))
    train
      .join(broadcast(evalIndex), Seq("shingle"))
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination_ratio",
        col("n_overlap").cast("double") / col("n_shingles"))
  }

  /** Bloom-filter variant of [[contaminationReport]] — the shape for
    * when the eval shingle index outgrows comfortable broadcast range
    * (a full eval-suite union at web scale is billions of distinct
    * shingles; as raw longs that is tens of GB, while a 1%-fpp Bloom
    * filter of the same set is ~1.2 bytes/item). Returns ONE ROW PER
    * TRAIN DOCUMENT: `(idCol, n_shingles, n_bloom, n_exact)` — the
    * bloom-probed overlap count next to the exact one, so callers can
    * gate on either and specs can assert the sketch contract
    * (no false negatives: n_bloom ≥ n_exact always; false positives
    * bounded by fpp per distinct shingle).
    *
    * Scale (100 TB corpus): the filter is built by Spark's
    * treeAggregate — constant-size sketch per executor, merged on the
    * driver — then broadcast; probing is a per-partition loop over
    * the native shingle-hash arrays (one sketch reference per
    * partition, the same bounded-JVM-closure discipline as the
    * multimodal decoders). The train side never shuffles for the
    * probe; the exact side here exists for verification and reuses
    * the broadcast-index join of [[contaminationReport]] (drop it in
    * production and the operator is shuffle-free).
    */
  def bloomContamination(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      isEval: Column,
      fpp: Double): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val sh = docs.select(
      col(idCol),
      isEval.as("is_eval"),
      array_distinct(TextFns.shingleHashes(col(textCol), n)).as("sh"))
    // materialized once: the index feeds THREE actions (count, the
    // bloomFilter treeAggregate, the exact-side broadcast join) and
    // Catalyst does not CSE across them — without this the eval-doc
    // shingling ran three times (the q30/semanticDedup lesson)
    val evalIndex = sh.filter(col("is_eval"))
      .select(explode(col("sh")).as("shingle")).distinct()
      .localCheckpoint(true)
    val nEval = evalIndex.count()
    val bloom = evalIndex.stat.bloomFilter("shingle", math.max(nEval, 1L), fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    // same no-CSE discipline as evalIndex: train feeds BOTH the bloom
    // probe and the exact-side join below, and without materialization
    // the train-doc shingling would run twice
    val train = sh.filter(!col("is_eval")).select(col(idCol), col("sh"))
      .localCheckpoint(true)
    // id passes through with ITS OWN type (same generic-id contract as
    // contaminationReport — no silent long-only narrowing)
    val probedSchema = StructType(Seq(
      StructField("__id", train.schema(idCol).dataType),
      StructField("n_shingles", LongType),
      StructField("n_bloom", LongType)))
    val probed = train.mapPartitions { rows =>
      val b = bc.value // one sketch reference per partition
      rows.map { r =>
        val shs = r.getSeq[Long](1)
        // null text → null shingle array: report an empty doc rather
        // than NPE (explode would have silently skipped it)
        if (shs == null) Row(r.get(0), 0L, 0L)
        else {
          var hits = 0L
          shs.foreach(h => if (b.mightContainLong(h)) hits += 1L)
          Row(r.get(0), shs.size.toLong, hits)
        }
      }
    }(Encoders.row(probedSchema))
      .withColumnRenamed("__id", idCol)
    val exact = train
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .join(broadcast(evalIndex), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_exact"))
    probed.join(exact, Seq(idCol), "left")
      .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
  }

  // ------------------------------------------------------------------
  // Content-defined chunking (rolling-hash boundaries)
  // ------------------------------------------------------------------

  /** Content-defined chunking: split each document at token positions
    * where the rolling hash of the trailing `w`-token window is ≡ 0
    * mod `divisor` (the Rabin-style CDC boundary rule; expected chunk
    * length ≈ divisor tokens + w). Unlike fixed-stride [[chunkSpans]],
    * boundaries depend only on LOCAL content, so an edit perturbs at
    * most the chunk it lands in — identical passages in different
    * documents produce identical chunks, which is what makes
    * CHUNK-level exact dedup work across near-duplicate docs
    * (spec-proven: a shared prefix yields identical chunk hashes).
    *
    * Output: one row per chunk — `idCol, carry..., n_tokens, chunk_idx
    * (1-based), chunk_start, chunk_end (1-based inclusive token
    * positions), chunk_len, chunk_hash` (md5 of the space-joined
    * token span — the dedup key). `carry` names extra per-doc columns
    * to pass through (e.g. a source/domain label), which saves the
    * caller a join back against the doc table.
    *
    * Scale: ONE native expression eval per document (tokenize, roll
    * the w-gram hash, cut, md5 each span — graft_cdc_chunks), then an
    * explode of the precomputed struct array. Pipelines inside the
    * scan, zero shuffle; the downstream chunk dedup is a hash-groupBy
    * on chunk_hash exactly like exact doc dedup. The earlier
    * declarative formulation (HOF boundary arithmetic + posexplode
    * carrying the token array) re-evaluated the per-doc expressions
    * once per CHUNK row after CollapseProject pushed them through the
    * Generate — ~10× slower, see CdcChunksExpr's scaladoc.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int, divisor: Int, carry: Seq[String] = Nil): DataFrame = {
    require(w >= 1 && divisor >= 1)
    docs
      .select(col(idCol) +: carry.map(col) :+
        explode(call_function("graft_cdc_chunks",
          col(textCol), lit(w), lit(divisor))).as("__c"): _*)
      .select(
        (col(idCol) +: carry.map(col)) ++ Seq(
        col("__c.n_tokens").as("n_tokens"),
        col("__c.chunk_idx").as("chunk_idx"),
        col("__c.chunk_start").as("chunk_start"),
        col("__c.chunk_end").as("chunk_end"),
        col("__c.chunk_len").as("chunk_len"),
        col("__c.chunk_hash").as("chunk_hash")): _*)
  }

  // ------------------------------------------------------------------
  // Repetition statistics (Gopher quality rules)
  // ------------------------------------------------------------------

  /** Per-document repetition statistics in the spirit of the Gopher
    * data-quality rules (Rae et al. 2021, table A1): the fraction of
    * duplicate n-gram OCCURRENCES for each n in `ns`, plus the
    * occupancy of the single most frequent 2-gram. High values flag
    * boilerplate / template / degenerate-repetition documents.
    *
    * Output: `idCol, n_tokens, dup_<n>gram_frac..., top_2gram_count,
    * top_2gram_frac`.
    *
    * Scale: the dup fractions are pure per-row array arithmetic
    * (size vs size∘array_distinct over native shingle hashes) — they
    * pipeline inside the scan, zero shuffle. Only the top-2-gram mode
    * needs a frequency table: explode → two hash aggregations keyed
    * (doc, gram) then (doc), both with map-side combine; the second
    * reuses the first's hash partitioning on the doc-id prefix, and
    * row counts never exceed the corpus token count. The final join
    * back to the per-row stats is keyed by doc id.
    */
  def repetitionStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val dupCols = ns.map { n =>
      val sh = TextFns.shingleHashes(col(textCol), n)
      val total = size(sh)
      when(total > 0,
        (total - size(array_distinct(sh))).cast("double") / total)
        .otherwise(lit(0.0))
        .as(s"dup_${n}gram_frac")
    }
    val rowStats = docs.select(
      Seq(col(idCol), size(toks).as("n_tokens")) ++ dupCols: _*)

    val gramCounts = docs
      .select(col(idCol), explode(TextFns.shingleHashes(col(textCol), 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        max(col("c")).as("top_2gram_count"),
        sum(col("c")).as("n_2grams"))

    rowStats.join(gramCounts, Seq(idCol), "left")
      .withColumn("top_2gram_count", coalesce(col("top_2gram_count"), lit(0L)))
      .withColumn("top_2gram_frac",
        when(col("n_2grams") > 0,
          col("top_2gram_count").cast("double") / col("n_2grams"))
          .otherwise(lit(0.0)))
      .drop("n_2grams")
  }

  // ------------------------------------------------------------------
  // Sequence packing (concat-and-chunk)
  // ------------------------------------------------------------------

  /** Concat-and-chunk sequence packing: documents are laid out
    * end-to-end in `orderCol` order and cut into fixed `seqLen`-token
    * training sequences (the standard GPT-style packing where
    * documents may span sequence boundaries). For each document,
    * emits its global token `offset` plus the first/last sequence ids
    * it lands in.
    *
    * The global offset is an exclusive prefix sum, computed in TWO
    * PHASES so no stage ever sees a single global partition of row
    * data:
    *   1. rows are grouped into buckets of `bucketWidth` consecutive
    *      `orderCol` values; a window partitioned BY BUCKET computes
    *      the within-bucket prefix sum (parallel across buckets);
    *   2. per-bucket token totals (one row per bucket — millions of
    *      rows at 100 TB, trivially small) are prefix-summed on a
    *      single partition and broadcast-joined back.
    * offset = bucket_base + local_prefix. The result is independent
    * of `bucketWidth` (asserted in TrainingPrepSpec), which is purely
    * a parallelism knob: pick it so one bucket ≈ one task's worth of
    * rows. The naive alternative — one `Window.orderBy` over the whole
    * table — funnels all 100 TB through one task and is exactly what
    * this operator exists to avoid.
    *
    * `orderCol` must be a unique integer key (stable layout ⇒
    * reproducible shards across runs/engines).
    */
  def packOffsets(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      seqLen: Int,
      bucketWidth: Long = 1 << 20): DataFrame = {
    require(seqLen > 0 && bucketWidth > 0)
    val bucketed = df.withColumn("bucket",
      floor(col(orderCol) / lit(bucketWidth)).cast("long"))
    val localW = Window.partitionBy(col("bucket")).orderBy(col(orderCol))
    val local = bucketed.withColumn("local_prefix",
      coalesce(sum(col(tokenCol)).over(localW) - col(tokenCol), lit(0L)))

    val bucketW = Window.orderBy(col("bucket"))
    val bucketBases = bucketed
      .groupBy(col("bucket")).agg(sum(col(tokenCol)).as("bucket_total"))
      .withColumn("bucket_base",
        coalesce(sum(col("bucket_total")).over(bucketW) - col("bucket_total"),
          lit(0L)))
      .select(col("bucket"), col("bucket_base"))

    local
      .join(broadcast(bucketBases), Seq("bucket"))
      .withColumn("offset", (col("bucket_base") + col("local_prefix")).cast("long"))
      .withColumn("first_seq", floor(col("offset") / lit(seqLen)).cast("long"))
      .withColumn("last_seq",
        floor((col("offset") + greatest(col(tokenCol).cast("long"), lit(1L)) - 1)
          / lit(seqLen)).cast("long"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .drop("bucket", "local_prefix", "bucket_base")
  }

  /** Expand [[packOffsets]] into the physical document → training-
    * sequence segment map: one row per (document, sequence) pair the
    * document overlaps, with the token range it contributes
    * (`seg_start` within the document, `seg_len` tokens). This is the
    * shard writer's work order — group by `seq_id` and every training
    * sequence knows exactly which token slices compose it.
    *
    * Invariants (spec-asserted): per document, Σ seg_len = token
    * count; per sequence, Σ seg_len = seqLen for every sequence
    * except the final partial one. Zero-token documents emit one
    * empty segment at their offset's sequence (position preserved,
    * nothing contributed).
    *
    * Scale: inherits packOffsets' two-phase prefix sum; the expansion
    * itself is a narrow explode over ≤ ⌈tokens/seqLen⌉+1 sequence ids
    * per document — no additional shuffle.
    */
  def packSegments(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      seqLen: Int,
      bucketWidth: Long = 1 << 20): DataFrame =
    packOffsets(df, orderCol, tokenCol, seqLen, bucketWidth)
      .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("seg_start",
        greatest(col("seq_id") * seqLen - col("offset"), lit(0L)))
      .withColumn("seg_len",
        least((col("seq_id") + 1) * seqLen - col("offset"),
          col(tokenCol).cast("long")) - col("seg_start"))
      .drop("first_seq", "last_seq", "n_seqs")

  /** Assemble the training sequences [[packSegments]] plans: each
    * non-empty segment slices its document's `ids` array, and each
    * `seq_id` concatenates its slices in offset order into `ids`.
    * Output: (seq_id, ids). Scale: the slices are narrow; assembly
    * shuffles each id once, keyed by seq_id.
    */
  def packSequences(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      seqLen: Int): DataFrame =
    packSegments(df, orderCol, tokenCol, seqLen)
      .filter(col("seg_len") > 0)
      .select(col("seq_id"), col("offset"),
        slice(col("ids"), (col("seg_start") + 1).cast("int"),
          col("seg_len").cast("int")).as("piece"))
      .groupBy(col("seq_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("offset"), col("piece")))),
        x => x.getField("piece"))).as("ids"))

  /** Oracle twin of [[packSequences]]: DuckDB CTEs `segs`, `pieces`
    * and `seqs(seq_id, ids)` over a CTE `offs` that holds each
    * document's `ids`, their count `n` and its exclusive token prefix
    * `off` in pack order.
    */
  def packSequencesSqlCtes(seqLen: Int): String =
    s"""segs AS (
        SELECT seq_id, off, ids, n,
          GREATEST(seq_id * $seqLen - off, 0) AS seg_start,
          LEAST((seq_id + 1) * $seqLen - off, n)
            - GREATEST(seq_id * $seqLen - off, 0) AS seg_len
        FROM (SELECT *, unnest(generate_series(off // $seqLen,
                (off + n - 1) // $seqLen)) AS seq_id
              FROM offs)),
      pieces AS (
        SELECT seq_id, off, ids[seg_start + 1 : seg_start + seg_len] AS piece
        FROM segs WHERE seg_len > 0),
      seqs AS (
        SELECT seq_id, flatten(list(piece ORDER BY off)) AS ids
        FROM pieces GROUP BY seq_id)"""

  /** Byte-targeted OUTPUT-SHARD manifest — the publishing step's size
    * planner (WebDataset/JSONL shards of ~targetBytes each, the ~1 GB
    * discipline every tar/WARC consumer assumes): documents stay
    * WHOLE (atomic — a shard boundary never splits one), assigned by
    * `shard = ⌊exclusive byte prefix / targetBytes⌋` in `orderCol`
    * order — a pure function of (corpus, target), no sequential
    * next-fit state, so the plan is [[packOffsets]]' two-phase
    * bucketed prefix sum VERBATIM (shard id = its `first_seq` with
    * bytes as tokens and targetBytes as seqLen; no global sort, no
    * new machinery). Each shard lands in (target − maxDoc, target +
    * maxDoc) bytes; utilization makes the spread visible per shard.
    *
    * Output: shard, n_docs, n_bytes, first_doc, last_doc,
    * utilization (n_bytes / targetBytes, exactly rounded).
    */
  def shardManifest(
      df: DataFrame,
      orderCol: String,
      bytesCol: String,
      targetBytes: Int,
      bucketWidth: Long = 1 << 20): DataFrame =
    packOffsets(df, orderCol, bytesCol, targetBytes, bucketWidth)
      .groupBy(col("first_seq").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(bytesCol)).as("n_bytes"),
        min(col(orderCol)).as("first_doc"),
        max(col(orderCol)).as("last_doc"))
      .withColumn("utilization",
        col("n_bytes").cast("double") / lit(targetBytes))

  // ------------------------------------------------------------------
  // Multimodal interleaving (image placeholders in token streams)
  // ------------------------------------------------------------------

  /** Interleave PLACEHOLDER tokens into per-document id arrays — the
    * standard multimodal training layout: the text token stream
    * carries one `placeholderId` per attached image, and a parallel
    * ref table maps each placeholder back to its media row. Input
    * rows carry `ids` (array<long>, the text ids) and `marksCol`
    * (array<struct<p: insert-before text position 0..n, ref: media
    * id>>, in insertion order); output replaces `ids` with the
    * interleaved array and adds `refs` = array<struct<ref, idx>>
    * with `idx` the placeholder's position IN THE INTERLEAVED array —
    * after sequence packing, a ref's global position is simply
    * doc_offset + idx, which is how the packed query pins alignment.
    *
    * Several images at one text position keep their list order, and
    * placeholders sit BEFORE the text token they mark (p = n appends
    * after the last token). Pure per-row higher-order functions:
    * no shuffle, no explode — the interleave rides the scan, and the
    * quadratic-looking nested filters are over the per-doc MARK list
    * (a handful of images), not the token stream.
    */
  def interleavePlaceholders(docs: DataFrame, idCol: String,
      marksCol: String, placeholderId: Long): DataFrame = {
    val n = size(col("ids"))
    val marks = col(marksCol)
    val interleaved = flatten(transform(sequence(lit(0), n), i =>
      concat(
        transform(filter(marks, m => m.getField("p") === i),
          _ => lit(placeholderId)),
        when(i < n, array(element_at(col("ids"), i + 1)))
          .otherwise(array().cast("array<bigint>")))))
    val refs = transform(marks, (m, j) =>
      struct(
        m.getField("ref").as("ref"),
        (m.getField("p").cast("long") +
          size(filter(marks, (m2, j2) =>
            m2.getField("p") < m.getField("p") ||
              (m2.getField("p") === m.getField("p") && j2 < j))))
          .as("idx")))
    docs.withColumn("ids", interleaved).withColumn("refs", refs)
  }

  // ------------------------------------------------------------------
  // Embedding quantization (symmetric int8)
  // ------------------------------------------------------------------

  /** Per-vector symmetric int8 quantization stats over an
    * `array<float>` embedding column: scale = max|x| / 127,
    * q_i = floor(x_i/scale + 0.5) (identical double arithmetic in
    * Spark and DuckDB — no banker's-rounding divergence), plus the
    * reconstruction MSE. Zero vectors quantize to all-zero with
    * scale 0.
    *
    * Emits `scale, q_min, q_max, q_sum, mse` alongside the input
    * columns. The integer outputs (`q_min/q_max/q_sum`) are exact
    * cross-engine checks on every quantized value; `mse` is a
    * sequential left-fold so both engines sum in the same order.
    *
    * Scale: narrow per-row HOF arithmetic over the vector — no
    * shuffle, pipelines inside the scan. This is the storage-side
    * prep for ANN at 100 TB: 4× smaller vectors before the
    * Similarity.ivfTopK probe join.
    */
  def quantizeStats(df: DataFrame, vecCol: String): DataFrame = {
    val xs = transform(col(vecCol), x => x.cast("double"))
    val amax = aggregate(xs, lit(0.0d), (a, x) => greatest(a, abs(x)))
    val qOf: Column => Column = x =>
      floor(x / col("scale") + lit(0.5))
    df.withColumn("scale", amax / lit(127.0d))
      .withColumn("q_min",
        when(col("scale") === 0d, lit(0L)).otherwise(
          array_min(transform(xs, qOf)).cast("long")))
      .withColumn("q_max",
        when(col("scale") === 0d, lit(0L)).otherwise(
          array_max(transform(xs, qOf)).cast("long")))
      .withColumn("q_sum",
        when(col("scale") === 0d, lit(0L)).otherwise(
          aggregate(transform(xs, qOf), lit(0.0d), (a, q) => a + q).cast("long")))
      .withColumn("mse",
        when(col("scale") === 0d, lit(0.0d)).otherwise(
          aggregate(xs, lit(0.0d),
            (a, x) => a + (x - qOf(x) * col("scale")) * (x - qOf(x) * col("scale")))
            / size(col(vecCol))))
  }

  // ------------------------------------------------------------------
  // Sliding-window chunking (RAG / context-window segmentation)
  // ------------------------------------------------------------------

  /** Cut each document's token stream into fixed-size chunks with a
    * fixed token overlap — the retrieval/RAG segmentation primitive
    * (packOffsets concatenates ACROSS documents for training shards;
    * this windows WITHIN a document and never crosses boundaries).
    *
    * Chunk i covers tokens [i·(chunk−overlap)+1, min(i·(chunk−overlap)
    * +chunk, n)]; the last chunk is the first one whose window reaches
    * the end (so a short tail merges into the final full window
    * instead of emitting a sliver that is pure overlap). Token counts
    * come from the native one-pass tokenizer; the chunk rows are a
    * generated sequence — per-row narrow work, zero shuffle, and all
    * integer arithmetic is identical in any engine.
    *
    * Output: input columns + n_tokens, chunk_idx (0-based), chunk_start
    * / chunk_end (1-based token positions, inclusive), chunk_len.
    * Null texts yield no chunks. (The engine's tokenizer maps "" to
    * one empty token — same as the split semantics in both engines —
    * so any non-null text has n ≥ 1 and at least one chunk.)
    */
  def chunkSpans(df: DataFrame, textCol: String, chunk: Int,
      overlap: Int): DataFrame = {
    require(chunk > 0 && overlap >= 0 && overlap < chunk,
      "need chunk > overlap >= 0")
    val stride = chunk - overlap
    val n = col("n_tokens")
    // n ≤ chunk → 1 chunk; else 1 + ceil((n − chunk) / stride); the
    // division is exact integer-valued double arithmetic (< 2^53)
    val nChunks = when(n === 0, lit(0L)).otherwise(
      when(n <= chunk, lit(1L)).otherwise(
        lit(1L) + floor((n - lit(chunk) + lit(stride - 1))
          .cast("double") / lit(stride.toDouble)).cast("long")))
    df.withColumn("n_tokens",
        size(TextFns.shingleHashes(col(textCol), 1)).cast("long"))
      .withColumn("chunk_idx",
        explode(when(nChunks > 0, sequence(lit(0L), nChunks - 1))
          .otherwise(array().cast("array<long>"))))
      .withColumn("chunk_start",
        least(col("chunk_idx") * stride + 1, greatest(n - chunk + 1, lit(1L))))
      .withColumn("chunk_end", least(col("chunk_start") + (chunk - 1), n))
      .withColumn("chunk_len", col("chunk_end") - col("chunk_start") + 1)
  }

  // ------------------------------------------------------------------
  // Training order: deterministic seeded shuffle
  // ------------------------------------------------------------------

  /** Portable seeded mixing key in [0, P): (a·(id mod P) + b) mod P
    * with a, b derived from `seed`. Pure BIGINT arithmetic — a, id%P
    * < P = 1e9+7, so a·(id%P) < ~1e18 stays inside signed 64-bit in
    * both engines; the SQL twin below is character-for-character the
    * same formula, so shuffle order and sampling decisions agree
    * bit-exactly with the DuckDB oracle.
    */
  private def mixKey(id: Column, seed: Long): Column = {
    val (a, b) = mixConsts(seed)
    (lit(a) * (id % TextFns.P) + lit(b)) % TextFns.P
  }
  def mixKeySql(id: String, seed: Long): String = {
    val (a, b) = mixConsts(seed)
    s"($a * ($id % ${TextFns.P}) + $b) % ${TextFns.P}"
  }
  /** a must be LARGE as well as nonzero: a small multiplier (e.g. a
    * naive a = seed+1) maps consecutive ids to consecutive small keys,
    * which breaks both shard balance and the remainder-threshold
    * sampling (every small-id doc would sit below the cutoff — caught
    * by TrainingPrepSpec's budget-mass assertion). Knuth's golden
    * multiplier spreads any seed across [1, P-1]; all intermediates
    * stay under ~2.7e18 < 2^63, so DuckDB's checked BIGINT arithmetic
    * never overflows either.
    */
  private def mixConsts(seed: Long): (Long, Long) = {
    // negative seeds would flip the sign of % in BOTH engines (same
    // truncated-modulo answer, but keys/shards would go negative)
    require(seed >= 0, "mix seed must be non-negative")
    val P = TextFns.P
    val a = ((seed % (P - 1)) * 2654435761L) % (P - 1) + 1 // [1, P-1]
    val b = ((seed % P) * 40503L + 17L) % P
    (a, b)
  }

  /** Deterministic seeded global shuffle for training order: every row
    * gets a shard and a position within that shard, both functions of
    * (`idCol`, `seed`) only — re-running with the same seed reproduces
    * the exact epoch order on any cluster size, and changing the seed
    * reshuffles. Output: input columns + `shuffle_key`, `shard`
    * (int, in [0, numShards)), `pos` (long, 1-based within shard).
    * Epoch order = (shard asc, pos asc).
    *
    * Scale (100 TB): this is the canonical "global sort without a
    * global sort" — rows shuffle ONCE on their shard id (uniform by
    * construction: the mix key is an affine permutation of id mod P),
    * then each shard sorts its own slice independently (row_number
    * window per shard, no cross-shard coordination). Pick numShards ≈
    * a small multiple of cluster parallelism: each task sorts
    * corpus/numShards rows. Ties on the mix key break by id, so the
    * order is total and engine-independent.
    */
  def shuffleOrder(docs: DataFrame, idCol: String, seed: Long,
      numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col(idCol))
    docs
      .withColumn("shuffle_key", mixKey(col(idCol), seed))
      .withColumn("shard", (col("shuffle_key") % numShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  // ------------------------------------------------------------------
  // Epoch allocation: token-budget mixture up/down-sampling
  // ------------------------------------------------------------------

  /** Per-document repeat factors that hit a per-source token budget:
    * the "mixture weights → how many times does each document appear
    * in an epoch" step of training-data assembly (down-sample
    * over-represented sources, up-sample scarce ones). `budgets` is a
    * small table `(srcCol, token_budget)` — budgets are TOKENS, kept
    * integral so the arithmetic is exact in both engines.
    *
    * Every document of a source repeats floor(budget/corpus_tokens)
    * times, plus one extra repeat for a deterministic hash-selected
    * subset whose expected token mass is the remainder —
    * `key·corpus_tokens < rem·P` picks each doc with probability
    * rem/corpus_tokens using cross-multiplied BIGINT comparison (no
    * division, no doubles; key < P and both products < ~1e18 for
    * corpora up to ~1e9 tokens per source — beyond that, budget in
    * KILOtokens and the bound still holds). A source with no budget
    * row gets n_repeats = 0, i.e. it is dropped from the epoch.
    *
    * Output: input columns + `n_tokens` (from `nTokensCol`),
    * `repeat_floor`, `extra` (0/1), `n_repeats`.
    *
    * Scale (100 TB): per-source corpus totals are ONE hash aggregate
    * (a handful of rows), broadcast-joined back; the repeat decision
    * is then scan-time row-local arithmetic — no shuffle of the
    * corpus itself. Materializing the repeats (sequence+explode by
    * n_repeats) is the caller's next step and is linear in the OUTPUT
    * token count, which the budget itself bounds.
    */
  def epochAllocation(docs: DataFrame, idCol: String, srcCol: String,
      nTokensCol: String, budgets: DataFrame, seed: Long): DataFrame = {
    val P = TextFns.P
    val totals = docs.groupBy(col(srcCol))
      .agg(sum(col(nTokensCol)).as("__corpus_tokens"))
      .join(budgets, Seq(srcCol), "left")
      .withColumn("__budget", coalesce(col("token_budget"), lit(0L)))
      .select(col(srcCol), col("__corpus_tokens"),
        // SQL `div` is integer division — `/` would detour through
        // doubles and lose exactness near 2^53
        when(col("__corpus_tokens") > 0,
          expr("__budget div __corpus_tokens"))
          .otherwise(lit(0L)).as("repeat_floor"),
        when(col("__corpus_tokens") > 0,
          col("__budget") % col("__corpus_tokens"))
          .otherwise(lit(0L)).as("__rem"))
    docs
      .join(broadcast(totals), Seq(srcCol))
      .withColumn("extra",
        (mixKey(col(idCol), seed) * col("__corpus_tokens") <
          col("__rem") * lit(P)).cast("int"))
      .withColumn("n_repeats", col("repeat_floor") + col("extra"))
      .drop("__corpus_tokens", "__rem", "token_budget")
  }

  /** Per-document n-gram NOVELTY under corpus order: the fraction of a
    * doc's distinct n-gram shingles whose first corpus occurrence
    * (min doc id over the whole corpus) is an EARLIER doc. The
    * seen-before ratio is the doc-granular dedup signal between exact
    * dedup (whole-doc) and duplicatedSpans (substring): a doc that is
    * 95% previously-seen shingles is boilerplate even if no single
    * span or minhash pair flags it, and novelty-ordered curricula
    * consume exactly this column.
    *
    * Output: (id, n_grams, n_seen, novelty) per doc with ≥1 shingle,
    * ordered by id. novelty = (n_grams − n_seen) / n_grams, rounded.
    *
    * Scale (100 TB): one shuffle keyed by the shingle hash computes
    * min-doc-per-shingle as a WINDOW over the exploded distinct
    * shingles (not a groupBy + self-join — that shape shuffles the
    * same rows twice), then one doc-keyed aggregation. Shingle-hash
    * cardinality is high and evenly spread; both exchanges are the
    * inverted-index shape every dedup operator here already pays.
    * Nothing driver-side, nothing quadratic.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Portable.pround
    val grams = docs.select(col(idCol), explode(array_distinct(
      graft.functions.TextFns.shingleHashes(col(textCol), n))).as("__h"))
    grams
      .withColumn("__first",
        min(col(idCol)).over(Window.partitionBy(col("__h"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__first") < col(idCol)).cast("long")).as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        pround((col("n_grams") - col("n_seen")).cast("double")
          / col("n_grams"), 6).as("novelty"))
      .orderBy(col(idCol))
  }

  /** WATERFILLING mixture allocation — the fair cross-source token
    * budget: allocationᵢ = min(sizeᵢ, L) with the water level L
    * chosen so Σ allocations = budget EXACTLY (integer level + the
    * division remainder distributed +1 each to the first r capped
    * keys in key order). Closed form over the per-key totals: sort by
    * size ascending with a prefix sum; the first index whose size
    * exceeds its candidate level (budget − prefix) div (remaining)
    * opens the capped set. All integer, deterministic, and the whole
    * computation runs on k per-key rows (the unpartitioned windows
    * are over the per-source totals — the q64 bucket-prefix class).
    * Budget = (Σ sizes · num) div den.
    *
    * Output: (keyCol, sizeCol, allocation, takes_all).
    */
  /** Largest-remainder (Hamilton) apportionment — the PROPORTIONAL
    * budget split next to [[waterfill]]'s equal-share one (eval-set
    * quotas, shard counts, per-source sampling targets): quotaᵢ =
    * ⌊B·sizeᵢ/total⌋, and the leftover seats go +1 each to the keys
    * with the largest division remainders (ties by key — fully
    * deterministic). Guarantees Σ quotas = B exactly and every quota
    * within 1 of its exact proportional share. The B·sizeᵢ product is
    * computed in DECIMAL(38,0) with an exact remainder-subtract
    * division, so the math cannot overflow int64 even at
    * astronomical token counts. Runs on k per-key rows (unpartitioned
    * windows over the per-source totals — the q64/q172 class).
    * Budget B = (total · num) div den.
    *
    * Output: (keyCol, sizeCol, allocation, got_bonus).
    */
  def apportion(sizes: DataFrame, keyCol: String, sizeCol: String,
      num: Long, den: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(num >= 0 && den >= 1)
    val src = sizes.select(col(keyCol).as("__key"),
      col(sizeCol).cast("long").as("__n"))
    val tot = src.agg(sum(col("__n")).as("__total"))
    val everything = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val byRem = Window.orderBy(col("__rem").desc, col("__key"))
    src.crossJoin(broadcast(tot))
      .withColumn("__b", expr(s"(__total * $num) div $den"))
      .withColumn("__prod",
        col("__b").cast(DecimalType(38, 0)) * col("__n"))
      .withColumn("__rem", (col("__prod") % col("__total")).cast("long"))
      // exact: numerator is a multiple of total after the remainder
      // subtract, so the decimal division carries no fraction
      .withColumn("__quota",
        ((col("__prod") - (col("__prod") % col("__total"))) /
          col("__total")).cast("long"))
      .withColumn("__leftover",
        col("__b") - sum(col("__quota")).over(everything))
      .withColumn("__rank", row_number().over(byRem).cast("long"))
      .select(col("__key").as(keyCol), col("__n").as(sizeCol),
        (col("__quota") +
          when(col("__rank") <= col("__leftover"), 1L).otherwise(0L))
          .as("allocation"),
        (col("__rank") <= col("__leftover")).as("got_bonus"))
  }

  def waterfill(sizes: DataFrame, keyCol: String, sizeCol: String,
      num: Long, den: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num >= 0 && den >= 1)
    val src = sizes.select(col(keyCol).as("__key"),
      col(sizeCol).cast("long").as("__n"))
    val tot = src.agg(sum(col("__n")).as("__total"),
      count(lit(1)).as("__k"))
    val bySize = Window.orderBy(col("__n"), col("__key"))
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("__b", expr(s"(__total * $num) div $den"))
      .withColumn("__rn", row_number().over(bySize).cast("long"))
      .withColumn("__prefix",
        coalesce(sum(col("__n")).over(
          bySize.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cand", expr("(__b - __prefix) div (__k - __rn + 1)"))
      .localCheckpoint(true)
    val thr = ranked
      .agg(min(when(col("__n") > col("__cand"), col("__rn"))).as("__t"))
    val everything =
      Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    val byKey = Window.orderBy(col("__key"))
    ranked.crossJoin(broadcast(thr))
      .withColumn("__t2", coalesce(col("__t"), col("__k") + 1))
      .withColumn("__lvl",
        max(when(col("__rn") === col("__t2"), col("__cand")))
          .over(everything))
      .withColumn("__rem",
        max(when(col("__rn") === col("__t2"),
          expr("(__b - __prefix) % (__k - __rn + 1)"))).over(everything))
      .withColumn("__capped", col("__rn") >= col("__t2"))
      .withColumn("__caprank",
        sum(when(col("__capped"), 1L).otherwise(0L)).over(
          byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("__key").as(keyCol), col("__n").as(sizeCol),
        when(!col("__capped"), col("__n"))
          .otherwise(col("__lvl") +
            when(col("__caprank") <= col("__rem"), 1L).otherwise(0L))
          .as("allocation"),
        (!col("__capped")).as("takes_all"))
  }
}
