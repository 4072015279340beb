package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.Tpch
import graft.functions.TextFns
import graft.operators.TrainingPrep
import Portable._

/** Training-data-preparation query surface: eval-set decontamination,
  * Gopher-style repetition statistics, concat-and-chunk sequence
  * packing, and int8 embedding quantization. Implementations live in
  * graft.operators.TrainingPrep; this file binds them to the testdata
  * tables and generates bit-identical DuckDB oracles from the same
  * parameters.
  *
  * The eval split for decontamination is synthetic but deterministic:
  * every 10th document plays the held-out benchmark. Both engines
  * derive it from `doc_id % 10`, so the oracle exercises the full
  * shingle-index + probe-join dataflow, not a canned answer.
  */
object TrainingPrepQueries {
  import TextFns.{shingleHashesSql, tokensSql}

  private val N = 3         // decontamination shingle width
  private val SEQ_LEN = 512 // packing sequence length (tokens)
  private val BUCKET = 64L  // packing bucket width (parallelism knob)

  // -- T1: eval-set n-gram decontamination report ----------------------
  private val q62 = Q(
    "q62_decontamination",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.contaminationReport(
          t.documents, "doc_id", "text", N, col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_overlap"), pround(col("contamination_ratio"), 6)
            .as("contamination_ratio"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id, doc_id % 10 = 0 AS is_eval,
          list_distinct(${shingleHashesSql("text", N)}) AS shingle_set
        FROM documents),
      eval_idx AS (
        SELECT DISTINCT unnest(shingle_set) AS shingle FROM sh WHERE is_eval),
      train AS (
        SELECT doc_id, CAST(len(shingle_set) AS BIGINT) AS n_shingles,
          unnest(shingle_set) AS shingle
        FROM sh WHERE NOT is_eval)
      SELECT t.doc_id, n_shingles, count(*) AS n_overlap,
        ${proundSql("CAST(count(*) AS DOUBLE) / n_shingles", 6)}
          AS contamination_ratio
      FROM train t JOIN eval_idx e ON t.shingle = e.shingle
      GROUP BY t.doc_id, n_shingles
      ORDER BY t.doc_id"""))

  // -- T2: Gopher-style repetition statistics --------------------------
  private val q63 = Q(
    "q63_repetition_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.repetitionStats(t.documents, "doc_id", "text", Seq(2, 3))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          pround(col("dup_2gram_frac"), 6).as("dup_2gram_frac"),
          pround(col("dup_3gram_frac"), 6).as("dup_3gram_frac"),
          col("top_2gram_count"),
          pround(col("top_2gram_frac"), 6).as("top_2gram_frac"))
        .orderBy(col("doc_id"))
    },
    Some {
      def dupSql(g: String) =
        s"""CASE WHEN len($g) > 0 THEN
           | CAST(len($g) - len(list_distinct($g)) AS DOUBLE) / len($g)
           | ELSE 0.0 END""".stripMargin
      s"""WITH base AS (
        SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
          ${shingleHashesSql("text", 2)} AS g2,
          ${shingleHashesSql("text", 3)} AS g3
        FROM documents),
      row_stats AS (
        SELECT doc_id, n_tokens,
          ${dupSql("g2")} AS dup2, ${dupSql("g3")} AS dup3
        FROM base),
      grams AS (SELECT doc_id, unnest(g2) AS g FROM base),
      gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
      top AS (
        SELECT doc_id, max(c) AS top_2gram_count, sum(c) AS n_2grams
        FROM gc GROUP BY doc_id)
      SELECT r.doc_id, r.n_tokens,
        ${proundSql("dup2", 6)} AS dup_2gram_frac,
        ${proundSql("dup3", 6)} AS dup_3gram_frac,
        CAST(coalesce(top_2gram_count, 0) AS BIGINT) AS top_2gram_count,
        ${proundSql(
          "CASE WHEN coalesce(n_2grams, 0) > 0 THEN CAST(top_2gram_count AS DOUBLE) / n_2grams ELSE 0.0 END",
          6)} AS top_2gram_frac
      FROM row_stats r LEFT JOIN top USING (doc_id)
      ORDER BY r.doc_id"""
    })

  // -- T3: concat-and-chunk sequence packing (global prefix sum) -------
  private val q64 = Q(
    "q64_pack_offsets",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = t.documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      TrainingPrep.packOffsets(toks, "doc_id", "n_tokens",
          seqLen = SEQ_LEN, bucketWidth = BUCKET)
        .select(col("doc_id"), col("n_tokens"), col("offset"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      offs AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS doc_offset
        FROM toks)
      SELECT doc_id, n_tokens, doc_offset AS "offset",
        CAST(floor(doc_offset / ${SEQ_LEN}.0) AS BIGINT) AS first_seq,
        CAST(floor((doc_offset + greatest(n_tokens, 1) - 1) / ${SEQ_LEN}.0)
          AS BIGINT) AS last_seq,
        CAST(floor((doc_offset + greatest(n_tokens, 1) - 1) / ${SEQ_LEN}.0)
          - floor(doc_offset / ${SEQ_LEN}.0) + 1 AS BIGINT) AS n_seqs
      FROM offs
      ORDER BY doc_id"""))

  // -- T3b: the doc -> training-sequence segment map (shard work order)
  private val q68 = Q(
    "q68_pack_segments",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = t.documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      TrainingPrep.packSegments(toks, "doc_id", "n_tokens",
          seqLen = SEQ_LEN, bucketWidth = BUCKET)
        .select(col("doc_id"), col("seq_id"), col("seg_start"), col("seg_len"))
        .orderBy(col("doc_id"), col("seq_id"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      offs AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS doc_offset
        FROM toks),
      spans AS (
        SELECT doc_id, n_tokens, doc_offset,
          CAST(floor(doc_offset / ${SEQ_LEN}.0) AS BIGINT) AS first_seq,
          CAST(floor((doc_offset + greatest(n_tokens, 1) - 1) / ${SEQ_LEN}.0)
            AS BIGINT) AS last_seq
        FROM offs),
      segs AS (
        SELECT doc_id, n_tokens, doc_offset,
          unnest(generate_series(first_seq, last_seq)) AS seq_id
        FROM spans)
      SELECT doc_id, seq_id,
        greatest(seq_id * ${SEQ_LEN} - doc_offset, 0) AS seg_start,
        least((seq_id + 1) * ${SEQ_LEN} - doc_offset, n_tokens)
          - greatest(seq_id * ${SEQ_LEN} - doc_offset, 0) AS seg_len
      FROM segs
      ORDER BY doc_id, seq_id"""))

  // -- T4: symmetric int8 embedding quantization stats -----------------
  private val q65 = Q(
    "q65_quantize_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.quantizeStats(t.embeddings, "embedding")
        .select(col("vec_id"), col("label"),
          pround(col("scale"), 9).as("scale"),
          col("q_min"), col("q_max"), col("q_sum"),
          pround(col("mse"), 12).as("mse"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH xs AS (
        SELECT vec_id, label,
          list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v,
          len(embedding) AS dim
        FROM embeddings),
      sc AS (
        SELECT vec_id, label, v, dim,
          list_reduce(
            list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> abs(x))),
            (a, x) -> greatest(a, x)) / 127.0 AS scale
        FROM xs),
      q AS (
        SELECT vec_id, label, v, dim, scale,
          list_transform(v, x ->
            CASE WHEN scale = 0 THEN 0.0 ELSE floor(x / scale + 0.5) END) AS qs
        FROM sc)
      SELECT vec_id, label, ${proundSql("scale", 9)} AS scale,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(list_aggregate(qs, 'min') AS BIGINT) END AS q_min,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(list_aggregate(qs, 'max') AS BIGINT) END AS q_max,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(list_aggregate(qs, 'sum') AS BIGINT) END AS q_sum,
        CASE WHEN scale = 0 THEN 0.0 ELSE
          ${proundSql(
            """list_reduce(list_prepend(CAST(0 AS DOUBLE), v),
              | (a, x) -> a + (x - floor(x / scale + 0.5) * scale)
              |              * (x - floor(x / scale + 0.5) * scale)) / dim""".stripMargin,
            12)} END AS mse
      FROM q
      ORDER BY vec_id"""))

  // -- T6: sliding-window chunking — fixed 64-token chunks with a
  //    16-token overlap per document (TrainingPrep.chunkSpans; the
  //    within-document RAG segmentation next to q64/q68's cross-
  //    document packing). Pure generated-sequence arithmetic, no
  //    shuffle; the oracle mirrors the ceil-division bit for bit. ----
  private val CHUNK = 64
  private val OVERLAP = 16
  private val q81 = Q(
    "q81_chunk_spans",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.chunkSpans(t.documents, "text", CHUNK, OVERLAP)
        .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
          col("chunk_start"), col("chunk_end"), col("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some {
      val stride = CHUNK - OVERLAP
      s"""WITH d AS (
        SELECT doc_id,
          CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      counted AS (
        SELECT doc_id, n_tokens,
          CASE WHEN n_tokens = 0 THEN 0
               WHEN n_tokens <= $CHUNK THEN 1
               ELSE 1 + CAST(floor(CAST(n_tokens - $CHUNK + ${stride - 1}
                 AS DOUBLE) / $stride.0) AS BIGINT) END AS n_chunks
        FROM d),
      chunks AS (
        SELECT doc_id, n_tokens,
          unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        FROM counted WHERE n_chunks > 0)
      SELECT doc_id, n_tokens, chunk_idx,
        LEAST(chunk_idx * $stride + 1,
          GREATEST(n_tokens - $CHUNK + 1, 1)) AS chunk_start,
        LEAST(LEAST(chunk_idx * $stride + 1,
          GREATEST(n_tokens - $CHUNK + 1, 1)) + ${CHUNK - 1}, n_tokens)
          AS chunk_end,
        LEAST(LEAST(chunk_idx * $stride + 1,
          GREATEST(n_tokens - $CHUNK + 1, 1)) + ${CHUNK - 1}, n_tokens)
          - LEAST(chunk_idx * $stride + 1,
            GREATEST(n_tokens - $CHUNK + 1, 1)) + 1 AS chunk_len
      FROM chunks
      ORDER BY doc_id, chunk_idx"""
    })

  // -- T7: Bloom-filter decontamination — the eval-index shape for when
  //    the exact shingle set outgrows broadcast range (a Bloom filter
  //    of the same set is ~1.2 bytes/item at 1% fpp). Spark builds the
  //    sketch via treeAggregate, broadcasts it, and probes each train
  //    doc's native shingle hashes per partition; the exact overlap is
  //    computed alongside. The oracle recomputes the EXACT side in SQL
  //    and pins the sketch CONTRACT as boolean columns (q40's sketch-
  //    gating pattern): no false negatives ever, and per-doc false-
  //    positive excess within a generous multiple of fpp — a broken
  //    hash or serialization flips a flag and fails the hash compare.
  private val BLOOM_FPP = 0.001
  private val q91 = Q(
    "q91_bloom_decontamination",
    (s, dir) => {
      val t = Tpch(s, dir)
      val perDoc = TrainingPrep.bloomContamination(
        t.documents, "doc_id", "text", N, col("doc_id") % 10 === 0, BLOOM_FPP)
      perDoc
        .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_train_docs"),
          sum((col("n_exact") > 0).cast("long")).as("n_contaminated"),
          sum(col("n_exact")).as("total_exact_overlap"),
          bool_and(col("n_bloom") >= col("n_exact")).as("no_false_negatives"),
          bool_and(col("n_bloom") - col("n_exact") <=
            greatest(lit(3L), (col("n_shingles").cast("double") * 0.05)
              .cast("long"))).as("fp_within_bound"))
        .orderBy(col("source"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id, source, doc_id % 10 = 0 AS is_eval,
          list_distinct(${shingleHashesSql("text", N)}) AS shingle_set
        FROM documents),
      eval_idx AS (
        SELECT DISTINCT unnest(shingle_set) AS shingle FROM sh WHERE is_eval),
      train AS (
        SELECT doc_id, source, unnest(shingle_set) AS shingle
        FROM sh WHERE NOT is_eval),
      overlap AS (
        SELECT t.doc_id, count(*) AS n_exact
        FROM train t JOIN eval_idx e ON t.shingle = e.shingle
        GROUP BY t.doc_id),
      per_doc AS (
        SELECT s.doc_id, s.source, coalesce(o.n_exact, 0) AS n_exact
        FROM sh s LEFT JOIN overlap o ON s.doc_id = o.doc_id
        WHERE NOT s.is_eval)
      SELECT source, count(*) AS n_train_docs,
        CAST(sum(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_contaminated,
        CAST(sum(n_exact) AS BIGINT) AS total_exact_overlap,
        TRUE AS no_false_negatives,
        TRUE AS fp_within_bound
      FROM per_doc
      GROUP BY source
      ORDER BY source"""))

  // -- T8: content-defined chunking — rolling-hash boundaries (Rabin-
  //    style CDC over token windows: close a chunk where the w-gram
  //    hash ≡ 0 mod divisor). The content-locality property (an edit
  //    perturbs only its own chunk; shared passages chunk identically
  //    across documents) is what makes chunk-level dedup compose with
  //    doc-level near-dup — spec-proven in TrainingPrepSpec; here the
  //    full span+hash table is oracle-checked bit-exactly.
  private val CDC_W = 8
  private val CDC_DIV = 32
  private def cdcEndsSql = {
    // mirrors TrainingPrep.cdcChunks: window i closes a chunk at token
    // i + w - 1 when its hash ≡ 0 mod divisor; last token always closes
    s"""list_sort(list_distinct(list_append(
       | CASE WHEN len(hs) > 0 THEN
       |   list_filter(list_transform(generate_series(1, len(hs)),
       |     i -> CASE WHEN hs[CAST(i AS INT)] % $CDC_DIV = 0
       |            THEN i + ${CDC_W - 1} ELSE NULL END),
       |     x -> x IS NOT NULL)
       | ELSE CAST([] AS BIGINT[]) END, len(toks))))""".stripMargin
  }
  private val cdcStartSql =
    "CASE WHEN k = 1 THEN 1 ELSE ends[CAST(k - 1 AS INT)] + 1 END"
  private val q93 = Q(
    "q93_cdc_chunks",
    (s, dir) => {
      val t = Tpch(s, dir)
      // per-row shingle hashing + per-chunk md5 is compute-heavy narrow
      // work: restore scan splits locally (no-op on multi-file data)
      TrainingPrep.cdcChunks(graft.core.Scan.fanOut(t.documents),
          "doc_id", "text", CDC_W, CDC_DIV)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, ${tokensSql("text")} AS toks,
          ${shingleHashesSql("text", CDC_W)} AS hs
        FROM documents),
      b AS (
        SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens,
          $cdcEndsSql AS ends
        FROM d),
      c AS (
        SELECT doc_id, n_tokens, toks, ends,
          unnest(generate_series(1, len(ends))) AS k
        FROM b WHERE n_tokens > 0)
      SELECT doc_id, n_tokens,
        CAST(k AS INT) AS chunk_idx,
        CAST($cdcStartSql AS INT) AS chunk_start,
        CAST(ends[CAST(k AS INT)] AS INT) AS chunk_end,
        CAST(ends[CAST(k AS INT)] - ($cdcStartSql) + 1 AS INT) AS chunk_len,
        md5(array_to_string(
          toks[CAST($cdcStartSql AS INT):CAST(ends[CAST(k AS INT)] AS INT)],
          ' ')) AS chunk_hash
      FROM c
      ORDER BY doc_id, chunk_idx"""))

  // -- T9: chunk-level dedup stats over the CDC chunks — the statistic
  //    CDC exists to improve: identical passages across documents
  //    collapse onto one chunk_hash, so dup_chunk_frac exposes sub-
  //    document duplication that doc-level exact dedup cannot see.
  //    One hash-groupBy on (source, chunk_hash) semantics via
  //    count(DISTINCT) — at 100 TB this is the same shuffle shape as
  //    exact dedup (key = chunk hash), nothing quadratic. ------------
  private val q94 = Q(
    "q94_cdc_dedup_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.cdcChunks(graft.core.Scan.fanOut(t.documents),
          "doc_id", "text", CDC_W, CDC_DIV, carry = Seq("source"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
          pround((count(lit(1)) - countDistinct(col("chunk_hash")))
            .cast("double") / count(lit(1)), 6).as("dup_chunk_frac"),
          sum(col("chunk_len")).cast("long").as("total_tokens"),
          max(col("chunk_len")).as("max_chunk_len"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source, ${tokensSql("text")} AS toks,
          ${shingleHashesSql("text", CDC_W)} AS hs
        FROM documents),
      b AS (
        SELECT doc_id, source, toks, CAST(len(toks) AS INT) AS n_tokens,
          $cdcEndsSql AS ends
        FROM d),
      c AS (
        SELECT doc_id, source, n_tokens, toks, ends,
          unnest(generate_series(1, len(ends))) AS k
        FROM b WHERE n_tokens > 0),
      chunks AS (
        SELECT doc_id, source,
          CAST(ends[CAST(k AS INT)] - ($cdcStartSql) + 1 AS INT) AS chunk_len,
          md5(array_to_string(
            toks[CAST($cdcStartSql AS INT):CAST(ends[CAST(k AS INT)] AS INT)],
            ' ')) AS chunk_hash
        FROM c)
      SELECT source, count(*) AS n_chunks,
        count(DISTINCT chunk_hash) AS n_distinct_chunks,
        ${proundSql(
          "CAST(count(*) - count(DISTINCT chunk_hash) AS DOUBLE) / count(*)",
          6)} AS dup_chunk_frac,
        CAST(sum(chunk_len) AS BIGINT) AS total_tokens,
        max(chunk_len) AS max_chunk_len
      FROM chunks
      GROUP BY source
      ORDER BY source"""))

  // -- T10: deterministic seeded corpus shuffle (training order).
  //    Every doc gets (shard, pos) from an affine mix of its id mod P:
  //    same seed → same epoch order on any cluster; shuffle ONCE on
  //    shard, sort each shard independently — the canonical global
  //    training-order assignment without a global sort. --------------
  private val SHUF_SEED = 42L
  private val SHUF_SHARDS = 8
  private val q98 = Q(
    "q98_corpus_shuffle",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.shuffleOrder(
          t.documents.select(col("doc_id")), "doc_id", SHUF_SEED, SHUF_SHARDS)
        .select(col("doc_id"), col("shuffle_key"),
          col("shard").cast("long").as("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
    Some(s"""WITH keyed AS (
        SELECT doc_id,
          ${TrainingPrep.mixKeySql("doc_id", SHUF_SEED)} AS shuffle_key
        FROM documents),
      sharded AS (
        SELECT doc_id, shuffle_key, shuffle_key % $SHUF_SHARDS AS shard
        FROM keyed)
      SELECT doc_id, shuffle_key, shard,
        CAST(row_number() OVER (PARTITION BY shard
          ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
      FROM sharded
      ORDER BY shard, pos"""))

  // -- T11: token-budget epoch allocation — per-source repeat factors
  //    (floor + deterministic hash-remainder upsampling) that hit a
  //    target token mixture. Budget here: every source gets an equal
  //    1/4 share of the total corpus token count, so over-represented
  //    sources down-sample to 0-1 repeats and scarce ones up-sample —
  //    both regimes exercised. Integer arithmetic only (BIGINT div /
  //    mod / cross-multiplied threshold), so bit-exact across engines.
  private val EPOCH_SEED = 7L
  private val q99 = Q(
    "q99_epoch_allocation",
    (s, dir) => {
      val t = Tpch(s, dir)
      val docs = t.documents.select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      val budgets = broadcast(
          docs.groupBy(lit(1)).agg(sum(col("n_tokens")).as("tot")))
        .crossJoin(docs.select(col("source")).distinct())
        .select(col("source"), expr("tot div 4").as("token_budget"))
      TrainingPrep.epochAllocation(
          docs, "doc_id", "source", "n_tokens", budgets, EPOCH_SEED)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("repeat_floor"), col("extra").cast("long").as("extra"),
          col("n_repeats"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, source,
          CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      budgets AS (
        SELECT source,
          CAST((SELECT sum(n_tokens) FROM docs) AS BIGINT) // 4
            AS token_budget
        FROM (SELECT DISTINCT source FROM docs)),
      totals AS (
        SELECT d.source, CAST(sum(d.n_tokens) AS BIGINT) AS corpus_tokens,
          any_value(b.token_budget) AS budget
        FROM docs d JOIN budgets b ON d.source = b.source
        GROUP BY d.source)
      SELECT d.doc_id, d.source, d.n_tokens,
        CAST(t.budget // t.corpus_tokens AS BIGINT) AS repeat_floor,
        CAST(CASE WHEN (${TrainingPrep.mixKeySql("d.doc_id", EPOCH_SEED)})
              * t.corpus_tokens
            < (t.budget % t.corpus_tokens) * ${TextFns.P}
          THEN 1 ELSE 0 END AS BIGINT) AS extra,
        CAST(t.budget // t.corpus_tokens
          + CASE WHEN (${TrainingPrep.mixKeySql("d.doc_id", EPOCH_SEED)})
                * t.corpus_tokens
              < (t.budget % t.corpus_tokens) * ${TextFns.P}
            THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
      FROM docs d JOIN totals t ON d.source = t.source
      ORDER BY d.doc_id"""))

  // -- T13: n-gram novelty under corpus order — the seen-before ratio
  //    per doc (TrainingPrep.ngramNovelty). The oracle re-derives the
  //    same distinct-shingle index with a window min, so the full
  //    inverted-index dataflow is verified, not a canned answer. -----
  private val q103 = Q(
    "q103_ngram_novelty",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.ngramNovelty(t.documents, "doc_id", "text", N)
    },
    Some(s"""WITH g AS (
        SELECT DISTINCT doc_id, h FROM (
          SELECT doc_id, unnest(${shingleHashesSql("text", N)}) AS h
          FROM documents)),
      f AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS first_id
        FROM g)
      SELECT doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN first_id < doc_id THEN 1 ELSE 0 END) AS BIGINT)
          AS n_seen,
        ${proundSql(
          """(count(*) - sum(CASE WHEN first_id < doc_id THEN 1 ELSE 0 END))
             / CAST(count(*) AS DOUBLE)""", 6)} AS novelty
      FROM f
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // -- TP13: quality-ranked token-budget selection — fill each
  //    source's token budget with its best documents (the data-
  //    selection step between filtering and mixing: "keep the top
  //    docs per source until N tokens"). Rank = distinct-token ratio
  //    (a deterministic quality signal; ties to doc_id), keep while
  //    the INCLUSIVE running token sum fits the budget. The prefix
  //    sum is one window per source — same low-cardinality caveat as
  //    q38's window percentiles (sources ≪ partitions; the
  //    group-scalable sibling shape is the q64 two-phase bucketed
  //    prefix sum). Integer cumsum ⇒ no float boundary risk. -------
  private val TOKEN_BUDGET = 800L
  private val q116 = Q(
    "q116_token_budget",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val toks = TextFns.tokens(col("text"))
      val scored = t.documents.select(
        col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") / size(toks))
          .as("distinct_ratio"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("distinct_ratio").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"),
          pround(col("distinct_ratio"), 4).as("distinct_ratio"),
          when(col("cum_tokens") <= TOKEN_BUDGET, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some {
      val toksSql2 = tokensSql("text")
      s"""WITH scored AS (
        SELECT doc_id, source,
          CAST(len($toksSql2) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($toksSql2)) AS DOUBLE) / len($toksSql2)
            AS distinct_ratio
        FROM documents),
      ranked AS (
        SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
          ORDER BY distinct_ratio DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
        FROM scored)
      SELECT doc_id, source, n_tokens, cum_tokens,
        ${proundSql("distinct_ratio", 4)} AS distinct_ratio,
        CASE WHEN cum_tokens <= $TOKEN_BUDGET THEN 1 ELSE 0 END AS keep
      FROM ranked
      ORDER BY doc_id"""
    })

  // -- T14: DSIR importance selection (operators.Dsir) — candidate
  //    docs ranked toward a target distribution over hashed
  //    unigram+bigram features (Xie et al. 2023). Product-form weights
  //    folded in sorted bucket order: every factor is an exactly-
  //    rounded division, no libm — bit-exact vs the oracle. Target =
  //    four of the twenty sources; candidates = the rest. ------------
  private val DSIR_B = 256 // hashed feature buckets (the DSIR knob)
  private val DSIR_M = 50  // selected docs
  private val DSIR_TARGETS = Seq("src0", "src1", "src2", "src3")
  private val q121 = Q(
    "q121_dsir_selection",
    (s, dir) => {
      val t = Tpch(s, dir)
      val isTarget = col("source").isin(DSIR_TARGETS.map(lit): _*)
      graft.operators.Dsir.selectTop(
          t.documents, "doc_id", "text", isTarget, DSIR_B, DSIR_M)
        .select(col("rank"), col("doc_id"), col("source"),
          col("n_feats"), pround(col("weight"), 6).as("weight"))
        .orderBy(col("rank"))
    },
    Some {
      val targetList = DSIR_TARGETS.map(t => s"'$t'").mkString(", ")
      s"""WITH feats AS (
        SELECT doc_id, source, source IN ($targetList) AS is_t,
          ${graft.operators.Dsir.featureIdsSql("text", DSIR_B)} AS fl
        FROM documents),
      occ AS (
        SELECT doc_id, is_t, unnest(fl) AS bucket FROM feats),
      cnt AS (
        SELECT bucket,
          sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
          sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
        FROM occ GROUP BY bucket),
      tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM cnt),
      ratio AS (
        SELECT bucket,
          (CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
            / (CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)) AS ratio
        FROM cnt CROSS JOIN tot),
      w AS (
        SELECT o.doc_id, f.source, len(f.fl) AS n_feats,
          list_reduce(list_prepend(CAST(1 AS DOUBLE),
            list(r.ratio ORDER BY o.bucket)), (x, y) -> x * y) AS weight
        FROM occ o
        JOIN ratio r USING (bucket)
        JOIN feats f USING (doc_id)
        WHERE NOT o.is_t
        GROUP BY o.doc_id, f.source, len(f.fl))
      SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id ASC)
          AS INT) AS rank,
        doc_id, source, n_feats, ${proundSql("weight", 6)} AS weight
      FROM w
      ORDER BY weight DESC, doc_id ASC
      LIMIT $DSIR_M"""
    })

  // -- T15: length-bucketed batching efficiency — the OTHER padding
  //    policy family (q64/q154 pack by gapless concatenation, which
  //    never pads; SFT/instruction corpora can't split documents, so
  //    they pad instead). The fairseq/HF recipe: quantize each doc's
  //    length up to a bucket (LB_W tokens), batch within the bucket
  //    (LB_B docs), pad only to the bucket ceiling. The mart reports,
  //    per bucket + corpus-wide, the batch count and the padding
  //    waste of bucketed padding vs the naive pad-to-corpus-max —
  //    the measured justification for length bucketing. One scan +
  //    one small keyed agg; the corpus max arrives as a broadcast
  //    1-row fanout; totals are a second agg over the (tiny) bucket
  //    table — all integer until the two exactly-rounded ratios.
  private val LB_W = 16L // bucket quantum (tokens)
  private val LB_B = 16L // batch size (docs)
  private val q162 = Q(
    "q162_bucket_batching",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = t.documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      val perBucket = toks
        .withColumn("bucket_len",
          expr(s"((greatest(n_tokens, 1) + ${LB_W - 1}) div $LB_W) * $LB_W"))
        .groupBy(col("bucket_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          expr(s"(count(1) + ${LB_B - 1}) div $LB_B").as("n_batches"))
      val gmax = toks.agg(max(col("n_tokens")).as("gmax"))
      // the bucket table is a handful of rows referenced twice (per-
      // bucket rows + the total row) — checkpoint it so the scan +
      // fanout subtree isn't evaluated once per branch
      val rows = perBucket.crossJoin(broadcast(gmax))
        .select(lit(0).cast("int").as("gid"), col("bucket_len"),
          col("n_docs"), col("n_tokens"), col("n_batches"),
          (col("bucket_len") * col("n_docs") - col("n_tokens"))
            .as("padded_bucketed"),
          (col("gmax") * col("n_docs") - col("n_tokens"))
            .as("padded_to_max"))
        .localCheckpoint(true)
      val total = rows.agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_batches")).as("n_batches"),
        sum(col("padded_bucketed")).as("padded_bucketed"),
        sum(col("padded_to_max")).as("padded_to_max"))
        .select(lit(1).cast("int").as("gid"),
          lit(null).cast("long").as("bucket_len"),
          col("n_docs"), col("n_tokens"), col("n_batches"),
          col("padded_bucketed"), col("padded_to_max"))
      rows.unionByName(total)
        .select(col("gid"), col("bucket_len"), col("n_docs"),
          col("n_tokens"), col("n_batches"), col("padded_bucketed"),
          pround(col("padded_bucketed").cast("double") /
            (col("n_tokens") + col("padded_bucketed")), 6)
            .as("bucketed_waste_pct"),
          col("padded_to_max"),
          pround(col("padded_to_max").cast("double") /
            (col("n_tokens") + col("padded_to_max")), 6)
            .as("to_max_waste_pct"))
        .orderBy(col("gid"), col("bucket_len"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      pb AS (
        SELECT CAST(((greatest(n_tokens, 1) + ${LB_W - 1}) // $LB_W)
            * $LB_W AS BIGINT) AS bucket_len,
          count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          CAST((count(*) + ${LB_B - 1}) // $LB_B AS BIGINT) AS n_batches
        FROM toks GROUP BY 1),
      g AS (SELECT CAST(max(n_tokens) AS BIGINT) AS gmax FROM toks),
      rws AS (
        SELECT CAST(0 AS INT) AS gid, bucket_len, n_docs, n_tokens,
          n_batches,
          CAST(bucket_len * n_docs - n_tokens AS BIGINT)
            AS padded_bucketed,
          CAST(gmax * n_docs - n_tokens AS BIGINT) AS padded_to_max
        FROM pb, g),
      tot AS (
        SELECT CAST(1 AS INT) AS gid, CAST(NULL AS BIGINT) AS bucket_len,
          CAST(sum(n_docs) AS BIGINT) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          CAST(sum(n_batches) AS BIGINT) AS n_batches,
          CAST(sum(padded_bucketed) AS BIGINT) AS padded_bucketed,
          CAST(sum(padded_to_max) AS BIGINT) AS padded_to_max
        FROM rws)
      SELECT gid, bucket_len, n_docs, n_tokens, n_batches,
        padded_bucketed,
        ${proundSql(
          "CAST(padded_bucketed AS DOUBLE) / (n_tokens + padded_bucketed)",
          6)} AS bucketed_waste_pct,
        padded_to_max,
        ${proundSql(
          "CAST(padded_to_max AS DOUBLE) / (n_tokens + padded_to_max)",
          6)} AS to_max_waste_pct
      FROM (SELECT * FROM rws UNION ALL SELECT * FROM tot)
      ORDER BY gid, bucket_len"""))

  // -- T16: WATERFILLING mixture allocation — the fair cross-source
  //    token budget (the pretraining-mix question "how much of each
  //    source goes in?"): every source gets an equal share, sources
  //    smaller than the share contribute everything, and their slack
  //    redistributes to the rest — i.e. allocation_i = min(size_i, L)
  //    with the water level L chosen so Σ allocations = B exactly.
  //    Closed form, no iteration: sort sources by size ascending with
  //    a prefix sum; the first index where size_i exceeds the
  //    candidate level (B − prefix_i) div (remaining sources) marks
  //    the capped set; integer division remainder goes +1 each to the
  //    first r capped sources by name — everything integer, the
  //    budget is hit EXACTLY, and the whole computation runs on the
  //    per-source totals (a handful of rows — the unpartitioned
  //    windows are over k ≈ 20 rows, allowlisted like q64's bucket
  //    prefix sums). q116 budgets WITHIN a priority order; this
  //    balances ACROSS sources — the DoReMi-adjacent fair-mix
  //    baseline every mixture study starts from.
  //    Budget = 3/5 of total corpus tokens (integer div).
  private val q172 = Q(
    "q172_waterfill_mixture",
    (s, dir) => {
      val t = Tpch(s, dir)
      val src = t.documents
        .select(col("source"), size(TextFns.tokens(col("text")))
          .cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      TrainingPrep.waterfill(src, "source", "n_tokens", 3L, 5L)
        .withColumn("fill_rate",
          pround(col("allocation").cast("double") / col("n_tokens"), 6))
        .orderBy(col("source"))
    },
    Some(s"""WITH src AS (
        SELECT source,
          CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        count(*) AS k FROM src),
      ranked AS (
        SELECT source, n_tokens, total, k,
          CAST((total * 3) // 5 AS BIGINT) AS b,
          CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT)
            AS rn,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS prefix
        FROM src, tot),
      lv AS (
        SELECT *, CAST((b - prefix) // (k - rn + 1) AS BIGINT) AS cand
        FROM ranked),
      thr AS (
        SELECT coalesce(min(CASE WHEN n_tokens > cand THEN rn END),
          (SELECT k FROM tot) + 1) AS t_rn
        FROM lv),
      lvl AS (
        SELECT l.cand AS lvl,
          CAST((l.b - l.prefix) % (l.k - l.rn + 1) AS BIGINT) AS rem
        FROM lv l, thr WHERE l.rn = thr.t_rn),
      alloc AS (
        SELECT l.source, l.n_tokens,
          l.rn >= thr.t_rn AS capped,
          CAST(sum(CASE WHEN l.rn >= thr.t_rn THEN 1 ELSE 0 END)
            OVER (ORDER BY l.source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cap_rank
        FROM lv l, thr)
      SELECT a.source, a.n_tokens,
        CASE WHEN NOT a.capped THEN a.n_tokens
          ELSE lvl.lvl + CASE WHEN a.cap_rank <= lvl.rem THEN 1
            ELSE 0 END END AS allocation,
        NOT a.capped AS takes_all,
        ${proundSql(
          "CAST((CASE WHEN NOT a.capped THEN a.n_tokens ELSE lvl.lvl" +
            " + CASE WHEN a.cap_rank <= lvl.rem THEN 1 ELSE 0 END END)" +
            " AS DOUBLE) / a.n_tokens", 6)} AS fill_rate
      FROM alloc a LEFT JOIN lvl ON true
      ORDER BY a.source"""))

  // -- T17: largest-remainder eval apportionment — the PROPORTIONAL
  //    sibling of q172's equal-share waterfill: how many of each
  //    source's docs go into a 10% eval split, with quotas that sum
  //    to the budget EXACTLY and stay within 1 doc of the exact
  //    proportional share (Hamilton's method, the standard answer to
  //    "floor() under-allocates"). Deterministic bonus order =
  //    largest remainder, ties by source; integer/decimal-exact
  //    throughout (TrainingPrep.apportion).
  private val q173 = Q(
    "q173_apportion_eval",
    (s, dir) => {
      val t = Tpch(s, dir)
      val src = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      TrainingPrep.apportion(src, "source", "n_docs", 1L, 10L)
        .withColumn("eval_share",
          pround(col("allocation").cast("double") / col("n_docs"), 6))
        .orderBy(col("source"))
    },
    Some(s"""WITH src AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM src),
      base AS (
        SELECT source, n_docs, total,
          CAST(total // 10 AS BIGINT) AS b
        FROM src, tot),
      q AS (
        SELECT *,
          CAST((CAST(b AS HUGEINT) * n_docs) // total AS BIGINT)
            AS quota,
          CAST((CAST(b AS HUGEINT) * n_docs) % total AS BIGINT) AS rem
        FROM base),
      l AS (
        SELECT CAST(max(b) - sum(quota) AS BIGINT) AS leftover FROM q),
      r AS (
        SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source)
          AS BIGINT) AS rk
        FROM q)
      SELECT r.source, r.n_docs,
        CAST(r.quota + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
          AS BIGINT) AS allocation,
        r.rk <= l.leftover AS got_bonus,
        ${proundSql(
          "CAST(r.quota + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0" +
            " END AS DOUBLE) / r.n_docs", 6)} AS eval_share
      FROM r, l
      ORDER BY r.source"""))

  // -- T18: byte-targeted output-shard MANIFEST — the publishing
  //    planner (how many ~target-byte WebDataset/JSONL shards will
  //    this corpus make, and how balanced): whole-doc assignment by
  //    shard = ⌊exclusive byte prefix / target⌋ in doc_id order — a
  //    pure function of the corpus (no sequential next-fit state),
  //    which is what makes it BOTH distributable (packOffsets'
  //    two-phase prefix sum, no global sort) and oracle-able. Bytes
  //    are UTF-8 octets (octet_length ≡ DuckDB strlen, the q130
  //    convention).
  private val SHARD_B = 8192
  private val q179 = Q(
    "q179_shard_manifest",
    (s, dir) => {
      val t = Tpch(s, dir)
      TrainingPrep.shardManifest(
          t.documents.select(col("doc_id"),
            octet_length(col("text")).cast("long").as("n_b")),
          "doc_id", "n_b", SHARD_B)
        .select(col("shard"), col("n_docs"), col("n_bytes"),
          col("first_doc"), col("last_doc"),
          pround(col("utilization"), 6).as("utilization"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH b AS (
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nb FROM documents),
      p AS (
        SELECT doc_id, nb,
          CAST(coalesce(sum(nb) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS off
        FROM b)
      SELECT off // $SHARD_B AS shard, count(*) AS n_docs,
        CAST(sum(nb) AS BIGINT) AS n_bytes,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        ${proundSql(s"CAST(sum(nb) AS DOUBLE) / $SHARD_B", 6)}
          AS utilization
      FROM p
      GROUP BY 1
      ORDER BY 1"""))

  // -- T19: MLM MASKING PLAN — the static corruption layout a
  //    BERT/T5-style pretraining data build materializes (mask 15% of
  //    positions; of those 80% → [MASK], 10% → a random token, 10% →
  //    kept): every decision is a portable hash of (seed, doc, pos) —
  //    h = (A·(doc·2²⁰ + pos) + B) mod P, the TextFns constants — so
  //    the plan is a pure function of the corpus and seed,
  //    reproducible across engines, epochs, and partitionings. The
  //    "random" replacement token is the same-doc token at index
  //    h₃ mod len (deterministic, vocabulary-free). Entirely
  //    row-local array work in ONE scan — no shuffle before the
  //    output sort.
  private val MLM_SEL = 150  // of 1000 → 15% positions selected
  private val MLM_A = 2654435761L
  private val MLM_B = 998244353L
  private val MLM_A2 = 2246822519L
  private val MLM_A3 = 3266489917L
  private val q188 = Q(
    "q188_mlm_mask_plan",
    (s, dir) => {
      val t = Tpch(s, dir)
      val P = graft.functions.TextFns.P
      val toks = TextFns.tokens(col("text"))
      val rows = t.documents
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(col("toks")).as(Seq("pos", "token")))
      // reduce the key mod P BEFORE the A-multiply: scaled corpora
      // carry large doc ids, and A·(doc·2²⁰) must stay inside int64
      // in BOTH engines (DuckDB raises on overflow; Spark would wrap)
      val key = pmod(pmod(col("doc_id"), lit(P)) * lit(1L << 20)
        + col("pos"), lit(P))
      def h(a: Long) = pmod(lit(a) * key + lit(MLM_B), lit(P))
      val r = pmod(h(MLM_A2), lit(10L))
      val planned = rows
        .filter(pmod(h(MLM_A), lit(1000L)) < MLM_SEL)
        .select(col("doc_id"), col("pos"), col("token"),
          when(r <= 7, lit("mask"))
            .when(r === 8, lit("random"))
            .otherwise(lit("keep")).as("action"),
          when(r <= 7, lit("[MASK]"))
            .when(r === 8, element_at(col("toks"),
              (pmod(h(MLM_A3), size(col("toks")).cast("long")) + 1)
                .cast("int")))
            .otherwise(col("token")).as("filled"))
      planned.orderBy(col("doc_id"), col("pos"))
    },
    Some {
      val P = graft.functions.TextFns.P
      val toksSql2 = tokensSql("text")
      val key = s"(((doc_id % $P) * ${1L << 20} + pos) % $P)"
      def h(a: Long) = s"(($a * $key + $MLM_B) % $P)"
      s"""WITH tk AS (
        SELECT doc_id, $toksSql2 AS toks FROM documents),
      px AS (
        SELECT doc_id, toks, CAST(p - 1 AS INT) AS pos, toks[p] AS token
        FROM tk CROSS JOIN unnest(generate_series(1, len(toks))) AS u(p)),
      sel AS (
        SELECT doc_id, toks, pos, token, ${h(MLM_A2)} % 10 AS r
        FROM px WHERE ${h(MLM_A)} % 1000 < $MLM_SEL)
      SELECT doc_id, pos, token,
        CASE WHEN r <= 7 THEN 'mask' WHEN r = 8 THEN 'random'
          ELSE 'keep' END AS action,
        CASE WHEN r <= 7 THEN '[MASK]'
          WHEN r = 8 THEN toks[CAST(${h(MLM_A3)} % len(toks) + 1 AS INT)]
          ELSE token END AS filled
      FROM sel
      ORDER BY doc_id, pos"""
    })

  // -- T20: distribution-FLATTENING resample plan — the rebalancer a
  //    mixture pipeline runs when one source dominates (CCNet/Dolma
  //    downsample the head): keep each doc with probability
  //    min_tokens/src_tokens (token-MASS flattening, the quantity a
  //    mixture actually balances), realized EXACTLY and
  //    deterministically as the integer predicate
  //    `hash(doc) mod src_tokens < min_tokens` — a rational
  //    probability with no RNG and no float (the q55 hash-sampling
  //    family, rate now DATA-DERIVED per group). The plan is a pure
  //    function of the corpus; per-source realized keeps concentrate
  //    tightly around n_min. Hash keys reduce mod P before the
  //    multiplier (q188 discipline). One tiny counts agg broadcast
  //    onto the scan; the corpus never shuffles.
  private val FL_A = 2654435761L
  private val FL_B = 998244353L
  private val q198 = Q(
    "q198_flatten_resample",
    (s, dir) => {
      val t = Tpch(s, dir)
      val P = TextFns.P
      val counts = t.documents
        .select(col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("src_tokens"))
      val nMin = counts.agg(min(col("src_tokens")).as("min_tokens"))
      val h = pmod(pmod(col("doc_id"), lit(P)) * lit(FL_A) + lit(FL_B),
        lit(P))
      t.documents
        .join(broadcast(counts), Seq("source"))
        .crossJoin(broadcast(nMin))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          col("min_tokens"),
          when(pmod(h, col("src_tokens")) < col("min_tokens"), 1L)
            .otherwise(0L).as("keep"))
        .groupBy(col("source"), col("n_docs"), col("src_tokens"),
          col("min_tokens"))
        .agg(sum(col("keep")).as("n_kept"))
        .withColumn("kept_ratio",
          pround(col("n_kept").cast("double") / col("n_docs"), 6))
        .orderBy(col("source"))
    },
    Some {
      val P = TextFns.P
      s"""WITH counts AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source),
      nm AS (SELECT min(src_tokens) AS min_tokens FROM counts),
      marked AS (
        SELECT d.source, c.n_docs, c.src_tokens, nm.min_tokens,
          CASE WHEN ((d.doc_id % $P) * $FL_A + $FL_B) % $P % c.src_tokens
            < nm.min_tokens THEN 1 ELSE 0 END AS keep
        FROM documents d
        JOIN counts c ON d.source = c.source
        CROSS JOIN nm)
      SELECT source, n_docs, src_tokens, min_tokens,
        CAST(sum(keep) AS BIGINT) AS n_kept,
        ${proundSql("CAST(sum(keep) AS DOUBLE) / n_docs", 6)} AS kept_ratio
      FROM marked
      GROUP BY source, n_docs, src_tokens, min_tokens
      ORDER BY source"""
    })

  // -- T21: packed-sequence BOUNDARY stats — the attention-
  //    contamination diagnostic for concat packing (q64/q68): how
  //    many training sequences splice multiple documents together
  //    (cross-doc attention leaks context unless the trainer masks
  //    at boundaries), how many documents the worst sequence
  //    splices, and what fraction of sequences are single-doc (no
  //    mask needed). One rollup over q68's segment map — integers
  //    until two exactly-rounded ratios.
  private val q199 = Q(
    "q199_pack_boundary_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = t.documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      val perSeq = TrainingPrep.packSegments(toks, "doc_id", "n_tokens",
          seqLen = SEQ_LEN, bucketWidth = BUCKET)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs_in_seq"))
      perSeq.agg(
          count(lit(1)).as("n_seqs"),
          sum(when(col("n_docs_in_seq") > 1, 1L).otherwise(0L))
            .as("n_multi_doc"),
          max(col("n_docs_in_seq")).as("max_docs_in_seq"),
          sum(col("n_docs_in_seq")).as("sum_docs"))
        .select(col("n_seqs"), col("n_multi_doc"), col("max_docs_in_seq"),
          pround(col("n_multi_doc").cast("double") / col("n_seqs"), 6)
            .as("multi_frac"),
          pround(col("sum_docs").cast("double") / col("n_seqs"), 6)
            .as("mean_docs_per_seq"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      offs AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS doc_offset
        FROM toks),
      spans AS (
        SELECT doc_id, doc_offset,
          CAST(floor(doc_offset / ${SEQ_LEN}.0) AS BIGINT) AS first_seq,
          CAST(floor((doc_offset + greatest(n_tokens, 1) - 1) / ${SEQ_LEN}.0)
            AS BIGINT) AS last_seq
        FROM offs),
      per_seq AS (
        SELECT seq_id, count(*) AS n_docs_in_seq FROM (
          SELECT doc_id, unnest(generate_series(first_seq, last_seq))
            AS seq_id
          FROM spans)
        GROUP BY seq_id)
      SELECT count(*) AS n_seqs,
        CAST(sum(CASE WHEN n_docs_in_seq > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_multi_doc,
        CAST(max(n_docs_in_seq) AS BIGINT) AS max_docs_in_seq,
        ${proundSql(
          "CAST(sum(CASE WHEN n_docs_in_seq > 1 THEN 1 ELSE 0 END)" +
            " AS DOUBLE) / count(*)", 6)} AS multi_frac,
        ${proundSql("CAST(sum(n_docs_in_seq) AS DOUBLE) / count(*)", 6)}
          AS mean_docs_per_seq
      FROM per_seq"""))

  // -- T: decontamination METHOD-OVERLAP row (q191's matrix shape
  //    pointed at the decon family): the set of corpus docs flagged by
  //    SEMANTIC cross-frame decontamination (q211's cluster-confined
  //    corpus×eval cosine pairs over embeddings) vs the set flagged by
  //    the exact N-GRAM method (q62's shingle index over text; vec_id
  //    ≡ doc_id in the testdata), intersected on the shared id space —
  //    the measured "how much does paraphrase-level catch that exact
  //    overlap misses" number. Both sets come from their production
  //    generators; the oracle splices the sdc_-prefixed Lloyd+cross
  //    CTEs next to the shingle CTEs and counts.
  private val q212 = Q(
    "q212_decon_method_overlap",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      import SimilarityQueries.{SDC_EVERY, SDC_TAU, SD_K, SD_ITERS}
      val corpus = t.embeddings.filter(col("vec_id") % SDC_EVERY =!= 0)
      val evalSet = t.embeddings.filter(col("vec_id") % SDC_EVERY === 0)
      val semIds = graft.operators.Dedup.semDeDupCross(corpus, evalSet,
          "vec_id", "embedding", SD_K, SD_ITERS, SDC_TAU)
        .select(col("corpus_id")).distinct().localCheckpoint(true)
      val ngramIds = TrainingPrep.contaminationReport(
          t.documents, "doc_id", "text", N, col("doc_id") % SDC_EVERY === 0)
        .select(col("doc_id").as("corpus_id")).distinct()
        .localCheckpoint(true)
      Seq(("semantic", "ngram", semIds.count(), ngramIds.count(),
          semIds.join(ngramIds, Seq("corpus_id")).count()))
        .toDF("method_a", "method_b", "n_a", "n_b", "n_both")
    },
    Some(s"""WITH ${SimilarityQueries.semDeDupCrossCtes},
      dsh AS (
        SELECT doc_id, doc_id % ${SimilarityQueries.SDC_EVERY} = 0 AS is_eval,
          list_distinct(${shingleHashesSql("text", N)}) AS shingle_set
        FROM documents),
      deval_idx AS (
        SELECT DISTINCT unnest(shingle_set) AS shingle
        FROM dsh WHERE is_eval),
      dtrain AS (
        SELECT doc_id, unnest(shingle_set) AS shingle
        FROM dsh WHERE NOT is_eval),
      ngram AS (
        SELECT DISTINCT t.doc_id FROM dtrain t
        JOIN deval_idx e ON t.shingle = e.shingle),
      sem AS (SELECT DISTINCT corpus_id FROM sdc_prs)
      SELECT 'semantic' AS method_a, 'ngram' AS method_b,
        (SELECT count(*) FROM sem) AS n_a,
        (SELECT count(*) FROM ngram) AS n_b,
        (SELECT count(*) FROM sem x JOIN ngram y
          ON x.corpus_id = y.doc_id) AS n_both"""))

  // -- T23: RENDEZVOUS sharding ([[graft.operators.Rendezvous]]) — the
  //    consistent assignment rule behind resizable shard maps: key →
  //    argmax_s w(key, s). The defining HRW guarantee is MEASURED, not
  //    assumed: re-assigning the corpus at 17 shards vs 16 shows n_in
  //    concentrated ENTIRELY on the new shard (n_in = 0 for every
  //    existing shard — keys never move between survivors) and per-
  //    shard churn_out ≈ 1/17, vs the ~16/17 a mod-S remap would cost.
  //    Pure BIGINT weight arithmetic; per-key argmax over S candidate
  //    rows, WindowGroupLimit-pruned.
  private val q251 = Q(
    "q251_rendezvous_shards",
    (s, dir) => {
      val t = Tpch(s, dir)
      val docs = t.documents.select(col("doc_id"))
      val a16 = graft.operators.Rendezvous.assign(docs, "doc_id", 16)
        .withColumnRenamed("shard", "s16")
      val a17 = graft.operators.Rendezvous.assign(docs, "doc_id", 17)
        .withColumnRenamed("shard", "s17")
      val j = a16.join(a17, Seq("doc_id")).localCheckpoint(true)
      val shards = s.range(0, 17).select(col("id").cast("int").as("shard"))
      j.crossJoin(broadcast(shards))
        .groupBy(col("shard"))
        .agg(
          sum(when(col("s16") === col("shard"), 1L).otherwise(0L)).as("n16"),
          sum(when(col("s17") === col("shard"), 1L).otherwise(0L)).as("n17"),
          sum(when(col("s17") === col("shard")
            && col("s16") =!= col("shard"), 1L).otherwise(0L)).as("n_in"),
          sum(when(col("s16") === col("shard")
            && col("s17") =!= col("shard"), 1L).otherwise(0L)).as("n_out"))
        .withColumn("churn_out", when(col("n16") > 0,
          pround(col("n_out").cast("double") / col("n16").cast("double"), 6)))
        .orderBy(col("shard"))
    },
    Some {
      val P = 1000000007L
      // mirrors Rendezvous.weight: combine, then the square mix
      def wSql(k: String) =
        s"""(((($k % $P) * 2654435761 % $P + s * 97003 + 11) % $P)
           * ((($k % $P) * 2654435761 % $P + s * 97003 + 11) % $P)
           % $P * 40503
           + ((($k % $P) * 2654435761 % $P + s * 97003 + 11) % $P)) % $P"""
      def assignSql(n: Int, as: String) =
        s"""SELECT doc_id, s AS $as FROM (
          SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
              ORDER BY w DESC, s ASC) AS rn
          FROM (SELECT doc_id, s, ${wSql("doc_id")} AS w
                FROM documents CROSS JOIN
                  (SELECT unnest(generate_series(0, ${n - 1})) AS s) t))
        WHERE rn = 1"""
      s"""WITH a16 AS MATERIALIZED (${assignSql(16, "s16")}),
      a17 AS MATERIALIZED (${assignSql(17, "s17")}),
      j AS (SELECT s16, s17 FROM a16 JOIN a17 USING (doc_id)),
      sh AS (SELECT unnest(generate_series(0, 16)) AS shard),
      agg AS (
        SELECT shard,
          CAST(sum(CASE WHEN s16 = shard THEN 1 ELSE 0 END) AS BIGINT)
            AS n16,
          CAST(sum(CASE WHEN s17 = shard THEN 1 ELSE 0 END) AS BIGINT)
            AS n17,
          CAST(sum(CASE WHEN s17 = shard AND s16 != shard THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in,
          CAST(sum(CASE WHEN s16 = shard AND s17 != shard THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out
        FROM sh CROSS JOIN j
        GROUP BY shard)
      SELECT shard, n16, n17, n_in, n_out,
        CASE WHEN n16 > 0 THEN ${proundSql(
          "CAST(n_out AS DOUBLE) / CAST(n16 AS DOUBLE)", 6)} END
          AS churn_out
      FROM agg
      ORDER BY shard"""
    })

  // -- T24: GREEDY MAX-COVERAGE selection ([[graft.operators.SetCover]])
  //    — the (1−1/e) submodular picker for "choose k docs that
  //    together cover the most distinct trigram shingles" (eval-suite
  //    construction, seed sets, coresets). k=8 driver rounds (q107's
  //    bounded-loop discipline), each one anti-join keyed on the
  //    shingle hash + a 1-row argmax collect; the covered set stays
  //    distributed. Oracle = the 8 rounds UNROLLED as materialized
  //    CTEs (winner → covered → anti-joined incidence), the q107
  //    replay pattern; marginal gains, cumulative coverage, and the
  //    fraction of the pool's distinct-shingle universe per round.
  private val SC_K = 8
  private val q252 = Q(
    "q252_set_cover",
    (s, dir) => {
      val t = Tpch(s, dir)
      val inc = t.documents.filter(col("lang") === "en")
        .select(col("doc_id").as("id"),
          explode(array_distinct(TextFns.shingleHashes(col("text"), 3)))
            .as("h"))
      val rounds = graft.operators.SetCover.greedy(s, inc, SC_K)
      val total = inc.agg(countDistinct(col("h")).as("tot"))
      rounds
        .withColumn("cum_covered", sum(col("gain")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("round"))))
        .crossJoin(broadcast(total))
        .select(col("round"), col("id").as("doc_id"), col("gain"),
          col("cum_covered"),
          pround(col("cum_covered").cast("double")
            / col("tot").cast("double"), 6).as("coverage_frac"))
        .orderBy(col("round"))
    },
    Some {
      val roundCtes = (2 to SC_K).map { r =>
        s"""f$r AS MATERIALIZED (
          SELECT i.id, i.h FROM inc i
          WHERE NOT EXISTS (SELECT 1 FROM cov${r - 1} c WHERE c.h = i.h)),
        w$r AS MATERIALIZED (
          SELECT id, CAST(count(*) AS BIGINT) AS gain
          FROM f$r GROUP BY id ORDER BY gain DESC, id ASC LIMIT 1),
        cov$r AS MATERIALIZED (
          SELECT h FROM cov${r - 1}
          UNION
          SELECT h FROM f$r WHERE id = (SELECT id FROM w$r))"""
      }.mkString(",\n      ")
      val unionPicks = (1 to SC_K).map(r =>
        s"SELECT $r AS round, id, gain FROM w$r").mkString("\n        UNION ALL ")
      s"""WITH inc AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, h
        FROM (SELECT doc_id, unnest(${shingleHashesSql("text", 3)}) AS h
              FROM documents WHERE lang = 'en')),
      tot AS (SELECT count(DISTINCT h) AS tot FROM inc),
      w1 AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS gain
        FROM inc GROUP BY id ORDER BY gain DESC, id ASC LIMIT 1),
      cov1 AS MATERIALIZED (
        SELECT DISTINCT h FROM inc WHERE id = (SELECT id FROM w1)),
      $roundCtes,
      picks AS ($unionPicks)
      SELECT round, id AS doc_id, gain,
        CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS cum_covered,
        ${proundSql(
          """CAST(CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS DOUBLE)
             / CAST(tot AS DOUBLE)""", 6)} AS coverage_frac
      FROM picks CROSS JOIN tot
      ORDER BY round"""
    })

  // -- T25: DoReMi-style group-DRO mixture reweighting — the ITERATED
  //    member of the mixture family (q76 samples a GIVEN mixture, q172
  //    water-fills budgets, q121 scores docs once): DoReMi (Xie et al.
  //    2023) instead LEARNS domain weights by multiplicative-weights
  //    ascent on EXCESS loss, w_d ∝ w_d·exp(η·(loss_d − Σ w·loss)) —
  //    the group-DRO minimax game where mass flows to domains the
  //    current mixture underserves. Loss here is the per-source
  //    bits-per-token under the corpus unigram model (lnDet-exact),
  //    the standard LM-loss proxy. All sums ride the pround8/DECIMAL
  //    order-free discipline; exp is graft_expdet; the 20-domain MW
  //    loop is bounded driver state, mirrored by unrolled 20-row CTE
  //    rounds. η = 8 (exact binary) scaled to the synthetic corpus's
  //    homogeneity — sources differ by ~0.013 bits, and the dynamics
  //    still separate weights 0.039–0.065 from uniform 0.05 in 5
  //    rounds (visible, convergent, not degenerate).
  //
  //    Scale shape: token→hash is in-scan; the unigram model is one
  //    vocab-keyed shuffle; the per-(source,vocab) term table joins on
  //    the vocab key (no corpus-sized broadcast); the MW loop never
  //    sees more than |domains| rows.
  private val MW_ETA = 8.0
  private val MW_T = 5
  private val LN2D = 0.6931471805599453
  private val q272 = Q(
    "q272_doremi_mixture",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val occ = t.documents
        .select(col("source"),
          explode(TextFns.shingleHashes(col("text"), 1)).as("h"))
        .localCheckpoint(true)
      val cnts = occ.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val tot = occ.agg(count(lit(1)).as("n"))
      val bits = cnts.crossJoin(broadcast(tot))
        .select(col("h"),
          (call_function("graft_lndet",
            col("n").cast("double") / col("cnt").cast("double"))
            / lit(LN2D)).as("b"))
      val dh = occ.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"))
      val losses = dh.join(bits, Seq("h"))
        .groupBy(col("source"))
        .agg(
          dsum8(col("c").cast("double") * col("b")).as("lossnum"),
          sum(col("c")).as("n_toks"))
        .select(col("source"),
          (col("lossnum") / col("n_toks").cast("double")).as("lossv"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .sortBy(_._1)
      val d = losses.length
      def s8(xs: Seq[Double]): Double =
        xs.map(x => math.floor(x * 1e8 + 0.5).toLong).sum.toDouble / 1e8
      var w: Seq[Double] = Seq.fill(d)(1.0 / d)
      val hist = Seq.newBuilder[(Int, String, Double, Double)]
      losses.zip(w).foreach { case ((src, l), wi) =>
        hist += ((0, src, l, wi))
      }
      for (t0 <- 1 to MW_T) {
        val lbar = s8(losses.zip(w).map { case ((_, l), wi) => wi * l })
        val u = losses.zip(w).map { case ((_, l), wi) =>
          wi * graft.expressions.ExpDet.compute(MW_ETA * (l - lbar))
        }
        val z = s8(u)
        w = u.map(_ / z)
        losses.zip(w).foreach { case ((src, l), wi) =>
          hist += ((t0, src, l, wi))
        }
      }
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      hist.result()
        .map { case (r, src, l, wi) => (r, src, p6(l), p6(wi)) }
        .toDF("round", "source", "loss_bits", "w")
        .orderBy(col("round"), col("source"))
    },
    Some {
      val mwRounds = (1 to MW_T).map { i =>
        s"""lb$i AS MATERIALIZED (
        SELECT ${dsum8Sql("w * lossv")} AS lbar FROM mw${i - 1}),
      ex$i AS (
        SELECT source, lossv, w, lossv - lbar AS ex
        FROM mw${i - 1} CROSS JOIN lb$i),
      ${expDetSqlCtes(s"me$i", s"ex$i", "source, lossv, w",
          s"$MW_ETA * (ex)")},
      u$i AS MATERIALIZED (
        SELECT source, lossv, w * expv AS u FROM me${i}expv),
      z$i AS (SELECT ${dsum8Sql("u")} AS z FROM u$i),
      mw$i AS MATERIALIZED (
        SELECT source, lossv, u / z AS w FROM u$i CROSS JOIN z$i)"""
      }.mkString(",\n      ")
      val unionRows = (0 to MW_T).map(i =>
        s"SELECT $i AS round, source, lossv, w FROM mw$i")
        .mkString("\n        UNION ALL ")
      s"""WITH occ AS MATERIALIZED (
        SELECT source, unnest(${shingleHashesSql("text", 1)}) AS h
        FROM documents),
      cnts AS MATERIALIZED (
        SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY h),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM occ),
      cx AS (
        SELECT h, CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE) AS xr
        FROM cnts CROSS JOIN tot),
      ${Portable.lnDetSqlCtes("ub", "cx", "h", "xr")},
      bits AS MATERIALIZED (
        SELECT h, lnp / $LN2D AS b FROM ublnv),
      dh AS MATERIALIZED (
        SELECT source, h, CAST(count(*) AS BIGINT) AS c
        FROM occ GROUP BY 1, 2),
      losses AS MATERIALIZED (
        SELECT source,
          ${dsum8Sql("CAST(c AS DOUBLE) * b")}
            / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS lossv
        FROM dh JOIN bits USING (h) GROUP BY source),
      dcount AS (SELECT CAST(count(*) AS BIGINT) AS d FROM losses),
      mw0 AS MATERIALIZED (
        SELECT source, lossv, CAST(1 AS DOUBLE) / d AS w
        FROM losses CROSS JOIN dcount),
      $mwRounds,
      rows_all AS ($unionRows)
      SELECT round, source,
        ${proundSql("lossv", 6)} AS loss_bits,
        ${proundSql("w", 6)} AS w
      FROM rows_all
      ORDER BY round, source"""
    })

  val all: Seq[Q] =
    Seq(q62, q63, q64, q65, q68, q81, q91, q93, q94, q98, q99, q103, q116,
      q121, q162, q172, q173, q179, q188, q198, q199, q212, q251, q252,
      q272)
}
