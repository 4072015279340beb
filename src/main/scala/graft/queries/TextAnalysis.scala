package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.Tpch
import graft.functions.TextFns
import Portable._

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars):
  * token counting, quality scoring, n-gram-marker language ID, and
  * rolling-hash document fingerprinting.
  *
  * All computation is built-in higher-order functions (`transform` /
  * `aggregate` / `filter`) — narrow per-row expressions that pipeline
  * inside the parquet scan stage: no shuffle, no UDF, O(chars)/row, so
  * the plan is a single WholeStageCodegen pass at any scale. Every
  * query has a bit-identical DuckDB oracle (integer hashes mod 1e9+7,
  * portable float rounding — see Portable / TextFns).
  */
object TextAnalysis {
  import TextFns._

  // -- T1: token statistics (whitespace tokenizer) ---------------------
  private val q17 = Q(
    "q17_token_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      t.documents.select(
          col("doc_id"),
          col("lang"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct_tokens"),
          length(col("text")).as("n_chars_calc"),
          pround(
            aggregate(toks, lit(0L), (a, tk) => a + length(tk)).cast("double")
              / size(toks), 4).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, lang,
      len(${tokensSql("text")}) AS n_tokens,
      len(list_distinct(${tokensSql("text")})) AS n_distinct_tokens,
      len(text) AS n_chars_calc,
      ${proundSql(
        s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           | list_transform(${tokensSql("text")}, tk -> CAST(len(tk) AS BIGINT))),
           | (a, b) -> a + b) AS DOUBLE)
           | / len(${tokensSql("text")})""".stripMargin, 4)} AS avg_token_len
    FROM documents
    ORDER BY doc_id"""))

  // -- T2: heuristic quality scoring (5-flag score like the reference's
  //    DATA_QUALITY_SCORE, flight_data_cleaner.py:117-124) -------------
  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val q18 = Q(
    "q18_text_quality",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val stopRatio = markerCount(toks, stopwords).cast("double") / nTok
      val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
      val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
      val punctRatio = punct.cast("double") / length(col("text"))
      val score = (
        when(length(col("text")).between(50, 1000), 1).otherwise(0) +
        when(nTok >= 20, 1).otherwise(0) +
        when(stopRatio <= 0.4, 1).otherwise(0) +
        when(distinctRatio >= 0.3, 1).otherwise(0) +
        when(punctRatio <= 0.05, 1).otherwise(0)).cast("double") / 5.0
      t.documents.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          pround(stopRatio, 4).as("stop_ratio"),
          pround(distinctRatio, 4).as("distinct_ratio"),
          pround(punctRatio, 4).as("punct_ratio"),
          score.as("quality_score"),
          when(score >= 0.8, "high").when(score >= 0.5, "medium")
            .otherwise("low").as("quality_tier"))
        .orderBy(col("doc_id"))
    },
    Some {
      val toksSql = tokensSql("text")
      val nTok = s"len($toksSql)"
      val stopRatio =
        s"CAST(${markerCountSql(toksSql, stopwords)} AS DOUBLE) / $nTok"
      val distinctRatio = s"CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok"
      val punctRatio =
        s"CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / len(text)"
      val score = s"""CAST(
        (CASE WHEN len(text) BETWEEN 50 AND 1000 THEN 1 ELSE 0 END) +
        (CASE WHEN $nTok >= 20 THEN 1 ELSE 0 END) +
        (CASE WHEN $stopRatio <= 0.4 THEN 1 ELSE 0 END) +
        (CASE WHEN $distinctRatio >= 0.3 THEN 1 ELSE 0 END) +
        (CASE WHEN $punctRatio <= 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0"""
      s"""SELECT doc_id,
        $nTok AS n_tokens,
        ${proundSql(stopRatio, 4)} AS stop_ratio,
        ${proundSql(distinctRatio, 4)} AS distinct_ratio,
        ${proundSql(punctRatio, 4)} AS punct_ratio,
        $score AS quality_score,
        CASE WHEN $score >= 0.8 THEN 'high'
             WHEN $score >= 0.5 THEN 'medium'
             ELSE 'low' END AS quality_tier
      FROM documents
      ORDER BY doc_id"""
    })

  // -- T3: marker-token language ID (n-gram heuristic), confusion
  //    matrix against the labeled lang column ---------------------------
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"))
  private val q19 = Q(
    "q19_lang_id",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val scoreCols = markers.map { case (l, ms) =>
        markerCount(toks, ms).as(s"s_$l")
      }
      val scored = t.documents.select(
        Seq(col("doc_id"), col("lang")) ++ scoreCols: _*)
      val Seq(en, es, fr, de) =
        Seq("en", "es", "fr", "de").map(l => col(s"s_$l"))
      scored
        .withColumn("pred_lang",
          when(en > 0 && en >= es && en >= fr && en >= de, "en")
            .when(es > 0 && es >= fr && es >= de, "es")
            .when(fr > 0 && fr >= de, "fr")
            .when(de > 0, "de")
            .otherwise("unknown"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    Some {
      val toksSql = tokensSql("text")
      val sc = markers.map { case (l, ms) =>
        s"${markerCountSql(toksSql, ms)} AS s_$l"
      }.mkString(",\n        ")
      s"""SELECT lang, pred_lang, count(*) AS n_docs FROM (
        SELECT lang,
          CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
               WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
               WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
               WHEN s_de > 0 THEN 'de'
               ELSE 'unknown' END AS pred_lang
        FROM (SELECT lang, $sc FROM documents))
      GROUP BY lang, pred_lang
      ORDER BY lang, pred_lang"""
    })

  // -- T4: document fingerprinting (rolling hash + order-independent
  //    token-set hash) --------------------------------------------------
  private val q20 = Q(
    "q20_fingerprint",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.documents.select(
          col("doc_id"),
          rollingHash(col("text")).as("content_hash"),
          tokenSetHash(col("text")).as("tokenset_hash"),
          size(array_distinct(shingleHashes(col("text"), 3)))
            .as("n_distinct_shingles"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
      ${rollingHashSql("text")} AS content_hash,
      ${tokenSetHashSql("text")} AS tokenset_hash,
      len(list_distinct(${shingleHashesSql("text", 3)})) AS n_distinct_shingles
    FROM documents
    ORDER BY doc_id"""))

  // -- T5: PII redaction scrub report (emails / phones / IPv4). The
  //    corpus has no PII by construction, so each doc gets a synthetic
  //    doc_id-derived contact block appended (the q60 pattern: both
  //    engines build the same bytes, then must scrub them the same
  //    way). Counts are pre-redaction; the redacted text itself is
  //    hash-compared, so replacement order and boundaries must agree
  //    exactly. -----------------------------------------------------
  private val q69 = Q(
    "q69_pii_redaction",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.functions.Redaction
      val d = col("doc_id")
      def part(mul: Int, mod: Int, w: Int) =
        lpad(pmod(d * mul, lit(mod)).cast("string"), w, "0")
      val noisy = concat(col("text"),
        lit(" contact user"), d, lit("@corp.example.com or call "),
        part(7, 1000, 3), lit("-"), part(13, 1000, 3), lit("-"),
        part(17, 10000, 4),
        lit(" from 10."), pmod(d, lit(256)), lit("."),
        pmod(d * 3, lit(256)), lit("."), pmod(d * 5, lit(256)))
      val counts = Redaction.patterns.map { case (name, p, _) =>
        Redaction.matchCount(noisy, p).as(s"n_$name")
      }
      t.documents
        .select((Seq(d, Redaction.redact(noisy).as("redacted")) ++ counts): _*)
        .orderBy(d)
    },
    Some {
      import graft.functions.Redaction
      val noisySql =
        """text || ' contact user' || CAST(doc_id AS VARCHAR)
          | || '@corp.example.com or call '
          | || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') || '-'
          | || lpad(CAST(doc_id * 13 % 1000 AS VARCHAR), 3, '0') || '-'
          | || lpad(CAST(doc_id * 17 % 10000 AS VARCHAR), 4, '0')
          | || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
          | || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
          | || '.' || CAST(doc_id * 5 % 256 AS VARCHAR)""".stripMargin
      val countCols = Redaction.patterns.map { case (name, p, _) =>
        s"${Redaction.matchCountSql("t", p)} AS n_$name"
      }.mkString(",\n        ")
      s"""WITH noisy AS (SELECT doc_id, $noisySql AS t FROM documents)
      SELECT doc_id, ${Redaction.redactSql("t")} AS redacted,
        $countCols
      FROM noisy
      ORDER BY doc_id"""
    })

  // -- T6: EXACT heavy hitters via per-partition Misra-Gries candidate
  //    pruning + exact recount (operators.HeavyHitters). The oracle is
  //    a plain GROUP BY ... HAVING over every token — the operator
  //    must match it exactly, proving the sketch only prunes the
  //    shuffle key space and never the answer. ----------------------
  private val MIN_FREQ = 0.001
  private val q71 = Q(
    "q71_heavy_hitters",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.HeavyHitters
        .frequentTokens(t.documents, "text", MIN_FREQ)
    },
    Some(s"""WITH toks AS (
        SELECT unnest(${TextFns.tokensSql("text")}) AS token FROM documents),
      tot AS (SELECT count(*) AS n FROM toks)
      SELECT token, count(*) AS cnt
      FROM toks, tot
      GROUP BY token, n
      HAVING count(*) >= CAST(ceil($MIN_FREQ * n) AS BIGINT)
      ORDER BY token"""))

  // -- T7: stop-shingle detection — frequent 3-gram shingles via the
  //    same Misra-Gries candidate pruning. These are the boilerplate
  //    shingles whose document frequency blows up the Jaccard inverted
  //    index (SCALE.md); at 100 TB this list feeds the stop-shingle
  //    cap without ever shuffling the full shingle vocabulary. ------
  private val N_SH = 3
  // 1.8e-4 of the ~26k sf0.01 shingle occurrences = support 5: catches
  // the near-dup clusters' shared shingles (154 rows) without pulling
  // in the singleton tail
  private val MIN_FREQ_SH = 1.8e-4
  private val q72 = Q(
    "q72_stop_shingles",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.HeavyHitters
        .frequentShingles(t.documents, "text", N_SH, MIN_FREQ_SH)
    },
    Some(s"""WITH sh AS (
        SELECT unnest(${TextFns.shinglesSql(TextFns.tokensSql("text"), N_SH)})
          AS shingle
        FROM documents),
      tot AS (SELECT count(*) AS n FROM sh)
      SELECT shingle, count(*) AS cnt
      FROM sh, tot
      GROUP BY shingle, n
      HAVING count(*) >= CAST(ceil($MIN_FREQ_SH * n) AS BIGINT)
      ORDER BY shingle"""))

  // -- T8: BM25 full-text top-k (operators.Bm25) — the lexical
  //    retrieval scorer next to the ANN operators for hybrid search.
  //    Rational idf surrogate (no ln — libm ulp differences), exact
  //    k1/b doubles, fixed-order per-term score fold: every float is
  //    bit-identical to the oracle. Query-term filter sits inside the
  //    token scan, so only query-term occurrences ever shuffle. ------
  private val BM25_TERMS = Seq("hash", "join", "vector")
  private val BM25_K1 = 1.25 // exactly representable: k1+1 = 2.25
  private val BM25_B = 0.75
  private val BM25_K = 25
  private val q79 = Q(
    "q79_bm25_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Bm25.topK(t.documents, "doc_id", "text",
          BM25_TERMS, BM25_K1, BM25_B, BM25_K)
        .select(col("rank"), col("doc_id"), col("dl").cast("long").as("dl"),
          col("n_terms"), pround(col("score"), 6).as("score"))
    },
    Some {
      val termList = BM25_TERMS.map(t => s"'$t'").mkString(", ")
      val contribCases = BM25_TERMS.map(t =>
        s"coalesce(max(CASE WHEN term = '$t' THEN contrib END), 0.0)")
        .mkString("\n          + ")
      s"""WITH toksrc AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      toks AS (
        SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term
        FROM toksrc),
      stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
          avg(CAST(len(toks) AS DOUBLE)) AS avgdl
        FROM toksrc),
      tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM toks WHERE term IN ($termList)
        GROUP BY doc_id, term),
      dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf GROUP BY term),
      contribs AS (
        SELECT tf.doc_id, tf.term, tf.dl,
          ((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
            * tf.tf * ${BM25_K1 + 1}
            / (tf.tf + $BM25_K1 * (1.0 - $BM25_B + $BM25_B * tf.dl / s.avgdl))
            AS contrib
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s),
      scored AS (
        SELECT doc_id, min(dl) AS dl, count(*) AS n_terms,
          $contribCases AS score
        FROM contribs GROUP BY doc_id)
      SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
          AS rank,
        doc_id, CAST(dl AS BIGINT) AS dl, n_terms,
        ${proundSql("score", 6)} AS score
      FROM scored
      ORDER BY score DESC, doc_id ASC
      LIMIT $BM25_K"""
    })

  // -- T9: BPE-style pre-tokenization counting — the GPT-2-family
  //    pre-tokenizer regex (contraction suffixes | space?-letters |
  //    space?-digits | space?-punctuation-run | whitespace-run) as a
  //    scan-time regexp_extract_all. n_pretokens is the standard
  //    sequence-length estimate a packing/budgeting pipeline needs
  //    BEFORE running a real BPE merge (fertility = pretokens per
  //    whitespace word). The matches PARTITION the text exactly, and
  //    the oracle pins that property: both engines sum their own
  //    matches' lengths and must equal n_chars — a regex-dialect
  //    divergence (Java vs RE2) breaks the hash, not just the count.
  private val BPE_PAT =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  private val q95 = Q(
    "q95_bpe_pretokens",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pts = regexp_extract_all(col("text"), lit(BPE_PAT), lit(0))
      val toks = tokens(col("text"))
      t.documents.select(
          col("doc_id"),
          size(pts).as("n_pretokens"),
          size(toks).as("n_ws_tokens"),
          aggregate(pts, lit(0L), (a, p) => a + length(p))
            .as("sum_pretoken_chars"),
          length(col("text")).cast("long").as("n_chars_calc"),
          // guard the zero-token edge identically to DuckDB's ÷0→NULL
          // (Spark would yield NaN and break hash parity); unreachable
          // with the whitespace tokenizer (split of "" is [""]) but the
          // oracle contract should not depend on that quirk
          pround(when(size(toks) > 0,
            size(pts).cast("double") / size(toks)), 4).as("fertility"))
        .orderBy(col("doc_id"))
    },
    Some {
      val pat = BPE_PAT.replace("'", "''")
      s"""SELECT doc_id,
        len(regexp_extract_all(text, '$pat')) AS n_pretokens,
        len(${tokensSql("text")}) AS n_ws_tokens,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(text, '$pat'),
            p -> CAST(len(p) AS BIGINT))),
          (a, b) -> a + b) AS BIGINT) AS sum_pretoken_chars,
        CAST(len(text) AS BIGINT) AS n_chars_calc,
        ${proundSql(
          s"CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE) / len(${tokensSql("text")})",
          4)} AS fertility
      FROM documents
      ORDER BY doc_id"""
    })

  // -- T9: model-based quality scoring (operators.QualityModel) — the
  //    fasttext-shaped hashed linear classifier: token → weight bucket
  //    via the rolling hash, doc score = mean bucket milli-weight in
  //    exact long arithmetic. One narrow scan, zero shuffles. --------
  private val q104 = Q(
    "q104_quality_logit",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.QualityModel.score(t.documents, "doc_id", "text")
    },
    Some {
      val hsSql = shingleHashesSql("text", 1)
      s"""SELECT doc_id, n_tokens, sum_milli,
        CASE WHEN n_tokens > 0
          THEN ${proundSql("CAST(sum_milli AS DOUBLE) / (n_tokens * 1000)", 6)}
        END AS logit,
        CASE WHEN (CASE WHEN n_tokens > 0
            THEN ${proundSql(
              "CAST(sum_milli AS DOUBLE) / (n_tokens * 1000)", 6)}
          END) > 0.0 THEN 1 ELSE 0 END AS keep
      FROM (
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tokens,
          ${graft.operators.QualityModel.sumMilliSql("hs")} AS sum_milli
        FROM (SELECT doc_id, $hsSql AS hs FROM documents))
      ORDER BY doc_id"""
    })

  // -- T10: distributed BPE vocabulary induction (operators.BpeTrainer)
  //    — tokenizer TRAINING next to tokenizer APPLICATION (q95). The
  //    iterative merge-table rebuild is not ANSI-SQL-expressible, so
  //    this is the surface's one deliberately oracle-less query (the
  //    driver records the rows-only check); BpeTrainerSpec pins it
  //    merge-for-merge against a naive single-node reference BPE. ----
  // The merge loop IS SQL-expressible after all: the 25 rounds UNROLL
  // into a fixed CTE chain (nMerges is a query constant) — per round,
  // pair counts over the word table, the (cnt DESC, a, b) argmax, and
  // the same single-pass marker-string replace q124's oracle already
  // proved ≡ mergePair's fold. MATERIALIZED is load-bearing: without
  // it DuckDB re-inlines each w_{i-1} into both of its two readers and
  // the chain goes exponential (measured: >5 min vs 0.8 s at sf0.01).
  // An early-stopped round (best cnt < 2) leaves m_i empty, which
  // empties every later w_i/m_i — exactly the trainer's early stop.
  private val BPE_NMERGES = 25
  private val q107 = Q(
    "q107_bpe_merges",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.BpeTrainer.train(t.documents, "text",
        nMerges = BPE_NMERGES)
    },
    Some {
      val rounds = (1 to BPE_NMERGES).map { i =>
        s"""
      p$i AS MATERIALIZED (
        SELECT pr.a, pr.b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
          SELECT freq, unnest(list_transform(generate_series(1, len(sy) - 1),
            j -> struct_pack(a := sy[j], b := sy[j+1]))) AS pr
          FROM (SELECT s, freq, string_split(s, '|')[2:] AS sy FROM w${i - 1}))
        GROUP BY pr.a, pr.b),
      m$i AS MATERIALIZED (
        SELECT a, b, cnt FROM p$i WHERE cnt >= 2
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
      w$i AS MATERIALIZED (
        SELECT replace(w.s, '|' || m.a || '|' || m.b, '|' || m.a || m.b) AS s,
          w.freq
        FROM w${i - 1} w, m$i m)"""
      }.mkString(",")
      val union = (1 to BPE_NMERGES)
        .map(i => s"SELECT $i AS i, a, b, cnt FROM m$i")
        .mkString(" UNION ALL ")
      s"""WITH w0 AS MATERIALIZED (
        SELECT regexp_replace(w, '(.)', '|\\1', 'g') AS s,
          CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
        WHERE len(w) > 0
        GROUP BY w),$rounds
      SELECT CAST(i AS INT) AS merge_idx, a AS "left", b AS "right",
        a || b AS merged, cnt AS pair_count
      FROM ($union) ORDER BY merge_idx"""
    })

  // -- T11: Gopher-style document quality rules (Rae et al. 2021,
  //    "Scaling Language Models", §A.1.1 adapted to this corpus) —
  //    the rule-based pre-filter every LLM data pipeline runs BEFORE
  //    the model-based scorer (q104) and dedup. Four rules, each a
  //    narrow per-row expression (no shuffle, rides the scan):
  //      1. word count within [20, 1000]
  //      2. mean word length within [3, 10]
  //      3. >= 2 distinct stopwords present (Gopher's "stop word"
  //         requirement — screens word-salad/navigation pages)
  //      4. duplicate-token fraction <= 0.55 (repetition screen; the
  //         span-level sibling is q96/q97)
  //    Flags are computed from RAW values; displayed ratios are
  //    pround'd separately so rounding never flips a flag. ----------
  val GOPHER_MIN_WORDS = 20
  val GOPHER_MAX_WORDS = 1000
  val GOPHER_MIN_WLEN = 3.0
  val GOPHER_MAX_WLEN = 10.0
  val GOPHER_MIN_STOP = 2
  val GOPHER_MAX_DUPFRAC = 0.55

  /** Per-doc raw metrics + rule flags (shared by q110/q111). */
  def gopherFlags(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val meanLen = aggregate(toks, lit(0L), (a, tk) => a + length(tk))
      .cast("double") / nTok
    val dupFrac = lit(1.0) -
      size(array_distinct(toks)).cast("double") / nTok
    val nStop = size(filter(array_distinct(toks),
      tk => tk.isin(stopwords.map(lit): _*)))
    docs.select(
      col("doc_id"), col("source"), col("lang"), col("text"),
      nTok.as("n_tokens"), meanLen.as("mean_wlen"),
      dupFrac.as("dup_frac"), nStop.as("n_stop"),
      when(nTok.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS), 1)
        .otherwise(0).as("r_nwords"),
      when(meanLen.between(GOPHER_MIN_WLEN, GOPHER_MAX_WLEN), 1)
        .otherwise(0).as("r_meanlen"),
      when(nStop >= GOPHER_MIN_STOP, 1).otherwise(0).as("r_stop"),
      when(dupFrac <= GOPHER_MAX_DUPFRAC, 1).otherwise(0).as("r_dupfrac"))
  }

  /** DuckDB mirror of [[gopherFlags]] as a CTE body over `documents`. */
  private lazy val gopherFlagsSql: String = {
    val toksSql2 = tokensSql("text")
    val nTok = s"len($toksSql2)"
    val meanLen = s"""(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      | list_transform($toksSql2, tk -> CAST(len(tk) AS BIGINT))),
      | (a, b) -> a + b) AS DOUBLE) / $nTok)""".stripMargin
    val dupFrac =
      s"(1.0 - CAST(len(list_distinct($toksSql2)) AS DOUBLE) / $nTok)"
    val nStop = markerCountSql(s"list_distinct($toksSql2)", stopwords)
    s"""SELECT doc_id, source, lang, text,
      $nTok AS n_tokens, $meanLen AS mean_wlen,
      $dupFrac AS dup_frac, $nStop AS n_stop,
      CASE WHEN $nTok BETWEEN $GOPHER_MIN_WORDS AND $GOPHER_MAX_WORDS
        THEN 1 ELSE 0 END AS r_nwords,
      CASE WHEN $meanLen BETWEEN $GOPHER_MIN_WLEN AND $GOPHER_MAX_WLEN
        THEN 1 ELSE 0 END AS r_meanlen,
      CASE WHEN $nStop >= $GOPHER_MIN_STOP THEN 1 ELSE 0 END AS r_stop,
      CASE WHEN $dupFrac <= $GOPHER_MAX_DUPFRAC THEN 1 ELSE 0 END
        AS r_dupfrac
    FROM documents"""
  }

  private val q110 = Q(
    "q110_gopher_rules",
    (s, dir) => {
      val t = Tpch(s, dir)
      gopherFlags(t.documents).select(
          col("doc_id"), col("n_tokens"),
          pround(col("mean_wlen"), 4).as("mean_wlen"),
          pround(col("dup_frac"), 4).as("dup_frac"),
          col("n_stop"), col("r_nwords"), col("r_meanlen"),
          col("r_stop"), col("r_dupfrac"),
          (col("r_nwords") * col("r_meanlen") * col("r_stop") *
            col("r_dupfrac")).as("pass"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, n_tokens,
      ${proundSql("mean_wlen", 4)} AS mean_wlen,
      ${proundSql("dup_frac", 4)} AS dup_frac,
      n_stop, r_nwords, r_meanlen, r_stop, r_dupfrac,
      r_nwords * r_meanlen * r_stop * r_dupfrac AS pass
    FROM ($gopherFlagsSql)
    ORDER BY doc_id"""))

  // -- T12: filter funnel — survivor counts after each successive
  //    Gopher rule (the pipeline-observability mart every filtering
  //    run reports). One map-side-combined agg pass over the same
  //    scan-stage flags; no per-rule re-scan. -----------------------
  private val q111 = Q(
    "q111_filter_funnel",
    (s, dir) => {
      val t = Tpch(s, dir)
      val f = gopherFlags(t.documents)
      val after1 = col("r_nwords")
      val after2 = after1 * col("r_meanlen")
      val after3 = after2 * col("r_stop")
      val after4 = after3 * col("r_dupfrac")
      f.agg(
        count(lit(1)).as("n_docs"),
        sum(after1.cast("long")).as("after_nwords"),
        sum(after2.cast("long")).as("after_meanlen"),
        sum(after3.cast("long")).as("after_stop"),
        sum(after4.cast("long")).as("after_dupfrac"),
        pround(sum(after4.cast("long")).cast("double") / count(lit(1)), 4)
          .as("retention"))
    },
    Some(s"""SELECT count(*) AS n_docs,
      CAST(sum(r_nwords) AS BIGINT) AS after_nwords,
      CAST(sum(r_nwords * r_meanlen) AS BIGINT) AS after_meanlen,
      CAST(sum(r_nwords * r_meanlen * r_stop) AS BIGINT) AS after_stop,
      CAST(sum(r_nwords * r_meanlen * r_stop * r_dupfrac) AS BIGINT)
        AS after_dupfrac,
      ${proundSql(
        "CAST(sum(r_nwords * r_meanlen * r_stop * r_dupfrac) AS DOUBLE) / count(*)",
        4)} AS retention
    FROM ($gopherFlagsSql)"""))

  // -- T14: BPE tokenizer APPLICATION (BpeTrainer.bpeTokenCount) — run
  //    a shipped merge list over the corpus and count REAL tokens (the
  //    everyday pipeline operation q107's trainer produces merges
  //    for; q95's pre-token count is the merge-free estimate). The
  //    whole merge chain is one narrow scan-stage expression: marker-
  //    delimited symbol string + one single-pass replace per merge —
  //    semantics identical to the trainer's fold (spec-pinned), and
  //    the oracle runs the IDENTICAL chain in DuckDB. The list
  //    exercises multi-level merges (t+h → th, th+e → the; e+r → er,
  //    er+y → ery) whose pair members are themselves merge products.
  private val BPE_MERGES = graft.operators.BpeTrainer.demoMerges
  private val q124 = Q(
    "q124_bpe_apply",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.BpeTrainer
      val toks = tokens(col("text"))
      t.documents.select(
          col("doc_id"),
          size(toks).as("n_ws_tokens"),
          length(regexp_replace(col("text"), "\\s", ""))
            .cast("long").as("n_chars_nospace"),
          BpeTrainer.bpeTokenCount(col("text"), BPE_MERGES)
            .as("n_bpe_tokens"),
          pround(when(size(toks) > 0,
            BpeTrainer.bpeTokenCount(col("text"), BPE_MERGES)
              .cast("double") / size(toks)), 4).as("fertility"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.operators.BpeTrainer
      val cnt = BpeTrainer.bpeTokenCountSql("text", BPE_MERGES)
      s"""SELECT doc_id,
        len(${tokensSql("text")}) AS n_ws_tokens,
        CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
          AS n_chars_nospace,
        $cnt AS n_bpe_tokens,
        ${proundSql(
          s"CAST($cnt AS DOUBLE) / len(${tokensSql("text")})", 4)}
          AS fertility
      FROM documents
      ORDER BY doc_id"""
    })

  // -- T14b: tokenize-to-ids + sequence assembly — the TRAINING-READY
  //    output format: q124's merge chain feeds vocabulary-id arrays
  //    (base chars sorted take ids 0..B−1, merge products B+rank —
  //    BpeTrainer.vocabTable/bpeEncodeIds), which pack into SEQ_LEN-id
  //    training sequences via the q64/q68 bucketed prefix sum, and
  //    each sequence's ACTUAL id array is assembled from its document
  //    slices (offset order). Output pins the ids end-to-end: count,
  //    first/last id, and a polynomial fold of the whole sequence —
  //    a wrong id, a swapped slice, or a gapped offset all diverge.
  //    Round-trip detokenize ≡ scrubbed corpus is BpeTrainerSpec's
  //    corpus-wide pin; DatasetPipeline.packIdSequences is the
  //    standing-DAG twin (OrchestratorSpec).
  private val SEQ_LEN = 64

  /** q154's and q207's report over per-doc `ids` arrays (with their
    * `n_tokens`): pack them into SEQ_LEN-id training sequences and give
    * each sequence's length, first and last id and a polynomial fold
    * of its ids.
    */
  private def packedSeqStats(docIds: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.operators.TrainingPrep
      .packSequences(docIds, "doc_id", "n_tokens", SEQ_LEN)
      .select(col("seq_id"),
        size(col("ids")).as("n_ids"),
        element_at(col("ids"), 1).as("first_id"),
        element_at(col("ids"), -1).as("last_id"),
        aggregate(col("ids"), lit(0L),
          (h, i) => (h * 31 + i) % lit(TextFns.P)).as("ids_hash"))
      .orderBy(col("seq_id"))

  /** Oracle twin of [[packedSeqStats]], over a CTE `docids(doc_id, ids)`. */
  private def packedSeqStatsSql: String =
    s"""offs AS (
        SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n,
          CAST(COALESCE(SUM(CAST(len(ids) AS BIGINT)) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS off
        FROM docids),
      ${graft.operators.TrainingPrep.packSequencesSqlCtes(SEQ_LEN)}
      SELECT CAST(seq_id AS BIGINT) AS seq_id,
        CAST(len(ids) AS INT) AS n_ids,
        ids[1] AS first_id, ids[len(ids)] AS last_id,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
          (h, i) -> (h * 31 + i) % ${TextFns.P}) AS BIGINT) AS ids_hash
      FROM seqs ORDER BY seq_id"""

  /** Shared DuckDB CTE prefix: corpus → vocabulary → per-doc BPE id
    * arrays (`docids(doc_id, ids)`), mirroring
    * BpeTrainer.vocabTable + bpeEncodeIds. Used by q154's packing
    * oracle and q155's multimodal interleave oracle.
    */
  private[queries] def bpeDocIdsCtes: String = {
    import graft.operators.BpeTrainer
    val mergeVals = BPE_MERGES.zipWithIndex
      .map { case ((a, b), i) => s"('${a + b}', $i)" }.mkString(", ")
    s"""scrub AS (
        SELECT doc_id, regexp_replace(text, '\\s+', '', 'g') AS t
        FROM documents),
      chars AS (
        SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)),
          i -> t[i])) AS token
        FROM scrub),
      vocab AS MATERIALIZED (
        SELECT token,
          CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id
        FROM chars
        UNION ALL
        SELECT m.token,
          (SELECT CAST(count(*) AS BIGINT) FROM chars) + m.i AS id
        FROM (VALUES $mergeVals) m(token, i)),
      toks AS (
        SELECT doc_id,
          ${BpeTrainer.bpeTokensSql("text", BPE_MERGES)} AS toks
        FROM documents),
      exploded AS (
        SELECT doc_id, pr.pos AS pos, pr.tok AS tok
        FROM (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(toks)),
                  i -> struct_pack(pos := i, tok := toks[i]))) AS pr
              FROM toks)),
      docids AS (
        SELECT e.doc_id, list(v.id ORDER BY e.pos) AS ids
        FROM exploded e JOIN vocab v ON v.token = e.tok
        GROUP BY e.doc_id)"""
  }

  private val q154 = Q(
    "q154_bpe_pack_ids",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.BpeTrainer
      // materialize the encoded ids ONCE: packSegments' two-phase
      // prefix sum and the final slice otherwise each re-evaluate the
      // whole BPE merge chain (measured: two serial single-task
      // ~1.8 s stages at sf0.1). NO fanOut ahead of the encode: this
      // string/regex-heavy chain ran 10-30x slower PER ROW under 32
      // concurrent tasks (allocator/memory-bandwidth contention,
      // measured 1.8 s single-task vs 21 s of 32-task time), so the
      // repartition bought nothing at this scale — on real multi-file
      // data the scan parallelizes by splits anyway
      val docs = t.documents.select(col("doc_id"), col("text"))
      val vocab = BpeTrainer.vocabTable(docs, "text", BPE_MERGES)
      val ids = BpeTrainer.bpeEncodeIds(docs, "doc_id", "text",
          BPE_MERGES, vocab)
        .withColumn("n_tokens", size(col("ids")).cast("long"))
        .localCheckpoint(true)
      packedSeqStats(ids)
    },
    Some(s"""WITH $bpeDocIdsCtes,
      $packedSeqStatsSql"""))

  // -- T15: END-TO-END curation funnel — the FineWeb/RefinedWeb stage
  //    chain in one DAG, reported per source: input → URL-canonical
  //    dedup (q134's rules) → language gate → Gopher quality rules
  //    (q110's flags) → exact text dedup — each stage's survivor
  //    count from CUMULATIVE flags computed in one pass: two windows
  //    (canonical-url, text-hash) + one map-side-combined agg; the
  //    corpus text never re-scans between stages. The exact-dedup
  //    window orders survivors first (s3 DESC, doc_id) so a dropped
  //    doc never claims a surviving duplicate's slot. ---------------
  private val q139 = Q(
    "q139_curation_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val base = expr("doc_id div 4")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Example.COM:80/docs/"), base,
            lit("/?b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://example.com/docs/"), base, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://CDN.Example.com:443/docs/"), base, lit("/")))
        .otherwise(
          concat(lit("https://cdn.example.com/docs/"), base, lit("#x")))
      val gpass = col("r_nwords") * col("r_meanlen") * col("r_stop") *
        col("r_dupfrac") === 1
      val w1 = Window.partitionBy(col("curl")).orderBy(col("doc_id").asc)
      val staged = gopherFlags(t.documents)
        .withColumn("curl", graft.functions.UrlFns.canonicalizeUrl(url))
        .withColumn("url_rn", row_number().over(w1))
        .withColumn("s1", (col("url_rn") === 1).cast("int"))
        .withColumn("s2", (col("s1") === 1 && col("lang") === "en")
          .cast("int"))
        .withColumn("s3", (col("s2") === 1 && gpass).cast("int"))
        .withColumn("h", TextFns.rollingHash(col("text")))
      val w2 = Window.partitionBy(col("h"))
        .orderBy(col("s3").desc, col("doc_id").asc)
      staged.withColumn("hrn", row_number().over(w2))
        .withColumn("s4",
          (col("s3") === 1 && col("hrn") === 1).cast("int"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_input"),
          sum(col("s1")).cast("long").as("after_url"),
          sum(col("s2")).cast("long").as("after_lang"),
          sum(col("s3")).cast("long").as("after_gopher"),
          sum(col("s4")).cast("long").as("after_exact"),
          pround(sum(col("s4")).cast("double") / count(lit(1)), 4)
            .as("retention"))
        .orderBy(col("source"))
    },
    Some {
      val canon = graft.functions.UrlFns.canonicalizeUrlSql("url")
      s"""WITH g AS ($gopherFlagsSql),
      u AS (
        SELECT *,
          CASE doc_id % 4
            WHEN 0 THEN 'HTTP://Example.COM:80/docs/' || (doc_id // 4)
              || '/?b=2&a=1#frag'
            WHEN 1 THEN 'http://example.com/docs/' || (doc_id // 4)
              || '?a=1&b=2'
            WHEN 2 THEN 'https://CDN.Example.com:443/docs/'
              || (doc_id // 4) || '/'
            ELSE 'https://cdn.example.com/docs/' || (doc_id // 4) || '#x'
          END AS url
        FROM g),
      c AS (SELECT *, $canon AS curl FROM u),
      r1 AS (
        SELECT *, row_number() OVER (PARTITION BY curl
          ORDER BY doc_id) AS url_rn FROM c),
      st AS (
        SELECT *,
          CASE WHEN url_rn = 1 THEN 1 ELSE 0 END AS s1,
          CASE WHEN url_rn = 1 AND lang = 'en' THEN 1 ELSE 0 END AS s2,
          CASE WHEN url_rn = 1 AND lang = 'en'
            AND r_nwords * r_meanlen * r_stop * r_dupfrac = 1
            THEN 1 ELSE 0 END AS s3,
          ${TextFns.rollingHashSql("text")} AS h
        FROM r1),
      s4t AS (
        SELECT *, row_number() OVER (PARTITION BY h
          ORDER BY s3 DESC, doc_id ASC) AS hrn FROM st)
      SELECT source, count(*) AS n_input,
        CAST(sum(s1) AS BIGINT) AS after_url,
        CAST(sum(s2) AS BIGINT) AS after_lang,
        CAST(sum(s3) AS BIGINT) AS after_gopher,
        CAST(sum(CASE WHEN s3 = 1 AND hrn = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS after_exact,
        ${proundSql(
          "CAST(sum(CASE WHEN s3 = 1 AND hrn = 1 THEN 1 ELSE 0 END) " +
            "AS DOUBLE) / count(*)", 4)} AS retention
      FROM s4t GROUP BY source ORDER BY source"""
    })

  // -- T16: quality-signal ENSEMBLE selection — no single quality
  //    signal survives contact with a real corpus, so production
  //    curation fuses several. Here: reciprocal-rank fusion (q120's
  //    calibration-free recipe, applied to CURATION instead of
  //    retrieval) over three independent per-source rankings — token
  //    count, distinct-token ratio (1 − dup_frac), stopword coverage —
  //    then top-B per source by fused score. All four windows share
  //    ONE source-partitioned exchange (sorts differ, partitioning
  //    doesn't), and the RRF sum is three exactly-rounded divisions in
  //    written order ⇒ bit-exact doubles, no calibration, no libm. ---
  private val RRF_K = 60
  private val ENS_B = 5
  private val q141 = Q(
    "q141_quality_ensemble",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val ws = Window.partitionBy(col("source"))
      val staged = gopherFlags(t.documents)
        .withColumn("r_tokens", row_number().over(
          ws.orderBy(col("n_tokens").desc, col("doc_id").asc)))
        .withColumn("r_distinct", row_number().over(
          ws.orderBy(col("dup_frac").asc, col("doc_id").asc)))
        .withColumn("r_stopw", row_number().over(
          ws.orderBy(col("n_stop").desc, col("doc_id").asc)))
      val rrf = lit(1.0) / (lit(RRF_K) + col("r_tokens")) +
        lit(1.0) / (lit(RRF_K) + col("r_distinct")) +
        lit(1.0) / (lit(RRF_K) + col("r_stopw"))
      staged.withColumn("rrf_score", rrf)
        .withColumn("sel_rank", row_number().over(
          ws.orderBy(col("rrf_score").desc, col("doc_id").asc)))
        .filter(col("sel_rank") <= ENS_B)
        .select(col("source"), col("sel_rank"), col("doc_id"),
          col("r_tokens"), col("r_distinct"), col("r_stopw"),
          pround(col("rrf_score"), 6).as("rrf_score"))
        .orderBy(col("source"), col("sel_rank"))
    },
    Some(s"""WITH g AS ($gopherFlagsSql),
      r AS (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY n_tokens DESC, doc_id ASC) AS r_tokens,
          row_number() OVER (PARTITION BY source
            ORDER BY dup_frac ASC, doc_id ASC) AS r_distinct,
          row_number() OVER (PARTITION BY source
            ORDER BY n_stop DESC, doc_id ASC) AS r_stopw
        FROM g),
      f AS (
        SELECT *, 1.0 / ($RRF_K + r_tokens) + 1.0 / ($RRF_K + r_distinct)
            + 1.0 / ($RRF_K + r_stopw) AS rrf_score
        FROM r),
      sel AS (
        SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY rrf_score DESC, doc_id ASC) AS sel_rank
        FROM f)
      SELECT source, sel_rank, doc_id,
        CAST(r_tokens AS INT) AS r_tokens,
        CAST(r_distinct AS INT) AS r_distinct,
        CAST(r_stopw AS INT) AS r_stopw,
        ${proundSql("rrf_score", 6)} AS rrf_score
      FROM sel WHERE sel_rank <= $ENS_B
      ORDER BY source, sel_rank"""))

  // -- T17: Spearman rank agreement between quality signals — do the
  //    q141 ensemble's inputs actually measure different things, and
  //    does the answer vary by domain? The rank-based sibling of
  //    q84's Pearson, computed PER SOURCE: ranks are integers from
  //    source-partitioned windows (ties broken by doc_id — the
  //    documented convention that keeps both engines bit-identical;
  //    textbook average-rank ties would differ only in low decimals),
  //    Σd² is an exact integer sum, and ρ = 1 − 6Σd²/(n(n²−1)) is ONE
  //    exactly-rounded division. Per-source partitioning is also the
  //    scale shape: no global sort ever happens — the same
  //    source-keyed exchange as q141, reused by all three rank
  //    windows. Low |ρ| justifies fusing the signals.
  private val q150 = Q(
    "q150_signal_spearman",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val f = gopherFlags(t.documents)
      val ws = Window.partitionBy(col("source"))
      def rk(c: org.apache.spark.sql.Column) = row_number().over(
        ws.orderBy(c, col("doc_id"))).cast("long")
      val ranked = f.select(col("source"), col("doc_id"),
        rk(col("n_tokens")).as("r_tokens"),
        rk(col("n_stop")).as("r_stop"),
        rk(col("dup_frac")).as("r_dup"))
      val pairs = Seq(
        ("n_tokens", "n_stop", "r_tokens", "r_stop"),
        ("n_tokens", "dup_frac", "r_tokens", "r_dup"),
        ("n_stop", "dup_frac", "r_stop", "r_dup"))
      val rows = pairs.map { case (a, b, ra, rb) =>
        val d = col(ra) - col(rb)
        ranked.groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(d * d).as("sd2"))
          .select(lit(a).as("sig_a"), lit(b).as("sig_b"), col("source"),
            col("n"), col("sd2"),
            pround(lit(1.0) - lit(6.0) * col("sd2") /
              (col("n") * (col("n") * col("n") - 1)), 6).as("rho"))
      }
      rows.reduce(_.unionByName(_))
        .orderBy(col("sig_a"), col("sig_b"), col("source"))
    },
    Some {
      def rk(c: String) =
        s"CAST(row_number() OVER (PARTITION BY source ORDER BY $c, doc_id) AS BIGINT)"
      val pairs = Seq(("n_tokens", "n_stop", "r_tokens", "r_stop"),
        ("n_tokens", "dup_frac", "r_tokens", "r_dup"),
        ("n_stop", "dup_frac", "r_stop", "r_dup"))
      val rows = pairs.map { case (a, b, ra, rb) =>
        s"""SELECT '$a' AS sig_a, '$b' AS sig_b, source, count(*) AS n,
          CAST(sum(($ra - $rb) * ($ra - $rb)) AS BIGINT) AS sd2,
          ${proundSql(
            s"1.0 - 6.0 * sum(($ra - $rb) * ($ra - $rb)) / " +
              "(count(*) * (count(*) * count(*) - 1))", 6)} AS rho
        FROM ranked GROUP BY source"""
      }.mkString("\n        UNION ALL\n        ")
      s"""WITH g AS ($gopherFlagsSql),
      ranked AS (
        SELECT source, doc_id,
          ${rk("n_tokens")} AS r_tokens,
          ${rk("n_stop")} AS r_stop,
          ${rk("dup_frac")} AS r_dup
        FROM g)
      SELECT * FROM (
        $rows)
      ORDER BY sig_a, sig_b, source"""
    })

  // -- T18: per-source tokenizer QA mart — the compression-ratio view
  //    a tokenizer rollout gates on: chars-per-token (bytes-per-token
  //    on an ASCII corpus) and tokens-per-word (fertility) per source,
  //    under the shipped merge list. q124 is the per-doc view; this is
  //    the mart a team actually reads. One scan, one tiny keyed agg;
  //    integer sums stay exact (BIGINT both sides), ratios are single
  //    exactly-rounded divisions of those integers.
  private val q157 = Q(
    "q157_tokenizer_source_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.BpeTrainer
      val nChars = length(regexp_replace(col("text"), "\\s", ""))
        .cast("long")
      val nToks = BpeTrainer.bpeTokenCount(col("text"), BPE_MERGES)
      val nWords = size(tokens(col("text"))).cast("long")
      t.documents
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(nChars).as("n_chars"),
          sum(nToks).as("n_tokens"),
          sum(nWords).as("n_words"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("n_tokens"), col("n_words"),
          pround(col("n_chars").cast("double") / col("n_tokens"), 4)
            .as("chars_per_token"),
          pround(col("n_tokens").cast("double") / col("n_words"), 4)
            .as("fertility"))
        .orderBy(col("source"))
    },
    Some {
      import graft.operators.BpeTrainer
      val cnt = BpeTrainer.bpeTokenCountSql("text", BPE_MERGES)
      s"""SELECT source, count(*) AS n_docs,
        CAST(SUM(len(regexp_replace(text, '\\s', '', 'g'))) AS BIGINT)
          AS n_chars,
        CAST(SUM($cnt) AS BIGINT) AS n_tokens,
        CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS n_words,
        ${proundSql(
          s"""CAST(CAST(SUM(len(regexp_replace(text, '\\s', '', 'g')))
             | AS BIGINT) AS DOUBLE)
             | / CAST(SUM($cnt) AS BIGINT)""".stripMargin, 4)}
          AS chars_per_token,
        ${proundSql(
          s"""CAST(CAST(SUM($cnt) AS BIGINT) AS DOUBLE)
             | / CAST(SUM(len(${tokensSql("text")})) AS BIGINT)""".stripMargin,
          4)} AS fertility
      FROM documents
      GROUP BY source
      ORDER BY source"""
    })

  // -- T16: per-source DATASET CARD — the datasheet table a corpus
  //    release ships (Gebru et al.'s "Datasheets for Datasets",
  //    instantiated the way FineWeb/Dolma publish per-source stats):
  //    volume (docs, tokens, mean length), language mix (distinct
  //    langs, English share), quality (all-four-Gopher-rules pass
  //    rate), repetition (corpus-level intra-doc duplicate-token
  //    rate as EXACT integer sums Σdistinctᵢ/Σtokensᵢ — never a mean
  //    of per-doc floats, the q106 order-independence discipline),
  //    and lexical diversity (distinct tokens, type-token ratio).
  //    Shape: the doc-grain metrics ride ONE source-keyed agg over
  //    row-local expressions; the token-distinct leg is its own
  //    (source, token) agg; the final join is over the handful of
  //    source rows. Ratios are exactly-rounded last.
  private val q163 = Q(
    "q163_dataset_card",
    (s, dir) => {
      val t = Tpch(s, dir)
      val flags = gopherFlags(t.documents)
        .withColumn("__distinct",
          size(array_distinct(tokens(col("text")))).cast("long"))
      val base = flags.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__en"),
        sum((col("r_nwords") * col("r_meanlen") * col("r_stop") *
          col("r_dupfrac")).cast("long")).as("__pass"),
        sum(col("__distinct")).as("__sum_distinct"))
      val tt = t.documents
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(countDistinct(col("w")).as("distinct_tokens"))
      base.join(tt, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          pround(col("n_tokens").cast("double") / col("n_docs"), 4)
            .as("mean_tokens"),
          col("n_langs"),
          pround(col("__en").cast("double") / col("n_docs"), 6)
            .as("pct_en"),
          pround(col("__pass").cast("double") / col("n_docs"), 6)
            .as("gopher_pass_rate"),
          pround(lit(1.0) -
            col("__sum_distinct").cast("double") / col("n_tokens"), 6)
            .as("intra_dup_rate"),
          col("distinct_tokens"),
          pround(col("distinct_tokens").cast("double") / col("n_tokens"),
            6).as("ttr"))
        .orderBy(col("source"))
    },
    Some {
      val toksSql2 = tokensSql("text")
      s"""WITH g AS ($gopherFlagsSql),
      d AS (
        SELECT *, CAST(len(list_distinct($toksSql2)) AS BIGINT)
          AS n_distinct
        FROM g),
      base AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          count(DISTINCT lang) AS n_langs,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS en,
          CAST(sum(r_nwords * r_meanlen * r_stop * r_dupfrac) AS BIGINT)
            AS pass,
          CAST(sum(n_distinct) AS BIGINT) AS sum_distinct
        FROM d GROUP BY source),
      tt AS (
        SELECT source, count(DISTINCT w) AS distinct_tokens
        FROM (SELECT source, unnest($toksSql2) AS w FROM documents)
        WHERE len(w) > 0
        GROUP BY source)
      SELECT b.source, n_docs, n_tokens,
        ${proundSql("CAST(n_tokens AS DOUBLE) / n_docs", 4)}
          AS mean_tokens,
        n_langs,
        ${proundSql("CAST(en AS DOUBLE) / n_docs", 6)} AS pct_en,
        ${proundSql("CAST(pass AS DOUBLE) / n_docs", 6)}
          AS gopher_pass_rate,
        ${proundSql("1.0 - CAST(sum_distinct AS DOUBLE) / n_tokens", 6)}
          AS intra_dup_rate,
        distinct_tokens,
        ${proundSql("CAST(distinct_tokens AS DOUBLE) / n_tokens", 6)}
          AS ttr
      FROM base b JOIN tt ON b.source = tt.source
      ORDER BY b.source"""
    })

  // -- T17: WordPiece greedy longest-match vs BPE merge order — the
  //    SECOND tokenizer inference rule (operators/WordPiece), run
  //    under the SAME vocabulary (q124's merge products + implicit
  //    base chars) with the disagreement made measurable per doc:
  //    greedy commits to the longest piece at each position, BPE
  //    replays merge rank order, and they genuinely split ("query" =
  //    qu|ery under BPE, que|r|y under greedy). Shape: the greedy
  //    fold runs on the DISTINCT-WORD dictionary only and counts are
  //    broadcast-joined back onto the token stream (the BpeTrainer
  //    word-dict discipline) — per-word work once per distinct word,
  //    never per occurrence; the BPE chain is referenced ONCE
  //    (the q124 subexpression-reuse lesson).
  private val WP_PIECES = BPE_MERGES.map { case (a, b) => a + b }
  private val q164 = Q(
    "q164_wordpiece_compare",
    (s, dir) => {
      import graft.operators.{BpeTrainer, WordPiece}
      val t = Tpch(s, dir)
      val dw = t.documents
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .withColumn("n_wp",
          WordPiece.greedyPieceCount(col("w"), WP_PIECES).cast("long"))
      val perDoc = t.documents
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(dw), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ws_tokens"),
          sum(col("n_wp")).as("n_wp_tokens"))
      t.documents
        .select(col("doc_id"),
          BpeTrainer.bpeTokenCount(col("text"), BPE_MERGES)
            .as("n_bpe_tokens"))
        .join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_ws_tokens"), col("n_wp_tokens"),
          col("n_bpe_tokens"),
          (col("n_wp_tokens") - col("n_bpe_tokens")).as("wp_minus_bpe"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.operators.BpeTrainer
      val jumpSql = WP_PIECES.filter(_.length > 1).distinct
        .groupBy(_.length).toSeq.sortBy(-_._1)
        .map { case (l, ps) =>
          val inList = ps.sorted.map(p => s"'$p'").mkString(", ")
          s"WHEN substr(w, pos, $l) IN ($inList) THEN $l"
        }.mkString("\n            ")
      s"""WITH RECURSIVE dw AS (
        SELECT DISTINCT w
        FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
        WHERE len(w) > 0),
      s(w, pos, cnt) AS (
        SELECT w, 1, 0 FROM dw
        UNION ALL
        SELECT w,
          pos + CASE
            $jumpSql
            ELSE 1 END,
          cnt + 1
        FROM s WHERE pos <= len(w)),
      seg AS (
        SELECT w, CAST(cnt AS BIGINT) AS n_wp
        FROM s WHERE pos = len(w) + 1),
      tok AS (
        SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
      perdoc AS (
        SELECT doc_id, count(*) AS n_ws_tokens,
          CAST(sum(n_wp) AS BIGINT) AS n_wp_tokens
        FROM tok JOIN seg USING (w)
        WHERE len(w) > 0
        GROUP BY doc_id),
      base AS (
        SELECT d.doc_id, n_ws_tokens, n_wp_tokens,
          ${BpeTrainer.bpeTokenCountSql("text", BPE_MERGES)}
            AS n_bpe_tokens
        FROM documents d JOIN perdoc ON d.doc_id = perdoc.doc_id)
      SELECT doc_id, n_ws_tokens, n_wp_tokens, n_bpe_tokens,
        n_wp_tokens - n_bpe_tokens AS wp_minus_bpe
      FROM base
      ORDER BY doc_id"""
    })

  // -- T21b: tokenizer OPTIMALITY gap — the third inference rule over
  //    the SAME vocabulary closes the q164 comparison: BPE merge
  //    order, WordPiece greedy longest-match, and min-piece Viterbi
  //    (UnigramLm.viterbiPieces under uniform costs = the OPTIMAL
  //    segmentation — fewest tokens any rule could produce with this
  //    vocabulary). greedy_gap = wp − uni ≥ 0 and bpe_gap = bpe − uni
  //    ≥ 0 by construction; their size is the measured token-budget
  //    cost of each heuristic ("query": qu|ery optimal = 2, greedy
  //    que|r|y = 3). Per-word work on the distinct-word dictionary,
  //    broadcast back — the q164 shape.
  // q206/q207's min-piece Viterbi runs with maxPieceLen=3 and the
  // oracle DP probes window lengths 1–3 only; both are optimal over
  // the shared vocabulary ONLY while no vocab piece exceeds 3 chars —
  // a future 4-char merge would silently break the greedy_gap ≥ 0 /
  // bpe_gap ≥ 0 invariant while both engines still agree, so pin it.
  require(WP_PIECES.forall(_.length <= 3),
    s"q206/q207 assume max piece length 3; got ${WP_PIECES.filter(_.length > 3)}")
  private val UNI_PIECES2 = WP_PIECES.filter(_.length == 2).sorted
  private val UNI_PIECES3 = WP_PIECES.filter(_.length == 3).sorted
  private val q206 = Q(
    "q206_tokenizer_optimal_gap",
    (s, dir) => {
      import graft.operators.{BpeTrainer, UnigramLm, WordPiece}
      val t = Tpch(s, dir)
      // uniform costs: Viterbi minimizes the piece count exactly; the
      // vocabulary charset is [a-z] (the corpus word alphabet — the
      // rlike filter pins the same domain in both engines)
      val uniCosts = (WP_PIECES ++ ('a' to 'z').map(_.toString))
        .map(_ -> 1).toMap
      val dw = t.documents
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$") &&
          length(col("w")) <= 64).distinct()
        .withColumn("n_bpe",
          BpeTrainer.bpeTokenCount(col("w"), BPE_MERGES).cast("long"))
        .withColumn("n_wp",
          WordPiece.greedyPieceCount(col("w"), WP_PIECES).cast("long"))
        .withColumn("n_uni",
          size(UnigramLm.viterbiPieces(col("w"), uniCosts, 3)).cast("long"))
      t.documents
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(broadcast(dw), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_bpe")).as("n_bpe_tokens"),
          sum(col("n_wp")).as("n_wp_tokens"),
          sum(col("n_uni")).as("n_uni_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
          col("n_wp_tokens"), col("n_uni_tokens"),
          (col("n_wp_tokens") - col("n_uni_tokens")).as("greedy_gap"),
          (col("n_bpe_tokens") - col("n_uni_tokens")).as("bpe_gap"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.operators.BpeTrainer
      val jumpSql = WP_PIECES.filter(_.length > 1).distinct
        .groupBy(_.length).toSeq.sortBy(-_._1)
        .map { case (l, ps) =>
          val inList = ps.sorted.map(p => s"'$p'").mkString(", ")
          s"WHEN substr(w, pos, $l) IN ($inList) THEN $l"
        }.mkString("\n            ")
      val in2 = UNI_PIECES2.map(p => s"'$p'").mkString(", ")
      val in3 = UNI_PIECES3.map(p => s"'$p'").mkString(", ")
      s"""WITH RECURSIVE dw AS (
        SELECT DISTINCT w
        FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) <= 64),
      s(w, pos, cnt) AS (
        SELECT w, 1, 0 FROM dw
        UNION ALL
        SELECT w,
          pos + CASE
            $jumpSql
            ELSE 1 END,
          cnt + 1
        FROM s WHERE pos <= len(w)),
      wpseg AS (
        SELECT w, CAST(cnt AS BIGINT) AS n_wp
        FROM s WHERE pos = len(w) + 1),
      u AS (
        SELECT w, 0 AS j, 0 AS n0, NULL::INT AS n1, NULL::INT AS n2
        FROM dw
        UNION ALL
        SELECT w, j + 1,
          least(
            n0 + 1,
            CASE WHEN substr(w, j, 2) IN ($in2) THEN n1 + 1 END,
            CASE WHEN substr(w, j - 1, 3) IN ($in3) THEN n2 + 1 END),
          n0, n1
        FROM u WHERE j < len(w)),
      useg AS (
        SELECT w, CAST(n0 AS BIGINT) AS n_uni FROM u WHERE j = len(w)),
      pieces AS (
        SELECT dw.w,
          CAST(${BpeTrainer.bpeTokenCountSql("dw.w", BPE_MERGES)}
            AS BIGINT) AS n_bpe,
          wpseg.n_wp, useg.n_uni
        FROM dw JOIN wpseg USING (w) JOIN useg USING (w)),
      tok AS (
        SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents)
      SELECT doc_id, count(*) AS n_words,
        CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
        CAST(sum(n_wp) AS BIGINT) AS n_wp_tokens,
        CAST(sum(n_uni) AS BIGINT) AS n_uni_tokens,
        CAST(sum(n_wp) - sum(n_uni) AS BIGINT) AS greedy_gap,
        CAST(sum(n_bpe) - sum(n_uni) AS BIGINT) AS bpe_gap
      FROM tok JOIN pieces USING (w)
      GROUP BY doc_id
      ORDER BY doc_id"""
    })

  // -- T21c: unigram tokenize-to-ids + packed training sequences —
  //    q154's pack pipeline under the THIRD tokenizer: min-piece
  //    Viterbi segmentation (q206's uniform-cost vocabulary), piece →
  //    id by sorted-vocab position, per-doc id arrays in word order,
  //    then the same SEQ_LEN greedy concat packing. Proves the pack
  //    machinery is tokenizer-agnostic: swap the segmentation rule,
  //    keep the pipeline. Per-word work on the distinct-word dict;
  //    the pack is q154's two-phase prefix sum (no global sort).
  private val UNI_VOCAB: Seq[String] =
    (WP_PIECES ++ ('a' to 'z').map(_.toString)).distinct.sorted
  private val q207 = Q(
    "q207_unigram_pack_ids",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.UnigramLm
      val uniCosts = UNI_VOCAB.map(_ -> 1).toMap
      val uniIds = UNI_VOCAB.zipWithIndex.toMap
      val idLit = typedLit(uniIds)
      val dw = t.documents
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$") &&
          length(col("w")) <= 64).distinct()
        .withColumn("wids",
          transform(UnigramLm.viterbiPieces(col("w"), uniCosts, 3),
            p => try_element_at(idLit, p)))
      val docIds = t.documents
        .select(col("doc_id"), posexplode(tokens(col("text")))
          .as(Seq("pos", "w")))
        .join(broadcast(dw), "w")
        .groupBy(col("doc_id"))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("wids")))),
          x => x.getField("wids"))).as("ids"))
        .withColumn("n_tokens", size(col("ids")).cast("long"))
      packedSeqStats(docIds)
    },
    Some {
      val in2 = UNI_PIECES2.map(p => s"'$p'").mkString(", ")
      val in3 = UNI_PIECES3.map(p => s"'$p'").mkString(", ")
      val idCase = UNI_VOCAB.zipWithIndex
        .map { case (p, i) => s"WHEN '$p' THEN $i" }
        .mkString("\n              ")
      s"""WITH RECURSIVE dw AS (
        SELECT DISTINCT w
        FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) <= 64),
      u AS (
        SELECT w, 0 AS j, 0 AS c0, NULL::INT AS c1, NULL::INT AS c2,
          CAST([] AS VARCHAR[]) AS s0, NULL::VARCHAR[] AS s1,
          NULL::VARCHAR[] AS s2
        FROM dw
        UNION ALL
        SELECT w, j + 1, best.c, c0, c1, best.s, s0, s1
        FROM (
          SELECT u.*, list_sort(list_filter([
            struct_pack(c := c0 + 1, nl := -1,
              s := list_append(s0, substr(w, j + 1, 1))),
            struct_pack(c := CASE WHEN substr(w, j, 2) IN ($in2)
                THEN c1 + 1 END, nl := -2,
              s := list_append(s1, substr(w, j, 2))),
            struct_pack(c := CASE WHEN substr(w, j - 1, 3) IN ($in3)
                THEN c2 + 1 END, nl := -3,
              s := list_append(s2, substr(w, j - 1, 3)))
          ], x -> x.c IS NOT NULL))[1] AS best
          FROM u WHERE j < len(w))),
      wids AS (
        SELECT w, list_transform(s0, p -> CASE p
              $idCase
              ELSE NULL END) AS wids
        FROM u WHERE j = len(w)),
      tok AS (
        SELECT doc_id, unnest(${tokensSql("text")}) AS w,
          unnest(generate_series(1, len(${tokensSql("text")}))) AS pos
        FROM documents),
      docids AS (
        SELECT doc_id, flatten(list(wids ORDER BY pos)) AS ids
        FROM tok JOIN wids USING (w)
        GROUP BY doc_id),
      $packedSeqStatsSql"""
    })

  // -- T22: pairwise Cohen's KAPPA between the Gopher gates — the
  //    CATEGORICAL-agreement member of the signal-diagnostics family
  //    (q84 Pearson on continuous, q150 Spearman on ranks, kappa on
  //    binary verdicts): does gate B actually add information over
  //    gate A, or do they fire together (chance-corrected)? kappa =
  //    (n·agree − E) / (n² − E) with E = c_a·c_b + (n−c_a)(n−c_b) —
  //    every term an integer from ONE scan-stage agg (no unpivot, no
  //    self-join; the 1-row agg is checkpointed and fanned into the 6
  //    pair rows), one exactly-rounded division at the end. Products
  //    ride DECIMAL(38,0) so n² never overflows int64 at corpus scale
  //    (the q173 discipline). Constant-gate pairs (E = n²) emit NULL.
  private val KAPPA_GATES = Seq("r_dupfrac", "r_meanlen", "r_nwords", "r_stop")
  private val q180 = Q(
    "q180_gate_kappa",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val g = KAPPA_GATES
      val pairs = for {
        i <- g.indices; j <- (i + 1) until g.length
      } yield (g(i), g(j))
      val aggCols = Seq(count(lit(1)).as("n")) ++
        g.map(c => sum(col(c).cast("long")).as(s"c_$c")) ++
        pairs.flatMap { case (a, b) => Seq(
          sum((col(a) * col(b)).cast("long")).as(s"t11_${a}_$b"),
          sum(((lit(1) - col(a)) * (lit(1) - col(b))).cast("long"))
            .as(s"t00_${a}_$b"))
        }
      val one = gopherFlags(t.documents)
        .agg(aggCols.head, aggCols.tail: _*).localCheckpoint(true)
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val rows = pairs.map { case (a, b) =>
        val agree = col(s"t11_${a}_$b") + col(s"t00_${a}_$b")
        val e = dec(col(s"c_$a")) * dec(col(s"c_$b")) +
          dec(col("n") - col(s"c_$a")) * dec(col("n") - col(s"c_$b"))
        val numer = dec(col("n")) * dec(agree) - e
        val denom = dec(col("n")) * dec(col("n")) - e
        one.select(lit(a).as("gate_a"), lit(b).as("gate_b"),
          col("n"), agree.as("n_agree"),
          when(denom =!= dec(lit(0)),
            pround(numer.cast("double") / denom.cast("double"), 6))
            .as("kappa"))
      }
      rows.reduce(_ unionByName _).orderBy(col("gate_a"), col("gate_b"))
    },
    Some {
      val g = KAPPA_GATES
      val pairs = for {
        i <- g.indices; j <- (i + 1) until g.length
      } yield (g(i), g(j))
      val sums = (g.map(c =>
          s"CAST(sum($c) AS BIGINT) AS c_$c") ++
        pairs.flatMap { case (a, b) => Seq(
          s"CAST(sum($a * $b) AS BIGINT) AS t11_${a}_$b",
          s"CAST(sum((1 - $a) * (1 - $b)) AS BIGINT) AS t00_${a}_$b")
        }).mkString(",\n          ")
      val arms = pairs.map { case (a, b) =>
        val e = s"""(CAST(c_$a AS DECIMAL(38,0)) * c_$b
          | + CAST(n - c_$a AS DECIMAL(38,0)) * (n - c_$b))""".stripMargin
        s"""SELECT '$a' AS gate_a, '$b' AS gate_b, n,
          t11_${a}_$b + t00_${a}_$b AS n_agree,
          CASE WHEN CAST(n AS DECIMAL(38,0)) * n - $e <> 0
            THEN ${proundSql(
              s"CAST(CAST(n AS DECIMAL(38,0)) * (t11_${a}_$b + t00_${a}_$b) - $e AS DOUBLE)" +
              s" / CAST(CAST(n AS DECIMAL(38,0)) * n - $e AS DOUBLE)", 6)}
          END AS kappa
        FROM agg"""
      }.mkString("\n        UNION ALL\n        ")
      s"""WITH flags AS ($gopherFlagsSql),
        agg AS (
          SELECT count(*) AS n,
          $sums
          FROM flags)
        $arms
        ORDER BY gate_a, gate_b"""
    })

  // -- T23: BATCH PERCEPTRON trainer — the linear-classifier member
  //    of the trainer family (q102 k-means, q107 BPE, q159 PQ
  //    codebooks, q161 LPA): fixed-round batch updates
  //    w += Σ_misclassified y·x over INTEGER features, ZERO float ops
  //    in training (margins, updates, error counts are exact int64 —
  //    bit-identical at any partitioning, the one trainer needing no
  //    rounding discipline at all). Task: learn the n_chars > THR
  //    length gate from TOKEN statistics (count, distinct, summed
  //    length) — genuinely separable (n_chars = Σlen + n_tok − 1 on
  //    single-spaced text) but not given away (n_chars is not a
  //    feature). The bias feature is the constant 256, scaled to the
  //    feature magnitudes so the threshold is reachable in few
  //    rounds (with x0 = 1 the bias moves ±1 per sample and the
  //    hyperplane needs |w0| ≈ THR·w3 — hundreds of rounds away).
  //    sf0.01 trace: 500 → 250 → 250 → 250 → 8 → 13 errors — round 5
  //    nearly solves it, round 6 overshoots: the measured case for
  //    pocketing (keep the best-round weights, here round 4's
  //    output), visible IN the result. Oracle replays all rounds as
  //    unrolled CTEs (q107/q159/q161/q182 discipline).
  private val PT_ROUNDS = 6
  private val PT_THR = 306 // fixed n_chars gate (≈ sf0.01 median)
  private val PT_BIAS = 256
  private val q183 = Q(
    "q183_perceptron_gate",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val feats = t.documents.select(
        when(col("n_chars") > PT_THR, 1L).otherwise(-1L).as("y"),
        lit(PT_BIAS.toLong).as("x0"),
        size(toks).cast("long").as("x1"),
        size(array_distinct(toks)).cast("long").as("x2"),
        aggregate(toks, lit(0L), (a, tk) => a + length(tk)).as("x3"))
      // bounded (doc-length domain) feature grid: one cell-count job
      // folds all 6 rounds driver-side (q277's discipline)
      val hist = graft.operators.Perceptron.fitBatchGrouped(
        feats, Seq("x0", "x1", "x2", "x3"), "y", PT_ROUNDS,
        maxCells = 1 << 21)
      hist.map { r =>
        val acc = math.floor((r.n - r.nErr).toDouble / r.n * 1e6 + 0.5) / 1e6
        (r.round, r.nErr, r.n, acc, r.w(0), r.w(1), r.w(2), r.w(3))
      }.toDF("round", "n_err", "n", "acc", "w0", "w1", "w2", "w3")
        .orderBy(col("round"))
    },
    Some {
      val toksSql2 = tokensSql("text")
      val sumLen = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        | list_transform($toksSql2, tk -> CAST(len(tk) AS BIGINT))),
        | (a, b) -> a + b)""".stripMargin
      val ws = 0 to 3
      val rounds = (1 to PT_ROUNDS).map { t =>
        val margin = ws.map(j => s"pw$j * x$j").mkString(" + ")
        s"""r$t AS (
          SELECT $t AS round,
            CAST(sum(bad) AS BIGINT) AS n_err, count(*) AS n,
            ${ws.map(j =>
              s"min(pw$j) + CAST(sum(bad * y * x$j) AS BIGINT) AS w$j")
              .mkString(",\n            ")}
          FROM (
            SELECT f.*, ${ws.map(j => s"p.w$j AS pw$j").mkString(", ")},
              CASE WHEN y * ($margin) <= 0 THEN 1 ELSE 0 END AS bad
            FROM feats f CROSS JOIN r${t - 1} p))"""
      }.mkString(",\n        ")
      val arms = (1 to PT_ROUNDS)
        .map(t => s"SELECT round, n_err, n, " +
          s"${proundSql("CAST(n - n_err AS DOUBLE) / n", 6)} AS acc, " +
          s"w0, w1, w2, w3 FROM r$t")
        .mkString("\n        UNION ALL ")
      s"""WITH feats AS (
        SELECT CASE WHEN n_chars > $PT_THR THEN 1 ELSE -1 END AS y,
          CAST($PT_BIAS AS BIGINT) AS x0,
          CAST(len($toksSql2) AS BIGINT) AS x1,
          CAST(len(list_distinct($toksSql2)) AS BIGINT) AS x2,
          CAST($sumLen AS BIGINT) AS x3
        FROM documents),
      r0 AS (SELECT ${ws.map(j => s"CAST(0 AS BIGINT) AS w$j")
          .mkString(", ")}),
      $rounds
      $arms
      ORDER BY round"""
    })

  // -- T24: unigram-LM (SentencePiece-style) tokenizer training
  //    (operators.UnigramLm) — the THIRD tokenizer family next to BPE
  //    (q107) and WordPiece (q164): Viterbi-EM over the word
  //    dictionary with integer bit costs (zero floats in the model —
  //    the q183 discipline). The oracle replays both EM rounds: seed
  //    substring counts, then per round a RECURSIVE-CTE Viterbi whose
  //    rows carry the last-4-position DP window (cost, piece count,
  //    best segmentation list) and pick each step's lexicographic
  //    (cost, np, -len) minimum via list_sort over candidate structs —
  //    the exact tie order the Catalyst fold applies. Prune/floor/
  //    recost are plain SQL. A wrong cost quantization, tie order, DP
  //    window shift, or prune boundary diverges.
  private val ULM_SEED = 60
  private val ULM_KEEP = 40
  private val q201 = Q(
    "q201_unigram_lm",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.UnigramLm.train(t.documents, "text",
        maxPieceLen = 4, seedMulti = ULM_SEED, keepMulti = ULM_KEEP,
        rounds = 2)
    },
    Some {
      // one Viterbi pass: recursive DP over character positions, the
      // per-row state a 4-wide window of (cost, npieces, segmentation)
      def dpSql(vocab: String) = s"""
      WITH RECURSIVE dp AS (
        SELECT w, freq, 0 AS j,
          0 AS c0, NULL::INT AS c1, NULL::INT AS c2, NULL::INT AS c3,
          0 AS n0, NULL::INT AS n1, NULL::INT AS n2, NULL::INT AS n3,
          CAST([] AS VARCHAR[]) AS s0, NULL::VARCHAR[] AS s1,
          NULL::VARCHAR[] AS s2, NULL::VARCHAR[] AS s3
        FROM words
        UNION ALL
        SELECT w, freq, j + 1, best.c, c0, c1, c2,
          best.np, n0, n1, n2, best.s, s0, s1, s2
        FROM (
          SELECT dp.*, list_sort(list_filter([
            struct_pack(c := c0 + v1.cost, np := n0 + 1, nl := -1,
              s := list_append(s0, substr(w, j + 1, 1))),
            struct_pack(c := c1 + v2.cost, np := n1 + 1, nl := -2,
              s := list_append(s1, substr(w, j, 2))),
            struct_pack(c := c2 + v3.cost, np := n2 + 1, nl := -3,
              s := list_append(s2, substr(w, j - 1, 3))),
            struct_pack(c := c3 + v4.cost, np := n3 + 1, nl := -4,
              s := list_append(s3, substr(w, j - 2, 4)))
          ], x -> x.c IS NOT NULL))[1] AS best
          FROM dp
          LEFT JOIN $vocab v1 ON v1.piece = substr(w, j + 1, 1)
          LEFT JOIN $vocab v2 ON v2.piece = substr(w, j, 2)
          LEFT JOIN $vocab v3 ON v3.piece = substr(w, j - 1, 3)
          LEFT JOIN $vocab v4 ON v4.piece = substr(w, j - 2, 4)
          WHERE j < len(w)))
      SELECT freq, s0 AS pieces FROM dp WHERE j = len(w)"""
      def costSql(union: String) =
        s"CAST(length(bin(CAST((SELECT sum(cnt) FROM $union) AS BIGINT) // cnt)) AS INT)"
      s"""WITH words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
        WHERE len(w) > 0 AND len(w) <= 64 GROUP BY w),
      subs AS MATERIALIZED (
        SELECT substr(w, p, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT w, freq, unnest(generate_series(1, len(w))) AS p
              FROM words), range(1, 5) tl(l)
        WHERE p + l - 1 <= len(w)
        GROUP BY 1),
      v0u AS MATERIALIZED (
        SELECT piece, cnt FROM subs WHERE len(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM subs WHERE len(piece) > 1
          ORDER BY cnt DESC, piece LIMIT $ULM_SEED)),
      vocab0 AS MATERIALIZED (
        SELECT piece, cnt, ${costSql("v0u")} AS cost FROM v0u),
      vit1 AS MATERIALIZED (${dpSql("vocab0")}),
      counts1 AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest(pieces) AS piece FROM vit1) GROUP BY 1),
      v1u AS MATERIALIZED (
        SELECT v.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt
        FROM vocab0 v LEFT JOIN counts1 c USING (piece)
        WHERE len(v.piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM counts1 WHERE len(piece) > 1
          ORDER BY cnt DESC, piece LIMIT $ULM_KEEP)),
      vocab1 AS MATERIALIZED (
        SELECT piece, cnt, ${costSql("v1u")} AS cost FROM v1u),
      vit2 AS MATERIALIZED (${dpSql("vocab1")}),
      counts2 AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest(pieces) AS piece FROM vit2) GROUP BY 1),
      v2u AS MATERIALIZED (
        SELECT v.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt,
          CAST(coalesce(c.cnt, 0) AS BIGINT) AS uses
        FROM vocab1 v LEFT JOIN counts2 c USING (piece)
        WHERE len(v.piece) = 1
        UNION ALL
        SELECT piece, cnt, CAST(cnt AS BIGINT) AS uses
        FROM counts2 WHERE len(piece) > 1)
      SELECT piece, uses AS n_uses, ${costSql("v2u")} AS cost
      FROM v2u
      ORDER BY n_uses DESC, piece"""
    })

  /** The per-document reliability frame of the calibration queries
    * (q221, q229, q260, q298): `keep` columns, then `bin` = token count
    * capped at 99 (an int, or a long when `longBin`) and `pos` = 1 when
    * the document repeats a token.
    */
  private def reliability(docs: org.apache.spark.sql.DataFrame,
      longBin: Boolean, keep: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    val bin = least(lit(99), size(toks))
    docs.select(keep ++ Seq(
      (if (longBin) bin.cast("long") else bin).as("bin"),
      (size(array_distinct(toks)) < size(toks)).cast("long").as("pos")): _*)
  }

  // -- T26: ISOTONIC score calibration (operators.Isotonic) — pool-
  //    adjacent-violators turns a ranking signal into a monotone
  //    probability, the standard calibration for the quality-gate
  //    family (q104 logit, q141 ensemble, q183 perceptron). Score
  //    grid: token-count bins (capped at 99); label: "document
  //    repeats a token" (rises with length, so the isotonic fit has
  //    real structure plus sampling violations to pool). Engine =
  //    one hash-agg pass to grid-bounded longs + driver-side PAV with
  //    EXACT long cross-multiplied pooling; oracle = the minimax
  //    closed form ŷ_i = max_{j≤i} min_{k≥i} mean(j..k) over the same
  //    long counts — every probability is one IEEE division of exact
  //    longs, and monotone rounding makes the two characterizations
  //    the same double (Isotonic scaladoc has the argument). A wrong
  //    pooling rule, tie direction, or block boundary diverges. ------
  private val q221 = Q(
    "q221_isotonic_calibration",
    (s, dir) => {
      val perdoc = reliability(Tpch(s, dir).documents, longBin = false)
      graft.operators.Isotonic.calibrate(perdoc, "bin", "pos")
        .select(col("bin"), col("n"), col("n_pos"),
          pround(col("p_hat"), 6).as("p_hat"),
          pround(col("p_cal"), 6).as("p_cal"))
        .orderBy(col("bin"))
    },
    Some {
      s"""WITH $isoCtes
      SELECT b.bin AS bin, b.n, b.np AS n_pos,
        ${proundSql("CAST(b.np AS DOUBLE) / CAST(b.n AS DOUBLE)", 6)}
          AS p_hat,
        ${proundSql("c.p_cal", 6)} AS p_cal
      FROM b JOIN cal c ON c.bin = b.bin
      ORDER BY bin"""
    })

  // -- T27: RAG sentence-aligned chunking — the retrieval-corpus prep
  //    step next to training packing (q64) and CDC chunking (q81):
  //    sentences never split across chunks; a chunk closes when the
  //    token budget T fills. Sentence boundaries are TOKENS ending in
  //    [.!?] (RE2-safe — no lookbehind, so the same regex runs in both
  //    engines); sentence ids are a prefix count of boundary tokens,
  //    chunk ids the integer-div of the per-doc cumulative token count
  //    — all partitioned windows, one shuffle on doc_id. A sentence
  //    longer than T overflows its chunk rather than splitting (the
  //    standard RAG chunker contract). The synthetic corpus carries no
  //    punctuation, so the boundary predicate ALSO fires on a
  //    deterministic hash-derived subset (~1 in 9 tokens) — the
  //    pluggable-delimiter seam; on real text the regex arm does the
  //    work, and the alignment/budget logic under test is identical.
  /** Oracle CTE fragment (no WITH prefix) replaying q221's isotonic
    * fit: the per-doc (bin, pos) frame (doc_id carried for apply-side
    * consumers), grid counts `b`, the minimax interval means, and the
    * fitted step function `cal(bin, p_cal)`. Shared by q221 (the fit
    * table) and q229 (the per-doc application).
    */
  private lazy val isoCtes: String = {
    val ts = tokensSql("text")
    s"""pd AS MATERIALIZED (
        SELECT doc_id, CAST(least(99, len($ts)) AS INT) AS bin,
          CASE WHEN len(list_distinct($ts)) < len($ts)
            THEN 1 ELSE 0 END AS pos
        FROM documents),
      b AS MATERIALIZED (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np
        FROM pd GROUP BY bin),
      iv AS MATERIALIZED (
        SELECT j.bin AS j, k.bin AS k,
          CAST(sum(m.np) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS mean
        FROM b j JOIN b k ON j.bin <= k.bin
        JOIN b m ON m.bin BETWEEN j.bin AND k.bin
        GROUP BY j.bin, k.bin),
      mn AS MATERIALIZED (
        SELECT i.bin AS bin, v.j AS j, min(v.mean) AS m
        FROM iv v JOIN b i ON v.j <= i.bin AND v.k >= i.bin
        GROUP BY i.bin, v.j),
      cal AS (SELECT bin, max(m) AS p_cal FROM mn GROUP BY bin)"""
  }

  private val RAG_T = 20
  private val q226 = Q(
    "q226_rag_chunks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val toks = t.documents
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
        .withColumn("bnd",
          (col("tok").rlike("[.!?]$") ||
            pmod(rollingHash(col("tok")), lit(9L)) === 0L).cast("long"))
        .withColumn("sent", coalesce(sum(col("bnd")).over(wPos), lit(0L)))
      val sents = toks.groupBy(col("doc_id"), col("sent"))
        .agg(count(lit(1)).as("n_toks"),
          sum(rollingHash(col("tok"))).as("hsum"))
      val wSent = Window.partitionBy(col("doc_id")).orderBy(col("sent"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sents
        .withColumn("cum_before",
          coalesce(sum(col("n_toks")).over(wSent), lit(0L)))
        .withColumn("chunk", expr(s"cum_before div $RAG_T"))
        .groupBy(col("doc_id"), col("chunk"))
        .agg(count(lit(1)).as("n_sentences"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("hsum")).as("hash_sum"))
        .orderBy(col("doc_id"), col("chunk"))
    },
    Some {
      val ts = tokensSql("text")
      s"""WITH toks AS MATERIALIZED (
        SELECT doc_id, pos, tok,
          CASE WHEN regexp_matches(tok, '[.!?]$$')
                 OR ${TextFns.rollingHashSql("tok")} % 9 = 0
               THEN 1 ELSE 0 END AS bnd
        FROM (SELECT doc_id, unnest($ts) AS tok,
                generate_subscripts($ts, 1) - 1 AS pos
              FROM documents)
        WHERE len(tok) > 0),
      st AS MATERIALIZED (
        SELECT doc_id, pos, tok,
          CAST(COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS sent
        FROM toks),
      sents AS MATERIALIZED (
        SELECT doc_id, sent, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(sum(${TextFns.rollingHashSql("tok")}) AS BIGINT) AS hsum
        FROM st GROUP BY doc_id, sent),
      ch AS (
        SELECT doc_id, sent, n_toks, hsum,
          CAST(COALESCE(sum(n_toks) OVER (PARTITION BY doc_id
            ORDER BY sent ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS BIGINT) // $RAG_T AS chunk
        FROM sents)
      SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_sentences,
        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        CAST(sum(hsum) AS BIGINT) AS hash_sum
      FROM ch GROUP BY doc_id, chunk
      ORDER BY doc_id, chunk"""
    })

  // -- T28: the APPLY side of q221's isotonic fit — every document
  //    mapped through the fitted step function as a broadcast join on
  //    the bin (the operator's written 100 TB contract, made real the
  //    way fitOuterProduct was for PCA): per-doc calibrated
  //    probability + a thresholded keep gate. The threshold compares
  //    the RAW p_cal (one exact-long division, identical both
  //    engines) so the gate can't flake at the pround grid. ------------
  private val ISO_KEEP = 0.9
  private val q229 = Q(
    "q229_isotonic_gate",
    (s, dir) => {
      val perdoc =
        reliability(Tpch(s, dir).documents, longBin = false, col("doc_id"))
      val calib = graft.operators.Isotonic
        .calibrate(perdoc.select(col("bin"), col("pos")), "bin", "pos")
        .select(col("bin"), col("p_cal"))
      perdoc.join(broadcast(calib), "bin")
        .select(col("doc_id"), col("bin"),
          pround(col("p_cal"), 6).as("p_cal"),
          (col("p_cal") >= ISO_KEEP).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $isoCtes
      SELECT p.doc_id, p.bin, ${proundSql("c.p_cal", 6)} AS p_cal,
        CAST(CASE WHEN c.p_cal >= $ISO_KEEP THEN 1 ELSE 0 END AS INT)
          AS keep
      FROM pd p JOIN cal c ON c.bin = p.bin
      ORDER BY p.doc_id"""))

  // -- T29: EXPECTED CALIBRATION ERROR — the reliability diagram as
  //    data, completing the gate-metrology triad (q246 AUC: does the
  //    score DISCRIMINATE; q221 isotonic: FIX the calibration; q260:
  //    MEASURE the miscalibration): predicted probability = token-
  //    count bin/99 (the q221 score), event = "doc has a repeated
  //    token", 10 equal-width confidence bins; per bin the exact-
  //    integer confidence Σbin/(99·n) vs accuracy n_pos/n, and the
  //    TOTAL row (pbin = −1) carries ECE = Σ(n/N)·|acc−conf| with the
  //    10 bin terms pround(8)→DECIMAL-summed. One scan, two hash aggs.
  private val q260 = Q(
    "q260_ece_calibration",
    (s, dir) => {
      val perdoc = reliability(Tpch(s, dir).documents, longBin = true)
        .withColumn("pbin",
          least(expr("(bin * 10) div 99"), lit(9L)).cast("int"))
      val bins = perdoc.groupBy(col("pbin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("bin")).as("sbin"))
        .localCheckpoint(true)
      val confRaw = col("sbin").cast("double") /
        (lit(99.0) * col("n").cast("double"))
      val accRaw = col("n_pos").cast("double") / col("n").cast("double")
      val per = bins.select(col("pbin"), col("n"), col("n_pos"),
        pround(confRaw, 6).as("conf"),
        pround(accRaw, 6).as("acc"),
        pround(abs(accRaw - confRaw), 6).as("gap"))
      val nTot = bins.agg(sum(col("n")).as("nn"), sum(col("n_pos")).as("pp"))
      val total = bins.crossJoin(broadcast(nTot))
        .select((col("n").cast("double") / col("nn").cast("double")
            * abs(accRaw - confRaw)).as("term"),
          col("nn"), col("pp"))
        .groupBy(col("nn"), col("pp"))
        .agg(dsum8(col("term")).as("ece"))
        .select(lit(-1).as("pbin"), col("nn").as("n"), col("pp").as("n_pos"),
          lit(null).cast("double").as("conf"),
          lit(null).cast("double").as("acc"),
          pround(col("ece"), 6).as("gap"))
      per.unionByName(total).orderBy(col("pbin"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val conf = "CAST(sbin AS DOUBLE) / (99.0 * CAST(n AS DOUBLE))"
      val acc = "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"
      s"""WITH perdoc AS (
        SELECT least(99, len($toksSql)) AS bin,
          CASE WHEN len(list_distinct($toksSql)) < len($toksSql)
            THEN 1 ELSE 0 END AS pos
        FROM documents),
      bins AS MATERIALIZED (
        SELECT CAST(least((bin * 10) // 99, 9) AS INT) AS pbin,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS n_pos,
          CAST(sum(bin) AS BIGINT) AS sbin
        FROM perdoc GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        CAST(sum(n_pos) AS BIGINT) AS pp FROM bins)
      SELECT pbin, n, n_pos,
        ${proundSql(conf, 6)} AS conf,
        ${proundSql(acc, 6)} AS acc,
        ${proundSql(s"abs(($acc) - ($conf))", 6)} AS gap
      FROM bins
      UNION ALL
      SELECT -1, nn, pp, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        ${proundSql(dsum8Sql(s"""CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
               * abs(($acc) - ($conf))"""), 6)}
      FROM bins CROSS JOIN tot
      GROUP BY nn, pp
      ORDER BY pbin"""
    })

  // -- T30: KENDALL τ-b — the exact pair-concordance rank statistic
  //    next to q150's Spearman: every quantity is an INTEGER pair
  //    count (concordant, discordant, x-ties, y-ties), the denominator
  //    √((n₀−n₁)(n₀−n₂)) is one IEEE sqrt of exact integers, so τ-b
  //    carries none of rank-formula approximation under ties that
  //    Spearman's 6Σd² shortcut does. Signals: token count vs
  //    stopword count per doc, grouped by lang, on the 20% id sample
  //    (the q115 audit-sample policy — pair count stays O((n/5)²)
  //    per group at any scale).
  private val q261 = Q(
    "q261_kendall_tau",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val d = t.documents.filter(col("doc_id") % 5 === 0)
        .select(col("lang"), col("doc_id"),
          size(toks).cast("long").as("x"),
          markerCount(toks, stopwords).cast("long").as("y"))
      val p = d.as("a").join(d.as("b"),
          col("a.lang") === col("b.lang")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.lang").as("lang"),
          ((col("a.x") - col("b.x")) * (col("a.y") - col("b.y")))
            .as("prod"),
          (col("a.x") === col("b.x")).cast("long").as("tx"),
          (col("a.y") === col("b.y")).cast("long").as("ty"))
      p.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("prod") > 0).cast("long")).as("concordant"),
          sum((col("prod") < 0).cast("long")).as("discordant"),
          sum(col("tx")).as("ties_x"),
          sum(col("ty")).as("ties_y"),
          sum(col("tx") * col("ty")).as("ties_xy"))
        .select(col("lang"), col("n_pairs"), col("concordant"),
          col("discordant"), col("ties_x"), col("ties_y"), col("ties_xy"),
          pround((col("concordant") - col("discordant")).cast("double")
            / sqrt((col("n_pairs") - col("ties_x")).cast("double")
              * (col("n_pairs") - col("ties_y")).cast("double")), 6)
            .as("tau_b"))
        .orderBy(col("lang"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      s"""WITH d AS MATERIALIZED (
        SELECT lang, doc_id,
          CAST(len($toksSql) AS BIGINT) AS x,
          CAST(${markerCountSql(toksSql, stopwords)} AS BIGINT) AS y
        FROM documents WHERE doc_id % 5 = 0),
      p AS (
        SELECT a.lang,
          (a.x - b.x) * (a.y - b.y) AS prod,
          CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
          CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id)
      SELECT lang,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS concordant,
        CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS discordant,
        CAST(sum(tx) AS BIGINT) AS ties_x,
        CAST(sum(ty) AS BIGINT) AS ties_y,
        CAST(sum(tx * ty) AS BIGINT) AS ties_xy,
        ${proundSql(
          """CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
               - sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / sqrt(CAST(count(*) - sum(tx) AS DOUBLE)
               * CAST(count(*) - sum(ty) AS DOUBLE))""", 6)} AS tau_b
      FROM p
      GROUP BY lang
      ORDER BY lang"""
    })

  // -- T31: McNEMAR paired-gate test — when a new quality gate is
  //    proposed to replace the incumbent, accuracy deltas on the SAME
  //    documents are paired data: only the discordant cells carry
  //    evidence. b = passes-A-only, c = passes-B-only, statistic
  //    (b−c)²/(b+c) ~ χ²₁ under "the gates disagree symmetrically".
  //    Gate A = q18's 5-flag score ≥ 3/5 (the flag sum compared as an
  //    INTEGER, no float threshold); gate B = a Gopher-lite pair of
  //    integer conditions. One scan, one hash agg, every cell exact.
  private val q263 = Q(
    "q263_mcnemar_gates",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val stopCnt = markerCount(toks, stopwords)
      val flags =
        when(length(col("text")).between(50, 1000), 1).otherwise(0) +
        when(nTok >= 20, 1).otherwise(0) +
        when(stopCnt * 5 <= nTok * 2, 1).otherwise(0) +
        when(size(array_distinct(toks)) * 10 >= nTok * 3, 1).otherwise(0) +
        when(length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
          * 20 <= length(col("text")), 1).otherwise(0)
      val gated = t.documents.select(col("lang"),
        (flags >= 3).as("a"),
        (nTok >= 15 && stopCnt >= 2).as("b"))
      gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum((col("a") && col("b")).cast("long")).as("both_pass"),
          sum((!col("a") && !col("b")).cast("long")).as("both_fail"),
          sum((col("a") && !col("b")).cast("long")).as("only_a"),
          sum((!col("a") && col("b")).cast("long")).as("only_b"))
        .withColumn("mcnemar",
          when(col("only_a") + col("only_b") > 0,
            pround((col("only_a") - col("only_b")).cast("double")
              * (col("only_a") - col("only_b")).cast("double")
              / (col("only_a") + col("only_b")).cast("double"), 6)))
        .orderBy(col("lang"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val nTok = s"len($toksSql)"
      val stopCnt = markerCountSql(toksSql, stopwords)
      val flags = s"""
        (CASE WHEN len(text) BETWEEN 50 AND 1000 THEN 1 ELSE 0 END) +
        (CASE WHEN $nTok >= 20 THEN 1 ELSE 0 END) +
        (CASE WHEN ($stopCnt) * 5 <= $nTok * 2 THEN 1 ELSE 0 END) +
        (CASE WHEN len(list_distinct($toksSql)) * 10 >= $nTok * 3
          THEN 1 ELSE 0 END) +
        (CASE WHEN len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
          * 20 <= len(text) THEN 1 ELSE 0 END)"""
      s"""WITH gated AS (
        SELECT lang, ($flags) >= 3 AS a,
          $nTok >= 15 AND ($stopCnt) >= 2 AS b
        FROM documents)
      SELECT lang,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
          AS both_pass,
        CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
          AS both_fail,
        CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
          AS only_a,
        CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
          AS only_b,
        CASE WHEN sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
            + sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) > 0
          THEN ${proundSql(
            """CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)
              * CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                + sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)""",
            6)} END AS mcnemar
      FROM gated
      GROUP BY lang
      ORDER BY lang"""
    })

  // -- T32: PLATT vs ISOTONIC calibration — the parametric rung next
  //    to q221's PAV step fit, on a score/label pair with REAL
  //    calibration structure (positive rate falls 1.0 → 0.26 → 0
  //    across token-count bins for the distinct-ratio > 0.55 label;
  //    q221's repeats-a-token label is 99% positive and only its
  //    short-doc tail moves). Platt = logistic on the centered bin
  //    feature (bin−32)/32 (exact binary ops), trained by
  //    Logistic.fitBatch — sigmoids on graft_expdet, so the fitted
  //    (a0, a1) replay bit-exactly through Logistic.fitBatchSqlCtes;
  //    isotonic reuses the minimax closed form on the REVERSED score
  //    (PAV fits increasing curves; this one falls).
  //    Output is the per-bin reliability table: empirical rate vs
  //    both fits plus each fit's per-bin mean Brier — the measured
  //    smooth-parametric vs stepwise-nonparametric trade (sf0.01
  //    totals: Platt 0.043, isotonic 0.036, base 0.224).
  private val PLT_TAU = 0.55
  private val PLT_LR = 8.0
  private val PLT_T = 16
  private val q271 = Q(
    "q271_platt_calibration",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val nt = size(toks)
      val perdoc = t.documents.select(
          least(lit(99), nt).cast("int").as("bin"),
          ((size(array_distinct(toks)).cast("double") / nt.cast("double"))
            > PLT_TAU).cast("long").as("pos"))
        .localCheckpoint(true)
      val iso = graft.operators.Isotonic.calibrate(
          perdoc.select((lit(99) - col("bin")).as("bin"), col("pos")),
          "bin", "pos")
        .select((lit(99) - col("bin")).as("bin"), col("p_cal"))
      val feats = perdoc.select(col("pos").cast("double").as("y"),
        lit(1.0).as("x0"),
        ((col("bin").cast("double") - lit(32.0)) / lit(32.0)).as("x1"))
      // (bin, pos) is a ≤200-cell grid: fold all 17 GD passes over
      // one cell count instead of 17 aggregate jobs (bit-identical —
      // LogisticSpec pins fitBatchGrouped ≡ fitBatch)
      val hist = graft.operators.Logistic.fitBatchGrouped(
        feats, Seq("x0", "x1"), "y", PLT_LR, PLT_T)
      val a = hist.last.w
      val bins = perdoc.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val z = lit(a(0)) + ((col("bin").cast("double") - lit(32.0))
        / lit(32.0)) * lit(a(1))
      def brier(p: org.apache.spark.sql.Column) =
        p * p - lit(2.0) * p * col("ph") + col("ph")
      bins.join(iso, Seq("bin"))
        .withColumn("ph",
          col("n_pos").cast("double") / col("n").cast("double"))
        .withColumn("p_platt", sigmoid(z))
        .select(col("bin"), col("n"), col("n_pos"),
          pround(col("ph"), 6).as("p_hat"),
          pround(col("p_cal"), 6).as("p_iso"),
          pround(col("p_platt"), 6).as("p_platt"),
          pround(brier(col("p_cal")), 6).as("brier_iso"),
          pround(brier(col("p_platt")), 6).as("brier_platt"))
        .orderBy(col("bin"))
    },
    Some {
      val ts2 = tokensSql("text")
      s"""WITH pd AS MATERIALIZED (
        SELECT CAST(least(99, len($ts2)) AS INT) AS bin,
          CASE WHEN CAST(len(list_distinct($ts2)) AS DOUBLE)
            / len($ts2) > $PLT_TAU THEN 1 ELSE 0 END AS pos
        FROM documents),
      b AS MATERIALIZED (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np
        FROM pd GROUP BY bin),
      rb AS MATERIALIZED (SELECT 99 - bin AS rbin, n, np FROM b),
      iv AS MATERIALIZED (
        SELECT j.rbin AS j, k.rbin AS k,
          CAST(sum(m.np) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS mean
        FROM rb j JOIN rb k ON j.rbin <= k.rbin
        JOIN rb m ON m.rbin BETWEEN j.rbin AND k.rbin
        GROUP BY j.rbin, k.rbin),
      mn AS MATERIALIZED (
        SELECT i.rbin AS rbin, v.j AS j, min(v.mean) AS m
        FROM iv v JOIN rb i ON v.j <= i.rbin AND v.k >= i.rbin
        GROUP BY i.rbin, v.j),
      cal AS (SELECT 99 - rbin AS bin, max(m) AS p_cal
        FROM mn GROUP BY rbin),
      pfeats AS MATERIALIZED (
        SELECT CAST(pos AS DOUBLE) AS y, CAST(1 AS DOUBLE) AS x0,
          (CAST(bin AS DOUBLE) - 32.0) / 32.0 AS x1
        FROM pd),
      ${graft.operators.Logistic.fitBatchSqlCtes("p", "pfeats",
        Seq("x0", "x1"), "y", PLT_LR, PLT_T)},
      bz AS (
        SELECT b.bin, b.n, b.np, c.p_cal,
          CAST(b.np AS DOUBLE) / CAST(b.n AS DOUBLE) AS ph, w0, w1
        FROM b JOIN cal c ON c.bin = b.bin CROSS JOIN pw$PLT_T),
      ${sigmoidSqlCtes("b", "bz", "bin, n, np, p_cal, ph",
        "w0 + (CAST(bin AS DOUBLE) - 32.0) / 32.0 * w1")},
      fin AS (SELECT *, s AS p_platt FROM bsig)
      SELECT bin, n, np AS n_pos,
        ${proundSql("ph", 6)} AS p_hat,
        ${proundSql("p_cal", 6)} AS p_iso,
        ${proundSql("p_platt", 6)} AS p_platt,
        ${proundSql("p_cal * p_cal - 2.0 * p_cal * ph + ph", 6)}
          AS brier_iso,
        ${proundSql("p_platt * p_platt - 2.0 * p_platt * ph + ph", 6)}
          AS brier_platt
      FROM fin
      ORDER BY bin"""
    })

  // -- T33: SPLIT-CONFORMAL prediction bands — distribution-free
  //    uncertainty for an engine-fit predictor, the guarantee layer
  //    the calibration family (q221/q229/q271) gives probabilities
  //    but not intervals for: fit on the calibration half
  //    (doc_id % 2 = 0), take q̂ = the ⌈0.9·(n+1)⌉-th smallest
  //    absolute residual (an EXACT order statistic — rank-select, no
  //    quantile interpolation), and the band pred ± q̂ covers ≥ 90%
  //    of held-out rows by the exchangeability argument alone — no
  //    model or noise assumption. Group-conditional: everything runs
  //    per lang, so each language gets its own guarantee (the form a
  //    curation gate actually needs). Predictor = per-lang OLS of
  //    n_chars on token count (integer sums, q253's exact algebra);
  //    the measured coverage column sits next to the nominal 0.9.
  //    One aggregation + one window rank-select + two broadcast
  //    joins — nothing collects, everything bounded by |langs|.
  private val CONF_NUM = 9   // 1−α = 9/10
  private val CONF_DEN = 10
  private val q276 = Q(
    "q276_conformal_band",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val perdoc = t.documents.select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("x"),
          col("n_chars").as("y"))
        .localCheckpoint(true)
      val cal = perdoc.filter(col("doc_id") % 2 === 0)
      val test = perdoc.filter(col("doc_id") % 2 =!= 0)
      val fit = cal.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_cal"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("lang"), col("n_cal"),
          ((col("n_cal") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_cal") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("b"),
          col("sx"), col("sy"))
        .select(col("lang"), col("n_cal"), col("b"),
          ((col("sy").cast("double") - col("b") * col("sx").cast("double"))
            / col("n_cal").cast("double")).as("a"))
        .localCheckpoint(true)
      def residual = abs(col("y").cast("double")
        - (col("a") + col("b") * col("x").cast("double")))
      val res = cal.join(broadcast(fit), Seq("lang"))
        .select(col("lang"), col("doc_id"), col("n_cal"),
          residual.as("r"))
      val rk = res.withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("r").asc, col("doc_id").asc)))
      val qhat = rk
        .filter(col("rk") === least(
          expr(s"($CONF_NUM * (n_cal + 1) + $CONF_NUM) div $CONF_DEN"),
          col("n_cal")))
        .select(col("lang"), col("r").as("q_hat"))
      val cov = test.join(broadcast(fit), Seq("lang"))
        .join(broadcast(qhat), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_test"),
          sum((residual <= col("q_hat")).cast("long")).as("n_cov"))
      fit.join(qhat, Seq("lang")).join(cov, Seq("lang"))
        .select(col("lang"), col("n_cal"), col("n_test"),
          pround(col("b"), 6).as("slope"),
          pround(col("a"), 6).as("intercept"),
          pround(col("q_hat"), 6).as("q_hat"),
          pround(col("n_cov").cast("double") / col("n_test").cast("double"),
            6).as("coverage"))
        .orderBy(col("lang"))
    },
    Some {
      val ts2 = tokensSql("text")
      s"""WITH perdoc AS MATERIALIZED (
        SELECT doc_id, lang, CAST(len($ts2) AS BIGINT) AS x,
          n_chars AS y
        FROM documents),
      cal AS (SELECT * FROM perdoc WHERE doc_id % 2 = 0),
      tst AS (SELECT * FROM perdoc WHERE doc_id % 2 <> 0),
      sums AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_cal,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM cal GROUP BY lang),
      fit AS MATERIALIZED (
        SELECT lang, n_cal, b,
          (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
            / CAST(n_cal AS DOUBLE) AS a
        FROM (
          SELECT lang, n_cal, sx, sy,
            CAST(n_cal * sxy - sx * sy AS DOUBLE)
              / CAST(n_cal * sxx - sx * sx AS DOUBLE) AS b
          FROM sums)),
      res AS (
        SELECT c.lang, c.doc_id, f.n_cal,
          abs(CAST(c.y AS DOUBLE)
            - (f.a + f.b * CAST(c.x AS DOUBLE))) AS r
        FROM cal c JOIN fit f USING (lang)),
      rk AS (
        SELECT lang, n_cal, r, row_number() OVER (
            PARTITION BY lang ORDER BY r ASC, doc_id ASC) AS rk
        FROM res),
      qhat AS MATERIALIZED (
        SELECT lang, r AS q_hat FROM rk
        WHERE rk = least(
          ($CONF_NUM * (n_cal + 1) + $CONF_NUM) // $CONF_DEN, n_cal)),
      cov AS (
        SELECT t.lang, CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(CASE WHEN abs(CAST(t.y AS DOUBLE)
              - (f.a + f.b * CAST(t.x AS DOUBLE))) <= q.q_hat
            THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        FROM tst t JOIN fit f USING (lang) JOIN qhat q USING (lang)
        GROUP BY t.lang)
      SELECT lang, n_cal, n_test,
        ${proundSql("b", 6)} AS slope,
        ${proundSql("a", 6)} AS intercept,
        ${proundSql("q_hat", 6)} AS q_hat,
        ${proundSql("CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE)", 6)}
          AS coverage
      FROM fit JOIN qhat USING (lang) JOIN cov USING (lang)
      ORDER BY lang"""
    })

  // -- T34: exact feature SHAPLEY values for the perceptron gate —
  //    data-centric model audit: which input signal actually buys the
  //    gate its accuracy? With d = 3 candidate features the Shapley
  //    sum is EXACT (all 2³ subsets retrained, no sampling): value
  //    v(S) = pocketed accuracy (best round of PT_ROUNDS) of the
  //    integer perceptron trained on S ∪ {bias} — q183's
  //    zero-float trainer, so every subset model, every pocket max,
  //    and every Shapley numerator is int64; the single division by
  //    6n happens once per feature. φ_j = [2(c_j − c_∅) +
  //    (c_ja − c_a) + (c_jb − c_b) + 2(c_full − c_full∖j)] / 6n.
  //    The oracle unrolls all 8 subset trainings (q183's CTE block,
  //    margin restricted to the subset's features) and replays the
  //    same integer max/differences. Next to it the query reports
  //    v_solo and leave-one-out so redundancy between features
  //    (x1 tokens / x2 distinct / x3 summed length are correlated)
  //    is visible: Shapley splits shared credit, LOO hides it.
  private val SH_ROUNDS = 5
  private val SH_THR = 306
  private val SH_BIAS = 256
  private val q277 = Q(
    "q277_feature_shapley",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val feats = t.documents.select(
          when(col("n_chars") > SH_THR, 1L).otherwise(-1L).as("y"),
          lit(SH_BIAS.toLong).as("x0"),
          size(toks).cast("long").as("x1"),
          size(array_distinct(toks)).cast("long").as("x2"),
          aggregate(toks, lit(0L), (a, tk) => a + length(tk)).as("x3"))
      // the (x0..x3, y) grid is bounded by the doc-length domain, and
      // ONE counted cell table serves every Shapley subset: all 8
      // subset trainings (5 rounds each) fold driver-side over the
      // same collect — 40 aggregate jobs over the corpus → 1
      // (PerceptronSpec pins fitOnCells ≡ fitBatch per subset)
      val cells = graft.operators.Perceptron.collectCells(
        feats, Seq("x0", "x1", "x2", "x3"), "y", maxCells = 1 << 21)
      def best(sub: Seq[Int]): (Long, Long) = {
        val hist = graft.operators.Perceptron.fitOnCells(
          cells, 0 +: sub, SH_ROUNDS)
        (hist.map(r => r.n - r.nErr).max, hist.head.n)
      }
      val subsets = Seq(Seq(), Seq(1), Seq(2), Seq(3), Seq(1, 2),
        Seq(1, 3), Seq(2, 3), Seq(1, 2, 3))
      val fits = subsets.map(sub => sub.mkString -> best(sub)).toMap
      val c = fits.map { case (k, v) => k -> v._1 }
      val n = fits("")._2 // constant across subsets (same frame)
      def phi(j: Int): Double = {
        val others = Seq(1, 2, 3).filterNot(_ == j)
        val Seq(a, b) = others
        val num = 2L * (c(s"$j") - c("")) +
          (c(Seq(j, a).sorted.mkString) - c(s"$a")) +
          (c(Seq(j, b).sorted.mkString) - c(s"$b")) +
          2L * (c("123") - c(others.mkString))
        num.toDouble / (6L * n).toDouble
      }
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      Seq(1, 2, 3).map { j =>
        val others = Seq(1, 2, 3).filterNot(_ == j).mkString
        (s"x$j", p6(phi(j)),
          p6(c(s"$j").toDouble / n.toDouble),
          p6((c("123") - c(others)).toDouble / n.toDouble),
          p6(c("123").toDouble / n.toDouble))
      }.toDF("feature", "phi", "v_solo", "loo_gain", "v_full")
        .orderBy(col("feature"))
    },
    Some {
      val toksSql2 = tokensSql("text")
      val sumLen = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        | list_transform($toksSql2, tk -> CAST(len(tk) AS BIGINT))),
        | (a, b) -> a + b)""".stripMargin
      val subsets = Seq(Seq(), Seq(1), Seq(2), Seq(3), Seq(1, 2),
        Seq(1, 3), Seq(2, 3), Seq(1, 2, 3))
      def cname(sub: Seq[Int]) = if (sub.isEmpty) "c0" else
        s"c${sub.mkString}"
      val blocks = subsets.map { sub =>
        val ws = 0 +: sub
        val p = if (sub.isEmpty) "s0" else s"s${sub.mkString}"
        val rounds = (1 to SH_ROUNDS).map { t0 =>
          val margin = ws.map(j => s"pw$j * x$j").mkString(" + ")
          s"""${p}r$t0 AS (
          SELECT CAST(sum(bad) AS BIGINT) AS n_err, count(*) AS n,
            ${ws.map(j =>
              s"min(pw$j) + CAST(sum(bad * y * x$j) AS BIGINT) AS w$j")
              .mkString(",\n            ")}
          FROM (
            SELECT f.*, ${ws.map(j => s"p.w$j AS pw$j").mkString(", ")},
              CASE WHEN y * ($margin) <= 0 THEN 1 ELSE 0 END AS bad
            FROM feats f CROSS JOIN ${p}r${t0 - 1} p))"""
        }.mkString(",\n        ")
        val unionBest = (1 to SH_ROUNDS)
          .map(t0 => s"SELECT n - n_err AS cc, n FROM ${p}r$t0")
          .mkString(" UNION ALL ")
        s"""${p}r0 AS (SELECT ${ws.map(j => s"CAST(0 AS BIGINT) AS w$j")
            .mkString(", ")}),
        $rounds,
        ${p}best AS (SELECT max(cc) AS ${cname(sub)},
          min(n) AS n_${p} FROM ($unionBest))"""
      }.mkString(",\n        ")
      val crossAll = subsets.map(sub =>
        if (sub.isEmpty) "s0best" else s"s${sub.mkString}best")
        .mkString(" CROSS JOIN ")
      def phiSql(j: Int) = {
        val others = Seq(1, 2, 3).filterNot(_ == j)
        val Seq(a, b) = others
        s"""CAST(2 * (c$j - c0) + (c${Seq(j, a).sorted.mkString} - c$a)
          + (c${Seq(j, b).sorted.mkString} - c$b)
          + 2 * (c123 - c${others.mkString}) AS DOUBLE)
          / CAST(6 * n_s0 AS DOUBLE)"""
      }
      def rowSql(j: Int) = {
        val others = Seq(1, 2, 3).filterNot(_ == j).mkString
        s"""SELECT 'x$j' AS feature,
          ${proundSql(phiSql(j), 6)} AS phi,
          ${proundSql(s"CAST(c$j AS DOUBLE) / CAST(n_s0 AS DOUBLE)", 6)}
            AS v_solo,
          ${proundSql(
            s"CAST(c123 - c$others AS DOUBLE) / CAST(n_s0 AS DOUBLE)", 6)}
            AS loo_gain,
          ${proundSql(s"CAST(c123 AS DOUBLE) / CAST(n_s0 AS DOUBLE)", 6)}
            AS v_full
        FROM allbest"""
      }
      s"""WITH feats AS MATERIALIZED (
        SELECT CASE WHEN n_chars > $SH_THR THEN 1 ELSE -1 END AS y,
          CAST($SH_BIAS AS BIGINT) AS x0,
          CAST(len($toksSql2) AS BIGINT) AS x1,
          CAST(len(list_distinct($toksSql2)) AS BIGINT) AS x2,
          CAST($sumLen AS BIGINT) AS x3
        FROM documents),
        $blocks,
        allbest AS (SELECT * FROM $crossAll)
      ${Seq(1, 2, 3).map(rowSql).mkString("\n      UNION ALL\n      ")}
      ORDER BY feature"""
    })

  // -- T35: MANN-WHITNEY U — the distribution-free two-sample test
  //    the battery lacked (q261's Kendall is paired-rank correlation;
  //    this compares two GROUPS without normality assumptions): does
  //    the per-doc token count differ between the two slotWide hash
  //    arms (a true null — the audit is the test correctly not
  //    rejecting). Ranks with midrank ties are computed in 2× units
  //    (rank2 = 2·cnt_less + cnt_eq + 1 per distinct value), so R₁,
  //    U, and the tie-corrected variance numerators are EXACT
  //    integers; z gets one pinned float program and the p-value
  //    comes from [[Portable.pTwoSided]] — the deterministic normal
  //    tail. Shape at scale: per-(value, arm) counts are one
  //    map-side-combined pass over a bounded grid; everything after
  //    is grid-sized.
  private val q301 = Q(
    "q301_mann_whitney",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val d0 = t.documents.select(
        least(lit(199), size(toks)).cast("long").as("v"),
        pmod(graft.operators.Sampling.slotWide(col("doc_id")), lit(2L))
          .as("arm"))
      val cells = d0.groupBy(col("v"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
        .localCheckpoint(true)
      // unpartitioned window over the BOUNDED value grid (≤ 200 rows
      // — allowlisted in PlanQualitySpec)
      val cum = cells
        .withColumn("less", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("rank2", lit(2L) * col("less") + col("cnt") + lit(1L))
      val agg = cum.agg(
        sum(col("cnt")).as("n"),
        sum(col("c1")).as("n1"),
        sum(col("c1") * col("rank2")).as("r1x2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val n2c = col("n") - col("n1")
      // U = R1 − n1(n1+1)/2, in 2× units then halved exactly
      val u2 = col("r1x2") - col("n1") * (col("n1") + 1L)
      val mu2 = col("n1") * n2c // 2·mean(U)
      val varU = (d(col("n1")) * d(n2c) / 12.0) * ((d(col("n")) + 1.0)
        - d(col("tie3")) / (d(col("n")) * (d(col("n")) - 1.0)))
      val z = (d(u2) - d(mu2)) / (lit(2.0) * sqrt(varU))
      val stats = agg.select(col("n"), col("n1"), n2c.as("n2"),
        (d(u2) / lit(2.0)).cast("long").as("u"), col("tie3"),
        pround(z, 6).as("z"),
        pround(Portable.pTwoSided(z), 8).as("pval"))
      stats.withColumn("reject_95",
        (col("pval") < lit(0.05)).cast("int"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val n2s = "(n - n1)"
      val u2s = "(r1x2 - n1 * (n1 + 1))"
      val varS = s"""(CAST(n1 AS DOUBLE) * CAST($n2s AS DOUBLE) / 12.0)
        * ((CAST(n AS DOUBLE) + 1.0)
          - CAST(tie3 AS DOUBLE)
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"""
      val zS = s"""(CAST($u2s AS DOUBLE) - CAST(n1 * $n2s AS DOUBLE))
        / (2.0 * sqrt($varS))"""
      s"""WITH d0 AS (
        SELECT least(199, len($toksSql)) AS v,
          (${graft.operators.Sampling.slotWideSql("doc_id")}) % 2 AS arm
        FROM documents),
      cells AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM d0 GROUP BY v),
      cum AS (
        SELECT *, 2 * COALESCE(sum(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + cnt + 1 AS rank2
        FROM cells),
      agg2 AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(c1) AS BIGINT) AS n1,
          CAST(sum(c1 * rank2) AS BIGINT) AS r1x2,
          CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        FROM cum),
      ${Portable.pTwoSidedSqlCtes("mw", "agg2",
        "n, n1, r1x2, tie3", zS)}
      SELECT n, n1, $n2s AS n2, $u2s // 2 AS u, tie3,
        ${proundSql(zS, 6)} AS z,
        ${proundSql("mwp", 8)} AS pval,
        CAST(CASE WHEN ${proundSql("mwp", 8)} < 0.05
          THEN 1 ELSE 0 END AS INT) AS reject_95
      FROM mwpv"""
    })

  // -- T37: WELCH'S t-TEST — the unequal-variance two-sample mean
  //    test next to q301's rank test (Mann-Whitney asks "same
  //    distribution"; Welch asks "same MEAN" without assuming equal
  //    variances — the default a careful analyst reaches for):
  //    English vs non-English per-doc token counts. The six
  //    sufficient statistics (n, Σx, Σx²) per group are exact
  //    BIGINTs; t, the Welch-Satterthwaite df, and the p-value
  //    ([[Portable.pTwoSided]] — normal tail, df here is in the
  //    hundreds so the z-approximation is exact to the rounding we
  //    report) are one pinned float program.
  private val q303 = Q(
    "q303_welch_ttest",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val base = t.documents.select(
        size(toks).cast("long").as("m"),
        (col("lang") === "en").cast("long").as("g"))
      val agg = base.agg(
        sum(col("g")).as("n1"),
        sum(col("g") * col("m")).as("s1"),
        sum(col("g") * col("m") * col("m")).as("q1"),
        sum(lit(1L) - col("g")).as("n0"),
        sum((lit(1L) - col("g")) * col("m")).as("s0"),
        sum((lit(1L) - col("g")) * col("m") * col("m")).as("q0"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def vOf(q: String, sc: String, n: String) =
        ((d(col(q)) - d(col(sc)) * d(col(sc)) / d(col(n)))
          / (d(col(n)) - 1.0))
      val v1 = vOf("q1", "s1", "n1"); val v0 = vOf("q0", "s0", "n0")
      val se1 = v1 / d(col("n1")); val se0 = v0 / d(col("n0"))
      val tStat = (d(col("s1")) / d(col("n1"))
        - d(col("s0")) / d(col("n0"))) / sqrt(se1 + se0)
      val df = ((se1 + se0) * (se1 + se0)
        / (se1 * se1 / (d(col("n1")) - 1.0)
          + se0 * se0 / (d(col("n0")) - 1.0)))
      agg.select(col("n1"), col("n0"),
          pround(d(col("s1")) / d(col("n1")), 6).as("mean_en"),
          pround(d(col("s0")) / d(col("n0")), 6).as("mean_other"),
          pround(v1, 6).as("var_en"), pround(v0, 6).as("var_other"),
          pround(tStat, 6).as("t"),
          pround(df, 4).as("df_welch"),
          pround(Portable.pTwoSided(tStat), 8).as("pval"))
        .withColumn("reject_95", (col("pval") < lit(0.05)).cast("int"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      def vOf(q: String, sc: String, n: String) =
        s"""((CAST($q AS DOUBLE) - CAST($sc AS DOUBLE)
          * CAST($sc AS DOUBLE) / CAST($n AS DOUBLE))
          / (CAST($n AS DOUBLE) - 1.0))"""
      val se1 = s"(${vOf("q1", "s1", "n1")} / CAST(n1 AS DOUBLE))"
      val se0 = s"(${vOf("q0", "s0", "n0")} / CAST(n0 AS DOUBLE))"
      val tS = s"""((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        / sqrt($se1 + $se0))"""
      val dfS = s"""(($se1 + $se0) * ($se1 + $se0)
        / ($se1 * $se1 / (CAST(n1 AS DOUBLE) - 1.0)
          + $se0 * $se0 / (CAST(n0 AS DOUBLE) - 1.0)))"""
      s"""WITH base AS (
        SELECT CAST(len($toksSql) AS BIGINT) AS m,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
        FROM documents),
      agg AS MATERIALIZED (
        SELECT CAST(sum(g) AS BIGINT) AS n1,
          CAST(sum(g * m) AS BIGINT) AS s1,
          CAST(sum(g * m * m) AS BIGINT) AS q1,
          CAST(sum(1 - g) AS BIGINT) AS n0,
          CAST(sum((1 - g) * m) AS BIGINT) AS s0,
          CAST(sum((1 - g) * m * m) AS BIGINT) AS q0
        FROM base),
      ${Portable.pTwoSidedSqlCtes("wt", "agg",
        "n1, s1, q1, n0, s0, q0", tS)}
      SELECT n1, n0,
        ${proundSql("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)", 6)}
          AS mean_en,
        ${proundSql("CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)", 6)}
          AS mean_other,
        ${proundSql(vOf("q1", "s1", "n1"), 6)} AS var_en,
        ${proundSql(vOf("q0", "s0", "n0"), 6)} AS var_other,
        ${proundSql(tS, 6)} AS t,
        ${proundSql(dfS, 4)} AS df_welch,
        ${proundSql("wtp", 8)} AS pval,
        CAST(CASE WHEN ${proundSql("wtp", 8)} < 0.05
          THEN 1 ELSE 0 END AS INT) AS reject_95
      FROM wtpv"""
    })

  // -- T38: JACKKNIFE STANDARD ERROR — the resampling variance
  //    estimate that needs NO randomness at all: delete-one-SOURCE
  //    jackknife of the corpus mean token count (the grouped
  //    delete-a-block variant that respects clustering — docs within
  //    a source correlate, so the naive iid SE understates). Each
  //    leave-one-out estimate θ̂₍ᵢ₎ = (S−sᵢ)/(N−nᵢ) is a pinned float
  //    ratio of exact integer totals; the 20-term squared-deviation
  //    sum rides the pround8→DECIMAL fold. The se_ratio column IS the
  //    finding: how much the clustered SE exceeds the iid one.
  private val q304 = Q(
    "q304_jackknife_se",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val perSrc = t.documents
        .select(col("source"), size(toks).cast("long").as("m"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_i"), sum(col("m")).as("s_i"),
          sum(col("m") * col("m")).as("q_i"))
        .localCheckpoint(true)
      val tot = perSrc.agg(count(lit(1)).as("g"), sum(col("n_i")).as("nn"),
        sum(col("s_i")).as("ss"), sum(col("q_i")).as("qq"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val wt = perSrc.crossJoin(broadcast(tot))
      val thI = (d(col("ss") - col("s_i"))) / (d(col("nn") - col("n_i")))
      val thBarDf = wt.groupBy(col("g"), col("nn"), col("ss"), col("qq"))
        .agg(dsum8(thI).as("sth"))
      val withBar = wt.join(broadcast(thBarDf),
        Seq("g", "nn", "ss", "qq"))
        .withColumn("dev", thI - col("sth") / d(col("g")))
      val parts = withBar
        .groupBy(col("g"), col("nn"), col("ss"), col("qq"))
        .agg(dsum8(col("dev") * col("dev")).as("sdev2"))
      val theta = d(col("ss")) / d(col("nn"))
      val seJack = sqrt((d(col("g")) - 1.0) / d(col("g"))
        * col("sdev2"))
      val varIid = (d(col("qq")) - d(col("ss")) * d(col("ss"))
        / d(col("nn"))) / (d(col("nn")) - 1.0)
      val seIid = sqrt(varIid / d(col("nn")))
      parts.select(col("g").as("n_sources"), col("nn").as("n_docs"),
        pround(theta, 6).as("theta"),
        pround(seJack, 8).as("se_jackknife"),
        pround(seIid, 8).as("se_iid"),
        pround(seJack / seIid, 4).as("se_ratio"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val thI = """(CAST(ss - s_i AS DOUBLE) / CAST(nn - n_i AS DOUBLE))"""
      val seJ = """sqrt((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
        * sdev2)"""
      val varIid = """((CAST(qq AS DOUBLE) - CAST(ss AS DOUBLE)
        * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        / (CAST(nn AS DOUBLE) - 1.0))"""
      val seI = s"sqrt($varIid / CAST(nn AS DOUBLE))"
      s"""WITH persrc AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n_i,
          CAST(sum(m) AS BIGINT) AS s_i,
          CAST(sum(m * m) AS BIGINT) AS q_i
        FROM (SELECT source, CAST(len($toksSql) AS BIGINT) AS m
              FROM documents)
        GROUP BY source),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
          CAST(sum(n_i) AS BIGINT) AS nn,
          CAST(sum(s_i) AS BIGINT) AS ss,
          CAST(sum(q_i) AS BIGINT) AS qq
        FROM persrc),
      thbar AS (
        SELECT g, nn, ss, qq, ${dsum8Sql(thI)} AS sth
        FROM persrc CROSS JOIN tot
        GROUP BY g, nn, ss, qq),
      parts AS (
        SELECT g, nn, ss, qq,
          ${dsum8Sql(s"($thI - sth / CAST(g AS DOUBLE)) " +
            s"* ($thI - sth / CAST(g AS DOUBLE))")} AS sdev2
        FROM persrc CROSS JOIN tot JOIN thbar USING (g, nn, ss, qq)
        GROUP BY g, nn, ss, qq)
      SELECT g AS n_sources, nn AS n_docs,
        ${proundSql("CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)", 6)}
          AS theta,
        ${proundSql(seJ, 8)} AS se_jackknife,
        ${proundSql(seI, 8)} AS se_iid,
        ${proundSql(s"$seJ / $seI", 4)} AS se_ratio
      FROM parts"""
    })

  // -- T36: HASH-PERMUTATION TEST — exact distribution-free inference
  //    with ZERO runtime randomness: the observed statistic (mean
  //    token-count gap between English and non-English docs) is
  //    compared against 31 deterministic relabelings (arm_i =
  //    slotWide(doc_id·64+i) mod 2 — each a valid draw from the null
  //    because the hash is independent of the text), and
  //    p = (1 + #{|stat_i| ≥ |stat_obs|}) / 32. All 31 permutation
  //    sums ride ONE corpus pass (64 conditional integer aggregates,
  //    map-side combined); every statistic is a pinned float program
  //    over exact BIGINTs. The q289/q296 inverse-CDF discipline
  //    applied to resampling inference.
  private val PERM_K = 31
  private val q302 = Q(
    "q302_permutation_test",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val sw = (c: org.apache.spark.sql.Column) =>
        graft.operators.Sampling.slotWide(c)
      val base = t.documents.select(
        size(toks).cast("long").as("m"),
        (col("lang") === "en").cast("long").as("g"),
        col("doc_id"))
      val aggs =
        Seq(sum(col("m")).as("sm"), count(lit(1)).as("n"),
          sum(col("g") * col("m")).as("s_obs"),
          sum(col("g")).as("n_obs")) ++
        (1 to PERM_K).flatMap { i =>
          val arm = pmod(sw(col("doc_id") * lit(64L) + lit(i.toLong)),
            lit(2L))
          Seq(sum(when(arm === 1, col("m")).otherwise(0L)).as(s"s$i"),
            sum(when(arm === 1, 1L).otherwise(0L)).as(s"k$i"))
        }
      val row = base.agg(aggs.head, aggs.tail: _*)
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def gap(sc: org.apache.spark.sql.Column,
          nc: org.apache.spark.sql.Column) =
        d(sc) / d(nc) - d(col("sm") - sc) / d(col("n") - nc)
      val obs = gap(col("s_obs"), col("n_obs"))
      val nGe = (1 to PERM_K).map { i =>
        (abs(gap(col(s"s$i"), col(s"k$i"))) >= abs(obs))
          .cast("long")
      }.reduce(_ + _)
      row.select(col("n"), col("n_obs").as("n_group"),
        pround(obs, 6).as("stat_obs"),
        nGe.as("n_extreme"),
        pround((lit(1L) + nGe).cast("double")
          / lit((PERM_K + 1).toDouble), 6).as("p_perm"))
    },
    Some {
      val armS = (i: Int) => s"(${graft.operators.Sampling.slotWideSql(
        s"doc_id * 64 + $i")}) % 2"
      val permAggs = (1 to PERM_K).map { i =>
        s"""CAST(sum(CASE WHEN ${armS(i)} = 1 THEN m ELSE 0 END)
             AS BIGINT) AS s$i,
           CAST(sum(CASE WHEN ${armS(i)} = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS k$i"""
      }.mkString(",\n          ")
      def gapS(sc: String, nc: String) =
        s"""(CAST($sc AS DOUBLE) / CAST($nc AS DOUBLE)
          - CAST(sm - $sc AS DOUBLE) / CAST(n - $nc AS DOUBLE))"""
      val obsS = gapS("s_obs", "n_obs")
      val nGeS = (1 to PERM_K).map { i =>
        s"""CASE WHEN abs(${gapS(s"s$i", s"k$i")}) >= abs($obsS)
          THEN 1 ELSE 0 END"""
      }.mkString(" + ")
      val toksSql = TextFns.tokensSql("text")
      s"""WITH base AS (
        SELECT CAST(len($toksSql) AS BIGINT) AS m,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
          doc_id
        FROM documents),
      agg AS MATERIALIZED (
        SELECT CAST(sum(m) AS BIGINT) AS sm,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(g * m) AS BIGINT) AS s_obs,
          CAST(sum(g) AS BIGINT) AS n_obs,
          $permAggs
        FROM base)
      SELECT n, n_obs AS n_group,
        ${proundSql(obsS, 6)} AS stat_obs,
        CAST(($nGeS) AS BIGINT) AS n_extreme,
        ${proundSql(
          s"CAST(1 + ($nGeS) AS DOUBLE) / ${(PERM_K + 1).toDouble}",
          6)} AS p_perm
      FROM agg"""
    })

  // -- T39: NONPARAMETRIC MEDIAN CI — the order-statistic confidence
  //    interval that needs no distribution at all (binomial ranks,
  //    normal-approximated): per lang, the token-count median with the
  //    95% CI [x₍ₗ₎, x₍ᵤ₎] where l = ⌊n/2 − 0.98√n⌋+1 and
  //    u = ⌈n/2 + 0.98√n⌉ (0.98 = 1.96/2 — the binomial(n, ½) SD).
  //    Rank selection rides the per-lang cumulative window over the
  //    BOUNDED value grid; sqrt/floor/ceil are the same IEEE ops both
  //    engines run. Complements q38/q67 (point percentiles) with the
  //    uncertainty a release report actually needs.
  private val q306 = Q(
    "q306_median_ci",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val toks = tokens(col("text"))
      val cells = t.documents
        .select(col("lang"), size(toks).cast("long").as("v"))
        .groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val wc = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells.withColumn("cum", sum(col("cnt")).over(wc))
      val nper = cells.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val ranks = nper.select(col("lang"), col("n"),
        greatest(lit(1L), (floor(d(col("n")) / 2.0
          - lit(0.98) * sqrt(d(col("n")))) + lit(1.0)).cast("long"))
          .as("r_lo"),
        ((col("n") + 1L) / lit(2L)).cast("long").as("r_m1"),
        ((col("n") + 2L) / lit(2L)).cast("long").as("r_m2"),
        least(col("n"), ceil(d(col("n")) / 2.0
          + lit(0.98) * sqrt(d(col("n")))).cast("long")).as("r_hi"))
      def valAt(rCol: String, as: String) =
        cum.join(ranks.select(col("lang"), col(rCol).as("__r")), "lang")
          .filter(col("cum") >= col("__r"))
          .groupBy(col("lang")).agg(min(col("v")).as(as))
      ranks
        .join(valAt("r_lo", "ci_lo"), "lang")
        .join(valAt("r_m1", "m1"), "lang")
        .join(valAt("r_m2", "m2"), "lang")
        .join(valAt("r_hi", "ci_hi"), "lang")
        .select(col("lang"), col("n"), col("r_lo"), col("r_hi"),
          pround((d(col("m1")) + d(col("m2"))) / 2.0, 1).as("median"),
          col("ci_lo"), col("ci_hi"),
          (col("ci_hi") - col("ci_lo")).as("ci_width"))
        .orderBy(col("lang"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      def valAt(r: String, as: String) =
        s"""(SELECT lang, CAST(min(v) AS BIGINT) AS $as
          FROM cum JOIN ranks USING (lang)
          WHERE cum >= $r GROUP BY lang)"""
      s"""WITH cells AS MATERIALIZED (
        SELECT lang, CAST(len($toksSql) AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY lang, v),
      cum AS (
        SELECT lang, v, CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM cells),
      ranks AS MATERIALIZED (
        SELECT lang, CAST(sum(cnt) AS BIGINT) AS n,
          GREATEST(1, CAST(floor(CAST(sum(cnt) AS DOUBLE) / 2.0
            - 0.98 * sqrt(CAST(sum(cnt) AS DOUBLE))) + 1.0 AS BIGINT))
            AS r_lo,
          (CAST(sum(cnt) AS BIGINT) + 1) // 2 AS r_m1,
          (CAST(sum(cnt) AS BIGINT) + 2) // 2 AS r_m2,
          LEAST(CAST(sum(cnt) AS BIGINT),
            CAST(ceil(CAST(sum(cnt) AS DOUBLE) / 2.0
              + 0.98 * sqrt(CAST(sum(cnt) AS DOUBLE))) AS BIGINT))
            AS r_hi
        FROM cells GROUP BY lang)
      SELECT r.lang, r.n, r.r_lo, r.r_hi,
        ${proundSql(
          "(CAST(m1.m1 AS DOUBLE) + CAST(m2.m2 AS DOUBLE)) / 2.0", 1)}
          AS median,
        lo.ci_lo, hi.ci_hi, hi.ci_hi - lo.ci_lo AS ci_width
      FROM ranks r
      JOIN ${valAt("r_lo", "ci_lo")} lo USING (lang)
      JOIN ${valAt("r_m1", "m1")} m1 USING (lang)
      JOIN ${valAt("r_m2", "m2")} m2 USING (lang)
      JOIN ${valAt("r_hi", "ci_hi")} hi USING (lang)
      ORDER BY r.lang"""
    })

  // -- T34: BRIER SCORE MURPHY DECOMPOSITION — the other half of
  //    q260's calibration story: ECE measures miscalibration alone;
  //    the Brier score BS = (1/N)Σ(p−o)² splits EXACTLY (forecasts
  //    are bin-constant midpoints, so Murphy's identity holds) into
  //    RELIABILITY (miscalibration, want 0) − RESOLUTION (how much
  //    the bins separate outcomes, want big) + UNCERTAINTY (the
  //    irreducible ō(1−ō)). The decomposition gap is carried in the
  //    output as the identity's measured float residual. BS itself
  //    is exact-integer: (p−o) = (2b+1−20o)/20, so Σ(2b+1−20o)² is a
  //    BIGINT; per-bin reliability numerators likewise; the only
  //    float sums are the 10-bin ds8 folds.
  private val q298 = Q(
    "q298_brier_decomposition",
    (s, dir) => {
      val perdoc = reliability(Tpch(s, dir).documents, longBin = true)
        .withColumn("pbin",
          least(expr("(bin * 10) div 99"), lit(9L)))
        .withColumn("e", lit(2L) * col("pbin") + lit(1L)
          - lit(20L) * col("pos"))
      val bins = perdoc.groupBy(col("pbin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"),
          sum(col("e") * col("e")).as("se2"))
        .localCheckpoint(true)
      val tot = bins.agg(sum(col("n")).as("nn"), sum(col("np")).as("pp"),
        sum(col("se2")).as("sbs"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val relNum = ((lit(2L) * col("pbin") + lit(1L)) * col("n")
        - lit(20L) * col("np"))
      val withTot = bins.crossJoin(broadcast(tot))
      val obar = d(col("pp")) / d(col("nn"))
      val dev = d(col("np")) / d(col("n")) - obar
      val parts = withTot
        .select(col("nn"), col("pp"), col("sbs"),
          (d(relNum * relNum) / (lit(400.0) * d(col("n")))).as("relterm"),
          (d(col("n")) * dev * dev).as("resterm"))
        .groupBy(col("nn"), col("pp"), col("sbs"))
        .agg(dsum8(col("relterm")).as("srel"), dsum8(col("resterm")).as("sres"))
      val bs = d(col("sbs")) / (lit(400.0) * d(col("nn")))
      val rel = col("srel") / d(col("nn"))
      val res = col("sres") / d(col("nn"))
      val unc = obar * (lit(1.0) - obar)
      parts.select(col("nn").as("n_docs"), col("pp").as("n_pos"),
        pround(bs, 6).as("brier"),
        pround(rel, 6).as("reliability"),
        pround(res, 6).as("resolution"),
        pround(unc, 6).as("uncertainty"),
        pround(bs - (rel - res + unc), 8).as("decomp_gap"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val bs = "CAST(sbs AS DOUBLE) / (400.0 * CAST(nn AS DOUBLE))"
      val rel = "srel / CAST(nn AS DOUBLE)"
      val res = "sres / CAST(nn AS DOUBLE)"
      val unc = """CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)
        * (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))"""
      s"""WITH perdoc AS (
        SELECT pbin, pos, 2 * pbin + 1 - 20 * pos AS e FROM (
          SELECT least((least(99, len($toksSql)) * 10) // 99, 9) AS pbin,
            CASE WHEN len(list_distinct($toksSql)) < len($toksSql)
              THEN 1 ELSE 0 END AS pos
          FROM documents)),
      bins AS MATERIALIZED (
        SELECT pbin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np,
          CAST(sum(e * e) AS BIGINT) AS se2
        FROM perdoc GROUP BY pbin),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        CAST(sum(np) AS BIGINT) AS pp,
        CAST(sum(se2) AS BIGINT) AS sbs FROM bins),
      parts AS (
        SELECT nn, pp, sbs,
          ${dsum8Sql(
            """CAST(((2 * pbin + 1) * n - 20 * np)
               * ((2 * pbin + 1) * n - 20 * np) AS DOUBLE)
               / (400.0 * CAST(n AS DOUBLE))""")} AS srel,
          ${dsum8Sql(
            """CAST(n AS DOUBLE)
               * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
               * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))""")} AS sres
        FROM bins CROSS JOIN tot
        GROUP BY nn, pp, sbs)
      SELECT nn AS n_docs, pp AS n_pos,
        ${proundSql(bs, 6)} AS brier,
        ${proundSql(rel, 6)} AS reliability,
        ${proundSql(res, 6)} AS resolution,
        ${proundSql(unc, 6)} AS uncertainty,
        ${proundSql(s"($bs) - (($rel) - ($res) + ($unc))", 8)}
          AS decomp_gap
      FROM parts"""
    })

  // -- T33: MULTINOMIAL NAIVE BAYES language classifier — the trained
  //    probabilistic sibling of q19's heuristic lang-ID, the simplest
  //    model a curation stack actually fits in-engine: token counts
  //    per (lang, token) with Laplace α=1, log-priors from label
  //    frequencies, scored log-space. Every log is graft_lndet on an
  //    EXACT integer ratio (all likelihoods < 1, so ln = −lnDet of
  //    the flipped ratio — q250's sign discipline); per-(doc, lang)
  //    token-score sums are pround8→DECIMAL (order-free); argmax ties
  //    break to lang ascending. Output: the train confusion matrix.
  //    Shape at scale: the model is (vocab × L) rows keyed by token
  //    hash — the score join is a hash join on (lang, h), docs never
  //    shuffle more than their distinct-token rows, and the L-way
  //    fanout is a 5-row broadcast.
  private val q293 = Q(
    "q293_naive_bayes",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val ln = (x: org.apache.spark.sql.Column) =>
        call_function("graft_lndet", x)
      val toks = t.documents
        .select(col("doc_id"), col("lang"),
          explode(TextFns.tokens(lower(col("text")))).as("token"))
        .select(col("doc_id"), col("lang"),
          TextFns.rollingHash(col("token")).as("h"))
        .localCheckpoint(true)
      val clh = toks.groupBy(col("lang"), col("h"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val tl = clh.groupBy(col("lang")).agg(sum(col("c")).as("tcount"))
      val vocab = clh.select(countDistinct(col("h")).as("v"))
      val dl = t.documents.groupBy(col("lang"))
        .agg(count(lit(1)).as("d_l"))
      val dTot = t.documents.agg(count(lit(1)).as("d_all"))
      val lm = tl.join(dl, "lang").crossJoin(broadcast(vocab))
        .crossJoin(broadcast(dTot))
        .select(col("lang").as("l"), col("tcount"), col("v"),
          (-ln((col("tcount") + col("v")).cast("double"))).as("miss"),
          (-ln(col("d_all").cast("double") / col("d_l").cast("double")))
            .as("prior"))
        .localCheckpoint(true) // L rows
      val ll = clh.join(lm, col("lang") === col("l"))
        .select(col("l"), col("h"),
          (-ln((col("tcount") + col("v")).cast("double")
            / (col("c") + lit(1L)).cast("double"))).as("llh"))
      val dt = toks.groupBy(col("doc_id"), col("lang"), col("h"))
        .agg(count(lit(1)).as("m"))
      val scored = dt
        .crossJoin(broadcast(lm.select(col("l"), col("miss"), col("prior"))))
        .join(ll, Seq("l", "h"), "left")
        .select(col("doc_id"), col("lang"), col("l"), col("prior"),
          (col("m").cast("double") * coalesce(col("llh"), col("miss")))
            .as("term"))
        .groupBy(col("doc_id"), col("lang"), col("l"), col("prior"))
        .agg(dsum8(col("term")).as("tscore"))
        .withColumn("score", col("prior") + col("tscore"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("l").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("lang").as("lang_true"), col("l").as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_true"), col("lang_pred"))
    },
    Some {
      val toksSql = TextFns.tokensSql("lower(text)")
      val hs = TextFns.rollingHashSql("token")
      s"""WITH toks AS MATERIALIZED (
        SELECT doc_id, lang, $hs AS h
        FROM (SELECT doc_id, lang, unnest($toksSql) AS token
              FROM documents)),
      clh AS MATERIALIZED (
        SELECT lang, h, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY lang, h),
      lm0 AS (
        SELECT tl.lang, tl.tcount, v.v, dl.d_l, dt.d_all
        FROM (SELECT lang, CAST(sum(c) AS BIGINT) AS tcount
              FROM clh GROUP BY lang) tl
        JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS d_l
              FROM documents GROUP BY lang) dl ON dl.lang = tl.lang
        CROSS JOIN (SELECT CAST(count(DISTINCT h) AS BIGINT) AS v
          FROM clh) v
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS d_all
          FROM documents) dt),
      ${Portable.lnDetSqlCtes("ms", "lm0",
        "lang, tcount, v, d_l, d_all",
        "CAST(tcount + v AS DOUBLE)")},
      msv AS (
        SELECT lang, tcount, v, d_l, d_all, lnp AS msp FROM mslnv),
      ${Portable.lnDetSqlCtes("pr", "msv",
        "lang, tcount, v, msp",
        "CAST(d_all AS DOUBLE) / CAST(d_l AS DOUBLE)")},
      lm AS MATERIALIZED (
        SELECT lang AS l, tcount, v, -msp AS miss, -lnp AS prior
        FROM prlnv),
      llsrc AS (
        SELECT clh.lang AS l, clh.h, clh.c, lm.tcount, lm.v
        FROM clh JOIN lm ON lm.l = clh.lang),
      ${Portable.lnDetSqlCtes("ll", "llsrc", "l, h",
        "CAST(tcount + v AS DOUBLE) / CAST(c + 1 AS DOUBLE)")},
      ll AS MATERIALIZED (SELECT l, h, -lnp AS llh FROM lllnv),
      dtm AS (
        SELECT doc_id, lang, h, CAST(count(*) AS BIGINT) AS m
        FROM toks GROUP BY doc_id, lang, h),
      sc AS (
        SELECT g.doc_id, g.lang, g.l, g.prior,
          g.prior + ${dsum8Sql(
            "CAST(g.m AS DOUBLE) * COALESCE(ll.llh, g.miss)")} AS score
        FROM (SELECT dtm.*, lm.l, lm.miss, lm.prior
              FROM dtm CROSS JOIN lm) g
        LEFT JOIN ll ON ll.l = g.l AND ll.h = g.h
        GROUP BY g.doc_id, g.lang, g.l, g.prior),
      pred AS (
        SELECT doc_id, lang, l FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, l ASC) AS rn
          FROM sc) WHERE rn = 1)
      SELECT lang AS lang_true, l AS lang_pred,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM pred
      GROUP BY lang, l
      ORDER BY lang_true, lang_pred"""
    })

  // -- OTSU AUTO-THRESHOLD quality gate (Otsu 1979) — pick the
  //    quality-score cut that MAXIMIZES between-class variance over
  //    the score histogram, per lang: the data-driven alternative to
  //    q111/q229's hand-set gate thresholds. Signal: type-token
  //    ratio binned to 64 integer levels (floor(ttr·64), clamp 63 —
  //    the binning double program is two exact-long divisions, so
  //    both engines place every doc in the same bin). All Otsu
  //    arithmetic rides the BOUNDED 64-bin histogram (prefix windows
  //    partitioned by lang over ≤ 64 rows — never the doc stream);
  //    var_b = w0·w1·(μ0−μ1)² with the multiply order pinned, argmax
  //    tie-broken by the lower bin. At 100 TB this is one hash-agg
  //    to the histogram plus constant work per lang.
  private val q313 = Q(
    "q313_otsu_gate",
    (s, dir) => {
      val t = Tpch(s, dir)
      val W = org.apache.spark.sql.expressions.Window
      val toks = TextFns.tokens(col("text"))
      val base = t.documents.select(col("lang"),
          size(toks).cast("long").as("n"),
          size(array_distinct(toks)).cast("long").as("nd"))
        .filter(col("n") > 0)
        .withColumn("bin", least(
          floor(col("nd").cast("double") / col("n").cast("double") * 64)
            .cast("long"), lit(63L)))
      val hist = base.groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val pw = W.partitionBy(col("lang")).orderBy(col("bin"))
      val tot = W.partitionBy(col("lang"))
      val cand = hist
        .withColumn("w0", sum(col("c")).over(pw))
        .withColumn("s0", sum(col("c") * col("bin")).over(pw))
        .withColumn("wt", sum(col("c")).over(tot))
        .withColumn("st", sum(col("c") * col("bin")).over(tot))
        .filter(col("w0") > 0 && col("wt") - col("w0") > 0)
        .withColumn("mu0",
          col("s0").cast("double") / col("w0").cast("double"))
        .withColumn("mu1", (col("st") - col("s0")).cast("double") /
          (col("wt") - col("w0")).cast("double"))
        .withColumn("var_b", col("w0").cast("double") *
          (col("wt") - col("w0")).cast("double") *
          ((col("mu0") - col("mu1")) * (col("mu0") - col("mu1"))))
      cand
        .withColumn("rk", row_number().over(
          W.partitionBy(col("lang"))
            .orderBy(col("var_b").desc, col("bin"))))
        .filter(col("rk") === 1)
        .select(col("lang"), col("bin").as("t_opt"),
          col("w0").as("n_below"), (col("wt") - col("w0")).as("n_above"),
          pround(col("var_b"), 4).as("var_between"),
          pround(col("mu0"), 6).as("mu_below"),
          pround(col("mu1"), 6).as("mu_above"),
          pround((col("wt") - col("w0")).cast("double") /
            col("wt").cast("double"), 6).as("kept_frac"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH base AS MATERIALIZED (
        SELECT lang,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n,
          CAST(len(list_distinct(${TextFns.tokensSql("text")})) AS BIGINT)
            AS nd
        FROM documents),
      binned AS (
        SELECT lang, LEAST(CAST(floor(
            CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) * 64) AS BIGINT),
          63) AS bin
        FROM base WHERE n > 0),
      hist AS MATERIALIZED (
        SELECT lang, bin, CAST(count(*) AS BIGINT) AS c
        FROM binned GROUP BY 1, 2),
      cand AS (
        SELECT lang, bin,
          CAST(sum(c) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT)
            AS w0,
          CAST(sum(c * bin) OVER (PARTITION BY lang ORDER BY bin)
            AS BIGINT) AS s0,
          CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS wt,
          CAST(sum(c * bin) OVER (PARTITION BY lang) AS BIGINT) AS st
        FROM hist),
      scored AS (
        SELECT lang, bin, w0, wt,
          CAST(s0 AS DOUBLE) / CAST(w0 AS DOUBLE) AS mu0,
          CAST(st - s0 AS DOUBLE) / CAST(wt - w0 AS DOUBLE) AS mu1,
          CAST(w0 AS DOUBLE) * CAST(wt - w0 AS DOUBLE) *
            ((CAST(s0 AS DOUBLE) / CAST(w0 AS DOUBLE)
              - CAST(st - s0 AS DOUBLE) / CAST(wt - w0 AS DOUBLE))
             * (CAST(s0 AS DOUBLE) / CAST(w0 AS DOUBLE)
              - CAST(st - s0 AS DOUBLE) / CAST(wt - w0 AS DOUBLE)))
            AS var_b
        FROM cand WHERE w0 > 0 AND wt - w0 > 0),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY var_b DESC, bin) AS rk
        FROM scored)
      SELECT lang, bin AS t_opt, w0 AS n_below,
        wt - w0 AS n_above,
        ${proundSql("var_b", 4)} AS var_between,
        ${proundSql("mu0", 6)} AS mu_below,
        ${proundSql("mu1", 6)} AS mu_above,
        ${proundSql("CAST(wt - w0 AS DOUBLE) / CAST(wt AS DOUBLE)", 6)}
          AS kept_frac
      FROM best WHERE rk = 1
      ORDER BY lang"""))

  val all: Seq[Q] =
    Seq(q17, q18, q19, q20, q69, q71, q72, q79, q95, q104, q107,
      q110, q111, q124, q139, q141, q150, q154, q157, q163, q164, q180,
      q183, q201, q206, q207, q221, q226, q229, q260, q261, q263, q271,
      q276, q277, q293, q298, q301, q302, q303, q304, q306, q313)
}
