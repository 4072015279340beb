package graft.queries

import scala.concurrent.duration.DurationInt
import org.apache.spark.sql.functions._
import graft.core.Overlap
import graft.core.Tables.Tpch
import graft.functions.TextFns
import graft.functions.TextFns.P
import graft.operators.Dedup
import graft.operators.Dedup.MinHashParams
import Portable._

/** Deduplication query surface: exact keep-latest, n-gram Jaccard
  * near-dup join, MinHash signatures + LSH pair generation, SimHash
  * hamming pairs, and embedding-cosine near-dup. Implementations live
  * in graft.operators.Dedup / Similarity; this file binds them to the
  * testdata tables and generates the bit-identical DuckDB oracles from
  * the same parameters.
  */
object DedupQueries {
  import TextFns.shingleHashesSql

  private val N = 3          // shingle width
  private val JTAU = 0.5     // Jaccard output threshold
  private val PN = 4         // q175 prefix-filter shingle width
  private val PTAU = 0.5     // q175 threshold (exactly-representable)
  private val LSHTAU = 0.5   // LSH verify threshold
  private val mh = MinHashParams(k = 16, bands = 4)

  /** Distinct shingle-hash set — mirrors Dedup.shingleSets: set
    * algebra runs on hashes in BOTH engines, so results agree exactly
    * even in the (≈0-probability) event of a hash collision.
    */
  private def shingleSetSql =
    s"list_distinct(${shingleHashesSql("text", N)})"
  private def prefixShingleSetSql =
    s"list_distinct(${shingleHashesSql("text", PN)})"
  private def sigSql(hashesExpr: String) =
    s"""list_transform(generate_series(0, ${mh.k - 1}), j ->
       | list_aggregate(list_transform($hashesExpr,
       |   s -> (((j + 1) * ${mh.aGen} % $P) * s + ((j + 1) * ${mh.bGen} % $P)) % $P),
       |  'min'))""".stripMargin
  private def foldSql(listExpr: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), $listExpr),
       | (h, m) -> (h * 31 + m) % $P)""".stripMargin

  /** 64-bit SimHash fingerprint over a CTE column `ths` (the distinct
    * shingle-hash set) — bit k from an independent rehash of each
    * shingle hash, mirroring Dedup.simhashDF:
    * g_k = ((h+1)·(2654435761+40503k)) % P; disjoint powers assembled
    * with | (bit 63 is the sign bit). Shared by q25 and q140.
    */
  private lazy val simhashBitsSql: String = (0 until 64).map { k =>
    val mult = 2654435761L + 40503L * k
    s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       | list_transform(ths,
       |   h -> (((h + 1) * $mult) % $P & 1) * 2 - 1)),
       | (a, b) -> a + b) > 0 THEN ${1L << k} ELSE CAST(0 AS BIGINT) END)""".stripMargin
  }.mkString(" | ")

  // -- D1: exact dedup — keep latest event per (user_id, event_type) ---
  private val q21 = Q(
    "q21_exact_dedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      // eventsUs canonicalizes ts to epoch-µs BIGINT whatever the
      // parquet physical type (Tables.microsCol); ordering on ts_us
      // matches DuckDB's ORDER BY ts at µs precision exactly.
      Dedup.keepLatest(t.eventsUs, Seq("user_id", "event_type"), "ts_us", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_us"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
    WHERE rn = 1
    ORDER BY user_id, event_type"""))

  // -- D2: n-gram Jaccard near-dup pairs (inverted shingle index) ------
  private val q22 = Q(
    "q22_jaccard_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.jaccardPairs(t.documents, "doc_id", "text", N, JTAU)
        .select(col("d1"), col("d2"), col("n_common"), col("n1"), col("n2"),
          pround(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
    },
    Some(s"""WITH sets AS (
        SELECT doc_id, $shingleSetSql AS shingle_set FROM documents),
      sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sets),
      inv AS (SELECT doc_id, unnest(shingle_set) AS shingle FROM sets),
      common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT d1, d2, n_common, sa.n AS n1, sb.n AS n2,
        ${proundSql("CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)", 6)} AS jaccard
      FROM common
      JOIN sizes sa ON d1 = sa.doc_id
      JOIN sizes sb ON d2 = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $JTAU
      ORDER BY d1, d2"""))

  // -- D22: PREFIX-FILTERED Jaccard pairs — the PPJoin prefix step:
  //    index only the rarest (1−tau)·|d|+1 shingles of each doc (global
  //    df-asc order) and the candidate join provably still surfaces
  //    every J ≥ tau pair. The oracle is DuckDB's EXHAUSTIVE inverted
  //    join — every run re-proves the filter lossless — plus each doc's
  //    prefix length so the pruning is visible in the result. Distinct
  //    params from q22 (4-gram shingles) exercise the second width.
  private val q175 = Q(
    "q175_jaccard_prefix",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.jaccardPairsPrefix(t.documents, "doc_id", "text", PN, PTAU)
        .select(col("d1"), col("d2"), col("n_common"), col("n1"), col("n2"),
          (col("n1") - ceil(col("n1") * lit(PTAU)) + 1).cast("long").as("p1"),
          (col("n2") - ceil(col("n2") * lit(PTAU)) + 1).cast("long").as("p2"),
          pround(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
    },
    Some(s"""WITH sets AS (
        SELECT doc_id, $prefixShingleSetSql AS shingle_set FROM documents),
      sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sets),
      inv AS (SELECT doc_id, unnest(shingle_set) AS shingle FROM sets),
      common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
        CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
        CAST(sa.n - ceil(sa.n * $PTAU) + 1 AS BIGINT) AS p1,
        CAST(sb.n - ceil(sb.n * $PTAU) + 1 AS BIGINT) AS p2,
        ${proundSql("CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)", 6)} AS jaccard
      FROM common
      JOIN sizes sa ON d1 = sa.doc_id
      JOIN sizes sb ON d2 = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $PTAU
      ORDER BY d1, d2"""))

  // -- D3: MinHash signatures (flattened: whole-sig fold + band hashes) -
  private val q23 = Q(
    "q23_minhash_sig",
    (s, dir) => {
      val t = Tpch(s, dir)
      val sig = Dedup.minhashSigDF(t.documents, "doc_id", "text", N, mh)
      val bandCols = (0 until mh.bands).map(i =>
        Dedup.sigFold(i * mh.rows, mh.rows).as(s"b$i"))
      sig.select(
          Seq(col("doc_id"), Dedup.sigFold(0, mh.k).as("sig_hash")) ++ bandCols: _*)
        .orderBy(col("doc_id"))
    },
    Some {
      val bandSelects = (0 until mh.bands).map { i =>
        s"${foldSql(s"list_slice(sig, ${i * mh.rows + 1}, ${i * mh.rows + mh.rows})")} AS b$i"
      }.mkString(",\n        ")
      s"""SELECT doc_id, ${foldSql("sig")} AS sig_hash,
        $bandSelects
      FROM (SELECT doc_id, ${sigSql(shingleSetSql)} AS sig FROM documents)
      ORDER BY doc_id"""
    })

  // -- D4: MinHash-LSH near-dup pairs (band bucket join + exact verify) -
  private val q24 = Q(
    "q24_minhash_lsh_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.minhashNearDups(t.documents, "doc_id", "text", N, LSHTAU, mh)
        .select(col("d1"), col("d2"), pround(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
    },
    Some(s"""$lshPipelineCtes
      SELECT d1, d2,
        ${proundSql("CAST(n_common AS DOUBLE) / (n1 + n2 - n_common)", 6)} AS jaccard
      FROM verified
      WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU
      ORDER BY d1, d2"""))

  /** Shared CTE chain for the full MinHash-LSH pipeline (shingle sets
    * → signatures → bands → candidates → verified pairs).
    */
  private lazy val lshPipelineCtes: String = {
    val bandFold = foldSql(
      s"list_slice(sig, i * ${mh.rows} + 1, i * ${mh.rows} + ${mh.rows})")
    s"""WITH sets AS (
      SELECT doc_id, $shingleSetSql AS shingle_set FROM documents),
    sigs AS (
      SELECT doc_id, ${sigSql("shingle_set")} AS sig FROM sets),
    bands AS (
      SELECT doc_id, i AS band_idx, $bandFold AS band_hash
      FROM sigs, unnest(generate_series(0, ${mh.bands - 1})) t(i)),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT d1, d2,
        len(list_intersect(sa.shingle_set, sb.shingle_set)) AS n_common,
        len(sa.shingle_set) AS n1, len(sb.shingle_set) AS n2
      FROM cands
      JOIN sets sa ON d1 = sa.doc_id
      JOIN sets sb ON d2 = sb.doc_id)"""
  }

  // -- D5: SimHash hamming pairs (64-bit fingerprint, 4×16-bit banded
  //    join, lossless ≤ 3). The oracle is the NAIVE all-pairs answer
  //    over the same per-bit-rehash fingerprint — the banded join must
  //    reproduce it exactly (pigeonhole), at inverted-index cost. ----
  private val HAM = 3
  private val q25 = Q(
    "q25_simhash_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.simhashPairs(t.documents, "doc_id", "text", N, HAM)
        .orderBy(col("d1"), col("d2"))
    },
    Some {
      s"""WITH th AS (SELECT doc_id, $shingleSetSql AS ths FROM documents),
      sh AS (SELECT doc_id, $simhashBitsSql AS simhash FROM th)
      SELECT a.doc_id AS d1, b.doc_id AS d2,
        bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= $HAM
      ORDER BY d1, d2"""
    })

  // -- D6: survivor selection — the corpus actually deduplicated -------
  private val q39 = Q(
    "q39_neardup_dedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text", N, LSHTAU, mh)
      Dedup.nearDupSurvivors(t.documents, pairs, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    },
    Some(s"""$lshPipelineCtes,
      dropped AS (
        SELECT DISTINCT d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU)
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      WHERE doc_id NOT IN (SELECT d2 FROM dropped)
      GROUP BY lang
      ORDER BY lang"""))

  // -- D7: transitive near-dup clusters (connected components over the
  //    LSH pair graph; oracle = DuckDB recursive CTE) ------------------
  private val q43 = Q(
    "q43_dedup_clusters",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text", N, LSHTAU, mh)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("node")).as("min_doc"), max(col("node")).as("max_doc"))
        .orderBy(col("component"))
    },
    Some(s"""${lshPipelineCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      pairs AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      undirected(a, b) AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT component, count(*) AS n_docs,
        min(node) AS min_doc, max(node) AS max_doc
      FROM labels
      GROUP BY component
      ORDER BY component"""))

  // -- q57: same cluster semantics as q43, computed by the two-phase
  //    large-star/small-star algorithm (O(log n) rounds vs diameter) —
  //    shares q43's recursive-CTE oracle, so BOTH distributed CC
  //    formulations are hash-verified against the same ground truth --
  private val q57 = Q(
    "q57_dedup_clusters_star",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text", N, LSHTAU, mh)
      Dedup.connectedComponentsStar(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("node")).as("min_doc"), max(col("node")).as("max_doc"))
        .orderBy(col("component"))
    },
    q43.oracle)

  // -- D9: duplicated-span detection — exact substring-level dedup
  //    (Lee et al. 2021): maximal token spans covered by w-gram
  //    windows occurring ≥ 2 times corpus-wide. Shared CTE chain for
  //    q96 (full span table) and q97 (per-source duplication budget).
  private val SPAN_W = 8
  private def spanCtes(withSource: Boolean) = {
    val srcCol = if (withSource) ", source" else ""
    // windows keyed by md5 of the window STRING — mirrors
    // Dedup.duplicatedSpansRaw (content-identity, not the lossy
    // 30-bit rolling hash)
    s"""WITH d AS (
      SELECT doc_id$srcCol,
        ${TextFns.shinglesSql(TextFns.tokensSql("text"), SPAN_W)} AS shs
      FROM documents),
    g0 AS (
      SELECT doc_id$srcCol, unnest(shs) AS sh,
        generate_subscripts(shs, 1) - 1 AS pos
      FROM d),
    g AS (SELECT doc_id$srcCol, md5(sh) AS h, pos FROM g0),
    dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    m AS (SELECT g.doc_id$srcCol, g.pos FROM g JOIN dup USING (h)),
    isl AS (
      SELECT doc_id$srcCol, pos,
        CASE WHEN lag(pos) OVER w IS NULL
               OR pos > lag(pos) OVER w + $SPAN_W THEN 1 ELSE 0 END AS ns
      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (
      SELECT doc_id$srcCol, pos,
        sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM isl),
    spans AS (
      SELECT doc_id$srcCol, span_id, min(pos) AS mn, max(pos) AS mx,
        CAST(count(*) AS BIGINT) AS n_windows
      FROM sp GROUP BY ALL)"""
  }
  private val q96 = Q(
    "q96_duplicated_spans",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.duplicatedSpans(graft.core.Scan.fanOut(t.documents),
          "doc_id", "text", SPAN_W)
        .orderBy(col("doc_id"), col("span_idx"))
    },
    Some(s"""${spanCtes(withSource = false)}
      SELECT doc_id,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY mn) AS INT)
          AS span_idx,
        CAST(mn + 1 AS INT) AS span_start,
        CAST(mx + $SPAN_W AS INT) AS span_end,
        CAST(mx + $SPAN_W - mn AS INT) AS span_len,
        n_windows
      FROM spans
      ORDER BY doc_id, span_idx"""))

  // -- D10: the duplication budget those spans imply, per source —
  //    the fraction of corpus tokens sitting inside a repeated
  //    substring (what substring dedup would remove/downweight).
  private val q97 = Q(
    "q97_dup_span_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val spans = Dedup.duplicatedSpansRaw(graft.core.Scan.fanOut(t.documents),
          "doc_id", "text", SPAN_W)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_len")).cast("long").as("dup_tokens"),
          max(col("span_len")).as("max_span_len"))
      t.documents
        .select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(spans, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce((col("n_spans") > 0).cast("long"), lit(0L)))
            .as("n_docs_with_dups"),
          sum(coalesce(col("n_spans"), lit(0L))).cast("long").as("n_spans"),
          sum(coalesce(col("dup_tokens"), lit(0L))).cast("long")
            .as("dup_tokens"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          pround(sum(coalesce(col("dup_tokens"), lit(0L))).cast("double")
            / sum(col("n_tokens")), 6).as("dup_token_frac"),
          max(coalesce(col("max_span_len"), lit(0))).as("max_span_len"))
        .orderBy(col("source"))
    },
    Some(s"""${spanCtes(withSource = true)},
      per_doc AS (
        SELECT doc_id, source, count(*) AS n_spans,
          CAST(sum(mx + $SPAN_W - mn) AS BIGINT) AS dup_tokens,
          CAST(max(mx + $SPAN_W - mn) AS INT) AS max_span_len
        FROM spans GROUP BY doc_id, source),
      toks AS (
        SELECT doc_id, source,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT t.source, count(*) AS n_docs,
        CAST(sum(CASE WHEN p.n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_with_dups,
        CAST(sum(coalesce(p.n_spans, 0)) AS BIGINT) AS n_spans,
        CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
        CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
        ${proundSql(
          "CAST(sum(coalesce(p.dup_tokens, 0)) AS DOUBLE) / sum(t.n_tokens)",
          6)} AS dup_token_frac,
        CAST(max(coalesce(p.max_span_len, 0)) AS INT) AS max_span_len
      FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
      GROUP BY t.source
      ORDER BY t.source"""))

  // -- D10: incremental cross-corpus dedup — a NEW BATCH of documents
  //    (here doc_id % 5 = 0, a data-relative slice that scales with
  //    the corpus) deduplicated against the EXISTING corpus (the
  //    rest) via MinHash-LSH + exact Jaccard verify
  //    (Dedup.crossNearDups). Per batch doc: how many near-dups it
  //    has in the corpus, its best match (max Jaccard, ties to the
  //    lowest corpus id), and the keep/drop verdict. This is the
  //    steady-state shape of a continuously-crawled training set:
  //    O(delta) new-signature work + one band-bucket equi-join, never
  //    corpus x corpus.
  //    NOTE: the Spark plan applies crossNearDups' default
  //    maxBucket=10000 band-bucket cap; the DuckDB oracle is UNCAPPED
  //    (same convention as q24). Bit-exact parity therefore depends on
  //    no band bucket exceeding 10k docs at sweep scale — if a future
  //    data distribution grows a hot bucket past the cap, the resulting
  //    mismatch is this documented divergence, not an engine bug. -----
  private val q112 = Q(
    "q112_cross_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val batch = t.documents.filter(col("doc_id") % 5 === 0)
      val corpus = t.documents.filter(col("doc_id") % 5 =!= 0)
      val matches = Dedup.crossNearDups(
        corpus, batch, "doc_id", "text", N, LSHTAU, mh)
      val perBatch = Window.partitionBy(col("bid"))
      val best = matches
        .withColumn("rn", row_number().over(
          perBatch.orderBy(col("jaccard").desc, col("cid").asc)))
        .withColumn("n_dups", count(lit(1)).over(perBatch))
        .filter(col("rn") === 1)
        .select(col("bid").as("doc_id"), col("n_dups"),
          col("cid").as("dup_id"),
          pround(col("jaccard"), 6).as("dup_jaccard"))
      batch.select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("dup_id"), col("dup_jaccard"),
          when(col("dup_id").isNull, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some {
      val bandFold = foldSql(
        s"list_slice(sig, i * ${mh.rows} + 1, i * ${mh.rows} + ${mh.rows})")
      val jac = "CAST(n_common AS DOUBLE) / (n1 + n2 - n_common)"
      s"""WITH batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      bsets AS (SELECT doc_id, $shingleSetSql AS shingle_set FROM batch),
      csets AS (SELECT doc_id, $shingleSetSql AS shingle_set FROM corpus),
      bsigs AS (SELECT doc_id, ${sigSql("shingle_set")} AS sig FROM bsets),
      csigs AS (SELECT doc_id, ${sigSql("shingle_set")} AS sig FROM csets),
      bbands AS (
        SELECT doc_id, i AS band_idx, $bandFold AS band_hash
        FROM bsigs, unnest(generate_series(0, ${mh.bands - 1})) t(i)),
      cbands AS (
        SELECT doc_id, i AS band_idx, $bandFold AS band_hash
        FROM csigs, unnest(generate_series(0, ${mh.bands - 1})) t(i)),
      cands AS (
        SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
        FROM bbands b JOIN cbands c
          ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash),
      verified AS (
        SELECT bid, cid,
          len(list_intersect(sb.shingle_set, sc.shingle_set)) AS n_common,
          len(sb.shingle_set) AS n1, len(sc.shingle_set) AS n2
        FROM cands
        JOIN bsets sb ON bid = sb.doc_id
        JOIN csets sc ON cid = sc.doc_id),
      matches AS (
        SELECT bid, cid, $jac AS jaccard FROM verified
        WHERE $jac >= $LSHTAU),
      best AS (
        SELECT bid, cid, jaccard,
          row_number() OVER (PARTITION BY bid
            ORDER BY jaccard DESC, cid) AS rn,
          count(*) OVER (PARTITION BY bid) AS n_dups
        FROM matches)
      SELECT b.doc_id,
        CAST(COALESCE(w.n_dups, 0) AS BIGINT) AS n_dups,
        w.cid AS dup_id,
        ${proundSql("w.jaccard", 6)} AS dup_jaccard,
        CASE WHEN w.cid IS NULL THEN 1 ELSE 0 END AS keep
      FROM batch b
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) w ON b.doc_id = w.bid
      ORDER BY b.doc_id"""
    })

  // -- D11: LSH recall audit — measured recall of the banded candidate
  //    generator against the EXACT Jaccard pairs, per similarity
  //    bucket (the observability query every LSH deployment needs:
  //    "what fraction of true 0.5-0.6 near-dups do my bands even
  //    see?"). Exact side = q22's inverted-index join (quadratic in
  //    output pairs — bench-gated with q22 above sf0.1; the AUDIT runs
  //    on samples at scale, the production path stays q24).
  //    NOTE: the candidate side applies the default maxBucket=10000
  //    cap while the DuckDB oracle's band join is uncapped (q24's
  //    convention) — parity holds only while no band bucket exceeds
  //    the cap; a hot-bucket mismatch here is the documented cap
  //    divergence, not an engine bug. ------------------------------
  private val q115 = Q(
    "q115_lsh_recall",
    (s, dir) => {
      val t = Tpch(s, dir)
      val exact = Dedup.jaccardPairs(t.documents, "doc_id", "text", N, JTAU)
        .select(col("d1"), col("d2"), col("jaccard"))
      val cands = Dedup.lshCandidatePairs(t.documents, "doc_id", "text", N, mh)
        .withColumn("found", lit(1L))
      val nFound = sum(coalesce(col("found"), lit(0L)))
      exact.join(cands, Seq("d1", "d2"), "left")
        .withColumn("bucket",
          least(floor(col("jaccard") * 10), lit(9L)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_exact"), nFound.as("n_found"),
          pround(nFound.cast("double") / count(lit(1)), 4).as("recall"))
        .orderBy(col("bucket"))
    },
    Some {
      val bandFold = foldSql(
        s"list_slice(sig, i * ${mh.rows} + 1, i * ${mh.rows} + ${mh.rows})")
      s"""WITH sets AS (
        SELECT doc_id, $shingleSetSql AS shingle_set FROM documents),
      sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sets),
      inv AS (SELECT doc_id, unnest(shingle_set) AS shingle FROM sets),
      common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      exact AS (
        SELECT d1, d2,
          CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON d1 = sa.doc_id
        JOIN sizes sb ON d2 = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $JTAU),
      sigs AS (
        SELECT doc_id, ${sigSql("shingle_set")} AS sig FROM sets),
      bands AS (
        SELECT doc_id, i AS band_idx, $bandFold AS band_hash
        FROM sigs, unnest(generate_series(0, ${mh.bands - 1})) t(i)),
      cands AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)
      SELECT CAST(least(floor(e.jaccard * 10), 9) AS BIGINT) AS bucket,
        count(*) AS n_exact,
        CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_found,
        ${proundSql(
          "CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
          4)} AS recall
      FROM exact e
      LEFT JOIN cands c ON e.d1 = c.d1 AND e.d2 = c.d2
      GROUP BY 1
      ORDER BY 1"""
    })

  // -- D13: quality-aware survivor selection (Dedup.qualitySurvivors)
  //    — each near-dup component (q43's clusters, singletons included)
  //    keeps its BEST doc under q18's quality score (tie: distinct
  //    ratio, then id) instead of the lowest id — the production
  //    representative rule: dedup should drop the WORSE copy. Both
  //    ordering keys are exactly-rounded integer-ratio doubles, so
  //    the rank is engine-portable without rounding.
  private val QS_STOPWORDS = Seq("the", "a", "of", "and", "to", "in", "is")
  private val q126 = Q(
    "q126_quality_survivors",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = TextFns.tokens(col("text"))
      val nTok = size(toks)
      val stopRatio = TextFns.markerCount(toks, QS_STOPWORDS)
        .cast("double") / nTok
      val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
      val punctRatio = length(regexp_replace(col("text"),
        "[a-zA-Z0-9\\s]", "")).cast("double") / length(col("text"))
      val score = (
        when(length(col("text")).between(50, 1000), 1).otherwise(0) +
          when(nTok >= 20, 1).otherwise(0) +
          when(stopRatio <= 0.4, 1).otherwise(0) +
          when(distinctRatio >= 0.3, 1).otherwise(0) +
          when(punctRatio <= 0.05, 1).otherwise(0)).cast("double") / 5.0
      val scored = t.documents.select(col("doc_id"),
        score.as("quality_score"), distinctRatio.as("dr"))
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text",
        N, LSHTAU, mh)
      Dedup.qualitySurvivors(scored, "doc_id", pairs,
          Seq("quality_score", "dr"))
        .select(col("doc_id"), col("component"),
          col("n_cluster_docs").cast("long").as("n_cluster_docs"),
          col("keep"), col("kept_by"),
          pround(col("quality_score"), 4).as("quality_score"))
        .orderBy(col("doc_id"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val nTok = s"len($toksSql)"
      val stopRatio =
        s"CAST(${TextFns.markerCountSql(toksSql, QS_STOPWORDS)} AS DOUBLE) / $nTok"
      val distinctRatio =
        s"CAST(len(list_distinct($toksSql)) AS DOUBLE) / $nTok"
      val punctRatio =
        s"CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / len(text)"
      val score = s"""CAST(
        (CASE WHEN len(text) BETWEEN 50 AND 1000 THEN 1 ELSE 0 END) +
        (CASE WHEN $nTok >= 20 THEN 1 ELSE 0 END) +
        (CASE WHEN $stopRatio <= 0.4 THEN 1 ELSE 0 END) +
        (CASE WHEN $distinctRatio >= 0.3 THEN 1 ELSE 0 END) +
        (CASE WHEN $punctRatio <= 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0"""
      s"""${lshPipelineCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      prs AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      undirected(a, b) AS (SELECT d1, d2 FROM prs UNION SELECT d2, d1 FROM prs),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
      scored AS (
        SELECT doc_id, $score AS quality_score, $distinctRatio AS dr
        FROM documents),
      lab AS (
        SELECT s.doc_id, coalesce(l.component, s.doc_id) AS component,
          s.quality_score, s.dr
        FROM scored s LEFT JOIN labels l ON l.node = s.doc_id),
      ranked AS (
        SELECT doc_id, component, quality_score,
          row_number() OVER (PARTITION BY component
            ORDER BY quality_score DESC, dr DESC, doc_id ASC) AS rk,
          count(*) OVER (PARTITION BY component) AS n_cluster_docs
        FROM lab),
      kept AS (SELECT component, doc_id AS kept_by FROM ranked WHERE rk = 1)
      SELECT r.doc_id, r.component,
        CAST(r.n_cluster_docs AS BIGINT) AS n_cluster_docs,
        CASE WHEN r.rk = 1 THEN 1 ELSE 0 END AS keep,
        k.kept_by, ${proundSql("r.quality_score", 4)} AS quality_score
      FROM ranked r JOIN kept k USING (component)
      ORDER BY r.doc_id"""
    })

  // -- D15: PARAGRAPH-level exact dedup (q128) — the Dolma-style stage
  //    between whole-doc exact dedup (q21) and substring span dedup
  //    (q96): each document is segmented into paragraphs, every
  //    paragraph that already appeared anywhere earlier in the corpus
  //    (first occurrence = lowest (doc_id, pidx)) is dropped, and the
  //    document is reassembled from its surviving paragraphs. The
  //    synthetic corpus has no newlines, so the segmenter is a fixed
  //    PARA_W-word chunker (the operator is the corpus-wide
  //    first-occurrence machinery, not the splitter).
  //
  //    Scale shape: paragraphs shuffle ONCE on md5(para) for the
  //    first-occurrence window (bucket cardinality ≈ distinct-para
  //    count, uniform by construction of the hash), then once on
  //    doc_id to reassemble — both keyed exchanges, no joins, no
  //    corpus×corpus anything. At 100 TB the paragraph table is the
  //    same O(corpus chars) as the input and each exchange carries it
  //    exactly once; the window needs no WindowGroupLimit because
  //    every partition is a tiny duplicate set (P50 = 1 row).
  private val PARA_W = 10
  private val q128 = Q(
    "q128_para_dedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      import org.apache.spark.sql.expressions.Window
      val words = split(col("text"), " ")
      val nPar = floor((size(words) + lit(PARA_W - 1)) / lit(PARA_W)).cast("int")
      val paras = t.documents.select(
          col("doc_id"),
          posexplode(transform(sequence(lit(0), nPar - 1),
            i => array_join(slice(words, i * PARA_W + 1, lit(PARA_W)), " ")))
            .as(Seq("pidx", "para")))
      val w = Window.partitionBy(md5(col("para")))
        .orderBy(col("doc_id"), col("pidx"))
      paras
        .withColumn("keep", row_number().over(w) === 1)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(col("keep").cast("long")).as("n_kept"),
          sum(when(!col("keep"), length(col("para"))).otherwise(0L))
            .as("n_dup_chars"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(col("keep"), struct(col("pidx"), col("para"))))),
              st => st.getField("para")),
            " ")).as("clean_hash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      idx AS (
        SELECT doc_id, ws,
          unnest(range((len(ws) + ${PARA_W - 1}) // $PARA_W)) AS pidx
        FROM w),
      paras AS (
        SELECT doc_id, pidx,
          array_to_string(
            list_slice(ws, pidx * $PARA_W + 1, pidx * $PARA_W + $PARA_W),
            ' ') AS para
        FROM idx),
      marked AS (
        SELECT doc_id, pidx, para,
          row_number() OVER (PARTITION BY md5(para)
            ORDER BY doc_id, pidx) = 1 AS keep
        FROM paras)
      SELECT doc_id,
        count(*) AS n_paras,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN keep THEN 0 ELSE len(para) END) AS BIGINT)
          AS n_dup_chars,
        md5(coalesce(
          string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE keep), ''))
          AS clean_hash
      FROM marked
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // -- D15: URL canonicalization + URL-keyed dedup (UrlFns) — the
  //    crawl-pipeline step that runs BEFORE text dedup. Four messy
  //    surface forms are derived deterministically from each document
  //    (case, default port, fragment, query order, trailing slash);
  //    forms 0/1 and 2/3 canonicalize to the SAME url, so the group
  //    sizes and survivors pin every rule. Both engines construct the
  //    identical raw urls and run the mirrored canonicalizer — one
  //    keyed shuffle on the canonical url, like every exact dedup. ---
  private val q134 = Q(
    "q134_url_dedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      val base = expr("doc_id div 4")
      val raw = t.documents.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Example.COM:80/docs/"), base,
            lit("/?b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://example.com/docs/"), base, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://CDN.Example.com:443/docs/"), base, lit("/")))
        .otherwise(
          concat(lit("https://cdn.example.com/docs/"), base, lit("#x")))
          .as("url"))
      raw.select(col("doc_id"),
          graft.functions.UrlFns.canonicalizeUrl(col("url"))
            .as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("survivor"))
        .orderBy(col("canonical_url"))
    },
    Some {
      val canon = graft.functions.UrlFns.canonicalizeUrlSql("url")
      s"""WITH raw AS (
        SELECT doc_id,
          CASE doc_id % 4
            WHEN 0 THEN 'HTTP://Example.COM:80/docs/' || (doc_id // 4)
              || '/?b=2&a=1#frag'
            WHEN 1 THEN 'http://example.com/docs/' || (doc_id // 4)
              || '?a=1&b=2'
            WHEN 2 THEN 'https://CDN.Example.com:443/docs/'
              || (doc_id // 4) || '/'
            ELSE 'https://cdn.example.com/docs/' || (doc_id // 4) || '#x'
          END AS url
        FROM documents)
      SELECT $canon AS canonical_url,
        count(*) AS n_dups, min(doc_id) AS survivor
      FROM raw
      GROUP BY canonical_url
      ORDER BY canonical_url"""
    })

  // -- D16: SimHash banding recall audit (Dedup.simhashRecallAudit) —
  //    the SimHash sibling of q115: per hamming distance ≤ SH_HMAX,
  //    the fraction of pairs the 4×16-bit banding would surface.
  //    Hamming ≤ 3 rows MUST read recall 1.0 (the pigeonhole bound
  //    q25's dataflow relies on, here measured rather than asserted);
  //    the decay beyond it is the dial a smaller bandBits buys back.
  //    Exact side all-pairs (bench-gated above sf0.1, like q22/q26).
  private val SH_HMAX = 16
  private val q140 = Q(
    "q140_simhash_recall",
    (s, dir) => {
      val t = Tpch(s, dir)
      Dedup.simhashRecallAudit(graft.core.Scan.fanOut(t.documents),
          "doc_id", "text", N, SH_HMAX)
        .select(col("hamming"), col("n_pairs"), col("n_cands"),
          pround(col("n_cands").cast("double") / col("n_pairs"), 4)
            .as("recall"))
        .orderBy(col("hamming"))
    },
    Some {
      val masks = (0 until 4).map { k =>
        val m = ((1L << 16) - 1L) << (16 * k)
        s"(a.simhash & ($m)) = (b.simhash & ($m))"
      }.mkString(" OR ")
      s"""WITH th AS (SELECT doc_id, $shingleSetSql AS ths FROM documents),
      sh AS (SELECT doc_id, $simhashBitsSql AS simhash FROM th),
      p AS (
        SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming,
          CASE WHEN $masks THEN 1 ELSE 0 END AS cand
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT hamming, count(*) AS n_pairs,
        CAST(sum(cand) AS BIGINT) AS n_cands,
        ${proundSql("CAST(sum(cand) AS DOUBLE) / count(*)", 4)} AS recall
      FROM p WHERE hamming <= $SH_HMAX
      GROUP BY hamming ORDER BY hamming"""
    })

  // -- D17: cross-source duplication matrix — WHICH sources copy from
  //    which (mirror-site / syndication detection, the diagnostic that
  //    tells a curation team where its duplicate mass comes from):
  //    verified MinHash near-dup pairs (the q24 pipeline) joined to
  //    both docs' source labels, rolled up per UNORDERED source pair
  //    with mean similarity. Pair volume is already sub-linear (banded
  //    candidates only); the rollup is one tiny keyed agg. -----------
  private val q151 = Q(
    "q151_dup_source_matrix",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text",
        N, LSHTAU, mh)
      val src = t.documents.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"),
          col("source").as("s1")), "d1")
        .join(src.select(col("doc_id").as("d2"),
          col("source").as("s2")), "d2")
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"), col("jaccard"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          pround(sum(col("jaccard").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 8)))
            .cast("double") / count(lit(1)), 6).as("mean_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""$lshPipelineCtes,
      vp AS (
        SELECT d1, d2,
          CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) AS jaccard
        FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      lab AS (
        SELECT least(sa.source, sb.source) AS src_a,
          greatest(sa.source, sb.source) AS src_b, vp.jaccard
        FROM vp
        JOIN documents sa ON vp.d1 = sa.doc_id
        JOIN documents sb ON vp.d2 = sb.doc_id)
      SELECT src_a, src_b, count(*) AS n_pairs,
        ${proundSql(
          "CAST(sum(CAST(jaccard AS DECIMAL(38,8))) AS DOUBLE) / count(*)",
          6)} AS mean_jaccard
      FROM lab
      GROUP BY src_a, src_b
      ORDER BY src_a, src_b"""))

  // -- D18: directed CONTAINMENT pairs — the asymmetric dedup operator
  //    (Dedup.containmentPairs): excerpts/quotes/subset docs inside
  //    longer ones, which Jaccard structurally misses. The query
  //    PLANTS the case: every doc_id%10 doc gains an excerpt twin
  //    (its first ⌊2n/5⌋ tokens, id + 100000) whose shingle set is a
  //    strict subset of the original's — containment exactly 1.0,
  //    Jaccard ≈ 0.4 (below q22's threshold). The output carries the
  //    Jaccard alongside, so the rows only THIS operator finds are
  //    visible in the result itself.
  private val CONT_TAU = 0.8
  private val q160 = Q(
    "q160_containment_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = TextFns.tokens(col("text"))
      val exLen = floor(size(toks) * 2 / 5).cast("int")
      val excerpts = t.documents.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), exLen)).as("text"))
      val corpus = t.documents.select(col("doc_id"), col("text"))
        .unionByName(excerpts)
      Dedup.containmentPairs(corpus, "doc_id", "text", N, CONT_TAU)
        .select(col("contained"), col("container"), col("n_common"),
          col("n_contained"), col("n_container"),
          pround(col("containment"), 6).as("containment"),
          pround(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("contained"), col("container"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      s"""WITH ex AS (
        SELECT doc_id + 100000 AS doc_id,
          array_to_string(list_slice($toksSql, 1,
            (len($toksSql) * 2) // 5), ' ') AS text
        FROM documents WHERE doc_id % 10 = 0),
      corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM ex),
      sets AS (
        SELECT doc_id, list_distinct(${TextFns.shingleHashesSql("text", N)})
          AS shingle_set
        FROM corpus),
      sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sets),
      inv AS (SELECT doc_id, unnest(shingle_set) AS shingle FROM sets),
      common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      scored AS (
        SELECT
          CASE WHEN sa.n <= sb.n THEN d1 ELSE d2 END AS contained,
          CASE WHEN sa.n <= sb.n THEN d2 ELSE d1 END AS container,
          n_common,
          LEAST(sa.n, sb.n) AS n_contained,
          GREATEST(sa.n, sb.n) AS n_container,
          CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
          CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON d1 = sa.doc_id
        JOIN sizes sb ON d2 = sb.doc_id)
      SELECT contained, container, n_common, n_contained, n_container,
        ${proundSql("containment", 6)} AS containment,
        ${proundSql("jaccard", 6)} AS jaccard
      FROM scored
      WHERE containment >= $CONT_TAU
      ORDER BY contained, container"""
    })

  // -- q167: dedup ROI mart — "what did near-dup dedup buy": q43's
  //    verified clusters (singletons included via left join +
  //    coalesce) rolled up by CLUSTER SIZE, with the token mass a
  //    keep-one-per-cluster policy deletes (keep = min doc_id, the
  //    nearDupSurvivors convention; kept tokens via min_by so the
  //    saved mass is exact, not size×mean). This is the number a
  //    curation team reports to justify the dedup stage — per cluster
  //    size and corpus-total, all integers until the exactly-rounded
  //    saved fraction. Adds ONE doc-keyed left join + two tiny aggs
  //    on top of the q43 component dataflow.
  private val q167 = Q(
    "q167_dedup_roi",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text",
        N, LSHTAU, mh)
      val comp = Dedup.connectedComponents(pairs)
      val toks = t.documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      val labeled = toks.join(comp, toks("doc_id") === comp("node"),
          "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val perCluster = labeled.groupBy(col("component")).agg(
        count(lit(1)).as("sz"),
        sum(col("n_tokens")).as("tok_total"),
        min_by(col("n_tokens"), col("doc_id")).as("tok_kept"))
      // referenced twice (per-size rows + total row): checkpoint the
      // tiny size table so the LSH + CC dataflow upstream isn't
      // replayed for the second branch
      val rows = perCluster.groupBy(col("sz").as("cluster_size")).agg(
          count(lit(1)).as("n_clusters"),
          sum(col("tok_total")).as("tokens_total"),
          (sum(col("tok_total")) - sum(col("tok_kept")))
            .as("tokens_saved"))
        .select(lit(0).cast("int").as("gid"), col("cluster_size"),
          col("n_clusters"), col("tokens_total"), col("tokens_saved"))
        .localCheckpoint(true)
      val total = rows.agg(
          sum(col("n_clusters")).as("n_clusters"),
          sum(col("tokens_total")).as("tokens_total"),
          sum(col("tokens_saved")).as("tokens_saved"))
        .select(lit(1).cast("int").as("gid"),
          lit(null).cast("long").as("cluster_size"),
          col("n_clusters"), col("tokens_total"), col("tokens_saved"))
      rows.unionByName(total)
        .select(col("gid"), col("cluster_size"), col("n_clusters"),
          col("tokens_total"), col("tokens_saved"),
          pround(col("tokens_saved").cast("double") /
            col("tokens_total"), 6).as("saved_pct"))
        .orderBy(col("gid"), col("cluster_size"))
    },
    Some(s"""${lshPipelineCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      pairs AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      undirected(a, b) AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
      toks AS (
        SELECT doc_id, CAST(len(${TextFns.tokensSql("text")}) AS BIGINT)
          AS n_tokens
        FROM documents),
      lab AS (
        SELECT t.doc_id, t.n_tokens,
          coalesce(l.component, t.doc_id) AS component
        FROM toks t LEFT JOIN labels l ON t.doc_id = l.node),
      pc AS (
        SELECT component, count(*) AS sz,
          CAST(sum(n_tokens) AS BIGINT) AS tok_total,
          min_by(n_tokens, doc_id) AS tok_kept
        FROM lab GROUP BY component),
      rws AS (
        SELECT CAST(0 AS INT) AS gid, CAST(sz AS BIGINT) AS cluster_size,
          count(*) AS n_clusters,
          CAST(sum(tok_total) AS BIGINT) AS tokens_total,
          CAST(sum(tok_total) - sum(tok_kept) AS BIGINT) AS tokens_saved
        FROM pc GROUP BY sz),
      tot AS (
        SELECT CAST(1 AS INT) AS gid, CAST(NULL AS BIGINT) AS cluster_size,
          CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
          CAST(sum(tokens_total) AS BIGINT) AS tokens_total,
          CAST(sum(tokens_saved) AS BIGINT) AS tokens_saved
        FROM rws)
      SELECT gid, cluster_size, n_clusters, tokens_total, tokens_saved,
        ${proundSql(
          "CAST(tokens_saved AS DOUBLE) / tokens_total", 6)} AS saved_pct
      FROM (SELECT * FROM rws UNION ALL SELECT * FROM tot)
      ORDER BY gid, cluster_size"""))

  // -- q168: MinHash ESTIMATOR calibration — the other half of the
  //    audit story: q115 measures what the BANDING misses (recall per
  //    decile); this measures how far the k=16 signature's Jaccard
  //    ESTIMATE (matching components / k) sits from the true Jaccard
  //    on the surfaced candidate pairs — the measured error bar on
  //    every downstream threshold applied to signatures instead of
  //    sets (E[est] = J, sd ≈ √(J(1−J)/k) ≈ 0.12 at k=16 — the mart
  //    shows the realized spread, not the formula). True J comes from
  //    a per-candidate-pair set intersection (bounded by the
  //    candidate count — never all-pairs); means accumulate as exact
  //    DECIMALs (the q148 idiom) so buckets are order-independent.
  private val q168 = Q(
    "q168_minhash_estimate",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val cands = Dedup.lshCandidatePairs(t.documents, "doc_id", "text",
        N, mh)
      val sets = Dedup.shingleSets(t.documents, "doc_id", "text", N)
      val sigs = Dedup.minhashSigDF(t.documents, "doc_id", "text", N, mh)
      val joined = cands
        .join(sets.select(col("doc_id").as("d1"),
          col("shingle_set").as("s1")), "d1")
        .join(sets.select(col("doc_id").as("d2"),
          col("shingle_set").as("s2")), "d2")
        .join(sigs.select(col("doc_id").as("d1") +:
          (0 until mh.k).map(j => col(s"m$j").as(s"a$j")): _*), "d1")
        .join(sigs.select(col("doc_id").as("d2") +:
          (0 until mh.k).map(j => col(s"m$j").as(s"b$j")): _*), "d2")
      val common = size(array_intersect(col("s1"), col("s2")))
      val jac = common.cast("double") /
        (size(col("s1")) + size(col("s2")) - common)
      val matches = (0 until mh.k)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
        .reduce(_ + _)
      val est = matches.cast("double") / lit(mh.k.toDouble)
      def dmean(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(38, 8))).cast("double") / count(lit(1))
      joined
        .select(least(floor(jac * 10), lit(9L)).cast("long").as("bucket"),
          jac.as("j"), est.as("e"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          pround(dmean(col("j")), 6).as("mean_true_j"),
          pround(dmean(col("e")), 6).as("mean_est_j"),
          pround(dmean(abs(col("e") - col("j"))), 6).as("mean_abs_err"))
        .orderBy(col("bucket"))
    },
    Some {
      val bandFold = foldSql(
        s"list_slice(sig, i * ${mh.rows} + 1, i * ${mh.rows} + ${mh.rows})")
      s"""WITH sets AS (
        SELECT doc_id, $shingleSetSql AS shingle_set FROM documents),
      sigs AS (
        SELECT doc_id, ${sigSql("shingle_set")} AS sig FROM sets),
      bands AS (
        SELECT doc_id, i AS band_idx, $bandFold AS band_hash
        FROM sigs, unnest(generate_series(0, ${mh.bands - 1})) t(i)),
      cands AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT c.d1, c.d2,
          CAST(len(list_intersect(x.shingle_set, y.shingle_set))
            AS DOUBLE) /
          (len(x.shingle_set) + len(y.shingle_set)
            - len(list_intersect(x.shingle_set, y.shingle_set))) AS j,
          CAST(len(list_filter(list_zip(gx.sig, gy.sig),
            p -> p[1] = p[2])) AS DOUBLE) / ${mh.k} AS e
        FROM cands c
        JOIN sets x ON c.d1 = x.doc_id
        JOIN sets y ON c.d2 = y.doc_id
        JOIN sigs gx ON c.d1 = gx.doc_id
        JOIN sigs gy ON c.d2 = gy.doc_id)
      SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS bucket,
        count(*) AS n_pairs,
        ${proundSql(
          "CAST(sum(CAST(j AS DECIMAL(38,8))) AS DOUBLE) / count(*)", 6)}
          AS mean_true_j,
        ${proundSql(
          "CAST(sum(CAST(e AS DECIMAL(38,8))) AS DOUBLE) / count(*)", 6)}
          AS mean_est_j,
        ${proundSql(
          "CAST(sum(CAST(abs(e - j) AS DECIMAL(38,8))) AS DOUBLE)" +
            " / count(*)", 6)} AS mean_abs_err
      FROM pairs
      GROUP BY 1
      ORDER BY 1"""
    })

  // -- q170: contamination SPAN localization — q62 reports WHICH eval
  //    docs are contaminated (doc-level shingle hits); this produces
  //    the receipts: every maximal verbatim ≥ CONTAM_W-token overlap
  //    between an eval doc (doc_id % 10 = 0, q62's split) and a train
  //    doc, WITH POSITIONS on both sides (Lee et al. 2022's
  //    exact-substring view applied cross-set). The trick is the
  //    DIAGONAL: a verbatim run of length L contributes L−W+1 window
  //    matches whose (eval_pos − train_pos) is CONSTANT, so maximal
  //    spans are gaps-and-islands over e_pos per (eval, train, diag) —
  //    strictly-consecutive merge, tighter than q96's within-w rule,
  //    because every interior window of a verbatim run must match.
  //    Shape: one hash-keyed inverted join (eval side is 1/10 of the
  //    corpus — broadcastable at scale) + one window over the match
  //    set; the 128-bit window key is q96's collision regime (spans
  //    are positions, the hash never reaches the output).
  private val CONTAM_W = 8

  /** The q170/q171 shared dataflow: maximal cross-set verbatim spans
    * as (eval_doc, train_doc, diag, __mn, __mx, n_windows) — window
    * positions 0-based, span covers tokens __mn+1 .. __mx+CONTAM_W.
    */
  private def contamSpans(t: Tpch): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = t.documents.select(col("doc_id"),
      posexplode(TextFns.shinglesNative(col("text"), CONTAM_W))
        .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("sh")).as("h1"), xxhash64(lit(1), col("sh")).as("h2"))
    val ev = grams.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_doc"), col("pos").as("e_pos"),
        col("h1"), col("h2"))
    val tr = grams.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("train_doc"), col("pos").as("t_pos"),
        col("h1"), col("h2"))
    val m = ev.join(tr, Seq("h1", "h2"))
      .select(col("eval_doc"), col("train_doc"), col("e_pos"),
        (col("e_pos") - col("t_pos")).as("diag"))
    val byDiag = Window
      .partitionBy(col("eval_doc"), col("train_doc"), col("diag"))
      .orderBy(col("e_pos"))
    m.withColumn("__prev", lag(col("e_pos"), 1).over(byDiag))
      .withColumn("__new",
        (col("__prev").isNull || col("e_pos") > col("__prev") + 1)
          .cast("int"))
      .withColumn("__span", sum(col("__new")).over(byDiag))
      .groupBy(col("eval_doc"), col("train_doc"), col("diag"),
        col("__span"))
      .agg(min(col("e_pos")).as("__mn"), max(col("e_pos")).as("__mx"),
        count(lit(1)).as("n_windows"))
  }

  /** DuckDB mirror of [[contamSpans]] through the `spans` CTE. */
  private def contamSpansCtes: String =
    s"""g AS (
        SELECT doc_id, u.pos, grams[CAST(u.pos + 1 AS INT)] AS sh
        FROM (SELECT doc_id,
                ${TextFns.shinglesSql(TextFns.tokensSql("text"),
                  CONTAM_W)} AS grams
              FROM documents) d,
          unnest(generate_series(0, len(grams) - 1)) u(pos)),
      m AS (
        SELECT ev.doc_id AS eval_doc, tr.doc_id AS train_doc,
          ev.pos AS e_pos, ev.pos - tr.pos AS diag
        FROM (SELECT * FROM g WHERE doc_id % 10 = 0) ev
        JOIN (SELECT * FROM g WHERE doc_id % 10 != 0) tr
          ON ev.sh = tr.sh),
      w1 AS (
        SELECT *, lag(e_pos) OVER (PARTITION BY eval_doc, train_doc,
          diag ORDER BY e_pos) AS prev
        FROM m),
      w2 AS (
        SELECT *, sum(CASE WHEN prev IS NULL OR e_pos > prev + 1
            THEN 1 ELSE 0 END)
          OVER (PARTITION BY eval_doc, train_doc, diag ORDER BY e_pos)
          AS spn
        FROM w1),
      spans AS (
        SELECT eval_doc, train_doc, diag,
          min(e_pos) AS mn, max(e_pos) AS mx, count(*) AS n_windows
        FROM w2
        GROUP BY eval_doc, train_doc, diag, spn)"""

  private val q170 = Q(
    "q170_contamination_spans",
    (s, dir) => {
      val t = Tpch(s, dir)
      contamSpans(t)
        .select(col("eval_doc"), col("train_doc"),
          (col("__mn") + 1).as("eval_start"),
          (col("__mx") + lit(CONTAM_W)).as("eval_end"),
          (col("__mn") - col("diag") + 1).as("train_start"),
          (col("__mx") + lit(CONTAM_W) - col("__mn")).as("span_len"),
          col("n_windows"))
        .orderBy(col("eval_doc"), col("train_doc"), col("eval_start"),
          col("train_start"))
    },
    Some(s"""WITH $contamSpansCtes
      SELECT eval_doc, train_doc,
        mn + 1 AS eval_start,
        mx + $CONTAM_W AS eval_end,
        mn - diag + 1 AS train_start,
        mx + $CONTAM_W - mn AS span_len,
        n_windows
      FROM spans
      ORDER BY eval_doc, train_doc, eval_start, train_start"""))

  // -- q171: surgical decontamination — don't DROP a contaminated
  //    train doc (q62's verdict granularity), CUT the contaminated
  //    span out and keep the rest (Lee et al. 2022's remediation):
  //    q170's spans keyed train-side become per-doc coverage ranges,
  //    and the cleaned text is the token sequence with covered
  //    positions removed — a per-row HOF filter with an index lambda
  //    probing the doc's own (tiny) span list; overlapping spans from
  //    different eval docs compose for free through the coverage
  //    predicate. Output = only the affected docs, with the CLEANED
  //    TEXT itself oracle-compared (not just counts). One extra
  //    doc-keyed join over q170's dataflow; the corpus never
  //    re-shuffles.
  private val q171 = Q(
    "q171_span_scrub",
    (s, dir) => {
      val t = Tpch(s, dir)
      val spanList = contamSpans(t)
        .select(col("train_doc"),
          (col("__mn") - col("diag") + 1).as("s"),
          (col("__mx") - col("diag") + lit(CONTAM_W)).as("e"))
        .groupBy(col("train_doc"))
        .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
      val toks = TextFns.tokens(col("text"))
      val docs = t.documents
      docs.join(spanList, docs("doc_id") === spanList("train_doc"))
        .select(col("doc_id"),
          size(toks).cast("long").as("n_before"),
          filter(toks, (tk, i) =>
            !exists(col("spans"),
              sp => (i + 1) >= sp.getField("s") &&
                (i + 1) <= sp.getField("e"))).as("kept"))
        .select(col("doc_id"), col("n_before"),
          size(col("kept")).cast("long").as("n_after"),
          (col("n_before") - size(col("kept")).cast("long"))
            .as("n_removed"),
          array_join(col("kept"), " ").as("cleaned_text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $contamSpansCtes,
      sl AS (
        SELECT train_doc,
          list({'s': mn - diag + 1, 'e': mx - diag + $CONTAM_W})
            AS spans
        FROM spans
        GROUP BY train_doc),
      base AS (
        SELECT d.doc_id, sl.spans,
          ${TextFns.tokensSql("text")} AS toks
        FROM documents d JOIN sl ON d.doc_id = sl.train_doc),
      cut AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
          list_filter(toks, (tk, i) ->
            len(list_filter(spans,
              sp -> i >= sp.s AND i <= sp.e)) = 0) AS kept
        FROM base)
      SELECT doc_id, n_before,
        CAST(len(kept) AS BIGINT) AS n_after,
        n_before - CAST(len(kept) AS BIGINT) AS n_removed,
        coalesce(list_aggregate(kept, 'string_agg', ' '), '')
          AS cleaned_text
      FROM cut
      ORDER BY doc_id"""))

  // -- D23: per-source BOILERPLATE paragraph filter — CCNet's
  //    paragraph-frequency rule, the complement of q128's
  //    first-occurrence dedup: a paragraph occurring ≥ BF times
  //    within its SOURCE is boilerplate (navigation, footers,
  //    templates) and EVERY occurrence drops — including the first,
  //    which q128 keeps (the semantic difference between "dedup" and
  //    "boilerplate removal"). Same 10-word pseudo-paragraph
  //    segmentation; frequency via one count window over the
  //    (source, md5(para)) exchange — paragraphs shuffle once, the
  //    same scale shape as q128.
  private val BF = 2
  private val q189 = Q(
    "q189_boilerplate_filter",
    (s, dir) => {
      val t = Tpch(s, dir)
      import org.apache.spark.sql.expressions.Window
      val words = split(col("text"), " ")
      val nPar = floor((size(words) + lit(PARA_W - 1)) / lit(PARA_W)).cast("int")
      val paras = t.documents.select(
          col("doc_id"), col("source"),
          posexplode(transform(sequence(lit(0), nPar - 1),
            i => array_join(slice(words, i * PARA_W + 1, lit(PARA_W)), " ")))
            .as(Seq("pidx", "para")))
      val w = Window.partitionBy(col("source"), md5(col("para")))
      paras
        .withColumn("keep", count(lit(1)).over(w) < BF)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_boiler"),
          sum(when(!col("keep"), length(col("para"))).otherwise(0L))
            .as("n_boiler_chars"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(col("keep"), struct(col("pidx"), col("para"))))),
              st => st.getField("para")),
            " ")).as("clean_hash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      idx AS (
        SELECT doc_id, source, ws,
          unnest(range((len(ws) + ${PARA_W - 1}) // $PARA_W)) AS pidx
        FROM w),
      paras AS (
        SELECT doc_id, source, pidx,
          array_to_string(
            list_slice(ws, pidx * $PARA_W + 1, pidx * $PARA_W + $PARA_W),
            ' ') AS para
        FROM idx),
      marked AS (
        SELECT doc_id, pidx, para,
          count(*) OVER (PARTITION BY source, md5(para)) < $BF AS keep
        FROM paras)
      SELECT doc_id,
        count(*) AS n_paras,
        CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_boiler,
        CAST(sum(CASE WHEN NOT keep THEN len(para) ELSE 0 END) AS BIGINT)
          AS n_boiler_chars,
        md5(coalesce(string_agg(CASE WHEN keep THEN para END, ' '
          ORDER BY pidx), '')) AS clean_hash
      FROM marked
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // -- D24: dedup METHOD-OVERLAP matrix — which pairs does each
  //    near-dup detector find, and how much do they agree: the
  //    diagnostic a curation team reads before deciding which
  //    detectors to run in production (q115/q140 measure each
  //    method's recall against ITS OWN exact baseline; this measures
  //    the methods against EACH OTHER). Four pair sets at their
  //    production thresholds — exact Jaccard (≥ 0.5), MinHash-LSH
  //    (banded + verified ≥ 0.5), SimHash (hamming ≤ 3), containment
  //    (≥ 0.8, undirected) — each localCheckpointed (pair sets are
  //    tiny), pairwise intersected; the handful of counts assembles
  //    driver-side (the bounded-collect contract, q183's class).
  private val q191 = Q(
    "q191_dedup_method_matrix",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      // ONE shingle scan feeds all four detectors (the q159 shared-
      // split discipline): tokenize+shingle+hash runs once, the
      // checkpointed sets frame is the common input
      val sets = Dedup.shingleSets(t.documents, "doc_id", "text", N)
        .localCheckpoint(true)
      val lazyDefs: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "containment" -> Dedup.containmentPairsFromSets(sets, "doc_id",
            CONT_TAU)
          .select(least(col("contained"), col("container")).as("d1"),
            greatest(col("contained"), col("container")).as("d2")),
        "jaccard" -> Dedup.jaccardPairsFromSets(sets, "doc_id", JTAU)
          .select(col("d1"), col("d2")),
        "lsh" -> Dedup.minhashNearDupsFromSets(sets, "doc_id", LSHTAU, mh)
          .select(col("d1"), col("d2")),
        "simhash" -> Dedup.simhashPairsFromSets(sets, "doc_id", HAM)
          .select(col("d1"), col("d2")))
      // materialize the four detectors CONCURRENTLY — they are
      // independent jobs over the same checkpointed input, so nothing
      // serializes them but the old eager per-detector count()s
      val defs = Overlap.all(lazyDefs.map { case (n, df) =>
        () => n -> df.localCheckpoint(true)
      }, 30.minutes)
      val counts = defs.map { case (n, df) => n -> df.count() }.toMap
      val rows = for {
        i <- defs.indices; j <- (i + 1) until defs.length
      } yield {
        val (na, dfa) = defs(i)
        val (nb, dfb) = defs(j)
        (na, nb, counts(na), counts(nb),
          dfa.join(dfb, Seq("d1", "d2")).count())
      }
      rows.toDF("method_a", "method_b", "n_a", "n_b", "n_both")
        .orderBy(col("method_a"), col("method_b"))
    },
    Some(s"""$lshPipelineCtes,
      lshp AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sets),
      inv AS (SELECT doc_id, unnest(shingle_set) AS shingle FROM sets),
      common AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      paired AS MATERIALIZED (
        SELECT d1, d2, n_common, sa.n AS n1, sb.n AS n2
        FROM common
        JOIN sizes sa ON d1 = sa.doc_id
        JOIN sizes sb ON d2 = sb.doc_id),
      jacp AS (
        SELECT d1, d2 FROM paired
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $JTAU),
      conp AS (
        SELECT d1, d2 FROM paired
        WHERE CAST(n_common AS DOUBLE) / least(n1, n2) >= $CONT_TAU),
      th AS (SELECT doc_id, shingle_set AS ths FROM sets),
      sh AS MATERIALIZED (
        SELECT doc_id, $simhashBitsSql AS simhash FROM th),
      simp AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= $HAM)
      SELECT * FROM (
        SELECT 'containment' AS method_a, 'jaccard' AS method_b,
          (SELECT count(*) FROM conp) AS n_a,
          (SELECT count(*) FROM jacp) AS n_b,
          (SELECT count(*) FROM conp x JOIN jacp y
            ON x.d1 = y.d1 AND x.d2 = y.d2) AS n_both
        UNION ALL SELECT 'containment', 'lsh',
          (SELECT count(*) FROM conp), (SELECT count(*) FROM lshp),
          (SELECT count(*) FROM conp x JOIN lshp y
            ON x.d1 = y.d1 AND x.d2 = y.d2)
        UNION ALL SELECT 'containment', 'simhash',
          (SELECT count(*) FROM conp), (SELECT count(*) FROM simp),
          (SELECT count(*) FROM conp x JOIN simp y
            ON x.d1 = y.d1 AND x.d2 = y.d2)
        UNION ALL SELECT 'jaccard', 'lsh',
          (SELECT count(*) FROM jacp), (SELECT count(*) FROM lshp),
          (SELECT count(*) FROM jacp x JOIN lshp y
            ON x.d1 = y.d1 AND x.d2 = y.d2)
        UNION ALL SELECT 'jaccard', 'simhash',
          (SELECT count(*) FROM jacp), (SELECT count(*) FROM simp),
          (SELECT count(*) FROM jacp x JOIN simp y
            ON x.d1 = y.d1 AND x.d2 = y.d2)
        UNION ALL SELECT 'lsh', 'simhash',
          (SELECT count(*) FROM lshp), (SELECT count(*) FROM simp),
          (SELECT count(*) FROM lshp x JOIN simp y
            ON x.d1 = y.d1 AND x.d2 = y.d2))
      ORDER BY method_a, method_b"""))

  // -- D24b: SemDeDup row of the method-overlap matrix — the
  //    cross-MODALITY agreement diagnostic q191 can't show: MinHash
  //    (text shingles over documents) vs SemDeDup (trained-cluster
  //    cosine over embeddings) pair sets intersected on the shared id
  //    space, q191's exact row shape. Both pair sets come from their
  //    production banded/clustered generators; the oracle splices
  //    q202's Lloyd+pair CTE fragment next to the MinHash pipeline
  //    CTEs (sd_-prefixed — no name collisions) and counts. ---------
  private val q203 = Q(
    "q203_semdedup_overlap",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val lshp = Dedup.minhashNearDups(t.documents, "doc_id", "text",
          N, LSHTAU, mh)
        .select(col("d1"), col("d2")).localCheckpoint(true)
      val semp = Dedup.semDeDupPairs(t.embeddings, "vec_id", "embedding",
          SimilarityQueries.SD_K, SimilarityQueries.SD_ITERS,
          SimilarityQueries.SD2_TAU)
        .localCheckpoint(true)
      Seq(("lsh", "semdedup", lshp.count(), semp.count(),
          lshp.join(semp, Seq("d1", "d2")).count()))
        .toDF("method_a", "method_b", "n_a", "n_b", "n_both")
    },
    Some(s"""${lshPipelineCtes.replaceFirst("WITH ",
        "WITH RECURSIVE ")},
      lshp AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      ${SimilarityQueries.semDeDupPairCtes}
      SELECT 'lsh' AS method_a, 'semdedup' AS method_b,
        (SELECT count(*) FROM lshp) AS n_a,
        (SELECT count(*) FROM sd_prs) AS n_b,
        (SELECT count(*) FROM lshp x JOIN sd_prs y
          ON x.d1 = y.p1 AND x.d2 = y.p2) AS n_both"""))

  // -- D25: LEAKAGE-FREE eval split — the ML-hygiene step a random
  //    split gets wrong: hashing DOCS into train/test strands
  //    near-duplicate pairs across the boundary (the eval set then
  //    "contains" paraphrases of training data — silent leakage);
  //    hashing whole near-dup CLUSTERS (q43's components; singletons
  //    are their own cluster) makes cross-split near-dup pairs
  //    structurally impossible. Output: both schemes side by side
  //    with their MEASURED cross-split pair counts — cluster = 0 by
  //    construction, naive > 0 on this corpus (the leak made
  //    visible). Split hash reduces ids mod P before the multiplier
  //    (the q188 overflow discipline).
  private val SPL_A = 2654435761L
  private val SPL_B = 998244353L
  private val q195 = Q(
    "q195_leakfree_split",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pairs = Dedup.minhashNearDups(t.documents, "doc_id", "text",
          N, LSHTAU, mh)
        .select(col("d1"), col("d2")).localCheckpoint(true)
      val comp = Dedup.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
      def splitOf(c: org.apache.spark.sql.Column) =
        when(pmod(pmod(pmod(c, lit(P)) * lit(SPL_A) + lit(SPL_B), lit(P)),
          lit(10L)) < 2, "test").otherwise("train")
      val assigned = t.documents.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep"))
        .select(col("doc_id"),
          splitOf(col("rep")).as("s_cluster"),
          splitOf(col("doc_id")).as("s_naive"))
        .localCheckpoint(true)
      def summary(scheme: String, cCol: String) = {
        val sp = assigned.select(col("doc_id"), col(cCol).as("sp"))
        val cross = pairs
          .join(sp.select(col("doc_id").as("d1"), col("sp").as("sp1")),
            Seq("d1"))
          .join(sp.select(col("doc_id").as("d2"), col("sp").as("sp2")),
            Seq("d2"))
          .filter(col("sp1") =!= col("sp2"))
        assigned.agg(
            sum(when(col(cCol) === "train", 1L).otherwise(0L)).as("n_train"),
            sum(when(col(cCol) === "test", 1L).otherwise(0L)).as("n_test"))
          .crossJoin(broadcast(
            cross.agg(count(lit(1)).as("n_cross_pairs"))))
          .select(lit(scheme).as("scheme"), col("n_train"), col("n_test"),
            col("n_cross_pairs"))
      }
      summary("cluster", "s_cluster").unionByName(summary("naive", "s_naive"))
        .orderBy(col("scheme"))
    },
    Some {
      def sSql(x: String) =
        s"CASE WHEN (($x % $P) * $SPL_A + $SPL_B) % $P % 10 < 2" +
          s" THEN 'test' ELSE 'train' END"
      def arm(scheme: String, c: String) = s"""
        SELECT '$scheme' AS scheme,
          (SELECT count(*) FROM asg WHERE $c = 'train') AS n_train,
          (SELECT count(*) FROM asg WHERE $c = 'test') AS n_test,
          (SELECT count(*) FROM pairs2 p
            JOIN asg a1 ON p.d1 = a1.doc_id
            JOIN asg a2 ON p.d2 = a2.doc_id
            WHERE a1.$c != a2.$c) AS n_cross_pairs"""
      s"""${lshPipelineCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      pairs2 AS (
        SELECT d1, d2 FROM verified
        WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= $LSHTAU),
      undirected(a, b) AS (
        SELECT d1, d2 FROM pairs2 UNION SELECT d2, d1 FROM pairs2),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a),
      asg AS (
        SELECT d.doc_id,
          ${sSql("coalesce(l.component, d.doc_id)")} AS s_cluster,
          ${sSql("d.doc_id")} AS s_naive
        FROM documents d LEFT JOIN labels l ON d.doc_id = l.node)
      SELECT * FROM (${arm("cluster", "s_cluster")}
        UNION ALL ${arm("naive", "s_naive")})
      ORDER BY scheme"""
    })

  // -- D28: WINNOWING fingerprints + fingerprint-sharing pairs
  //    (operators.Winnow — the MOSS primitive): per doc, each
  //    w-window of trigram-shingle hashes contributes its rightmost
  //    MINIMUM; the deduped selections are a ~2/(w+1)-density
  //    principled subsample of q22's full inverted index with the
  //    guarantee that any shared run of ≥ w+n−1 tokens shares a
  //    fingerprint. Pair generation is the index shape of the family:
  //    distinct (doc, fp) rows, document-frequency-pruned (df ≤
  //    WIN_DFMAX — q160's maxDf discipline, the 100 TB path: a
  //    fingerprint in half the corpus identifies boilerplate, not a
  //    pair), equi-self-joined on fp, scored by n_shared /
  //    min(|fp_a|, |fp_b|) (containment on the winnowed sets). Top-50
  //    by shared count. ------------------------------------------------
  private val WIN_N = 3
  private val WIN_W = 4
  private val WIN_DFMAX = 20
  private val WIN_TOP = 50
  private val q235 = Q(
    "q235_winnow_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      val fps = graft.operators.Winnow.fingerprints(
        t.documents, "doc_id", "text", WIN_N, WIN_W)
      val docFp = fps.select(col("doc_id"), col("fp")).distinct()
        .localCheckpoint(true) // feeds nfp, the df prune, and both join sides
      val nfp = docFp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val rare = docFp.join(
        docFp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= WIN_DFMAX),
        Seq("fp"))
      val pairs = rare.select(col("fp"), col("doc_id").as("doc_a"))
        .join(rare.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(nfp.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("nfp", "nfp_a")), Seq("doc_a"))
        .join(broadcast(nfp.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("nfp", "nfp_b")), Seq("doc_b"))
        .orderBy(col("n_shared").desc, col("doc_a").asc, col("doc_b").asc)
        .limit(WIN_TOP)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("nfp_a"), col("nfp_b"),
          pround(col("n_shared").cast("double") /
            least(col("nfp_a"), col("nfp_b")).cast("double"), 6)
            .as("score"))
        .orderBy(col("n_shared").desc, col("doc_a").asc, col("doc_b").asc)
    },
    Some {
      val win = graft.operators.Winnow
      s"""WITH sh0 AS MATERIALIZED (
        SELECT doc_id, ${TextFns.shingleHashesSql("text", WIN_N)} AS sh
        FROM documents),
      fp0 AS MATERIALIZED (
        SELECT doc_id, unnest(${win.fingerprintsSql("sh", WIN_W)}) AS e
        FROM sh0 WHERE len(sh) >= $WIN_W),
      docfp AS MATERIALIZED (
        SELECT DISTINCT doc_id, e & 2147483647 AS fp FROM fp0),
      nfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
        FROM docfp GROUP BY doc_id),
      rare AS MATERIALIZED (
        SELECT d.doc_id, d.fp FROM docfp d
        JOIN (SELECT fp FROM docfp GROUP BY fp
              HAVING count(*) <= $WIN_DFMAX) r USING (fp)),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(count(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b, n_shared, na.nfp AS nfp_a, nb.nfp AS nfp_b,
        ${proundSql(
          "CAST(n_shared AS DOUBLE) / CAST(least(na.nfp, nb.nfp) AS DOUBLE)",
          6)} AS score
      FROM (SELECT * FROM pairs
            ORDER BY n_shared DESC, doc_a ASC, doc_b ASC LIMIT $WIN_TOP) p
      JOIN nfp na ON na.doc_id = p.doc_a
      JOIN nfp nb ON nb.doc_id = p.doc_b
      ORDER BY n_shared DESC, doc_a ASC, doc_b ASC"""
    })

  // -- D29: LSH banding TUNER — pick (bands, rows) for a 64-hash
  //    MinHash signature by integrating the S-curve
  //    p(s) = 1 − (1 − s^r)^b against the CORPUS'S OWN empirical
  //    Jaccard distribution (MMDS §3.4, made data-driven): exact
  //    trigram-set Jaccard over a deterministic doc sample
  //    (inverted-index pair gen, never all-pairs), 20-bin histogram,
  //    expected false-positive mass below τ = 0.5 and false-negative
  //    mass above it per divisor pair of 64. Every power is a
  //    FIXED-ORDER multiplication fold (no libm pow), per-bin
  //    contributions pround(8)→DECIMAL-summed, argmin on the exact
  //    sums (tie → fewer bands). The histogram is 20 bounded rows —
  //    driver math (the Isotonic discipline) replayed by the oracle's
  //    candidate × bin join.
  private val LT_SMOD = 3
  private val LT_BINS = 20
  private val LT_TAU = 0.5
  private val LT_CANDS = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4),
    (32, 2), (64, 1))
  private val q244 = Q(
    "q244_lsh_tuning",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val docs = t.documents.filter(col("doc_id") % LT_SMOD === 0)
        .select(col("doc_id"),
          array_distinct(TextFns.shingleHashes(lower(col("text")), 3))
            .as("sh"))
        .localCheckpoint(true)
      val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
      val idx = docs.select(col("doc_id"), explode(col("sh")).as("h"))
      val inter = idx.select(col("h"), col("doc_id").as("a"))
        .join(idx.select(col("h"), col("doc_id").as("b")), Seq("h"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      val bins = inter
        .join(broadcast(sizes.withColumnRenamed("doc_id", "a")
          .withColumnRenamed("n", "na")), Seq("a"))
        .join(broadcast(sizes.withColumnRenamed("doc_id", "b")
          .withColumnRenamed("n", "nb")), Seq("b"))
        .select((col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("j"))
        .select(least(floor(col("j") * LT_BINS).cast("int"),
          lit(LT_BINS - 1)).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      def powFold(x: Double, n: Int): Double =
        (1 to n).foldLeft(1.0)((a, _) => a * x)
      def p8(x: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(math.floor(x * 1e8 + 0.5) / 1e8)
          .setScale(8, java.math.RoundingMode.HALF_UP)
      val rows = LT_CANDS.map { case (b, r) =>
        var fp = java.math.BigDecimal.ZERO
        var fn = java.math.BigDecimal.ZERO
        bins.foreach { case (bin, cnt) =>
          val smid = (bin.toDouble + 0.5) / LT_BINS
          val p = 1.0 - powFold(1.0 - powFold(smid, r), b)
          if (smid < LT_TAU) fp = fp.add(p8(cnt.toDouble * p))
          else fn = fn.add(p8(cnt.toDouble * (1.0 - p)))
        }
        // the argmin compares DOUBLE(fp) + DOUBLE(fn) — the same two
        // casts + one add the oracle's ORDER BY executes
        (b, r, fp.doubleValue, fn.doubleValue,
          fp.doubleValue + fn.doubleValue)
      }
      val best = rows.minBy { case (b, _, _, _, e) => (e, b) }
      rows.map { case (b, r, fp, fn, e) =>
        (b, r, fp, fn, e, if (e == best._5 && b == best._1) 1 else 0)
      }.toDF("bands", "rows_per_band", "fp_exp", "fn_exp", "err",
          "selected")
        .select(col("bands"), col("rows_per_band"),
          pround(col("fp_exp"), 6).as("fp_exp"),
          pround(col("fn_exp"), 6).as("fn_exp"),
          pround(col("err"), 6).as("err"), col("selected"))
        .orderBy(col("bands"))
    },
    Some {
      val cands = LT_CANDS.map { case (b, r) => s"($b, $r)" }
        .mkString(", ")
      def fold(x: String, n: String) =
        s"""list_reduce(list_prepend(CAST(1 AS DOUBLE),
          list_transform(generate_series(1, $n), zz -> $x)),
          (aa, bb) -> aa * bb)"""
      val smid = s"(CAST(bin AS DOUBLE) + 0.5) / $LT_BINS"
      val p = s"1 - ${fold(s"1 - ${fold("smid", "r")}", "b")}"
      s"""WITH docs AS MATERIALIZED (
        SELECT doc_id,
          list_distinct(${TextFns.shingleHashesSql("lower(text)", 3)})
            AS sh
        FROM documents WHERE doc_id % $LT_SMOD = 0),
      sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
      idx AS (SELECT doc_id, unnest(sh) AS h FROM docs),
      inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      bins AS MATERIALIZED (
        SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT least(CAST(floor(
            (CAST(i.inter AS DOUBLE)
              / (sa.n + sb.n - i.inter)) * $LT_BINS) AS INT),
            ${LT_BINS - 1}) AS bin
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.a
          JOIN sizes sb ON sb.doc_id = i.b)
        GROUP BY bin),
      cands(b, r) AS (VALUES $cands),
      contrib AS (
        SELECT c.b, c.r, smid, cnt,
          CAST($p AS DOUBLE) AS p
        FROM cands c CROSS JOIN
          (SELECT bin, cnt, $smid AS smid FROM bins) x),
      sums AS (
        SELECT b, r,
          CAST(sum(CASE WHEN smid < $LT_TAU THEN
            CAST(${proundSql("cnt * p", 8)} AS DECIMAL(28,8))
            ELSE 0 END) AS DOUBLE) AS fp_exp,
          CAST(sum(CASE WHEN smid >= $LT_TAU THEN
            CAST(${proundSql("cnt * (1 - p)", 8)} AS DECIMAL(28,8))
            ELSE 0 END) AS DOUBLE) AS fn_exp
        FROM contrib GROUP BY b, r)
      SELECT CAST(b AS INT) AS bands, CAST(r AS INT) AS rows_per_band,
        ${proundSql("fp_exp", 6)} AS fp_exp,
        ${proundSql("fn_exp", 6)} AS fn_exp,
        ${proundSql("fp_exp + fn_exp", 6)} AS err,
        CAST(CASE WHEN row_number() OVER (
            ORDER BY fp_exp + fn_exp, b) = 1 THEN 1 ELSE 0 END AS INT)
          AS selected
      FROM sums
      ORDER BY bands"""
    })

  // -- D30: Fellegi-Sunter record linkage ([[graft.operators
  //    .RecordLinkage]]) — probabilistic entity resolution between two
  //    keyless registries (here: the even- and odd-id halves of the
  //    corpus, blocked on (lang, token-count slab) — an equi-join,
  //    never all-pairs). Three compared fields, each pure integer
  //    arithmetic: char-length proximity, first-8-token fingerprint
  //    equality (rolling hash), and token-set Jaccard ≥ 1/2 via the
  //    integral identity 3·|A∩B| ≥ |A|+|B|. Scores are exact BIGINT
  //    micro-log-odds (StrictMath.log literals shared with the
  //    oracle); the match / possible / nonmatch bands are the two-
  //    threshold FS decision rule. Per-lang report with the average
  //    score recovered by one final double division.
  private val RL_FIELDS = Seq(
    graft.operators.RecordLinkage.FieldWeights("f_len", m = 0.95, u = 0.10),
    graft.operators.RecordLinkage.FieldWeights("f_prefix", m = 0.80, u = 0.01),
    graft.operators.RecordLinkage.FieldWeights("f_jacc", m = 0.90, u = 0.02))
  private val RL_UP = 4000000L   // ≥ +4.0 log-odds → match
  private val RL_LO = -3000000L  // ≤ −3.0 log-odds → nonmatch
  private val q248 = Q(
    "q248_record_linkage",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = TextFns.tokens(col("text"))
      val side = t.documents.select(
          col("doc_id"), col("lang"),
          length(col("text")).as("llen"),
          TextFns.rollingHash(concat_ws(" ", slice(toks, 1, 8))).as("pfp"),
          array_distinct(TextFns.shingleHashes(col("text"), 1)).as("hset"),
          expr("size(split(trim(text), '\\\\s+')) div 20").as("blk"))
      val pairs = side.filter(col("doc_id") % 2 === 0).as("a")
        .join(side.filter(col("doc_id") % 2 === 1).as("b"),
          col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk"))
        .select(col("a.lang").as("lang"),
          (abs(col("a.llen") - col("b.llen")) <= 10).as("f_len"),
          (col("a.pfp") === col("b.pfp")).as("f_prefix"),
          (lit(3) * size(array_intersect(col("a.hset"), col("b.hset")))
            >= size(col("a.hset")) + size(col("b.hset"))).as("f_jacc"))
      val scored = graft.operators.RecordLinkage.classify(
        graft.operators.RecordLinkage.score(pairs, RL_FIELDS), RL_UP, RL_LO)
      scored.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum((col("decision") === "match").cast("long")).as("n_match"),
          sum((col("decision") === "possible").cast("long")).as("n_possible"),
          sum((col("decision") === "nonmatch").cast("long")).as("n_nonmatch"),
          sum(col("score6")).as("sum6"),
          max(col("score6")).as("max6"))
        .select(col("lang"), col("n_pairs"), col("n_match"),
          col("n_possible"), col("n_nonmatch"),
          pround(col("sum6").cast("double") / lit(1e6)
            / col("n_pairs").cast("double"), 6).as("avg_score"),
          pround(col("max6").cast("double") / lit(1e6), 6).as("max_score"))
        .orderBy(col("lang"))
    },
    Some {
      val scoreSql = graft.operators.RecordLinkage.scoreSql(RL_FIELDS)
      s"""WITH side AS MATERIALIZED (
        SELECT doc_id, lang, len(text) AS llen,
          ${TextFns.rollingHashSql(
            s"array_to_string(list_slice(${TextFns.tokensSql("text")}, 1, 8), ' ')")}
            AS pfp,
          list_distinct(${shingleHashesSql("text", 1)}) AS hset,
          len(${TextFns.tokensSql("text")}) // 20 AS blk
        FROM documents),
      pairs AS (
        SELECT a.lang,
          abs(a.llen - b.llen) <= 10 AS f_len,
          a.pfp = b.pfp AS f_prefix,
          3 * len(list_intersect(a.hset, b.hset))
            >= len(a.hset) + len(b.hset) AS f_jacc
        FROM side a JOIN side b
          ON a.lang = b.lang AND a.blk = b.blk
          AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
      scored AS (
        SELECT lang, $scoreSql AS score6,
          CASE WHEN $scoreSql >= $RL_UP THEN 'match'
               WHEN $scoreSql <= $RL_LO THEN 'nonmatch'
               ELSE 'possible' END AS decision
        FROM pairs)
      SELECT lang,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(CASE WHEN decision = 'match' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_match,
        CAST(sum(CASE WHEN decision = 'possible' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_possible,
        CAST(sum(CASE WHEN decision = 'nonmatch' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_nonmatch,
        ${proundSql(
          """CAST(sum(score6) AS DOUBLE) / 1000000.0
             / CAST(count(*) AS DOUBLE)""", 6)} AS avg_score,
        ${proundSql("CAST(max(score6) AS DOUBLE) / 1000000.0", 6)}
          AS max_score
      FROM scored
      GROUP BY lang
      ORDER BY lang"""
    })

  // -- D31: WEIGHTED Jaccard — the multiset dedup score SET Jaccard
  //    under-reads on templated text: J_w = Σ min(cᵢ) / Σ max(cᵢ) over
  //    per-token COUNTS (Σ max = n₁+n₂−Σ min, so one shared-token
  //    min-sum suffices), reported NEXT TO set Jaccard so the rows
  //    where they disagree (repetition-heavy near-dups) are visible.
  //    Pair generation is the blocked inverted index with CAPPED
  //    posting lists ([[graft.operators.Dedup.weightedJaccardPairs]]):
  //    a stop token with block document frequency D would contribute
  //    D² join rows, so each (lang, slab, token) posting list is
  //    truncated to its first WJ_CAP docs for generation — bounding
  //    the join at vocab·WJ_CAP² regardless of corpus size — while
  //    scoring re-joins the FULL count table for candidates, keeping
  //    every reported score exact integer until the final divisions.
  private val WJ_K = 50
  private val WJ_CAP = 64
  private val q257 = Q(
    "q257_weighted_jaccard",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toksAll = TextFns.shingleHashes(col("text"), 1)
      // fan the single-file scan out (the tokenize+explode is the
      // expensive per-row work) and materialize the count table once:
      // pair generation and exact re-scoring otherwise re-evaluate the
      // whole tokenize+aggregate per reference (measured: two serial
      // single-task ~4 s stages at sf0.1)
      val base = graft.core.Scan.fanOut(t.documents)
        .select(col("doc_id"), col("lang"),
          explode(toksAll).as("h"),
          size(toksAll).cast("bigint").as("n"),
          size(array_distinct(toksAll)).cast("bigint").as("nd"))
        .withColumn("blk", expr("n div 20"))
      val tc = base.groupBy(col("doc_id"), col("lang"), col("blk"),
          col("n"), col("nd"), col("h"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val pairs = graft.operators.Dedup.weightedJaccardPairs(tc, WJ_CAP)
      pairs.select(col("d1"), col("d2"), col("n1"), col("n2"),
          col("min_sum"),
          pround(col("min_sum").cast("double")
            / (col("n1") + col("n2") - col("min_sum")).cast("double"), 6)
            .as("wjacc"),
          pround(col("inter").cast("double")
            / (col("nd1") + col("nd2") - col("inter")).cast("double"), 6)
            .as("jacc"))
        .orderBy(col("wjacc").desc, col("d1").asc, col("d2").asc)
        .limit(WJ_K)
    },
    Some {
      val hs = shingleHashesSql("text", 1)
      s"""WITH tc AS MATERIALIZED (
        SELECT doc_id, lang, n, nd, n // 20 AS blk, h,
          CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, lang,
                CAST(len($hs) AS BIGINT) AS n,
                CAST(len(list_distinct($hs)) AS BIGINT) AS nd,
                unnest($hs) AS h
              FROM documents)
        GROUP BY ALL),
      gen AS (
        SELECT * FROM (
          SELECT doc_id, lang, blk, n, nd, h,
            row_number() OVER (PARTITION BY lang, blk, h
              ORDER BY doc_id ASC) AS prn
          FROM tc)
        WHERE prn <= $WJ_CAP),
      cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
          a.n AS n1, b.n AS n2, a.nd AS nd1, b.nd AS nd2
        FROM gen a JOIN gen b
          ON a.lang = b.lang AND a.blk = b.blk AND a.h = b.h
          AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT d1, d2, n1, n2, nd1, nd2,
          CAST(sum(least(ta.c, tb.c)) AS BIGINT) AS min_sum,
          CAST(count(*) AS BIGINT) AS inter
        FROM cand
        JOIN tc ta ON ta.doc_id = cand.d1
        JOIN tc tb ON tb.doc_id = cand.d2 AND tb.h = ta.h
        GROUP BY ALL)
      SELECT d1, d2, n1, n2, min_sum,
        ${proundSql(
          "CAST(min_sum AS DOUBLE) / CAST(n1 + n2 - min_sum AS DOUBLE)",
          6)} AS wjacc,
        ${proundSql(
          "CAST(inter AS DOUBLE) / CAST(nd1 + nd2 - inter AS DOUBLE)",
          6)} AS jacc
      FROM pairs
      ORDER BY wjacc DESC, d1 ASC, d2 ASC
      LIMIT $WJ_K"""
    })

  val all: Seq[Q] =
    Seq(q21, q22, q23, q24, q25, q39, q43, q57, q96, q97, q112, q115,
      q126, q128, q134, q140, q151, q160, q167, q168, q170, q171, q175,
      q189, q191, q195, q203, q235, q244, q248, q257)
}
