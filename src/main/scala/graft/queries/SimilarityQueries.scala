package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Overlap
import graft.core.Tables.Tpch
import graft.operators.Similarity
import Portable._

/** Similarity-search query surface over the `embeddings` table
  * (vec_id, embedding: array<float>[64], label): exact cosine pair
  * scan, brute-force top-k ANN baseline, and the random-hyperplane LSH
  * bucketing that is the 100 TB path (bucket = shuffle key; candidate
  * set per query shrinks from |corpus| to |bucket|).
  *
  * Float parity: dot products and norms are sequential left-folds of
  * element-wise double products (`aggregate` ≡ `list_reduce`), so the
  * doubles are BIT-IDENTICAL to the DuckDB oracle before the final
  * portable rounding.
  */
object SimilarityQueries {

  private def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | list_transform(list_zip($a, $b),
       |   pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))),
       | (x, y) -> x + y)""".stripMargin
  private def norm2Sql(v: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       | (x, y) -> x + y)""".stripMargin

  // -- Recall kit: the steps the ANN-evaluation queries share (q149,
  //    q159, q165, q184, q193, q208, q215, q216, q224, q227, q231,
  //    q265, q290). Each measures approximate indexes against the
  //    exact brute-force top-K of the pinned queries (vec_id % QMOD
  //    = 0): recall@K = |approx top-K ∩ exact top-K| / |exact top-K|.
  //    Their independent arms run through core.Overlap. Spark side:
  //    [[exactTopK]], [[cosineTopK]], [[hitCount]], [[recallRow]] and,
  //    next to the PQ CTEs, [[pqTopK]]. Each step has an oracle twin
  //    below that emits the DuckDB SQL for it.

  /** The exact baseline: brute cosine top-`k` (query_id, corpus_id),
    * checkpointed so the brute scan runs once however many arms join
    * it.
    */
  private def exactTopK(emb: DataFrame, queries: DataFrame, k: Int)
      : DataFrame =
    Similarity.topK(emb, queries, "vec_id", "embedding", k)
      .select(col("query_id"), col("corpus_id")).localCheckpoint(true)

  /** Per query, the top-`k` (query_id, corpus_id) of a scored frame by
    * cosine desc, corpus_id asc.
    */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    Similarity.rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
      .select(col("query_id"), col("corpus_id"))

  /** How many of `top`'s pairs the exact baseline holds (one action). */
  private def hitCount(top: DataFrame, exact: DataFrame): Long =
    top.join(exact, Seq("query_id", "corpus_id")).count()

  /** One lazy recall row: `label`, n_hits = |exact ∩ top|,
    * n_total = |exact|, recall = n_hits / n_total at 4 places.
    */
  private def recallRow(label: Column, exact: DataFrame, top: DataFrame)
      : DataFrame =
    exact.join(top, Seq("query_id", "corpus_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_total"))))
      .select(label, col("n_hits"), col("n_total"),
        pround(col("n_hits").cast("double") / col("n_total"), 4)
          .as("recall"))

  /** Oracle CTE `v`: every vector with its norm. */
  private def normCte(v: String) = s"""$v AS (
        SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
        FROM embeddings)"""

  /** Oracle cut: `cols` of the top-`k` rows of `src` per query_id by
    * `order`, ties by corpus_id.
    */
  private def rankCutSql(cols: String, src: String, order: String,
      k: Int) = s"""SELECT $cols
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY $order, corpus_id ASC) AS rank FROM $src)
        WHERE rank <= $k"""

  /** Oracle cut: the top-K (query_id, corpus_id) of `src` by cosine. */
  private def rkCutSql(src: String) = s"""SELECT query_id, corpus_id FROM (
          SELECT query_id, corpus_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rk
          FROM $src) WHERE rk <= $K"""

  /** Oracle twin of [[exactTopK]] over the norm CTE `v`: every query ×
    * corpus cosine in `scored`, its top-`k` in `exact`.
    */
  private def cosineExactCtes(v: String, scored: String, exact: String,
      k: Int, materialized: Boolean = false) = s"""$scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM $v WHERE vec_id % $QMOD = 0) q
        JOIN $v c ON q.vec_id != c.vec_id),
      $exact AS ${if (materialized) "MATERIALIZED " else ""}(
        ${rankCutSql("query_id, corpus_id", scored, "cosine DESC", k)})"""

  /** Oracle `exact` as one CTE, norms computed inline: the brute
    * cosine top-K.
    */
  private def bruteExactCte(materialized: Boolean = false) =
    s"""exact AS ${if (materialized) "MATERIALIZED " else ""}(
        SELECT query_id, corpus_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${dotSql("q.embedding", "c.embedding")}
                  / (sqrt(${norm2Sql("q.embedding")})
                     * sqrt(${norm2Sql("c.embedding")})) DESC,
                c.vec_id ASC) AS rank
          FROM (SELECT * FROM embeddings WHERE vec_id % $QMOD = 0) q
          JOIN embeddings c ON c.vec_id != q.vec_id)
        WHERE rank <= $K)"""

  /** Oracle |exact ∩ m| as a scalar subquery. */
  private def hitsSql(exact: String, m: String) =
    s"""(SELECT count(*) FROM $exact e JOIN $m m
            ON e.query_id = m.query_id AND e.corpus_id = m.corpus_id)"""

  /** Oracle twin of [[recallRow]]s: per (label value, top-K CTE or
    * subquery), n_hits against `exact`, n_total from `tot`, recall.
    */
  private def recallSql(label: String, arms: Seq[(String, String)],
      exact: String, tot: String) = {
    val rows = arms.map { case (v, m) => s"""
        SELECT $v AS $label,
          ${hitsSql(exact, m)}
            AS n_hits, n_total FROM $tot""" }
    s"""SELECT $label, n_hits, n_total,
        ${proundSql("CAST(n_hits AS DOUBLE) / n_total", 4)} AS recall
      FROM (${rows.mkString("\n        UNION ALL")})
      ORDER BY $label"""
  }

  /** Oracle SQ8 codes: per-dim scales and each vector's int8 code `q`
    * in `enc8`.
    */
  private def sq8CodesCtes =
    s"""dims AS (SELECT unnest(generate_series(1, $SQ_DIMS)) AS pos),
      scales AS (
        SELECT pos, max(abs(CAST(embedding[pos] AS DOUBLE))) AS s
        FROM embeddings CROSS JOIN dims GROUP BY pos),
      sarr AS (SELECT list(s ORDER BY pos) AS sc FROM scales),
      enc8 AS (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN sc[i] = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                 / sc[i] + 0.5) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN sarr)"""

  /** Oracle SQ8 top-`k` (`cols`) by integer dot product, in `sq8`. */
  private def sq8TopCtes(cols: String, k: Int) = s"""$sq8CodesCtes,
      scored8 AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip(q.q, c.q), pr -> pr[1] * pr[2])),
            (x, y) -> x + y) AS iscore
        FROM (SELECT * FROM enc8 WHERE vec_id % $QMOD = 0) q
        JOIN enc8 c ON q.vec_id != c.vec_id),
      sq8 AS (
        ${rankCutSql(cols, "scored8", "iscore DESC", k)})"""

  /** Oracle binary top-`k` by hamming distance of the sign bits, in
    * `binm`.
    */
  private def binTopCtes(k: Int) = s"""binh AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          list_reduce(list_prepend(0,
            list_transform(generate_series(1, $SQ_DIMS),
              i -> CASE WHEN (q.embedding[i] > 0) != (c.embedding[i] > 0)
                   THEN 1 ELSE 0 END)), (x, y) -> x + y) AS hamming
        FROM (SELECT * FROM embeddings WHERE vec_id % $QMOD = 0) q
        JOIN embeddings c ON q.vec_id != c.vec_id),
      binm AS (
        ${rankCutSql("query_id, corpus_id", "binh", "hamming ASC", k)})"""

  // -- V1: exact cosine near-dup pairs ---------------------------------
  private val CTAU = 0.4
  private val q26 = Q(
    "q26_cosine_neardup",
    (s, dir) => {
      val t = Tpch(s, dir)
      // O(n²) dot products — restore scan splits so the pair compare
      // uses the cores (the exact baseline is bench-gated to sf≤0.1)
      Similarity.cosinePairs(graft.core.Scan.fanOut(t.embeddings),
          "vec_id", "embedding", CTAU)
        .select(col("v1"), col("v2"), pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("v1"), col("v2"))
    },
    Some(s"""WITH ${normCte("v")}
      SELECT a.vec_id AS v1, b.vec_id AS v2,
        ${proundSql(s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)", 6)} AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $CTAU
      ORDER BY v1, v2"""))

  // -- V2: brute-force cosine top-k (ANN exact baseline) ---------------
  private val K = 5
  private val QMOD = 50
  private val q27 = Q(
    "q27_ann_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.topK(t.embeddings, queries, "vec_id", "embedding", K)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${normCte("v")},
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
        JOIN v c ON q.vec_id != c.vec_id)
      SELECT query_id, rank, corpus_id, ${proundSql("cosine", 6)} AS cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $K
      ORDER BY query_id, rank"""))

  // -- V3: random-hyperplane LSH bucket histogram (the scale path) -----
  private val NBITS = 8

  /** DuckDB expression for the nBits-bit hyperplane bucket id —
    * mirrors Similarity.lshBucket bit for bit.
    */
  private def bucketSql(vecExpr: String): String =
    (0 until NBITS).map { j =>
      val plane =
        s"(CAST((($j + 1) * 2654435761 + i * 40503) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)"
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | list_transform(generate_series(0, CAST(len($vecExpr) AS BIGINT) - 1),
         |   i -> CAST($vecExpr[CAST(i + 1 AS INT)] AS DOUBLE) * $plane)),
         | (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private val q28 = Q(
    "q28_ann_lsh_buckets",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.embeddings
        .select(col("vec_id"), col("label"),
          Similarity.lshBucket(col("embedding"), NBITS).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("label")).as("n_labels"),
          min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"))
        .orderBy(col("bucket"))
    },
    Some {
      s"""SELECT bucket, count(*) AS n_vecs,
        count(DISTINCT label) AS n_labels,
        min(vec_id) AS min_vec, max(vec_id) AS max_vec
      FROM (SELECT vec_id, label, ${bucketSql("embedding")} AS bucket FROM embeddings)
      GROUP BY bucket
      ORDER BY bucket"""
    })

  // -- V4: LSH-bucketed top-k — candidates restricted to the query's
  //    bucket (equi hash join on bucket id; the 100 TB ANN path) ------
  private val q33 = Q(
    "q33_ann_lsh_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      import graft.operators.Similarity
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.lshTopK(t.embeddings, queries, "vec_id", "embedding",
        NBITS, K)
        .select(col("query_id"), col("bucket"), col("rank"), col("corpus_id"),
          pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
          ${bucketSql("embedding")} AS bucket
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
        JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id)
      SELECT query_id, bucket, rank, corpus_id, ${proundSql("cosine", 6)} AS cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $K
      ORDER BY query_id, rank"""))

  // -- V5: IVF top-k — deterministic seed centroids (cell = member id
  //    for id % SEEDMOD = 0), nearest-cell assignment via map-side
  //    max_by, top-NPROBE cells probed per query. The second 100 TB
  //    ANN path next to LSH: candidates/query = |corpus|·nprobe/nlist.
  private val SEEDMOD = 25
  private val NPROBE = 2

  /** Oracle order of the seeds `s` for a vector of the norm CTE `v`:
    * cosine desc, cell asc (ivfAssign's tie-break).
    */
  private def cellOrderSql(v: String) =
    s"${dotSql(s"$v.embedding", "s.svec")} / ($v.nrm * s.snrm) DESC, s.cell ASC"

  /** Oracle twin of seedCentroids + ivfAssign over the norm CTE
    * `v$sfx`: `seeds$sfx` (cell = vec_id for vec_id % SEEDMOD = 0) and
    * `assign$sfx` (vec_id, cell), each vector's rank-1 cell.
    */
  private def ivfAssignCtes(sfx: String = "", materialized: Boolean = false) = {
    val v = s"v$sfx"
    s"""seeds$sfx AS (
        SELECT CAST(vec_id AS BIGINT) AS cell, embedding AS svec, nrm AS snrm
        FROM $v WHERE vec_id % $SEEDMOD = 0),
      assign$sfx AS ${if (materialized) "MATERIALIZED " else ""}(
        SELECT vec_id, cell FROM (
          SELECT $v.vec_id, s.cell,
            row_number() OVER (PARTITION BY $v.vec_id
              ORDER BY ${cellOrderSql(v)}) AS rn
          FROM $v CROSS JOIN seeds$sfx s) WHERE rn = 1)"""
  }

  /** Oracle twin of [[Similarity.ivfProbe]] over [[ivfAssignCtes]]'
    * CTEs: `name`(query_id, the `carry` aliases, cell, and rn if
    * `keepRn`), the top-`nprobe` cells of each query vec_id % `qmod`
    * = 0. `carry` pairs an alias with its expression over `v$sfx`.
    */
  private def ivfProbeCte(qmod: Int, nprobe: Int, sfx: String = "",
      name: String = "probe", carry: Seq[(String, String)] = Nil,
      keepRn: Boolean = false) = {
    val v = s"v$sfx"
    val cols = (("query_id" +: carry.map(_._1)) :+ "cell") ++
      (if (keepRn) Seq("rn") else Nil)
    val carried = carry.map { case (a, e) => s"$e AS $a, " }.mkString
    s"""$name AS (
        SELECT ${cols.mkString(", ")} FROM (
          SELECT $v.vec_id AS query_id, ${carried}s.cell,
            row_number() OVER (PARTITION BY $v.vec_id
              ORDER BY ${cellOrderSql(v)}) AS rn
          FROM $v CROSS JOIN seeds$sfx s WHERE $v.vec_id % $qmod = 0)
        WHERE rn <= $nprobe)"""
  }

  private val q53 = Q(
    "q53_ann_ivf_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.ivfTopK(t.embeddings, queries, "vec_id", "embedding",
        SEEDMOD, NPROBE, K)
        .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
          pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      ${ivfProbeCte(QMOD, NPROBE)},
      scored AS (
        SELECT p.query_id, p.cell, a.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM probe p
        JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = a.vec_id)
      SELECT query_id, cell, rank, corpus_id, ${proundSql("cosine", 6)} AS cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $K
      ORDER BY query_id, rank"""))

  // -- V6: semantic dedup (SemDeDup) — IVF-cell partition, then drop
  //    any vector within SDTAU cosine of a lower-id vector in the SAME
  //    cell. Pairwise work is confined to cells (shuffle key = cell id,
  //    per-task cost O(max cell²) — the 100 TB dedup shape next to
  //    MinHash-LSH for text). Survivors keep their cell id. ------------
  private val SDTAU = 0.4
  private val q75 = Q(
    "q75_semantic_dedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      Similarity.semanticDedup(t.embeddings, "vec_id", "embedding",
          SEEDMOD, SDTAU)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      m AS (
        SELECT a.vec_id, a.cell, v.embedding, v.nrm
        FROM assign a JOIN v USING (vec_id)),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SDTAU)
      SELECT m.vec_id, m.cell FROM m
      LEFT JOIN dropped d ON m.vec_id = d.vec_id
      WHERE d.vec_id IS NULL
      ORDER BY m.vec_id"""))

  // -- V7: semantic dedup with the production defaults — √n-sized cell
  //    count (seedMod = 0 → nlist ≈ √n, the measured sizing rule that
  //    keeps assignment and probe work balanced at ANY corpus size) and
  //    nprobe = 2 (each vector's top-2 cells feed pair generation, so
  //    near-dups straddling one cell boundary are compared; survivors
  //    keep their top-1 cell). The oracle recomputes √n as a scalar
  //    subquery, so this row stays oracle-gated at every SF the sweep
  //    runs — proof the auto default and the recall knob agree with the
  //    pinned-seed q75 dataflow, not just with themselves. -------------
  private val q90 = Q(
    "q90_semantic_dedup_auto",
    (s, dir) => {
      val t = Tpch(s, dir)
      Similarity.semanticDedup(t.embeddings, "vec_id", "embedding",
          seedMod = 0, SDTAU, nprobe = 2)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH ${normCte("v")},
      mcte AS (
        SELECT GREATEST(CAST(round(sqrt(count(*))) AS BIGINT), 1) AS m
        FROM embeddings),
      seeds AS (
        SELECT CAST(vec_id AS BIGINT) AS cell, embedding AS svec, nrm AS snrm
        FROM v, mcte WHERE vec_id % mcte.m = 0),
      ranked AS (
        SELECT v.vec_id, s.cell,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY ${dotSql("v.embedding", "s.svec")} / (v.nrm * s.snrm) DESC,
              s.cell ASC) AS rn
        FROM v CROSS JOIN seeds s),
      assign1 AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
      probed AS (
        SELECT r.vec_id, r.cell, v.embedding, v.nrm
        FROM (SELECT vec_id, cell FROM ranked WHERE rn <= 2) r
        JOIN v USING (vec_id)),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM probed a JOIN probed b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SDTAU)
      SELECT a1.vec_id, a1.cell FROM assign1 a1
      LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      WHERE d.vec_id IS NULL
      ORDER BY a1.vec_id"""))

  // -- V8/V9: product quantization — compressed-corpus ANN -------------
  //    Codebooks are deterministic (subvectors of every seedMod-th
  //    vector, like the IVF seed centroids); encode = per-subspace
  //    L2 arg-min via the fold-exact identity ‖s−c‖² = ss − 2sc + cc;
  //    ADC top-k scores the corpus from its CODES only. Per-vector
  //    sums are order-pinned folds over sub (bare SUM of doubles is
  //    accumulation-order-dependent), so everything is bit-exact.
  private val PQ_M = 8
  private val PQ_K = 5
  private val PQ_QMOD = 50

  /** Shared oracle CTEs: subspace split, √n codebook (same scalar-
    * subquery sizing as q90's auto-IVF oracle), encoded corpus. */
  private def pqBaseSql = s"""
      subs AS (
        SELECT vec_id, sub,
          embedding[(sub * sl + 1):(sub * sl + sl)] AS svec
        FROM (SELECT vec_id, embedding,
                CAST(len(embedding) // $PQ_M AS INT) AS sl,
                unnest(generate_series(0, ${PQ_M - 1})) AS sub
              FROM embeddings)),
      smcte AS (
        SELECT GREATEST(CAST(round(sqrt(count(*))) AS BIGINT), 1) AS sm
        FROM embeddings),
      codebook AS (
        SELECT sub, CAST(vec_id AS BIGINT) AS cw, svec AS cvec,
          ${norm2Sql("svec")} AS cc
        FROM subs, smcte WHERE vec_id % smcte.sm = 0),
      scored_cw AS (
        SELECT s.vec_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS sdist
        FROM subs s JOIN codebook c USING (sub)),
      enc AS (
        SELECT vec_id, sub, cw, sdist FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY sdist ASC, cw ASC) AS rn
          FROM scored_cw)
        WHERE rn = 1)"""

  /** PQ/ADC top-`k` of `queries` over the √n-donor codebook: q101's
    * index, the PQ rung of the recall queries.
    */
  private def pqTopK(emb: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", PQ_M,
      seedMod = 0)
    Similarity.pqAdcTopK(
      Similarity.pqEncode(emb, "vec_id", "embedding", PQ_M, cb),
      queries, "vec_id", "embedding", PQ_M, cb, k)
  }

  /** Oracle PQ/ADC top-`k` over [[pqBaseSql]]: per-query subspace
    * distance tables (`adc`), order-pinned code sums (`dists`), and
    * the cut (`cols`) in `name`.
    */
  private def pqAdcCtes(name: String, cols: String, k: Int) = s"""adc AS (
        SELECT s.vec_id AS query_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS qd
        FROM subs s JOIN codebook c USING (sub)
        WHERE s.vec_id % $QMOD = 0),
      dists AS (
        SELECT a.query_id, e.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
        FROM enc e JOIN adc a ON e.sub = a.sub AND e.cw = a.cw
        WHERE a.query_id != e.vec_id
        GROUP BY a.query_id, e.vec_id),
      $name AS (
        ${rankCutSql(cols, "dists", "adist ASC", k)})"""

  private val q100 = Q(
    "q100_pq_encode",
    (s, dir) => {
      val t = Tpch(s, dir)
      val cb = Similarity.pqCodebooks(
        t.embeddings, "vec_id", "embedding", PQ_M, seedMod = 0)
      val enc = Similarity.pqEncode(t.embeddings, "vec_id", "embedding", PQ_M, cb)
      val codeCols = (0 until PQ_M).map(i =>
        max(when(col("sub") === i, col("cw"))).as(s"c$i"))
      enc.groupBy(col("vec_id"))
        .agg(codeCols.head, codeCols.tail :+
          pround(Similarity.foldBySub(col("sdist")), 6).as("recon_err"): _*)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH ${pqBaseSql}
      SELECT vec_id,
        ${(0 until PQ_M).map(i =>
          s"max(CASE WHEN sub = $i THEN cw END) AS c$i").mkString(", ")},
        ${proundSql(
          """list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(sdist ORDER BY sub)), (x, y) -> x + y)""", 6)} AS recon_err
      FROM enc
      GROUP BY vec_id
      ORDER BY vec_id"""))

  private val q101 = Q(
    "q101_pq_adc_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % PQ_QMOD === 0)
      pqTopK(t.embeddings, queries, PQ_K)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          pround(col("adist"), 6).as("adist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${pqBaseSql},
      adc AS (
        SELECT s.vec_id AS query_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS qd
        FROM subs s JOIN codebook c USING (sub)
        WHERE s.vec_id % $PQ_QMOD = 0),
      dists AS (
        SELECT a.query_id, e.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
        FROM enc e JOIN adc a ON e.sub = a.sub AND e.cw = a.cw
        WHERE a.query_id != e.vec_id
        GROUP BY a.query_id, e.vec_id)
      SELECT query_id, rank, corpus_id, ${proundSql("adist", 6)} AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, corpus_id ASC) AS rank FROM dists)
      WHERE rank <= $PQ_K
      ORDER BY query_id, rank"""))

  // -- V10: deterministic Lloyd k-means (operators.KMeans) — the
  //    centroid TRAINER next to the centroid CONSUMERS (IVF, SemDeDup,
  //    PQ). Iterative, yet oracle-verifiable: seeded hash init, exact
  //    decimal distance sums (fold-order-free argmin), 6-decimal
  //    centroid state between iterations. The oracle unrolls the same
  //    three iterations as CTE stages. ------------------------------
  private val KM_K = 8
  private val KM_ITERS = 3
  private val KM_DIMS = 64
  private val KM_OUT = 8
  private val q102 = Q(
    "q102_kmeans_fit",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.KMeans.fit(
        t.embeddings, "vec_id", "embedding", KM_K, KM_ITERS, KM_OUT)
    },
    Some {
      val iterCtes = (1 to KM_ITERS).map { i =>
        s"""dist$i AS (
          SELECT e.vec_id, c.cluster,
            sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
          FROM ev e JOIN cent${i - 1} c USING (pos)
          GROUP BY e.vec_id, c.cluster),
        asg$i AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cluster) AS rk
            FROM dist$i) WHERE rk = 1),
        mean$i AS (
          SELECT a.cluster, e.pos, count(*) AS n_vecs,
            ${proundSql(
              "CAST(sum(CAST(e.v AS DECIMAL(28,8))) AS DOUBLE) / count(*)",
              6)} AS mean_v
          FROM asg$i a JOIN ev e USING (vec_id)
          GROUP BY a.cluster, e.pos),
        cent$i AS (
          SELECT cluster, pos, mean_v AS c FROM mean$i
          UNION ALL
          SELECT p.cluster, p.pos, p.c FROM cent${i - 1} p
          WHERE p.cluster NOT IN (SELECT cluster FROM mean$i))"""
      }.mkString(",\n        ")
      s"""WITH ev AS (
        SELECT vec_id, pos, CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${KM_DIMS - 1})) AS pos)),
      seed AS (
        SELECT vec_id, row_number() OVER (
            ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007,
              vec_id) - 1 AS cluster
        FROM embeddings),
      cent0 AS (
        SELECT s.cluster, e.pos, e.v AS c
        FROM seed s JOIN ev e USING (vec_id)
        WHERE s.cluster < $KM_K),
      $iterCtes
      SELECT cluster, pos, n_vecs, mean_v
      FROM mean$KM_ITERS
      WHERE pos < $KM_OUT
      ORDER BY cluster, pos"""
    })

  // -- V10b: SemDeDup (Dedup.semDeDup) — embedding-CLUSTER semantic
  //    dedup (Abbas et al. 2023): TRAINED Lloyd centroids (q102's
  //    exact-decimal k-means, not q75's one-shot seed cells), exact
  //    cosine pairs confined to clusters, connected semantic groups,
  //    keep-farthest-from-centroid survivor rule ranked on the exact
  //    DECIMAL(38,8) distance. The oracle unrolls the same two Lloyd
  //    rounds as CTE stages (q102's text), assigns with the same
  //    decimal argmin, and replays pairs → recursive-CTE components →
  //    the d2-DESC survivor window. A wrong centroid round, argmin
  //    tie, cluster confinement, or survivor rank diverges. ----------
  private[queries] val SD_K = 8
  private[queries] val SD_ITERS = 2
  private[queries] val SD2_TAU = 0.4

  /** Oracle CTE fragment (no WITH prefix) replaying SemDeDup's pair
    * generation: unrolled Lloyd rounds (q102's text), exact-decimal
    * assignment argmin, fold-double distance to the assigned
    * centroid, and the within-cluster cosine pair set, ending in
    * `sd_prs(p1, p2)` / `sd_m(vec_id, cluster, d2, embedding, nrm)`.
    * `sd_`-prefixed so q203's matrix row can splice it next to the
    * MinHash pipeline CTEs without name collisions.
    */
  private[queries] lazy val semDeDupPairCtes: String = {
    val iterCtes = (1 to SD_ITERS).map { i =>
      s"""sd_dist$i AS (
        SELECT e.vec_id, c.cluster,
          sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
        FROM sd_ev e JOIN sd_cent${i - 1} c USING (pos)
        GROUP BY e.vec_id, c.cluster),
      sd_asg$i AS (
        SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cluster) AS rk
          FROM sd_dist$i) WHERE rk = 1),
      sd_mean$i AS (
        SELECT a.cluster, e.pos, count(*) AS n_vecs,
          ${proundSql(
            "CAST(sum(CAST(e.v AS DECIMAL(28,8))) AS DOUBLE) / count(*)",
            6)} AS mean_v
        FROM sd_asg$i a JOIN sd_ev e USING (vec_id)
        GROUP BY a.cluster, e.pos),
      sd_cent$i AS (
        SELECT cluster, pos, mean_v AS c FROM sd_mean$i
        UNION ALL
        SELECT p.cluster, p.pos, p.c FROM sd_cent${i - 1} p
        WHERE p.cluster NOT IN (SELECT cluster FROM sd_mean$i))"""
    }.mkString(",\n      ")
    val fin = SD_ITERS + 1
    s"""sd_ev AS (
      SELECT vec_id, pos, CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS pos)),
    sd_seed AS (
      SELECT vec_id, row_number() OVER (
          ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007,
            vec_id) - 1 AS cluster
      FROM embeddings),
    sd_cent0 AS (
      SELECT s.cluster, e.pos, e.v AS c
      FROM sd_seed s JOIN sd_ev e USING (vec_id)
      WHERE s.cluster < $SD_K),
    $iterCtes,
    sd_dist$fin AS (
      SELECT e.vec_id, c.cluster,
        sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
      FROM sd_ev e JOIN sd_cent$SD_ITERS c USING (pos)
      GROUP BY e.vec_id, c.cluster),
    sd_asg AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, cluster) AS rk
        FROM sd_dist$fin) WHERE rk = 1),
    sd_cv AS (
      SELECT cluster, list(c ORDER BY pos) AS cvec
      FROM sd_cent$SD_ITERS GROUP BY cluster),
    ${normCte("sd_v")},
    sd_m AS MATERIALIZED (
      SELECT a.vec_id, a.cluster,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(list_zip(v.embedding, cv.cvec),
            pr -> (CAST(pr[1] AS DOUBLE) - pr[2])
                * (CAST(pr[1] AS DOUBLE) - pr[2]))),
          (x, y) -> x + y) AS d2,
        v.embedding, v.nrm
      FROM sd_asg a JOIN sd_v v USING (vec_id) JOIN sd_cv cv USING (cluster)),
    sd_prs AS MATERIALIZED (
      SELECT a.vec_id AS p1, b.vec_id AS p2
      FROM sd_m a JOIN sd_m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
        >= $SD2_TAU)"""
  }

  private val q202 = Q(
    "q202_semdedup",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Dedup.semDeDup(t.embeddings, "vec_id", "embedding",
          SD_K, SD_ITERS, SD2_TAU)
        .select(col("vec_id"), col("cluster"),
          pround(col("d2c").cast("double"), 6).as("d2c"),
          col("component"), col("n_group").cast("long").as("n_group"),
          col("keep"), col("kept_by"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE $semDeDupPairCtes,
      undirected(a, b) AS (
        SELECT p1, p2 FROM sd_prs UNION SELECT p2, p1 FROM sd_prs),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      labels AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
      lab AS (
        SELECT m.vec_id, m.cluster, m.d2,
          coalesce(l.component, m.vec_id) AS component
        FROM sd_m m LEFT JOIN labels l ON l.node = m.vec_id),
      ranked AS (
        SELECT vec_id, cluster, d2, component,
          row_number() OVER (PARTITION BY component
            ORDER BY d2 DESC, vec_id ASC) AS rk,
          count(*) OVER (PARTITION BY component) AS n_group
        FROM lab),
      kept AS (SELECT component, vec_id AS kept_by FROM ranked WHERE rk = 1)
      SELECT r.vec_id, r.cluster,
        ${proundSql("CAST(r.d2 AS DOUBLE)", 6)} AS d2c,
        r.component, CAST(r.n_group AS BIGINT) AS n_group,
        CASE WHEN r.rk = 1 THEN 1 ELSE 0 END AS keep, k.kept_by
      FROM ranked r JOIN kept k USING (component)
      ORDER BY r.vec_id"""))

  // -- V10b2: SOFT dedup weights — the downweight-instead-of-drop
  //    alternative to q202's hard survivor rule (the modern soft-dedup
  //    recipe: a document in a semantic group of size g trains with
  //    weight 1/g, so duplicated content contributes ONE group's worth
  //    of gradient mass instead of g copies'). Per label: vectors,
  //    groups touched, effective sample size Σ 1/g (fractional when
  //    groups straddle labels), and the inflation ratio n/eff — the
  //    measured "how over-counted is this slice" number a mixture
  //    planner reads. Weights are 1/g doubles pround'd to the 1e-8
  //    grid BEFORE the decimal-sum (the q204 portable recipe).
  private val q210 = Q(
    "q210_soft_dedup_weights",
    (s, dir) => {
      val t = Tpch(s, dir)
      val sem = graft.operators.Dedup.semDeDup(t.embeddings, "vec_id",
        "embedding", SD_K, SD_ITERS, SD2_TAU)
      val w = pround(lit(1.0) / col("n_group").cast("double"), 8)
        .cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(28, 8))
      sem.join(t.embeddings.select(col("vec_id"), col("label")), "vec_id")
        .withColumn("w", w)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("component")).as("n_groups"),
          pround(sum(col("w")).cast("double"), 4).as("effective_n"))
        .select(col("label"), col("n_vecs"), col("n_groups"),
          col("effective_n"),
          pround(col("n_vecs").cast("double") / col("effective_n"), 4)
            .as("inflation"))
        .orderBy(col("label"))
    },
    Some(s"""WITH RECURSIVE $semDeDupPairCtes,
      undirected(a, b) AS (
        SELECT p1, p2 FROM sd_prs UNION SELECT p2, p1 FROM sd_prs),
      reach(a, b) AS (
        SELECT a, b FROM undirected
        UNION
        SELECT r.a, u.b FROM reach r JOIN undirected u ON r.b = u.a),
      lbls AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
      lab AS (
        SELECT m.vec_id, coalesce(l.component, m.vec_id) AS component
        FROM sd_m m LEFT JOIN lbls l ON l.node = m.vec_id),
      grp AS (
        SELECT component, count(*) AS g FROM lab GROUP BY component),
      wv AS (
        SELECT e.label, lab.component,
          CAST(${proundSql("1.0 / grp.g", 8)} AS DECIMAL(28,8)) AS w
        FROM lab JOIN grp USING (component)
        JOIN embeddings e ON e.vec_id = lab.vec_id)
      SELECT label, count(*) AS n_vecs,
        CAST(count(DISTINCT component) AS BIGINT) AS n_groups,
        ${proundSql("CAST(sum(w) AS DOUBLE)", 4)} AS effective_n,
        ${proundSql(
          s"""CAST(count(*) AS DOUBLE)
            / (${proundSql("CAST(sum(w) AS DOUBLE)", 4)})""", 4)}
          AS inflation
      FROM wv GROUP BY label
      ORDER BY label"""))

  // -- V11: GRAPH-ANN rung — bounded-degree NSW-style beam search
  //    (Similarity.nswTopK), the index family the ladder lacked next
  //    to LSH/IVF/SQ8/PQ/BIN. Construction is deterministic (vector →
  //    its NSW_DEG nearest smaller-id cell members, undirected);
  //    search = NSW_HOPS synchronous beam rounds per probed cell from
  //    the cell's lowest-id entry. The oracle replays the edge build
  //    as a within-cell window and UNROLLS the beam rounds as CTE
  //    stages (the q107/q202 fixed-round discipline); the answer
  //    ranks every node scored during the walk. A wrong edge prune,
  //    beam truncation, entry pick, or hop count diverges. ----------
  private val NSW_DEG = 3
  private val NSW_BEAM = 4
  private val NSW_HOPS = 2
  /** Oracle CTE fragment (no WITH prefix) replaying the NSW build +
    * walk, ending in `vis(query_id, cell, corpus_id, cosine)` — every
    * node the walk scored, deduped, self rows still present (filtered
    * at use sites). Shared by q214 (top-k) and q216 (the efficiency
    * matrix, which also needs |vis| as the measured cost).
    */
  private lazy val nswCtes: String = {
      val hopCtes = (1 to NSW_HOPS).map { h =>
        s"""x$h AS MATERIALIZED (
          SELECT f.query_id, f.cell, ed.dst AS corpus_id,
            ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
              AS cosine
          FROM f${h - 1} f
          JOIN edges ed ON ed.cell = f.cell AND ed.src = f.corpus_id
          JOIN v q ON q.vec_id = f.query_id
          JOIN v c ON c.vec_id = ed.dst),
        f$h AS MATERIALIZED (
          SELECT query_id, cell, corpus_id, cosine FROM (
            SELECT u.*, row_number() OVER (PARTITION BY query_id, cell
                ORDER BY cosine DESC, corpus_id ASC) AS rn
            FROM (SELECT DISTINCT * FROM (
              SELECT * FROM f${h - 1} UNION ALL SELECT * FROM x$h)) u)
          WHERE rn <= $NSW_BEAM)"""
      }.mkString(",\n      ")
      val visUnion = (1 to NSW_HOPS).map(h => s"SELECT * FROM x$h")
        .mkString("SELECT * FROM f0 UNION ALL ", " UNION ALL ", "")
      s"""${normCte("v")},
      ${ivfAssignCtes()},
      m AS MATERIALIZED (
        SELECT a.vec_id, a.cell, v.embedding, v.nrm
        FROM assign a JOIN v USING (vec_id)),
      edir AS MATERIALIZED (
        SELECT cell, src, dst FROM (
          SELECT a.cell, a.vec_id AS src, b.vec_id AS dst,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY ${dotSql("a.embedding", "b.embedding")}
                  / (a.nrm * b.nrm) DESC,
                b.vec_id ASC) AS rn
          FROM m a JOIN m b ON a.cell = b.cell AND b.vec_id < a.vec_id)
        WHERE rn <= $NSW_DEG),
      edges AS MATERIALIZED (
        SELECT cell, src, dst FROM edir
        UNION ALL SELECT cell, dst AS src, src AS dst FROM edir),
      ${ivfProbeCte(QMOD, NPROBE)},
      entry AS MATERIALIZED (
        SELECT cell, min(vec_id) AS node FROM m GROUP BY cell),
      f0 AS MATERIALIZED (
        SELECT p.query_id, p.cell, e.node AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
            AS cosine
        FROM probe p JOIN entry e USING (cell)
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = e.node),
      $hopCtes,
      vis AS MATERIALIZED (
        SELECT DISTINCT query_id, cell, corpus_id, cosine
        FROM ($visUnion))"""
  }

  private val q214 = Q(
    "q214_nsw_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.nswTopK(t.embeddings, queries, "vec_id", "embedding",
          SEEDMOD, NPROBE, NSW_DEG, NSW_BEAM, NSW_HOPS, K)
        .select(col("query_id"), col("rank"), col("cell"), col("corpus_id"),
          pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $nswCtes
      SELECT query_id, rank, cell, corpus_id,
        ${proundSql("cosine", 6)} AS cosine
      FROM (
        SELECT query_id, cell, corpus_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM vis WHERE corpus_id != query_id)
      WHERE rank <= $K
      ORDER BY query_id, rank"""))

  // -- V11b: NSW recall rung — the graph walk's recall@K against the
  //    brute exact baseline, the q149-family recall-vs-cost number
  //    for the graph index (scored candidates per query is
  //    O(hops·beam·degree), vs nprobe/nlist of the corpus for IVF).
  private val q215 = Q(
    "q215_nsw_recall",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val nsw = Similarity.nswTopK(t.embeddings, queries, "vec_id",
          "embedding", SEEDMOD, NPROBE, NSW_DEG, NSW_BEAM, NSW_HOPS, K)
        .select(col("query_id"), col("corpus_id")).localCheckpoint(true)
      val exact = exactTopK(t.embeddings, queries, K)
      val nq = queries.count()
      val hits = hitCount(nsw, exact)
      Seq(("nsw", K, nq, hits,
          BigDecimal(hits) / BigDecimal(K * nq)))
        .toDF("method", "k", "n_queries", "n_hits", "recall")
        .select(col("method"), col("k"), col("n_queries"), col("n_hits"),
          pround(col("recall").cast("double"), 6).as("recall"))
    },
    Some(s"""WITH ${bruteExactCte()},
      nsw AS (SELECT query_id, corpus_id
        FROM (${q214.oracle.get})),
      hits AS (
        SELECT count(*) AS n_hits
        FROM nsw JOIN exact USING (query_id, corpus_id)),
      nq AS (SELECT count(*) AS n
        FROM embeddings WHERE vec_id % $QMOD = 0)
      SELECT 'nsw' AS method, CAST($K AS INT) AS k,
        CAST(nq.n AS BIGINT) AS n_queries,
        CAST(hits.n_hits AS BIGINT) AS n_hits,
        ${proundSql(s"CAST(hits.n_hits AS DOUBLE) / ($K * nq.n)", 6)}
          AS recall
      FROM hits, nq"""))

  // -- V11d: HNSW hierarchy rung (Similarity.hnswScored) — q214's
  //    per-cell graph with an UPPER LAYER: the promoted subset
  //    (vec_id % 2 = 0, the trailing-bit geometric level rule) gets
  //    its own bounded-degree graph; a greedy beam-1 walk on it picks
  //    layer 0's entry (default lowest-id entry as fallback), then
  //    the usual beam walk runs. The hierarchy is the entry-QUALITY
  //    knob, orthogonal to beam/hops; this row measures it against
  //    the flat walk on BOTH axes (recall@K, candidates scored) at
  //    identical layer-0 budget. -----------------------------------------
  private val HNSW_UP = 2
  // the 2-layer arm's level-0 beam: measured at BOTH sf0.01 and sf0.1
  // (dev.HnswProbe grid), levels=2 with a NARROWER level-0 beam
  // dominates the 1-layer arm on both axes — recall 0.94 vs 0.92 at
  // 370 vs 403 scored (sf0.01), 0.89 vs 0.885 at 1515 vs 1680
  // (sf0.1): the log-layered descent buys entry quality that a wider
  // beam was paying for in scored candidates
  private val H2_BEAM = 2
  private val H2_LEVELS = 2

  /** Oracle CTE builder extending [[nswCtes]] (which ends in the flat
    * walk's `vis` and exposes the shared v/m/probe/edges/f0): replays
    * [[Similarity.hnswScored]] at `levels` upper layers — per layer
    * l = levels..1 the promoted subset (vec_id % 2^l = 0), its
    * bounded-degree graph, the greedy (width-1) `upHops`-round walk
    * whose start is the layer's lowest-id entry (top layer) or the
    * best node found above vs that layer's own entry as fallback
    * (lower layers) — then the layer-0 entry pick against the default
    * entry and the usual `lowBeam`-wide `lowHops`-round walk. Ends in
    * `$visName(query_id, cell, corpus_id, cosine)`, the hierarchy
    * walk's deduped self-inclusive scored frame. Every generated CTE
    * is `$pfx`-prefixed so multiple arms splice into one statement.
    */
  private def hnswLayerCtes(pfx: String, levels: Int, upHops: Int,
      lowHops: Int, lowBeam: Int, visName: String): String = {
    def walkCtes(base: String, f0Name: String, edges: String, hops: Int,
        width: Int): String = (1 to hops).map { h =>
      val prev = if (h == 1) f0Name else s"${base}f${h - 1}"
      s"""${base}x$h AS MATERIALIZED (
        SELECT f.query_id, f.cell, ed.dst AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
            AS cosine
        FROM $prev f
        JOIN $edges ed ON ed.cell = f.cell AND ed.src = f.corpus_id
        JOIN v q ON q.vec_id = f.query_id
        JOIN v c ON c.vec_id = ed.dst),
      ${base}f$h AS MATERIALIZED (
        SELECT query_id, cell, corpus_id, cosine FROM (
          SELECT w.*, row_number() OVER (PARTITION BY query_id, cell
              ORDER BY cosine DESC, corpus_id ASC) AS rn
          FROM (SELECT DISTINCT * FROM (
            SELECT * FROM $prev UNION ALL SELECT * FROM ${base}x$h)) w)
        WHERE rn <= $width)"""
    }.mkString(",\n      ")
    def walkVis(base: String, f0Name: String, hops: Int): String =
      (1 to hops).map(h => s"SELECT * FROM ${base}x$h")
        .mkString(s"SELECT * FROM $f0Name UNION ALL ", " UNION ALL ", "")
    // accumulate upper-layer CTEs top-down; `aboveVis` is the union of
    // every strictly-higher layer's visited rows (start + expands)
    var aboveVis: Option[String] = None
    val layerCtes = (levels to 1 by -1).map { l =>
      val lp = s"${pfx}l$l"
      val promoted =
        s"""${lp}p AS MATERIALIZED (
          SELECT * FROM m WHERE vec_id % ${1L << l} = 0),
        ${lp}edir AS MATERIALIZED (
          SELECT cell, src, dst FROM (
            SELECT a.cell, a.vec_id AS src, b.vec_id AS dst,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY ${dotSql("a.embedding", "b.embedding")}
                    / (a.nrm * b.nrm) DESC,
                  b.vec_id ASC) AS rn
            FROM ${lp}p a
            JOIN ${lp}p b ON a.cell = b.cell AND b.vec_id < a.vec_id)
          WHERE rn <= $NSW_DEG),
        ${lp}e AS MATERIALIZED (
          SELECT cell, src, dst FROM ${lp}edir
          UNION ALL SELECT cell, dst AS src, src AS dst FROM ${lp}edir),
        ${lp}ent AS MATERIALIZED (
          SELECT cell, min(vec_id) AS node FROM ${lp}p GROUP BY cell),
        ${lp}fb AS MATERIALIZED (
          SELECT p.query_id, p.cell, e.node AS corpus_id,
            ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
              AS cosine
          FROM probe p JOIN ${lp}ent e USING (cell)
          JOIN v q ON q.vec_id = p.query_id
          JOIN v c ON c.vec_id = e.node)"""
      val start = aboveVis match {
        case None => s"""${lp}f0 AS MATERIALIZED (SELECT * FROM ${lp}fb)"""
        case Some(av) =>
          s"""${lp}f0 AS MATERIALIZED (
            SELECT query_id, cell, corpus_id, cosine FROM (
              SELECT w.*, row_number() OVER (PARTITION BY query_id, cell
                  ORDER BY cosine DESC, corpus_id ASC) AS rn
              FROM (SELECT DISTINCT * FROM (
                $av UNION ALL SELECT * FROM ${lp}fb)) w)
            WHERE rn <= 1)"""
      }
      val walk = walkCtes(lp, s"${lp}f0", s"${lp}e", upHops, 1)
      val thisVis = walkVis(lp, s"${lp}f0", upHops)
      aboveVis = Some(aboveVis.map(av => s"$av UNION ALL $thisVis")
        .getOrElse(thisVis))
      s"$promoted,\n      $start,\n      $walk"
    }.mkString(",\n      ")
    val upVis = aboveVis.get
    val g0 =
      s"""${pfx}gf0 AS MATERIALIZED (
        SELECT query_id, cell, corpus_id, cosine FROM (
          SELECT w.*, row_number() OVER (PARTITION BY query_id, cell
              ORDER BY cosine DESC, corpus_id ASC) AS rn
          FROM (SELECT DISTINCT * FROM (
            $upVis UNION ALL SELECT * FROM f0)) w)
        WHERE rn <= 1)"""
    val lowWalk = walkCtes(s"${pfx}g", s"${pfx}gf0", "edges",
      lowHops, lowBeam)
    val lowVis = walkVis(s"${pfx}g", s"${pfx}gf0", lowHops)
    s"""$layerCtes,
      $g0,
      $lowWalk,
      $visName AS MATERIALIZED (
        SELECT DISTINCT query_id, cell, corpus_id, cosine
        FROM ($upVis UNION ALL SELECT * FROM f0 UNION ALL $lowVis))"""
  }

  /** The 1-upper-layer hierarchy fragment (the `hnsw` arm). */
  private lazy val hnswCtes: String =
    hnswLayerCtes("h1", 1, HNSW_UP, NSW_HOPS, NSW_BEAM, "hvis")

  private val q227 = Q(
    "q227_hnsw_vs_nsw",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val nq = queries.count()
      val exact = exactTopK(t.embeddings, queries, K)
      def arm(name: String, vis: DataFrame) = {
        val v = vis.localCheckpoint(true)
        val hits = hitCount(cosineTopK(v, K), exact)
        (name, nq, v.count(), hits, hits.toDouble / (K * nq))
      }
      // one shared scaffold for all three arms: the cell assignment,
      // probe ranking, and each layer's edge graph are identical
      // deterministic structures, previously rebuilt per arm (the
      // level-0 graph three times, the l=1 graph twice)
      val sc = Similarity.walkScaffold(t.embeddings, queries, "vec_id",
        "embedding", SEEDMOD, NPROBE)
      val edges0 = Similarity.levelEdges(sc, NSW_DEG, 0)
      val edgesL = (1 to H2_LEVELS)
        .map(l => l -> Similarity.levelEdges(sc, NSW_DEG, l)).toMap
      Overlap.all(Seq(
        () => arm("hnsw", Similarity.hnswScoredOn(sc, edges0, edgesL,
          NSW_BEAM, NSW_HOPS, HNSW_UP, 1)),
        // the log-layered arm: 2 upper layers, NARROWER level-0 beam —
        // strictly fewer scored candidates at ≥ the 1-layer recall
        // (the H2_BEAM measurement note)
        () => arm("hnsw2", Similarity.hnswScoredOn(sc, edges0, edgesL,
          H2_BEAM, NSW_HOPS, HNSW_UP, H2_LEVELS)),
        () => arm("nsw", Similarity.nswScoredOn(sc, edges0,
          NSW_BEAM, NSW_HOPS))))
        .toDF("method", "n_queries", "n_scored", "n_hits", "recall")
        .select(col("method"), col("n_queries"), col("n_scored"),
          col("n_hits"), pround(col("recall"), 6).as("recall"))
        .orderBy(col("method"))
    },
    Some {
      // |top-K of the arm's scored set ∩ exact|
      def hits(vis: String) = s"""(SELECT count(*) FROM exact e JOIN (
            ${rkCutSql(s"$vis WHERE corpus_id != query_id")}) t
            ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)"""
      s"""WITH $nswCtes,
      $hnswCtes,
      ${hnswLayerCtes("h2", H2_LEVELS, HNSW_UP, NSW_HOPS, H2_BEAM,
        "h2vis")},
      nq AS (SELECT count(*) AS n
        FROM embeddings WHERE vec_id % $QMOD = 0),
      ${bruteExactCte(materialized = true)}
      SELECT method, CAST(nq.n AS BIGINT) AS n_queries,
        CAST(n_scored AS BIGINT) AS n_scored,
        CAST(n_hits AS BIGINT) AS n_hits,
        ${proundSql(s"CAST(n_hits AS DOUBLE) / ($K * nq.n)", 6)} AS recall
      FROM (
        SELECT 'hnsw' AS method,
          (SELECT count(*) FROM hvis WHERE corpus_id != query_id)
            AS n_scored,
          ${hits("hvis")}
            AS n_hits
        UNION ALL
        SELECT 'hnsw2',
          (SELECT count(*) FROM h2vis WHERE corpus_id != query_id),
          ${hits("h2vis")}
        UNION ALL
        SELECT 'nsw',
          (SELECT count(*) FROM vis WHERE corpus_id != query_id),
          ${hits("vis")})
      CROSS JOIN nq
      ORDER BY method"""
    })

  /** Oracle CTE fragment after [[nswCtes]]: the IVF arm's scored
    * candidates (`ivf_scored`) and the NSW walk's (`nsw_sc`), each with
    * its cosine top-K. Shared by q216 and q290.
    */
  private lazy val prunedTopCtes: String = s"""ivf_scored AS (
        SELECT p.query_id, a.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
            AS cosine
        FROM probe p
        JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = a.vec_id),
      ivf_top AS (
        ${rkCutSql("ivf_scored")}),
      nsw_sc AS (
        SELECT query_id, corpus_id, cosine FROM vis
        WHERE corpus_id != query_id),
      nsw_top AS (
        ${rkCutSql("nsw_sc")})"""

  // -- V11c: GRAPH-vs-IVF efficiency matrix — the two pruned index
  //    families at the SAME frozen cell structure, measured on both
  //    axes at once: recall@K against the brute exact baseline AND
  //    the measured cost (candidates actually scored per method —
  //    |probed cells| for IVF, |walk-visited nodes| for NSW). The
  //    recall ladders (q149/q165/q184/q193/q215) measure one method
  //    against its own exact baseline; this row answers "which PRUNER
  //    buys more recall per scored candidate" — the number an index
  //    chooser reads. ------------------------------------------------
  private val q216 = Q(
    "q216_graph_vs_ivf",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val nq = queries.count()
      val Seq(exact, nswVis, ivfAll) = Overlap.all(Seq(
        () => exactTopK(t.embeddings, queries, K),
        () => Similarity.nswScored(t.embeddings, queries, "vec_id",
            "embedding", SEEDMOD, NPROBE, NSW_DEG, NSW_BEAM, NSW_HOPS)
          .localCheckpoint(true),
        // k beyond any cell size keeps EVERY scored candidate — the IVF
        // arm's measured cost is this frame's row count
        () => Similarity.ivfTopK(t.embeddings, queries, "vec_id",
            "embedding", SEEDMOD, NPROBE, Int.MaxValue)
          .localCheckpoint(true)))
      def arm(name: String, nScored: Long, top: DataFrame) = {
        val hits = hitCount(top, exact)
        (name, nq, nScored, hits, hits.toDouble / (K * nq))
      }
      Seq(arm("ivf", ivfAll.count(), ivfAll.filter(col("rank") <= K)
            .select(col("query_id"), col("corpus_id"))),
          arm("nsw", nswVis.count(), cosineTopK(nswVis, K)))
        .toDF("method", "n_queries", "n_scored", "n_hits", "recall")
        .select(col("method"), col("n_queries"), col("n_scored"),
          col("n_hits"), pround(col("recall"), 6).as("recall"))
        .orderBy(col("method"))
    },
    Some(s"""WITH $nswCtes,
      $prunedTopCtes,
      ${bruteExactCte()},
      nq AS (SELECT count(*) AS n
        FROM embeddings WHERE vec_id % $QMOD = 0)
      SELECT method, CAST(nq.n AS BIGINT) AS n_queries,
        CAST(n_scored AS BIGINT) AS n_scored,
        CAST(n_hits AS BIGINT) AS n_hits,
        ${proundSql(s"CAST(n_hits AS DOUBLE) / ($K * nq.n)", 6)} AS recall
      FROM (
        SELECT 'ivf' AS method,
          (SELECT count(*) FROM ivf_scored) AS n_scored,
          (SELECT count(*) FROM ivf_top t JOIN exact e
            ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)
            AS n_hits
        UNION ALL
        SELECT 'nsw',
          (SELECT count(*) FROM nsw_sc),
          (SELECT count(*) FROM nsw_top t JOIN exact e
            ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id))
      CROSS JOIN nq
      ORDER BY method"""))

  /** All NBITS hyperplane projections as a SQL list — the multi-probe
    * margin signal (bucketSql takes these folds' signs).
    */
  private def projsSql(vecExpr: String): String =
    (0 until NBITS).map { j =>
      val plane =
        s"(CAST((($j + 1) * 2654435761 + i * 40503) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)"
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | list_transform(generate_series(0, CAST(len($vecExpr) AS BIGINT) - 1),
         |   i -> CAST($vecExpr[CAST(i + 1 AS INT)] AS DOUBLE) * $plane)),
         | (x, y) -> x + y)""".stripMargin
    }.mkString("[", ", ", "]")

  // -- V13: MULTI-PROBE LSH recall curve (Similarity.mpLshScored /
  //    mpLshTopK) — the recall knob the LSH rung lacked next to IVF's
  //    nprobe (q184): probe the query's own bucket plus the buckets
  //    reached by flipping the smallest-|projection| bits (Lv et al.
  //    2007's query-directed probing) — more recall per query WITHOUT
  //    multiplying stored hash tables. Measured on both axes like
  //    q216: recall@K against the brute exact baseline AND candidates
  //    actually scored per probe count. ---------------------------------
  private val MPL_PROBES = Seq(1, 2, 4)
  private val q224 = Q(
    "q224_multiprobe_lsh",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      // the probe set at np is BY CONSTRUCTION a prefix of the probe
      // set at max(np) (margins sorted once, flips a prefix slice), so
      // ONE scored frame at the largest probe count serves the whole
      // curve via probe_idx filters — one corpus scan + bucket join
      // instead of one per arm (guide §1.2 "don't compute things
      // twice"); the brute exact baseline overlaps with it
      val ((exact, nTotal), scAll) = Overlap(
        { val e = exactTopK(t.embeddings, queries, K); (e, e.count()) },
        Similarity.mpLshScoredIdx(t.embeddings, queries, "vec_id",
            "embedding", NBITS, MPL_PROBES.max)
          .localCheckpoint(true))
      val rows = MPL_PROBES.map { np =>
        val sc = scAll.filter(col("probe_idx") < np)
        val nScored = sc.count()
        val hits = hitCount(cosineTopK(sc, K), exact)
        (np, nScored, hits, nTotal, hits.toDouble / nTotal.toDouble)
      }
      rows.toDF("nprobe", "n_scored", "n_hits", "n_total", "recall")
        .select(col("nprobe"), col("n_scored"), col("n_hits"),
          col("n_total"), pround(col("recall"), 6).as("recall"))
        .orderBy(col("nprobe"))
    },
    Some {
      def probesCte(np: Int) = s"""
      pr$np AS (
        SELECT vec_id AS query_id,
          unnest(list_prepend(bucket,
            list_transform(list_slice(ms, 1, ${np - 1}),
              s -> xor(bucket, CAST(1 AS BIGINT) << s.j)))) AS probe
        FROM srt),
      sc$np AS MATERIALIZED (
        SELECT p.query_id, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
            AS cosine
        FROM pr$np p
        JOIN v c ON c.bucket = p.probe AND c.vec_id != p.query_id
        JOIN qv q ON q.vec_id = p.query_id)"""
      def arm(np: Int) = s"""
        SELECT $np AS nprobe,
          (SELECT CAST(count(*) AS BIGINT) FROM sc$np) AS n_scored,
          (SELECT CAST(count(*) AS BIGINT) FROM exact e JOIN (
            SELECT query_id, corpus_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, corpus_id ASC) AS rk
                  FROM sc$np)
            WHERE rk <= $K) m
            ON e.query_id = m.query_id AND e.corpus_id = m.corpus_id)
            AS n_hits,
          n_total
        FROM tot"""
      s"""WITH v AS MATERIALIZED (
        SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
          ${bucketSql("embedding")} AS bucket
        FROM embeddings),
      qv AS MATERIALIZED (
        SELECT vec_id, embedding, nrm, bucket,
          ${projsSql("embedding")} AS pr
        FROM v WHERE vec_id % $QMOD = 0),
      srt AS MATERIALIZED (
        SELECT vec_id, bucket,
          list_sort(list_transform(generate_series(0, ${NBITS - 1}),
            j -> struct_pack(m := abs(pr[CAST(j + 1 AS INT)]), j := j)))
            AS ms
        FROM qv),
      ${MPL_PROBES.map(probesCte).mkString(",")},
      ${bruteExactCte(materialized = true)},
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM exact)
      SELECT nprobe, n_scored, n_hits, n_total,
        ${proundSql("CAST(n_hits AS DOUBLE) / CAST(n_total AS DOUBLE)", 6)}
          AS recall
      FROM (${MPL_PROBES.map(arm).mkString(" UNION ALL ")})
      ORDER BY nprobe"""
    })

  // -- V12: PCA over the embedding corpus (operators/Pca) — exact
  //    covariance in ONE distributed pass (posexplode → vec_id-keyed
  //    self-join → partial-agg decimal sums), then a DETERMINISTIC
  //    driver-side power iteration with deflation on the collected
  //    d×d model (the KMeans bounded-state pattern). Every scalar the
  //    iteration touches is either an exact decimal-sum double or a
  //    sequential ascending fold, so the oracle replays the whole
  //    eigensolve: the same sums in SQL, the same 12 mat-vec/normalize
  //    stages unrolled as CTEs via list_reduce folds. A wrong
  //    covariance term, fold order, normalization point, Rayleigh
  //    quotient, or deflation expression diverges. ---------------------
  private val PCA_DIM = 64
  private val PCA_ITERS = 12

  /** Oracle CTE fragment (no WITH prefix) replaying
    * [[graft.operators.Pca.fit]] on `embeddings`: exact sums → cov →
    * 12 unrolled power-iteration stages per component (seeds e₀, e₁;
    * deflation between) — ends with `meanl(m)`, `tr(trace)`,
    * `v1_$PCA_ITERS(v)` / `v2_$PCA_ITERS(v)` (unit components) and
    * `lam1(lam)` / `lam2(lam)` (Rayleigh eigenvalues). Shared by q218
    * (the spectrum row) and q219 (the projection).
    */
  private lazy val pcaCtes: String = {
    def iterCtes(c: Int, mat: String): String =
      (1 to PCA_ITERS).map { i =>
        s"""w${c}_$i AS MATERIALIZED (
          SELECT m.j AS j, ${dotSql("m.cs", "p.v")} AS w
          FROM $mat m, v${c}_${i - 1} p),
        wl${c}_$i AS MATERIALIZED (SELECT list(w ORDER BY j) AS wl FROM w${c}_$i),
        v${c}_$i AS MATERIALIZED (
          SELECT list_transform(wl, x -> x / sqrt(${norm2Sql("wl")}))
            AS v
          FROM wl${c}_$i)"""
      }.mkString(",\n      ")
    def seed(c: Int, basis: Int): String =
      s"""v${c}_0 AS MATERIALIZED (
        SELECT list_transform(range(0, $PCA_DIM),
          i -> CASE WHEN i = $basis THEN CAST(1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END) AS v)"""
    def rayleigh(c: Int, mat: String): String =
      s"""r${c}w AS MATERIALIZED (
        SELECT m.j AS j, ${dotSql("m.cs", "p.v")} AS w
        FROM $mat m, v${c}_$PCA_ITERS p),
      r${c}wl AS MATERIALIZED (SELECT list(w ORDER BY j) AS wl FROM r${c}w),
      lam$c AS MATERIALIZED (SELECT ${dotSql("p.v", "q.wl")} AS lam
        FROM v${c}_$PCA_ITERS p, r${c}wl q)"""
    s"""ex AS MATERIALIZED (
        SELECT vec_id AS id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
        FROM embeddings, range(0, $PCA_DIM) t(j)),
      sj AS MATERIALIZED (
        SELECT j, CAST(sum(CAST(${proundSql("x", 8)} AS DECIMAL(38,8)))
          AS DOUBLE) AS s
        FROM ex GROUP BY j),
      nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd FROM embeddings),
      sjk AS MATERIALIZED (
        SELECT a.j AS j, b.j AS k,
          CAST(sum(CAST(${proundSql("a.x * b.x", 8)} AS DECIMAL(38,8)))
            AS DOUBLE) AS s
        FROM ex a JOIN ex b ON a.id = b.id GROUP BY a.j, b.j),
      cv AS MATERIALIZED (
        SELECT p.j, p.k, (p.s - s1.s * s2.s / nn.nd) / nn.nd AS c
        FROM sjk p
        JOIN sj s1 ON s1.j = p.j
        JOIN sj s2 ON s2.j = p.k
        CROSS JOIN nn),
      meanl AS MATERIALIZED (
        SELECT list(s / nn.nd ORDER BY j) AS m FROM sj CROSS JOIN nn
        GROUP BY nn.nd),
      trd AS MATERIALIZED (SELECT list(c ORDER BY j) AS dl FROM cv WHERE j = k),
      tr AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), dl),
        (x, y) -> x + y) AS trace FROM trd),
      cl AS MATERIALIZED (SELECT j, list(c ORDER BY k) AS cs FROM cv GROUP BY j),
      ${seed(1, 0)},
      ${iterCtes(1, "cl")},
      ${rayleigh(1, "cl")},
      cv2 AS MATERIALIZED (
        SELECT c.j, c.k, c.c - l.lam * p.v[c.j + 1] * p.v[c.k + 1] AS c
        FROM cv c CROSS JOIN lam1 l CROSS JOIN v1_$PCA_ITERS p),
      cl2 AS MATERIALIZED (SELECT j, list(c ORDER BY k) AS cs FROM cv2 GROUP BY j),
      ${seed(2, 1)},
      ${iterCtes(2, "cl2")},
      ${rayleigh(2, "cl2")}"""
  }

  private val q218 = Q(
    "q218_pca_power",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      // the spec-pinned bit-identical outer-product path: one
      // partition pass instead of the n·d² self-join expansion
      val m = graft.operators.Pca.fitOuterProduct(t.embeddings, "vec_id",
        "embedding", PCA_DIM, 2, PCA_ITERS)
      (1 to 2).map { c =>
        val v = m.comps(c - 1)
        (c, m.eigs(c - 1), m.eigs(c - 1) / m.trace,
          v(0), v(15), v(31), v(63))
      }.toDF("component", "eigenvalue", "var_share", "l0", "l15", "l31",
          "l63")
        .select(col("component"), pround(col("eigenvalue"), 6).as("eigenvalue"),
          pround(col("var_share"), 6).as("var_share"),
          pround(col("l0"), 6).as("l0"), pround(col("l15"), 6).as("l15"),
          pround(col("l31"), 6).as("l31"), pround(col("l63"), 6).as("l63"))
        .orderBy(col("component"))
    },
    Some(s"""WITH $pcaCtes
      SELECT CAST(1 AS INT) AS component,
        ${proundSql("l.lam", 6)} AS eigenvalue,
        ${proundSql("l.lam / t.trace", 6)} AS var_share,
        ${proundSql("p.v[1]", 6)} AS l0, ${proundSql("p.v[16]", 6)} AS l15,
        ${proundSql("p.v[32]", 6)} AS l31, ${proundSql("p.v[64]", 6)} AS l63
      FROM lam1 l, v1_$PCA_ITERS p, tr t
      UNION ALL
      SELECT CAST(2 AS INT),
        ${proundSql("l.lam", 6)}, ${proundSql("l.lam / t.trace", 6)},
        ${proundSql("p.v[1]", 6)}, ${proundSql("p.v[16]", 6)},
        ${proundSql("p.v[32]", 6)}, ${proundSql("p.v[64]", 6)}
      FROM lam2 l, v2_$PCA_ITERS p, tr t
      ORDER BY component"""))

  // -- V12b: PCA projection — every vector centered and projected onto
  //    the two fitted components as a NARROW per-row map against
  //    broadcast literal arrays (zero shuffle: the 100 TB deployment
  //    path of q218's model). Sequential zip_with/aggregate folds ≡
  //    the oracle's list_transform/list_reduce on the same unrolled
  //    eigensolve. ------------------------------------------------------
  private val q219 = Q(
    "q219_pca_project",
    (s, dir) => {
      val t = Tpch(s, dir)
      // the spec-pinned bit-identical outer-product path: one
      // partition pass instead of the n·d² self-join expansion
      val m = graft.operators.Pca.fitOuterProduct(t.embeddings, "vec_id",
        "embedding", PCA_DIM, 2, PCA_ITERS)
      graft.operators.Pca.project(t.embeddings, "vec_id", "embedding", m)
        .select(col("vec_id"), pround(col("p1"), 6).as("p1"),
          pround(col("p2"), 6).as("p2"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $pcaCtes,
      cent AS (
        SELECT e.vec_id,
          list_transform(list_zip(e.embedding, m.m),
            pr -> CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE)) AS cvec
        FROM embeddings e CROSS JOIN meanl m)
      SELECT c.vec_id,
        ${proundSql(dotSql("c.cvec", "p1.v"), 6)} AS p1,
        ${proundSql(dotSql("c.cvec", "p2.v"), 6)} AS p2
      FROM cent c, v1_$PCA_ITERS p1, v2_$PCA_ITERS p2
      ORDER BY c.vec_id"""))

  // -- V10c: SEMANTIC DECONTAMINATION (Dedup.semDeDupCross) — the
  //    embedding-space member of the decontamination family: q62/q91/
  //    q170 catch exact n-gram train↔eval overlap; this catches
  //    PARAPHRASED benchmark leakage via cluster-confined cross-frame
  //    cosine pairs. Frozen Lloyd centroids are trained on the CORPUS
  //    side only (eval held out of training), both frames assigned
  //    under the trained model, pairs = corpus×eval in the SAME cell
  //    with cosine ≥ tau. Eval split = every 10th vector (q62's
  //    deterministic convention). The oracle unrolls the corpus-only
  //    Lloyd rounds, assigns ALL vectors with the same decimal
  //    argmin, and replays the cross pair join — a centroid trained
  //    on an eval vector, a self-frame pair, or a cross-cluster pair
  //    diverges. -----------------------------------------------------
  private[queries] val SDC_EVERY = 10
  private[queries] val SDC_TAU = 0.3

  /** Oracle CTE fragment (no WITH prefix) replaying
    * [[graft.operators.Dedup.semDeDupCross]]: corpus-only seed +
    * unrolled Lloyd rounds (train rows = vec_id % SDC_EVERY ≠ 0),
    * final exact-decimal assignment of BOTH frames, and the
    * cluster-confined corpus×eval cosine pair set, ending in
    * `sdc_prs(corpus_id, eval_id, cluster, cosine)`. `sdc_`-prefixed
    * so q212's method-overlap row can splice it next to the n-gram
    * shingle CTEs without collisions.
    */
  private[queries] lazy val semDeDupCrossCtes: String = {
    val trainPred = s"vec_id % $SDC_EVERY <> 0"
    val iterCtes = (1 to SD_ITERS).map { i =>
      s"""sdc_dist$i AS (
        SELECT e.vec_id, c.cluster,
          sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
        FROM sdc_ev e JOIN sdc_cent${i - 1} c USING (pos)
        WHERE e.$trainPred
        GROUP BY e.vec_id, c.cluster),
      sdc_asg$i AS (
        SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cluster) AS rk
          FROM sdc_dist$i) WHERE rk = 1),
      sdc_mean$i AS (
        SELECT a.cluster, e.pos, count(*) AS n_vecs,
          ${proundSql(
            "CAST(sum(CAST(e.v AS DECIMAL(28,8))) AS DOUBLE) / count(*)",
            6)} AS mean_v
        FROM sdc_asg$i a JOIN sdc_ev e USING (vec_id)
        GROUP BY a.cluster, e.pos),
      sdc_cent$i AS (
        SELECT cluster, pos, mean_v AS c FROM sdc_mean$i
        UNION ALL
        SELECT p.cluster, p.pos, p.c FROM sdc_cent${i - 1} p
        WHERE p.cluster NOT IN (SELECT cluster FROM sdc_mean$i))"""
    }.mkString(",\n      ")
    val fin = SD_ITERS + 1
    s"""sdc_ev AS (
      SELECT vec_id, pos, CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS pos)),
    sdc_seed AS (
      SELECT vec_id, row_number() OVER (
          ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007,
            vec_id) - 1 AS cluster
      FROM embeddings WHERE $trainPred),
    sdc_cent0 AS (
      SELECT s.cluster, e.pos, e.v AS c
      FROM sdc_seed s JOIN sdc_ev e USING (vec_id)
      WHERE s.cluster < $SD_K),
    $iterCtes,
    sdc_dist$fin AS (
      SELECT e.vec_id, c.cluster,
        sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
      FROM sdc_ev e JOIN sdc_cent$SD_ITERS c USING (pos)
      GROUP BY e.vec_id, c.cluster),
    sdc_asg AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, cluster) AS rk
        FROM sdc_dist$fin) WHERE rk = 1),
    ${normCte("sdc_v")},
    sdc_m AS MATERIALIZED (
      SELECT a.vec_id, a.cluster, v.embedding, v.nrm
      FROM sdc_asg a JOIN sdc_v v USING (vec_id)),
    sdc_prs AS MATERIALIZED (
      SELECT a.vec_id AS corpus_id, b.vec_id AS eval_id, a.cluster,
        ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
      FROM sdc_m a JOIN sdc_m b
        ON a.cluster = b.cluster
        AND a.vec_id % $SDC_EVERY <> 0 AND b.vec_id % $SDC_EVERY = 0
      WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
        >= $SDC_TAU)"""
  }

  private val q211 = Q(
    "q211_semantic_decontamination",
    (s, dir) => {
      val t = Tpch(s, dir)
      val corpus = t.embeddings.filter(col("vec_id") % SDC_EVERY =!= 0)
      val evalSet = t.embeddings.filter(col("vec_id") % SDC_EVERY === 0)
      // one training + cross join, consumed by the per-eval agg AND
      // the top-contaminant window — cut the lineage once
      val prs = graft.operators.Dedup.semDeDupCross(corpus, evalSet,
          "vec_id", "embedding", SD_K, SD_ITERS, SDC_TAU)
        .localCheckpoint(true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("eval_id"))
        .orderBy(col("cosine").desc, col("corpus_id").asc)
      val top = prs.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("eval_id"), col("corpus_id").as("top_corpus_id"))
      val agg = prs.groupBy(col("eval_id"))
        .agg(count(lit(1)).as("n_contaminants"),
          pround(max(col("cosine")), 6).as("max_cos"))
      evalSet.select(col("vec_id").as("eval_id"))
        .join(agg, Seq("eval_id"), "left")
        .join(top, Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_contaminants"), lit(0L)).as("n_contaminants"),
          col("max_cos"), col("top_corpus_id"))
        .orderBy(col("eval_id"))
    },
    Some(s"""WITH $semDeDupCrossCtes,
      agg AS (
        SELECT eval_id, count(*) AS n_contaminants,
          ${proundSql("max(cosine)", 6)} AS max_cos
        FROM sdc_prs GROUP BY eval_id),
      top AS (
        SELECT eval_id, corpus_id AS top_corpus_id FROM (
          SELECT eval_id, corpus_id,
            row_number() OVER (PARTITION BY eval_id
              ORDER BY cosine DESC, corpus_id) AS rk
          FROM sdc_prs) WHERE rk = 1)
      SELECT e.vec_id AS eval_id,
        CAST(coalesce(a.n_contaminants, 0) AS BIGINT) AS n_contaminants,
        a.max_cos, t.top_corpus_id
      FROM (SELECT vec_id FROM embeddings
        WHERE vec_id % $SDC_EVERY = 0) e
      LEFT JOIN agg a ON a.eval_id = e.vec_id
      LEFT JOIN top t ON t.eval_id = e.vec_id
      ORDER BY eval_id"""))

  // -- V10c: MATRYOSHKA (prefix-dimension) recall ladder — the
  //    dim-budget eval modern MRL-trained embeddings ship with
  //    (Kusupati et al. 2022): truncate index AND query to the first
  //    d dims (the MRL deployment mode — no re-embedding), brute
  //    cosine top-K per rung, recall against the full-dim exact
  //    top-K. The missing axis of the code-budget ladder (q149
  //    compresses PRECISION per dim; this compresses the DIM COUNT).
  //    Brute rungs by definition → quadraticExact bench gate + the
  //    q27 oracle exclusion at 10×; at scale each rung rides the same
  //    IVF machinery on sliced vectors.
  private val MRL_DIMS = Seq(32, 16, 8)
  private val MRL_K = 5 // == the exact baseline's K: each rung's top-K
                        // is scored against the SAME-K full-dim brute
                        // answer, so recall@K compares like for like
  private val q208 = Q(
    "q208_mrl_recall",
    (s, dir) => {
      val t = Tpch(s, dir)
      val emb = t.embeddings
      val queries = emb.filter(col("vec_id") % QMOD === 0)
      val exact = exactTopK(emb, queries, MRL_K)
      def trunc(df: DataFrame, d: Int) =
        df.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
      val rows = MRL_DIMS.map { d =>
        recallRow(lit(d).as("dims"), exact,
          Similarity.topK(trunc(emb, d), trunc(queries, d), "vec_id",
              "embedding", MRL_K)
            .select(col("query_id"), col("corpus_id")))
      }
      rows.reduce(_.unionByName(_)).orderBy(col("dims").desc)
    },
    Some {
      def rung(d: Int) = s"""
      v$d AS (
        SELECT vec_id, embedding[1:$d] AS e,
          sqrt(${norm2Sql(s"embedding[1:$d]")}) AS nrm
        FROM embeddings),
      top$d AS (
        SELECT query_id, corpus_id FROM (
          SELECT query_id, corpus_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) AS cosine
            FROM (SELECT * FROM v$d WHERE vec_id % $QMOD = 0) q
            JOIN v$d c ON q.vec_id != c.vec_id))
        WHERE rank <= $MRL_K)"""
      val rows = MRL_DIMS.map { d =>
        s"""SELECT $d AS dims,
          (SELECT count(*) FROM ex JOIN top$d t
            ON ex.query_id = t.query_id AND ex.corpus_id = t.corpus_id)
            AS n_hits,
          (SELECT count(*) FROM ex) AS n_total,
          ${proundSql(
            s"""CAST((SELECT count(*) FROM ex JOIN top$d t
              ON ex.query_id = t.query_id AND ex.corpus_id = t.corpus_id)
              AS DOUBLE) / (SELECT count(*) FROM ex)""", 4)} AS recall"""
      }.mkString("\n        UNION ALL ")
      s"""WITH ${normCte("v")},
      ex AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
          SELECT query_id, corpus_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                AS cosine
            FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
            JOIN v c ON q.vec_id != c.vec_id))
        WHERE rank <= $MRL_K),${MRL_DIMS.map(rung).mkString(",")}
      SELECT * FROM (
        $rows)
      ORDER BY dims DESC"""
    })

  // -- V11: JL random projection (Similarity.randomProjection) — the
  //    ANN preprocessing step: 64→16 dims via the deterministic LSH
  //    hyperplanes, each output dim a native sequential-fold dot
  //    against a literal plane. Pure narrow map, zero shuffles. ------
  private val RP_OUT = 16
  private val RP_IN = 64
  private val q108 = Q(
    "q108_random_projection",
    (s, dir) => {
      val t = Tpch(s, dir)
      val proj = Similarity.randomProjection(
        t.embeddings, "vec_id", "embedding", RP_IN, RP_OUT)
      proj.select(col("vec_id") +: (0 until RP_OUT).map(j =>
        pround(col(s"p$j"), 6).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    },
    Some {
      val projCols = (0 until RP_OUT).map { j =>
        val plane =
          s"(CAST((($j + 1) * 2654435761 + i * 40503) % 1000003 AS DOUBLE)" +
            s" / 1000003.0 - 0.5)"
        val fold =
          s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
             | list_transform(generate_series(0, ${RP_IN - 1}),
             |   i -> CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * $plane)),
             | (x, y) -> x + y)""".stripMargin
        s"${proundSql(fold, 6)} AS p$j"
      }.mkString(",\n        ")
      s"""SELECT vec_id,
        $projCols
      FROM embeddings
      ORDER BY vec_id"""
    })

  // -- V12: hard-negative mining (Similarity.hardNegatives) — top-k
  //    most-similar OTHER-label vectors per query, the contrastive-
  //    batch construction step. q27's scan shape with the label
  //    exclusion inside the join predicate. -------------------------
  private val HN_K = 5
  private val q109 = Q(
    "q109_hard_negatives",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.hardNegatives(t.embeddings, queries, "vec_id",
          "embedding", "label", HN_K)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          col("neg_label"), pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH v AS (
        SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          c.label AS neg_label,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
        JOIN v c ON q.vec_id != c.vec_id AND q.label != c.label)
      SELECT query_id, rank, corpus_id, neg_label,
        ${proundSql("cosine", 6)} AS cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $HN_K
      ORDER BY query_id, rank"""))

  // -- V13: metadata-filtered exact top-k (vector-DB "filtered
  //    search"): neighbours restricted to corpus vectors sharing the
  //    query's label (Similarity.topKFiltered — predicate inside the
  //    broadcast-join condition, corpus never shuffled). -------------
  private val FK = 5
  private val FQMOD = 50
  private val q114 = Q(
    "q114_filtered_ann",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % FQMOD === 0)
      Similarity.topKFiltered(t.embeddings, queries, "vec_id",
          "embedding", "label", FK)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          pround(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH v AS (
        SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id % $FQMOD = 0) q
        JOIN v c ON q.label = c.label AND q.vec_id != c.vec_id)
      SELECT query_id, rank, corpus_id, ${proundSql("cosine", 6)} AS cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $FK
      ORDER BY query_id, rank"""))

  // -- V14: IVF-PQ top-k (Similarity.ivfPqTopK) — the production
  //    100 TB vector-search composition: IVF cell pruning (pinned
  //    SEEDMOD seeds, top-NPROBE cells per query, as q53) feeding ADC
  //    scoring over the PQ codes (√n codebook, as q101). The q101
  //    broadcast nested-loop probe is replaced by a broadcast HASH
  //    join on cell id, so per-query candidate work is
  //    |corpus|·nprobe/nlist and each candidate costs m array
  //    lookups. Order-pinned folds keep every double bit-exact. -----
  private val q117 = Q(
    "q117_ivf_pq_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val cb = Similarity.pqCodebooks(
        t.embeddings, "vec_id", "embedding", PQ_M, seedMod = 0)
      val enc = Similarity.pqEncode(t.embeddings, "vec_id", "embedding", PQ_M, cb)
      val seeds = Similarity.seedCentroids(
        t.embeddings, "vec_id", "embedding", SEEDMOD)
      val cells = Similarity.ivfAssign(t.embeddings, "vec_id", "embedding", seeds)
        .select(col("vec_id"), col("cell"))
      val queries = t.embeddings.filter(col("vec_id") % PQ_QMOD === 0)
      Similarity.ivfPqTopK(enc, cells, seeds, queries, "vec_id", "embedding",
          PQ_M, cb, NPROBE, PQ_K)
        .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
          pround(col("adist"), 6).as("adist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${pqBaseSql},
      ${normCte("v")},
      ${ivfAssignCtes()},
      ${ivfProbeCte(PQ_QMOD, NPROBE)},
      adc AS (
        SELECT s.vec_id AS query_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS qd
        FROM subs s JOIN codebook c USING (sub)
        WHERE s.vec_id % $PQ_QMOD = 0),
      dists AS (
        SELECT a.query_id, g.cell, e.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
        FROM enc e
        JOIN assign g ON g.vec_id = e.vec_id
        JOIN probe p ON p.cell = g.cell
        JOIN adc a ON a.query_id = p.query_id AND a.sub = e.sub
          AND a.cw = e.cw
        WHERE a.query_id != e.vec_id
        GROUP BY a.query_id, g.cell, e.vec_id)
      SELECT query_id, cell, rank, corpus_id, ${proundSql("adist", 6)} AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, corpus_id ASC) AS rank FROM dists)
      WHERE rank <= $PQ_K
      ORDER BY query_id, rank"""))

  // -- V15: hybrid lexical+vector retrieval via reciprocal-rank fusion
  //    (operators.Hybrid.rrfFuse) — BM25 top-NL over documents fused
  //    with exact cosine top-NV over the matching embedding row (doc_id
  //    ≡ vec_id in the synthetic corpus). RRF needs no score
  //    calibration and no libm: ranks are ints, 1/(k0+rank) is one
  //    exactly-rounded IEEE division per leg, legs fold in written
  //    order — bit-exact vs the oracle. Legs are top-k-bounded by
  //    their own production operators; fusion is one tiny keyed agg. --
  private val HY_TERMS = Seq("stream", "merge", "filter")
  private val HY_K1 = 1.25
  private val HY_B = 0.75
  private val HY_LEGK = 30 // per-leg depth
  private val HY_K0 = 60 // the standard RRF smoothing constant
  private val HY_K = 20 // fused top-k
  private val HY_QVEC = 100L // query = this doc's embedding row
  private val q120 = Q(
    "q120_hybrid_rrf",
    (s, dir) => {
      val t = Tpch(s, dir)
      val lex = graft.operators.Bm25.topK(t.documents, "doc_id", "text",
          HY_TERMS, HY_K1, HY_B, HY_LEGK)
        .select(col("doc_id"), col("rank"))
      val qv = t.embeddings.filter(col("vec_id") === HY_QVEC)
      val vec = Similarity.topK(t.embeddings, qv, "vec_id", "embedding",
          HY_LEGK)
        .select(col("corpus_id").as("doc_id"), col("rank"))
      graft.operators.Hybrid.rrfFuse(
          Seq("lex" -> lex, "vec" -> vec), "doc_id", HY_K0, HY_K)
        .select(col("rank"), col("doc_id"), col("lex_rank"),
          col("vec_rank"), pround(col("rrf_score"), 6).as("rrf_score"))
    },
    Some {
      import graft.functions.TextFns
      val termList = HY_TERMS.map(t => s"'$t'").mkString(", ")
      val contribCases = HY_TERMS.map(t =>
        s"coalesce(max(CASE WHEN term = '$t' THEN contrib END), 0.0)")
        .mkString("\n          + ")
      s"""WITH toksrc AS (
        SELECT doc_id, ${TextFns.tokensSql("text")} AS toks FROM documents),
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
        SELECT tf.doc_id, tf.term,
          ((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5))
            * tf.tf * ${HY_K1 + 1}
            / (tf.tf + $HY_K1 * (1.0 - $HY_B + $HY_B * tf.dl / s.avgdl))
            AS contrib
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s),
      lexscored AS (
        SELECT doc_id, $contribCases AS score
        FROM contribs GROUP BY doc_id),
      lex AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
            AS lex_rank
        FROM lexscored ORDER BY score DESC, doc_id ASC LIMIT $HY_LEGK),
      ${normCte("v")},
      vecscored AS (
        SELECT c.vec_id AS doc_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id = $HY_QVEC) q
        JOIN v c ON q.vec_id != c.vec_id),
      vec AS (
        SELECT doc_id, CAST(rnk AS INT) AS vec_rank FROM (
          SELECT doc_id, row_number() OVER (
              ORDER BY cosine DESC, doc_id ASC) AS rnk
          FROM vecscored)
        WHERE rnk <= $HY_LEGK),
      fused AS (
        SELECT doc_id, lex_rank, vec_rank,
          coalesce(1.0 / ($HY_K0.0 + CAST(lex_rank AS DOUBLE)), 0.0)
            + coalesce(1.0 / ($HY_K0.0 + CAST(vec_rank AS DOUBLE)), 0.0)
            AS rrf_score
        FROM lex FULL OUTER JOIN vec USING (doc_id))
      SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
          AS INT) AS rank,
        doc_id, lex_rank, vec_rank, ${proundSql("rrf_score", 6)} AS rrf_score
      FROM fused
      ORDER BY rrf_score DESC, doc_id ASC
      LIMIT $HY_K"""
    })

  // -- V16: metadata-filtered IVF-PQ (Similarity.ivfPqTopKFiltered) —
  //    the FULL production vector-DB shape: compressed search (q117)
  //    with q114's metadata predicate, stored covering-index style so
  //    the filter value is part of the scoring join's hash key
  //    (cell, label). Candidates outside the query's label are never
  //    scored; the corpus never shuffles. ---------------------------
  private val q125 = Q(
    "q125_ivf_pq_filtered",
    (s, dir) => {
      val t = Tpch(s, dir)
      val cb = Similarity.pqCodebooks(
        t.embeddings, "vec_id", "embedding", PQ_M, seedMod = 0)
      val enc = Similarity.pqEncode(t.embeddings, "vec_id", "embedding", PQ_M, cb)
      val seeds = Similarity.seedCentroids(
        t.embeddings, "vec_id", "embedding", SEEDMOD)
      // covering index: the filter column is stored WITH the cell
      // assignment (AnnIndexPipeline would persist exactly this shape)
      val cells = Similarity.ivfAssign(t.embeddings, "vec_id", "embedding", seeds)
        .select(col("vec_id"), col("cell"))
        .join(t.embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      val queries = t.embeddings.filter(col("vec_id") % PQ_QMOD === 0)
      Similarity.ivfPqTopKFiltered(enc, cells, seeds, queries, "vec_id",
          "embedding", "label", PQ_M, cb, NPROBE, PQ_K)
        .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
          pround(col("adist"), 6).as("adist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${pqBaseSql},
      v AS (
        SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
        FROM embeddings),
      ${ivfAssignCtes()},
      ${ivfProbeCte(PQ_QMOD, NPROBE, carry = Seq("qlab" -> "v.label"))},
      adc AS (
        SELECT s.vec_id AS query_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS qd
        FROM subs s JOIN codebook c USING (sub)
        WHERE s.vec_id % $PQ_QMOD = 0),
      dists AS (
        SELECT a.query_id, g.cell, e.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
        FROM enc e
        JOIN assign g ON g.vec_id = e.vec_id
        JOIN v cv ON cv.vec_id = e.vec_id
        JOIN probe p ON p.cell = g.cell AND p.qlab = cv.label
        JOIN adc a ON a.query_id = p.query_id AND a.sub = e.sub
          AND a.cw = e.cw
        WHERE a.query_id != e.vec_id
        GROUP BY a.query_id, g.cell, e.vec_id)
      SELECT query_id, cell, rank, corpus_id, ${proundSql("adist", 6)} AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, corpus_id ASC) AS rank FROM dists)
      WHERE rank <= $PQ_K
      ORDER BY query_id, rank"""))

  // -- V17: SQ8 scalar-quantized top-k (Similarity.sqTopK) — the
  //    middle rung of the quantization ladder (float32 q27 → SQ8 here
  //    → PQ q101): per-dim symmetric max-abs scales, int8 codes via
  //    the portable floor(x·127/s + 0.5), and pure-INTEGER dot-product
  //    ranking — exact and order-independent, so unlike the float
  //    paths the scores need no rounding discipline at all: the
  //    oracle matches on raw BIGINTs. -------------------------------
  private val SQ_K = 5
  private val SQ_DIMS = 64
  private val q132 = Q(
    "q132_sq8_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.sqTopK(t.embeddings, queries, "vec_id", "embedding", SQ_K)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          col("iscore"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH dims AS (
        SELECT unnest(generate_series(1, $SQ_DIMS)) AS pos),
      scales AS (
        SELECT pos, max(abs(CAST(embedding[pos] AS DOUBLE))) AS s
        FROM embeddings CROSS JOIN dims GROUP BY pos),
      sarr AS (SELECT list(s ORDER BY pos) AS sc FROM scales),
      enc AS (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN sc[i] = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                 / sc[i] + 0.5) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN sarr),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip(q.q, c.q), pr -> pr[1] * pr[2])),
            (x, y) -> x + y) AS iscore
        FROM (SELECT * FROM enc WHERE vec_id % $QMOD = 0) q
        JOIN enc c ON q.vec_id != c.vec_id)
      SELECT query_id, rank, corpus_id, iscore
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY iscore DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $SQ_K
      ORDER BY query_id, rank"""))

  // -- V18: IVF-SQ8 top-k (Similarity.ivfSqTopK) — cell-pruned int8
  //    search (the FAISS IVF…,SQ8 shape), completing the {brute, IVF}
  //    × {float32, SQ8, PQ} matrix: q53's pinned seed cells + float
  //    probe ranking, q132's scales/codes/integer scoring, scoring
  //    join a broadcast HASH join on cell id (plan pinned like q117).
  private val q136 = Q(
    "q136_ivf_sq8_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.ivfSqTopK(t.embeddings, queries, "vec_id", "embedding",
          SEEDMOD, NPROBE, SQ_K)
        .select(col("query_id"), col("cell"), col("rank"),
          col("corpus_id"), col("iscore"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      ${ivfProbeCte(QMOD, NPROBE)},
      dims AS (SELECT unnest(generate_series(1, $SQ_DIMS)) AS pos),
      scales AS (
        SELECT pos, max(abs(CAST(embedding[pos] AS DOUBLE))) AS s
        FROM embeddings CROSS JOIN dims GROUP BY pos),
      sarr AS (SELECT list(s ORDER BY pos) AS sc FROM scales),
      enc AS (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN sc[i] = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                 / sc[i] + 0.5) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN sarr),
      scored AS (
        SELECT p.query_id, p.cell, a.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip(qe.q, ce.q), pr -> pr[1] * pr[2])),
            (x, y) -> x + y) AS iscore
        FROM probe p
        JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
        JOIN enc qe ON qe.vec_id = p.query_id
        JOIN enc ce ON ce.vec_id = a.vec_id)
      SELECT query_id, cell, rank, corpus_id, iscore
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY iscore DESC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $SQ_K
      ORDER BY query_id, rank"""))

  // -- V19: cluster-balanced selection — the DataComp-style curation
  //    step: cap how much any one SEMANTIC cluster contributes by
  //    keeping only the top-B quality-ranked members per IVF cell
  //    (quality column pluggable; here the documents table's n_chars
  //    via the vec↔doc join). Without the cap, dense clusters (spam,
  //    boilerplate) dominate token budgets. One cell-keyed window —
  //    WindowGroupLimit prunes to B per cell map-side, so the shuffle
  //    carries ≤ B·nlist rows no matter how skewed the clusters. -----
  private val CB_B = 10
  private val q135 = Q(
    "q135_cluster_balanced",
    (s, dir) => {
      val t = Tpch(s, dir)
      val seeds = Similarity.seedCentroids(t.embeddings, "vec_id",
        "embedding", SEEDMOD)
      val assigned = Similarity.ivfAssign(t.embeddings, "vec_id",
          "embedding", seeds)
        .select(col("vec_id"), col("cell"))
      val joined = assigned.join(
        t.documents.select(col("doc_id"), col("n_chars")),
        col("vec_id") === col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell"))
        .orderBy(col("n_chars").desc, col("vec_id").asc)
      joined.withColumn("sel_rank", row_number().over(w))
        .filter(col("sel_rank") <= CB_B)
        .select(col("cell"), col("sel_rank"), col("vec_id"),
          col("n_chars"))
        .orderBy(col("cell"), col("sel_rank"))
    },
    Some(s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      sel AS (
        SELECT a.cell, d.doc_id AS vec_id, d.n_chars,
          row_number() OVER (PARTITION BY a.cell
            ORDER BY d.n_chars DESC, d.doc_id ASC) AS sel_rank
        FROM assign a JOIN documents d ON d.doc_id = a.vec_id)
      SELECT cell, sel_rank, vec_id, n_chars
      FROM sel WHERE sel_rank <= $CB_B
      ORDER BY cell, sel_rank"""))

  // Residual-PQ CTE chain (shared by q153 and q149's ladder row):
  // IVF assign as q117, residual r = x − centroid(cell) in exact
  // doubles, codebook/encode over the residuals (same √n donor rule).
  private def residualPqSql = s"""
      ${normCte("v2")},
      ${ivfAssignCtes("2")},
      resid AS (
        SELECT a.vec_id, a.cell,
          list_transform(list_zip(v2.embedding, s.svec),
            pr -> CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE)) AS rvec
        FROM assign2 a JOIN v2 ON v2.vec_id = a.vec_id
        JOIN seeds2 s ON s.cell = a.cell),
      rsubs AS (
        SELECT vec_id, cell, sub, rvec[(sub * sl + 1):(sub * sl + sl)] AS svec
        FROM (SELECT vec_id, cell, rvec, CAST(len(rvec) // $PQ_M AS INT) AS sl,
                unnest(generate_series(0, ${PQ_M - 1})) AS sub
              FROM resid)),
      smcte2 AS (
        SELECT GREATEST(CAST(round(sqrt(count(*))) AS BIGINT), 1) AS sm
        FROM embeddings),
      rcodebook AS (
        SELECT sub, CAST(vec_id AS BIGINT) AS cw, svec AS cvec,
          ${norm2Sql("svec")} AS cc
        FROM rsubs, smcte2 WHERE vec_id % smcte2.sm = 0),
      rscored AS (
        SELECT s.vec_id, s.sub, c.cw,
          ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
            AS sdist
        FROM rsubs s JOIN rcodebook c USING (sub)),
      renc AS (
        SELECT vec_id, sub, cw FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY sdist ASC, cw ASC) AS rn
          FROM rscored)
        WHERE rn = 1)"""

  // Per-(query, probed cell) residual ADC: the LUT uses q − c_cell of
  // the PROBED cell, so candidates meet exactly their own cell's LUT.
  private def residualProbeSql(qmod: Int, nprobe: Int) = s"""
      ${ivfProbeCte(qmod, nprobe, "2", "probe2")},
      qres AS (
        SELECT p.query_id, p.cell,
          list_transform(list_zip(v2.embedding, s.svec),
            pr -> CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE)) AS qr
        FROM probe2 p JOIN v2 ON v2.vec_id = p.query_id
        JOIN seeds2 s ON s.cell = p.cell),
      qrsubs AS (
        SELECT query_id, cell, sub, qr[(sub * sl + 1):(sub * sl + sl)] AS qvec
        FROM (SELECT query_id, cell, qr, CAST(len(qr) // $PQ_M AS INT) AS sl,
                unnest(generate_series(0, ${PQ_M - 1})) AS sub
              FROM qres)),
      radc AS (
        SELECT q.query_id, q.cell, q.sub, c.cw,
          ${norm2Sql("q.qvec")} - 2 * ${dotSql("q.qvec", "c.cvec")} + c.cc
            AS qd
        FROM qrsubs q JOIN rcodebook c USING (sub)),
      rdists AS (
        SELECT a.query_id, g.cell, e.vec_id AS corpus_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
        FROM renc e
        JOIN assign2 g ON g.vec_id = e.vec_id
        JOIN radc a ON a.cell = g.cell AND a.sub = e.sub AND a.cw = e.cw
        WHERE a.query_id != e.vec_id
        GROUP BY a.query_id, g.cell, e.vec_id)"""

  // -- V22: RESIDUAL IVF-PQ top-k (Similarity.ivfPqResidualTopK) —
  //    q117's composition with the FAISS-standard residual encoding:
  //    PQ codes quantize x − centroid(cell), the per-(query, probed
  //    cell) LUTs use the query residual against THAT cell, and the
  //    scoring join stays the broadcast hash join on cell id. Same
  //    m/donor codebook as q117 — the measured fidelity difference is
  //    q149's ladder (recall@5 0.24 raw → 0.36 residual at sf0.01). --
  private val q153 = Q(
    "q153_ivfpq_residual_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val seeds = Similarity.seedCentroids(
        t.embeddings, "vec_id", "embedding", SEEDMOD)
      // materialize the assignment once: codebook, encode, and the
      // scoring join all read it, and in production it IS a persisted
      // model table (q117's stored-model contract) — without this the
      // lazy DAG re-runs the centroid fanout in every branch
      val assigned = Similarity.ivfAssign(
        t.embeddings, "vec_id", "embedding", seeds).localCheckpoint()
      val res = Similarity.ivfResiduals(assigned, "vec_id", "embedding", seeds)
      val sm = Similarity.sqrtSeedMod(t.embeddings.count())
      val rcb = Similarity.pqCodebooks(res, "vec_id", "rvec", PQ_M, sm)
      val renc = Similarity.pqEncode(res, "vec_id", "rvec", PQ_M, rcb)
      val cells = assigned.select(col("vec_id"), col("cell"))
      val queries = t.embeddings.filter(col("vec_id") % PQ_QMOD === 0)
      Similarity.ivfPqResidualTopK(renc, cells, seeds, queries, "vec_id",
          "embedding", PQ_M, rcb, NPROBE, PQ_K)
        .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
          pround(col("adist"), 6).as("adist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${residualPqSql},
      ${residualProbeSql(PQ_QMOD, NPROBE)}
      SELECT query_id, cell, rank, corpus_id, ${proundSql("adist", 6)} AS adist
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, corpus_id ASC) AS rank FROM rdists)
      WHERE rank <= $PQ_K
      ORDER BY query_id, rank"""))

  // -- V20: SQ8 reconstruction-error profile — the quantization QA
  //    mart: per label, mean/max absolute reconstruction error and
  //    the error-to-magnitude ratio of the int8 codes (q132's exact
  //    pipeline re-expanded through x̂ = q·s/127). The number a
  //    production rollout gates on before switching scans to SQ8.
  //    Error sums accumulate as exact DECIMALs (q106's idiom) so the
  //    profile is order-independent; max is order-free by nature.
  private val q148 = Q(
    "q148_sq8_error_profile",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val scales = Similarity.sqScales(t.embeddings, "embedding")
      val enc = Similarity.sqEncode(t.embeddings, "vec_id", "embedding",
          scales, Seq("embedding", "label"))
        .crossJoin(broadcast(scales))
      val recon = zip_with(col("sq_code"), col("scales"),
        (q, sc) => q.cast("double") * sc / lit(127.0))
      val errArr = zip_with(col("embedding"), recon,
        (x, xq) => abs(x.cast("double") - xq))
      val errs = enc.select(col("label"), explode(errArr).as("err"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_elems"),
          sum(col("err").cast(DecimalType(38, 8))).cast("double")
            .as("serr"),
          max(col("err")).as("max_err"))
      val mags = t.embeddings
        .select(col("label"), explode(col("embedding")).as("x"))
        .groupBy(col("label"))
        .agg(sum(abs(col("x").cast("double")).cast(DecimalType(38, 8)))
          .cast("double").as("sabs"))
      errs.join(mags, "label")
        .select(col("label"), col("n_elems"),
          pround(col("serr") / col("n_elems"), 8).as("mean_err"),
          pround(col("max_err"), 8).as("max_err"),
          pround(col("serr") / col("sabs"), 6).as("rel_err"))
        .orderBy(col("label"))
    },
    Some(s"""WITH dims AS (
        SELECT unnest(generate_series(1, $SQ_DIMS)) AS pos),
      scales AS (
        SELECT pos, max(abs(CAST(embedding[pos] AS DOUBLE))) AS s
        FROM embeddings CROSS JOIN dims GROUP BY pos),
      sarr AS (SELECT list(s ORDER BY pos) AS sc FROM scales),
      enc AS (
        SELECT vec_id, label, embedding,
          list_transform(generate_series(1, $SQ_DIMS),
            i -> CASE WHEN sc[i] = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                   / sc[i] + 0.5) AS BIGINT) END) AS q,
          sc
        FROM embeddings CROSS JOIN sarr),
      ev AS (
        SELECT label, unnest(list_transform(generate_series(1, $SQ_DIMS),
          i -> abs(CAST(embedding[i] AS DOUBLE)
            - CAST(q[i] AS DOUBLE) * sc[i] / 127.0))) AS err
        FROM enc),
      errs AS (
        SELECT label, count(*) AS n_elems,
          CAST(sum(CAST(err AS DECIMAL(38,8))) AS DOUBLE) AS serr,
          max(err) AS max_err
        FROM ev GROUP BY label),
      mags AS (
        SELECT label,
          CAST(sum(CAST(abs(CAST(x AS DOUBLE)) AS DECIMAL(38,8)))
            AS DOUBLE) AS sabs
        FROM (SELECT label, unnest(embedding) AS x FROM embeddings)
        GROUP BY label)
      SELECT e.label, e.n_elems,
        ${proundSql("e.serr / e.n_elems", 8)} AS mean_err,
        ${proundSql("e.max_err", 8)} AS max_err,
        ${proundSql("e.serr / m.sabs", 6)} AS rel_err
      FROM errs e JOIN mags m ON e.label = m.label
      ORDER BY e.label"""))

  // -- Oracle replay of k-means PQ (Similarity.pqCodebooksKMeans →
  //    pqEncode → pqAdcTopK), shared by q159's two rungs and q231's
  //    two arms. CTE names carry an arm prefix `p`.

  /** `kseed`(vec_id, cluster): KMeans' hash-seeded initial order. */
  private val pqKSeedCte = s"""kseed AS (
        SELECT vec_id, row_number() OVER (
            ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007,
              vec_id) - 1 AS cluster
        FROM embeddings)"""

  /** `${p}subs`(vec_id, sub, svec): the PQ_M subspace slices of `src`. */
  private def pqSubsCte(p: String, src: String) = {
    val sl = SQ_DIMS / PQ_M
    s"""${p}subs AS (
          SELECT vec_id, sub,
            embedding[(sub * $sl + 1):(sub * $sl + $sl)] AS svec
          FROM (SELECT vec_id, embedding,
                  unnest(generate_series(0, ${PQ_M - 1})) AS sub
                FROM $src))"""
  }

  /** `${p}kcent0` .. `${p}kcent$PQKM_ITERS`(sub, cluster, cvec): the
    * first PQKM_K seeds of `${p}subs`, then PQKM_ITERS unrolled Lloyd
    * rounds over (sub, cluster) — exact-decimal distances,
    * lowest-cluster tie-break, 6-decimal rounded means, empty clusters
    * carrying the previous centroid forward.
    */
  private def pqKMeansCtes(p: String) = {
    val sl = SQ_DIMS / PQ_M
    val init = s"""${p}kcent0 AS (
          SELECT s.sub, sd.cluster,
            list_transform(s.svec, x -> CAST(x AS DOUBLE)) AS cvec
          FROM kseed sd JOIN ${p}subs s USING (vec_id)
          WHERE sd.cluster < $PQKM_K)"""
    val iters = (1 to PQKM_ITERS).map { i =>
      s"""${p}kdist$i AS (
            SELECT s.vec_id, s.sub, c.cluster,
              list_reduce(list_prepend(CAST(0 AS DECIMAL(38,8)),
                list_transform(list_zip(s.svec, c.cvec), pr ->
                  CAST((CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))
                     * (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))
                    AS DECIMAL(28,8)))),
                (a, b) -> CAST(a + b AS DECIMAL(38,8))) AS d2
            FROM ${p}subs s JOIN ${p}kcent${i - 1} c USING (sub)),
          ${p}kasg$i AS (
            SELECT vec_id, sub, cluster FROM (
              SELECT vec_id, sub, cluster,
                row_number() OVER (PARTITION BY vec_id, sub
                  ORDER BY d2, cluster) AS rk
              FROM ${p}kdist$i) WHERE rk = 1),
          ${p}kmean$i AS (
            SELECT a.sub, a.cluster, t.p AS pos,
              ${proundSql(
                "CAST(sum(CAST(CAST(s.svec[t.p] AS DOUBLE) AS DECIMAL(28,8)))" +
                  " AS DOUBLE) / count(*)", 6)} AS mean_v
            FROM ${p}kasg$i a
            JOIN ${p}subs s ON s.vec_id = a.vec_id AND s.sub = a.sub
            CROSS JOIN (SELECT unnest(generate_series(1, $sl)) AS p) t
            GROUP BY a.sub, a.cluster, t.p),
          ${p}kcent$i AS (
            SELECT sub, cluster, list(mean_v ORDER BY pos) AS cvec
            FROM ${p}kmean$i GROUP BY sub, cluster
            UNION ALL
            SELECT pv.sub, pv.cluster, pv.cvec FROM ${p}kcent${i - 1} pv
            WHERE NOT EXISTS (SELECT 1 FROM ${p}kmean$i m
              WHERE m.sub = pv.sub AND m.cluster = pv.cluster))"""
    }.mkString(",\n        ")
    s"$init,\n        $iters"
  }

  /** One PQ arm over the centroid CTE `cent` and the slices `subs`:
    * `${p}cw` codebook, `${p}enc`(vec_id, sub, cw, sdist) encode,
    * `${p}adc` query LUT rows, `${p}top`(query_id, corpus_id) full-ADC
    * top-SQ_K of the pinned queries.
    */
  private def pqArmCtes(p: String, subs: String, cent: String) =
    s"""${p}cw AS (
          SELECT sub, cluster AS cw, cvec, ${norm2Sql("cvec")} AS cc
          FROM $cent),
        ${p}enc AS (
          SELECT vec_id, sub, cw, sdist FROM (
            SELECT vec_id, sub, cw, sdist, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY sdist ASC, cw ASC) AS rn
            FROM (
              SELECT s.vec_id, s.sub, c.cw,
                ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")}
                  + c.cc AS sdist
              FROM $subs s JOIN ${p}cw c USING (sub)))
          WHERE rn = 1),
        ${p}adc AS (
          SELECT s.vec_id AS query_id, s.sub, c.cw,
            ${norm2Sql("s.svec")} - 2 * ${dotSql("s.svec", "c.cvec")} + c.cc
              AS qd
          FROM $subs s JOIN ${p}cw c USING (sub)
          WHERE s.vec_id % $QMOD = 0),
        ${p}top AS (
          ${rankCutSql("query_id, corpus_id", s"""(
            SELECT a.query_id, e.vec_id AS corpus_id,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list(a.qd ORDER BY a.sub)), (x, y) -> x + y) AS adist
            FROM ${p}enc e
            JOIN ${p}adc a ON a.sub = e.sub AND a.cw = e.cw
            WHERE a.query_id != e.vec_id
            GROUP BY a.query_id, e.vec_id)""", "adist ASC", SQ_K)})"""

  // -- V24: k-means-TRAINED PQ codebooks vs untrained seeds — the
  //    FAISS training step, measured: both rungs share the SAME 32
  //    hash-seeded initial codewords per subspace; one encodes with
  //    them raw, the other after PQKM_ITERS Lloyd rounds
  //    (Similarity.pqCodebooksKMeans → KMeans.fitCentroidArrays:
  //    exact-decimal argmin, 6-decimal rounded means — the q102
  //    discipline, which is also what makes the trained model
  //    oracle-able: the oracle unrolls the same rounds as CTEs over
  //    (sub, cluster)). Recall@K against the exact float top-K on the
  //    pinned query set isolates exactly what TRAINING buys at
  //    identical code size (sf0.01: 0.28 seeds → 0.38 trained;
  //    the √n donor codebook of q149's 'pq' rung sits at 0.24).
  private val PQKM_K = 32
  private val PQKM_ITERS = 2

  private val q159 = Q(
    "q159_pq_kmeans_ladder",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      // the three eager chains — brute exact baseline, trained
      // codebooks, seed codebooks — are independent until the final
      // recall join
      val Seq(exact, cbK, cbS) = Overlap.all(Seq(
        () => exactTopK(t.embeddings, queries, SQ_K),
        () => Similarity.pqCodebooksKMeans(t.embeddings, "vec_id",
          "embedding", PQ_M, PQKM_K, PQKM_ITERS),
        () => Similarity.pqCodebooksKMeans(t.embeddings, "vec_id",
          "embedding", PQ_M, PQKM_K, 0)))
      def rung(name: String, cb: DataFrame) = {
        val enc = Similarity.pqEncode(t.embeddings, "vec_id", "embedding",
          PQ_M, cb)
        recallRow(lit(name).as("method"), exact,
          Similarity.pqAdcTopK(enc, queries, "vec_id", "embedding", PQ_M,
              cb, SQ_K)
            .select(col("query_id"), col("corpus_id")))
      }
      rung("pq_kmeans", cbK).unionByName(rung("pq_seed", cbS))
        .orderBy(col("method"))
    },
    Some(s"""WITH ${pqSubsCte("", "embeddings")},
      $pqKSeedCte,
      ${pqKMeansCtes("")},
      ${pqArmCtes("ks", "subs", "kcent0")},
      ${pqArmCtes("km", "subs", s"kcent$PQKM_ITERS")},
      ${normCte("v3")},
      ${cosineExactCtes("v3", "scoredx3", "exact3", SQ_K)},
      tot3 AS (SELECT count(*) AS n_total FROM exact3)
      ${recallSql("method", Seq("'pq_kmeans'" -> "kmtop",
        "'pq_seed'" -> "kstop"), "exact3", "tot3")}"""))

  // -- V22b: OPQ rung — parametric optimized product quantization by
  //    argmin-quantization-error selection over the orthogonal-
  //    transform family {identity, energy-snake permutation}
  //    ([[graft.operators.Opq]]). Three rows: the identity arm
  //    ('pq_kmeans', q159's trained rung verbatim), the permuted arm
  //    ('opq_snake'), and 'opq_selected' = whichever arm minimizes the
  //    exact-decimal total quantization error — the literal OPQ
  //    training objective. recall(opq_selected) ≥ recall(pq_kmeans)
  //    whenever identity wins selection (always, on this near-isotropic
  //    corpus: MSE 0.4545 vs 0.4569 per vector at sf0.01 — measured,
  //    and exactly WHY blind rotation is the wrong default); on
  //    anisotropic corpora the permutation earns its way in through the
  //    same argmin. MSE is Σ over (vector, subspace) of the encode-time
  //    ‖s−c‖² (the pqEncode dot-identity double, bit-identical per row
  //    cross-engine), accumulated as DECIMAL(28,8)→(38,8) so the
  //    selection compares exact numbers, not float-summation luck.
  private val q231 = Q(
    "q231_opq_rung",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val emb = t.embeddings
      val queries = emb.filter(col("vec_id") % QMOD === 0)
      // the exact brute baseline and the train+encode chain are
      // independent until the final recall join. The exact float top-K
      // is on the ORIGINAL vectors: the shared recall denominator for
      // both arms (a permutation preserves true cosine exactly; only
      // the quantized approximations differ)
      val (exact, (rotQ, cbBoth, encBoth)) = Overlap(
        exactTopK(emb, queries, SQ_K), {
        // transform model: d rows of exact-decimal energy → permutation
        // (bounded driver state, the k-means-centroid discipline)
        val perm = graft.operators.Opq.energySnakePerm(emb, "embedding",
          PQ_M)
        val rotQ = emb.select(col("vec_id"),
            graft.operators.Opq.permuteCol(col("embedding"), perm)
              .as("embedding"))
          .filter(col("vec_id") % QMOD === 0)
        // ONE k-means dataflow for BOTH arms: per-subspace fits are
        // independent, so training the concatenated (original ++
        // permuted) 2d-dim vectors at 2m subspaces yields bit-identical
        // per-arm codebooks (same seed rows, same slices) while halving
        // the Lloyd corpus passes and driver round-trips — ~5% wall
        // locally (18.0 vs 18.9 s same-session at sf0.1) and half the
        // scheduling barriers on a real cluster, where driver rounds
        // dominate iterative fits. Slices 0..m-1 = identity arm,
        // m..2m-1 = the permuted arm (sub re-based).
        val both = emb.select(col("vec_id"),
          concat(col("embedding"),
            graft.operators.Opq.permuteCol(col("embedding"), perm))
            .as("embedding"))
        val cbBoth = Similarity.pqCodebooksKMeans(both, "vec_id",
            "embedding", 2 * PQ_M, PQKM_K, PQKM_ITERS)
          .localCheckpoint(true)
        // ONE encode dataflow for BOTH arms, same trick as training:
        // encoding the concatenated vectors at 2m subspaces yields
        // bit-identical per-(vec, sub) code rows (subLen = 2d/2m = d/m,
        // so slices 0..m-1 ARE the identity arm and m..2m-1 the
        // permuted arm; each (vec, sub) max_by group is untouched by
        // the union) — one corpus scan + one checkpoint instead of two
        // of each.
        val encBoth = Similarity.pqEncode(both, "vec_id", "embedding",
          2 * PQ_M, cbBoth).localCheckpoint(true)
        (rotQ, cbBoth, encBoth)
      })
      val cbId = cbBoth.filter(col("sub") < PQ_M)
      val cbOp = cbBoth.filter(col("sub") >= PQ_M)
        .withColumn("sub", (col("sub") - PQ_M).cast("int"))
      val encId = encBoth.filter(col("sub") < PQ_M)
      val encOp = encBoth.filter(col("sub") >= PQ_M)
        .withColumn("sub", (col("sub") - PQ_M).cast("int"))
      def arm(name: String, enc: DataFrame, qs: DataFrame, cb: DataFrame) = {
        val mse = enc.agg(sum(col("sdist").cast("decimal(28,8)"))
          .as("mse_sum"))
        val top = Similarity.pqAdcTopK(
            enc.select(col("vec_id"), col("sub"), col("cw")),
            qs, "vec_id", "embedding", PQ_M, cb, SQ_K)
          .select(col("query_id"), col("corpus_id"))
        recallRow(lit(name).as("method"), exact, top)
          .crossJoin(broadcast(mse))
          .select(col("method"), col("n_hits"), col("n_total"),
            col("mse_sum"))
      }
      // both arms evaluate in ONE action (their stage trees share the
      // checkpointed encBoth/exact and run concurrently); the argmin
      // selection is then a 2-row driver fold — the bounded-cell
      // discipline — replacing two arm checkpoints, a cross-join, and
      // a 3-way distributed union. Driver math replays the Spark
      // program exactly: decimal compareTo for the argmin (`<=` on
      // DECIMAL(38,8)), BigDecimal.doubleValue for the decimal→double
      // cast, floor(x·10^d + 0.5)/10^d for pround.
      val armRows = arm("pq_kmeans", encId, queries, cbId)
        .unionByName(arm("opq_snake", encOp, rotQ, cbOp))
        .collect()
      val byName = armRows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDecimal(3)))).toMap
      val (aH, aT, aM) = byName("pq_kmeans")
      val (bH, bT, bM) = byName("opq_snake")
      // loud contract (the Tiff/domain-cap discipline): a null
      // mse_sum (sum over an EMPTY encode frame) or zero exact total
      // means the corpus is too small for the rung — fail with the
      // cause, never NPE in compareTo / divide into NaN
      require(aM != null && bM != null && aT > 0 && bT > 0,
        s"q231: empty encode/exact frame (mse pq=$aM opq=$bM, " +
          s"totals $aT/$bT) — corpus too small for the OPQ rung")
      val sel = if (aM.compareTo(bM) <= 0) (aH, aT, aM) else (bH, bT, bM)
      def pr(x: Double, d: Double) = math.floor(x * d + 0.5) / d
      Seq(("pq_kmeans", aH, aT, aM), ("opq_snake", bH, bT, bM),
          ("opq_selected", sel._1, sel._2, sel._3))
        .map { case (nm, h, tt, ms) =>
          (nm, h, tt, pr(h.toDouble / tt.toDouble, 1e4),
            pr(ms.doubleValue, 1e6)) }
        .toDF("method", "n_hits", "n_total", "recall", "mse")
        .orderBy(col("method"))
    },
    Some {
      def armSql(p: String, method: String) =
        s"""${pqArmCtes(p, s"${p}subs", s"${p}kcent$PQKM_ITERS")},
        ${p}mse AS (
          SELECT sum(CAST(sdist AS DECIMAL(28,8))) AS mse_sum
          FROM ${p}enc),
        ${p}row AS (
          SELECT '$method' AS method,
            ${hitsSql("exactq", s"${p}top")}
              AS n_hits,
            (SELECT n_total FROM totq) AS n_total,
            (SELECT mse_sum FROM ${p}mse) AS mse_sum)"""
      s"""WITH dimstats AS (
        SELECT t.p AS dim,
          sum(CAST(CAST(e.embedding[t.p] AS DOUBLE)
            * CAST(e.embedding[t.p] AS DOUBLE) AS DECIMAL(28,8))) AS sxx
        FROM embeddings e
        CROSS JOIN (SELECT unnest(generate_series(1, $SQ_DIMS)) AS p) t
        GROUP BY t.p),
      permt AS (
        SELECT dim,
          CASE WHEN (r // $PQ_M) % 2 = 0 THEN r % $PQ_M
               ELSE ${PQ_M - 1} - (r % $PQ_M) END AS sub,
          r // $PQ_M AS pos
        FROM (SELECT dim, row_number() OVER (ORDER BY sxx DESC, dim) - 1
                AS r FROM dimstats)),
      rotv AS MATERIALIZED (
        SELECT e.vec_id, list(e.embedding[p.dim] ORDER BY p.sub, p.pos)
          AS embedding
        FROM embeddings e CROSS JOIN permt p
        GROUP BY e.vec_id),
      $pqKSeedCte,
      ${pqSubsCte("id", "embeddings")},
      ${pqSubsCte("op", "rotv")},
      ${pqKMeansCtes("id")},
      ${pqKMeansCtes("op")},
      ${normCte("vq")},
      ${cosineExactCtes("vq", "scoredq", "exactq", SQ_K,
        materialized = true)},
      totq AS (SELECT count(*) AS n_total FROM exactq),
      ${armSql("id", "pq_kmeans")},
      ${armSql("op", "opq_snake")}
      SELECT method, n_hits, n_total,
        ${proundSql("CAST(n_hits AS DOUBLE) / n_total", 4)} AS recall,
        ${proundSql("CAST(mse_sum AS DOUBLE)", 6)} AS mse
      FROM (
        SELECT method, n_hits, n_total, mse_sum FROM idrow
        UNION ALL
        SELECT method, n_hits, n_total, mse_sum FROM oprow
        UNION ALL
        SELECT 'opq_selected' AS method,
          CASE WHEN i.mse_sum <= o.mse_sum THEN i.n_hits ELSE o.n_hits END
            AS n_hits,
          i.n_total AS n_total,
          CASE WHEN i.mse_sum <= o.mse_sum THEN i.mse_sum ELSE o.mse_sum END
            AS mse_sum
        FROM idrow i, oprow o)
      ORDER BY method"""
    })

  // -- V23: PQ reconstruction-error profile, raw vs RESIDUAL — the
  //    reconstruction-side answer to what residual encoding buys
  //    (q149 gives the ranking side; q148 is SQ8's version of this):
  //    per method, mean/max absolute element error and the
  //    error-to-magnitude ratio of x̂ = codeword (raw) vs
  //    x̂ = centroid + residual-codeword. Error sums accumulate as
  //    exact DECIMALs (q148's idiom) so the profile is
  //    order-independent; every per-element double op is pure
  //    two-operand arithmetic, so both engines agree bit-for-bit.
  //    MEASURED at sf0.01: residual mean |err| 0.091 vs raw 0.080 —
  //    slightly WORSE at reconstruction while clearly better at
  //    ranking (q149: 0.36 vs 0.24). Both can be true with donor
  //    codebooks: seed-member centroids inject their own noise into
  //    every reconstructed element, but within a probed cell the
  //    residual grid is locally finer, which is what ADC ranking
  //    feels. The two marts exist together precisely so a rollout
  //    reads BOTH costs instead of assuming one implies the other.
  private val q158 = Q(
    "q158_pq_recon_profile",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val t = Tpch(s, dir)
      val sl = SQ_DIMS / PQ_M
      val sm = Similarity.sqrtSeedMod(t.embeddings.count())
      def profile(name: String, errCol: org.apache.spark.sql.DataFrame) =
        errCol.agg(count(lit(1)).as("n_elems"),
            sum(col("err").cast(DecimalType(38, 8))).cast("double")
              .as("serr"),
            max(col("err")).as("max_err"))
          .select(lit(name).as("method"), col("n_elems"),
            col("serr"), col("max_err"))
      // raw PQ: x̂_sub = assigned codeword subvector
      val cb = Similarity.pqCodebooks(t.embeddings, "vec_id", "embedding",
        PQ_M, sm)
      val enc = Similarity.pqEncode(t.embeddings, "vec_id", "embedding",
        PQ_M, cb)
      val rawErr = enc
        .join(broadcast(cb.select(col("sub"), col("cw"), col("cvec"))),
          Seq("sub", "cw"))
        .join(t.embeddings.select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
        .select(explode(zip_with(
          slice(col("embedding"), col("sub") * sl + 1, lit(sl)), col("cvec"),
          (x, c) => abs(x.cast("double") - c.cast("double")))).as("err"))
      // residual PQ: x̂_sub = centroid subvector + residual codeword
      val seeds = Similarity.seedCentroids(
        t.embeddings, "vec_id", "embedding", SEEDMOD)
      val assigned = Similarity.ivfAssign(
        t.embeddings, "vec_id", "embedding", seeds).localCheckpoint()
      val res = Similarity.ivfResiduals(assigned, "vec_id", "embedding", seeds)
      val rcb = Similarity.pqCodebooks(res, "vec_id", "rvec", PQ_M, sm)
      val renc = Similarity.pqEncode(res, "vec_id", "rvec", PQ_M, rcb)
      val recon = zip_with(
        slice(col("ccvec"), col("sub") * sl + 1, lit(sl)), col("rcvec"),
        (c, r) => c.cast("double") + r)
      val resErr = renc
        .join(broadcast(rcb.select(col("sub"), col("cw"),
          col("cvec").as("rcvec"))), Seq("sub", "cw"))
        .join(assigned.select(col("vec_id"), col("embedding"), col("cell")),
          Seq("vec_id"))
        .join(broadcast(seeds.select(col("cell"), col("cvec").as("ccvec"))),
          Seq("cell"))
        .select(explode(zip_with(
          slice(col("embedding"), col("sub") * sl + 1, lit(sl)), recon,
          (x, rec) => abs(x.cast("double") - rec))).as("err"))
      val mags = t.embeddings
        .select(explode(col("embedding")).as("x"))
        .agg(sum(abs(col("x").cast("double")).cast(DecimalType(38, 8)))
          .cast("double").as("sabs"))
      profile("pq", rawErr).unionByName(profile("ivfpq_res", resErr))
        .crossJoin(broadcast(mags))
        .select(col("method"), col("n_elems"),
          pround(col("serr") / col("n_elems"), 8).as("mean_err"),
          pround(col("max_err"), 8).as("max_err"),
          pround(col("serr") / col("sabs"), 6).as("rel_err"))
        .orderBy(col("method"))
    },
    Some {
      val sl = SQ_DIMS / PQ_M
      s"""WITH ${pqBaseSql},
      ${residualPqSql.trim},
      rawerr AS (
        SELECT unnest(list_transform(generate_series(1, $sl), i ->
          abs(CAST(v.embedding[e.sub * $sl + i] AS DOUBLE)
            - CAST(c.cvec[i] AS DOUBLE)))) AS err
        FROM enc e
        JOIN codebook c ON c.sub = e.sub AND c.cw = e.cw
        JOIN embeddings v ON v.vec_id = e.vec_id),
      reserr AS (
        SELECT unnest(list_transform(generate_series(1, $sl), i ->
          abs(CAST(v2.embedding[e.sub * $sl + i] AS DOUBLE)
            - (CAST(s.svec[e.sub * $sl + i] AS DOUBLE) + c.cvec[i]))))
          AS err
        FROM renc e
        JOIN rcodebook c ON c.sub = e.sub AND c.cw = e.cw
        JOIN assign2 a ON a.vec_id = e.vec_id
        JOIN seeds2 s ON s.cell = a.cell
        JOIN v2 ON v2.vec_id = e.vec_id),
      mags AS (
        SELECT CAST(sum(CAST(abs(CAST(x AS DOUBLE)) AS DECIMAL(38,8)))
          AS DOUBLE) AS sabs
        FROM (SELECT unnest(embedding) AS x FROM embeddings)),
      prof AS (
        SELECT 'pq' AS method, count(*) AS n_elems,
          CAST(sum(CAST(err AS DECIMAL(38,8))) AS DOUBLE) AS serr,
          max(err) AS max_err
        FROM rawerr
        UNION ALL
        SELECT 'ivfpq_res', count(*),
          CAST(sum(CAST(err AS DECIMAL(38,8))) AS DOUBLE), max(err)
        FROM reserr)
      SELECT method, n_elems,
        ${proundSql("serr / n_elems", 8)} AS mean_err,
        ${proundSql("max_err", 8)} AS max_err,
        ${proundSql("serr / (SELECT sabs FROM mags)", 6)} AS rel_err
      FROM prof
      ORDER BY method"""
    })

  // -- V21: ANN fidelity ladder — recall@K of BOTH compressed paths
  //    (SQ8 integer ranking, PQ/ADC) against the exact float top-K on
  //    the SAME pinned query set: the measured answer to "what does
  //    each compression rung cost in retrieval quality" (q148 gives
  //    the RECONSTRUCTION side; this is the RANKING side). Overlap
  //    counts are integers; recall is one exactly-rounded division.
  private val q149 = Q(
    "q149_ann_fidelity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      // the brute exact top-K fills the executors while the codebook
      // trainings and the residual chain back-fill the idle cores
      val Seq(exact, sq, pq, rpq, bin) = Overlap.all(Seq(
        () => exactTopK(t.embeddings, queries, SQ_K),
        () => Similarity.sqTopK(t.embeddings, queries, "vec_id",
            "embedding", SQ_K)
          .select(col("query_id"), col("corpus_id")),
        () => pqTopK(t.embeddings, queries, SQ_K)
          .select(col("query_id"), col("corpus_id")),
        // residual rung: q153's full composition (IVF cells + residual
        // codes + per-cell LUTs) at the production nprobe — the
        // measured answer to "what does residual encoding buy at the
        // same m"
        () => {
          val seeds = Similarity.seedCentroids(
            t.embeddings, "vec_id", "embedding", SEEDMOD)
          val assigned = Similarity.ivfAssign(
            t.embeddings, "vec_id", "embedding", seeds).localCheckpoint()
          val res = Similarity.ivfResiduals(assigned, "vec_id",
            "embedding", seeds)
          val sm = Similarity.sqrtSeedMod(t.embeddings.count())
          val rcb = Similarity.pqCodebooks(res, "vec_id", "rvec", PQ_M, sm)
          val renc = Similarity.pqEncode(res, "vec_id", "rvec", PQ_M, rcb)
          Similarity.ivfPqResidualTopK(renc,
              assigned.select(col("vec_id"), col("cell")), seeds, queries,
              "vec_id", "embedding", PQ_M, rcb, NPROBE, SQ_K)
            .select(col("query_id"), col("corpus_id"))
        },
        // binary rung: 1 bit/dim, hamming ranking — the floor of the
        // ladder (what the cheapest possible code costs in recall)
        () => Similarity.binTopK(t.embeddings, queries, "vec_id",
            "embedding", SQ_DIMS, SQ_K)
          .select(col("query_id"), col("corpus_id"))))
      Seq("pq" -> pq, "sq8" -> sq, "ivfpq_res" -> rpq, "bin" -> bin)
        .map { case (name, m) => recallRow(lit(name).as("method"), exact, m) }
        .reduce(_ unionByName _).orderBy(col("method"))
    },
    Some(s"""WITH ${normCte("v")},
      ${cosineExactCtes("v", "scoredx", "exact", SQ_K)},
      ${sq8TopCtes("query_id, corpus_id", SQ_K)},
      $pqBaseSql,
      ${pqAdcCtes("pq", "query_id, corpus_id", SQ_K)},
      ${residualPqSql.trim},
      ${residualProbeSql(QMOD, NPROBE).trim},
      rtop AS (
        ${rankCutSql("query_id, corpus_id", "rdists", "adist ASC", SQ_K)}),
      ${binTopCtes(SQ_K)},
      tot AS (SELECT count(*) AS n_total FROM exact)
      ${recallSql("method", Seq("'pq'" -> "pq", "'sq8'" -> "sq8",
        "'ivfpq_res'" -> "rtop", "'bin'" -> "binm"), "exact", "tot")}"""))

  // -- S25: nDCG@K of the compression rungs — the RANK-SENSITIVE
  //    fidelity metric next to q149's recall (recall counts set
  //    membership; nDCG pays more for errors near the top, the number
  //    an IR evaluation actually reports). Binary relevance = "in the
  //    exact float top-K", so every query has exactly K relevant items
  //    and IDCG is the constant Σ 1/log₂(r+1). The discount table is
  //    SCALED-INTEGER LITERALS (millionths of 1/log₂(r+1), derivation
  //    in the comment below) — per-query DCG is an integer sum, order-
  //    independent and libm-free (the PageRank integer discipline);
  //    the only division is the final exactly-rounded mean. Same scan
  //    shapes as q149's sq8/pq rungs.
  //    g[r] = round(10⁶ / log₂(r+1)), r = 1..5; IDCG = Σ g = 2948460.
  private val NDCG_G = Seq(1000000L, 630930L, 500000L, 430677L, 386853L)
  private val NDCG_IDCG = NDCG_G.sum
  private val q165 = Q(
    "q165_ann_ndcg",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val exact = exactTopK(t.embeddings, queries, SQ_K)
      val sq = Similarity.sqTopK(t.embeddings, queries, "vec_id",
          "embedding", SQ_K)
        .select(col("query_id"), col("corpus_id"), col("rank"))
      val pq = pqTopK(t.embeddings, queries, SQ_K)
        .select(col("query_id"), col("corpus_id"), col("rank"))
      val gains = array(NDCG_G.map(lit): _*)
      val nqDf = queries.agg(count(lit(1)).as("n_queries"))
      def row(name: String, m: org.apache.spark.sql.DataFrame) = {
        val perq = m.join(exact, Seq("query_id", "corpus_id"))
          .select(col("query_id"),
            element_at(gains, col("rank")).as("g"))
          .groupBy(col("query_id"))
          .agg(sum(col("g")).as("dcg"), count(lit(1)).as("nh"))
        perq.agg(
            sum(col("dcg")).as("__dcg"),
            sum(when(col("nh") === SQ_K, 1L).otherwise(0L)).as("__perf"))
          .crossJoin(broadcast(nqDf))
          .select(lit(name).as("method"), col("n_queries"),
            coalesce(col("__perf"), lit(0L)).as("n_perfect"),
            pround(coalesce(col("__dcg"), lit(0L)).cast("double") /
              (col("n_queries") * lit(NDCG_IDCG)), 6).as("mean_ndcg"))
      }
      row("pq", pq).unionByName(row("sq8", sq)).orderBy(col("method"))
    },
    Some {
      val gList = NDCG_G.mkString("[", ", ", "]")
      s"""WITH ${pqBaseSql},
      ${normCte("v")},
      ${cosineExactCtes("v", "scoredx", "exact", SQ_K)},
      ${sq8TopCtes("query_id, corpus_id, rank", SQ_K)},
      ${pqAdcCtes("pq", "query_id, corpus_id, rank", SQ_K)},
      nq AS (
        SELECT count(*) AS n_queries FROM embeddings
        WHERE vec_id % $QMOD = 0),
      sqperq AS (
        SELECT m.query_id,
          CAST(sum(($gList)[m.rank]) AS BIGINT) AS dcg,
          count(*) AS nh
        FROM sq8 m JOIN exact e
          ON e.query_id = m.query_id AND e.corpus_id = m.corpus_id
        GROUP BY m.query_id),
      pqperq AS (
        SELECT m.query_id,
          CAST(sum(($gList)[m.rank]) AS BIGINT) AS dcg,
          count(*) AS nh
        FROM pq m JOIN exact e
          ON e.query_id = m.query_id AND e.corpus_id = m.corpus_id
        GROUP BY m.query_id)
      SELECT method, n_queries, n_perfect,
        ${proundSql(
          s"CAST(dcg AS DOUBLE) / (n_queries * $NDCG_IDCG)", 6)}
          AS mean_ndcg
      FROM (
        SELECT 'pq' AS method, nq.n_queries,
          coalesce((SELECT CAST(sum(CASE WHEN nh = $SQ_K THEN 1 ELSE 0
            END) AS BIGINT) FROM pqperq), 0) AS n_perfect,
          coalesce((SELECT CAST(sum(dcg) AS BIGINT) FROM pqperq), 0)
            AS dcg
        FROM nq
        UNION ALL
        SELECT 'sq8' AS method, nq.n_queries,
          coalesce((SELECT CAST(sum(CASE WHEN nh = $SQ_K THEN 1 ELSE 0
            END) AS BIGINT) FROM sqperq), 0) AS n_perfect,
          coalesce((SELECT CAST(sum(dcg) AS BIGINT) FROM sqperq), 0)
            AS dcg
        FROM nq)
      ORDER BY method"""
    })

  // -- V27: BINARY (1-bit) quantization top-k — the most compressed
  //    rung of the matrix (float32 q27 → SQ8 q132 → PQ q101 → here):
  //    sign bits packed into one 64-bit word, ranking by hamming
  //    distance (integer — bit-stable like SQ8, no rounding needed).
  //    1 bit/dim: a 100 TB float corpus scans as 400 GB of codes.
  private val q176 = Q(
    "q176_binary_ann",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.binTopK(t.embeddings, queries, "vec_id", "embedding",
          SQ_DIMS, SQ_K)
        .select(col("query_id"), col("rank"), col("corpus_id"),
          col("hamming"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          CAST(list_reduce(list_prepend(0,
            list_transform(generate_series(1, $SQ_DIMS),
              i -> CASE WHEN (q.embedding[i] > 0) != (c.embedding[i] > 0)
                   THEN 1 ELSE 0 END)), (x, y) -> x + y) AS BIGINT)
            AS hamming
        FROM (SELECT * FROM embeddings WHERE vec_id % $QMOD = 0) q
        JOIN embeddings c ON q.vec_id != c.vec_id)
      SELECT query_id, rank, corpus_id, hamming
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, corpus_id ASC) AS rank FROM ham)
      WHERE rank <= $SQ_K
      ORDER BY query_id, rank"""))

  // -- V28: IVF-BIN cell-pruned binary search — closes the
  //    {brute, IVF} × {float32, SQ8, PQ, binary} matrix: q176's
  //    packed-hamming ranking confined to the probed IVF cells
  //    (q136's shape at 1 bit/dim of candidate bandwidth — the
  //    cheapest index probe in the engine).
  private val q181 = Q(
    "q181_ivf_bin_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.ivfBinTopK(t.embeddings, queries, "vec_id", "embedding",
          SQ_DIMS, SEEDMOD, NPROBE, SQ_K)
        .select(col("query_id"), col("cell"), col("rank"),
          col("corpus_id"), col("hamming"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      ${ivfProbeCte(QMOD, NPROBE)},
      enc AS (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN embedding[i] > 0 THEN 1 ELSE 0 END) AS b
        FROM embeddings),
      scored AS (
        SELECT p.query_id, p.cell, a.vec_id AS corpus_id,
          CAST(list_reduce(list_prepend(0,
            list_transform(list_zip(qe.b, ce.b),
              pr -> CASE WHEN pr[1] != pr[2] THEN 1 ELSE 0 END)),
            (x, y) -> x + y) AS BIGINT) AS hamming
        FROM probe p
        JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
        JOIN enc qe ON qe.vec_id = p.query_id
        JOIN enc ce ON ce.vec_id = a.vec_id)
      SELECT query_id, cell, rank, corpus_id, hamming
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, corpus_id ASC) AS rank FROM scored)
      WHERE rank <= $SQ_K
      ORDER BY query_id, rank"""))

  // -- V29: MMR diverse top-k (Carbonell & Goldstein 1998) — greedy
  //    λ·rel − (1−λ)·max-sim-to-selected over a bounded top-candN
  //    candidate pool: the selection rule behind diversity-aware
  //    retrieval and few-shot example picking. k dataframe rounds
  //    (query-keyed, no driver data path — scales to millions of
  //    queries); the oracle replays all k greedy rounds as unrolled
  //    CTEs (the q107/q159/q161 discipline). λ = 0.5 is binary-exact
  //    so both engines run the identical float program.
  private val MMR_N = 15
  private val MMR_K = 5
  private val MMR_LAM = 0.5
  private val q182 = Q(
    "q182_mmr_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      Similarity.mmrTopK(t.embeddings, queries, "vec_id", "embedding",
          MMR_N, MMR_K, MMR_LAM)
        .select(col("query_id"), col("step"), col("corpus_id"),
          pround(col("rel"), 6).as("rel"), pround(col("mmr"), 6).as("mmr"))
        .orderBy(col("query_id"), col("step"))
    },
    Some {
      val l = MMR_LAM.toString
      val m = (1.0 - MMR_LAM).toString
      val rounds = (2 to MMR_K).map { st =>
        s"""cand$st AS (
          SELECT r.query_id, r.corpus_id, r.rel, max(si.sim) AS ms
          FROM rel r
          JOIN sims si ON si.query_id = r.query_id AND si.ca = r.corpus_id
          JOIN u${st - 1} u ON u.query_id = si.query_id AND u.corpus_id = si.cb
          WHERE NOT EXISTS (SELECT 1 FROM u${st - 1} x
            WHERE x.query_id = r.query_id AND x.corpus_id = r.corpus_id)
          GROUP BY 1, 2, 3),
        sel$st AS (
          SELECT query_id, $st AS step, corpus_id, rel,
            $l * rel - $m * ms AS mmr
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY $l * rel - $m * ms DESC, corpus_id ASC) AS rn
                FROM cand$st)
          WHERE rn = 1),
        u$st AS (SELECT query_id, corpus_id FROM u${st - 1}
          UNION ALL SELECT query_id, corpus_id FROM sel$st)"""
      }.mkString(",\n        ")
      val arms = (1 to MMR_K).map(st => s"SELECT * FROM sel$st")
        .mkString("\n        UNION ALL ")
      s"""WITH ${normCte("v")},
      scoredm AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
        JOIN v c ON q.vec_id != c.vec_id),
      rel AS (
        SELECT query_id, corpus_id, cosine AS rel
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, corpus_id ASC) AS rank FROM scoredm)
        WHERE rank <= $MMR_N),
      sims AS (
        SELECT a.query_id, a.corpus_id AS ca, b.corpus_id AS cb,
          ${dotSql("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm)
            AS sim
        FROM rel a
        JOIN rel b ON a.query_id = b.query_id AND a.corpus_id != b.corpus_id
        JOIN v va ON va.vec_id = a.corpus_id
        JOIN v vb ON vb.vec_id = b.corpus_id),
      sel1 AS (
        SELECT query_id, 1 AS step, corpus_id, rel, $l * rel AS mmr
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY $l * rel DESC, corpus_id ASC) AS rn FROM rel)
        WHERE rn = 1),
      u1 AS (SELECT query_id, corpus_id FROM sel1),
      $rounds
      SELECT query_id, step, corpus_id,
        ${proundSql("rel", 6)} AS rel, ${proundSql("mmr", 6)} AS mmr
      FROM ($arms)
      ORDER BY query_id, step"""
    })

  // -- V30: IVF nprobe RECALL CURVE — the measured error bars for the
  //    nprobe dial (the q115/q140/q168 audit discipline applied to the
  //    IVF index): recall@K of the cell-pruned search vs the exact
  //    float top-K at nprobe ∈ {1, 2, 4} on the same pinned queries —
  //    the curve that tells an operator what each probe buys BEFORE
  //    they pick the production setting. Exact side is the brute
  //    baseline (bench-gated, 10×-excluded with q149's reason; the
  //    audit runs where the baseline is computable).
  private val NPROBE_CURVE = Seq(1, 2, 4)
  private val q184 = Q(
    "q184_ivf_nprobe_curve",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val exact = exactTopK(t.embeddings, queries, SQ_K)
      val rows = NPROBE_CURVE.map { np =>
        recallRow(lit(np).as("nprobe"), exact,
          Similarity.ivfTopK(t.embeddings, queries, "vec_id", "embedding",
              SEEDMOD, np, SQ_K)
            .select(col("query_id"), col("corpus_id")))
      }
      rows.reduce(_ unionByName _).orderBy(col("nprobe"))
    },
    Some {
      def scoredCte(np: Int) = s"""
      probe$np AS (
        SELECT query_id, cell FROM probeall WHERE rn <= $np),
      scored$np AS (
        SELECT p.query_id, a.vec_id AS corpus_id,
          ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM probe$np p
        JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = a.vec_id)"""
      s"""WITH ${normCte("v")},
      ${ivfAssignCtes()},
      ${ivfProbeCte(QMOD, NPROBE_CURVE.max, name = "probeall",
        keepRn = true)},
      ${cosineExactCtes("v", "exscored", "exact", SQ_K)},
      ${NPROBE_CURVE.map(scoredCte).mkString(",")},
      tot AS (SELECT count(*) AS n_total FROM exact)
      ${recallSql("nprobe", NPROBE_CURVE.map(np => s"$np" -> s"""(
        ${rankCutSql("query_id, corpus_id", s"scored$np", "cosine DESC",
          SQ_K)})"""), "exact", "tot")}"""
    })

  // -- V31: MRR@K of the compression rungs — the third retrieval-
  //    fidelity metric (q149 recall = set membership, q165 nDCG =
  //    graded rank weight, MRR = WHERE DOES THE FIRST GOOD HIT LAND,
  //    the navigational-search number). Relevant = exact-top-K
  //    membership; per-query reciprocal rank as the SCALED INTEGER
  //    60/first_rank (60 = lcm(1..5), so every reciprocal is exact —
  //    q165's discipline, no float accumulation), summed exactly and
  //    divided once. Rungs: SQ8 and binary (the PQ chains are q149's
  //    territory; these two share no codebook machinery).
  private val q193 = Q(
    "q193_ann_mrr",
    (s, dir) => {
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val exact = exactTopK(t.embeddings, queries, SQ_K)
      val nq = queries.count()
      def row(name: String, m: DataFrame) =
        m.join(exact, Seq("query_id", "corpus_id"))
          .groupBy(col("query_id"))
          .agg(min(col("rank")).as("fr"))
          .agg(count(lit(1)).as("n_hit"),
            sum(lit(60L) / col("fr")).as("srr"))
          .select(lit(name).as("method"), lit(nq).as("n_queries"),
            col("n_hit"),
            pround(col("srr").cast("double") / (lit(60.0) * nq), 6)
              .as("mrr"))
      val sq = Similarity.sqTopK(t.embeddings, queries, "vec_id",
          "embedding", SQ_K)
        .select(col("query_id"), col("corpus_id"), col("rank"))
      val bin = Similarity.binTopK(t.embeddings, queries, "vec_id",
          "embedding", SQ_DIMS, SQ_K)
        .select(col("query_id"), col("corpus_id"), col("rank"))
      row("bin", bin).unionByName(row("sq8", sq))
        .orderBy(col("method"))
    },
    Some(s"""WITH ${normCte("v")},
      ${cosineExactCtes("v", "scoredx", "exact", SQ_K)},
      nq AS (SELECT count(*) AS n FROM v WHERE vec_id % $QMOD = 0),
      $sq8CodesCtes,
      sqm AS (
        SELECT query_id, corpus_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_zip(q.q, c.q), pr -> pr[1] * pr[2])),
                (x, y) -> x + y) DESC, c.vec_id ASC) AS rank
          FROM (SELECT * FROM enc8 WHERE vec_id % $QMOD = 0) q
          JOIN enc8 c ON q.vec_id != c.vec_id)
        WHERE rank <= $SQ_K),
      binb AS (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN embedding[i] > 0 THEN 1 ELSE 0 END) AS b
        FROM embeddings),
      binm AS (
        SELECT query_id, corpus_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              list_reduce(list_prepend(0,
                list_transform(list_zip(q.b, c.b),
                  pr -> CASE WHEN pr[1] != pr[2] THEN 1 ELSE 0 END)),
                (x, y) -> x + y) ASC, c.vec_id ASC) AS rank
          FROM (SELECT * FROM binb WHERE vec_id % $QMOD = 0) q
          JOIN binb c ON q.vec_id != c.vec_id)
        WHERE rank <= $SQ_K),
      rr AS (
        SELECT 'bin' AS method, query_id,
          CAST(60 / min(rank) AS BIGINT) AS srr
        FROM binm JOIN exact USING (query_id, corpus_id)
        GROUP BY 1, 2
        UNION ALL
        SELECT 'sq8', query_id, CAST(60 / min(rank) AS BIGINT)
        FROM sqm JOIN exact USING (query_id, corpus_id)
        GROUP BY 1, 2)
      SELECT method, nq.n AS n_queries, count(*) AS n_hit,
        ${proundSql("CAST(sum(srr) AS DOUBLE) / (60.0 * nq.n)", 6)} AS mrr
      FROM rr CROSS JOIN nq
      GROUP BY method, nq.n
      ORDER BY method"""))

  // -- V23: grid-bucketed DBSCAN ([[graft.operators.GridDbscan]]) —
  //    the density-based, noise-aware clusterer k-means can't be: a
  //    curation pass that must SEPARATE outliers (label = noise)
  //    instead of absorbing them into the nearest centroid. Runs on
  //    the 2-D embedding projection; candidate pairs come from the
  //    eps-grid 3×3 equi-join (never all-pairs), cores by neighbor
  //    count, clusters by large-star CC over core-core edges, borders
  //    attached min-label. Every distance is the same fixed IEEE
  //    expression in both engines, so labels are bit-exact. Noise is
  //    reported as cluster −1. Sweep note: the ENGINE scales (bucketed
  //    join + O(log n) CC); the DuckDB oracle's recursive closure is
  //    quadratic per cluster — q43's documented exclusion class.
  private val DB_EPS = 0.02
  private val DB_MINPTS = 4
  private val q249 = Q(
    "q249_dbscan_grid",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pts = t.embeddings.select(col("vec_id").as("id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      val lab = graft.operators.GridDbscan.label(pts, DB_EPS, DB_MINPTS)
        .localCheckpoint(true)
      val clusters = lab.groupBy(col("component").as("cluster_id"))
        .agg(
          sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
          sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
          count(lit(1)).as("n_points"))
      val noise = pts.agg(count(lit(1)).as("np"))
        .crossJoin(broadcast(lab.agg(count(lit(1)).as("nl"))))
        .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
          lit(0L).as("n_border"), (col("np") - col("nl")).as("n_points"))
      clusters.unionByName(noise).orderBy(col("cluster_id"))
    },
    Some(s"""WITH RECURSIVE pts AS MATERIALIZED (
        SELECT vec_id AS id,
          CAST(embedding[1] AS DOUBLE) AS x,
          CAST(embedding[2] AS DOUBLE) AS y,
          CAST(floor(CAST(embedding[1] AS DOUBLE) / CAST($DB_EPS AS DOUBLE))
            AS BIGINT) AS cx,
          CAST(floor(CAST(embedding[2] AS DOUBLE) / CAST($DB_EPS AS DOUBLE))
            AS BIGINT) AS cy
        FROM embeddings),
      near AS MATERIALIZED (
        SELECT a.id AS i, b.id AS j
        FROM pts a JOIN pts b
          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         AND a.id != b.id
         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= CAST(${DB_EPS * DB_EPS} AS DOUBLE)),
      core AS MATERIALIZED (
        SELECT i AS id FROM (SELECT i, count(*) AS c FROM near GROUP BY i)
        WHERE c + 1 >= $DB_MINPTS),
      edges AS MATERIALIZED (
        SELECT i AS a, j AS b FROM near
        WHERE i IN (SELECT id FROM core) AND j IN (SELECT id FROM core)),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (
        SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
      corelab AS MATERIALIZED (
        SELECT c.id AS node, coalesce(m.component, c.id) AS component
        FROM core c LEFT JOIN comp m ON c.id = m.node),
      border AS (
        SELECT n.i AS node, min(cl.component) AS component
        FROM near n JOIN corelab cl ON n.j = cl.node
        WHERE n.i NOT IN (SELECT id FROM core)
        GROUP BY n.i),
      labeled AS MATERIALIZED (
        SELECT node, component, 'core' AS role FROM corelab
        UNION ALL
        SELECT node, component, 'border' FROM border),
      clusters AS (
        SELECT component AS cluster_id,
          CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_core,
          CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_border,
          CAST(count(*) AS BIGINT) AS n_points
        FROM labeled GROUP BY component)
      SELECT cluster_id, n_core, n_border, n_points FROM clusters
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        CAST((SELECT count(*) FROM pts) - (SELECT count(*) FROM labeled)
          AS BIGINT)
      ORDER BY cluster_id"""))

  // -- V24: ADJUSTED RAND INDEX — the chance-corrected agreement
  //    between a cheap geometric partition (equal-width bins of the
  //    first embedding component, min/max broadcast — no global sort)
  //    and the reference labels: ARI = (Σij C(nij,2) − E)/(max − E)
  //    with E = ΣC(ai,2)·ΣC(bj,2)/C(n,2) — every term an exact
  //    integer binomial, two double divisions at the end. The
  //    clustering-metrology closer: q102 fits clusters, q135 balances
  //    them, q185 flags outliers; q262 SCORES a partition against
  //    ground truth. Near-zero ARI here is the honest reading — a
  //    single coordinate of a synthetic isotropic embedding carries
  //    almost no label signal.
  private val ARI_BINS = 10
  private val q262 = Q(
    "q262_ari_agreement",
    (s, dir) => {
      val t = Tpch(s, dir)
      val pts = t.embeddings.select(col("vec_id"), col("label"),
        element_at(col("embedding"), 1).cast("double").as("x"))
      val bounds = pts.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val binned = pts.crossJoin(broadcast(bounds))
        .select(col("label"),
          least(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
            * ARI_BINS).cast("long"), lit(ARI_BINS - 1L)).as("cl"))
      val cont = binned.groupBy(col("cl"), col("label"))
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint(true)
      // integer binomial: n(n−1) is even, so the double division is
      // exact and the long cast restores the BIGINT the oracle sums
      def c2(c: org.apache.spark.sql.Column) =
        (c * (c - 1) / 2).cast("long")
      val sumIdx = cont.agg(sum(c2(col("nij"))).as("s_idx"))
      val sumA = cont.groupBy(col("cl")).agg(sum(col("nij")).as("ai"))
        .agg(sum(c2(col("ai"))).as("s_a"))
      val sumB = cont.groupBy(col("label")).agg(sum(col("nij")).as("bj"))
        .agg(sum(c2(col("bj"))).as("s_b"))
      val nTot = cont.agg(sum(col("nij")).as("n"))
      sumIdx.crossJoin(sumA).crossJoin(sumB).crossJoin(nTot)
        .select(col("n"), col("s_idx"), col("s_a"), col("s_b"),
          pround((col("s_idx").cast("double")
            - col("s_a").cast("double") * col("s_b").cast("double")
              / c2(col("n")).cast("double"))
            / ((col("s_a") + col("s_b")).cast("double") / 2.0
              - col("s_a").cast("double") * col("s_b").cast("double")
                / c2(col("n")).cast("double")), 6).as("ari"))
    },
    Some(s"""WITH pts AS (
        SELECT label, CAST(embedding[1] AS DOUBLE) AS x FROM embeddings),
      bounds AS (SELECT min(x) AS mn, max(x) AS mx FROM pts),
      binned AS (
        SELECT label,
          least(CAST(floor((x - mn) / (mx - mn) * $ARI_BINS) AS BIGINT),
            ${ARI_BINS - 1}) AS cl
        FROM pts CROSS JOIN bounds),
      cont AS MATERIALIZED (
        SELECT cl, label, CAST(count(*) AS BIGINT) AS nij
        FROM binned GROUP BY 1, 2),
      parts AS (
        SELECT
          (SELECT CAST(sum(nij * (nij - 1) / 2) AS BIGINT) FROM cont)
            AS s_idx,
          (SELECT CAST(sum(ai * (ai - 1) / 2) AS BIGINT) FROM
            (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY cl))
            AS s_a,
          (SELECT CAST(sum(bj * (bj - 1) / 2) AS BIGINT) FROM
            (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM cont
             GROUP BY label)) AS s_b,
          (SELECT CAST(sum(nij) AS BIGINT) FROM cont) AS n)
      SELECT n, s_idx, s_a, s_b,
        ${proundSql(
          """(CAST(s_idx AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n * (n - 1) / 2 AS DOUBLE))
            / (CAST(s_a + s_b AS DOUBLE) / 2.0
              - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n * (n - 1) / 2 AS DOUBLE))""", 6)} AS ari
      FROM parts"""))

  // -- V25: RERANK CASCADE — the production retrieval composition the
  //    single-rung queries measure in isolation: IVF-pruned BINARY
  //    hamming generates C1=30 candidates/query (cheapest scan, cell-
  //    pruned), SQ8 integer dot reranks them to C2=10, exact float
  //    cosine finishes the top-5. Three rows measure the ladder: the
  //    binary stage's own top-5 recall (what you'd get stopping
  //    there), the SQ8-cascade top-5, and the full-cascade top-5 —
  //    each with the exact candidate count that stage scored, so the
  //    cost/recall trade of ADDING a refinement stage is the row
  //    delta. Scale shape: stage 1 is q181's broadcast-probe cell
  //    join; stages 2-3 are equi-joins on the ≤ C1·|queries| survivor
  //    set — refinement cost is bounded by the cascade widths, never
  //    the corpus.
  private val CAS_C1 = 30
  private val CAS_C2 = 10
  private val q265 = Q(
    "q265_rerank_cascade",
    (s, dir) => {
      val t = Tpch(s, dir)
      val emb = t.embeddings
      val queries = emb.filter(col("vec_id") % QMOD === 0)
      val exact = exactTopK(emb, queries, SQ_K)
      val s1 = Similarity.ivfBinTopK(emb, queries, "vec_id", "embedding",
          SQ_DIMS, SEEDMOD, NPROBE, CAS_C1)
        .select(col("query_id"), col("corpus_id"), col("rank"))
        .localCheckpoint(true)
      val scales = Similarity.sqScales(emb, "embedding")
      val codes = Similarity.sqEncode(emb, "vec_id", "embedding", scales)
        .localCheckpoint(true)
      val s2 = Similarity.rankCut(s1
          .join(codes.select(col("vec_id").as("query_id"),
            col("sq_code").as("qq")), Seq("query_id"))
          .join(codes.select(col("vec_id").as("corpus_id"),
            col("sq_code").as("cq")), Seq("corpus_id"))
          .select(col("query_id"), col("corpus_id"),
            Similarity.idot(col("cq"), col("qq")).as("iscore")),
          CAS_C2, col("iscore").desc, col("corpus_id").asc)
        .localCheckpoint(true)
      val vn = emb.select(col("vec_id"), col("embedding"),
        sqrt(Similarity.norm2(col("embedding"))).as("nrm"))
      val s3 = cosineTopK(s2.select(col("query_id"), col("corpus_id"))
        .join(vn.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("nrm").as("qn")), Seq("query_id"))
        .join(vn.select(col("vec_id").as("corpus_id"),
          col("embedding").as("cv"), col("nrm").as("cn")), Seq("corpus_id"))
        .select(col("query_id"), col("corpus_id"),
          (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
            .as("cosine")), SQ_K)
      def stageRow(name: String, picks: DataFrame, kept: DataFrame) =
        recallRow(lit(name).as("stage"), exact, picks)
          .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_kept"))))
          .select(col("stage"), col("n_kept"), col("n_hits"),
            col("n_total"), col("recall"))
      stageRow("s1_binary",
          s1.filter(col("rank") <= SQ_K)
            .select(col("query_id"), col("corpus_id")), s1)
        .unionByName(stageRow("s2_sq8",
          s2.filter(col("rank") <= SQ_K)
            .select(col("query_id"), col("corpus_id")), s2))
        .unionByName(stageRow("s3_exact", s3, s3))
        .orderBy(col("stage"))
    },
    Some(s"""WITH v AS MATERIALIZED (
        SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
        FROM embeddings),
      ${ivfAssignCtes(materialized = true)},
      ${ivfProbeCte(QMOD, NPROBE)},
      benc AS MATERIALIZED (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN embedding[i] > 0 THEN 1 ELSE 0 END) AS b
        FROM embeddings),
      s1 AS MATERIALIZED (
        SELECT query_id, corpus_id, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, corpus_id ASC) AS rank
          FROM (
            SELECT p.query_id, a.vec_id AS corpus_id,
              CAST(list_reduce(list_prepend(0,
                list_transform(list_zip(qe.b, ce.b),
                  pr -> CASE WHEN pr[1] != pr[2] THEN 1 ELSE 0 END)),
                (x, y) -> x + y) AS BIGINT) AS hamming
            FROM probe p
            JOIN assign a ON p.cell = a.cell AND a.vec_id != p.query_id
            JOIN benc qe ON qe.vec_id = p.query_id
            JOIN benc ce ON ce.vec_id = a.vec_id))
        WHERE rank <= $CAS_C1),
      dims AS (SELECT unnest(generate_series(1, $SQ_DIMS)) AS pos),
      scales AS (
        SELECT pos, max(abs(CAST(embedding[pos] AS DOUBLE))) AS sv
        FROM embeddings CROSS JOIN dims GROUP BY pos),
      sarr AS (SELECT list(sv ORDER BY pos) AS sc FROM scales),
      enc8 AS MATERIALIZED (
        SELECT vec_id, list_transform(generate_series(1, $SQ_DIMS),
          i -> CASE WHEN sc[i] = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                 / sc[i] + 0.5) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN sarr),
      s2 AS MATERIALIZED (
        SELECT query_id, corpus_id, r2 FROM (
          SELECT s1.query_id, s1.corpus_id,
            row_number() OVER (PARTITION BY s1.query_id
              ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_zip(cq.q, qq.q),
                  pr -> pr[1] * pr[2])), (x, y) -> x + y) DESC,
                s1.corpus_id ASC) AS r2
          FROM s1
          JOIN enc8 qq ON qq.vec_id = s1.query_id
          JOIN enc8 cq ON cq.vec_id = s1.corpus_id)
        WHERE r2 <= $CAS_C2),
      s3 AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
          SELECT s2.query_id, s2.corpus_id,
            row_number() OVER (PARTITION BY s2.query_id
              ORDER BY ${dotSql("qv.embedding", "cv.embedding")}
                / (qv.nrm * cv.nrm) DESC, s2.corpus_id ASC) AS r3
          FROM s2
          JOIN v qv ON qv.vec_id = s2.query_id
          JOIN v cv ON cv.vec_id = s2.corpus_id)
        WHERE r3 <= $SQ_K),
      exact AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${dotSql("q.embedding", "c.embedding")}
                / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rank
          FROM (SELECT * FROM v WHERE vec_id % $QMOD = 0) q
          JOIN v c ON q.vec_id != c.vec_id)
        WHERE rank <= $SQ_K),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM exact)
      SELECT 's1_binary' AS stage,
        (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_kept,
        (SELECT CAST(count(*) AS BIGINT) FROM s1 JOIN exact
          USING (query_id, corpus_id) WHERE rank <= $SQ_K) AS n_hits,
        tot.n_total,
        ${proundSql(
          s"""CAST((SELECT count(*) FROM s1 JOIN exact
             USING (query_id, corpus_id) WHERE rank <= $SQ_K) AS DOUBLE)
             / CAST(tot.n_total AS DOUBLE)""", 4)} AS recall
      FROM tot
      UNION ALL
      SELECT 's2_sq8',
        (SELECT CAST(count(*) AS BIGINT) FROM s2),
        (SELECT CAST(count(*) AS BIGINT) FROM s2 JOIN exact
          USING (query_id, corpus_id) WHERE r2 <= $SQ_K),
        tot.n_total,
        ${proundSql(
          s"""CAST((SELECT count(*) FROM s2 JOIN exact
             USING (query_id, corpus_id) WHERE r2 <= $SQ_K) AS DOUBLE)
             / CAST(tot.n_total AS DOUBLE)""", 4)}
      FROM tot
      UNION ALL
      SELECT 's3_exact',
        (SELECT CAST(count(*) AS BIGINT) FROM s3),
        (SELECT CAST(count(*) AS BIGINT) FROM s3 JOIN exact
          USING (query_id, corpus_id)),
        tot.n_total,
        ${proundSql(
          s"""CAST((SELECT count(*) FROM s3 JOIN exact
             USING (query_id, corpus_id)) AS DOUBLE)
             / CAST(tot.n_total AS DOUBLE)""", 4)}
      FROM tot
      ORDER BY stage"""))

  // -- V46: RESIDUAL vector quantization (RVQ) — the staged FULL-
  //    VECTOR quantizer family next to PQ's subspace split (q100/
  //    q159) and the scalar ladder (q132/q176): stage s fits a
  //    k-codeword Lloyd codebook to the RESIDUAL left by stages < s,
  //    so code budget buys monotone distortion decay (the neural-
  //    codec / RAQ index shape). Both stage codebooks are
  //    KMeans.fitCentroidArrays (exact-decimal argmin, 6-decimal
  //    means — the q102 replay discipline), assignments ride
  //    KMeans.assign's bit-portable double fold, residuals are plain
  //    v − c in double, and per-stage MSE is the pround8/DECIMAL
  //    order-free mean of the per-vector fold. The oracle replays
  //    BOTH Lloyd fits (q102's CTE block, parameterized and
  //    instantiated twice), both argmin assignments, and the
  //    residual join — a wrong seed order, tie-break, mean rounding,
  //    or fold order in either stage diverges. sf0.01 ladder:
  //    1.0 → 0.9406 → 0.8956 (unit-norm vectors; k=16 ⇒ 4 bits/
  //    stage, so RVQ buys ~10% MSE at 8 bits/vector on this corpus).
  //
  //    Scale shape: training cost is rounds × one corpus pass per
  //    stage (bounded k·d driver model); encoding is a narrow map
  //    against broadcast codebook literals; nothing quadratic — RVQ
  //    stays in the bench headline at any sf.
  private val RVQ_K = 16
  private val RVQ_ITERS = 2
  private val q275 = Q(
    "q275_rvq_ladder",
    (s, dir) => {
      val t = Tpch(s, dir)
      val emb = t.embeddings
      val km = graft.operators.KMeans
      val cb1 = km.fitCentroidArrays(emb, "vec_id", "embedding",
        RVQ_K, RVQ_ITERS)
      val a1 = km.assign(emb, "vec_id", "embedding", cb1)
        .localCheckpoint(true)
      val cLit1 = array(cb1.map(c => array(c.map(lit(_)): _*)): _*)
      val resid = emb.join(a1.select(col("vec_id"), col("cluster")),
          Seq("vec_id"))
        .select(col("vec_id"),
          zip_with(col("embedding"), element_at(cLit1, col("cluster") + 1),
            (a, b) => a.cast("double") - b).as("rvec"))
        .localCheckpoint(true)
      val cb2 = km.fitCentroidArrays(resid, "vec_id", "rvec",
        RVQ_K, RVQ_ITERS)
      val a2 = km.assign(resid, "vec_id", "rvec", cb2)
      def mseRow(stage: Int, df: org.apache.spark.sql.DataFrame,
          d: org.apache.spark.sql.Column) =
        df.agg((dsum8(d) / count(lit(1))).as("m"),
            count(lit(1)).as("n"))
          .select(lit(stage).as("stage"), col("n").as("n_vecs"),
            lit(stage * 4).as("code_bits"), pround(col("m"), 6).as("mse"))
      mseRow(0, emb.select(Similarity.norm2(col("embedding")).as("d")),
          col("d"))
        .unionByName(mseRow(1, a1, col("d2c")))
        .unionByName(mseRow(2, a2, col("d2c")))
        .orderBy(col("stage"))
    },
    Some {
      // q102's Lloyd block, parameterized: seed by the shared id
      // hash, then `rounds` assignment-and-mean rounds over the
      // long-form `src` (vec_id, pos, v); final model = ${p}cent$R.
      def lloyd(p: String, src: String, rounds: Int) = {
        val iters = (1 to rounds).map { i =>
          s"""${p}dist$i AS (
          SELECT e.vec_id, c.cluster,
            sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
          FROM $src e JOIN ${p}cent${i - 1} c USING (pos)
          GROUP BY e.vec_id, c.cluster),
        ${p}asg$i AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cluster) AS rk
            FROM ${p}dist$i) WHERE rk = 1),
        ${p}mean$i AS (
          SELECT a.cluster, e.pos,
            ${proundSql(
              "CAST(sum(CAST(e.v AS DECIMAL(28,8))) AS DOUBLE) / count(*)",
              6)} AS mean_v
          FROM ${p}asg$i a JOIN $src e USING (vec_id)
          GROUP BY a.cluster, e.pos),
        ${p}cent$i AS (
          SELECT cluster, pos, mean_v AS c FROM ${p}mean$i
          UNION ALL
          SELECT q.cluster, q.pos, q.c FROM ${p}cent${i - 1} q
          WHERE q.cluster NOT IN (SELECT cluster FROM ${p}mean$i))"""
        }.mkString(",\n      ")
        s"""${p}seed AS (
        SELECT vec_id, row_number() OVER (
            ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007,
              vec_id) - 1 AS cluster
        FROM (SELECT DISTINCT vec_id FROM $src)),
      ${p}cent0 AS (
        SELECT s.cluster, e.pos, e.v AS c
        FROM ${p}seed s JOIN $src e USING (vec_id)
        WHERE s.cluster < $RVQ_K),
      $iters"""
      }
      // final argmin assignment + the bit-portable double fold d2c
      def assign(p: String, src: String, cent: String) =
        s"""${p}adist AS (
        SELECT e.vec_id, c.cluster,
          sum(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(28,8))) AS d2
        FROM $src e JOIN $cent c USING (pos)
        GROUP BY e.vec_id, c.cluster),
      ${p}fasg AS (
        SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cluster) AS rk
          FROM ${p}adist) WHERE rk = 1),
      ${p}d2 AS (
        SELECT e.vec_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list((e.v - c.c) * (e.v - c.c) ORDER BY e.pos)),
          (x, y) -> x + y) AS d2c
        FROM $src e
        JOIN ${p}fasg a ON a.vec_id = e.vec_id
        JOIN $cent c ON c.cluster = a.cluster AND c.pos = e.pos
        GROUP BY e.vec_id)"""
      s"""WITH ev AS MATERIALIZED (
        SELECT vec_id, pos, CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE)
          AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${KM_DIMS - 1}))
          AS pos)),
      ${lloyd("s1", "ev", RVQ_ITERS)},
      ${assign("s1", "ev", s"s1cent$RVQ_ITERS")},
      ev2 AS MATERIALIZED (
        SELECT e.vec_id, e.pos, e.v - c.c AS v
        FROM ev e
        JOIN s1fasg a ON a.vec_id = e.vec_id
        JOIN s1cent$RVQ_ITERS c ON c.cluster = a.cluster
          AND c.pos = e.pos),
      ${lloyd("s2", "ev2", RVQ_ITERS)},
      ${assign("s2", "ev2", s"s2cent$RVQ_ITERS")},
      v0 AS (
        SELECT vec_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(v * v ORDER BY pos)), (x, y) -> x + y) AS d
        FROM ev GROUP BY vec_id),
      m0 AS (SELECT ${dsum8Sql("d")} / count(*) AS m, count(*) AS n FROM v0),
      m1 AS (SELECT ${dsum8Sql("d2c")} / count(*) AS m, count(*) AS n
        FROM s1d2),
      m2 AS (SELECT ${dsum8Sql("d2c")} / count(*) AS m, count(*) AS n
        FROM s2d2)
      SELECT 0 AS stage, n AS n_vecs, 0 AS code_bits,
        ${proundSql("m", 6)} AS mse FROM m0
      UNION ALL
      SELECT 1, n, 4, ${proundSql("m", 6)} FROM m1
      UNION ALL
      SELECT 2, n, 8, ${proundSql("m", 6)} FROM m2
      ORDER BY stage"""
    })

  // -- V47: HERDING coreset selection (Welling 2009) — the
  //    mean-matching data-pruning rung next to q252's set-cover (which
  //    maximizes shingle coverage) and q121/q272 (which reweight):
  //    herding picks the k examples whose running sum best tracks the
  //    corpus mean embedding — w_0 = μ, pick argmax⟨w_t, x⟩,
  //    w_{t+1} = w_t + μ − x_pick — the greedy that drives the moment
  //    gap ‖w‖ down at O(1/t) (vs O(1/√t) for random), the classic
  //    coreset/dataset-distillation selector. Every dot product and
  //    the residual norm accumulate with the pround8/DECIMAL
  //    order-free sum over the long-form (vec, pos) frame; argmax is
  //    max + equality + min-id (no global window); state is d doubles
  //    on the driver, and the oracle unrolls all k rounds with w
  //    carried as 64-row CTE tables. The emitted moment_gap column is
  //    the convergence audit: the squared mean-discrepancy
  //    ‖w_t‖²/t² must fall as picks accumulate (0.94 → 0.03 over 8).
  private val HERD_K = 8
  private val q283 = Q(
    "q283_herding_coreset",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val ev = t.embeddings
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "vf")))
        .select(col("vec_id"), col("pos"), col("vf").cast("double").as("v"))
        .localCheckpoint(true)
      val mu = ev.groupBy(col("pos"))
        .agg((dsum8(col("v"))
          / count(lit(1)).cast("double")).as("mv"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val d = mu.size
      var w = Array.tabulate(d)(mu(_))
      def s8units(xs: Seq[Double]): Double =
        xs.map(x => math.floor(x * 1e8 + 0.5).toLong).sum.toDouble / 1e8
      val hist = Seq.newBuilder[(Int, Long, Double, Double)]
      for (t0 <- 1 to HERD_K) {
        val wDf = w.toSeq.zipWithIndex.map { case (v0, p) => (p, v0) }
          .toDF("pos", "wv")
        val scored = ev.join(broadcast(wDf), Seq("pos"))
          .groupBy(col("vec_id"))
          .agg(dsum8(col("v") * col("wv")).as("score"))
          .localCheckpoint(true)
        val ms = scored.agg(max(col("score"))).head.getDouble(0)
        val pid = scored.filter(col("score") === ms)
          .agg(min(col("vec_id"))).head.getLong(0)
        val xp = ev.filter(col("vec_id") === pid)
          .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
        w = Array.tabulate(d)(p => w(p) + mu(p) - xp(p))
        val gap = s8units(w.toSeq.map(x => x * x)) / (t0 * t0).toDouble
        hist += ((t0, pid, ms, gap))
      }
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      hist.result()
        .map { case (r, pid, sc, gap) => (r, pid, p6(sc), p6(gap)) }
        .toDF("round", "vec_id", "score", "moment_gap")
        .orderBy(col("round"))
    },
    Some {
      val rounds = (1 to HERD_K).map { i =>
        s"""sc$i AS MATERIALIZED (
        SELECT e.vec_id, ${dsum8Sql("e.v * w.wv")} AS score
        FROM ev e JOIN hw${i - 1} w USING (pos)
        GROUP BY e.vec_id),
      pk$i AS MATERIALIZED (
        SELECT min(s.vec_id) AS pid, min(m.ms) AS score
        FROM sc$i s CROSS JOIN (SELECT max(score) AS ms FROM sc$i) m
        WHERE s.score = m.ms),
      hw$i AS MATERIALIZED (
        SELECT w.pos, w.wv + m.mv - e.v AS wv
        FROM hw${i - 1} w
        JOIN mu m USING (pos)
        JOIN ev e ON e.pos = w.pos
          AND e.vec_id = (SELECT pid FROM pk$i)),
      r$i AS (
        SELECT $i AS round, pid AS vec_id, score,
          (SELECT ${dsum8Sql("wv * wv")} FROM hw$i) / ${i * i}.0 AS moment_gap
        FROM pk$i)"""
      }.mkString(",\n      ")
      val unionRows = (1 to HERD_K).map(i => s"SELECT * FROM r$i")
        .mkString("\n        UNION ALL ")
      s"""WITH ev AS MATERIALIZED (
        SELECT vec_id, pos,
          CAST(embedding[CAST(pos + 1 AS INT)] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${KM_DIMS - 1}))
          AS pos)),
      mu AS MATERIALIZED (
        SELECT pos, ${dsum8Sql("v")} / CAST(count(*) AS DOUBLE) AS mv
        FROM ev GROUP BY pos),
      hw0 AS MATERIALIZED (SELECT pos, mv AS wv FROM mu),
      $rounds,
      rows_all AS ($unionRows)
      SELECT round, vec_id,
        ${proundSql("score", 6)} AS score,
        ${proundSql("moment_gap", 6)} AS moment_gap
      FROM rows_all
      ORDER BY round"""
    })

  // -- V30: ANN RECALL-vs-COST PARETO FRONTIER — the index families
  //    measured separately by q149 (compression recall), q216 (pruner
  //    efficiency), and q224 (probe curve) on ONE shared exact top-K,
  //    each arm scored on all three axes an index chooser trades:
  //      recall@K          (n_hits against the shared float exact)
  //      n_scored          (candidates the arm actually scores)
  //      bytes_per_vec     (bytes of the representation its scan
  //                         touches, derived from the arm constants:
  //                         float32 = 4·64; SQ8 = 1·64; PQ = PQ_M
  //                         codes; binary = 64/8; NSW adds 2·DEG
  //                         8-byte edge ids to its float vectors)
  //    plus the Pareto verdict itself: an arm is ON the frontier iff
  //    no other arm is ≥ on recall AND ≤ on both costs with at least
  //    one strict — the actual decision surface for "which index do I
  //    build at 100 TB". Dominance compares the INTEGER n_hits (same
  //    K·nq denominator), so the frontier is exact, not
  //    float-rounding-dependent. Full-scan arms (brute/sq8/pq/bin)
  //    score nq·(n−1) candidates by construction; pruned arms (ivf,
  //    nsw) report their measured candidate counts (q216's rule).
  private val q290 = Q(
    "q290_ann_frontier",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val t = Tpch(s, dir)
      val queries = t.embeddings.filter(col("vec_id") % QMOD === 0)
      val nq = queries.count()
      val nC = t.embeddings.count()
      val fullScan = nq * (nC - 1)
      // the brute exact top-K is the compute-heavy job that fills the
      // executors, while the nsw walk and the codebook training are
      // chains of tiny driver-latency-bound jobs
      val Seq(exact, sq, pq, bin, ivfAll, nswVis) = Overlap.all(Seq(
        () => exactTopK(t.embeddings, queries, K),
        // full-scan arms
        () => Similarity.sqTopK(t.embeddings, queries, "vec_id",
          "embedding", K),
        () => pqTopK(t.embeddings, queries, K),
        () => Similarity.binTopK(t.embeddings, queries, "vec_id",
          "embedding", SQ_DIMS, K),
        // pruned arms: measured candidate counts (q216's cost rule)
        () => Similarity.ivfTopK(t.embeddings, queries, "vec_id",
            "embedding", SEEDMOD, NPROBE, Int.MaxValue)
          .localCheckpoint(true),
        () => Similarity.nswScored(t.embeddings, queries, "vec_id",
            "embedding", SEEDMOD, NPROBE, NSW_DEG, NSW_BEAM, NSW_HOPS)
          .localCheckpoint(true)))
      val nTotal = exact.count()
      // ONE job for all five arm-hit counts: tag + union the tiny
      // (query, corpus) top-K frames, join the checkpointed exact
      // once, count per method — instead of five sequential actions
      def tag(name: String, m: DataFrame) =
        m.select(lit(name).as("method"), col("query_id"),
          col("corpus_id"))
      val hitCounts = tag("sq8", sq)
        .unionByName(tag("pq_adc", pq))
        .unionByName(tag("bin", bin))
        .unionByName(tag("ivf", ivfAll.filter(col("rank") <= K)))
        .unionByName(tag("nsw", cosineTopK(nswVis, K)))
        .join(exact, Seq("query_id", "corpus_id"))
        .groupBy(col("method")).agg(count(lit(1)).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      // (method, n_scored, bytes_per_vec, n_hits)
      val arms: Seq[(String, Long, Long, Long)] = Seq(
        ("brute", fullScan, 4L * SQ_DIMS, nTotal),
        ("sq8", fullScan, SQ_DIMS.toLong, hitCounts("sq8")),
        ("pq_adc", fullScan, PQ_M.toLong, hitCounts("pq_adc")),
        ("bin", fullScan, SQ_DIMS.toLong / 8, hitCounts("bin")),
        ("ivf", ivfAll.count(), 4L * SQ_DIMS, hitCounts("ivf")),
        ("nsw", nswVis.count(), 4L * SQ_DIMS + 8L * 2 * NSW_DEG,
          hitCounts("nsw")))
      def dominated(a: (String, Long, Long, Long)) = arms.exists { b =>
        b._4 >= a._4 && b._2 <= a._2 && b._3 <= a._3 &&
          (b._4 > a._4 || b._2 < a._2 || b._3 < a._3)
      }
      val p6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
      arms.map { a =>
        (a._1, nq, a._2, a._3, a._4, nTotal,
          p6(a._4.toDouble / nTotal.toDouble),
          if (dominated(a)) 0 else 1)
      }.toDF("method", "n_queries", "n_scored", "bytes_per_vec",
          "n_hits", "n_total", "recall", "pareto")
        .orderBy(col("method"))
    },
    Some(s"""WITH $nswCtes,
      $prunedTopCtes,
      ${cosineExactCtes("v", "scoredx", "exact", K)},
      ${sq8TopCtes("query_id, corpus_id", K)},
      $pqBaseSql,
      ${pqAdcCtes("pqm", "query_id, corpus_id", K)},
      ${binTopCtes(K)},
      nqc AS (SELECT CAST(count(*) AS BIGINT) AS n
        FROM embeddings WHERE vec_id % $QMOD = 0),
      ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM exact),
      fullscan AS (
        SELECT nqc.n * (ncorp.n - 1) AS n_scored
        FROM nqc CROSS JOIN ncorp),
      arms AS (
        SELECT 'brute' AS method,
          (SELECT n_scored FROM fullscan) AS n_scored,
          CAST(${4 * SQ_DIMS} AS BIGINT) AS bytes_per_vec,
          (SELECT n_total FROM tot) AS n_hits
        UNION ALL
        SELECT 'sq8', (SELECT n_scored FROM fullscan),
          CAST($SQ_DIMS AS BIGINT),
          ${hitsSql("exact", "sq8")}
        UNION ALL
        SELECT 'pq_adc', (SELECT n_scored FROM fullscan),
          CAST($PQ_M AS BIGINT),
          ${hitsSql("exact", "pqm")}
        UNION ALL
        SELECT 'bin', (SELECT n_scored FROM fullscan),
          CAST(${SQ_DIMS / 8} AS BIGINT),
          ${hitsSql("exact", "binm")}
        UNION ALL
        SELECT 'ivf', (SELECT CAST(count(*) AS BIGINT) FROM ivf_scored),
          CAST(${4 * SQ_DIMS} AS BIGINT),
          ${hitsSql("exact", "ivf_top")}
        UNION ALL
        SELECT 'nsw', (SELECT CAST(count(*) AS BIGINT) FROM nsw_sc),
          CAST(${4 * SQ_DIMS + 8 * 2 * NSW_DEG} AS BIGINT),
          ${hitsSql("exact", "nsw_top")})
      SELECT a.method, nqc.n AS n_queries, a.n_scored, a.bytes_per_vec,
        CAST(a.n_hits AS BIGINT) AS n_hits, tot.n_total,
        ${proundSql("CAST(a.n_hits AS DOUBLE) / CAST(tot.n_total AS DOUBLE)", 6)}
          AS recall,
        CAST(CASE WHEN EXISTS (
          SELECT 1 FROM arms b
          WHERE b.n_hits >= a.n_hits AND b.n_scored <= a.n_scored
            AND b.bytes_per_vec <= a.bytes_per_vec
            AND (b.n_hits > a.n_hits OR b.n_scored < a.n_scored
              OR b.bytes_per_vec < a.bytes_per_vec))
          THEN 0 ELSE 1 END AS INT) AS pareto
      FROM arms a CROSS JOIN nqc CROSS JOIN tot
      ORDER BY a.method"""))

  // -- V24: IVF cell-occupancy DRIFT trajectory — the maintenance
  //    signal [[graft.pipeline.AnnIndexPipeline]]'s drift trigger
  //    watches ([[graft.operators.AnnIndex.cellImbalance]]), measured
  //    over a simulated five-epoch ingest: epochs 0–2 are the original
  //    corpus (vec_id mod 5), epochs 3–4 simulate an embedding-model
  //    VERSION CHANGE (coordinate-1 bias +2.0f — exactly the
  //    systematic drift a frozen IVF model cannot absorb). Centroids
  //    are the epoch-0 seed model, FROZEN; per epoch the cumulative
  //    occupancy stats (n_cells_used, n_vecs, max_occ, mean_occ,
  //    imbalance = max·cells/n_vecs) show the drift: imbalance sits
  //    ~1.6–1.8 through epoch 2, then climbs past the 1.9 alarm line
  //    at epochs 3–4 (1.95, 2.36 at sf0.01) — the alarm column flips
  //    exactly where the pipeline would re-centroid. All counts are
  //    exact integers; the two divisions and the float bias are
  //    order-pinned (FLOAT + FLOAT then the usual double folds), so
  //    the oracle replays the trajectory bit-exactly.
  private val DRIFT_SHIFT = 2.0f
  private val DRIFT_TH = 1.9
  private val q309 = Q(
    "q309_ivf_drift",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tpch(s, dir)
      val emb = t.embeddings.select(col("vec_id"),
        pmod(col("vec_id"), lit(5L)).as("e"),
        when(pmod(col("vec_id"), lit(5L)) >= 3,
          concat(
            array(element_at(col("embedding"), 1) + lit(DRIFT_SHIFT)),
            slice(col("embedding"), 2, SQ_DIMS - 1)))
          .otherwise(col("embedding")).as("embedding"))
      val seeds = Similarity.seedCentroids(
        emb.filter(col("e") === 0), "vec_id", "embedding", SEEDMOD)
      // e is a function of vec_id — recompute instead of joining back
      val assigned = Similarity
        .ivfAssign(emb, "vec_id", "embedding", seeds)
        .select(col("vec_id"), col("cell"),
          pmod(col("vec_id"), lit(5L)).as("e"))
      val occ = assigned.groupBy(col("cell"), col("e"))
        .agg(count(lit(1)).as("cnt"))
      // dense (cell × epoch) grid → cumulative occupancy per epoch
      val grid = occ.select(col("cell")).distinct()
        .crossJoin(
          s.range(0, 5).select(col("id").as("e")))
        .join(occ, Seq("cell", "e"), "left")
        .na.fill(0L, Seq("cnt"))
      val cum = grid.withColumn("cnt",
          sum(col("cnt")).over(
            Window.partitionBy(col("cell")).orderBy(col("e"))))
        .filter(col("cnt") > 0)
        .select(col("e"), col("cnt"))
      graft.operators.AnnIndex.occupancyStatsFromCounts(cum, Seq("e"))
        .select(col("e").cast("int").as("epoch"),
          col("n_cells_used"), col("n_vecs"), col("max_occ"),
          pround(col("mean_occ"), 6).as("mean_occ"),
          pround(col("imbalance"), 6).as("imbalance"),
          (col("imbalance") > DRIFT_TH).cast("int").as("alarm"))
        .orderBy(col("epoch"))
    },
    Some(s"""WITH v0 AS (
        SELECT vec_id, vec_id % 5 AS e,
          CASE WHEN vec_id % 5 >= 3 THEN
            list_prepend(
              CAST(embedding[1] + CAST($DRIFT_SHIFT AS FLOAT) AS FLOAT),
              embedding[2:])
          ELSE embedding END AS embedding
        FROM embeddings),
      v AS (
        SELECT vec_id, e, embedding,
          sqrt(${norm2Sql("embedding")}) AS nrm
        FROM v0),
      seeds AS (
        SELECT CAST(vec_id AS BIGINT) AS cell, embedding AS svec,
          nrm AS snrm
        FROM v WHERE e = 0 AND vec_id % $SEEDMOD = 0),
      assign AS (
        SELECT vec_id, e, cell FROM (
          SELECT m.vec_id, m.e, s.cell,
            row_number() OVER (PARTITION BY m.vec_id
              ORDER BY ${dotSql("m.embedding", "s.svec")}
                / (m.nrm * s.snrm) DESC, s.cell ASC) AS rn
          FROM v m CROSS JOIN seeds s) WHERE rn = 1),
      occ AS (
        SELECT cell, e, count(*) AS cnt FROM assign GROUP BY cell, e),
      grid AS (
        SELECT c.cell, ep.e, coalesce(o.cnt, 0) AS cnt
        FROM (SELECT DISTINCT cell FROM occ) c
        CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS e) ep
        LEFT JOIN occ o ON o.cell = c.cell AND o.e = ep.e),
      cum AS (
        SELECT cell, e,
          sum(cnt) OVER (PARTITION BY cell ORDER BY e) AS cnt
        FROM grid),
      st AS (
        SELECT e, CAST(count(*) AS BIGINT) AS n_cells_used,
          CAST(sum(cnt) AS BIGINT) AS n_vecs,
          CAST(max(cnt) AS BIGINT) AS max_occ
        FROM cum WHERE cnt > 0 GROUP BY e)
      SELECT CAST(e AS INT) AS epoch, n_cells_used, n_vecs, max_occ,
        ${proundSql(
          "CAST(n_vecs AS DOUBLE) / n_cells_used", 6)} AS mean_occ,
        ${proundSql(
          "CAST(max_occ AS DOUBLE) * n_cells_used / n_vecs",
          6)} AS imbalance,
        CASE WHEN CAST(max_occ AS DOUBLE) * n_cells_used / n_vecs
          > $DRIFT_TH THEN 1 ELSE 0 END AS alarm
      FROM st
      ORDER BY epoch"""))

  val all: Seq[Q] =
    Seq(q26, q27, q28, q33, q53, q75, q90, q100, q101, q102, q108, q109,
      q114, q117, q120, q125, q132, q135, q136, q148, q149, q153, q158,
      q159, q165, q176, q181, q182, q184, q193, q202, q208, q210, q211,
      q214, q215, q216, q218, q219, q224, q227, q231, q249, q262, q265,
      q275, q283, q290, q309)
}
