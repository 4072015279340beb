package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables.Tpch
import graft.functions.TextFns
import Portable._

/** Corpus-statistics operators for training-data pipelines over the
  * `documents` and `embeddings` tables: vocabulary building, TF-IDF
  * term relevance, per-label embedding centroids, value histograms,
  * edit-distance string similarity, and positional n-gram extraction.
  *
  * Scale notes (100 TB): vocab/TF-IDF are explode → hash-agg pipelines
  * whose shuffle key is the token — high cardinality, even spread,
  * map-side combine takes the explosion factor back out; centroids
  * shuffle (label, dim) pairs — cardinality |labels|×dims, tiny; the
  * edit-distance pair scan is quadratic in DISTINCT values (150 part
  * types), not rows, and broadcast-joins below threshold.
  */
object CorpusQueries {

  // -- C1: corpus vocabulary with document frequency, top-50 -----------
  private val q47 = Q(
    "q47_vocab_topk",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.documents
        .select(col("doc_id"),
          explode(TextFns.tokens(lower(col("text")))).as("token"))
        .filter(length(col("token")) >= 3)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(50)
    },
    Some(s"""SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(${TextFns.tokensSql("lower(text)")}) AS token
          FROM documents)
    WHERE len(token) >= 3
    GROUP BY token
    ORDER BY tf DESC, token ASC
    LIMIT 50"""))

  // -- C2: per-document top-3 terms by TF-IDF-style relevance.
  //    Rational idf variant ((N+1)/(df+1), no log) so every arithmetic
  //    op is a single IEEE multiply/divide — bit-identical to the
  //    oracle, where ln() could differ in the last ulp between libm
  //    implementations. Monotone in the same direction as log-idf. ----
  private val q48 = Q(
    "q48_tfidf_topterms",
    (s, dir) => {
      val t = Tpch(s, dir)
      val terms = t.documents
        .select(col("doc_id"),
          explode(TextFns.tokens(lower(col("text")))).as("token"))
        .filter(length(col("token")) >= 3)
      val perDoc = terms.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val docLen = terms.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("doc_len"))
      val docFreq = perDoc.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val nDocs = t.documents.select(countDistinct(col("doc_id")).as("n_docs"))
      val scored = perDoc
        .join(docLen, "doc_id")
        .join(docFreq, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("cnt").cast("double") / col("doc_len").cast("double")) *
          ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      scored
        .filter(col("doc_id") % 100 === 0)
        .withColumn("term_rank", row_number().over(w))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("term_rank"), col("token"),
          col("cnt"), col("df"), pround(col("score"), 6).as("score"))
        .orderBy(col("doc_id"), col("term_rank"))
    },
    Some(s"""WITH terms AS (
        SELECT doc_id, unnest(${TextFns.tokensSql("lower(text)")}) AS token
        FROM documents),
      filtered AS (SELECT * FROM terms WHERE len(token) >= 3),
      per_doc AS (
        SELECT doc_id, token, count(*) AS cnt FROM filtered GROUP BY 1, 2),
      doc_len AS (SELECT doc_id, count(*) AS doc_len FROM filtered GROUP BY 1),
      doc_freq AS (SELECT token, count(*) AS df FROM per_doc GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT p.doc_id, p.token, p.cnt, f.df,
          (CAST(p.cnt AS DOUBLE) / CAST(l.doc_len AS DOUBLE)) *
          ((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(f.df AS DOUBLE) + 1.0)) AS score
        FROM per_doc p
        JOIN doc_len l ON p.doc_id = l.doc_id
        JOIN doc_freq f ON p.token = f.token
        CROSS JOIN n)
      SELECT doc_id, term_rank, token, cnt, df,
        ${proundSql("score", 6)} AS score
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, token ASC) AS term_rank
            FROM scored WHERE doc_id % 100 = 0)
      WHERE term_rank <= 3
      ORDER BY doc_id, term_rank"""))

  // -- C3: per-label embedding centroids (element-wise mean over an
  //    array column) — exact DECIMAL sums so the mean is independent of
  //    partitioning/summation order. First 8 dims keep output bounded. -
  private val DIMS = 8
  private val q49 = Q(
    "q49_label_centroids",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .filter(col("pos") < DIMS)
        .groupBy(col("label"), col("pos"))
        .agg(
          count(lit(1)).as("n_vecs"),
          pround(sum(col("v").cast("double").cast(DecimalType(28, 8)))
            .cast("double") / count(lit(1)), 6).as("mean_v"))
        .orderBy(col("label"), col("pos"))
    },
    Some(s"""SELECT label, pos, count(*) AS n_vecs,
      ${proundSql(
        "CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE) / count(*)",
        6)} AS mean_v
    FROM (
      SELECT label, pos, embedding[CAST(pos + 1 AS INT)] AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(0, ${DIMS - 1})) AS pos))
    GROUP BY label, pos
    ORDER BY label, pos"""))

  // -- C18: embedding-space OUTLIER QA — the mislabeled/corrupt-vector
  //    detector an embedding pipeline runs before training on the
  //    vectors: per label, the exactly-reproducible centroid (q49's
  //    6-decimal DECIMAL-mean discipline — rounding makes the model
  //    bit-identical cross-engine) and the top-OUT_K farthest members
  //    by squared distance, computed as a FIXED-ORDER fold over the
  //    (vector, centroid) zip — deterministic left-to-right like the
  //    shared dot kernel, no accumulation-order drift. One label-keyed
  //    agg (dim-exploded, map-side combined) + one broadcast join of
  //    the tiny centroid table + one label-partitioned rank window.
  private val OUT_K = 3
  private val OUT_DIMS = 64 // full embedding width (q49 caps ITS output at 8)
  private val q185 = Q(
    "q185_embedding_outliers",
    (s, dir) => {
      val t = Tpch(s, dir)
      val cent = t.embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .filter(col("pos") < OUT_DIMS)
        .groupBy(col("label"), col("pos"))
        .agg(pround(sum(col("v").cast("double").cast(DecimalType(28, 8)))
          .cast("double") / count(lit(1)), 6).as("mean_v"))
      val carr = cent.groupBy(col("label"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean_v")))),
          s => s.getField("mean_v")).as("cvec"))
      val scored = t.embeddings.join(broadcast(carr), Seq("label"))
        .select(col("label"), col("vec_id"),
          aggregate(
            zip_with(col("embedding"), col("cvec"), (x, c) =>
              (x.cast("double") - c) * (x.cast("double") - c)),
            lit(0.0), _ + _).as("dist2"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("dist2").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= OUT_K)
        .select(col("label"), col("rank"), col("vec_id"),
          pround(col("dist2"), 6).as("dist2"))
        .orderBy(col("label"), col("rank"))
    },
    Some(s"""WITH cent AS (
        SELECT label, pos,
          ${proundSql(
            "CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)" +
              " / count(*)", 6)} AS mean_v
        FROM (
          SELECT label, pos, embedding[CAST(pos + 1 AS INT)] AS v
          FROM embeddings
          CROSS JOIN (SELECT unnest(generate_series(0, ${OUT_DIMS - 1})) AS pos))
        GROUP BY label, pos),
      carr AS (
        SELECT label, list(mean_v ORDER BY pos) AS cvec
        FROM cent GROUP BY label),
      sc AS (
        SELECT e.label, e.vec_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(list_zip(e.embedding, c.cvec), p ->
              (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),
            (x, y) -> x + y) AS dist2
        FROM embeddings e JOIN carr c USING (label))
      SELECT label, rank, vec_id, ${proundSql("dist2", 6)} AS dist2
      FROM (SELECT *, row_number() OVER (PARTITION BY label
              ORDER BY dist2 DESC, vec_id ASC) AS rank FROM sc)
      WHERE rank <= $OUT_K
      ORDER BY label, rank"""))

  // -- C19: CRAWL POLITENESS SCHEDULER — the frontier-scheduling step
  //    of a crawler (the upstream producer of every corpus this engine
  //    curates): per canonical host, fetches are rate-limited to one
  //    per CRAWL_DELAY seconds (slot = per-host rank, fetch_at =
  //    slot·delay — politeness), and hosts are sharded to workers by a
  //    portable hash so one host never spans two workers (per-host
  //    sequencing is enforceable worker-locally, no cross-worker
  //    coordination). One host-keyed rank window + scan-local hash;
  //    the worker column is the shuffle key a real frontier would
  //    repartition by.
  private val CRAWL_DELAY = 5L  // seconds between hits on one host
  private val CRAWL_W = 8       // worker count
  private val q190 = Q(
    "q190_crawl_schedule",
    (s, dir) => {
      val t = Tpch(s, dir)
      val url = concat(lit("https://WWW."), col("source"),
        lit(".Example.COM:443/"), col("lang"), lit("/"), col("doc_id"))
      val hosts = t.documents.select(col("doc_id"),
        graft.functions.UrlFns.hostOf(url).as("host"))
      val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      hosts
        .withColumn("slot", row_number().over(w).cast("long") - 1)
        .select(col("host"), col("doc_id"), col("slot"),
          (col("slot") * CRAWL_DELAY).as("fetch_at_s"),
          pmod(TextFns.rollingHash(col("host")), lit(CRAWL_W.toLong))
            .as("worker"))
        .orderBy(col("host"), col("slot"))
    },
    Some {
      val host = graft.functions.UrlFns.hostOfSql(
        "'https://WWW.' || source || '.Example.COM:443/' || lang || '/' || doc_id")
      s"""WITH h AS (
        SELECT doc_id, $host AS host FROM documents),
      ranked AS (
        SELECT host, doc_id,
          CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
            AS BIGINT) - 1 AS slot
        FROM h)
      SELECT host, doc_id, slot,
        slot * $CRAWL_DELAY AS fetch_at_s,
        ${TextFns.rollingHashSql("host")} % $CRAWL_W AS worker
      FROM ranked
      ORDER BY host, slot"""
    })

  // -- C20: VOCABULARY GROWTH curve (Heaps' law, measured) — the
  //    tokenizer-sizing diagnostic: distinct-type count vs running
  //    token count at each corpus DECILE (by doc_id ingestion order).
  //    No windowed count-distinct (which would buffer whole prefixes):
  //    each type contributes at its FIRST-occurrence decile — one
  //    token-keyed min-agg — and both curves are cumulative sums over
  //    the 10-row decile table; log-free, all-integer, so the curve is
  //    exact. New-type RATE per decile (types added / tokens added)
  //    shows the tail flattening — the number that says when a bigger
  //    vocab stops paying.
  private val q192 = Q(
    "q192_vocab_growth",
    (s, dir) => {
      val t = Tpch(s, dir)
      val nd = t.documents.agg(max(col("doc_id")).as("mx"),
        min(col("doc_id")).as("mn"))
      val toks = t.documents.crossJoin(broadcast(nd))
        .select(
          least(expr("((doc_id - mn) * 10) div (mx - mn + 1)"), lit(9L))
            .as("decile"),
          explode(TextFns.tokens(col("text"))).as("token"))
      val perDecile = toks.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_tokens"))
      val firstSeen = toks.groupBy(col("token"))
        .agg(min(col("decile")).as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_new_types"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      perDecile.join(firstSeen, Seq("decile"), "left")
        .select(col("decile"), col("n_tokens"),
          coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("cum_types", sum(col("n_new_types")).over(w))
        .withColumn("new_type_rate",
          pround(col("n_new_types").cast("double") / col("n_tokens"), 6))
        .orderBy(col("decile"))
    },
    Some(s"""WITH nd AS (
        SELECT max(doc_id) AS mx, min(doc_id) AS mn FROM documents),
      toks AS (
        SELECT least(((doc_id - mn) * 10) // (mx - mn + 1), 9) AS decile,
          unnest(${TextFns.tokensSql("text")}) AS token
        FROM documents CROSS JOIN nd),
      pd AS (SELECT decile, count(*) AS n_tokens FROM toks GROUP BY decile),
      fs AS (
        SELECT decile, count(*) AS n_new_types FROM (
          SELECT token, min(decile) AS decile FROM toks GROUP BY token)
        GROUP BY decile)
      SELECT pd.decile, pd.n_tokens,
        CAST(coalesce(fs.n_new_types, 0) AS BIGINT) AS n_new_types,
        CAST(sum(pd.n_tokens) OVER (ORDER BY pd.decile) AS BIGINT)
          AS cum_tokens,
        CAST(sum(coalesce(fs.n_new_types, 0)) OVER (ORDER BY pd.decile)
          AS BIGINT) AS cum_types,
        ${proundSql(
          "CAST(coalesce(fs.n_new_types, 0) AS DOUBLE) / pd.n_tokens", 6)}
          AS new_type_rate
      FROM pd LEFT JOIN fs ON pd.decile = fs.decile
      ORDER BY pd.decile"""))

  // -- C21: SOURCE-CONCENTRATION Lorenz curve + Gini — the mixture-
  //    balance diagnostic next to the q163 dataset card and the
  //    q172/q173 budget allocators: how unequally is token mass
  //    spread across sources? Lorenz points (per source, ascending:
  //    cumulative token share) and the exact-formula Gini
  //    G = 2·Σ i·xᵢ / (n·T) − (n+1)/n over the SORTED per-source
  //    totals — every numerator an integer (Σ i·xᵢ on DECIMAL(38,0),
  //    the q173 discipline), two fixed-order float ops at the end.
  //    The rank window runs over the ~|sources| totals row set (the
  //    q172 bounded-intermediate class), never the corpus.
  private val q194 = Q(
    "q194_source_gini",
    (s, dir) => {
      val t = Tpch(s, dir)
      val totals = t.documents
        .select(col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("tokens"))
      val w = Window.orderBy(col("tokens").asc, col("source").asc)
      val ranked = totals
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .localCheckpoint(true)
      val g = ranked.agg(
          count(lit(1)).as("n"),
          sum(col("tokens")).as("t"),
          sum(col("rnk").cast(DecimalType(38, 0)) * col("tokens"))
            .as("s2"))
        .select((lit(2.0) * col("s2").cast("double") /
            (col("n").cast("double") * col("t").cast("double")) -
            (col("n") + 1).cast("double") / col("n").cast("double"))
          .as("gini_raw"),
          col("t"))
      ranked.crossJoin(broadcast(g))
        .select(col("rnk"), col("source"), col("tokens"),
          pround(col("cum").cast("double") / col("t").cast("double"), 6)
            .as("cum_share"),
          pround(col("gini_raw"), 6).as("gini"))
        .orderBy(col("rnk"))
    },
    Some(s"""WITH totals AS (
        SELECT source,
          CAST(sum(len(${TextFns.tokensSql("text")})) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      ranked AS (
        SELECT source, tokens,
          CAST(row_number() OVER (ORDER BY tokens ASC, source ASC)
            AS BIGINT) AS rnk,
          CAST(sum(tokens) OVER (ORDER BY tokens ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM totals),
      g AS (
        SELECT 2.0 * CAST(sum(CAST(rnk AS DECIMAL(38,0)) * tokens)
            AS DOUBLE)
          / (CAST(count(*) AS DOUBLE) * CAST(sum(tokens) AS DOUBLE))
          - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini_raw,
          CAST(sum(tokens) AS BIGINT) AS t
        FROM ranked)
      SELECT rnk, source, tokens,
        ${proundSql("CAST(cum AS DOUBLE) / g.t", 6)} AS cum_share,
        ${proundSql("g.gini_raw", 6)} AS gini
      FROM ranked CROSS JOIN g
      ORDER BY rnk"""))

  // -- C22: EMBEDDING DRIFT between corpus versions — the model-ops
  //    monitor that catches a changed encoder, a bad re-embedding
  //    batch, or population shift BEFORE retraining on it: per label,
  //    the squared L2 shift between version centroids (q49's
  //    6-decimal exact means; fixed-order zip fold, q185's
  //    machinery). Versions are q138's deterministic views — v2 drops
  //    every 5th vector and HALVES every 11th (an exact power-of-two
  //    perturbation, bit-exact in both engines), so the drift the
  //    mart must detect is planted and closed-form-ish while the
  //    dataflow is the real one.
  private val q197 = Q(
    "q197_embedding_drift",
    (s, dir) => {
      val t = Tpch(s, dir)
      val v1 = t.embeddings.filter(col("vec_id") % 7 =!= 0)
      val v2 = t.embeddings.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("label"),
          when(col("vec_id") % 11 === 0,
            transform(col("embedding"), x => x * lit(0.5f)))
            .otherwise(col("embedding")).as("embedding"))
      def centArr(df: org.apache.spark.sql.DataFrame, nm: String) = df
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .filter(col("pos") < OUT_DIMS)
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("nv"),
          pround(sum(col("v").cast("double").cast(DecimalType(28, 8)))
            .cast("double") / count(lit(1)), 6).as("mv"))
        .groupBy(col("label"))
        .agg(max(col("nv")).as(s"n_$nm"),
          transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
            st => st.getField("mv")).as(s"c_$nm"))
      centArr(v1, "v1").join(centArr(v2, "v2"), Seq("label"))
        .select(col("label"), col("n_v1"), col("n_v2"),
          pround(aggregate(
            zip_with(col("c_v1"), col("c_v2"), (a, b) => (a - b) * (a - b)),
            lit(0.0), _ + _), 6).as("shift2"))
        .orderBy(col("label"))
    },
    Some {
      def centSql(view: String, nm: String) = s"""cent_$nm AS (
        SELECT label, pos, count(*) AS nv,
          ${proundSql(
            "CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)" +
              " / count(*)", 6)} AS mv
        FROM (
          SELECT label, pos, embedding[CAST(pos + 1 AS INT)] AS v
          FROM $view
          CROSS JOIN (SELECT unnest(generate_series(0, ${OUT_DIMS - 1}))
            AS pos))
        GROUP BY label, pos),
      arr_$nm AS (
        SELECT label, max(nv) AS n_$nm, list(mv ORDER BY pos) AS c_$nm
        FROM cent_$nm GROUP BY label)"""
      s"""WITH v1 AS (
        SELECT label, embedding FROM embeddings WHERE vec_id % 7 != 0),
      v2 AS (
        SELECT label,
          CASE WHEN vec_id % 11 = 0
            THEN list_transform(embedding, x -> x * CAST(0.5 AS FLOAT))
            ELSE embedding END AS embedding
        FROM embeddings WHERE vec_id % 5 != 0),
      ${centSql("v1", "v1")},
      ${centSql("v2", "v2")}
      SELECT a.label, a.n_v1, b.n_v2,
        ${proundSql(
          """list_reduce(list_prepend(CAST(0 AS DOUBLE),
            | list_transform(list_zip(a.c_v1, b.c_v2),
            |   p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"""
            .stripMargin, 6)} AS shift2
      FROM arr_v1 a JOIN arr_v2 b ON a.label = b.label
      ORDER BY a.label"""
    })

  // -- C4: value histogram (fixed-width bucketing) ----------------------
  private val BUCKET_W = 60000.0
  private val q51 = Q(
    "q51_histogram",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.orders
        .select(floor(col("o_totalprice") / BUCKET_W).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("bucket"))
    },
    Some(s"""SELECT CAST(floor(o_totalprice / $BUCKET_W) AS BIGINT) AS bucket,
      count(*) AS n_orders
    FROM orders
    GROUP BY bucket
    ORDER BY bucket"""))

  // -- C5: edit-distance string similarity over distinct values (the
  //    pair scan is quadratic in DISTINCT strings, not rows) -----------
  // 6 yields non-empty results at every test SF (4 found zero pairs,
  // making the oracle comparison vacuous)
  private val MAXDIST = 6
  private val q50 = Q(
    "q50_edit_distance_pairs",
    (s, dir) => {
      val t = Tpch(s, dir)
      val types = t.part.select(col("p_type")).distinct()
      types.as("a")
        .join(broadcast(types.as("b")), col("a.p_type") < col("b.p_type"))
        .select(col("a.p_type").as("t1"), col("b.p_type").as("t2"),
          levenshtein(col("a.p_type"), col("b.p_type")).as("dist"))
        .filter(col("dist") <= MAXDIST)
        .orderBy(col("t1"), col("t2"))
    },
    Some(s"""SELECT a.p_type AS t1, b.p_type AS t2,
      levenshtein(a.p_type, b.p_type) AS dist
    FROM (SELECT DISTINCT p_type FROM part) a
    JOIN (SELECT DISTINCT p_type FROM part) b ON a.p_type < b.p_type
    WHERE levenshtein(a.p_type, b.p_type) <= $MAXDIST
    ORDER BY t1, t2"""))

  // -- C6: positional n-gram extraction (posexplode / lateral view) ----
  private val q52 = Q(
    "q52_ngram_positions",
    (s, dir) => {
      val t = Tpch(s, dir)
      val grams = TextFns.shingles(TextFns.tokens(col("text")), 2)
      t.documents
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(grams).as(Seq("pos", "bigram")))
        .filter(col("pos") < 5)
        .orderBy(col("doc_id"), col("pos"))
    },
    Some(s"""SELECT doc_id, pos, grams[CAST(pos + 1 AS INT)] AS bigram
    FROM (SELECT doc_id,
            ${TextFns.shinglesSql(TextFns.tokensSql("text"), 2)} AS grams
          FROM documents WHERE doc_id % 50 = 0)
    CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS pos)
    WHERE pos < len(grams)
    ORDER BY doc_id, pos"""))

  // -- C7: bigram-LM quality scoring. "Train" add-one-smoothed bigram
  //    statistics on the corpus itself, then score every document by
  //    its mean inverse bigram probability (c(w1)+V)/(c(w1,w2)+1) — a
  //    log-free monotone surrogate for perplexity (ln differs in the
  //    last ulp across libm implementations; plain divides don't).
  //    High score = improbable token sequences = gibberish candidate.
  //    Per-term doubles cast to DECIMAL before summing so the doc
  //    mean is independent of partitioning/summation order.
  //    Scale: two explode→hash-agg passes (shuffle key = token/bigram,
  //    high cardinality, map-side combine) + one broadcast scalar.
  /** Per-doc bigram-LM surprise, shared by q54 (raw score) and q129
    * (CCNet-style bucket selection): (doc_id, lang, n_bigrams,
    * surprise), surprise = mean add-one-smoothed inverse bigram
    * probability, rounded portably to 4 decimals.
    *
    * Hash-bucketed bigram LM: every count is keyed by the NATIVE
    * codegen shingle hash (graft_shingle_hashes, same integer
    * arithmetic as the oracle's list_transform chain), never by
    * the bigram string — no interpreted HOF string building, and
    * shuffles carry longs instead of strings. Hash collisions
    * merge buckets identically in both engines, so parity holds
    * (a hash-bucketed n-gram model, the standard scale variant).
    * Instance i of the bigram list pairs with unigram hash i =
    * its first token's hash.
    */
  private def docSurprise(t: Tpch) = {
    val h = t.documents.select(col("doc_id"), col("lang"),
      TextFns.shingleHashes(lower(col("text")), 2).as("bh"),
      TextFns.shingleHashes(lower(col("text")), 1).as("uh"))
    val bi = h
      .select(col("doc_id"), col("lang"), col("uh"),
        posexplode(col("bh")).as(Seq("pos", "bh2")))
      .select(col("doc_id"), col("lang"), col("bh2"),
        element_at(col("uh"), col("pos") + 1).as("w1h"))
    val perDoc = bi.groupBy(col("doc_id"), col("lang"), col("bh2"), col("w1h"))
      .agg(count(lit(1)).as("cnt"))
    val cb = perDoc.groupBy(col("bh2")).agg(sum(col("cnt")).as("cb"))
    val c1 = perDoc.groupBy(col("w1h")).agg(sum(col("cnt")).as("c1"))
    val voc = h.select(explode(col("uh")).as("u"))
      .agg(countDistinct(col("u")).as("vsize"))
    // Bigram vocabulary grows sublinearly in corpus size (Heaps'
    // law), so the model table broadcasts and the per-doc frame
    // never reshuffles on the bigram key. (Past the broadcast
    // bound this degrades gracefully to a shuffle join.)
    perDoc
      .join(broadcast(cb), "bh2")
      .join(broadcast(c1), "w1h")
      .crossJoin(broadcast(voc))
      .withColumn("wterm",
        // cnt as DECIMAL(7,0): 7+28+1 = 36 <= 38 keeps the product
        // at scale 8 exactly (long x DECIMAL(28,8) would overflow
        // precision and silently shrink the scale)
        col("cnt").cast(DecimalType(7, 0)) *
          ((col("c1") + col("vsize")).cast("double") /
            (col("cb") + lit(1)).cast("double")).cast(DecimalType(28, 8)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        pround(sum(col("wterm")).cast("double") / sum(col("cnt")), 4)
          .as("surprise"))
  }

  /** DuckDB mirror of docSurprise, as a parenthesized subquery. */
  private val docSurpriseSql = s"""(WITH h AS (
        SELECT doc_id, lang,
          ${TextFns.shingleHashesSql("lower(text)", 2)} AS bh,
          ${TextFns.shingleHashesSql("lower(text)", 1)} AS uh
        FROM documents),
      bi AS (
        SELECT doc_id, lang, unnest(bh) AS bh2,
          unnest(list_slice(uh, 1, len(bh))) AS w1h
        FROM h),
      cb AS (SELECT bh2, count(*) AS cb FROM bi GROUP BY 1),
      c1 AS (SELECT w1h, count(*) AS c1 FROM bi GROUP BY 1),
      voc AS (SELECT count(DISTINCT u) AS vsize
        FROM (SELECT unnest(uh) AS u FROM h)),
      terms AS (
        SELECT b.doc_id, b.lang,
          CAST(CAST(c1.c1 + voc.vsize AS DOUBLE) / CAST(cb.cb + 1 AS DOUBLE)
            AS DECIMAL(28,8)) AS term
        FROM bi b
        JOIN cb ON b.bh2 = cb.bh2
        JOIN c1 ON b.w1h = c1.w1h
        CROSS JOIN voc)
      SELECT doc_id, lang, count(*) AS n_bigrams,
        ${proundSql("CAST(sum(term) AS DOUBLE) / count(*)", 4)} AS surprise
      FROM terms
      GROUP BY doc_id, lang)"""

  private val q54 = Q(
    "q54_bigram_surprise",
    (s, dir) => {
      val t = Tpch(s, dir)
      docSurprise(t)
        .select(col("doc_id"), col("n_bigrams"), col("surprise"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, n_bigrams, surprise
      FROM $docSurpriseSql s
      ORDER BY doc_id"""))

  // -- C10: CCNet-style LM-score bucket selection (q129) — the
  //    standard perplexity-tercile filter (Wenzek et al. 2020): score
  //    every document with the corpus bigram LM, split each LANGUAGE
  //    into head/middle/tail terciles by score, keep head+middle.
  //    Per-language partitioning is CCNet's own semantics (its LMs
  //    and cutoffs are per-language) AND the scale story: the tercile
  //    sort is windowed per lang partition, never a global sort. At
  //    100 TB a single language is still big — swap exact ntile for
  //    histogram-derived cutoffs (q38's percentile machinery) at the
  //    same semantics; ties broken by doc_id keep both deterministic.
  private val q129 = Q(
    "q129_ccnet_buckets",
    (s, dir) => {
      val t = Tpch(s, dir)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("surprise"), col("doc_id"))
      docSurprise(t)
        .withColumn("tc", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("surprise"),
          when(col("tc") === 1, "head").when(col("tc") === 2, "middle")
            .otherwise("tail").as("bucket"),
          (col("tc") <= 2).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, lang, n_bigrams, surprise,
        CASE tc WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
          AS bucket,
        CAST(CASE WHEN tc <= 2 THEN 1 ELSE 0 END AS INT) AS keep
      FROM (SELECT s.*, ntile(3) OVER (PARTITION BY lang
              ORDER BY surprise, doc_id) AS tc
            FROM $docSurpriseSql s)
      ORDER BY doc_id"""))

  // -- C7b: Kneser-Ney trigram LM quality scoring — the standard
  //    upgrade over q54's add-V bigram: interpolated KN (Kneser & Ney
  //    1995; Chen & Goodman 1999 §2.7) with absolute discount
  //    D = 0.75 (binary-exact double), continuation probabilities,
  //    and bigram→unigram backoff. Zero logs (the libm-ulp rule):
  //    the per-trigram score is mean INVERSE KN probability — the
  //    same monotone perplexity surrogate as q54. Every count comes
  //    from ONE aligned trigram-instance table (c12 = trigram-context
  //    count, so Σ_w3 P(w3|w1w2) = 1 exactly); the per-instance double
  //    is a fixed expression tree over integer-derived doubles
  //    (identical cross-engine), portably 8-decimal-rounded BEFORE
  //    the decimal cast, decimal-summed (order-free), then one
  //    rounded division per doc.
  //    Scale: q54's shape — explode → hash-agg count tables (Heaps'
  //    law: they broadcast), narrow joins, no corpus reshuffle.
  private val KN_D = 0.75

  /** Per-(doc, distinct aligned tuple) KN frame: every count table
    * joined in, with `cnt` (instances of the tuple in the doc) and
    * `p` (the raw interpolated-KN trigram probability, a fixed
    * expression tree over integer-derived doubles — bit-identical
    * cross-engine; p ∈ (0, 1] because each numerator term is one
    * non-negative summand of the Σ_w3 = c12 total). Shared by
    * [[docKnSurprise]] (mean inverse p) and q237 (true cross-entropy
    * via graft_lndet on 1/p).
    */
  private def knInstances(t: Tpch) = {
    val h = t.documents.select(col("doc_id"), col("source"),
      TextFns.shingleHashes(lower(col("text")), 3).as("th"),
      TextFns.shingleHashes(lower(col("text")), 2).as("bh"),
      TextFns.shingleHashes(lower(col("text")), 1).as("uh"))
    // trigram instance i aligns with bigram hashes i (context w1w2)
    // and i+1 (suffix w2w3), unigram hashes i+1 (w2) and i+2 (w3)
    val tri = h
      .select(col("doc_id"), col("source"), col("bh"), col("uh"),
        posexplode(col("th")).as(Seq("pos", "t3")))
      .select(col("doc_id"), col("source"), col("t3"),
        element_at(col("bh"), col("pos") + 1).as("b12"),
        element_at(col("bh"), col("pos") + 2).as("b23"),
        element_at(col("uh"), col("pos") + 2).as("u2"),
        element_at(col("uh"), col("pos") + 3).as("u3"))
    val perDoc = tri.groupBy(col("doc_id"), col("source"), col("t3"),
        col("b12"), col("b23"), col("u2"), col("u3"))
      .agg(count(lit(1)).as("cnt"))
    val c3 = perDoc.groupBy(col("t3")).agg(sum(col("cnt")).as("c3"))
    val c12 = perDoc.groupBy(col("b12")).agg(sum(col("cnt")).as("c12"),
      countDistinct(col("t3")).as("n1p12"))
    val cb = perDoc.groupBy(col("b23")).agg(sum(col("cnt")).as("cb"))
    val c1 = perDoc.groupBy(col("u2")).agg(sum(col("cnt")).as("c1"),
      countDistinct(col("b23")).as("n1p2"))
    val nc = perDoc.groupBy(col("u3"))
      .agg(countDistinct(col("b23")).as("ncont"))
    val nbt = perDoc.agg(countDistinct(col("b23")).as("nbt"))
    val d = lit(KN_D)
    val pc = col("ncont").cast("double") / col("nbt").cast("double")
    val pl = (greatest(col("cb").cast("double") - d, lit(0.0))
      + d * col("n1p2").cast("double") * pc) / col("c1").cast("double")
    val p = (greatest(col("c3").cast("double") - d, lit(0.0))
      + d * col("n1p12").cast("double") * pl) / col("c12").cast("double")
    perDoc
      .join(broadcast(c3), "t3")
      .join(broadcast(c12), "b12")
      .join(broadcast(cb), "b23")
      .join(broadcast(c1), "u2")
      .join(broadcast(nc), "u3")
      .crossJoin(broadcast(nbt))
      .withColumn("p", p)
  }

  /** Per-doc KN trigram surprise: (doc_id, source, n_trigrams,
    * kn_surprise) — mean INVERSE KN probability (zero logs). Shared
    * by q204 (raw score) and q205 (rank agreement vs the bigram
    * signal).
    */
  private def docKnSurprise(t: Tpch) =
    knInstances(t)
      // 8-decimal pround BEFORE the decimal cast: a pround'd double
      // sits on the 1e-8 grid, so Spark's shortest-repr and DuckDB's
      // binary-value double→decimal roundings agree by construction
      // (the q202 lesson)
      .withColumn("wterm", col("cnt").cast(DecimalType(7, 0)) *
        pround(lit(1.0) / col("p"), 8).cast(DecimalType(28, 8)))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_trigrams"),
        pround(sum(col("wterm")).cast("double") / sum(col("cnt")), 4)
          .as("kn_surprise"))

  /** The per-instance KN probability as SQL (valid inside the
    * `tri ⋈ count-tables` join of [[knCtesSql]]).
    */
  private val knPSql = {
    val pc = "(CAST(nc.ncont AS DOUBLE) / CAST(nbt.nbt AS DOUBLE))"
    val pl = s"""((greatest(CAST(cb.cb AS DOUBLE) - $KN_D, 0.0)
         + $KN_D * CAST(c1.n1p2 AS DOUBLE) * $pc)
        / CAST(c1.c1 AS DOUBLE))"""
    s"""((greatest(CAST(c3.c3 AS DOUBLE) - $KN_D, 0.0)
         + $KN_D * CAST(c12.n1p12 AS DOUBLE) * $pl)
        / CAST(c12.c12 AS DOUBLE))"""
  }

  /** The shared KN CTE chain (no WITH prefix): aligned trigram
    * instances + every count table. Consumers join `tri` against
    * c3/c12/cb/c1/nc/nbt and score with [[knPSql]].
    */
  private val knCtesSql =
    s"""h AS (
        SELECT doc_id, source,
          ${TextFns.shingleHashesSql("lower(text)", 3)} AS th,
          ${TextFns.shingleHashesSql("lower(text)", 2)} AS bh,
          ${TextFns.shingleHashesSql("lower(text)", 1)} AS uh
        FROM documents),
      tri AS (
        SELECT doc_id, source, unnest(th) AS t3,
          unnest(list_slice(bh, 1, len(th))) AS b12,
          unnest(list_slice(bh, 2, len(th) + 1)) AS b23,
          unnest(list_slice(uh, 2, len(th) + 1)) AS u2,
          unnest(list_slice(uh, 3, len(th) + 2)) AS u3
        FROM h),
      c3 AS (SELECT t3, count(*) AS c3 FROM tri GROUP BY 1),
      c12 AS (SELECT b12, count(*) AS c12, count(DISTINCT t3) AS n1p12
        FROM tri GROUP BY 1),
      cb AS (SELECT b23, count(*) AS cb FROM tri GROUP BY 1),
      c1 AS (SELECT u2, count(*) AS c1, count(DISTINCT b23) AS n1p2
        FROM tri GROUP BY 1),
      nc AS (SELECT u3, count(DISTINCT b23) AS ncont FROM tri GROUP BY 1),
      nbt AS (SELECT count(DISTINCT b23) AS nbt FROM tri)"""

  /** DuckDB mirror of docKnSurprise, as a parenthesized subquery. */
  private val docKnSurpriseSql =
    s"""(WITH $knCtesSql,
      terms AS (
        SELECT t.doc_id, t.source,
          CAST(${proundSql(s"1.0 / $knPSql", 8)} AS DECIMAL(28,8)) AS term
        FROM tri t
        JOIN c3 USING (t3) JOIN c12 USING (b12) JOIN cb USING (b23)
        JOIN c1 USING (u2) JOIN nc USING (u3) CROSS JOIN nbt)
      SELECT doc_id, source, count(*) AS n_trigrams,
        ${proundSql("CAST(sum(term) AS DOUBLE) / count(*)", 4)}
          AS kn_surprise
      FROM terms GROUP BY doc_id, source)"""

  private val q204 = Q(
    "q204_trigram_kn",
    (s, dir) => {
      val t = Tpch(s, dir)
      docKnSurprise(t)
        .select(col("doc_id"),
          col("n_trigrams").cast("long").as("n_trigrams"),
          col("kn_surprise"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
        kn_surprise
      FROM $docKnSurpriseSql s
      ORDER BY doc_id"""))

  // -- C7d: TRUE KN cross-entropy + CCNet perplexity gate — the
  //    industry-standard quality filter (Wenzek et al. 2020) on its
  //    actual scale: per-doc cross-entropy H = (1/n)·Σ ln(1/p) in
  //    nats under the q204 interpolated-KN trigram model, computable
  //    at oracle parity ONLY because ln is graft_lndet (deterministic
  //    range-reduction + Horner series — the libm-ulp rule kept q204
  //    on mean-inverse-p; lnDet removes the constraint). 1/p ≥ 1 by
  //    construction: each interpolated-KN numerator term is one
  //    non-negative summand of the Σ_w3 = c12 total, so p ≤ 1. The
  //    gate is q129's per-source tercile (head/middle kept), now on
  //    the true CE signal. Per-instance lnDet doubles are pround(8)
  //    → DECIMAL-summed (order-free) → one rounded division — the
  //    wterm discipline.
  private val q237 = Q(
    "q237_kn_perplexity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val ce = knInstances(t)
        .withColumn("cterm", col("cnt").cast(DecimalType(7, 0)) *
          pround(call_function("graft_lndet", lit(1.0) / col("p")), 8)
            .cast(DecimalType(28, 8)))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("cnt")).cast("long").as("n_trigrams"),
          pround(sum(col("cterm")).cast("double") / sum(col("cnt")), 4)
            .as("cross_entropy"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cross_entropy"), col("doc_id"))
      ce.withColumn("tc", ntile(3).over(w))
        .select(col("doc_id"), col("source"), col("n_trigrams"),
          col("cross_entropy"),
          when(col("tc") === 1, "head").when(col("tc") === 2, "middle")
            .otherwise("tail").as("bucket"),
          (col("tc") <= 2).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $knCtesSql,
      inst AS (
        SELECT t.doc_id, t.source, 1.0 / $knPSql AS invp
        FROM tri t
        JOIN c3 USING (t3) JOIN c12 USING (b12) JOIN cb USING (b23)
        JOIN c1 USING (u2) JOIN nc USING (u3) CROSS JOIN nbt),
      ${lnDetSqlCtes("kn", "inst", "doc_id, source", "invp")},
      ce AS (
        SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_trigrams,
          ${proundSql(s"${dsum8Sql("lnp")} / count(*)", 4)}
            AS cross_entropy
        FROM knlnv GROUP BY doc_id, source)
      SELECT doc_id, source, n_trigrams, cross_entropy,
        CASE tc WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
          AS bucket,
        CAST(CASE WHEN tc <= 2 THEN 1 ELSE 0 END AS INT) AS keep
      FROM (SELECT ce.*, ntile(3) OVER (PARTITION BY source
              ORDER BY cross_entropy, doc_id) AS tc
            FROM ce)
      ORDER BY doc_id"""))

  // -- C7c: bigram-vs-KN rank agreement — q150's Spearman discipline
  //    applied to the two LM quality signals: does the KN upgrade
  //    actually reorder documents, per source? Integer rank diffs
  //    (ties by doc_id — the portable convention), exact Σd², one
  //    rounded division. Low ρ = the signals disagree = the ensemble
  //    should carry both; ρ ≈ 1 = the bigram is a cheap proxy.
  private val q205 = Q(
    "q205_lm_agreement",
    (s, dir) => {
      val t = Tpch(s, dir)
      val kn = docKnSurprise(t)
        .select(col("doc_id"), col("source"), col("kn_surprise"))
      val bi = docSurprise(t).select(col("doc_id"), col("surprise"))
      val ws = Window.partitionBy(col("source"))
      val ranked = kn.join(bi, "doc_id")
        .select(col("source"), col("doc_id"),
          row_number().over(ws.orderBy(col("surprise"), col("doc_id")))
            .cast("long").as("r_bi"),
          row_number().over(ws.orderBy(col("kn_surprise"), col("doc_id")))
            .cast("long").as("r_kn"))
      val dd = col("r_bi") - col("r_kn")
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(dd * dd).as("sd2"))
        .select(lit("bigram_surprise").as("sig_a"),
          lit("kn_surprise").as("sig_b"), col("source"),
          col("n"), col("sd2"),
          pround(lit(1.0) - lit(6.0) * col("sd2") /
            (col("n") * (col("n") * col("n") - 1)), 6).as("rho"))
        .orderBy(col("source"))
    },
    Some(s"""WITH kn AS (SELECT doc_id, source, kn_surprise
        FROM $docKnSurpriseSql k),
      bi AS (SELECT doc_id, surprise FROM $docSurpriseSql b),
      ranked AS (
        SELECT kn.source, kn.doc_id,
          CAST(row_number() OVER (PARTITION BY kn.source
            ORDER BY bi.surprise, kn.doc_id) AS BIGINT) AS r_bi,
          CAST(row_number() OVER (PARTITION BY kn.source
            ORDER BY kn.kn_surprise, kn.doc_id) AS BIGINT) AS r_kn
        FROM kn JOIN bi USING (doc_id))
      SELECT 'bigram_surprise' AS sig_a, 'kn_surprise' AS sig_b, source,
        count(*) AS n,
        CAST(sum((r_bi - r_kn) * (r_bi - r_kn)) AS BIGINT) AS sd2,
        ${proundSql(
          "1.0 - 6.0 * sum((r_bi - r_kn) * (r_bi - r_kn)) / " +
            "(count(*) * (count(*) * count(*) - 1))", 6)} AS rho
      FROM ranked GROUP BY source
      ORDER BY source"""))

  // -- C7d: n-gram DIVERSITY mart — the type-token view a curation
  //    team reads next to q192's vocab GROWTH curve: per source, how
  //    much of the token stream is novel at n = 1..3 (hash-bucketed
  //    n-gram types / instances — low trigram TTR = templated or
  //    self-repetitive source, the q63 signal aggregated to the mart
  //    level). One exploded scan per n, keyed aggs with map-side
  //    combine; ratios are single exactly-rounded divisions.
  // -- C21: ZIPF fit per source — the corpus-health diagnostic: OLS
  //    of ln(tf) on ln(rank) over each source's top-50 tokens gives
  //    the Zipf exponent (slope ≈ −1 for natural text; a flat slope
  //    flags templated/duplicated corpora, a cliff flags truncation)
  //    plus R² for how Zipfian the source actually is. Oracle-exact
  //    ONLY because both logs are graft_lndet (rank ≥ 1, tf ≥ 1 — in
  //    domain by construction); per-point x, y, x², xy, y² are fixed
  //    double products pround(8)-bridged into DECIMAL sums
  //    (order-free), and the closed-form slope/intercept/R² is pure
  //    two-operand arithmetic on the exact sums. Scale: per-source
  //    top-50 is a WindowGroupLimit-pruned rank; the regression
  //    itself is 50 rows/source.
  private val ZIPF_TOP = 50
  private val q238 = Q(
    "q238_zipf_fit",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tf = t.documents
        .select(col("source"),
          explode(TextFns.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val wr = Window.partitionBy(col("source"))
        .orderBy(col("tf").desc, col("token").asc)
      val pts = tf.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= ZIPF_TOP)
        .select(col("source"),
          call_function("graft_lndet", col("rank").cast("double")).as("x"),
          call_function("graft_lndet", col("tf").cast("double")).as("y"))
      def dsum8(c: org.apache.spark.sql.Column) =
        sum(pround(c, 8).cast(DecimalType(28, 8))).cast("double")
      val sums = pts.groupBy(col("source"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum8(col("x")).as("sx"), dsum8(col("y")).as("sy"),
          dsum8(col("x") * col("x")).as("sxx"),
          dsum8(col("x") * col("y")).as("sxy"),
          dsum8(col("y") * col("y")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("source"), col("n").cast("long").as("n_points"),
          pround(cov / vx, 6).as("slope"),
          pround((col("sy") - cov / vx * col("sx")) / col("n"), 6)
            .as("intercept"),
          pround(cov * cov / (vx * vy), 6).as("r2"))
        .orderBy(col("source"))
    },
    Some {
      val cov = "(n * sxy - sx * sy)"
      val vx = "(n * sxx - sx * sx)"
      val vy = "(n * syy - sy * sy)"
      s"""WITH tf AS MATERIALIZED (
        SELECT source, token, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT source,
                unnest(${TextFns.tokensSql("lower(text)")}) AS token
              FROM documents)
        GROUP BY source, token),
      ranked AS (
        SELECT source, tf, CAST(rank AS DOUBLE) AS rank FROM (
          SELECT source, tf, row_number() OVER (PARTITION BY source
              ORDER BY tf DESC, token ASC) AS rank
          FROM tf) WHERE rank <= $ZIPF_TOP),
      ${lnDetSqlCtes("zr", "ranked", "source, tf", "rank")},
      pts0 AS (SELECT source, tf, lnp AS x FROM zrlnv),
      ${lnDetSqlCtes("zf", "pts0", "source, x", "CAST(tf AS DOUBLE)")},
      pts AS (SELECT source, x, lnp AS y FROM zflnv),
      sums AS (
        SELECT source, CAST(count(*) AS DOUBLE) AS n,
          ${dsum8Sql("x")} AS sx, ${dsum8Sql("y")} AS sy,
          ${dsum8Sql("x * x")} AS sxx, ${dsum8Sql("x * y")} AS sxy,
          ${dsum8Sql("y * y")} AS syy
        FROM pts GROUP BY source)
      SELECT source, CAST(n AS BIGINT) AS n_points,
        ${proundSql(s"$cov / $vx", 6)} AS slope,
        ${proundSql(s"(sy - $cov / $vx * sx) / n", 6)} AS intercept,
        ${proundSql(s"$cov * $cov / ($vx * $vy)", 6)} AS r2
      FROM sums
      ORDER BY source"""
    })

  private val q209 = Q(
    "q209_ngram_diversity",
    (s, dir) => {
      val t = Tpch(s, dir)
      val rows = Seq(1, 2, 3).map { n =>
        t.documents
          .select(col("source"),
            explode(TextFns.shingleHashes(lower(col("text")), n)).as("h"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_instances"),
            countDistinct(col("h")).as("n_types"))
          .select(lit(n).as("n"), col("source"), col("n_instances"),
            col("n_types"),
            pround(col("n_types").cast("double") / col("n_instances"), 6)
              .as("ttr"))
      }
      rows.reduce(_.unionByName(_)).orderBy(col("n"), col("source"))
    },
    Some {
      val rows = Seq(1, 2, 3).map { n =>
        s"""SELECT $n AS n, source,
          CAST(count(*) AS BIGINT) AS n_instances,
          CAST(count(DISTINCT h) AS BIGINT) AS n_types,
          ${proundSql(
            "CAST(count(DISTINCT h) AS DOUBLE) / count(*)", 6)} AS ttr
        FROM (SELECT source,
                unnest(${TextFns.shingleHashesSql("lower(text)", n)}) AS h
              FROM documents)
        GROUP BY source"""
      }.mkString("\n        UNION ALL ")
      s"""SELECT * FROM (
        $rows)
      ORDER BY n, source"""
    })

  // -- C8: pairwise source distribution drift (operators.Divergence) —
  //    total variation over token distributions via the min-overlap
  //    identity: shared-vocab join only, exact decimal mass sums, one
  //    float division at the end. No log ⇒ no libm ulp risk. ---------
  private val q105 = Q(
    "q105_source_divergence",
    (s, dir) => {
      val t = Tpch(s, dir)
      graft.operators.Divergence.tokenTV(t.documents, "source", "text")
    },
    Some(s"""WITH tc AS (
        SELECT source AS src, token, count(*) AS c
        FROM (SELECT source, unnest(${TextFns.tokensSql("text")}) AS token
              FROM documents)
        GROUP BY src, token),
      tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY src)
      SELECT a.src AS src1, b.src AS src2, t1.n AS n1, t2.n AS n2,
        count(*) AS n_common,
        ${proundSql(
          """1.0 - CAST(sum(least(CAST(a.c AS DECIMAL(38,0)) * t2.n,
                                  CAST(b.c AS DECIMAL(38,0)) * t1.n))
                   AS DOUBLE)
             / (CAST(t1.n AS DOUBLE) * CAST(t2.n AS DOUBLE))""", 6)} AS tv
      FROM tc a
      JOIN tc b ON a.token = b.token AND a.src < b.src
      JOIN tot t1 ON t1.src = a.src
      JOIN tot t2 ON t2.src = b.src
      GROUP BY src1, src2, n1, n2
      ORDER BY src1, src2"""))

  // -- C9: JSONL corpus interchange (core.JsonlTable) — the documents
  //    table is written as gzipped JSONL (the LLM-corpus exchange
  //    format) and read back under the explicit schema; the oracle
  //    aggregates the UNTOUCHED parquet source, so a hash match proves
  //    the round trip is lossless (text escaping included: the
  //    per-source rolling-hash sum covers every character). -----------
  private val q122 = Q(
    "q122_jsonl_roundtrip",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_jsonl_q122").toString
      val back = graft.core.JsonlTable.roundTrip(t.documents, tmp)
      back.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextFns.rollingHash(col("text"))).as("text_hash_sum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(${TextFns.rollingHashSql("text")}) AS BIGINT)
          AS text_hash_sum,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  // -- C11: WARC crawl-archive interchange (core.WarcTable) — the
  //    documents table is written as Common-Crawl-layout WARC (one
  //    gzip member per record, warcinfo + response records,
  //    length-delimited payloads) and parsed back; the oracle
  //    aggregates the UNTOUCHED parquet source, so a hash match
  //    proves the archive round trip is byte-lossless AND that the
  //    parser's Content-Length accounting matches the oracle's
  //    independent byte count (strlen = UTF-8 octets). ---------------
  private val q130 = Q(
    "q130_warc_roundtrip",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_warc_q130").toString
      graft.core.WarcTable.write(
        t.documents.select(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("record_id"),
          concat(lit("http://corpus.example/"), col("source"), lit("/"),
            col("doc_id")).as("target_uri"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          lit("text/plain; charset=utf-8").as("content_type"),
          encode(col("text"), "UTF-8").as("payload"))
          .repartition(4, col("record_id")),
        tmp)
      graft.core.WarcTable.read(s, tmp)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"),
            "http://corpus\\.example/([^/]+)/", 1).as("source"),
          substring_index(col("record_id"), ":", -1).cast("long")
            .as("doc_id"),
          col("content_length"),
          decode(col("payload"), "UTF-8").as("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("content_length")).as("sum_bytes"),
          sum(TextFns.rollingHash(col("text"))).as("text_hash_sum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, count(*) AS n_docs,
        CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        CAST(sum(${TextFns.rollingHashSql("text")}) AS BIGINT)
          AS text_hash_sum,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  /** The interchange-identity oracle shared by every lossless
    * round-trip row (q131 ORC, q243 Avro): aggregates the UNTOUCHED
    * parquet sources with the same text rolling-hash and
    * position-weighted 2^-24 embedding checksums the engine computes
    * over the round-tripped frames.
    */
  private val interchangeChecksumSql =
    s"""WITH d AS (
        SELECT 'doc:' || lang AS key, count(*) AS n_rows,
          CAST(sum(${TextFns.rollingHashSql("text")}) AS BIGINT)
            AS checksum,
          min(doc_id) AS lo, max(doc_id) AS hi
        FROM documents GROUP BY lang),
      v AS (
        SELECT 'vec:' || label AS key, count(*) AS n_rows,
          CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1,
                CAST(len(embedding) AS BIGINT)),
              i -> i * CAST(floor(CAST(embedding[i] AS DOUBLE)
                * 16777216.0) AS BIGINT))),
            (x, y) -> x + y)) AS BIGINT) AS checksum,
          min(vec_id) AS lo, max(vec_id) AS hi
        FROM embeddings GROUP BY label)
      SELECT * FROM d UNION ALL SELECT * FROM v
      ORDER BY key"""

  // -- C12b: AVRO container interchange (core.AvroTable) — the
  //    row-oriented sibling of q131: documents AND embeddings written
  //    as deflate Avro Object Container Files through the avro-java
  //    API (Spark 4 ships no spark-avro DataSource; avro core is
  //    already on every Spark classpath) and read back under explicit
  //    schemas; same identity checksums as q131, so a hash match
  //    proves the string AND nested-float-array paths are lossless
  //    through the third interchange format. ------------------------
  private val q243 = Q(
    "q243_avro_roundtrip",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_avro_q243").toString
      val docs = graft.core.AvroTable.roundTrip(t.documents,
        s"$tmp/documents")
      val vecs = graft.core.AvroTable.roundTrip(t.embeddings,
        s"$tmp/embeddings")
      val dAgg = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(TextFns.rollingHash(col("text"))).as("checksum"),
          min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .select(concat(lit("doc:"), col("lang")).as("key"),
          col("n_rows"), col("checksum"), col("lo"), col("hi"))
      val vecHash = aggregate(
        transform(col("embedding"), (x, i) =>
          (i + 1).cast("long") *
            floor(x.cast("double") * lit(16777216.0)).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val vAgg = vecs.groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"), sum(vecHash).as("checksum"),
          min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
        .select(concat(lit("vec:"), col("label")).as("key"),
          col("n_rows"), col("checksum"), col("lo"), col("hi"))
      dAgg.unionByName(vAgg).orderBy(col("key"))
    },
    Some(interchangeChecksumSql))

  // -- C12: ORC columnar interchange (core.OrcTable) — documents AND
  //    embeddings are written as zlib ORC and read back under explicit
  //    schemas; the oracle aggregates the UNTOUCHED parquet sources.
  //    The embeddings checksum position-weights each element at 2^-24
  //    granularity ((i+1)·floor(x·2^24): exact power-of-two scaling of
  //    a float, so any element corruption, reorder, or truncation the
  //    ORC round trip could introduce breaks the hash), and the text
  //    checksum is the per-char rolling hash — so a hash match proves
  //    both the string AND nested-array paths are lossless. -----------
  private val q131 = Q(
    "q131_orc_roundtrip",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_orc_q131").toString
      val docs = graft.core.OrcTable.roundTrip(t.documents, s"$tmp/documents")
      val vecs = graft.core.OrcTable.roundTrip(t.embeddings, s"$tmp/embeddings")
      val dAgg = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(TextFns.rollingHash(col("text"))).as("checksum"),
          min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .select(concat(lit("doc:"), col("lang")).as("key"),
          col("n_rows"), col("checksum"), col("lo"), col("hi"))
      val vecHash = aggregate(
        transform(col("embedding"), (x, i) =>
          (i + 1).cast("long") *
            floor(x.cast("double") * lit(16777216.0)).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val vAgg = vecs.groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"), sum(vecHash).as("checksum"),
          min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
        .select(concat(lit("vec:"), col("label")).as("key"),
          col("n_rows"), col("checksum"), col("lo"), col("hi"))
      dAgg.unionByName(vAgg).orderBy(col("key"))
    },
    Some(interchangeChecksumSql))

  // -- C13: domain-level reputation stats (UrlFns.hostOf) — the
  //    RefinedWeb-style curation gate that runs at HOST granularity,
  //    not document granularity: per canonical host, volume, language
  //    diversity, mean length, and English share, with a keep verdict
  //    (enough volume AND enough target-language coverage). Hosts are
  //    derived from messy per-doc URLs through the full canonicalizer
  //    (case + default-port variation pinned). One keyed shuffle on
  //    host — at 100 TB this is the cheap pre-filter that drops whole
  //    domains before any per-document scoring runs. ----------------
  private val q137 = Q(
    "q137_domain_stats",
    (s, dir) => {
      val t = Tpch(s, dir)
      val url = concat(lit("https://WWW."), col("source"),
        lit(".Example.COM:443/"), col("lang"), lit("/"), col("doc_id"))
      t.documents
        .select(col("lang"), col("n_chars"),
          graft.functions.UrlFns.hostOf(url).as("host"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          pround(sum(col("n_chars")).cast("double") / count(lit(1)), 4)
            .as("mean_chars"),
          pround(sum(when(col("lang") === "en", 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 4).as("en_share"),
          (count(lit(1)) >= 20 &&
            (sum(when(col("lang") === "en", 1L).otherwise(0L))
              .cast("double") / count(lit(1)) >= 0.4)).as("keep"))
        .orderBy(col("host"))
    },
    Some {
      val host = graft.functions.UrlFns.hostOfSql(
        "'https://WWW.' || source || '.Example.COM:443/' || lang || '/' || doc_id")
      s"""SELECT $host AS host,
        count(*) AS n_docs,
        count(DISTINCT lang) AS n_langs,
        ${proundSql("CAST(sum(n_chars) AS DOUBLE) / count(*)", 4)}
          AS mean_chars,
        ${proundSql(
          "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)" +
            " / count(*)", 4)} AS en_share,
        (count(*) >= 20 AND
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) >= 0.4) AS keep
      FROM documents
      GROUP BY host
      ORDER BY host"""
    })

  // -- C14: corpus snapshot diff (operators.CorpusDiff) — "what
  //    changed between crawl N and N+1": two deterministic views of
  //    the documents table (v2 drops every 5th id, adds back ids v1
  //    lacks, and edits every 11th text) are diffed by ONE id-keyed
  //    full-outer join that shuffles (id, hash) — never the text.
  //    added/removed/changed/unchanged counts + id ranges pin all
  //    four verdict branches. --------------------------------------
  private val q138 = Q(
    "q138_corpus_diff",
    (s, dir) => {
      val t = Tpch(s, dir)
      val v1 = t.documents.filter(col("doc_id") % 7 =!= 0)
      val v2 = t.documents.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"),
            lit(" [edited]"))).otherwise(col("text")).as("text"))
      graft.operators.CorpusDiff.summary(v1, v2, "doc_id", "text")
    },
    Some {
      val ha = TextFns.rollingHashSql("a.text")
      val hb = TextFns.rollingHashSql("b.text")
      s"""WITH v1 AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
      v2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN text || ' [edited]'
               ELSE text END AS text
        FROM documents WHERE doc_id % 5 != 0),
      d AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
          CASE WHEN a.doc_id IS NULL THEN 'added'
               WHEN b.doc_id IS NULL THEN 'removed'
               WHEN $ha = $hb THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
      SELECT status, count(*) AS n_docs,
        min(doc_id) AS lo, max(doc_id) AS hi
      FROM d GROUP BY status ORDER BY status"""
    })

  // -- C15: collocation mining — token-pair LIFT over document-level
  //    co-occurrence (the market-basket / PMI family; lift =
  //    P(ab)/(P(a)P(b)) is monotone to PMI and needs no libm: one
  //    exactly-rounded division over integer counts). Scale shape:
  //    the vocabulary is pruned to df ≥ MINDF FIRST and broadcast
  //    into the exploded token table, so the doc_id-keyed pair join's
  //    per-doc cost is (frequent tokens/doc)² — bounded by the vocab
  //    gate, never vocab². --------------------------------------------
  private val COL_MINDF = 100
  private val COL_MINPAIR = 60
  private val q143 = Q(
    "q143_collocations",
    (s, dir) => {
      val t = Tpch(s, dir)
      val dt = t.documents.select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("tok"))
      val freq = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= COL_MINDF)
      val ft = dt.join(broadcast(freq), "tok")
      val a = ft.select(col("doc_id"), col("tok").as("t1"),
        col("df").as("df1"))
      val b = ft.select(col("doc_id").as("doc_id2"), col("tok").as("t2"),
        col("df").as("df2"))
      val pairs = a.join(b,
          col("doc_id") === col("doc_id2") && col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"), col("df1"), col("df2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= COL_MINPAIR)
      val nd = t.documents.agg(count(lit(1)).as("n_docs"))
      pairs.crossJoin(broadcast(nd))
        .select(col("t1"), col("t2"), col("df1"), col("df2"), col("n_ab"),
          pround(col("n_ab").cast("double") * col("n_docs") /
            (col("df1") * col("df2")), 6).as("lift"))
        .orderBy(col("t1"), col("t2"))
    },
    Some(s"""WITH dt AS (
        SELECT doc_id,
          unnest(list_distinct(${TextFns.tokensSql("text")})) AS tok
        FROM documents),
      f AS (
        SELECT tok, count(*) AS df FROM dt
        GROUP BY tok HAVING count(*) >= $COL_MINDF),
      ft AS (
        SELECT dt.doc_id, dt.tok, f.df FROM dt JOIN f ON dt.tok = f.tok),
      p AS (
        SELECT a.tok AS t1, b.tok AS t2, a.df AS df1, b.df AS df2,
          count(*) AS n_ab
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= $COL_MINPAIR),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT t1, t2, df1, df2, n_ab,
        ${proundSql("CAST(n_ab AS DOUBLE) * n_docs / (df1 * df2)", 6)}
          AS lift
      FROM p, n ORDER BY t1, t2"""))

  // -- C16: feature-hashing vectorizer (the "hashing trick",
  //    Weinberger et al. 2009 / scikit's HashingVectorizer) — the
  //    fixed-dimension text vectorizer that needs NO vocabulary pass:
  //    bucket = hash(token) mod DIM. This is the vectorizer a 100 TB
  //    pipeline reaches for when the vocab doesn't fit (q47/q48 build
  //    explicit vocabularies; hashing is one explode → one
  //    (doc, bucket)-keyed agg, stateless and single-pass, at the
  //    price of collisions). Output is the sparse long-format vector
  //    (doc_id, bucket, tf) with the collision rate made VISIBLE:
  //    n_terms counts the distinct tokens sharing the bucket, so
  //    n_terms > 1 rows measure exactly what the trick traded away.
  //    Hash = the engine's portable polynomial rolling hash (the
  //    shingle-index key), identical in both engines.
  private val FH_DIM = 64
  private val q166 = Q(
    "q166_feature_hashing",
    (s, dir) => {
      val t = Tpch(s, dir)
      t.documents
        .select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("w"),
          pmod(TextFns.rollingHash(col("w")), lit(FH_DIM.toLong))
            .as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("w")).as("n_terms"))
        .orderBy(col("doc_id"), col("bucket"))
    },
    Some(s"""SELECT doc_id,
        ${TextFns.rollingHashSql("w")} % $FH_DIM AS bucket,
        count(*) AS tf,
        count(DISTINCT w) AS n_terms
      FROM (SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS w
            FROM documents)
      WHERE len(w) > 0
      GROUP BY doc_id, bucket
      ORDER BY doc_id, bucket"""))

  // -- C17: TAR / WebDataset interchange (core.TarTable) — documents
  //    are published as WebDataset shards (each sample = adjacent
  //    `<doc_id>.txt` + `<doc_id>.json` members in a POSIX ustar
  //    archive), read back by the pure-JVM header walk, and
  //    re-assembled into samples (one groupBy on the basename key).
  //    The oracle aggregates the UNTOUCHED parquet source, so a hash
  //    match proves: member payloads are byte-lossless (text rolling
  //    hash), the ustar size fields match an independent UTF-8 octet
  //    count (sum_bytes vs strlen), the metadata sidecar survives a
  //    JSON round trip (source/lang recovered FROM the .json member),
  //    and sample assembly pairs every txt with its json. ------------
  private val q177 = Q(
    "q177_tar_webdataset",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_tar_q177").toString
      val members = t.documents.select(col("doc_id"),
          explode(array(
            struct(concat(col("doc_id"), lit(".txt")).as("member_name"),
              encode(col("text"), "UTF-8").as("payload")),
            struct(concat(col("doc_id"), lit(".json")).as("member_name"),
              encode(to_json(struct(col("doc_id"), col("source"),
                col("lang"))), "UTF-8").as("payload")))).as("m"))
        .repartition(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("m.member_name"))
        .select(col("m.member_name").as("member_name"),
          col("m.payload").as("payload"))
      graft.core.TarTable.write(members, tmp)
      val back = graft.core.TarTable.samples(
        graft.core.TarTable.read(s, tmp))
      back.select(col("key").cast("long").as("doc_id"),
          decode(element_at(col("parts"), "txt"), "UTF-8").as("text"),
          length(element_at(col("parts"), "txt")).cast("long").as("n_bytes"),
          get_json_object(decode(element_at(col("parts"), "json"), "UTF-8"),
            "$.source").as("source"),
          get_json_object(decode(element_at(col("parts"), "json"), "UTF-8"),
            "$.lang").as("lang"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("sum_bytes"),
          sum(TextFns.rollingHash(col("text"))).as("text_hash_sum"),
          sum(TextFns.rollingHash(col("lang"))).as("lang_hash_sum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, count(*) AS n_docs,
        CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        CAST(sum(${TextFns.rollingHashSql("text")}) AS BIGINT)
          AS text_hash_sum,
        CAST(sum(${TextFns.rollingHashSql("lang")}) AS BIGINT)
          AS lang_hash_sum,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  // -- C17b: ZIP / WebDataset interchange (core.ZipTable) — q177's
  //    contract on the OTHER archive format corpora ship in: documents
  //    published as DEFLATED zip shards (real compression through the
  //    pure-JVM writer), read back via the central-directory walk (the
  //    format's defining feature vs tar: an index, not a scan), CRC-
  //    verified, reassembled into samples. Same untouched-source
  //    oracle as q177: a hash match proves deflate→inflate is
  //    byte-lossless, central sizes match an independent octet count,
  //    the JSON sidecar survives, and assembly pairs txt with json.
  private val q220 = Q(
    "q220_zip_webdataset",
    (s, dir) => {
      val t = Tpch(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_zip_q220").toString
      val members = t.documents.select(col("doc_id"),
          explode(array(
            struct(concat(col("doc_id"), lit(".txt")).as("member_name"),
              encode(col("text"), "UTF-8").as("payload")),
            struct(concat(col("doc_id"), lit(".json")).as("member_name"),
              encode(to_json(struct(col("doc_id"), col("source"),
                col("lang"))), "UTF-8").as("payload")))).as("m"))
        .repartition(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("m.member_name"))
        .select(col("m.member_name").as("member_name"),
          col("m.payload").as("payload"))
      graft.core.ZipTable.write(members, tmp, deflate = true)
      val back = graft.core.ZipTable.samples(
        graft.core.ZipTable.read(s, tmp))
      back.select(col("key").cast("long").as("doc_id"),
          decode(element_at(col("parts"), "txt"), "UTF-8").as("text"),
          length(element_at(col("parts"), "txt")).cast("long").as("n_bytes"),
          get_json_object(decode(element_at(col("parts"), "json"), "UTF-8"),
            "$.source").as("source"),
          get_json_object(decode(element_at(col("parts"), "json"), "UTF-8"),
            "$.lang").as("lang"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("sum_bytes"),
          sum(TextFns.rollingHash(col("text"))).as("text_hash_sum"),
          sum(TextFns.rollingHash(col("lang"))).as("lang_hash_sum"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, count(*) AS n_docs,
        CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        CAST(sum(${TextFns.rollingHashSql("text")}) AS BIGINT)
          AS text_hash_sum,
        CAST(sum(${TextFns.rollingHashSql("lang")}) AS BIGINT)
          AS lang_hash_sum,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  // -- C18: KMV (bottom-k) sketch corpus overlap (operators.Kmv) —
  //    cross-source vocabulary Jaccard WITHOUT the vocab-level
  //    self-join: each source reduces to its k smallest distinct
  //    token hashes; the merged-bottom-k vote estimates Jaccard with
  //    rsd ≈ 1/√k. Unlike HLL (q40's contract-gated registers), KMV
  //    sketch CONTENTS are a deterministic function of the input, so
  //    this oracles bit-exact — integer counts + one IEEE division.
  //    The row also carries the EXACT pairwise Jaccard (the join the
  //    sketch replaces at scale) so the estimate's error is in the
  //    output, measured, per pair. ------------------------------------
  private val KMV_K = 128
  private val KMV_W = 3 // shingle width: per-source sets ≫ k, real estimation
  private val q222 = Q(
    "q222_kmv_overlap",
    (s, dir) => {
      val t = Tpch(s, dir)
      // distinct (source, shingle-hash) universe — shared by the exact
      // and sketch paths, materialized once. Trigram shingles, not
      // tokens: the synthetic vocabulary is ~30 shared words, so the
      // token universe would make every sketch exact and every pair
      // Jaccard ≈ 1; the shingle universe (~1.3k/source at sf0.01,
      // pair Jaccard 0.01–0.08) actually exercises the estimator.
      // native tokenize+shingle+hash (graft_shingle_hashes ≡ the
      // rollingHash-of-shingles HOF chain, property-tested) on a
      // fanned-out scan: the single-file bench table otherwise runs
      // this whole explode+hash pass on ONE task (guide §2.5/§4 —
      // measured 3.65 s serial at sf0.1)
      val u = graft.core.Scan.fanOut(t.documents)
        .select(col("source"),
          explode(TextFns.shingleHashes(lower(col("text")), KMV_W)).as("h"))
        .distinct()
        .localCheckpoint(true)
      val n = u.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val sk = graft.operators.Kmv.sketches(u, "source", "h", KMV_K)
      val est = graft.operators.Kmv.pairJaccard(sk, "source", "h", KMV_K)
      val inter = u.as("a").join(u.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("key_a"), col("b.source").as("key_b"))
        .agg(count(lit(1)).as("n_inter"))
      est
        .join(n.select(col("source").as("key_a"), col("n").as("n_a")),
          "key_a")
        .join(n.select(col("source").as("key_b"), col("n").as("n_b")),
          "key_b")
        .join(inter, Seq("key_a", "key_b"), "left")
        .na.fill(0L, Seq("n_inter"))
        .select(col("key_a").as("src_a"), col("key_b").as("src_b"),
          col("n_a"), col("n_b"), col("n_inter"),
          pround(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
            .as("jacc_exact"),
          col("k_eff"), col("n_match"),
          pround(col("jacc_est"), 6).as("jacc_est"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some {
      val shs = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), KMV_W)
      s"""WITH u AS MATERIALIZED (
        SELECT DISTINCT source, ${TextFns.rollingHashSql("sh")} AS h
        FROM (SELECT source, unnest($shs) AS sh FROM documents)),
      n AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM u
        GROUP BY source),
      sk AS MATERIALIZED (
        SELECT source, h FROM (
          SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM u) WHERE rk <= $KMV_K),
      prs AS (SELECT a.source AS key_a, b.source AS key_b
        FROM n a JOIN n b ON a.source < b.source),
      inter AS MATERIALIZED (
        SELECT a.source AS key_a, b.source AS key_b,
          CAST(count(*) AS BIGINT) AS n_inter
        FROM u a JOIN u b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source),
      m AS MATERIALIZED (
        SELECT key_a, key_b, h, max(ina) AS ina, max(inb) AS inb FROM (
          SELECT p.key_a, p.key_b, s.h, 1 AS ina, 0 AS inb
          FROM prs p JOIN sk s ON s.source = p.key_a
          UNION ALL
          SELECT p.key_a, p.key_b, s.h, 0, 1
          FROM prs p JOIN sk s ON s.source = p.key_b)
        GROUP BY key_a, key_b, h),
      est AS (
        SELECT key_a, key_b, CAST(count(*) AS BIGINT) AS k_eff,
          CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_match
        FROM (SELECT key_a, key_b, ina, inb,
                row_number() OVER (PARTITION BY key_a, key_b
                  ORDER BY h) AS rk
              FROM m)
        WHERE rk <= $KMV_K
        GROUP BY key_a, key_b)
      SELECT e.key_a AS src_a, e.key_b AS src_b, na.n AS n_a,
        nb.n AS n_b, COALESCE(i.n_inter, 0) AS n_inter,
        ${proundSql(
          "CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / " +
            "CAST(na.n + nb.n - COALESCE(i.n_inter, 0) AS DOUBLE)", 6)}
          AS jacc_exact,
        e.k_eff, e.n_match,
        ${proundSql(
          "CAST(e.n_match AS DOUBLE) / CAST(e.k_eff AS DOUBLE)", 6)}
          AS jacc_est
      FROM est e
      JOIN n na ON na.source = e.key_a
      JOIN n nb ON nb.source = e.key_b
      LEFT JOIN inter i ON i.key_a = e.key_a AND i.key_b = e.key_b
      ORDER BY src_a, src_b"""
    })

  // -- C19: Count-Min frequency sketch (operators.CountMin) — the
  //    frequency companion to q222's KMV set sketch: token counts at
  //    FIXED d×w counter memory instead of vocab-sized state, with
  //    the CMS one-sided guarantee (estimate ≥ exact, bounded
  //    overcount) VISIBLE per row — each of q47's top-50 tokens
  //    carries its exact tf next to the sketch estimate. Everything
  //    is integer counting, so it oracles bit-exact (q40's HLL needs
  //    contract flags; CMS doesn't).
  private val CMS_D = 4
  private val CMS_W = 256
  private val CMS_SHW = 3 // trigram shingles: ~16k keys at sf0.01 vs
                          // d*w = 1024 counters - real collisions, so
                          // the overcount column actually measures
  private val q228 = Q(
    "q228_cms_frequencies",
    (s, dir) => {
      val t = Tpch(s, dir)
      // graft_shingles (native ShingleStrings ≡ shingles∘tokens,
      // property-tested) + fanOut: the string-emitting twin of the
      // q222 rewrite — this query's output needs the token STRINGS,
      // so only the interpreted per-position lambda is replaced
      val toks = graft.core.Scan.fanOut(t.documents)
        .select(explode(TextFns.shinglesNative(
          lower(col("text")), CMS_SHW)).as("token"))
        .select(col("token"), TextFns.rollingHash(col("token")).as("h"))
        .localCheckpoint(true)
      val ctrs = graft.operators.CountMin
        .counters(toks.select(col("h")), "h", CMS_D, CMS_W)
      val top = toks.groupBy(col("token"), col("h"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(50)
      graft.operators.CountMin.estimate(ctrs, top, "h", CMS_D, CMS_W)
        .select(col("token"), col("tf"), col("cms_est"),
          (col("cms_est") - col("tf")).as("overcount"))
        .orderBy(col("tf").desc, col("token").asc)
    },
    Some {
      val ts = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), CMS_SHW)
      val hs = TextFns.rollingHashSql("token")
      val rowsUnion = (0 until CMS_D).map { i =>
        s"SELECT $i AS row, ${graft.operators.CountMin.bucketSql("h", i, CMS_W)} AS bucket FROM toks"
      }.mkString(" UNION ALL ")
      val probeUnion = (0 until CMS_D).map { i =>
        s"SELECT token, tf, $i AS row, ${graft.operators.CountMin.bucketSql("h", i, CMS_W)} AS bucket FROM top"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS MATERIALIZED (
        SELECT token, $hs AS h
        FROM (SELECT unnest($ts) AS token FROM documents)),
      ctrs AS MATERIALIZED (
        SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM ($rowsUnion) GROUP BY row, bucket),
      top AS MATERIALIZED (
        SELECT token, h, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY token, h
        ORDER BY tf DESC, token ASC LIMIT 50)
      SELECT p.token, p.tf,
        CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est,
        CAST(min(COALESCE(c.cnt, 0)) - p.tf AS BIGINT) AS overcount
      FROM ($probeUnion) p
      LEFT JOIN ctrs c ON c.row = p.row AND c.bucket = p.bucket
      GROUP BY p.token, p.tf
      ORDER BY p.tf DESC, p.token ASC"""
    })

  // -- C19b: COUNT-SKETCH frequencies — q228's corpus through the
  //    SIGNED sketch (operators.CountSketch): d=5 rows hash each
  //    trigram shingle to a bucket AND a ±1 sign; estimates are the
  //    exact integer median of sign·counter across rows. The row to
  //    read next to q228: CMS only overcounts (bias +εN), Count-
  //    Sketch is UNBIASED with two-sided error — the signed_err
  //    column runs both directions where q228's overcount is always
  //    ≥ 0, and the same probes measure which regime each key falls
  //    into. Same scale shape (one d·w-bounded hash agg, mergeable by
  //    addition). ----------------------------------------------------
  private val CS_D = 5
  private val q236 = Q(
    "q236_countsketch_frequencies",
    (s, dir) => {
      val t = Tpch(s, dir)
      // same native-shingle + fanOut rewrite as q228 (strings needed)
      val toks = graft.core.Scan.fanOut(t.documents)
        .select(explode(TextFns.shinglesNative(
          lower(col("text")), CMS_SHW)).as("token"))
        .select(col("token"), TextFns.rollingHash(col("token")).as("h"))
        .localCheckpoint(true)
      val ctrs = graft.operators.CountSketch
        .counters(toks.select(col("h")), "h", CS_D, CMS_W)
      val top = toks.groupBy(col("token"), col("h"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(50)
      graft.operators.CountSketch.estimate(ctrs, top, "h", CS_D, CMS_W)
        .select(col("token"), col("tf"), col("cs_est"),
          (col("cs_est") - col("tf")).as("signed_err"))
        .orderBy(col("tf").desc, col("token").asc)
    },
    Some {
      val cs = graft.operators.CountSketch
      val ts = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), CMS_SHW)
      val hs = TextFns.rollingHashSql("token")
      val rowsUnion = (0 until CS_D).map { i =>
        s"SELECT $i AS row, ${cs.bucketSql("h", i, CMS_W)} AS bucket, " +
          s"${cs.signSql("h", i)} AS sgn FROM toks"
      }.mkString(" UNION ALL ")
      val probeUnion = (0 until CS_D).map { i =>
        s"SELECT token, tf, $i AS row, " +
          s"${cs.bucketSql("h", i, CMS_W)} AS bucket, " +
          s"${cs.signSql("h", i)} AS sgn FROM top"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS MATERIALIZED (
        SELECT token, $hs AS h
        FROM (SELECT unnest($ts) AS token FROM documents)),
      ctrs AS MATERIALIZED (
        SELECT row, bucket, CAST(sum(sgn) AS BIGINT) AS cnt
        FROM ($rowsUnion) GROUP BY row, bucket),
      top AS MATERIALIZED (
        SELECT token, h, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY token, h
        ORDER BY tf DESC, token ASC LIMIT 50)
      SELECT token, tf,
        CAST((list_sort(list(sgn * cnt)))[${(CS_D + 1) / 2}] AS BIGINT)
          AS cs_est,
        CAST((list_sort(list(sgn * cnt)))[${(CS_D + 1) / 2}] - tf AS BIGINT)
          AS signed_err
      FROM (
        SELECT p.token, p.tf, p.sgn, COALESCE(c.cnt, 0) AS cnt
        FROM ($probeUnion) p
        LEFT JOIN ctrs c ON c.row = p.row AND c.bucket = p.bucket)
      GROUP BY token, tf
      ORDER BY tf DESC, token ASC"""
    })

  // -- C20: KMV cardinality estimation — the other thing q222's
  //    bottom-k sketches buy: per-source distinct-count estimates
  //    from the k-th minimum hash, est = (k−1)·P / kth (uniform hash
  //    on [0, P)), exact when the set is smaller than k (sketch = the
  //    set). One division of exact longs per row; the exact count
  //    sits next to the estimate so the error is measured, not
  //    asserted (the q222/q228 sketch-row discipline).
  private val q230 = Q(
    "q230_kmv_cardinality",
    (s, dir) => {
      val t = Tpch(s, dir)
      // native shingle hashes + fanOut (the q222 rewrite)
      val u = graft.core.Scan.fanOut(t.documents)
        .select(col("source"),
          explode(TextFns.shingleHashes(lower(col("text")), KMV_W)).as("h"))
        .distinct()
        .localCheckpoint(true)
      val n = u.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      val sk = graft.operators.Kmv.sketches(u, "source", "h", KMV_K)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("sk_n"), max(col("h")).as("kth"))
      sk.join(n, "source")
        .select(col("source"), col("n_exact"), col("sk_n"), col("kth"),
          pround(
            when(col("sk_n") < KMV_K, col("n_exact").cast("double"))
              .otherwise(lit((KMV_K - 1).toDouble) *
                lit(graft.functions.TextFns.P.toDouble) /
                col("kth").cast("double")), 4).as("est"))
        .orderBy(col("source"))
    },
    Some {
      val shs = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), KMV_W)
      s"""WITH u AS MATERIALIZED (
        SELECT DISTINCT source, ${TextFns.rollingHashSql("sh")} AS h
        FROM (SELECT source, unnest($shs) AS sh FROM documents)),
      n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM u
        GROUP BY source),
      sk AS (
        SELECT source, CAST(count(*) AS BIGINT) AS sk_n,
          CAST(max(h) AS BIGINT) AS kth
        FROM (SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rk
              FROM u) WHERE rk <= $KMV_K
        GROUP BY source)
      SELECT s.source, n.n_exact, s.sk_n, s.kth,
        ${proundSql(
          s"CASE WHEN s.sk_n < $KMV_K THEN CAST(n.n_exact AS DOUBLE) " +
            s"ELSE CAST(${KMV_K - 1} AS DOUBLE) " +
            s"* CAST(${graft.functions.TextFns.P} AS DOUBLE) " +
            "/ CAST(s.kth AS DOUBLE) END", 4)} AS est
      FROM sk s JOIN n ON n.source = s.source
      ORDER BY s.source"""
    })

  // -- C21: HYPERLOGLOG cardinality ([[graft.operators.Hll]]) — the
  //    register sketch next to q230's order-statistic KMV, measured on
  //    the SAME per-source shingle universe so the two estimators'
  //    errors are directly comparable: 256 max-rho registers
  //    (~256 bytes vs KMV's k·8), harmonic mean accumulated as the
  //    EXACT integer Σ 2^(31−M_j), linear-counting small-range branch
  //    through graft_lndet. The exact count sits next to the estimate
  //    (the q222/q230 sketch-row discipline) — rel_err is measured,
  //    not asserted.
  private val q291 = Q(
    "q291_hll_cardinality",
    (s, dir) => {
      val t = Tpch(s, dir)
      // native shingle hashes + fanOut (the q222 rewrite)
      val u = graft.core.Scan.fanOut(t.documents)
        .select(col("source"),
          explode(TextFns.shingleHashes(lower(col("text")), KMV_W)).as("h0"))
        .select(col("source"),
          graft.operators.Sampling.slotWide(col("h0")).as("h"))
        .distinct()
        .localCheckpoint(true)
      val n = u.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      val regs = graft.operators.Hll.registers(u, "source", "h")
      val est = graft.operators.Hll.estimate(regs, "source")
      est.join(n, "source")
        .select(col("source"), col("n_exact"), col("m_present"),
          col("v_zero"), col("s_scaled"),
          pround(col("est"), 4).as("est"),
          pround((col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"), 6).as("rel_err"))
        .orderBy(col("source"))
    },
    Some {
      val shs = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), KMV_W)
      val hll = graft.operators.Hll
      s"""WITH u AS MATERIALIZED (
        SELECT DISTINCT source,
          (${graft.operators.Sampling.slotWideSql(
            TextFns.rollingHashSql("sh"))}) AS h
        FROM (SELECT source, unnest($shs) AS sh FROM documents)),
      regs AS (
        SELECT source, h % ${hll.M} AS bucket,
          max(least(bit_count(((h // ${hll.M}) & -(h // ${hll.M})) - 1)
            + 1, ${hll.RHO_CAP})) AS r
        FROM u GROUP BY source, h % ${hll.M}),
      agg AS (
        SELECT source,
          CAST(sum(CAST(1 AS BIGINT) << CAST(${hll.RHO_CAP} - r AS INT))
            AS BIGINT) AS s_present,
          CAST(count(*) AS BIGINT) AS m_present
        FROM regs GROUP BY source),
      fullr AS (
        SELECT source, m_present,
          ${hll.M} - m_present AS v_zero,
          s_present + (${hll.M} - m_present) * 2147483648 AS s_scaled
        FROM agg),
      ${graft.queries.Portable.lnDetSqlCtes("lc", "fullr",
        "source, m_present, v_zero, s_scaled",
        s"CAST(${hll.M} AS DOUBLE) / CAST(GREATEST(v_zero, 1) AS DOUBLE)")},
      est AS (
        SELECT source, m_present, v_zero, s_scaled,
          CASE WHEN ${hll.NUM} / CAST(s_scaled AS DOUBLE)
              <= ${hll.LC_THRESHOLD} AND v_zero > 0
            THEN CAST(${hll.M} AS DOUBLE) * lnp
            ELSE ${hll.NUM} / CAST(s_scaled AS DOUBLE) END AS est
        FROM lclnv),
      n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM u
        GROUP BY source)
      SELECT e.source, n.n_exact, e.m_present,
        CAST(e.v_zero AS BIGINT) AS v_zero,
        CAST(e.s_scaled AS BIGINT) AS s_scaled,
        ${proundSql("e.est", 4)} AS est,
        ${proundSql(
          "(e.est - CAST(n.n_exact AS DOUBLE)) / CAST(n.n_exact AS DOUBLE)",
          6)} AS rel_err
      FROM est e JOIN n ON n.source = e.source
      ORDER BY e.source"""
    })

  // -- C22: AMS F₂ SKETCH (Alon–Matias–Szegedy 1996) — the second
  //    frequency moment Σ f_t² ("self-join size" / repetition mass of
  //    the token stream) estimated from five ±1-sign accumulators,
  //    the third sketch family next to counters (CMS/CountSketch) and
  //    cardinality (KMV/HLL): each estimator keeps ONE long
  //    Z_i = Σ_occurrences σ_i(h) (the q236 CountSketch sign family,
  //    so the hashing is already engine-portable), E[Z²] = F₂, and
  //    the median of the five Z² is the estimate. Everything is
  //    exact BIGINT end to end — the only double is the final
  //    relative-error division. Exact F₂ sits next to the estimate
  //    (the sketch-row discipline).
  private val q292 = Q(
    "q292_ams_f2",
    (s, dir) => {
      val cs = graft.operators.CountSketch
      val t = Tpch(s, dir)
      val toks = t.documents
        .select(col("lang"), explode(TextFns.tokens(lower(col("text"))))
          .as("token"))
        .select(col("lang"), TextFns.rollingHash(col("token")).as("h"))
        .localCheckpoint(true)
      val zAggs = count(lit(1)).as("n_tokens") +:
        (0 until 5).map(i => sum(expr(cs.signSql("h", i))).as(s"z$i"))
      val zs = toks.groupBy(col("lang")).agg(zAggs.head, zAggs.tail: _*)
      val f2 = toks.groupBy(col("lang"), col("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(sum(col("c") * col("c")).as("f2_exact"))
      val estArr = array((0 until 5).map(i =>
        col(s"z$i") * col(s"z$i")): _*)
      zs.join(f2, "lang")
        .select(col("lang"), col("n_tokens"), col("f2_exact"),
          element_at(array_sort(estArr), 3).as("f2_est"))
        .withColumn("rel_err",
          pround((col("f2_est") - col("f2_exact")).cast("double")
            / col("f2_exact").cast("double"), 6))
        .orderBy(col("lang"))
    },
    Some {
      val cs = graft.operators.CountSketch
      val ts = TextFns.tokensSql("lower(text)")
      val hs = TextFns.rollingHashSql("token")
      val zCols = (0 until 5).map(i =>
        s"CAST(sum(${cs.signSql("h", i)}) AS BIGINT) AS z$i")
        .mkString(", ")
      val ests = (0 until 5).map(i => s"z$i * z$i").mkString(", ")
      s"""WITH toks AS MATERIALIZED (
        SELECT lang, $hs AS h
        FROM (SELECT lang, unnest($ts) AS token FROM documents)),
      zs AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens, $zCols
        FROM toks GROUP BY lang),
      f2 AS (
        SELECT lang, CAST(sum(c * c) AS BIGINT) AS f2_exact
        FROM (SELECT lang, h, CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY lang, h)
        GROUP BY lang)
      SELECT z.lang, z.n_tokens, f.f2_exact,
        CAST(list_sort([$ests])[3] AS BIGINT) AS f2_est,
        ${proundSql(
          """CAST(list_sort([""" + ests + """])[3] - f.f2_exact AS DOUBLE)
             / CAST(f.f2_exact AS DOUBLE)""", 6)} AS rel_err
      FROM zs z JOIN f2 f ON f.lang = z.lang
      ORDER BY z.lang"""
    })

  // -- C23: GOOD-TURING unseen-mass estimate — the LM-smoothing
  //    number q237's Kneser-Ney perplexity presupposes, measured
  //    directly: per lang, the frequency-of-frequencies table N_r
  //    gives the Turing estimate of UNSEEN probability mass
  //    p₀ = N₁/N and the discounted counts r* = (r+1)·N_{r+1}/N_r —
  //    the "how much of this corpus slice's token distribution is
  //    still unobserved" dial a sampling curriculum reads. Everything
  //    is exact integer counting until the final divisions; empty
  //    N_r rungs emit null, never a fake zero.
  private val q297 = Q(
    "q297_good_turing",
    (s, dir) => {
      val t = Tpch(s, dir)
      val cnt = t.documents
        .select(col("lang"), explode(TextFns.tokens(lower(col("text"))))
          .as("token"))
        .select(col("lang"), TextFns.rollingHash(col("token")).as("h"))
        .groupBy(col("lang"), col("h")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val fof = cnt.groupBy(col("lang"), col("c"))
        .agg(count(lit(1)).as("nr"))
      def nAt(r: Int) = sum(when(col("c") === r, col("nr"))
        .otherwise(0L)).as(s"n$r")
      val agg = fof.groupBy(col("lang"))
        .agg(sum(col("c") * col("nr")).as("n_tokens"),
          sum(col("nr")).as("vocab"), nAt(1), nAt(2), nAt(3))
      def rStar(r: Int) =
        when(col(s"n$r") > 0,
          pround(lit((r + 1).toDouble) * col(s"n${r + 1}").cast("double")
            / col(s"n$r").cast("double"), 6))
      agg.select(col("lang"), col("n_tokens"), col("vocab"),
          col("n1"), col("n2"), col("n3"),
          pround(col("n1").cast("double") / col("n_tokens").cast("double"),
            6).as("p_unseen"),
          rStar(1).as("r_star_1"), rStar(2).as("r_star_2"))
        .orderBy(col("lang"))
    },
    Some {
      val ts = TextFns.tokensSql("lower(text)")
      val hs = TextFns.rollingHashSql("token")
      def nAt(r: Int) =
        s"CAST(sum(CASE WHEN c = $r THEN nr ELSE 0 END) AS BIGINT) AS n$r"
      def rStar(r: Int) =
        s"""CASE WHEN n$r > 0 THEN ${proundSql(
          s"${r + 1}.0 * CAST(n${r + 1} AS DOUBLE) / CAST(n$r AS DOUBLE)",
          6)} END"""
      s"""WITH cnt AS MATERIALIZED (
        SELECT lang, h, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT lang, $hs AS h
              FROM (SELECT lang, unnest($ts) AS token FROM documents))
        GROUP BY lang, h),
      fof AS (
        SELECT lang, c, CAST(count(*) AS BIGINT) AS nr
        FROM cnt GROUP BY lang, c),
      agg AS (
        SELECT lang, CAST(sum(c * nr) AS BIGINT) AS n_tokens,
          CAST(sum(nr) AS BIGINT) AS vocab,
          ${nAt(1)}, ${nAt(2)}, ${nAt(3)}
        FROM fof GROUP BY lang)
      SELECT lang, n_tokens, vocab, n1, n2, n3,
        ${proundSql(
          "CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)}
          AS p_unseen,
        ${rStar(1)} AS r_star_1,
        ${rStar(2)} AS r_star_2
      FROM agg
      ORDER BY lang"""
    })

  // -- C24: HLL OVERLAP — what register sketches buy that q230's KMV
  //    needs stored hashes for: per-LANG-pair intersection and Jaccard
  //    by inclusion-exclusion over MERGED registers (union registers =
  //    per-bucket max, an order-free fold — the mergeability that
  //    makes HLL the cross-shard cardinality plumbing at 100 TB: ship
  //    256 bytes per shard, never re-scan). est_inter = est_a + est_b
  //    − est_union can be slightly negative on thin overlaps — it is
  //    reported as measured, next to the exact truth (sketch-row
  //    discipline).
  private val q300 = Q(
    "q300_hll_overlap",
    (s, dir) => {
      val t = Tpch(s, dir)
      val hll = graft.operators.Hll
      // native shingle hashes + fanOut (the q222 rewrite)
      val u = graft.core.Scan.fanOut(t.documents)
        .select(col("lang"),
          explode(TextFns.shingleHashes(lower(col("text")), KMV_W)).as("h0"))
        .select(col("lang"),
          graft.operators.Sampling.slotWide(col("h0")).as("h"))
        .distinct()
        .localCheckpoint(true)
      val regs = hll.registers(u, "lang", "h").localCheckpoint(true)
      val est1 = hll.estimate(regs, "lang")
        .select(col("lang"), col("est"))
      val n1 = u.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val langs = u.select(col("lang")).distinct()
      val pairsL = langs.as("a").join(langs.as("b"),
          col("a.lang") < col("b.lang"))
        .select(col("a.lang").as("la"), col("b.lang").as("lb"))
      val uregs = pairsL.join(regs.withColumnRenamed("lang", "la"), Seq("la"))
        .select(col("la"), col("lb"), col("bucket"), col("r"))
        .unionByName(
          pairsL.join(regs.withColumnRenamed("lang", "lb"), Seq("lb"))
            .select(col("la"), col("lb"), col("bucket"), col("r")))
        .groupBy(col("la"), col("lb"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val estU = hll.estimateKeys(uregs, Seq("la", "lb"))
        .select(col("la"), col("lb"), col("est").as("est_union"))
      val inter = u.as("a").join(u.as("b"),
          col("a.h") === col("b.h") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("la"), col("b.lang").as("lb"))
        .agg(count(lit(1)).as("inter_exact"))
      pairsL
        .join(n1.select(col("lang").as("la"), col("n").as("n_a")), Seq("la"))
        .join(n1.select(col("lang").as("lb"), col("n").as("n_b")), Seq("lb"))
        .join(inter, Seq("la", "lb"), "left")
        .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
        .join(est1.select(col("lang").as("la"), col("est").as("est_a")),
          Seq("la"))
        .join(est1.select(col("lang").as("lb"), col("est").as("est_b")),
          Seq("lb"))
        .join(estU, Seq("la", "lb"))
        .withColumn("union_exact",
          col("n_a") + col("n_b") - col("inter_exact"))
        .withColumn("est_inter",
          col("est_a") + col("est_b") - col("est_union"))
        .select(col("la"), col("lb"), col("n_a"), col("n_b"),
          col("inter_exact"), col("union_exact"),
          pround(col("est_inter"), 4).as("est_inter"),
          pround(col("inter_exact").cast("double")
            / col("union_exact").cast("double"), 6).as("jacc_exact"),
          pround(col("est_inter") / col("est_union"), 6).as("jacc_hll"))
        .orderBy(col("la"), col("lb"))
    },
    Some {
      val shs = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), KMV_W)
      val hll = graft.operators.Hll
      // the q291 estimate chain, parameterized by key columns
      def estChain(pfx: String, regsCte: String, keys: String) =
        s"""${pfx}agg AS (
        SELECT $keys,
          CAST(sum(CAST(1 AS BIGINT) << CAST(${hll.RHO_CAP} - r AS INT))
            AS BIGINT) AS s_present,
          CAST(count(*) AS BIGINT) AS m_present
        FROM $regsCte GROUP BY $keys),
      ${pfx}full AS (
        SELECT $keys, m_present,
          ${hll.M} - m_present AS v_zero,
          s_present + (${hll.M} - m_present) * 2147483648 AS s_scaled
        FROM ${pfx}agg),
      ${graft.queries.Portable.lnDetSqlCtes(s"${pfx}lc", s"${pfx}full",
        s"$keys, s_scaled, v_zero",
        s"CAST(${hll.M} AS DOUBLE) / CAST(GREATEST(v_zero, 1) AS DOUBLE)")},
      ${pfx}est AS (
        SELECT $keys,
          CASE WHEN ${hll.NUM} / CAST(s_scaled AS DOUBLE)
              <= ${hll.LC_THRESHOLD} AND v_zero > 0
            THEN CAST(${hll.M} AS DOUBLE) * lnp
            ELSE ${hll.NUM} / CAST(s_scaled AS DOUBLE) END AS est
        FROM ${pfx}lclnv)"""
      s"""WITH u AS MATERIALIZED (
        SELECT DISTINCT lang,
          (${graft.operators.Sampling.slotWideSql(
            TextFns.rollingHashSql("sh"))}) AS h
        FROM (SELECT lang, unnest($shs) AS sh FROM documents)),
      regs AS MATERIALIZED (
        SELECT lang, h % ${hll.M} AS bucket,
          max(least(bit_count(((h // ${hll.M}) & -(h // ${hll.M})) - 1)
            + 1, ${hll.RHO_CAP})) AS r
        FROM u GROUP BY lang, h % ${hll.M}),
      ${estChain("e1", "regs", "lang")},
      pairsl AS (
        SELECT a.lang AS la, b.lang AS lb
        FROM (SELECT DISTINCT lang FROM u) a
        JOIN (SELECT DISTINCT lang FROM u) b ON a.lang < b.lang),
      uregs AS (
        SELECT la, lb, bucket, max(r) AS r FROM (
          SELECT p.la, p.lb, g.bucket, g.r
          FROM pairsl p JOIN regs g ON g.lang = p.la
          UNION ALL
          SELECT p.la, p.lb, g.bucket, g.r
          FROM pairsl p JOIN regs g ON g.lang = p.lb)
        GROUP BY la, lb, bucket),
      ${estChain("e2", "uregs", "la, lb")},
      n1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM u
        GROUP BY lang),
      inter AS (
        SELECT a.lang AS la, b.lang AS lb,
          CAST(count(*) AS BIGINT) AS inter_exact
        FROM u a JOIN u b ON a.h = b.h AND a.lang < b.lang
        GROUP BY a.lang, b.lang)
      SELECT p.la, p.lb, na.n AS n_a, nb.n AS n_b,
        COALESCE(i.inter_exact, 0) AS inter_exact,
        na.n + nb.n - COALESCE(i.inter_exact, 0) AS union_exact,
        ${proundSql("ea.est + eb.est - eu.est", 4)} AS est_inter,
        ${proundSql(
          """CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
             / CAST(na.n + nb.n - COALESCE(i.inter_exact, 0) AS DOUBLE)""",
          6)} AS jacc_exact,
        ${proundSql("(ea.est + eb.est - eu.est) / eu.est", 6)}
          AS jacc_hll
      FROM pairsl p
      JOIN n1 na ON na.lang = p.la
      JOIN n1 nb ON nb.lang = p.lb
      LEFT JOIN inter i ON i.la = p.la AND i.lb = p.lb
      JOIN e1est ea ON ea.lang = p.la
      JOIN e1est eb ON eb.lang = p.lb
      JOIN e2est eu ON eu.la = p.la AND eu.lb = p.lb
      ORDER BY p.la, p.lb"""
    })

  // -- C25: CAPTURE-RECAPTURE (Lincoln-Petersen / Chapman) — the
  //    ecology estimator a dedup pipeline reuses to answer "how big is
  //    the population we HAVEN'T fully scanned": two deterministic
  //    20% hash captures of the per-lang shingle population, overlap
  //    m ⇒ N̂ = n₁n₂/m (and Chapman's bias-corrected
  //    (n₁+1)(n₂+1)/(m+1) − 1). The true N sits alongside, so the
  //    estimator's bias is measured, not asserted. Everything is
  //    exact integer conditional counting until the two final
  //    divisions.
  private val q307 = Q(
    "q307_capture_recapture",
    (s, dir) => {
      val t = Tpch(s, dir)
      val sw = (c: org.apache.spark.sql.Column) =>
        graft.operators.Sampling.slotWide(c)
      // native shingle hashes + fanOut (the q222 rewrite)
      val u = graft.core.Scan.fanOut(t.documents)
        .select(col("lang"),
          explode(TextFns.shingleHashes(lower(col("text")), KMV_W)).as("h"))
        .distinct()
        .withColumn("c1", (pmod(sw(col("h") * lit(2L) + lit(1L)),
          lit(5L)) === 0L).cast("long"))
        .withColumn("c2", (pmod(sw(col("h") * lit(2L) + lit(2L)),
          lit(5L)) === 0L).cast("long"))
      val agg = u.groupBy(col("lang")).agg(
        count(lit(1)).as("n_true"),
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("c2")).as("m"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val lp = d(col("n1")) * d(col("n2")) / d(col("m"))
      val ch = ((d(col("n1")) + 1.0) * (d(col("n2")) + 1.0)
        / (d(col("m")) + 1.0) - 1.0)
      agg.select(col("lang"), col("n_true"), col("n1"), col("n2"),
          col("m"),
          when(col("m") > 0, pround(lp, 4)).as("lp_est"),
          pround(ch, 4).as("chapman_est"),
          pround((ch - d(col("n_true"))) / d(col("n_true")), 6)
            .as("rel_err_chapman"))
        .orderBy(col("lang"))
    },
    Some {
      val shs = TextFns.shinglesSql(TextFns.tokensSql("lower(text)"), KMV_W)
      val c1 = s"CASE WHEN (${graft.operators.Sampling.slotWideSql(
        "h * 2 + 1")}) % 5 = 0 THEN 1 ELSE 0 END"
      val c2 = s"CASE WHEN (${graft.operators.Sampling.slotWideSql(
        "h * 2 + 2")}) % 5 = 0 THEN 1 ELSE 0 END"
      val lp = """CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        / CAST(m AS DOUBLE)"""
      val ch = """(CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        / (CAST(m AS DOUBLE) + 1.0) - 1.0"""
      s"""WITH u AS (
        SELECT DISTINCT lang, ${TextFns.rollingHashSql("sh")} AS h
        FROM (SELECT lang, unnest($shs) AS sh FROM documents)),
      marks AS (
        SELECT lang, $c1 AS c1, $c2 AS c2 FROM u),
      agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(c1) AS BIGINT) AS n1,
          CAST(sum(c2) AS BIGINT) AS n2,
          CAST(sum(c1 * c2) AS BIGINT) AS m
        FROM marks GROUP BY lang)
      SELECT lang, n_true, n1, n2, m,
        CASE WHEN m > 0 THEN ${proundSql(lp, 4)} END AS lp_est,
        ${proundSql(ch, 4)} AS chapman_est,
        ${proundSql(
          s"(($ch) - CAST(n_true AS DOUBLE)) / CAST(n_true AS DOUBLE)",
          6)} AS rel_err_chapman
      FROM agg
      ORDER BY lang"""
    })

  // -- C14: MUTUAL INFORMATION between quality signals — before two
  //    heuristics both gate a corpus, measure whether they carry the
  //    SAME information: MI (and the symmetric uncertainty
  //    2·MI/(H_a+H_b)) between the decile-binned type-token ratio and
  //    stopword ratio, per lang. Joint cells are one hash agg
  //    (≤ 100 cells/lang), marginals derive from the cells, and every
  //    log is graft_lndet on an exact-integer ratio — pointwise MI of
  //    either sign handled as sign·lnDet(max/min) — with pround(8)→
  //    DECIMAL cell sums so the double accumulation is order-free.
  //    Complements q85 (χ²: dependent or not) and q150 (Spearman:
  //    monotone direction) with HOW MANY NATS the signals share.
  private val q250 = Q(
    "q250_signal_mi",
    (s, dir) => {
      val t = Tpch(s, dir)
      val toks = TextFns.tokens(col("text"))
      val nTok = size(toks)
      val binned = t.documents
        .select(col("lang"),
          (size(array_distinct(toks)).cast("double")
            / nTok.cast("double")).as("dr"),
          (TextFns.markerCount(toks, TextAnalysis.stopwords).cast("double")
            / nTok.cast("double")).as("sr"))
        .select(col("lang"),
          least(floor(col("dr") * 10).cast("bigint"), lit(9L)).as("a"),
          least(floor(col("sr") * 10).cast("bigint"), lit(9L)).as("b"))
      val cells = binned.groupBy(col("lang"), col("a"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val na = cells.groupBy(col("lang"), col("a")).agg(sum(col("c")).as("ca"))
      val nb = cells.groupBy(col("lang"), col("b")).agg(sum(col("c")).as("cb"))
      val nn = cells.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val ln = (x: org.apache.spark.sql.Column) =>
        call_function("graft_lndet", x)
      val mi = cells.join(na, Seq("lang", "a")).join(nb, Seq("lang", "b"))
        .join(nn, Seq("lang"))
        .withColumn("num", col("c") * col("n"))
        .withColumn("den", col("ca") * col("cb"))
        .select(col("lang"),
          (col("c").cast("double") / col("n").cast("double")
            * when(col("num") >= col("den"), 1.0).otherwise(-1.0)
            * ln(greatest(col("num"), col("den")).cast("double")
              / least(col("num"), col("den")).cast("double"))).as("term"))
        .groupBy(col("lang")).agg(dsum8(col("term")).as("mi"))
      def hOf(marg: org.apache.spark.sql.DataFrame, cnt: String, as: String) =
        marg.join(nn, Seq("lang"))
          .select(col("lang"),
            (col(cnt).cast("double") / col("n").cast("double")
              * ln(col("n").cast("double") / col(cnt).cast("double")))
              .as("term"))
          .groupBy(col("lang")).agg(dsum8(col("term")).as(as))
      mi.join(hOf(na, "ca", "h_a"), Seq("lang"))
        .join(hOf(nb, "cb", "h_b"), Seq("lang"))
        .join(nn, Seq("lang"))
        .select(col("lang"), col("n").as("n_docs"),
          pround(col("h_a"), 6).as("h_a"),
          pround(col("h_b"), 6).as("h_b"),
          pround(col("mi"), 6).as("mi_nats"),
          pround(lit(2.0) * col("mi") / (col("h_a") + col("h_b")), 6)
            .as("su"))
        .orderBy(col("lang"))
    },
    Some {
      val toksSql = TextFns.tokensSql("text")
      val stopSql = TextFns.markerCountSql(toksSql, TextAnalysis.stopwords)
      s"""WITH binned AS MATERIALIZED (
        SELECT lang,
          least(CAST(floor(CAST(len(list_distinct($toksSql)) AS DOUBLE)
            / CAST(len($toksSql) AS DOUBLE) * 10) AS BIGINT), 9) AS a,
          least(CAST(floor(CAST($stopSql AS DOUBLE)
            / CAST(len($toksSql) AS DOUBLE) * 10) AS BIGINT), 9) AS b
        FROM documents),
      cells AS MATERIALIZED (
        SELECT lang, a, b, CAST(count(*) AS BIGINT) AS c
        FROM binned GROUP BY 1, 2, 3),
      na AS (SELECT lang, a, CAST(sum(c) AS BIGINT) AS ca
        FROM cells GROUP BY 1, 2),
      nb AS (SELECT lang, b, CAST(sum(c) AS BIGINT) AS cb
        FROM cells GROUP BY 1, 2),
      nn AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
      j AS (
        SELECT cells.lang AS lang, c, n,
          CASE WHEN c * n >= ca * cb THEN 1.0 ELSE -1.0 END AS sgn,
          CAST(greatest(c * n, ca * cb) AS DOUBLE)
            / CAST(least(c * n, ca * cb) AS DOUBLE) AS xr
        FROM cells JOIN na USING (lang, a) JOIN nb USING (lang, b)
          JOIN nn USING (lang)),
      ${lnDetSqlCtes("mi", "j", "lang, c, n, sgn", "xr")},
      misum AS (
        SELECT lang, ${dsum8Sql(
          "CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * sgn * lnp")} AS mi
        FROM milnv GROUP BY lang),
      ja AS (
        SELECT na.lang AS lang, ca AS cm, n,
          CAST(n AS DOUBLE) / CAST(ca AS DOUBLE) AS xr
        FROM na JOIN nn USING (lang)),
      ${lnDetSqlCtes("ha", "ja", "lang, cm, n", "xr")},
      hasum AS (
        SELECT lang, ${dsum8Sql(
          "CAST(cm AS DOUBLE) / CAST(n AS DOUBLE) * lnp")} AS h_a
        FROM halnv GROUP BY lang),
      jb AS (
        SELECT nb.lang AS lang, cb AS cm, n,
          CAST(n AS DOUBLE) / CAST(cb AS DOUBLE) AS xr
        FROM nb JOIN nn USING (lang)),
      ${lnDetSqlCtes("hb", "jb", "lang, cm, n", "xr")},
      hbsum AS (
        SELECT lang, ${dsum8Sql(
          "CAST(cm AS DOUBLE) / CAST(n AS DOUBLE) * lnp")} AS h_b
        FROM hblnv GROUP BY lang)
      SELECT lang, n AS n_docs,
        ${proundSql("h_a", 6)} AS h_a,
        ${proundSql("h_b", 6)} AS h_b,
        ${proundSql("mi", 6)} AS mi_nats,
        ${proundSql("2.0 * mi / (h_a + h_b)", 6)} AS su
      FROM misum JOIN hasum USING (lang) JOIN hbsum USING (lang)
        JOIN nn USING (lang)
      ORDER BY lang"""
    })

  // -- BLOCKLIST multi-pattern scan (Aho–Corasick) — the badwords /
  //    canary-phrase curation gate: every occurrence of every dict
  //    phrase in ONE O(chars) pass per doc (vs one corpus scan per
  //    pattern). The dict deliberately includes a self-bordered
  //    phrase ("table table"), whose overlapping occurrences a
  //    replace-based count silently drops — the oracle enumerates
  //    candidate start positions directly, so the overlap semantics
  //    are pinned, and pos_sum makes the oracle sensitive to every
  //    individual match POSITION, not just counts.
  private val BL_PATS = Seq("spark", "fast table", "table table",
    "batch batch", "data query", "slow filter", "window window",
    "the line sort")
  private val q311 = Q(
    "q311_blocklist",
    (s, dir) => {
      val t = Tpch(s, dir)
      val m = graft.operators.AhoCorasick.matches(
        t.documents, "doc_id", "text", BL_PATS)
      m.groupBy(col("pat"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("first_doc"),
          sum(col("pos").cast("long")).as("pos_sum"))
        .orderBy(col("pat"))
    },
    Some {
      val vals = BL_PATS.map(p => s"('$p')").mkString(", ")
      s"""WITH pats AS (SELECT * FROM (VALUES $vals) p(pat)),
        pos AS (SELECT g.i FROM generate_series(1, 4096) g(i)),
        m AS (
          -- generate_series takes only constants in DuckDB (no lateral
          -- column bound); 4096 safely covers max doc length (577,
          -- payloads identical at every SF), and the inequality join
          -- prunes the rest
          SELECT d.doc_id, p.pat, pos.i AS pos
          FROM documents d
          CROSS JOIN pats p
          JOIN pos ON pos.i + length(p.pat) - 1 <= length(d.text)
          WHERE substr(d.text, CAST(pos.i AS INT), length(p.pat)) = p.pat)
        SELECT pat, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_occ,
          min(doc_id) AS first_doc,
          CAST(sum(pos) AS BIGINT) AS pos_sum
        FROM m
        GROUP BY pat
        ORDER BY pat"""
    })

  // -- BLOCKLIST SCRUB COVERAGE — q311's matches composed into the
  //    release stat a scrub pass reports: a character is masked iff
  //    covered by ANY match span (overlaps union, not concatenate —
  //    the span-coverage semantics q171 uses for contamination);
  //    per source: docs hit, chars masked, masked fraction. The span
  //    union is an explode→distinct on (doc, char) — exact, and at
  //    scale linear in MATCHED chars (sparse), not corpus chars.
  private val q312 = Q(
    "q312_blocklist_scrub",
    (s, dir) => {
      val t = Tpch(s, dir)
      val m = graft.operators.AhoCorasick.matches(
        t.documents, "doc_id", "text", BL_PATS)
      val covered = m
        .select(col("doc_id"), explode(sequence(col("pos"),
          col("pos") + length(col("pat")) - 1)).as("cpos"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("masked"))
      t.documents.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("nc"))
        .join(covered, Seq("doc_id"), "left")
        .withColumn("mk", coalesce(col("masked"), lit(0L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("mk") > 0).cast("long")).as("docs_hit"),
          sum(col("nc")).as("chars_total"),
          sum(col("mk")).as("chars_masked"),
          pround(sum(col("mk")).cast("double") /
            sum(col("nc")).cast("double"), 6).as("masked_frac"))
        .orderBy(col("source"))
    },
    Some {
      val vals = BL_PATS.map(p => s"('$p')").mkString(", ")
      s"""WITH pats AS (SELECT * FROM (VALUES $vals) p(pat)),
        pos AS (SELECT g.i FROM generate_series(1, 4096) g(i)),
        m AS (
          SELECT d.doc_id, p.pat, pos.i AS mpos
          FROM documents d
          CROSS JOIN pats p
          JOIN pos ON pos.i + length(p.pat) - 1 <= length(d.text)
          WHERE substr(d.text, CAST(pos.i AS INT), length(p.pat)) = p.pat),
        cov AS (
          SELECT DISTINCT m.doc_id, p2.i AS cpos
          FROM m JOIN pos p2
            ON p2.i >= m.mpos AND p2.i < m.mpos + length(m.pat)),
        perdoc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS masked
          FROM cov GROUP BY doc_id)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN coalesce(pd.masked, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_hit,
          CAST(sum(length(d.text)) AS BIGINT) AS chars_total,
          CAST(sum(coalesce(pd.masked, 0)) AS BIGINT) AS chars_masked,
          ${proundSql(
            "CAST(sum(coalesce(pd.masked, 0)) AS DOUBLE) / " +
              "CAST(sum(length(d.text)) AS DOUBLE)", 6)} AS masked_frac
        FROM documents d LEFT JOIN perdoc pd USING (doc_id)
        GROUP BY d.source
        ORDER BY d.source"""
    })

  // -- PSI DRIFT MONITOR — population stability index between two
  //    corpus snapshots per source (the standard production drift
  //    dial: PSI < 0.1 stable, > 0.2 drifted), over the HDR log
  //    buckets of doc token counts (q310's data-independent binning —
  //    two snapshot histograms are comparable WITHOUT a shared
  //    min/max pass, exactly why HDR is the monitoring bucketing).
  //    Laplace-smoothed (c+1)/(n+B); ln(p1/p2) rides graft_lndet on
  //    the EXACT integer cross-ratio (c1+1)(n2+B)/((c2+1)(n1+B)),
  //    flipped to ≥ 1 with a sign — so the float program is pinned.
  //    Per-bin terms round to DECIMAL(28,10) before the per-source
  //    sum (order-free — the q289 decimal-fold discipline). All
  //    windows ride the bounded bucket table, never the doc stream.
  //    Snapshot split: doc_id parity (a deterministic stand-in for
  //    old/new ingest batches; ScaleUp's even stride preserves it).
  private val q314 = Q(
    "q314_psi_drift",
    (s, dir) => {
      val t = Tpch(s, dir)
      val W = org.apache.spark.sql.expressions.Window
      val H = graft.operators.HdrSketch
      val base = t.documents.select(col("source"),
          (col("doc_id") % 2).cast("int").as("snap"),
          H.bucketIdx(
            size(TextFns.tokens(col("text"))).cast("long"), 5).as("bin"))
      val hist = base.groupBy(col("source"), col("bin"), col("snap"))
        .agg(count(lit(1)).as("c"))
      val h1 = hist.filter(col("snap") === 0)
        .select(col("source"), col("bin"), col("c").as("c1"))
      val h2 = hist.filter(col("snap") === 1)
        .select(col("source"), col("bin"), col("c").as("c2"))
      val joined = h1.join(h2, Seq("source", "bin"), "full_outer")
        .select(col("source"), col("bin"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      val tot = W.partitionBy(col("source"))
      val terms = joined
        .withColumn("n1", sum(col("c1")).over(tot))
        .withColumn("n2", sum(col("c2")).over(tot))
        .withColumn("nb", count(lit(1)).over(tot))
        .withColumn("a", (col("c1") + 1) * (col("n2") + col("nb")))
        .withColumn("b", (col("c2") + 1) * (col("n1") + col("nb")))
        .withColumn("p1", (col("c1") + 1).cast("double") /
          (col("n1") + col("nb")).cast("double"))
      val terms2 = terms
        .withColumn("p2", (col("c2") + 1).cast("double") /
          (col("n2") + col("nb")).cast("double"))
        .withColumn("sgn", when(col("a") >= col("b"), lit(1.0))
          .otherwise(lit(-1.0)))
        .withColumn("ratio",
          greatest(col("a"), col("b")).cast("double") /
            least(col("a"), col("b")).cast("double"))
        .withColumn("term", pround(
          (col("p1") - col("p2")) * col("sgn") *
            call_function("graft_lndet", col("ratio")), 10)
          .cast(DecimalType(28, 10)))
      terms2.groupBy(col("source"))
        .agg(count(lit(1)).as("n_bins"),
          any_value(col("n1")).as("n_old"),
          any_value(col("n2")).as("n_new"),
          pround(sum(col("term")).cast("double"), 8).as("psi"))
        .withColumn("drifted", col("psi") > 0.2)
        .orderBy(col("source"))
    },
    Some(s"""WITH base AS MATERIALIZED (
        SELECT source, CAST(doc_id % 2 AS INT) AS snap,
          shift * 32 + (v >> shift) AS bin
        FROM (SELECT source, doc_id, v,
            GREATEST(CAST(0 AS BIGINT),
              CAST(length(bin(v)) - 1 - 5 AS BIGINT)) AS shift
          FROM (SELECT source, doc_id,
              CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS v
            FROM documents))),
      hist AS MATERIALIZED (
        SELECT source, bin, snap, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2, 3),
      joined AS (
        SELECT coalesce(a.source, b.source) AS source,
          coalesce(a.bin, b.bin) AS bin,
          coalesce(a.c, 0) AS c1, coalesce(b.c, 0) AS c2
        FROM (SELECT source, bin, c FROM hist WHERE snap = 0) a
        FULL OUTER JOIN (SELECT source, bin, c FROM hist WHERE snap = 1) b
          ON a.source = b.source AND a.bin = b.bin),
      tt AS (
        SELECT source, bin, c1, c2,
          CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n1,
          CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS n2,
          CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nb
        FROM joined),
      pre AS (
        SELECT source, n1, n2,
          CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE) AS p1,
          CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE) AS p2,
          CASE WHEN (c1 + 1) * (n2 + nb) >= (c2 + 1) * (n1 + nb)
            THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn,
          CAST(GREATEST((c1 + 1) * (n2 + nb), (c2 + 1) * (n1 + nb))
              AS DOUBLE)
            / CAST(LEAST((c1 + 1) * (n2 + nb), (c2 + 1) * (n1 + nb))
              AS DOUBLE) AS ratio
        FROM tt),
      ${Portable.lnDetSqlCtes("psi", "pre",
        "source, n1, n2, p1, p2, sgn", "ratio")}
      SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
        min(n1) AS n_old, min(n2) AS n_new,
        ${proundSql(
          "CAST(sum(CAST(" +
            proundSql("(p1 - p2) * sgn * lnp", 10) +
            " AS DECIMAL(28,10))) AS DOUBLE)", 8)} AS psi,
        ${proundSql(
          "CAST(sum(CAST(" +
            proundSql("(p1 - p2) * sgn * lnp", 10) +
            " AS DECIMAL(28,10))) AS DOUBLE)", 8)} > 0.2 AS drifted
      FROM psilnv
      GROUP BY source
      ORDER BY source"""))

  val all: Seq[Q] =
    Seq(q47, q48, q49, q50, q51, q52, q54, q105, q122, q129, q130, q131,
      q137, q138, q143, q166, q177, q185, q190, q192, q194, q197,
      q204, q205, q209, q220, q222, q228, q230, q236, q237, q238, q243,
      q250, q291, q292, q297, q300, q307, q311, q312, q314)
}
