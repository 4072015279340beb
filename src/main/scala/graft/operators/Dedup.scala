package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.functions.TextFns.P

/** Deduplication operators for LLM training-data pipelines: exact
  * (keep-one-per-key), n-gram Jaccard (inverted shingle index),
  * MinHash+LSH (signature → band → bucket-join → verify), and SimHash
  * (banded hamming join).
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-partitioned window — one shuffle on
  *    the key, no skew beyond the key distribution (salt upstream if a
  *    key dominates);
  *  - Jaccard pair-gen is the inverted-index pattern: explode distinct
  *    shingles, self-join on the shingle — the shuffle key is the
  *    shingle, so co-occurring docs land in the same partition and the
  *    O(n²) all-pairs compare never materializes;
  *  - MinHash/LSH reduces candidate generation to equality joins on
  *    (band_idx, band_hash) — each band bucket is a tiny group, and the
  *    expensive exact-Jaccard verify runs only on candidates;
  *  - SimHash pair-gen joins on 16-bit band values (4 bands over a
  *    64-bit fingerprint) — by pigeonhole this is LOSSLESS for
  *    hamming ≤ 3, so the banded plan returns exactly the
  *    naive-cross-join answer at that radius. (The pre-round-6 32-bit
  *    / 4-bit-band variant exhausted its 16-value band space and went
  *    quadratic at scale; see the simhash64 scaladoc below.)
  *
  * All hashing is TextFns' portable rolling hash mod P=1e9+7 so every
  * operator has a bit-identical DuckDB oracle.
  */
object Dedup {

  /** Exact dedup: keep one row per key, the latest by `orderCol` with
    * `tieBreak` disambiguation. One shuffle on `keys`.
    */
  def keepLatest(df: DataFrame, keys: Seq[String], orderCol: String,
      tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct word-n-gram shingle HASH set per document (native
    * tokenize+shingle+hash expression — one compiled pass; all
    * downstream set algebra runs on longs, not strings).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol),
      array_distinct(TextFns.shingleHashes(col(textCol), n))
        .as("shingle_set"))

  /** All document pairs with n-gram Jaccard ≥ tau, via the inverted
    * shingle index (shuffle key = shingle, never all-pairs).
    * Output: d1, d2, n_common, n1, n2, jaccard(double, unrounded).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame =
    jaccardPairsFromSets(shingleSets(docs, idCol, textCol, n), idCol, tau)

  /** [[jaccardPairs]] over a PREBUILT [[shingleSets]] frame — the
    * shared-scan entry: a caller running several shingle-based
    * detectors (q191's method matrix) computes the sets once,
    * localCheckpoints them, and feeds every detector, instead of
    * re-reading and re-shingling the corpus per method.
    */
  def jaccardPairsFromSets(sets: DataFrame, idCol: String,
      tau: Double): DataFrame = {
    // carry each doc's set size ON the inverted rows — per-group
    // constant recovered with max() after the join. (A separate sizes
    // table would need either a broadcast that breaks at |docs| rows
    // or two extra shuffle joins.)
    val inv = sets.select(col(idCol).as("doc"),
      size(col("shingle_set")).as("n_shingles"),
      explode(col("shingle_set")).as("shingle"))
    // length-ratio prefilter: J(s1,s2) ≤ min(n1,n2)/max(n1,n2), so
    // J ≥ tau requires tau·n2 ≤ n1 and tau·n1 ≤ n2 — a necessary
    // condition evaluated per candidate row BEFORE the pair-count
    // shuffle. Semantics-preserving; prunes most cross-size pairs.
    inv.as("a")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
        col("a.n_shingles") * tau <= col("b.n_shingles") &&
        col("b.n_shingles") * tau <= col("a.n_shingles"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a.n_shingles")).as("n1"),
        max(col("b.n_shingles")).as("n2"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= tau)
  }

  /** Directed CONTAINMENT near-dup pairs — the asymmetric operator
    * Jaccard dedup structurally misses: C(A,B) = |A∩B| / |A| flags an
    * EXCERPT/quote/subset document inside a longer one even when
    * J = |A∩B| / |A∪B| is far below any dedup threshold (a 40%%
    * prefix has containment 1.0 and Jaccard ≈ 0.4). The standard
    * curation case: syndicated article fragments, quoted posts,
    * chunked re-uploads.
    *
    * Same inverted shingle index as [[jaccardPairs]], WITHOUT its
    * length-ratio prefilter (size asymmetry is the point here).
    * Output is directed: `contained` = the side with the smaller
    * shingle set (ties → lower id), `containment` =
    * n_common / n_contained ≥ tau, with the Jaccard alongside so a
    * consumer can see exactly which pairs only THIS operator finds.
    *
    * Scale: `maxDf` df-prunes the inverted index (shingles occurring
    * in more than maxDf docs are dropped BEFORE the self-join — the
    * classic stop-shingle guard, [[capBuckets]]'s cousin keyed on
    * document frequency). A contained doc shares its whole set with
    * its container, so it still surfaces as long as any of its
    * shingles stays under the cap; counts then undercount common
    * mass, so prune conservatively (0 = off, the exact baseline).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxDf: Int = 0): DataFrame =
    containmentPairsFromSets(shingleSets(docs, idCol, textCol, n), idCol,
      tau, maxDf)

  /** [[containmentPairs]] over a prebuilt [[shingleSets]] frame (the
    * q191 shared-scan entry, like [[jaccardPairsFromSets]]).
    */
  def containmentPairsFromSets(sets: DataFrame, idCol: String,
      tau: Double, maxDf: Int = 0): DataFrame = {
    val inv0 = sets.select(col(idCol).as("doc"),
      size(col("shingle_set")).as("n_shingles"),
      explode(col("shingle_set")).as("shingle"))
    val inv = if (maxDf <= 0) inv0
      else capBuckets(inv0, Seq("shingle"), maxDf)
    val pairs = inv.as("a")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a.n_shingles")).as("n1"),
        max(col("b.n_shingles")).as("n2"))
    pairs.select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2"))
          .as("contained"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1"))
          .as("container"),
        col("n_common"),
        least(col("n1"), col("n2")).as("n_contained"),
        greatest(col("n1"), col("n2")).as("n_container"),
        (col("n_common").cast("double") / least(col("n1"), col("n2")))
          .as("containment"),
        (col("n_common").cast("double")
          / (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
      .filter(col("containment") >= tau)
  }

  /** PREFIX-FILTERED Jaccard pairs — the published index-size fix for
    * the inverted-shingle self-join (Chaudhuri et al. 2006 "A
    * Primitive Operator for Similarity Joins"; the prefix step of
    * PPJoin, Xiao et al. 2008). Identical OUTPUT to [[jaccardPairs]]
    * at the same (n, tau); radically smaller candidate index.
    *
    * The theorem: order every doc's shingles by one GLOBAL total
    * order (document frequency asc, then shingle value — rarest
    * first) and index only the first
    * `p = |d| − ⌈tau·|d|⌉ + 1` of them. If J(A,B) ≥ tau then the
    * overlap α = |A∩B| ≥ ⌈tau·max(|A|,|B|)⌉, and the EARLIEST common
    * element (in the global order) has at least α−1 common elements
    * after it in both sets, so it sits within the first |A|−α+1 ≤ p_A
    * positions of A and |B|−α+1 ≤ p_B of B — every qualifying pair
    * collides on a PREFIX shingle and the filter is lossless.
    * (The spec asserts pair-for-pair equality with the exhaustive
    * index; the q175 oracle re-proves it against DuckDB's exhaustive
    * join every round.)
    *
    * Scale shape (100 TB): the exhaustive index posts every shingle
    * of every doc and its hottest keys are exactly the frequent
    * shingles that generate the most candidate garbage; the prefix
    * index posts ~(1−tau) of each doc's shingles and — because the
    * global order is df-ASCENDING — those survivors are the RAREST
    * shingles, so bucket sizes shrink superlinearly (measured at
    * sf0.01, n=4, tau=0.5: 51% of the postings but 8% of the distinct
    * candidate pairs — 317 → 25, every one of which survives the
    * verify, vs 292 wasted exact intersections on the full index).
    * Costs
    * one extra df aggregation (same shuffle key as the join — the
    * exchange is reused) and one doc-partitioned rank window. The
    * verify stage intersects the two full shingle sets only for
    * surviving candidate pairs.
    *
    * `tau` must be exactly representable in binary (0.5, 0.25, 0.75)
    * so `⌈tau·n⌉` rounds identically everywhere; the length-ratio
    * prefilter from [[jaccardPairs]] applies unchanged.
    */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, n)
    val inv = sets.select(col(idCol).as("doc"),
      size(col("shingle_set")).as("n_shingles"),
      explode(col("shingle_set")).as("shingle"))
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ranked = inv.join(dfreq, Seq("shingle"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("df").asc, col("shingle").asc)))
    val prefix = ranked.filter(col("rnk") <=
      col("n_shingles") - ceil(col("n_shingles") * lit(tau)) + 1)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
        col("a.n_shingles") * tau <= col("b.n_shingles") &&
        col("b.n_shingles") * tau <= col("a.n_shingles"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    cand
      .join(sets.select(col(idCol).as("d1"), col("shingle_set").as("s1")), Seq("d1"))
      .join(sets.select(col(idCol).as("d2"), col("shingle_set").as("s2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("s1"), col("s2"))).cast("long").as("n_common"),
        size(col("s1")).cast("long").as("n1"),
        size(col("s2")).cast("long").as("n2"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= tau)
  }

  /** The posting-row counts behind [[jaccardPairsPrefix]]'s index
    * reduction: (full exhaustive postings, prefix postings) — the
    * measured size of the two inverted indexes at the given (n, tau).
    */
  def prefixIndexSizes(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): (Long, Long) = {
    val sets = shingleSets(docs, idCol, textCol, n)
    val inv = sets.select(col(idCol).as("doc"),
      size(col("shingle_set")).as("n_shingles"),
      explode(col("shingle_set")).as("shingle"))
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ranked = inv.join(dfreq, Seq("shingle"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("df").asc, col("shingle").asc)))
    val full = inv.count()
    val pref = ranked.filter(col("rnk") <=
      col("n_shingles") - ceil(col("n_shingles") * lit(tau)) + 1).count()
    (full, pref)
  }

  /** Weighted-Jaccard pair generation + exact scoring with a CAPPED
    * posting list — the stop-token discipline that keeps the token
    * inverted-index self-join from going quadratic in document
    * frequency. Input `tc` is the per-(doc, token) multiset layout
    *   (doc_id, lang, blk, n, nd, h, c)
    * where n/nd are the doc's total/distinct token counts, blk its
    * length slab, and c the token's in-doc count.
    *
    * A token with document frequency D inside one (lang, blk) block
    * contributes D² rows to a naive self-join — a stop token in a
    * natural-language corpus makes that the first thing to fall over
    * at 100×. Here each (lang, blk, h) posting list is truncated to
    * its first `capDf` docs (doc_id order — deterministic, SQL-
    * replicable) for pair GENERATION only, bounding the join at
    * vocab · capDf² pairs regardless of corpus size. Scoring then
    * re-joins the FULL per-doc count table for the surviving
    * candidate pairs, so min_sum (Σ min(c₁,c₂)) and inter are EXACT
    * over all tokens — the cap can only prune which pairs are
    * examined, never distort a reported score.
    *
    * Output: (d1, d2, n1, n2, nd1, nd2, min_sum, inter).
    */
  def weightedJaccardPairs(tc: DataFrame, capDf: Int): DataFrame = {
    require(capDf >= 2, "capDf < 2 can generate no pairs")
    val gen = tc
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("lang"), col("blk"), col("h"))
          .orderBy(col("doc_id").asc)))
      .filter(col("prn") <= capDf)
    val cand = gen.as("a").join(gen.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk")
          && col("a.h") === col("b.h")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        col("a.nd").as("nd1"), col("b.nd").as("nd2"))
      .distinct()
    val ta = tc.select(col("doc_id").as("d1"), col("h"), col("c").as("c1"))
    val tb = tc.select(col("doc_id").as("d2"), col("h"), col("c").as("c2"))
    cand.join(ta, Seq("d1")).join(tb, Seq("d2", "h"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"),
        col("nd1"), col("nd2"))
      .agg(sum(least(col("c1"), col("c2"))).as("min_sum"),
        count(lit(1)).as("inter"))
  }

  /** MinHash parameters: K hashes split into `bands` bands of `rows`.
    * Hash family j: h_j(s) = (a_j·s + b_j) mod P with arithmetic
    * generators (portable to the SQL oracle).
    */
  final case class MinHashParams(k: Int = 16, bands: Int = 4) {
    require(k % bands == 0)
    val rows: Int = k / bands
    val aGen = 2654435761L // Knuth multiplicative constant
    val bGen = 998244353L  // NTT prime
  }

  /** Exploded (id, shingle-hash) rows — each shingle hashed exactly
    * once. This is the workhorse layout: MinHash and SimHash both
    * reduce to plain codegen'd aggregates over it, instead of nested
    * higher-order-function expressions (which Catalyst evaluates
    * interpreted, re-running the O(chars) hash once per hash function
    * after CollapseProject inlines the alias back into the lambda).
    */
  def shingleHashRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol),
      explode(array_distinct(TextFns.shingleHashes(col(textCol), n))).as("s"))

  /** [[shingleHashRows]] from a prebuilt [[shingleSets]] frame —
    * identical rows (the set column is already distinct).
    */
  def shingleRowsFromSets(sets: DataFrame, idCol: String): DataFrame =
    sets.select(col(idCol), explode(col("shingle_set")).as("s"))

  /** Per-doc MinHash signature as K columns m0..m_{k-1}: a map-side-
    * combinable min-aggregate per hash function, with the (a_j, b_j)
    * family constants folded at plan time. Docs with an empty shingle
    * set (< n tokens) produce no row.
    */
  def minhashSigDF(docs: DataFrame, idCol: String, textCol: String,
      n: Int, p: MinHashParams): DataFrame =
    minhashSigFromRows(shingleHashRows(docs, idCol, textCol, n), idCol, p)

  private def minhashSigFromRows(rows: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val sigCols = (0 until p.k).map { j =>
      val a = (j + 1) * p.aGen % P
      val b = (j + 1) * p.bGen % P
      min((lit(a) * col("s") + lit(b)) % lit(P)).as(s"m$j")
    }
    rows.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Rolling-hash fold of signature columns [from, from+len) — plain
    * column arithmetic, fully codegen.
    */
  def sigFold(from: Int, len: Int): Column =
    (from until from + len).foldLeft(lit(0L): Column)(
      (h, j) => (h * lit(31L) + col(s"m$j")) % lit(P))

  /** (id, band_idx, band_hash) rows — the LSH bucket index. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      n: Int, p: MinHashParams): DataFrame =
    bandsFromSig(minhashSigDF(docs, idCol, textCol, n, p), idCol, p)

  private def bandsFromSig(sig: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val bandCols = (0 until p.bands).map(i =>
      struct(lit(i).as("band_idx"),
        sigFold(i * p.rows, p.rows).as("band_hash")))
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** Hot-bucket guard for banded pair generation: drop every band
    * bucket whose occupancy exceeds `maxBucket` BEFORE the self-join.
    * A template-heavy corpus (boilerplate pages, near-empty docs) can
    * put thousands of documents into one (band, hash) bucket; the
    * self-join then makes that bucket a single O(b²) task no amount of
    * executors can split — the same hot-key failure `Skew.saltedJoin`
    * guards joins against. Capping bounds every task at
    * maxBucket·(maxBucket−1)/2 candidate pairs.
    *
    * Recall effect (documented, bounded): a pair loses only the
    * candidates it would have gotten FROM THE DROPPED BUCKET — it
    * still surfaces via any other band the two docs share. Over-cap
    * buckets are enumerable via [[hotBuckets]] for monitoring, and at
    * the cap's intended magnitude (10⁴+) a dropped bucket means docs
    * so boilerplate-similar that routing them to a dedicated exact
    * pass (or dropping them outright) is the usual pipeline policy.
    * The aggregation shuffles on the same key as the self-join, so
    * with exchange reuse the guard costs one cheap map-side-combined
    * count, not an extra scan.
    */
  private[operators] def capBuckets(bands: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val small = bands.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
    bands.join(small, bucketCols, "left_semi")
  }

  /** Band buckets over `maxBucket` occupancy — the mass [[capBuckets]]
    * would drop. Columns: the bucket key + `n_docs`.
    */
  def hotBuckets(bands: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame =
    bands.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** MinHash-LSH near-dup pairs: bucket-join candidates, then exact
    * Jaccard verify (array_intersect on the candidate pairs only).
    * Output: d1, d2, jaccard (≥ tau, unrounded). `maxBucket` caps
    * band-bucket occupancy (see [[capBuckets]]).
    */
  /** Distinct (d1, d2) pairs sharing at least one LSH band bucket —
    * the raw candidate set BEFORE Jaccard verification (exposed for
    * recall measurement, q115). Bucket-capped like the verify path.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, p: MinHashParams, maxBucket: Int = 10000): DataFrame =
    lshCandidatePairsFromSets(shingleSets(docs, idCol, textCol, n), idCol,
      p, maxBucket)

  /** [[lshCandidatePairs]] over a prebuilt [[shingleSets]] frame. */
  def lshCandidatePairsFromSets(sets: DataFrame, idCol: String,
      p: MinHashParams, maxBucket: Int = 10000): DataFrame = {
    val bands = capBuckets(
      bandsFromSig(minhashSigFromRows(shingleRowsFromSets(sets, idCol),
        idCol, p), idCol, p),
      Seq("band_idx", "band_hash"), maxBucket)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
  }

  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, p: MinHashParams,
      maxBucket: Int = 10000): DataFrame =
    minhashNearDupsFromSets(shingleSets(docs, idCol, textCol, n), idCol,
      tau, p, maxBucket)

  /** [[minhashNearDups]] over a prebuilt [[shingleSets]] frame (the
    * q191 shared-scan entry: candidates AND the exact verify both
    * ride the caller's checkpointed sets).
    */
  def minhashNearDupsFromSets(sets: DataFrame, idCol: String,
      tau: Double, p: MinHashParams, maxBucket: Int = 10000): DataFrame = {
    val cands = lshCandidatePairsFromSets(sets, idCol, p, maxBucket)
    cands
      .join(sets.select(col(idCol).as("d1"), col("shingle_set").as("set1")), "d1")
      .join(sets.select(col(idCol).as("d2"), col("shingle_set").as("set2")), "d2")
      .withColumn("n_common", size(array_intersect(col("set1"), col("set2"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("set1")) + size(col("set2")) - col("n_common")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Incremental (cross-corpus) near-dedup: MinHash-LSH matches of a
    * NEW BATCH of documents against an EXISTING corpus — the shape
    * every continuously-crawled training set runs (dedup the delta
    * against everything already kept, never corpus×corpus again).
    * Output: (bid, cid, jaccard) for every batch/corpus pair sharing
    * a band bucket with exact shingle Jaccard ≥ tau.
    *
    * Scale: the corpus side's signatures/bands are a pure function of
    * its text, so in a real pipeline they are computed once and stored
    * with the corpus (here recomputed — same plan shape); per delta
    * the work is O(batch) signature computation plus one equi-join
    * shuffled on (band_idx, band_hash). The corpus side is
    * bucket-capped ([[capBuckets]]) so one boilerplate bucket can
    * never make a task quadratic in the corpus.
    */
  def crossNearDups(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double, p: MinHashParams,
      maxBucket: Int = 10000): DataFrame =
    crossNearDupsFromIndex(
      minhashBands(corpus, idCol, textCol, n, p),
      shingleSets(corpus, idCol, textCol, n),
      batch, idCol, textCol, n, tau, p, maxBucket)

  /** The stored-index variant of [[crossNearDups]]: the corpus side is
    * read from MATERIALIZED band / shingle-set tables instead of
    * recomputed from text — both are pure functions of the corpus
    * ([[minhashBands]] / [[shingleSets]] schemas), so a deployment
    * writes them once per corpus version and every subsequent delta
    * pays only O(batch) signature work plus the bucket join. This is
    * the steady-state cost model the q112 scale note promises;
    * DedupSpec proves parquet round-tripped indexes give identical
    * verdicts and that appending to the index extends match coverage.
    */
  def crossNearDupsFromIndex(corpusBands: DataFrame, corpusSets: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, n: Int,
      tau: Double, p: MinHashParams, maxBucket: Int = 10000): DataFrame = {
    val cBands = capBuckets(corpusBands,
      Seq("band_idx", "band_hash"), maxBucket)
    val bBands = minhashBands(batch, idCol, textCol, n, p)
    val cands = bBands.as("b")
      .join(cBands.as("c"),
        col("b.band_idx") === col("c.band_idx") &&
        col("b.band_hash") === col("c.band_hash"))
      .select(col(s"b.$idCol").as("bid"), col(s"c.$idCol").as("cid"))
      .distinct()
    val bSets = shingleSets(batch, idCol, textCol, n)
      .select(col(idCol).as("bid"), col("shingle_set").as("bset"))
    val cSets = corpusSets
      .select(col(idCol).as("cid"), col("shingle_set").as("cset"))
    cands.join(bSets, "bid").join(cSets, "cid")
      .withColumn("n_common", size(array_intersect(col("bset"), col("cset"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("bset")) + size(col("cset")) - col("n_common")))
      .filter(col("jaccard") >= tau)
      .select(col("bid"), col("cid"), col("jaccard"))
  }

  /** Per-doc 64-bit set-based SimHash over distinct n-gram-shingle
    * rolling hashes (the web-scale fingerprint width of Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07). Bit k is
    * set iff Σ_shingles sign_k(h) > 0, where sign_k derives from an
    * independent per-bit rehash g_k(h) = ((h+1)·(2654435761 + 40503·k))
    * mod P — the base rolling hash only carries ~30 entropy bits
    * (mod P = 1e9+7), so bits CANNOT come from h's own bit pattern
    * (round-6 lesson: the old 32-bit variant's top bits were
    * degenerate, and its 4-bit bands exhausted their 16-value space —
    * bucket sizes grew linearly with the corpus and candidate pairs
    * quadratically; measured 24× wall at 10× data). All intermediates
    * stay < 2^63: h < P ≈ 2^30, multiplier < 2.66e9.
    *
    * Shingles (not unigrams) keep the fingerprint discriminative on
    * corpora with a shared vocabulary — token SETS converge across
    * documents long before shingle sets do. Computed as 64 plain
    * sum-aggregates over the exploded shingle-hash rows (codegen,
    * map-side combine); bit assembly ORs disjoint powers (1L<<63 is
    * the sign bit — arithmetic + would overflow).
    */
  def simhashDF(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    simhashFromRows(shingleHashRows(docs, idCol, textCol, n), idCol)

  private def simhashFromRows(rows: DataFrame, idCol: String): DataFrame = {
    val bitSums = (0 until 64).map { k =>
      val g = (col("s") + lit(1L)) * lit(2654435761L + 40503L * k) % lit(graft.functions.TextFns.P)
      sum(g.bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"bs$k")
    }
    rows.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(k =>
          when(col(s"bs$k") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Duplicated-span detection — exact SUBSTRING-level dedup (the
    * operator behind Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): find every maximal token span
    * covered by w-token windows whose rolling hash occurs ≥ 2 times
    * CORPUS-WIDE. Self-repeats inside one document count — in-doc
    * boilerplate is duplication too. Overlapping/adjacent duplicated
    * windows (next start ≤ prev start + w) merge into maximal spans.
    *
    * This sees what document-level near-dup cannot: a paragraph
    * pasted into a thousand otherwise-distinct pages. The CDC
    * chunker ([[TrainingPrep.cdcChunks]]) finds REUSED CHUNKS between
    * boundaries; this finds ARBITRARY repeated substrings at window
    * granularity.
    *
    * Output: one row per span — `idCol, span_idx` (1-based in start
    * order), `span_start, span_end` (1-based inclusive token
    * positions), `span_len, n_windows`.
    *
    * Windows are keyed by a 128-bit content key (two
    * independently-seeded xxhash64 values over the window string),
    * not the ~30-bit rolling hash: at the corpus sizes this targets
    * (10¹²⁺ windows) a 10⁹-value hash has every residue occupied and
    * would flag ALL text as duplicated; 128 bits keeps expected
    * collisions ≪ 1 at any real scale, preserving the "exact" claim
    * without a verify join (the other pair-gen paths verify because
    * their hashes are deliberately lossy; here the key IS
    * content-identity). xxhash64×2 replaced the earlier md5 key:
    * same width, a fraction of the hash CPU, and a 16-byte long-pair
    * shuffle key instead of a 32-char digest string.
    *
    * Scale: the frequency pass and the probe are ONE inverted-index
    * exchange keyed by the window key — a count window over the key
    * partition (a groupBy + probe self-join would shuffle the gram
    * set twice); span merging is gaps-and-islands over (doc, pos) —
    * one window shuffle keyed by doc id. Nothing is quadratic: output
    * size is bounded by the input window count.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val spans = duplicatedSpansRaw(docs, idCol, textCol, w)
    spans.select(col(idCol),
      row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("span_start")))
        .as("span_idx"),
      col("span_start"), col("span_end"), col("span_len"), col("n_windows"))
  }

  /** [[duplicatedSpans]] without the per-doc `span_idx` ranking —
    * callers that immediately re-aggregate per doc (duplication-budget
    * stats) skip the extra doc-keyed exchange + sort the row_number
    * window would force.
    */
  def duplicatedSpansRaw(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 1)
    // 128-bit window key = two independently-seeded xxhash64 values:
    // same collision bound as the previous md5 key (expected
    // collisions ≪ 1 at 10¹²⁺ windows) at a fraction of the hash CPU,
    // and the shuffle key is 16 bytes of longs instead of a 32-char
    // digest string. The hash never reaches the output (spans are
    // positions), so the oracle's md5 keying agrees exactly whenever
    // both keys are collision-free — which is the regime both choose
    // their width for.
    val grams = docs.select(col(idCol),
      posexplode(graft.functions.TextFns.shinglesNative(col(textCol), w))
        .as(Seq("pos", "sh")))
      .select(col(idCol), col("pos"),
        xxhash64(col("sh")).as("h1"), xxhash64(lit(1), col("sh")).as("h2"))
    // frequency + probe in ONE exchange: a count window over the
    // window-key partition replaces the old groupBy + self-join, which
    // shuffled the gram set twice (the q103 window-min lesson).
    val marked = grams
      .withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("h1"), col("h2"))))
      .filter(col("__df") >= 2)
      .select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // window at pos covers tokens pos+1 .. pos+w (posexplode 0-based);
    // regions stay contiguous while each start is ≤ previous start + w
    marked
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__new",
        (col("__prev").isNull || col("pos") > col("__prev") + w).cast("int"))
      .withColumn("__span", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__span"))
      .agg(min(col("pos")).as("__mn"), max(col("pos")).as("__mx"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol),
        (col("__mn") + 1).as("span_start"),
        (col("__mx") + lit(w)).as("span_end"),
        (col("__mx") + lit(w) - col("__mn")).as("span_len"),
        col("n_windows"))
  }

  /** Survivor selection: given near-dup pairs (d1 < d2), drop every
    * doc that appears as the LATER member of ANY pair. One shuffle
    * (the anti join on id). This drop-any-later-member policy is the
    * usual distributed choice because it is order-free and one-pass;
    * note it over-deletes relative to GREEDY keep-earliest — in a
    * chain a–b–c with pairs (a,b),(b,c) but a̸~c, greedy would keep
    * {a,c} (c's only dup b is itself dropped) while this keeps {a}.
    * Exact greedy/transitive clustering needs iterative connected
    * components, which no single equi-join expresses.
    */
  def nearDupSurvivors(docs: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val dropped = pairs.select(col("d2").as(idCol)).distinct()
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Transitive near-dup clusters: connected components over the pair
    * graph via iterative min-label propagation — the fix for the
    * pairwise survivor caveat (a–b–c chains collapse into ONE cluster
    * regardless of which pairs surfaced). Output: (node, component)
    * with component = smallest reachable node id.
    *
    * Each iteration is one distributed join+agg; the driver loop only
    * checks a converged count. Iterations needed = graph diameter
    * (near-dup clusters are shallow; maxIter bounds pathological
    * chains). At extreme scale swap in large-star/small-star — the
    * per-iteration dataflow shape is the same.
    */
  /** Driver-edge cap for the CC fast path: 2M pair rows ≈ 32 MB of
    * ids — comfortably bounded driver state (the BpeTrainer
    * MaxLocalWords discipline), far above any near-dup pair set the
    * bench SFs produce, far below anything that would strain a 100 TB
    * driver. Beyond it the distributed loops run unchanged.
    */
  private val CcMaxDriverEdges = 2000000L

  /** (node, component) labels for a DRIVER-collected pair list via
    * union-find — component = smallest node of the component, the
    * identical contract of both distributed CC loops (the label is a
    * property of the graph, not the algorithm). Returns None — caller
    * runs its distributed loop — when the pair count exceeds
    * [[CcMaxDriverEdges]], an id is null, or the id type is not
    * int/long. `withSelfLoopNodes` keeps the one behavioral difference
    * between the loops: propagation emits a singleton label for a node
    * seen only in (x, x) pairs; star drops it.
    *
    * `pl` must be the lazily-checkpointed (d1, d2) frame: the gate
    * count materializes it, so the caller's fallback reuses the rows.
    */
  private def ccDriverLabels(pl: DataFrame, withSelfLoopNodes: Boolean)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    import org.apache.spark.sql.Row
    val spark = pl.sparkSession
    val dt = pl.schema("d1").dataType
    if (dt != pl.schema("d2").dataType) return None
    val isInt = dt == IntegerType
    if (!isInt && dt != LongType) return None
    if (pl.count() > CcMaxDriverEdges) return None
    val rows = pl.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    @inline def get(r: Row, i: Int): Long =
      if (isInt) r.getInt(i).toLong else r.getLong(i)
    // distinct node ids, ascending (self-loop endpoints only when the
    // caller's loop would label them)
    val ids0 = new Array[Long](2 * rows.length)
    var k = 0
    rows.foreach { r =>
      val a = get(r, 0); val b = get(r, 1)
      if (a != b || withSelfLoopNodes) {
        ids0(k) = a; ids0(k + 1) = b; k += 2
      }
    }
    val sorted = java.util.Arrays.copyOf(ids0, k)
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = sorted
    @inline def idx(x: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, x)
    val parent = Array.tabulate(n)(identity)
    @inline def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = get(r, 0); val b = get(r, 1)
      if (a != b) {
        val ra = find(idx(a)); val rb = find(idx(b))
        // smaller-indexed root wins — ids are sorted, so the root of
        // every tree is its component's minimum-id node
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    }
    val schema = StructType(Seq(
      StructField("node", dt, nullable = true),
      StructField("component", dt, nullable = true)))
    val out = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) {
      val c = ids(find(i))
      out.add(if (isInt) Row(ids(i).toInt, c.toInt) else Row(ids(i), c))
      i += 1
    }
    Some(spark.createDataFrame(out, schema))
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // size-gated driver path (the BpeTrainer discipline: decide with
    // small rows): one count job + one collect job replace the whole
    // iterative loop when the pair set fits the driver cap. The LAZY
    // checkpoint is materialized by the gate count, and the
    // distributed fallback reads the SAME checkpointed frame, so
    // pair generation runs exactly once either way.
    val pl = pairs.select(col("d1"), col("d2")).localCheckpoint(false)
    ccDriverLabels(pl, withSelfLoopNodes = true)
      .getOrElse(connectedComponentsDistributed(pl, maxIter))
  }

  /** The distributed min-label-propagation loop of
    * [[connectedComponents]] — the > [[CcMaxDriverEdges]] path, split
    * out so DedupSpec can pin driver ≡ distributed directly.
    */
  private[graft] def connectedComponentsDistributed(pl: DataFrame,
      maxIter: Int): DataFrame = {
    val edges = pl.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(pl.select(col("d2").as("a"), col("d1").as("b")))
      .distinct().cache()
    // localCheckpoint (not cache) on every iteration state: it both
    // materializes the blocks AND truncates lineage to a leaf RDD.
    // With cache() the *data* was reused but the analyzed plan still
    // doubled per iteration (labels appears twice in `next`), so at
    // real diameter the driver — not the executors — was the
    // bottleneck (measured 81 KB → 3.3 MB plan string in 5 iters).
    // Superseded checkpoint blocks are released by the ContextCleaner
    // once the superseded Dataset is unreachable; unlike cache() there
    // is no CacheManager entry pinning them for the session lifetime.
    // On a multi-executor cluster prefer reliable checkpoint() (same
    // call shape) if executor loss during the loop must be survivable.
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Carry the previous component through the join so convergence
      // is a filter-count on `next` itself — no second join per
      // iteration against the old labels.
      val neighborMin = edges
        .join(labels, edges("b") === labels("node"))
        .groupBy(col("a").as("node")).agg(min(col("component")).as("nbr_min"))
      val next = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        // LAZY checkpoint: the convergence count right below is the
        // first action and materializes it (truncating lineage just
        // the same), so an iteration costs ONE job, not two
        .localCheckpoint(false)
      val changed = next.filter(col("component") < col("prev")).count()
      labels = next.select(col("node"), col("component"))
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Connected components via alternating large-star / small-star —
    * the published two-phase MapReduce CC algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), which
    * converges in O(log n) ROUNDS regardless of graph diameter, vs.
    * diameter-many rounds for [[connectedComponents]]' min-label
    * propagation. Same output contract: (node, component) with
    * component = smallest node of the component; isolated nodes (no
    * pair) don't appear, as with the propagation variant.
    *
    * Each round is two join+agg passes over the edge list:
    *  - large-star(u): m = min(N(u) ∪ u); every neighbor v > u
    *    re-points to m — long tails collapse toward minima in parallel;
    *  - small-star(u): m = min(N(u)); every smaller neighbor and u
    *    itself re-point to m — local stars flatten.
    * Edges keep the (larger, smaller) orientation invariant, so both
    * passes are plain groupBy-min + equi-join dataflows; every round
    * localCheckpoints (lineage stays O(1), same driver discipline as
    * the propagation loop). Convergence = edge set unchanged.
    *
    * Use this over [[connectedComponents]] when cluster chains can be
    * deep (transitive near-dup chains over boilerplate corpora);
    * propagation wins slightly on shallow graphs (one pass/round
    * instead of two).
    */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // same size-gated driver path as [[connectedComponents]] — the
    // label contract (component = smallest node) is a property of the
    // GRAPH, not the algorithm, so union-find is bit-identical to the
    // star fixpoint wherever both converge (DedupSpec pins the
    // three-way equivalence). Star's one observable difference —
    // self-loop-only nodes are dropped, not labeled — is preserved.
    val pl = pairs.select(col("d1"), col("d2")).localCheckpoint(false)
    ccDriverLabels(pl, withSelfLoopNodes = false)
      .getOrElse(connectedComponentsStarDistributed(pl, maxRounds))
  }

  /** The distributed large-star/small-star loop of
    * [[connectedComponentsStar]] — the > [[CcMaxDriverEdges]] path,
    * split out so DedupSpec can pin driver ≡ distributed directly.
    */
  private[graft] def connectedComponentsStarDistributed(pl: DataFrame,
      maxRounds: Int): DataFrame = {
    def dedupe(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v")).distinct()
    var edges = dedupe(
      pl.select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v")))
      .localCheckpoint(false) // the count below materializes it

    // large-star over the SYMMETRIC adjacency; emitted (v, m) keeps
    // v > u >= m, preserving the orientation invariant. The output is
    // NOT deduped: smallStar's min-aggregation is duplicate-blind and
    // its own final dedupe restores set semantics, so the extra
    // exchange+aggregate a distinct would cost every round buys
    // nothing (the round's intermediate volume is bounded by the raw
    // large-star output either way).
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(min(col("v")).as("__nm"))
        .select(col("u"), least(col("u"), col("__nm")).as("m"))
      adj.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star over the directed (larger -> smaller) edges: all
    // neighbors here are < u, so m = min(N(u)); u and every non-min
    // neighbor re-point to m
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val viaNeighbors = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      dedupe(viaNeighbors.unionByName(mins.select(col("u"), col("m").as("v"))))
    }

    var converged = false
    var round = 0
    // one count job per round (the previous round's count is carried
    // over instead of re-counted), and the set-equality probe only
    // runs when the counts match — i.e. normally once, at the
    // fixpoint round — so a round costs checkpoint + count, not
    // checkpoint + 2 counts + exceptAll
    var prevCount = edges.count()
    while (!converged && round < maxRounds) {
      // LAZY checkpoint: the count below is the first action and
      // materializes it, so a round costs ONE job
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val cnt = next.count()
      converged = cnt == prevCount &&
        next.exceptAll(edges).head(1).isEmpty
      edges = next
      prevCount = cnt
      round += 1
    }
    // at the fixpoint every component is a star rooted at its minimum
    edges.select(col("u").as("node"), col("v").as("component"))
      .unionByName(edges.select(col("v"), col("v")).distinct()
        .toDF("node", "component"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, generated by a
    * banded equality join over `64/bandBits` bands of `bandBits` bits.
    * Pigeonhole: lossless for maxHamming ≤ nBands − 1 (any such pair
    * shares at least one clean band), so this equals the naive
    * all-pairs answer at a fraction of the cost.
    *
    * `bandBits` is the SCALE DIAL: expected bucket occupancy is
    * n_docs / 2^bandBits per band, and candidate work is
    * Σ_buckets |bucket|² — the 16-bit default keeps buckets O(1) up to
    * ~10⁷ docs (the old 4-bit nibbles capped out at 16 values and went
    * quadratic at 10× — measured, see simhashDF). Wider bands trade
    * recall headroom (fewer bands → lower lossless hamming bound) for
    * bucket sparsity, exactly the Manku et al. table design.
    * `maxBucket` still caps adversarial band-bucket occupancy (see
    * [[capBuckets]]); NOTE a dropped bucket narrows the pigeonhole
    * guarantee to pairs sharing a clean band that stayed under the cap.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxHamming: Int, maxBucket: Int = 10000,
      bandBits: Int = 16): DataFrame =
    fingerprintPairs(simhashDF(docs, idCol, textCol, n), idCol, "simhash",
      maxHamming, maxBucket, bandBits)

  /** [[simhashPairs]] over a prebuilt [[shingleSets]] frame (the q191
    * shared-scan entry).
    */
  def simhashPairsFromSets(sets: DataFrame, idCol: String,
      maxHamming: Int, maxBucket: Int = 10000,
      bandBits: Int = 16): DataFrame =
    fingerprintPairs(
      simhashFromRows(shingleRowsFromSets(sets, idCol), idCol), idCol,
      "simhash", maxHamming, maxBucket, bandBits)

  /** The band keys of a 64-bit fingerprint column: an array of
    * `64/bandBits` struct(band_idx, band_val), band b holding bits
    * [b·bandBits, (b+1)·bandBits). Two fingerprints within maxHamming
    * bits are sure to share a band only while maxHamming is below the
    * band count, so both conditions are checked here. The batch joins
    * and the stream matchers ([[graft.streaming.StreamImageNearDup]],
    * [[graft.streaming.StreamAudioNearDup]]) all band with this one
    * expression, so a stored batch index and a stream agree on
    * candidates.
    */
  def fpBandKeys(fp: Column, bandBits: Int, maxHamming: Int): Column = {
    require(bandBits > 0 && 64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    require(maxHamming <= nBands - 1,
      s"$nBands bands of $bandBits bits are lossless only for hamming <= ${nBands - 1}")
    val mask = if (bandBits == 64) lit(-1L) else lit((1L << bandBits) - 1L)
    array((0 until nBands).map(b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(fp, bandBits * b).bitwiseAND(mask)
          .as("band_val"))): _*)
  }

  /** 64-bit fingerprint → per-band rows (id, fp, band_idx, band_val),
    * hot buckets capped — the shared banding of [[fingerprintPairs]]
    * and [[crossFingerprintDups]].
    */
  private def fpBands(fp: DataFrame, idCol: String, fpCol: String,
      bandBits: Int, maxHamming: Int, maxBucket: Int): DataFrame =
    capBuckets(
      fp.select(col(idCol), col(fpCol),
        explode(fpBandKeys(col(fpCol), bandBits, maxHamming)).as("band"))
        .select(col(idCol), col(fpCol), col("band.band_idx"),
          col("band.band_val")),
      Seq("band_idx", "band_val"), maxBucket)

  /** Banded hamming join over ANY 64-bit fingerprint column — the
    * pair-generation engine [[simhashPairs]] documents, factored out so
    * every 64-bit sketch (text SimHash, image pHash, future audio
    * chromaprints) shares ONE implementation of the banding, the
    * bucket cap, and the pigeonhole guarantee. Output: `d1, d2,
    * hamming` with d1 < d2.
    */
  def fingerprintPairs(fp: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int, maxBucket: Int = 10000,
      bandBits: Int = 16): DataFrame = {
    val bands = fpBands(fp, idCol, fpCol, bandBits, maxHamming, maxBucket)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col(s"a.$fpCol").as("fp1"), col(s"b.$fpCol").as("fp2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp1").bitwiseXOR(col("fp2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Cross-corpus fingerprint near-dups: every (batch id, corpus id)
    * pair within `maxHamming`, via the same banded hamming equi-join
    * as [[fingerprintPairs]] — O(batch + corpus) band rows on the
    * (band_idx, band_val) shuffle key, never a batch × corpus
    * product. This is the STANDING-INDEX probe (the fingerprint
    * sibling of [[crossNearDupsFromIndex]]): the stored side is
    * 64 bits per row, the corpus media bytes are never re-read.
    * Returns (bid, cid, hamming).
    */
  def crossFingerprintDups(corpusFp: DataFrame, batchFp: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int,
      maxBucket: Int = 10000, bandBits: Int = 16): DataFrame = {
    val cb = fpBands(corpusFp, idCol, fpCol, bandBits, maxHamming, maxBucket)
    val bb = fpBands(batchFp, idCol, fpCol, bandBits, maxHamming, maxBucket)
    bb.as("b")
      .join(cb.as("c"),
        col("b.band_idx") === col("c.band_idx") &&
        col("b.band_val") === col("c.band_val"))
      .select(col(s"b.$idCol").as("bid"), col(s"c.$idCol").as("cid"),
        col(s"b.$fpCol").as("fp1"), col(s"c.$fpCol").as("fp2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp1").bitwiseXOR(col("fp2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("bid"), col("cid"), col("hamming"))
  }

  /** Image near-duplicate pairs — the IMAGE member of the dedup matrix
    * (exact/near × batch/stream × text/image): 64-bit perceptual hash
    * per payload ([[Multimodal.phashFeatures]]: decode → luma → 32×32
    * → DCT low band → median sign), then the SAME banded hamming join
    * as text SimHash. Undecodable payloads drop out (null phash).
    * Scale shape: fingerprinting is row-local scan work; pair
    * generation shuffles 64-bit hashes on band keys — the corpus
    * bytes never move past the scan stage.
    */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int,
      maxBucket: Int = 10000, bandBits: Int = 16): DataFrame =
    fingerprintPairs(
      Multimodal.phashFeatures(media).filter(col("phash").isNotNull),
      "media_id", "phash", maxHamming, maxBucket, bandBits)

  /** Audio near-duplicate pairs — the AUDIO member of the dedup matrix
    * (exact/near × batch/stream × text/image/audio): 64-bit
    * Haitsma–Kalker fingerprint per payload
    * ([[Multimodal.audioFingerprints]]: framed Goertzel bank →
    * sign-of-energy-delta bits), then the SAME banded hamming join as
    * text SimHash and image pHash. Undecodable/too-short payloads
    * drop out (null afp). Scale shape is inherited from
    * [[fingerprintPairs]]: fingerprinting is row-local scan work,
    * pair generation shuffles 64-bit words on (band_idx, band_val),
    * hot buckets (silence / boilerplate jingles collapse to one
    * fingerprint) are capped whole-bucket — deterministic, so an
    * oracle replays the cap with a HAVING count ≤ cap.
    */
  def audioNearDupPairs(media: DataFrame, coeffs: Seq[Double],
      frameLen: Int, hop: Int, maxHamming: Int,
      maxBucket: Int = 10000, bandBits: Int = 16): DataFrame =
    fingerprintPairs(
      Multimodal.audioFingerprints(media, coeffs, frameLen, hop)
        .filter(col("afp").isNotNull),
      "media_id", "afp", maxHamming, maxBucket, bandBits)

  /** SimHash banding recall audit — the MEASURED counterpart of the
    * pigeonhole guarantee [[simhashPairs]] relies on (the SimHash
    * sibling of q115's MinHash-LSH audit): per hamming distance up to
    * `hMax`, how many document pairs share at least one of the
    * 64/bandBits bands. Hamming ≤ nBands−1 MUST read recall 1.0 — a
    * pair with fewer flipped bits than bands always leaves one band
    * intact — and beyond it the decay IS the banding's measured miss
    * rate (the number a recall dial like bandBits=8 would buy back).
    *
    * The exact side is deliberately all-pairs (like q22/q26:
    * correctness baseline, bench-gated above sf0.1); at corpus scale
    * the audit runs on hash-sampled slices, same recipe as q115.
    * Candidacy is a pure pair predicate on the two fingerprints
    * (band-masked equality), so the audit needs no second
    * pair-generation dataflow that could itself be wrong.
    */
  def simhashRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      n: Int, hMax: Int, bandBits: Int = 16): DataFrame = {
    require(bandBits > 0 && 64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    val fp = simhashDF(docs, idCol, textCol, n)
    val a = fp.select(col(idCol).as("d1"), col("simhash").as("h1"))
    val b = fp.select(col(idCol).as("d2"), col("simhash").as("h2"))
    val cand = (0 until nBands).map { k =>
      val m =
        if (bandBits == 64) -1L
        else ((1L << bandBits) - 1L) << (bandBits * k)
      col("h1").bitwiseAND(lit(m)) === col("h2").bitwiseAND(lit(m))
    }.reduce(_ || _)
    a.join(b, col("d1") < col("d2"))
      .select(bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"),
        cand.cast("long").as("cand"))
      .filter(col("hamming") <= hMax)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cand")).as("n_cands"))
  }

  /** Quality-aware near-dup survivor selection — the production
    * cluster-representative rule: instead of the lowest-id survivor
    * (q39/q112's convention), each near-dup component keeps its
    * BEST document under the caller's quality ordering
    * (`qualityCols` descending, in written priority order, final tie
    * id ascending — callers pass EXACT-valued columns so the ordering
    * is engine-portable).
    *
    * `scored` is the per-doc table (idCol + quality columns); `pairs`
    * is any near-dup pair set (d1, d2) — [[minhashNearDups]],
    * [[simhashPairs]], … Unpaired docs form singleton components of
    * themselves and are always kept. Output = `scored` plus
    * (component, n_cluster_docs, keep, kept_by).
    *
    * Scale shape: components via [[connectedComponents]] (pairs-sized,
    * not corpus-sized); the verdict is two window passes over ONE
    * component-keyed exchange of the scored table — the quality
    * columns ride the same shuffle, the corpus text never moves.
    */
  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication") — embedding-cluster
    * semantic dedup, the 2020s curation method the matrix's
    * exact/fuzzy/LSH/SimHash/image members don't cover: k-means
    * cluster the corpus ([[KMeans.fitCentroidArrays]] — deterministic
    * Lloyd), generate exact cosine near-dup pairs ONLY within
    * clusters (equi-join on the cluster id: pairwise work is
    * O(Σ cell²), never corpus²), connect pairs into semantic groups,
    * and keep per group the vector FARTHEST from its cluster centroid
    * — the paper's keep-low-centroid-similarity rule, ranked on the
    * sequential-fold-double squared distance [[KMeans.assign]] emits
    * (bit-identical cross-engine; ties → lowest id), so survivor
    * choice is engine- and partitioning-portable.
    *
    * Scale shape: centroid training and assignment are narrow maps
    * against k·d broadcast literals; pair generation shuffles on the
    * cluster id; components ride [[connectedComponents]] (pairs are
    * cluster-confined, so component diameter is bounded by cell
    * size). The knobs (k, iters, tau) are explicit — k controls the
    * cell-size/recall trade exactly like IVF's nlist.
    *
    * @return one row per INPUT vector: (idCol, cluster, d2c,
    *         component, n_group, keep, kept_by). Rows whose `vecCol`
    *         is null cannot be embedded, so they are undecidable —
    *         the image lane's "no signature ⇒ keep" contract applies:
    *         they come back keep=1, n_group=1, kept_by=self with null
    *         cluster/d2c, never silently dropped.
    */
  def semDeDup(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, tau: Double): DataFrame = {
    val (assigned, pairs) = semDeDupParts(vecs, idCol, vecCol, k, iters, tau)
    val decided = qualitySurvivors(assigned, idCol, pairs, Seq("d2c"))
      .withColumnRenamed("n_cluster_docs", "n_group")
    val undecidable = vecs.filter(col(vecCol).isNull)
      .select(col(idCol),
        lit(null).cast("int").as("cluster"),
        lit(null).cast("double").as("d2c"),
        col(idCol).as("component"),
        lit(1L).as("n_group"),
        lit(1).as("keep"),
        col(idCol).as("kept_by"))
    decided.unionByName(undecidable)
  }

  /** Just the within-cluster near-dup PAIR set of [[semDeDup]]
    * (d1 < d2) — the method-matrix surface (q203's overlap row against
    * MinHash-LSH).
    */
  def semDeDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, tau: Double): DataFrame =
    semDeDupParts(vecs, idCol, vecCol, k, iters, tau)._2

  /** Semantic DECONTAMINATION pairs — [[semDeDup]]'s machinery
    * generalized to TWO frames, the embedding-space member of the
    * decontamination family: q62/q91/q170 catch exact n-gram overlap
    * between the training corpus and a held-out eval set; this
    * catches PARAPHRASED benchmark leakage those structurally miss.
    * Frozen centroids are trained on `corpus` ONLY (the eval set is
    * held out of training — the AnnIndexPipeline frozen-model
    * discipline), BOTH frames are assigned under the trained model,
    * and the output is the cluster-confined cross pair set: (corpus
    * doc, eval doc) in the SAME cell with cosine ≥ tau. No
    * corpus-side or eval-side self-pairs — contamination is strictly
    * cross-frame (q112's cross-corpus discipline).
    *
    * Scale shape: training and assignment are narrow maps against k·d
    * broadcast centroid literals; pair generation is an equi-join on
    * the trained cluster id — O(Σ corpus_cell × eval_cell), never
    * |corpus|×|eval|; the eval set is benchmark-sized, so its side
    * broadcasts under AQE at scale. k is the cell-size knob (IVF
    * nlist); tau the paraphrase threshold.
    *
    * @return (corpus_id, eval_id, cluster, cosine) — cosine is the
    *         sequential-fold double (bit-portable cross-engine)
    */
  def semDeDupCross(corpus: DataFrame, eval: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, tau: Double): DataFrame = {
    val cents = KMeans.fitCentroidArrays(corpus, idCol, vecCol, k, iters)
    def side(df: DataFrame) =
      df.select(col(idCol), col(vecCol),
          sqrt(Similarity.norm2(col(vecCol))).as("norm"))
        .join(KMeans.assign(df, idCol, vecCol, cents)
          .select(col(idCol), col("cluster")), Seq(idCol))
    val cos = Similarity.dot(col(s"c.$vecCol"), col(s"e.$vecCol")) /
      (col("c.norm") * col("e.norm"))
    side(corpus).as("c")
      .join(side(eval).as("e"), col("c.cluster") === col("e.cluster"))
      .filter(cos >= tau)
      .select(col(s"c.$idCol").as("corpus_id"),
        col(s"e.$idCol").as("eval_id"),
        col("c.cluster").as("cluster"), cos.as("cosine"))
  }

  private def semDeDupParts(vecs: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, tau: Double)
      : (DataFrame, DataFrame) = {
    val cents = KMeans.fitCentroidArrays(vecs, idCol, vecCol, k, iters)
    // (id, cluster, d2c) is 3 narrow columns, but its subtree scores
    // k decimal folds per row and is referenced by BOTH pair sides
    // plus the survivor rank — checkpoint so the folds run once
    val assigned = KMeans.assign(vecs, idCol, vecCol, cents)
      .localCheckpoint(true)
    val m = vecs.select(col(idCol), col(vecCol),
        sqrt(Similarity.norm2(col(vecCol))).as("norm"))
      .join(assigned.select(col(idCol), col("cluster")), Seq(idCol))
    val pairs = m.as("a")
      .join(m.as("b"), col("a.cluster") === col("b.cluster") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(Similarity.dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
        / (col("a.norm") * col("b.norm")) >= tau)
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
    (assigned, pairs)
  }

  def qualitySurvivors(scored: DataFrame, idCol: String, pairs: DataFrame,
      qualityCols: Seq[String]): DataFrame = {
    require(qualityCols.nonEmpty)
    val comps = connectedComponents(pairs)
      .withColumnRenamed("node", idCol)
    val withComp = scored
      .join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val ord = qualityCols.map(c => col(c).desc) :+ col(idCol).asc
    val w = Window.partitionBy(col("component")).orderBy(ord: _*)
    val wAll = Window.partitionBy(col("component"))
    withComp
      .withColumn("__rk", row_number().over(w))
      .withColumn("n_cluster_docs", count(lit(1)).over(wAll))
      .withColumn("keep", when(col("__rk") === 1, 1).otherwise(0))
      .withColumn("kept_by",
        max(when(col("__rk") === 1, col(idCol))).over(wAll))
      .drop("__rk")
  }
}
