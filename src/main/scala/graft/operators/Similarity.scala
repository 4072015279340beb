package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity operators: exact cosine (sequential-fold dot
  * product — bit-identical to the DuckDB oracle), brute-force top-k,
  * and random-hyperplane LSH bucketing as the scale path.
  *
  * Scale design (100 TB): brute-force top-k is the correctness
  * baseline — a broadcast of the (small) query set against a scan of
  * the corpus, partial top-k per partition via the window. The LSH
  * variant buckets both sides by hyperplane sign bits first, so the
  * candidate set per query is |bucket| not |corpus|; buckets are the
  * shuffle key. Hyperplane components come from integer arithmetic
  * (no RNG) so plans, tests, and the SQL oracle agree exactly.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as double, sequential left fold (≡ DuckDB list_reduce).
    * Backed by the native graft_dot expression (registered by
    * GraftSession) — the equivalent aggregate∘zip_with chain is
    * interpreted per element and dominates all-pairs scans.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Σ vᵢ² as double, sequential left fold. */
  def norm2(v: Column): Column = dot(v, v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** All vector pairs (id1 < id2) with cosine ≥ tau. O(n²) compare —
    * the exact baseline; use lshBuckets to prune candidates at scale.
    */
  def cosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    val withNorm = vecs.select(col(idCol), col(vecCol),
      sqrt(norm2(col(vecCol))).as("norm"))
    withNorm.as("a")
      .join(withNorm.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        (dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a.norm") * col("b.norm"))).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** The per-query top-k cut every ranked operator ends in: number each
    * query_id's rows by `order` (callers end it with a unique id, so
    * ranks are deterministic) as column `rank`, and keep ranks 1..k.
    * The filter on row_number plans as a WindowGroupLimit, so each
    * partition ships at most k rows per query into the window's
    * shuffle.
    */
  def rankCut(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i): integer-hash → [−0.5, 0.5). Portable to SQL.
    */
  def planeComponent(j: Column, i: Column): Column =
    (((j + lit(1L)) * lit(2654435761L) + i * lit(40503L)) % lit(1000003L))
      .cast("double") / lit(1000003.0) - lit(0.5)

  /** nBits-bit LSH bucket id: bit j = sign of ⟨v, plane_j⟩. */
  def lshBucket(vec: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val proj = aggregate(
        transform(sequence(lit(0L), size(vec).cast("long") - lit(1L)),
          i => element_at(vec, (i + lit(1L)).cast("int")).cast("double")
            * planeComponent(lit(j.toLong), i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed top-k: candidates are corpus rows in the SAME
    * hyperplane bucket as the query (equi-join on bucket — a hash
    * join whose shuffle key is the bucket id), then exact cosine
    * ranking within the bucket. The 100 TB path: per-query work drops
    * from |corpus| to |bucket| ≈ |corpus| / 2^nBits; recall is
    * approximate by construction.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nBits: Int, k: Int): DataFrame = {
    def prep(df: DataFrame, idAs: String, vecAs: String, normAs: String,
        bucketAs: String) =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        sqrt(norm2(col(vecCol))).as(normAs),
        lshBucket(col(vecCol), nBits).as(bucketAs))
    val c = prep(corpus, "corpus_id", "cvec", "cnorm", "cbucket")
    val q = prep(queries, "query_id", "qvec", "qnorm", "qbucket")
    val scored = c.join(broadcast(q),
        col("qbucket") === col("cbucket") && col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("qbucket").as("bucket"), col("corpus_id"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cosine"))
    rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
  }

  /** All nBits hyperplane projections of a vector, as an array —
    * shared by the bucket (signs) and the multi-probe margins
    * (|projection| = distance to the hyperplane, the probe-ordering
    * signal).
    */
  def lshProjections(vec: Column, nBits: Int): Column =
    array((0 until nBits).map { j =>
      aggregate(
        transform(sequence(lit(0L), size(vec).cast("long") - lit(1L)),
          i => element_at(vec, (i + lit(1L)).cast("int")).cast("double")
            * planeComponent(lit(j.toLong), i)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  /** Query-directed multi-probe LSH (Lv et al. 2007, single-bit
    * flips): every candidate the probe set scores, deduped — probe 1
    * is the query's own bucket, probes 2..nProbe flip the bits with
    * the SMALLEST |projection| margin (the hyperplanes the query sits
    * closest to, i.e. the buckets its near neighbors most likely fell
    * into). [[mpLshTopK]] is the per-query top-k window over exactly
    * this frame; the frame itself is exposed so the recall curve can
    * report |scored| as the measured cost per probe count.
    *
    * Scale shape: same as [[lshTopK]] — ONE bucket equi-join; the
    * query side just carries nProbe rows instead of 1, so candidate
    * work is ≈ nProbe·|corpus|/2^nBits per query WITHOUT adding hash
    * tables (the alternative recall lever, more tables, multiplies
    * the stored index instead).
    */
  def mpLshScored(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nBits: Int, nProbe: Int): DataFrame =
    mpLshScoredIdx(corpus, queries, idCol, vecCol, nBits, nProbe)
      .drop("probe_idx")

  /** [[mpLshScored]] plus the 0-based probe rank (`probe_idx`: 0 =
    * the query's own bucket, i = the i-th margin flip). Because the
    * probe set at nProbe is BY CONSTRUCTION the length-nProbe prefix
    * of the probe set at any larger nProbe (margins are sorted once,
    * flips are a prefix slice), `mpLshScoredIdx(.., npMax).filter
    * (probe_idx < np)` is row-for-row the scored frame at np — one
    * corpus scan + one bucket join serves a whole recall curve
    * (SimilaritySpec pins the equivalence).
    */
  def mpLshScoredIdx(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nBits: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nBits + 1)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"),
      sqrt(norm2(col(vecCol))).as("cnorm"),
      lshBucket(col(vecCol), nBits).as("cbucket"))
    val projs = lshProjections(col(vecCol), nBits)
    val bucket = lshBucket(col(vecCol), nBits)
    // bits ranked by |projection| ascending (ties: lower bit first)
    val margins = array_sort(transform(sequence(lit(0), lit(nBits - 1)),
      j => struct(abs(element_at(projs, j + 1)).as("m"), j.as("j"))))
    val pows = typedLit((0 until nBits).map(j => 1L << j))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        sqrt(norm2(col(vecCol))).as("qnorm"), bucket.as("qbucket"),
        slice(margins, 1, nProbe - 1).as("flips"))
      .select(col("query_id"), col("qvec"), col("qnorm"),
        posexplode(concat(array(col("qbucket")),
          transform(col("flips"), s => col("qbucket")
            .bitwiseXOR(element_at(pows, s.getField("j") + 1)))))
          .as(Seq("probe_idx", "probe")))
    // distinct buckets per query ⇒ no duplicate candidates to dedup
    c.join(broadcast(q),
        col("probe") === col("cbucket") && col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("probe_idx"),
        col("probe").as("bucket"), col("corpus_id"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cosine"))
  }

  /** Multi-probe LSH top-k: the per-query top-k window over
    * [[mpLshScored]]. nProbe = 1 degenerates to [[lshTopK]].
    */
  def mpLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nBits: Int, nProbe: Int, k: Int): DataFrame = {
    require(k >= 1)
    rankCut(mpLshScored(corpus, queries, idCol, vecCol, nBits, nProbe), k,
      col("cosine").desc, col("corpus_id").asc)
  }

  /** seedMod yielding nlist ≈ √n for a corpus of n vectors — the
    * right IVF sizing rule: assignment costs O(n·nlist) and probing
    * O(n·nprobe/nlist), so nlist = √n balances them. Measured at 10×
    * scale (SCALE.md): nlist fixed ∝ n made assignment quadratic
    * (9.9× wall on 10× data); √n sizing restored the U-curve minimum.
    */
  def sqrtSeedMod(corpusSize: Long): Int =
    math.max(1, math.round(math.sqrt(corpusSize.toDouble)).toInt)

  /** seedMod > 0 → as given (oracle-pinned call sites); seedMod ≤ 0 →
    * the measured √n default, sized from one count() job over the
    * corpus. Operators take this default so a caller who doesn't know
    * the corpus size cannot accidentally ship the quadratic-assignment
    * regime the 10× sweep caught (SCALE.md).
    *
    * NOTE: the unhinted path runs that count() EAGERLY at
    * DataFrame-construction time; pass an explicit seedMod at call
    * sites that already know n (oracles pin it for exactly this
    * reason) or that cannot tolerate a job before the action.
    */
  private[graft] def resolveSeedMod(corpus: DataFrame, seedMod: Int): Int =
    if (seedMod > 0) seedMod else sqrtSeedMod(corpus.count())

  /** Deterministic IVF seed centroids: corpus rows whose id ≡ 0 mod
    * seedMod become the cells (cell id = member id). No RNG, so the
    * index, the specs, and the SQL oracle agree exactly.
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      seedMod: Int): DataFrame =
    corpus.filter(col(idCol) % seedMod === 0)
      .select(col(idCol).cast("long").as("cell"), col(vecCol).as("cvec"),
        sqrt(norm2(col(vecCol))).as("cnorm"))

  /** Assign every vector to its nearest centroid (max cosine, lowest
    * cell id on ties). Output: (idCol, vecCol, vnorm, cell).
    *
    * Scale shape: the centroid set (nlist ≈ √n ≪ corpus) broadcasts;
    * scoring happens inside the corpus scan, and the arg-max is a
    * partial aggregate (max_by) that collapses each vector's nlist
    * candidate rows map-side — the shuffle carries one row per
    * vector, not nlist rows per vector (a window over (id) would
    * shuffle all n·nlist scored rows).
    */
  def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    vecs.select(col(idCol), col(vecCol), sqrt(norm2(col(vecCol))).as("vnorm"))
      .crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol), col("vnorm"), col("cell"),
        (dot(col(vecCol), col("cvec")) / (col("vnorm") * col("cnorm")))
          .as("cell_cos"))
      .groupBy(col(idCol))
      .agg(
        any_value(col(vecCol)).as(vecCol), // constant within the group
        any_value(col("vnorm")).as("vnorm"),
        max_by(col("cell"), struct(col("cell_cos"), -col("cell"))).as("cell"))

  /** The IVF probe: score each query against the centroid table by
    * cosine and keep its top-`nprobe` cells, ranked cosine desc, then
    * cell asc — ivfAssign's max_by(struct(cos, -cell)) tie-break, so
    * cell_rank 1 IS the vector's ivfAssign cell. Output: (query_id,
    * qvec, qnorm, cell, cvec, cell_rank) plus the `keep` columns,
    * nprobe rows per query; callers select what they need.
    *
    * Scale shape: the centroid table (nlist ≈ √n) broadcasts into the
    * query scan, and the filter on row_number plans as a
    * WindowGroupLimit, so each partition ships nprobe rows per query
    * into the rank window's shuffle, not nlist.
    */
  def ivfProbe(queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, nprobe: Int, keep: Seq[String] = Nil)
      : DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_cos").desc, col("cell").asc)
    val carried = Seq(col("query_id"), col("qvec"), col("qnorm")) ++
      keep.map(col)
    queries
      .select(Seq(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        sqrt(norm2(col(vecCol))).as("qnorm")) ++ keep.map(col): _*)
      .crossJoin(broadcast(centroids))
      .select(carried ++ Seq(col("cell"), col("cvec"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cell_cos")): _*)
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= nprobe)
      .select(carried ++ Seq(col("cell"), col("cvec"), col("cell_rank")): _*)
  }

  /** Lloyd refinement of IVF centroids: assign, then recompute each
    * cell's centroid as the element-wise mean of its members. Means
    * accumulate as exact decimals so the refined index is independent
    * of partitioning/summation order (like q49's centroids); the
    * result is spec-verified rather than SQL-oracle-verified (the
    * oracle uses the 0-iteration seed index).
    */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    var c = centroids
    for (_ <- 0 until iters) {
      c = ivfAssign(corpus, idCol, vecCol, c)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v").cast("double").cast(DecimalType(28, 8)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), x => x.getField("m").cast("float")).as("cvec"))
        .withColumn("cnorm", sqrt(norm2(col("cvec"))))
    }
    c
  }

  /** IVF top-k ANN: rank the centroids per query, probe the nprobe
    * nearest cells' inverted lists, exact-rank within the candidates.
    *
    * The 100 TB path alongside lshTopK: per-query candidate work is
    * |corpus|·nprobe/nlist. The probe table (queries × nprobe, small)
    * broadcasts into the candidate join, so the corpus-side inverted
    * lists are scanned in place — no corpus shuffle at all.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, k: Int,
      refineIters: Int = 0): DataFrame = {
    val m = resolveSeedMod(corpus, seedMod)
    val seeds0 = seedCentroids(corpus, idCol, vecCol, m)
    val seeds =
      if (refineIters > 0) refineCentroids(corpus, idCol, vecCol, seeds0, refineIters)
      else seeds0
    val assigned = ivfAssign(corpus, idCol, vecCol, seeds)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cvec2"),
        col("vnorm"), col("cell"))
    val probes = ivfProbe(queries, idCol, vecCol, seeds, nprobe)
      .select(col("query_id"), col("qvec"), col("qnorm"), col("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cell"),
        (dot(col("qvec"), col("cvec2")) / (col("qnorm") * col("vnorm")))
          .as("cosine"))
    rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023, applied
    * Spark-first): partition the corpus into IVF cells by nearest
    * seeded centroid, then drop every vector that is within `tau`
    * cosine of a LOWER-id vector in the SAME cell. Survivors keep
    * their cell id so downstream mixing can stay cluster-aware.
    *
    * Scale shape (100 TB): the centroid set broadcasts and assignment
    * is map-side (ivfAssign — one row per vector reaches the shuffle);
    * the pairwise compare is confined WITHIN cells, so the join's
    * shuffle key is the cell id and per-task work is O(max cell²), not
    * O(corpus²) — nlist grows with the corpus (√n rule) to bound cell
    * sizes, the same dial as the LSH bucket caps. Cross-cell near-dups
    * are deliberately out of scope (that recall trade IS the
    * algorithm; near-identical vectors land in the same cell for any
    * sane centroid set — and `nprobe` buys the boundary cases back).
    *
    * `nprobe` is the recall knob for exactly those boundary pairs: for
    * nprobe > 1 the PAIR-GENERATION side assigns each vector to its
    * top-nprobe cells ([[ivfProbe]], so the shuffle carries nprobe
    * rows per vector instead of one), and a pair is compared if
    * the two vectors share ANY probed cell. Survivors still carry their
    * single top-1 cell id (the output contract is unchanged), and
    * nprobe=1 reduces to the exact original dataflow. Measured recall
    * vs the exact pair set in SimilaritySpec.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
      seedMod: Int, tau: Double, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val m = resolveSeedMod(vecs, seedMod)
    val seeds = seedCentroids(vecs, idCol, vecCol, m)
    // materialize the centroid-scoring pass ONCE: it feeds three join
    // branches (pair sides a/b + the survivor base) and Catalyst does
    // not CSE across branches — without this the broadcast-assign pass
    // (the operator's dominant cost) ran three times. Same
    // localCheckpoint discipline as the CC loop; swap for reliable
    // checkpoint() on a cluster that must survive executor loss.
    //
    // For nprobe > 1 BOTH the top-1 assignment and the top-p pair
    // source come from the SAME ranked window (checkpointed once) —
    // an earlier cut ran ivfAssign's cross join AND a second scoring
    // cross join for the probes, doubling the dominant stage.
    val (assigned, pairSource) =
      if (nprobe <= 1) {
        val a = ivfAssign(vecs, idCol, vecCol, seeds).localCheckpoint(true)
        (a, a)
      } else {
        // every vector probes its own top-nprobe cells; rank 1 IS the
        // ivfAssign cell
        val ranked = ivfProbe(vecs, idCol, vecCol, seeds, nprobe)
          .select(col("query_id").as(idCol), col("qvec").as(vecCol),
            col("qnorm").as("vnorm"), col("cell"), col("cell_rank"))
          .localCheckpoint(true)
        (ranked.filter(col("cell_rank") === 1)
          .select(col(idCol), col(vecCol), col("vnorm"), col("cell")),
          ranked.select(col(idCol), col(vecCol), col("vnorm"), col("cell")))
      }
    val a = pairSource.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"), col("vnorm").as("norm_a"))
    val b = pairSource.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"), col("vnorm").as("norm_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("vec_a"), col("vec_b"))
        / (col("norm_a") * col("norm_b")) >= tau)
      // a pair sharing several probed cells is compared once per shared
      // cell; distinct collapses the duplicate drop verdicts
      .select(col("id_b").as(idCol)).distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Graph-ANN rung (bounded-degree NSW-style beam search) — the index
    * family the ladder lacked next to LSH / IVF / SQ8 / PQ / BIN:
    * navigable-small-world search run as SYNCHRONOUS beam rounds so it
    * is deterministic, distributed, and oracle-replayable.
    *
    * Construction (per IVF cell, deterministic — no RNG, no insertion
    * randomness): vector v links to its `degree` nearest SMALLER-id
    * members of its cell (the NSW insert rule replayed in fixed id
    * order), edges kept undirected. Search: route each query to its
    * `nprobe` nearest cells ([[ivfProbe]]); per probed cell start from
    * the cell's lowest-id member and run `hops` synchronous beam
    * rounds — each round scores all neighbors of the
    * current beam and keeps the `beam` best (cosine desc, id asc) per
    * (query, cell); the answer is the top-k over every node SCORED
    * during the walk (beam-evicted nodes stay eligible — standard
    * best-first bookkeeping). Self-matches are excluded from the
    * output only, not from the walk.
    *
    * Scale shape: edge construction is within-cell pair generation
    * (equi-join on the cell id — O(Σ cell²) once, the SemDeDup build
    * economics; the √n seedMod rule bounds cells) and the stored graph
    * is `degree` edges/vector. Each search hop is ONE equi-join of the
    * (queries × nprobe × beam)-row frontier against the edge list on
    * (cell, node) + a WindowGroupLimit-pruned beam window — per-query
    * work is O(hops · beam · degree) vector scores, independent of
    * corpus size; the frontier broadcasts at any realistic query
    * batch. Knobs: degree/beam/hops trade recall for scored-candidate
    * count, measured as a recall ladder rung (q215).
    */
  def nswTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, degree: Int, beam: Int,
      hops: Int, k: Int): DataFrame = {
    require(k >= 1)
    rankCut(nswScored(corpus, queries, idCol, vecCol, seedMod, nprobe,
        degree, beam, hops), k, col("cosine").desc, col("corpus_id").asc)
  }

  /** Every node the NSW walk SCORES, deduped, self-matches excluded —
    * [[nswTopK]] is the per-query top-k window over exactly this
    * frame. Exposed for the efficiency matrix (q216): |scored| per
    * query is the graph walk's measured COST, the denominator of
    * recall-per-candidate.
    */
  def nswScored(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, degree: Int, beam: Int,
      hops: Int): DataFrame = {
    require(degree >= 1 && beam >= 1 && hops >= 0)
    val sc = walkScaffold(corpus, queries, idCol, vecCol, seedMod, nprobe)
    nswScoredOn(sc, levelEdges(sc, degree, 0), beam, hops)
  }

  /** The walk inputs every NSW/HNSW arm shares: the checkpointed
    * cell-assigned corpus and the per-query probed cells. Extracted so
    * multi-arm queries (q227's hnsw/hnsw2/nsw matrix) build the
    * assignment, the probe ranking, and each layer's edge graph ONCE
    * instead of once per arm — the same shared-scaffold discipline as
    * q290's single exact top-K.
    */
  private[graft] final case class WalkScaffold(assigned: DataFrame,
      probes: DataFrame)

  private[graft] def walkScaffold(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, seedMod: Int, nprobe: Int)
      : WalkScaffold = {
    val m = resolveSeedMod(corpus, seedMod)
    val seeds = seedCentroids(corpus, idCol, vecCol, m)
    // reused by both edge endpoints, the entry picks, and every hop's
    // neighbor-vector lookup — cut the groupBy lineage once
    val assigned = ivfAssign(corpus, idCol, vecCol, seeds)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("nvec"),
        col("vnorm"), col("cell"))
      .localCheckpoint(true)
    val probes = ivfProbe(queries, idCol, vecCol, seeds, nprobe)
      .select(col("query_id"), col("qvec"), col("qnorm"), col("cell"))
    WalkScaffold(assigned, probes)
  }

  /** Layer `level`'s bounded-degree graph over the scaffold's corpus:
    * level 0 is the full node set, level l ≥ 1 the promoted subset
    * corpus_id % 2^l = 0 (the trailing-bit rule [[hnswScored]]
    * documents). Eagerly checkpointed by [[nswEdges]] — build each
    * level once and share across arms.
    */
  private[graft] def levelEdges(sc: WalkScaffold, degree: Int,
      level: Int): DataFrame = {
    require(level >= 0 && level <= 30)
    val nodes = if (level == 0) sc.assigned
      else sc.assigned.filter(col("corpus_id") % lit(1L << level) === 0)
    nswEdges(nodes, degree)
  }

  private[graft] def nswScoredOn(sc: WalkScaffold, edges: DataFrame,
      beam: Int, hops: Int): DataFrame = {
    val assigned = sc.assigned
    val entries = assigned.groupBy(col("cell"))
      .agg(min(col("corpus_id")).as("corpus_id"))
    def score(nodes: DataFrame): DataFrame = nodes
      .join(assigned.select(col("cell"), col("corpus_id"), col("nvec"),
        col("vnorm")), Seq("cell", "corpus_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        (dot(col("qvec"), col("nvec")) / (col("qnorm") * col("vnorm")))
          .as("cosine"), col("qvec"), col("qnorm"))
    var frontier = score(sc.probes.join(entries, Seq("cell")))
      .localCheckpoint(true)
    var visited = frontier
    val wb = Window.partitionBy(col("query_id"), col("cell"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    for (_ <- 1 to hops) {
      val expand = score(frontier
        .join(edges, frontier("cell") === edges("cell") &&
          frontier("corpus_id") === edges("src"))
        .select(frontier("query_id"), frontier("cell"),
          edges("dst").as("corpus_id"), col("qvec"), col("qnorm")))
      // one exchange per hop, not two: hash(query_id, cell) satisfies
      // BOTH the dedup agg's clustering (its keys are a superset) and
      // the beam window's partitioning, so the agg and the window
      // share it (guide §2.4 — two operations keyed the same way
      // share one exchange)
      frontier = frontier.unionByName(expand)
        .repartition(col("query_id"), col("cell"))
        .groupBy(col("query_id"), col("cell"), col("corpus_id"))
        .agg(any_value(col("cosine")).as("cosine"),
          any_value(col("qvec")).as("qvec"),
          any_value(col("qnorm")).as("qnorm"))
        .withColumn("brk", row_number().over(wb))
        .filter(col("brk") <= beam)
        .drop("brk")
        .localCheckpoint(true)
      visited = visited.unionByName(expand)
    }
    // hash(query_id) satisfies the distinct's clustering and is the
    // partitioning every consumer's per-query top-k window needs —
    // one exchange serves both
    visited
      .select(col("query_id"), col("cell"), col("corpus_id"), col("cosine"))
      .repartition(col("query_id"))
      .distinct()
      .filter(col("corpus_id") =!= col("query_id"))
  }

  /** Bounded-degree undirected NSW edges within each cell, over the
    * given node set: node → its `degree` nearest SMALLER-ID cell
    * members (the deterministic insert rule), then symmetrized.
    * Shared by the flat walk ([[nswScored]]) and every [[hnswScored]]
    * layer (each layer passes its own node subset).
    */
  private def nswEdges(assigned: DataFrame, degree: Int): DataFrame = {
    val aSrc = assigned.select(col("cell"), col("corpus_id").as("src"),
      col("nvec").as("svec"), col("vnorm").as("snorm"))
    val aDst = assigned.select(col("cell"), col("corpus_id").as("dst"),
      col("nvec").as("dvec"), col("vnorm").as("dnorm"))
    val we = Window.partitionBy(col("src"))
      .orderBy(col("ecos").desc, col("dst").asc)
    val directed = aSrc.join(aDst, Seq("cell"))
      .filter(col("dst") < col("src"))
      .select(col("cell"), col("src"), col("dst"),
        (dot(col("svec"), col("dvec")) / (col("snorm") * col("dnorm")))
          .as("ecos"))
      .withColumn("erk", row_number().over(we))
      .filter(col("erk") <= degree)
      .select(col("cell"), col("src"), col("dst"))
    directed.unionByName(directed.select(col("cell"),
        col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
  }

  /** HIERARCHICAL NSW walk (the HNSW layer idea on q214's per-cell
    * graphs), generalized to `levels` upper layers: layer l holds the
    * deterministic promoted subset corpus_id % 2^l = 0 (the
    * trailing-bit geometric level rule — fixed insertion order, so
    * the whole hierarchy stays oracle-able), each with its OWN
    * bounded-degree graph. The walk greedily descends from the
    * topmost layer (beam 1, `upperHops` rounds per layer), starting
    * at each probed cell's lowest-id member OF THAT LAYER; at every
    * lower layer the entry is the best node found so far — against
    * that layer's own lowest-id entry as the empty-above fallback —
    * and layer 0 runs the usual beam walk. Returns every node ANY
    * layer scored, deduped, self-free (the cost frame; top-k via
    * [[hnswTopK]]).
    *
    * Scale: each upper layer halves node count (geometric), so the
    * whole hierarchy's edges sum to ≤ the level-0 graph's size while
    * log-stepping a fixed entry toward the query's neighborhood — the
    * entry QUALITY knob, orthogonal to beam/hops (walk budget). q227
    * measures exactly that trade: the 2-layer arm reaches the 1-layer
    * arm's recall with strictly fewer scored candidates.
    */
  def hnswScored(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, degree: Int, beam: Int,
      hops: Int, upperHops: Int, levels: Int = 1): DataFrame = {
    require(degree >= 1 && beam >= 1 && hops >= 0 && upperHops >= 0)
    require(levels >= 1 && levels <= 30, "levels must be in [1, 30]")
    val sc = walkScaffold(corpus, queries, idCol, vecCol, seedMod, nprobe)
    hnswScoredOn(sc, levelEdges(sc, degree, 0),
      l => levelEdges(sc, degree, l), beam, hops, upperHops, levels)
  }

  private[graft] def hnswScoredOn(sc: WalkScaffold, edges0: DataFrame,
      edgesAt: Int => DataFrame, beam: Int, hops: Int, upperHops: Int,
      levels: Int): DataFrame = {
    val assigned = sc.assigned
    val probes = sc.probes
    def score(nodes: DataFrame): DataFrame = nodes
      .join(assigned.select(col("cell"), col("corpus_id"), col("nvec"),
        col("vnorm")), Seq("cell", "corpus_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        (dot(col("qvec"), col("nvec")) / (col("qnorm") * col("vnorm")))
          .as("cosine"), col("qvec"), col("qnorm"))
    val wb = Window.partitionBy(col("query_id"), col("cell"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    // the repartition on (query_id, cell) lets the dedup agg and the
    // rank window share one exchange (same fusion as nswScoredOn)
    def top1(cands: DataFrame): DataFrame = cands
      .repartition(col("query_id"), col("cell"))
      .groupBy(col("query_id"), col("cell"), col("corpus_id"))
      .agg(any_value(col("cosine")).as("cosine"),
        any_value(col("qvec")).as("qvec"),
        any_value(col("qnorm")).as("qnorm"))
      .withColumn("brk", row_number().over(wb))
      .filter(col("brk") <= 1)
      .drop("brk")
    def walk(start: DataFrame, edges: DataFrame, rounds: Int, width: Int)
        : (DataFrame, DataFrame) = {
      var frontier = start.localCheckpoint(true)
      var visited = frontier
      for (_ <- 1 to rounds) {
        val expand = score(frontier
          .join(edges, frontier("cell") === edges("cell") &&
            frontier("corpus_id") === edges("src"))
          .select(frontier("query_id"), frontier("cell"),
            edges("dst").as("corpus_id"), col("qvec"), col("qnorm")))
        // one shared exchange per hop (see nswScoredOn)
        frontier = frontier.unionByName(expand)
          .repartition(col("query_id"), col("cell"))
          .groupBy(col("query_id"), col("cell"), col("corpus_id"))
          .agg(any_value(col("cosine")).as("cosine"),
            any_value(col("qvec")).as("qvec"),
            any_value(col("qnorm")).as("qnorm"))
          .withColumn("brk", row_number().over(wb))
          .filter(col("brk") <= width)
          .drop("brk")
          .localCheckpoint(true)
        visited = visited.unionByName(expand)
      }
      (visited, frontier)
    }
    // descend levels..1: greedy (beam 1) per layer; layer l's start is
    // the best node found above, against the layer's own lowest-id
    // entry as fallback (promoted sets are NESTED — id % 2^(l+1) = 0
    // implies id % 2^l = 0 — so every carried node has edges below).
    // Cells empty at a layer contribute nothing there and re-enter at
    // the first layer that has members.
    var upperVis: Option[DataFrame] = None
    for (l <- levels to 1 by -1) {
      val promo = assigned.filter(col("corpus_id") % lit(1L << l) === 0)
      val entL = promo.groupBy(col("cell"))
        .agg(min(col("corpus_id")).as("corpus_id"))
      val fallback = score(probes.join(entL, Seq("cell")))
      val start = upperVis match {
        case None      => fallback
        case Some(vis) => top1(vis.unionByName(fallback))
      }
      val (visL, _) = walk(start, edgesAt(l), upperHops, 1)
      upperVis = Some(upperVis.map(_.unionByName(visL)).getOrElse(visL))
    }
    // layer 0 entry: the best find from the hierarchy, against the
    // default lowest-id entry as the no-promoted-node fallback
    val e0 = assigned.groupBy(col("cell"))
      .agg(min(col("corpus_id")).as("corpus_id"))
    val defEntry = score(probes.join(e0, Seq("cell")))
    val entry0 = top1(upperVis.get.unionByName(defEntry))
    val (lowerVis, _) = walk(entry0, edges0, hops, beam)
    // hash(query_id) serves the distinct AND every consumer's
    // per-query top-k window (see nswScoredOn)
    upperVis.get.unionByName(defEntry).unionByName(lowerVis)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("cosine"))
      .repartition(col("query_id"))
      .distinct()
      .filter(col("corpus_id") =!= col("query_id"))
  }

  /** Per-query top-k window over [[hnswScored]]. */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, degree: Int, beam: Int,
      hops: Int, upperHops: Int, k: Int, levels: Int = 1): DataFrame = {
    require(k >= 1)
    rankCut(hnswScored(corpus, queries, idCol, vecCol, seedMod, nprobe,
        degree, beam, hops, upperHops, levels), k,
      col("cosine").desc, col("corpus_id").asc)
  }

  /** Brute-force top-k nearest (cosine) corpus rows per query row.
    * Queries are broadcast; ranking is a per-query window with id
    * tie-break for determinism.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"),
      sqrt(norm2(col(vecCol))).as("cnorm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      sqrt(norm2(col(vecCol))).as("qnorm"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cosine"))
    rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diverse top-k — the selection rule behind diverse retrieval and
    * few-shot example picking: greedily take the candidate maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance
    * penalized by redundancy with what's already chosen — instead of
    * the plain top-k, which returns k near-copies when the corpus has
    * near-dups (the measured case in q182: plain top-5 and MMR top-5
    * genuinely diverge on this corpus).
    *
    * Execution shape: (1) bound the candidate pool to the top
    * `candN` by relevance per query ([[topK]]); (2) materialize the
    * per-query candidate×candidate cosine matrix (≤ queries·candN²
    * rows — candN is a small constant, so this is linear in queries);
    * (3) k DATAFRAME iterations, each one query-keyed shuffle:
    * score every unselected candidate against the selected set
    * (max-sim via one join + agg on the precomputed matrix), take the
    * per-query argmax with a WindowGroupLimit rank-1 window, append.
    * No driver-side data path at all — selection state is a DataFrame
    * keyed by query, so the operator scales to millions of concurrent
    * queries; the loop is k (a small constant) rounds,
    * localCheckpointed like the CC/k-means iterations.
    *
    * Exactness: scores are doubles built from the same fused
    * dot/norm expressions both engines share; `lam` must be exactly
    * representable in binary (0.5, 0.25, 0.75) so `λ·rel − (1−λ)·ms`
    * is the identical float program in the DuckDB replay; argmax
    * ties break on corpus_id. Step 1 is the pure-relevance argmax
    * (max-sim coalesces to 0 over the empty selected set).
    *
    * Output: query_id, step (1..k), corpus_id, rel, mmr (the score
    * at selection time), unrounded.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, candN: Int, k: Int, lam: Double): DataFrame = {
    require(k >= 1 && candN >= k, "need candN >= k >= 1")
    val cands = topK(corpus, queries, idCol, vecCol, candN)
      .select(col("query_id"), col("corpus_id"), col("cosine").as("rel"))
      .localCheckpoint(true)
    val v = corpus.select(col(idCol).as("vid"), col(vecCol).as("vv"),
      sqrt(norm2(col(vecCol))).as("vn"))
    val sims = cands.select(col("query_id"), col("corpus_id").as("ca"))
      .join(cands.select(col("query_id"), col("corpus_id").as("cb")),
        Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .join(v.select(col("vid").as("ca"), col("vv").as("va"),
        col("vn").as("na")), Seq("ca"))
      .join(v.select(col("vid").as("cb"), col("vv").as("vb"),
        col("vn").as("nb")), Seq("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("corpus_id").asc)
    var selected = cands
      .withColumn("mmr", lit(lam) * col("rel"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("mmr").desc, col("corpus_id").asc)))
      .filter(col("rn") === 1)
      .select(col("query_id"), lit(1).as("step"), col("corpus_id"),
        col("rel"), col("mmr"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val remaining = cands.join(
        selected.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"), "left_anti")
      val maxSim = sims
        .join(selected.select(col("query_id"),
          col("corpus_id").as("cb")), Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca").as("corpus_id"))
        .agg(max(col("sim")).as("ms"))
      val next = remaining.join(maxSim, Seq("query_id", "corpus_id"))
        .withColumn("mmr",
          lit(lam) * col("rel") - lit(1.0 - lam) * col("ms"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), lit(step).as("step"), col("corpus_id"),
          col("rel"), col("mmr"))
      selected = selected.unionByName(next).localCheckpoint(true)
    }
    selected
  }

  /** Metadata-filtered top-k (the vector-DB "filtered search" shape):
    * candidates are restricted to corpus rows whose `filterCol` equals
    * the query's own value — e.g. same-language nearest neighbours, or
    * tenant-scoped retrieval. The predicate lives IN the join
    * condition, so non-matching corpus rows are discarded at the
    * broadcast-probe, never scored; the corpus is still never
    * shuffled (queries broadcast, one narrow scan + per-query top-k
    * window over ≤ |matching slice| rows).
    */
  def topKFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, filterCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(filterCol).as("cf"), col(vecCol).as("cvec"),
      sqrt(norm2(col(vecCol))).as("cnorm"))
    val q = queries.select(col(idCol).as("query_id"),
      col(filterCol).as("qf"), col(vecCol).as("qvec"),
      sqrt(norm2(col(vecCol))).as("qnorm"))
    val scored = c.join(broadcast(q),
        col("qf") === col("cf") && col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cosine"))
    rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
  }

  // ------------------------------------------------------------------
  // Scalar quantization (SQ8): 4×-compressed corpus ANN
  // ------------------------------------------------------------------

  /** Per-dimension symmetric int8 scale table — scales[d] = max|x_d|
    * over the corpus — as a ONE-ROW DataFrame `(scales:
    * array<double>)`. The middle rung of the quantization ladder
    * (float32 [[topK]] → SQ8 here → PQ [[pqAdcTopK]]): 4× less scan
    * bandwidth than full precision at far higher fidelity than PQ,
    * and scoring is pure integer arithmetic (SIMD-friendly,
    * engine-portable, bit-exact).
    *
    * Computed via posexplode + per-dim max: map-side combine means at
    * most `dim` rows leave each partition, so the corpus pass is one
    * narrow scan + a dim-sized exchange regardless of corpus size.
    */
  def sqScales(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x").cast("double"))).as("s"))
      .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("ps"))
      .select(transform(col("ps"), p => p.getField("s")).as("scales"))

  /** Symmetric int8 encode: q_d = floor(x_d·127/s_d + 0.5) ∈
    * [−127, 127] (0 on an all-zero dimension). floor(x+0.5) is the
    * portable half-up rounding (identical float ops in DuckDB), and
    * ±maxabs maps to ±127 exactly, so codes are bit-reproducible
    * cross-engine. One narrow map over a broadcast 1-row scale table —
    * the encoded corpus never shuffles.
    */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
      scales: DataFrame, keep: Seq[String] = Nil): DataFrame =
    df.crossJoin(broadcast(scales))
      .select(col(idCol) +: keep.map(col) :+
        zip_with(col(vecCol), col("scales"), (x, s) =>
          when(s === 0d, lit(0L)).otherwise(
            floor(x.cast("double") * lit(127.0) / s + lit(0.5))
              .cast("long"))).as("sq_code"): _*)

  /** Brute-force top-k by int8 dot product (descending; corpus-id
    * tie-break). The integer score sum is exact and order-independent,
    * so rankings are bit-stable across engines and partitionings —
    * unlike float scores, SQ8 rankings cannot drift with summation
    * order. Same probe shape as [[topK]] (queries broadcast, corpus
    * never shuffles, per-query window); at scale the same codes drop
    * into the IVF cell join ([[ivfPqTopK]]'s shape) for pruned search.
    *
    * Intended for normalized/comparable-norm embeddings (ranks by dot
    * product, as SQ8 vector stores do).
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val scales = sqScales(corpus, vecCol)
    val c = sqEncode(corpus, idCol, vecCol, scales)
      .select(col(idCol).as("corpus_id"), col("sq_code").as("cq"))
    val q = sqEncode(queries, idCol, vecCol, scales)
      .select(col(idCol).as("query_id"), col("sq_code").as("qq"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        idot(col("cq"), col("qq")).as("iscore"))
    rankCut(scored, k, col("iscore").desc, col("corpus_id").asc)
  }

  /** Native integer dot (expressions.IntDotProduct): exact semantics
    * of aggregate(zip_with(a,b,*),0L,+) in one primitive loop. */
  def idot(a: Column, b: Column): Column = call_function("graft_idot", a, b)

  /** BINARY (1-bit / sign) quantization — the most compressed rung of
    * the fidelity ladder (float32 → SQ8 → PQ → here): bit d = [x_d > 0],
    * packed into ⌈dims/64⌉ long words. 32× smaller than float32 and
    * 8× smaller than SQ8; ranking degrades accordingly (measured in
    * q149's ladder). The packing is a fold of plain bitwise
    * when/otherwise terms — fully codegen, no HOF lambdas — so the
    * encoded corpus is produced in the scan stage and never shuffles.
    */
  def binEncode(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val nWords = (dims + 63) / 64
    val words = (0 until nWords).map { w =>
      (0 until math.min(64, dims - w * 64)).foldLeft(lit(0L)) { (acc, j) =>
        acc.bitwiseOR(
          when(element_at(col(vecCol), w * 64 + j + 1) > lit(0f),
            lit(1L << j)).otherwise(lit(0L)))
      }
    }
    df.select(col(idCol) +: keep.map(col) :+ array(words: _*).as("bin_code"): _*)
  }

  /** Brute-force top-k by HAMMING distance over [[binEncode]] codes
    * (ascending; corpus-id tie-break) — the sign pattern is SimHash
    * over the coordinate basis, so hamming/dims estimates the angular
    * distance: the cheapest rung of the compression matrix, with
    * integer scores (bit-stable at any partitioning, like SQ8).
    *
    * Scale shape = [[sqTopK]]'s: queries broadcast, the corpus rides
    * its scan at 1 BIT per dim of bandwidth (a 100 TB float corpus
    * becomes 400 GB of codes), per-word popcount is one `bit_count`
    * of an XOR — fully codegen. At scale the same codes drop into the
    * IVF cell join for pruned search, or serve as a cheap RERANK
    * prefilter ahead of the float/SQ8 stage.
    */
  def binTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Int, k: Int): DataFrame = {
    val nWords = (dims + 63) / 64
    val c = binEncode(corpus, idCol, vecCol, dims)
      .select(col(idCol).as("corpus_id"), col("bin_code").as("cb"))
    val q = binEncode(queries, idCol, vecCol, dims)
      .select(col(idCol).as("query_id"), col("bin_code").as("qb"))
    val ham = (0 until nWords).map { w =>
      bit_count(element_at(col("cb"), w + 1)
        .bitwiseXOR(element_at(col("qb"), w + 1))).cast("long")
    }.reduce(_ + _)
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), ham.as("hamming"))
    rankCut(scored, k, col("hamming").asc, col("corpus_id").asc)
  }

  /** IVF-SQ8: cell-pruned int8 search — the FAISS `IVF…,SQ8` shape,
    * completing the {brute, IVF} × {float32, SQ8, PQ} matrix ([[topK]]
    * / [[ivfTopK]] / [[sqTopK]] / here / [[pqAdcTopK]] /
    * [[ivfPqTopK]]). Cell ranking reuses the pinned seed centroids and
    * float probe ([[ivfProbe]]) of [[ivfTopK]]; candidate scoring is
    * [[sqTopK]]'s exact integer dot over the cell's inverted list only.
    *
    * Scale shape = [[ivfPqTopK]]'s: centroids and the 1-row scale
    * table broadcast, the corpus is encoded in place (narrow), and the
    * scoring join is a broadcast HASH join on cell id — per-query
    * candidate work |corpus|·nprobe/nlist at 8 bits per dim of scan
    * bandwidth, and the integer scores keep ranking bit-stable at any
    * partitioning.
    */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, seedMod: Int, nprobe: Int, k: Int): DataFrame = {
    val m = resolveSeedMod(corpus, seedMod)
    val seeds = seedCentroids(corpus, idCol, vecCol, m)
    val scales = sqScales(corpus, vecCol)
    val assigned = ivfAssign(corpus, idCol, vecCol, seeds)
    val cCodes = sqEncode(assigned, idCol, vecCol, scales, Seq("cell"))
      .select(col(idCol).as("corpus_id"), col("cell"),
        col("sq_code").as("cq"))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val qCells = ivfProbe(queries, idCol, vecCol, seeds, nprobe)
      .select(col("query_id"), col("cell"))
    val qCodes = sqEncode(qn, "query_id", "qvec", scales)
      .select(col("query_id"), col("sq_code").as("qq"))
    val probes = qCells.join(qCodes, "query_id")
    val scored = cCodes.join(broadcast(probes), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        idot(col("cq"), col("qq")).as("iscore"))
    rankCut(scored, k, col("iscore").desc, col("corpus_id").asc)
  }

  /** IVF-BIN: cell-pruned binary search — the last cell of the
    * {brute, IVF} × {float32, SQ8, PQ, binary} matrix ([[topK]] /
    * [[ivfTopK]] / [[sqTopK]] / [[ivfSqTopK]] / [[pqAdcTopK]] /
    * [[ivfPqTopK]] / [[binTopK]] / here). Cell ranking reuses the
    * pinned seed centroids and float probe ([[ivfProbe]]) of
    * [[ivfTopK]]; candidate scoring is [[binTopK]]'s packed hamming over
    * the probed cells' inverted lists only.
    *
    * Scale shape = [[ivfSqTopK]]'s — centroids broadcast, corpus
    * encoded in place (narrow), scoring via broadcast HASH join on
    * cell id — at 1 BIT per dim of candidate bandwidth: the cheapest
    * index probe this engine has, and integer distances keep ranking
    * bit-stable at any partitioning.
    */
  def ivfBinTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Int, seedMod: Int, nprobe: Int,
      k: Int): DataFrame = {
    val nWords = (dims + 63) / 64
    val m = resolveSeedMod(corpus, seedMod)
    val seeds = seedCentroids(corpus, idCol, vecCol, m)
    val assigned = ivfAssign(corpus, idCol, vecCol, seeds)
    val cCodes = binEncode(assigned, idCol, vecCol, dims, Seq("cell"))
      .select(col(idCol).as("corpus_id"), col("cell"),
        col("bin_code").as("cb"))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val qCells = ivfProbe(queries, idCol, vecCol, seeds, nprobe)
      .select(col("query_id"), col("cell"))
    val qCodes = binEncode(qn, "query_id", "qvec", dims)
      .select(col("query_id"), col("bin_code").as("qb"))
    val probes = qCells.join(qCodes, "query_id")
    val ham = (0 until nWords).map { w =>
      bit_count(element_at(col("cb"), w + 1)
        .bitwiseXOR(element_at(col("qb"), w + 1))).cast("long")
    }.reduce(_ + _)
    val scored = cCodes.join(broadcast(probes), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        ham.as("hamming"))
    rankCut(scored, k, col("hamming").asc, col("corpus_id").asc)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): compressed-corpus ANN
  // ------------------------------------------------------------------

  /** Deterministic PQ codebooks: the vector is split into `m` equal
    * subspaces (dim must be divisible by m), and — like
    * [[seedCentroids]] — corpus rows with id ≡ 0 mod seedMod donate
    * their subvectors as codewords (codeword id = donor vector id),
    * so the codebook, the specs, and the SQL oracle agree exactly
    * with no RNG. Output: `(sub, cw, cvec, cc)` with cc = ⟨cvec,cvec⟩
    * precomputed for the distance identity below.
    *
    * Scale: the codebook is m·(n/seedMod) rows of (dim/m)-float
    * vectors — for √n sizing that is ~KBs-to-MBs and ALWAYS
    * broadcast; it is the PQ analogue of the IVF centroid table.
    * seedMod ≤ 0 → the measured √n default (same rule, same eager
    * count() caveat, as [[resolveSeedMod]]): a fixed mod would grow
    * the codebook — and the encode cost n·m·k — linearly with n.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, seedMod: Int): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val sm = resolveSeedMod(corpus, seedMod)
    val subLen = (size(col("__v")) / m).cast("int")
    corpus.filter(col(idCol) % sm === 0)
      .select(col(idCol).cast("long").as("cw"), col(vecCol).as("__v"))
      .select(col("cw"), col("__v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("sub"), col("cw"),
        slice(col("__v"), col("sub") * subLen + 1, subLen).as("cvec"))
      .select(col("sub"), col("cw"), col("cvec"),
        dot(col("cvec"), col("cvec")).as("cc"))
  }

  /** K-MEANS-TRAINED PQ codebooks — the FAISS training step the donor
    * codebooks ([[pqCodebooks]]) approximate: per subspace, k Lloyd
    * centroids over the corpus subvectors ([[KMeans.fitCentroidArrays]]:
    * seeded hash init, exact-decimal distance argmin, 6-decimal
    * rounded means — the discipline that keeps the trained model
    * bit-identical cross-engine). Measured (q159, sf0.01): at the SAME
    * 32 codewords per subspace, the untrained seed codebook scores
    * recall@5 0.28 and two Lloyd rounds lift it to 0.38 (the √n donor
    * codebook sits at 0.24; a 32-donor variant measured 0.16 — more
    * arbitrary donors can even hurt). Training, not codebook size, is
    * the fidelity lever at fixed code bytes.
    *
    * Output matches [[pqCodebooks]]' schema (sub, cw, cvec, cc) with
    * cw = cluster id and cvec the trained DOUBLE centroid, so
    * [[pqEncode]]/[[pqAdcTopK]]/[[ivfPqTopK]] consume it unchanged.
    * Training batches ALL subspaces into one dataflow per Lloyd round
    * ([[KMeans.fitSubspaceCentroidArrays]]): 1 + iters driver
    * round-trips total instead of m·(1 + iters) — bit-identical
    * centroids, an order of magnitude fewer sequential jobs.
    */
  def pqCodebooksKMeans(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && k >= 1 && iters >= 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = KMeans.fitSubspaceCentroidArrays(
      corpus, idCol, vecCol, m, k, iters)
    val rows = for (sub <- 0 until m; j <- 0 until k)
      yield (sub, j.toLong, cents(sub)(j).toSeq)
    rows.toDF("sub", "cw", "cvec")
      .withColumn("cc", dot(col("cvec"), col("cvec")))
  }

  /** PQ-encode the corpus: per (vector, subspace), the codeword whose
    * subvector is L2-nearest (squared distance via the fold-exact
    * identity ‖s−c‖² = ⟨s,s⟩ − 2⟨s,c⟩ + ⟨c,c⟩; ties break to the
    * lowest codeword id). Output: `(idCol, sub, cw, sdist)` — the
    * "long form" of the m-byte-per-vector code, with the per-subspace
    * quantization error alongside (Σ sdist over sub = the vector's
    * reconstruction error).
    *
    * Scale: codebook broadcasts; scoring is scan-local; the arg-min
    * is a map-side-combined max_by per (vector, subspace) — the
    * shuffle carries m rows per vector, never m·k candidate rows
    * (same discipline as [[ivfAssign]]).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, codebooks: DataFrame): DataFrame = {
    val subLen = (size(col("__v")) / m).cast("int")
    corpus
      .select(col(idCol), col(vecCol).as("__v"))
      .select(col(idCol), col("__v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col(idCol), col("sub"),
        slice(col("__v"), col("sub") * subLen + 1, subLen).as("svec"))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col(idCol), col("sub"), col("cw"),
        (dot(col("svec"), col("svec")) - lit(2.0) * dot(col("svec"), col("cvec"))
          + col("cc")).as("sdist"))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(struct(col("cw"), col("sdist")),
        struct(-col("sdist"), -col("cw"))).as("__best"))
      .select(col(idCol), col("sub"),
        col("__best.cw").as("cw"), col("__best.sdist").as("sdist"))
  }

  /** Order-pinned sum of per-subspace doubles: collect (sub, x),
    * sort by sub, left-fold — the summation order is then identical
    * in both engines (a bare SUM() of doubles is
    * accumulation-order-dependent and NOT reproducible).
    */
  def foldBySub(x: Column): Column =
    aggregate(
      transform(array_sort(collect_list(struct(col("sub"), x.as("__x")))),
        s => s.getField("__x")),
      lit(0.0), (acc, v) => acc + v)

  /** Asymmetric-distance (ADC) top-k over the PQ-compressed corpus:
    * queries keep full precision, the corpus is represented ONLY by
    * its codes. Per query, the distance to every codeword of every
    * subspace is tabulated once (the classic nq·m·k ADC lookup
    * table, tiny, broadcast); a corpus vector's distance is then the
    * order-pinned sum of m table lookups — compute per corpus row
    * drops from O(dim) float math to O(m) adds, and the corpus
    * pipeline touches codes only (m small ints per vector ≈ 32×
    * memory compression at dim=64/m=8 int8-able codes).
    *
    * Self-matches (query id = corpus id) are excluded, ranking ties
    * break by corpus id. Output: (query_id, rank, corpus_id, adist).
    */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, codebooks: DataFrame, k: Int): DataFrame = {
    val (cbIdx, ncw) = denseCodebook(codebooks, m)
    val luts = adcLuts(queries, idCol, vecCol, m, cbIdx, ncw)
    val pivoted = pivotCodes(codes, idCol, m, cbIdx)
    // The scoring pass is q27's brute-scan shape — ONE deliberate
    // broadcast nested-loop probe of nq tiny LUTs per corpus row —
    // but each pair costs m array lookups instead of a dim-wide dot.
    // The add chain runs sub-ascending, bit-identical to the previous
    // sorted fold. (The old relational shape — explode codes to n·m
    // rows, equi-join the LUT rows, re-aggregate nq·n groups — cost
    // 344 task-sec at 10×, 8× more than full-precision q27; this one
    // scores the same pairs in ~1/20th of that. [[ivfPqTopK]] is the
    // composition that replaces even this probe with a cell equi-join.)
    val scored = pivoted.join(broadcast(luts),
        col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        adcDistExpr(m, ncw).as("adist"))
    // asc_nulls_last: a corpus row missing a code for any sub scores a
    // NULL adist; Spark's default asc puts NULLS FIRST, which would let
    // malformed/partial code rows claim ranks 1..k. Last keeps them out
    // of any top-k smaller than the corpus.
    rankCut(scored, k, col("adist").asc_nulls_last, col("corpus_id").asc)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("adist"))
  }

  /** Dense per-sub codeword index 0..ncw-1 (cw ids are sparse donor
    * ids) — a window over the codebook TABLE, which is broadcast-sized
    * by contract — plus the validated per-sub codeword count.
    *
    * The flattened ADC LUT addresses position sub*ncw + cwi, which is
    * only valid when EVERY subspace has exactly ncw codewords — so a
    * malformed codebook (missing subs, ragged counts, or empty) must
    * fail loudly here rather than silently misalign every lookup past
    * the first gap. The count is a bounded driver read over the model
    * table, like the rank-select dictionaries.
    */
  private def denseCodebook(codebooks: DataFrame, m: Int): (DataFrame, Int) = {
    val cbIdx = codebooks.select(col("sub"), col("cw"), col("cvec"), col("cc"),
      (row_number().over(Window.partitionBy(col("sub"))
        .orderBy(col("cw"))) - 1).as("cwi"))
    val cbStats = cbIdx.groupBy(col("sub")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("mn"), max(col("n")).as("mx"),
        count(lit(1)).as("nsubs")).head()
    require(cbStats.getLong(2) == m.toLong,
      s"codebook has ${cbStats.getLong(2)} subspaces, expected $m")
    require(cbStats.getLong(0) == cbStats.getLong(1),
      s"ragged codebook: per-sub codeword counts range " +
        s"${cbStats.getLong(0)}..${cbStats.getLong(1)}")
    (cbIdx, cbStats.getLong(1).toInt)
  }

  /** Per-query ADC lookup table, flattened to ONE array ordered
    * (sub, cwi): lut[sub*ncw + cwi] = ||q_sub||² − 2⟨q_sub, cw⟩ + ||cw||².
    * Output: (query_id, lut) — nq rows of m·ncw doubles, broadcast-sized.
    */
  private def adcLuts(queries: DataFrame, idCol: String, vecCol: String,
      m: Int, cbIdx: DataFrame, ncw: Int): DataFrame = {
    val subLen = (size(col("__v")) / m).cast("int")
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .select(col("query_id"), col("__v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("query_id"), col("sub"),
        slice(col("__v"), col("sub") * subLen + 1, subLen).as("qvec"))
      .join(cbIdx, Seq("sub"))
      .select(col("query_id"), (col("sub") * ncw + col("cwi")).as("pos"),
        (dot(col("qvec"), col("qvec")) - lit(2.0) * dot(col("qvec"), col("cvec"))
          + col("cc")).as("qd"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("qd")))),
        s => s.getField("qd")).as("lut"))
  }

  /** Corpus codes pivoted to m dense-index COLUMNS (one narrow
    * n·m → n aggregation), so ADC scoring needs no per-pair row
    * explosion at all. Output: (corpus_id, c0..c{m-1}).
    */
  private def pivotCodes(codes: DataFrame, idCol: String, m: Int,
      cbIdx: DataFrame): DataFrame =
    codes
      .join(broadcast(cbIdx.select(col("sub"), col("cw"), col("cwi"))),
        Seq("sub", "cw"))
      .groupBy(col(idCol))
      .agg(
        max(when(col("sub") === 0, col("cwi"))).as("c0"),
        (1 until m).map(i =>
          max(when(col("sub") === i, col("cwi"))).as(s"c$i")): _*)
      .select(Seq(col(idCol).as("corpus_id")) ++
        (0 until m).map(i => col(s"c$i")): _*)

  /** Sub-ascending add chain of m LUT lookups — the fixed evaluation
    * order makes the double sum bit-identical to the oracle's
    * `list_reduce(list(qd ORDER BY sub))` fold.
    */
  private def adcDistExpr(m: Int, ncw: Int): Column =
    (0 until m).map(i =>
      element_at(col("lut"), col(s"c$i") + lit(i * ncw + 1)))
      .reduceLeft(_ + _)

  /** IVF-PQ top-k — the production 100 TB vector-search composition:
    * IVF cell pruning picks each query's top-`nprobe` cells, and ADC
    * scores ONLY the codes assigned to those cells. Compared to
    * [[pqAdcTopK]] (which probes every corpus code per query), the
    * deliberate broadcast nested-loop probe disappears entirely: the
    * scoring join is a broadcast HASH join on cell id, so per-query
    * candidate work drops from |corpus| to |corpus|·nprobe/nlist —
    * and each candidate still costs m array lookups, not a dim-wide
    * dot product. Recall loss vs pqAdcTopK is the IVF pruning loss
    * alone (measured in SimilaritySpec); nprobe ≥ nlist recovers
    * pqAdcTopK's answer exactly.
    *
    * Inputs are the stored-model shapes (all pure functions of the
    * corpus — see q112's stored dedup index for the persistence
    * pattern): `codes` = [[pqEncode]] output, `cellAssignments` =
    * (idCol, cell) from [[ivfAssign]], `centroids` =
    * [[seedCentroids]]/[[refineCentroids]] output, `codebooks` =
    * [[pqCodebooks]] output. Self-matches excluded; ties break by
    * corpus id; rows with missing codes rank last (asc_nulls_last).
    * Output: (query_id, cell, rank, corpus_id, adist).
    */
  def ivfPqTopK(codes: DataFrame, cellAssignments: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, codebooks: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val (cbIdx, ncw) = denseCodebook(codebooks, m)
    val probes = ivfProbe(queries, idCol, vecCol, centroids, nprobe)
      .select(col("query_id"), col("cell"))
    // Fuse each query's flattened LUT onto its nprobe probe rows —
    // (nq·nprobe) rows of m·ncw doubles, still broadcast-sized (the
    // LUT table is the same size class as the centroid table).
    val probeLuts = probes.join(
      adcLuts(queries, idCol, vecCol, m, cbIdx, ncw), Seq("query_id"))
    // Candidate generation + scoring in ONE broadcast hash join: the
    // corpus-side pivoted codes carry their cell id, and only rows in
    // a probed cell are scored. The corpus never shuffles (codes
    // pivot is a keyed agg; the cell column rides along from the
    // assignment join).
    val pivoted = pivotCodes(codes, idCol, m, cbIdx)
      .join(cellAssignments.select(col(idCol).as("corpus_id"), col("cell")),
        Seq("corpus_id"))
    val scored = pivoted.join(broadcast(probeLuts), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        adcDistExpr(m, ncw).as("adist"))
    rankCut(scored, k, col("adist").asc_nulls_last, col("corpus_id").asc)
      .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
        col("adist"))
  }

  /** Metadata-filtered IVF-PQ top-k — [[ivfPqTopK]] composed with
    * [[topKFiltered]]'s predicate: candidates must share the query's
    * `filterCol` value (tenant/language-scoped compressed search, the
    * full production vector-DB shape). The filter value is stored
    * WITH the cell assignment — the covering-index pattern, so the
    * predicate becomes part of the scoring join's HASH KEY
    * (cell, filter): non-matching rows are never scored, never even
    * probed, and the corpus still never shuffles. `cellAssignments`
    * must carry (idCol, cell, filterCol); `queries` carry their own
    * filterCol. Output as [[ivfPqTopK]].
    */
  def ivfPqTopKFiltered(codes: DataFrame, cellAssignments: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, filterCol: String, m: Int, codebooks: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val (cbIdx, ncw) = denseCodebook(codebooks, m)
    val probes = ivfProbe(queries, idCol, vecCol, centroids, nprobe,
        keep = Seq(filterCol))
      .select(col("query_id"), col(filterCol).as("__f"), col("cell"))
    val probeLuts = probes.join(
      adcLuts(queries, idCol, vecCol, m, cbIdx, ncw), Seq("query_id"))
    val pivoted = pivotCodes(codes, idCol, m, cbIdx)
      .join(cellAssignments.select(col(idCol).as("corpus_id"), col("cell"),
        col(filterCol).as("__f")), Seq("corpus_id"))
    val scored = pivoted.join(broadcast(probeLuts), Seq("cell", "__f"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        adcDistExpr(m, ncw).as("adist"))
    rankCut(scored, k, col("adist").asc_nulls_last, col("corpus_id").asc)
      .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
        col("adist"))
  }

  /** Per-vector IVF residual r = x − centroid(cell): the input to
    * RESIDUAL product quantization (the FAISS IVF-PQ standard — PQ
    * codes spend their bits on the within-cell remainder instead of
    * re-encoding the coarse structure the cell id already carries;
    * measured in q149's ladder: recall@5 0.24 → 0.36 at the same m on
    * the sf0.01 corpus). `assigned` is [[ivfAssign]] output (it
    * already carries the vector, so no corpus re-join): the residual
    * is a narrow map over the scan plus one broadcast centroid join.
    * Elements subtract in DOUBLE (float−float is exact in double;
    * re-rounding to float would diverge from any double-side oracle).
    * Output: (idCol, cell, rvec). Reconstruction for QA marts is
    * centroid + decode(code).
    */
  def ivfResiduals(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assigned.select(col(idCol), col(vecCol), col("cell"))
      .join(broadcast(centroids.select(col("cell"), col("cvec").as("__c"))),
        Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("__c"),
          (a, b) => a.cast("double") - b.cast("double")).as("rvec"))

  /** IVF-PQ top-k over RESIDUAL codes — [[ivfPqTopK]] with the lookup
    * tables built from each probed cell's query residual q − c_cell
    * (codes from [[pqEncode]] over [[ivfResiduals]]). The LUT is
    * per-(query, probed cell) instead of per-query — nq·nprobe rows of
    * m·ncw doubles, still broadcast-sized — and the scoring join stays
    * the broadcast HASH join on cell id: candidates meet exactly the
    * LUT of their own cell, so with nprobe = nlist the result IS the
    * exhaustive residual-ADC ranking (spec-pinned). Same exclusions,
    * tie-breaks, and output as [[ivfPqTopK]].
    */
  def ivfPqResidualTopK(codes: DataFrame, cellAssignments: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, codebooks: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val (cbIdx, ncw) = denseCodebook(codebooks, m)
    // per probed cell, the query RESIDUAL against that cell's centroid
    val probes = ivfProbe(queries, idCol, vecCol, centroids, nprobe)
      .select(col("query_id"), col("cell"),
        zip_with(col("qvec"), col("cvec"),
          (a, b) => a.cast("double") - b.cast("double")).as("qrvec"))
    val subLen = (size(col("qrvec")) / m).cast("int")
    val probeLuts = probes
      .select(col("query_id"), col("cell"), col("qrvec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("query_id"), col("cell"), col("sub"),
        slice(col("qrvec"), col("sub") * subLen + 1, subLen).as("qsub"))
      .join(cbIdx, Seq("sub"))
      .select(col("query_id"), col("cell"),
        (col("sub") * ncw + col("cwi")).as("pos"),
        (dot(col("qsub"), col("qsub")) - lit(2.0) * dot(col("qsub"), col("cvec"))
          + col("cc")).as("qd"))
      .groupBy(col("query_id"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("qd")))),
        s => s.getField("qd")).as("lut"))
    val pivoted = pivotCodes(codes, idCol, m, cbIdx)
      .join(cellAssignments.select(col(idCol).as("corpus_id"), col("cell")),
        Seq("corpus_id"))
    val scored = pivoted.join(broadcast(probeLuts), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        adcDistExpr(m, ncw).as("adist"))
    rankCut(scored, k, col("adist").asc_nulls_last, col("corpus_id").asc)
      .select(col("query_id"), col("cell"), col("rank"), col("corpus_id"),
        col("adist"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the top-k most-similar corpus vectors whose LABEL differs —
    * the near-boundary negatives that make a contrastive batch
    * informative (a random negative is usually trivially far). Same
    * broadcast-queries scan shape as [[topK]] with the label
    * inequality folded into the join predicate, so excluded positives
    * never leave the scan. Output adds the negative's label.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(labelCol).as("neg_label"), col(vecCol).as("cvec"),
      sqrt(norm2(col(vecCol))).as("cnorm"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"), col(vecCol).as("qvec"),
      sqrt(norm2(col(vecCol))).as("qnorm"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("corpus_id") &&
          col("q_label") =!= col("neg_label"))
      .select(col("query_id"), col("corpus_id"), col("neg_label"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
          .as("cosine"))
    rankCut(scored, k, col("cosine").desc, col("corpus_id").asc)
  }

  /** Scala twin of [[planeComponent]] — identical integer arithmetic
    * and the identical single division, so a plane value computed on
    * the driver (to embed as a literal) is the same double the Column
    * formula and the SQL oracle produce.
    */
  def planeComponentValue(j: Int, i: Int): Double =
    (((j + 1).toLong * 2654435761L + i.toLong * 40503L) % 1000003L)
      .toDouble / 1000003.0 - 0.5

  /** Johnson-Lindenstrauss random projection: dimensionality reduction
    * to `outDims` via the same deterministic integer-hash hyperplanes
    * as the LSH family (no RNG — plans, tests, and the SQL oracle
    * agree exactly). Each output dim is a native sequential-fold dot
    * product (graft_dot) against a driver-built literal plane array —
    * a pure NARROW map: one scan, zero shuffles, `outDims·inDims`
    * multiply-adds per row. This is the ANN preprocessing step: at
    * 100 TB project once (64→16 halves every downstream distance
    * computation 4×), then run IVF/LSH/PQ in the reduced space.
    * Output: (id, p0..p{outDims-1}) — raw doubles, caller rounds.
    */
  def randomProjection(vecs: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int): DataFrame = {
    require(inDims >= 1 && outDims >= 1)
    val cols = (0 until outDims).map { j =>
      val plane = array((0 until inDims).map(i =>
        lit(planeComponentValue(j, i))): _*)
      dot(col(vecCol), plane).as(s"p$j")
    }
    vecs.select(col(idCol) +: cols: _*)
  }
}
