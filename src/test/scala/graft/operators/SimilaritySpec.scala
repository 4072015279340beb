package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(2.0f, 0.0f, 0.0f)),   // same direction as 1
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
    (4L, Array(1.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosinePairs: colinear = 1, orthogonal filtered out") {
    val pairs = Similarity.cosinePairs(vecs, "vec_id", "embedding", tau = 0.9)
      .collect().map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"),
        r.getAs[Double]("cosine")))
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c === 1.0 })
    assert(!pairs.exists { case (a, b, _) => (a, b) == (1L, 3L) })
  }

  test("topK ranks by cosine with id tie-break") {
    val top = Similarity.topK(vecs, vecs.filter(col("vec_id") === 1L),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("corpus_id")).toSeq === Seq(2L, 4L))
    assert(top(0).getAs[Double]("cosine") === 1.0)
  }

  test("lshBucket: colinear vectors land in the same bucket") {
    val buckets = vecs.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("b")).toMap
    assert(buckets(1L) === buckets(2L)) // scaling never flips a sign bit
    assert(buckets.values.forall(b => b >= 0 && b < 256))
  }

  test("ivfAssign sends every vector to its max-cosine centroid") {
    val seeds = Similarity.seedCentroids(vecs, "vec_id", "embedding", 1)
      .filter(col("cell").isin(1L, 3L)) // centroids: x-axis and y-axis
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", seeds)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(assigned(1L) === 1L && assigned(2L) === 1L) // colinear with cell 1
    assert(assigned(3L) === 3L)
    assert(assigned(4L) === 1L) // equidistant: lowest cell id wins
    assert(assigned.size === vecs.count())
  }

  test("ivfProbe ranks cells with ivfAssign's tie-break") {
    val seeds = Similarity.seedCentroids(vecs, "vec_id", "embedding", 1)
      .filter(col("cell").isin(1L, 3L))
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", seeds)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    def probe(nprobe: Int) =
      Similarity.ivfProbe(vecs, "vec_id", "embedding", seeds, nprobe)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Int]("cell_rank"), r.getAs[Long]("cell")))
    val top1 = probe(1)
    assert(top1.map(_._2).toSet === Set(1))
    assert(top1.map(r => r._1 -> r._3).toMap === assigned) // vector 4 too
    val top2 = probe(2).filter(_._1 == 4L).sortBy(_._2)
    assert(top2.toSeq === Seq((4L, 1, 1L), (4L, 2, 3L))) // tie: lower cell first
  }

  test("refineCentroids converges to member means") {
    val seeds = Similarity.seedCentroids(vecs, "vec_id", "embedding", 1)
      .filter(col("cell").isin(1L, 3L))
    val refined = Similarity.refineCentroids(vecs, "vec_id", "embedding",
        seeds, iters = 1)
      .collect().map(r => r.getAs[Long]("cell") ->
        r.getAs[scala.collection.Seq[Float]]("cvec")).toMap
    // cell 1 members: vecs 1,2,4 -> mean ((1+2+1)/3, (0+0+1)/3, 0)
    assert(math.abs(refined(1L)(0) - 4.0f / 3) < 1e-6f)
    assert(math.abs(refined(1L)(1) - 1.0f / 3) < 1e-6f)
    // cell 3 members: vec 3 alone -> unchanged
    assert(refined(3L).toSeq === Seq(0.0f, 1.0f, 0.0f))
  }

  test("ivfTopK with every vector a centroid equals brute-force topK") {
    val queries = vecs.filter(col("vec_id") === 1L)
    // seedMod=1 => nlist = n, nprobe = n: candidate set is the corpus
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
        seedMod = 1, nprobe = 4, k = 3)
      .select("query_id", "rank", "corpus_id").orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val brute = Similarity.topK(vecs, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "corpus_id").orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf === brute)
  }

  test("nswTopK with a full graph and wide beam equals ivfTopK on the same cells") {
    // degree ≥ cell−1 makes every cell a clique, so one hop from the
    // entry scores the whole probed cell — the walk degenerates to
    // IVF's candidate set and the ranks must agree exactly. A bigger
    // corpus than `vecs` so cells have >2 members.
    val big = (1L to 40L).map(i => (i,
        Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") % 10 === 0)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id", "cosine")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val nsw = shape(Similarity.nswTopK(big, queries, "vec_id", "embedding",
      seedMod = 13, nprobe = 2, degree = 40, beam = 40, hops = 1, k = 3))
    val ivf = shape(Similarity.ivfTopK(big, queries, "vec_id", "embedding",
      seedMod = 13, nprobe = 2, k = 3))
    assert(nsw === ivf)
    // bounded walk: results are deterministic under repartitioning
    val nswRep = shape(Similarity.nswTopK(big.repartition(7), queries,
      "vec_id", "embedding", 13, 2, 3, 4, 2, 3))
    val nswBase = shape(Similarity.nswTopK(big, queries,
      "vec_id", "embedding", 13, 2, 3, 4, 2, 3))
    assert(nswRep === nswBase)
    // the bounded walk scores FEWER candidates than the full clique
    // walk yet still returns k ranked rows per query
    assert(nswBase.map(_._1).distinct.size === queries.count())
  }

  test("nswScored is the dedup'd self-free cost frame nswTopK ranks over") {
    val big = (1L to 40L).map(i => (i,
        Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") % 10 === 0)
    val scored = Similarity.nswScored(big, queries, "vec_id", "embedding",
        seedMod = 13, nprobe = 2, degree = 3, beam = 4, hops = 2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"))).toSeq
    // no self matches and no duplicate rows — |scored| is a cost COUNT
    assert(scored.forall { case (q, _, c, _) => q != c })
    assert(scored.distinct.size === scored.size)
    // nswTopK's result set is exactly contained in the scored frame
    val top = Similarity.nswTopK(big, queries, "vec_id", "embedding",
        13, 2, 3, 4, 2, 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .toSet
    assert(top.subsetOf(scored.map(t => (t._1, t._3)).toSet))
  }

  test("hnswTopK with a full graph equals ivfTopK; deterministic under repartition") {
    val big = (1L to 40L).map(i => (i,
        Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") % 10 === 0)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id", "cosine")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // degree ≥ cell−1 ⇒ every layer-0 cell is a clique: one hop from
    // ANY entry scores the whole probed cell, so the hierarchy can't
    // change the answer — it must equal IVF's candidate set exactly
    val h = shape(Similarity.hnswTopK(big, queries, "vec_id", "embedding",
      seedMod = 13, nprobe = 2, degree = 40, beam = 40, hops = 1,
      upperHops = 2, k = 3))
    val ivf = shape(Similarity.ivfTopK(big, queries, "vec_id", "embedding",
      seedMod = 13, nprobe = 2, k = 3))
    assert(h === ivf)
    // bounded hierarchy walk: deterministic under repartitioning
    val a = shape(Similarity.hnswTopK(big.repartition(7), queries,
      "vec_id", "embedding", 13, 2, 3, 4, 2, 2, 3))
    val b = shape(Similarity.hnswTopK(big, queries,
      "vec_id", "embedding", 13, 2, 3, 4, 2, 2, 3))
    assert(a === b)
    assert(b.map(_._1).distinct.size === queries.count())
  }

  test("multi-layer hnsw: clique layers equal IVF; levels are deterministic and nested-safe") {
    val big = (1L to 40L).map(i => (i,
        Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") % 10 === 0)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id", "cosine")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // clique level-0 graph: no matter how many upper layers steer the
    // entry, one wide hop scores the whole probed cell — every level
    // count must give exactly IVF's answer
    val ivf = shape(Similarity.ivfTopK(big, queries, "vec_id", "embedding",
      seedMod = 13, nprobe = 2, k = 3))
    for (lv <- 1 to 3)
      assert(shape(Similarity.hnswTopK(big, queries, "vec_id", "embedding",
        seedMod = 13, nprobe = 2, degree = 40, beam = 40, hops = 1,
        upperHops = 2, k = 3, levels = lv)) === ivf,
        s"levels=$lv clique walk diverged from IVF")
    // bounded multi-layer walk: deterministic under repartitioning
    val a = shape(Similarity.hnswTopK(big.repartition(7), queries,
      "vec_id", "embedding", 13, 2, 3, 2, 2, 2, 3, levels = 2))
    val b = shape(Similarity.hnswTopK(big, queries,
      "vec_id", "embedding", 13, 2, 3, 2, 2, 2, 3, levels = 2))
    assert(a === b)
    assert(b.map(_._1).distinct.size === queries.count())
    // layer-3 promoted set (id % 8 = 0) is sparse here (5 nodes): the
    // walk must still answer every query via the per-layer fallbacks
    val c = shape(Similarity.hnswTopK(big, queries,
      "vec_id", "embedding", 13, 2, 3, 2, 2, 1, 3, levels = 3))
    assert(c.map(_._1).distinct.size === queries.count(),
      "sparse upper layers dropped queries — fallback entry broke")
  }

  test("mpLshScored grows monotonically with nProbe; probe 1 ≡ lshTopK") {
    val big = (1L to 60L).map(i => (i,
        Array((i % 7).toFloat + 1f, (i % 5).toFloat - 2f, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") % 10 === 0)
    def scoredSet(np: Int) =
      Similarity.mpLshScored(big, queries, "vec_id", "embedding", 8, np)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
        .toSet
    val s1 = scoredSet(1); val s2 = scoredSet(2); val s4 = scoredSet(4)
    assert(s1.subsetOf(s2) && s2.subsetOf(s4),
      "probe sets must nest as nProbe grows")
    // nProbe = 1 is plain LSH: same top-k as lshTopK
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(shape(Similarity.mpLshTopK(big, queries, "vec_id", "embedding",
        8, 1, 3)) ===
      shape(Similarity.lshTopK(big, queries, "vec_id", "embedding", 8, 3)))
    // full probing (nBits+1 buckets at Hamming ≤ 1) never returns
    // duplicate candidates
    val all = Similarity.mpLshScored(big, queries, "vec_id", "embedding",
        8, 9)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
    assert(all.distinct.length === all.length)
    // the curve-sharing contract: the indexed frame at max nProbe,
    // filtered to probe_idx < np, is ROW-FOR-ROW (incl. cosine and
    // bucket) the scored frame at np
    def full(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "bucket", "corpus_id", "cosine")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val idx = Similarity.mpLshScoredIdx(big, queries, "vec_id",
      "embedding", 8, 4)
    for (np <- Seq(1, 2, 4))
      assert(full(idx.filter(col("probe_idx") < np)) ===
        full(Similarity.mpLshScored(big, queries, "vec_id", "embedding",
          8, np)), s"probe_idx prefix filter != direct frame at np=$np")
  }

  test("semanticDedup drops within-cell near-dups of lower-id vectors") {
    // seedMod=5 ⇒ centroids are ids 0 and 5 (x-axis, y-axis)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // centroid A — survives
      (1L, Array(2.0f, 0.0f, 0.0f)),   // cell 0, cos=1 with 0 — dropped
      (2L, Array(1.0f, 0.05f, 0.0f)),  // cell 0, cos≈0.999 with 0 — dropped
      (5L, Array(0.0f, 1.0f, 0.0f)),   // centroid B — survives
      (6L, Array(0.0f, 1.0f, 0.2f)),   // cell 5, cos≈0.98 with 5 — dropped
      (7L, Array(0.0f, -1.0f, 0.5f))   // lands in cell 0, orthogonal — survives
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        seedMod = 5, tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell"))
      .toMap
    assert(out.keySet === Set(0L, 5L, 7L))
    assert(out(0L) === 0L && out(5L) === 5L && out(7L) === 0L)
  }

  test("sqrtSeedMod sizes nlist ≈ √n and drives a working IVF index") {
    assert(Similarity.sqrtSeedMod(0L) === 1)
    assert(Similarity.sqrtSeedMod(100L) === 10)
    assert(Similarity.sqrtSeedMod(20000L) === 141)
    // used as the sizing rule: ivfTopK with √n seeding still returns
    // k well-formed neighbors per query on a real corpus
    val corpus = (0L until 144L).map { i =>
      (i, Array.tabulate(4)(d =>
        (((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat))
    }.toDF("vec_id", "embedding")
    val seedMod = Similarity.sqrtSeedMod(144L) // 12 → nlist = 12 = √144
    val out = Similarity.ivfTopK(corpus,
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
        seedMod, nprobe = 3, k = 4)
      .collect()
    assert(out.length === 4)
    assert(out.map(_.getAs[Long]("corpus_id")).distinct.length === 4)
  }

  test("semanticDedup nprobe: recall vs exact pairs is measured and monotone") {
    // the real test corpus: recall = fraction of EXACT near-dup pairs
    // (cosinePairs, the q26 ground truth) whose higher id gets dropped.
    // nprobe=1 misses pairs straddling a cell boundary; nprobe=2 probes
    // each vector's top-2 cells for pair generation and must recover a
    // superset of the nprobe=1 drops.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tau = 0.4
    val exactPairs = Similarity.cosinePairs(emb, "vec_id", "embedding", tau)
      .select(col("v1").cast("long"), col("v2").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "test corpus must contain near-dup pairs")
    val allIds = emb.select(col("vec_id").cast("long")).as[Long].collect().toSet
    def recall(nprobe: Int): (Double, Set[Long]) = {
      val survivors = Similarity.semanticDedup(
          emb, "vec_id", "embedding", seedMod = 0, tau, nprobe)
        .select(col("vec_id").cast("long")).as[Long].collect().toSet
      val dropped = allIds -- survivors
      val covered = exactPairs.count { case (_, hi) => dropped(hi) }
      (covered.toDouble / exactPairs.size, dropped)
    }
    val (r1, dropped1) = recall(1)
    val (r2, dropped2) = recall(2)
    info(f"semanticDedup recall vs ${exactPairs.size} exact pairs: " +
      f"nprobe=1 → $r1%.3f, nprobe=2 → $r2%.3f")
    assert(dropped1.subsetOf(dropped2),
      "nprobe=2 must drop a superset of nprobe=1's drops")
    assert(r2 >= r1, "multi-probe recall must be monotone")
    assert(r1 > 0.0, "nprobe=1 must already catch same-cell pairs")
  }

  test("semanticDedup is deterministic under repartitioning") {
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d =>
        (((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat / 1000003f))
    }.toDF("vec_id", "embedding")
    def survivors(df: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDedup(df, "vec_id", "embedding", 20, 0.995)
        .select("vec_id").as[Long].collect().toSet
    val a = survivors(corpus)
    val b = survivors(corpus.repartition(13))
    assert(a === b)
    assert(a.nonEmpty && a.size < 200) // non-trivial: some drops happened
  }

  test("PQ: exact-cover codes, zero self-error for codewords, ADC recall") {
    val dim = 16; val m = 4
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat / 1000003f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m, seedMod = 20)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", m, cb)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Long]("cw"), r.getAs[Double]("sdist")))

    // every vector gets exactly one codeword per subspace
    assert(enc.length === 200 * m)
    enc.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (0 until m))
    }
    // a codebook donor quantizes to ITSELF with zero error in every
    // subspace (its own subvector is at distance 0; ties break low-id
    // but distance 0 beats everything)
    enc.filter(_._1 % 20 == 0).foreach { case (id, _, cw, sdist) =>
      assert(cw === id, s"donor $id must pick its own codeword")
      assert(math.abs(sdist) < 1e-12)
    }
    // quantization error is nonnegative everywhere
    assert(enc.forall(_._4 >= -1e-12))

    // ADC top-k over codes approximates exact top-k: for each query,
    // the true nearest-by-cosine ids and the PQ ids overlap (recall
    // measured, not assumed; the quantizer has √200 ≈ 10 codewords
    // per subspace so this is a coarse code)
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val pq = Similarity.pqAdcTopK(
        Similarity.pqEncode(corpus, "vec_id", "embedding", m, cb),
        queries, "vec_id", "embedding", m, cb, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = Similarity.topK(corpus, queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      (pq.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size }
    info(f"PQ ADC top-10 recall vs exact: mean ${recalls.sum / recalls.size}%.2f")
    assert(recalls.sum / recalls.size > 0.2,
      s"ADC recall collapsed: $recalls")

    // determinism under repartitioning (same codes, same errors)
    val enc2 = Similarity.pqEncode(corpus.repartition(7), "vec_id",
        "embedding", m, cb)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Long]("cw"), r.getAs[Double]("sdist")))
    assert(enc2.sortBy(x => (x._1, x._2)).toSeq ===
      enc.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("ivfPqTopK: nprobe = nlist equals pqAdcTopK; pruning recall measured") {
    val dim = 16; val m = 4
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat / 1000003f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m, seedMod = 20)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", m, cb)
    val seeds = Similarity.seedCentroids(corpus, "vec_id", "embedding", 20)
    val cells = Similarity.ivfAssign(corpus, "vec_id", "embedding", seeds)
      .select(col("vec_id"), col("cell"))
    val queries = corpus.filter(col("vec_id") % 40 === 0)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id", "adist").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("corpus_id"), r.getAs[Double]("adist")))
        .sortBy(t => (t._1, t._2)).toSeq

    // nlist = 10 seeds; probing all 10 cells makes every corpus row a
    // candidate, so the composition must reproduce full ADC bit-exactly
    // (same fold order, same tie-breaks) — the pruning is the ONLY
    // approximation ivfPqTopK adds on top of pqAdcTopK.
    val full = rows(Similarity.ivfPqTopK(enc, cells, seeds, queries,
      "vec_id", "embedding", m, cb, nprobe = 10, k = 10))
    val adc = rows(Similarity.pqAdcTopK(enc, queries,
      "vec_id", "embedding", m, cb, k = 10))
    assert(full === adc)

    // nprobe = 2: candidates shrink to the probed cells; recall vs full
    // ADC is measured, not assumed
    val pruned = Similarity.ivfPqTopK(enc, cells, seeds, queries,
        "vec_id", "embedding", m, cb, nprobe = 2, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Long]("cell")))
    // every scored candidate sits in a cell the query probed
    val probedCells = pruned.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    assert(probedCells.forall(_._2.size <= 2),
      "nprobe=2 must confine candidates to at most 2 cells per query")
    val prunedSets = pruned.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val adcSets = adc.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val recalls = adcSets.map { case (q, ids) =>
      (prunedSets.getOrElse(q, Set.empty[Long]) & ids).size.toDouble / ids.size }
    info(f"IVF-PQ nprobe=2 top-10 recall vs full ADC: mean ${recalls.sum / recalls.size}%.2f")
    assert(recalls.sum / recalls.size > 0.2, s"IVF pruning recall collapsed: $recalls")

    // a ragged codebook (one codeword removed from one subspace) must
    // fail loudly, not misalign the flattened LUT
    val ragged = cb.filter(!(col("sub") === 0 && col("cw") === 0))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(enc, cells, seeds, queries,
        "vec_id", "embedding", m, ragged, nprobe = 2, k = 10)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("ivfPqTopKFiltered: uniform label ≡ unfiltered; mixed labels never leak") {
    val dim = 16; val m = 4
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (((i + 1) * 2654435761L + d * 40503L) % 1003L).toFloat / 1003f),
        (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m, seedMod = 20)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", m, cb)
    val seeds = Similarity.seedCentroids(corpus, "vec_id", "embedding", 20)
    val cellsPlain = Similarity.ivfAssign(corpus, "vec_id", "embedding", seeds)
      .select(col("vec_id"), col("cell"))
    val cells = cellsPlain
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id", "adist").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("corpus_id"), r.getAs[Double]("adist")))
        .sortBy(t => (t._1, t._2)).toSeq

    // a constant label filters nothing: must equal ivfPqTopK bit-exact
    val uniform = cellsPlain.withColumn("label", lit(7))
    val qUniform = queries.withColumn("label", lit(7))
    assert(rows(Similarity.ivfPqTopKFiltered(enc, uniform, seeds, qUniform,
        "vec_id", "embedding", "label", m, cb, nprobe = 10, k = 10)) ===
      rows(Similarity.ivfPqTopK(enc, cellsPlain, seeds, queries,
        "vec_id", "embedding", m, cb, nprobe = 10, k = 10)))

    // with real labels, no cross-label candidate ever surfaces — and
    // the result equals the unfiltered run post-filtered + re-ranked
    val filtered = Similarity.ivfPqTopKFiltered(enc, cells, seeds, queries,
        "vec_id", "embedding", "label", m, cb, nprobe = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("adist")))
    val labelOf = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(filtered.forall { case (q, c, _, _) => labelOf(q) == labelOf(c) },
      "cross-label leak")
    val unfLists = Similarity.ivfPqTopK(enc, cellsPlain, seeds, queries,
        "vec_id", "embedding", m, cb, nprobe = 10, k = 200)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("adist")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)
        .filter(t => labelOf(t._3) == labelOf(t._1)).take(5)
        .zipWithIndex.map { case ((_, _, c, d), i) => (c, i + 1, d) }.toSeq)
      .toMap
    val gotLists = filtered.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map { case (_, c, r, d) => (c, r, d) }.toSeq)
      .toMap
    assert(gotLists === unfLists)
  }

  test("lshTopK restricts candidates to the query's bucket") {
    val out = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 1L),
      "vec_id", "embedding", nBits = 8, k = 3).collect()
    // every returned candidate shares the query's bucket
    val qb = vecs.select(Similarity.lshBucket(col("embedding"), 8))
      .where(col("vec_id") === 1L)
    out.foreach { r =>
      assert(r.getAs[Long]("query_id") === 1L)
      assert(r.getAs[Double]("cosine") <= 1.0 + 1e-9)
    }
  }

  test("hardNegatives: only other-label vectors, ranked like topK filtered") {
    import spark.implicits._
    val vecs = (1 to 30).map { i =>
      (i.toLong, i % 3, Array.tabulate(8)(d => (i * 7 % 13 + d).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val queries = vecs.filter(col("vec_id") <= 3)
    val hn = Similarity.hardNegatives(vecs, queries, "vec_id", "embedding",
      "label", k = 4).collect()
    val labels = (1 to 30).map(i => i.toLong -> i % 3).toMap
    hn.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) !=
        r.getAs[Int]("neg_label"), "positive leaked into negatives")
    }
    // equivalent to brute topK post-filtered on label (k large enough)
    val tk = Similarity.topK(vecs, queries, "vec_id", "embedding", k = 30)
      .collect()
      .filter(r => labels(r.getAs[Long]("query_id")) !=
        labels(r.getAs[Long]("corpus_id")))
      .groupBy(_.getAs[Long]("query_id"))
      .flatMap { case (_, rs) =>
        rs.sortBy(_.getAs[Int]("rank")).take(4).toSeq }
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .toSet
    val got = hn.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(got === tk)
  }

  test("randomProjection: basis vectors read off the plane components") {
    import spark.implicits._
    // e_i projects to exactly (plane_0(i), ..., plane_k(i))
    val dims = 8
    val basis = (0 until dims).map { i =>
      (i.toLong, Array.tabulate(dims)(d => if (d == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(basis, "vec_id", "embedding",
      dims, 4).orderBy("vec_id").collect()
    for (r <- out; j <- 0 until 4) {
      val i = r.getAs[Long]("vec_id").toInt
      assert(r.getAs[Double](s"p$j") === Similarity.planeComponentValue(j, i),
        s"e_$i plane $j")
    }
  }

  test("topKFiltered restricts neighbours to the query's label slice") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.9f, 0.1f), "a"),
      (3L, Array(1.0f, 0.0f), "b"), // identical direction, wrong label
      (4L, Array(0.0f, 1.0f), "a")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.topKFiltered(vecs, vecs.filter($"vec_id" === 1L),
        "vec_id", "embedding", "label", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("corpus_id")).toSeq === Seq(2L, 4L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2))
  }

  test("randomProjection preserves blob separation and is deterministic") {
    import spark.implicits._
    val vecs = (1 to 40).map { i =>
      val base = if (i % 2 == 0) 5.0f else -5.0f
      (i.toLong, Array.tabulate(16)(d => base + (i % 3) * 0.1f + d * 0.01f))
    }.toDF("vec_id", "embedding")
    val a = Similarity.randomProjection(vecs, "vec_id", "embedding", 16, 4)
      .orderBy("vec_id").collect()
    val b = Similarity.randomProjection(vecs.repartition(7), "vec_id",
      "embedding", 16, 4).orderBy("vec_id").collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // the two blobs stay linearly separated in at least one output dim
    val even = a.filter(_.getAs[Long]("vec_id") % 2 == 0)
      .map(_.getAs[Double]("p0"))
    val odd = a.filter(_.getAs[Long]("vec_id") % 2 == 1)
      .map(_.getAs[Double]("p0"))
    assert(even.min > odd.max || odd.min > even.max,
      "projection collapsed the well-separated blobs")
  }

  test("sqEncode: ±maxabs → ±127 exactly, all-zero dims → 0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(2.0f, -0.5f, 0.0f)),
      (2L, Array(-2.0f, 0.25f, 0.0f)), // dim0 maxabs donor (negative)
      (3L, Array(1.0f, 0.5f, 0.0f))    // dim1 maxabs donor; dim2 all-zero
    ).toDF("vec_id", "embedding")
    val scales = Similarity.sqScales(corpus, "embedding")
    assert(scales.collect().head.getAs[Seq[Double]]("scales") ===
      Seq(2.0, 0.5, 0.0))
    val codes = Similarity.sqEncode(corpus, "vec_id", "embedding", scales)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Long]]("sq_code")).toMap
    assert(codes(1L) === Seq(127L, -127L, 0L))
    assert(codes(2L) === Seq(-127L, 64L, 0L)) // floor(0.25·127/0.5+0.5)=64
    assert(codes(3L) === Seq(64L, 127L, 0L))  // floor(63.5+0.5)=64
  }

  test("sqTopK ranks like full-precision topK on well-separated data") {
    import spark.implicits._
    // two tight direction blobs — int8 rounding cannot flip the order
    val corpus = (1 to 30).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.05f * (i % 5), 0.0f, 0.0f)
      else Array(0.0f, 0.0f, 1.0f, 0.05f * (i % 5))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2L)
    val sq = Similarity.sqTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect()
    // every neighbour comes from the query's own blob
    assert(sq.forall(r => (r.getAs[Long]("query_id") % 2) ===
      (r.getAs[Long]("corpus_id") % 2)), "SQ8 crossed the blobs")
    // deterministic under repartitioning (integer scores, exact sums)
    val again = Similarity.sqTopK(corpus.repartition(7), queries,
      "vec_id", "embedding", 5).orderBy("query_id", "rank").collect()
    assert(again.map(_.toSeq).toSeq ===
      sq.sortBy(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")))
        .map(_.toSeq).toSeq)
  }

  test("ivfSqTopK: nprobe = nlist equals brute sqTopK; pruning keeps blobs") {
    import spark.implicits._
    val corpus = (1 to 30).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.05f * (i % 5), 0.0f, 0.0f)
      else Array(0.0f, 0.0f, 1.0f, 0.05f * (i % 5))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2L)
    // seedMod 10 → 3 cells; probing ALL of them ≡ the brute scan
    val full = Similarity.ivfSqTopK(corpus, queries, "vec_id", "embedding",
        seedMod = 10, nprobe = 3, k = 5)
      .select("query_id", "rank", "corpus_id", "iscore")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = Similarity.sqTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "rank", "corpus_id", "iscore")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full === brute)
    // nprobe=1 prunes to the query's own cell — results stay in-blob
    val pruned = Similarity.ivfSqTopK(corpus, queries, "vec_id",
      "embedding", seedMod = 10, nprobe = 1, k = 5).collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(r => (r.getAs[Long]("query_id") % 2) ===
      (r.getAs[Long]("corpus_id") % 2)), "IVF-SQ8 crossed the blobs")
  }

  test("ivfBinTopK: nprobe = nlist equals brute binTopK; pruning keeps blobs") {
    import spark.implicits._
    // two sign-separated blobs: even ids positive in dims 1-2, odd in
    // dims 3-4 — hamming separates them cleanly
    val corpus = (1 to 30).map { i =>
      val v = if (i % 2 == 0)
        Array(1.0f, 0.1f + 0.01f * (i % 7), -1.0f, -0.5f)
      else Array(-1.0f, -0.1f - 0.01f * (i % 7), 1.0f, 0.5f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2L)
    val full = Similarity.ivfBinTopK(corpus, queries, "vec_id", "embedding",
        dims = 4, seedMod = 10, nprobe = 3, k = 5)
      .select("query_id", "rank", "corpus_id", "hamming")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = Similarity.binTopK(corpus, queries, "vec_id", "embedding",
        dims = 4, k = 5)
      .select("query_id", "rank", "corpus_id", "hamming")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full === brute)
    val pruned = Similarity.ivfBinTopK(corpus, queries, "vec_id",
      "embedding", dims = 4, seedMod = 10, nprobe = 1, k = 5).collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(r => (r.getAs[Long]("query_id") % 2) ===
      (r.getAs[Long]("corpus_id") % 2)), "IVF-BIN crossed the blobs")
  }

  test("mmrTopK ≡ naive greedy reference; breaks up a near-dup cluster that top-k returns whole") {
    import spark.implicits._
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    // naive driver-side greedy MMR over the top-candN pool
    def naive(vecs: Map[Long, Array[Float]], qid: Long, candN: Int,
        k: Int, lam: Double): Seq[Long] = {
      val rel = vecs.collect { case (id, v) if id != qid =>
        id -> cos(vecs(qid), v) }.toSeq
        .sortBy { case (id, r) => (-r, id) }.take(candN).toMap
      var sel = Seq.empty[Long]
      (1 to k).foreach { _ =>
        val best = rel.keys.filterNot(sel.contains).map { c =>
          val ms = if (sel.isEmpty) 0.0
            else sel.map(s => cos(vecs(c), vecs(s))).max
          (c, lam * rel(c) - (1 - lam) * ms)
        }.toSeq.sortBy { case (id, sc) => (-sc, id) }
        sel = sel :+ best.head._1
      }
      sel
    }
    val rnd = new scala.util.Random(20260814L)
    // a near-dup cluster (ids 1-4 tiny jitters of one direction) plus
    // scattered vectors — plain top-k returns the cluster en bloc
    val base = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val cluster = (1L to 4L).map(id =>
      (id, base.zipWithIndex.map { case (x, i) =>
        x + 0.001f * ((id + i) % 3) }))
    val scattered = (5L to 40L).map(id =>
      (id, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val all = (cluster ++ scattered)
    val vecs = all.toMap
    val df = all.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" === 1L)
    // λ = 0.25 (binary-exact) weights diversity enough to escape a
    // λ=0.5-resistant tight cluster
    val got = Similarity.mmrTopK(df, queries, "vec_id", "embedding",
        candN = 10, k = 4, lam = 0.25)
      .orderBy("step").collect().map(_.getAs[Long]("corpus_id")).toSeq
    assert(got === naive(vecs, 1L, 10, 4, 0.25))
    // diversification is real: plain top-4 is the rest of the cluster;
    // MMR keeps one near-dup then escapes to scattered vectors
    val plain = Similarity.topK(df, queries, "vec_id", "embedding", 4)
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(plain === Set(2L, 3L, 4L) + plain.find(_ > 4L).getOrElse(2L)
      || plain.subsetOf(Set(2L, 3L, 4L) ++ Set(plain.maxBy(identity))),
      s"fixture sanity: top-k should be cluster-heavy, got $plain")
    assert(got.count(_ <= 4L) < plain.count(_ <= 4L),
      s"MMR ($got) must carry fewer cluster members than top-k ($plain)")
    // and a multi-query run agrees with the reference per query
    val multiQ = df.filter($"vec_id" % 10L === 0L)
    val multi = Similarity.mmrTopK(df, multiQ, "vec_id", "embedding",
        candN = 8, k = 3, lam = 0.5)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("step")).map(_.getAs[Long]("corpus_id")).toSeq
      }
    multi.foreach { case (q, sel) =>
      assert(sel === naive(vecs, q, 8, 3, 0.5), s"query $q")
    }
  }

  test("ivfPqResidualTopK: nprobe = nlist ≡ exhaustive residual ADC; residual beats raw") {
    import spark.implicits._
    val dim = 16; val m = 4; val seedMod = 20; val k = 10
    // LINE-MANIFOLD corpus (ids walk a line in R^16 + small noise):
    // the regime where residual encoding pays — the coarse quantizer
    // segments the line, and the donor RESIDUALS form a fine grid of
    // within-segment offsets, ~nlist× finer than the donors' absolute
    // positions raw PQ must reuse. Measured on this fixture: raw 0.2,
    // residual 0.5. (On structureless uniform data residual LOSES —
    // the seed centroids inject their own noise into every residual —
    // so the assertion below deliberately uses structured data, like
    // the real embeddings q149 measures.)
    val data = (0L until 200L).map { i =>
      (i, Array.tabulate(dim) { d =>
        (i / 200.0f) * 10f * ((d % 3) + 1) + 0.3f *
          ((((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat / 1000003f)
      })
    }
    val corpus = data.toDF("vec_id", "embedding")
    val seeds = Similarity.seedCentroids(corpus, "vec_id", "embedding", seedMod)
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding", seeds)
    val res = Similarity.ivfResiduals(assigned, "vec_id", "embedding", seeds)
    val rcb = Similarity.pqCodebooks(res, "vec_id", "rvec", m, seedMod)
    val renc = Similarity.pqEncode(res, "vec_id", "rvec", m, rcb)
    val cells = assigned.select(col("vec_id"), col("cell"))
    val queries = corpus.filter(col("vec_id") % 40 === 0)

    // ---- driver-side exhaustive residual ADC, replicating the exact
    // double arithmetic: residual in double, sequential-fold dots,
    // per-sub qd = ⟨qr,qr⟩ − 2⟨qr,cw⟩ + ⟨cw,cw⟩, sub-ascending sum
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecsD = data.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val residOf = res.select("vec_id", "rvec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codeOf = renc.select("vec_id", "sub", "cw").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1).map(_._2) }
    val sl = dim / m
    def subv(v: Array[Double], s: Int): Array[Double] =
      v.slice(s * sl, (s + 1) * sl)
    val qids = data.map(_._1).filter(_ % 40 == 0)
    val brute = qids.flatMap { q =>
      val scored = data.map(_._1).filter(_ != q).map { x =>
        val qr = vecsD(q).zip(vecsD(cellOf(x))).map { case (a, b) => a - b }
        var adist = 0.0
        for (s <- 0 until m) {
          val qs = subv(qr, s)
          val cw = subv(residOf(codeOf(x)(s)), s)
          adist += dotD(qs, qs) - 2.0 * dotD(qs, cw) + dotD(cw, cw)
        }
        (x, adist)
      }.sortBy { case (x, d) => (d, x) }.take(k)
      scored.zipWithIndex.map { case ((x, d), r) => (q, r + 1, x, d) }
    }.sortBy(t => (t._1, t._2))

    // nlist = 10 cells; probing all of them scores every corpus row via
    // its OWN cell's residual LUT — must equal the brute ranking with
    // bit-identical distances
    val full = Similarity.ivfPqResidualTopK(renc, cells, seeds, queries,
        "vec_id", "embedding", m, rcb, nprobe = 10, k = k)
      .select("query_id", "rank", "corpus_id", "adist").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(full === brute)

    // residual recall vs exact float top-k must beat raw-PQ recall at
    // the same m (the reason the rung exists)
    val exact = Similarity.topK(corpus, queries, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m, seedMod)
    val rawEnc = Similarity.pqEncode(corpus, "vec_id", "embedding", m, rawCb)
    val raw = Similarity.pqAdcTopK(rawEnc, queries, "vec_id", "embedding",
        m, rawCb, k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val residSet = full.map(t => (t._1, t._3)).toSet
    val rRecall = (residSet & exact).size.toDouble / exact.size
    val rawRecall = (raw & exact).size.toDouble / exact.size
    info(f"residual recall $rRecall%.2f vs raw PQ $rawRecall%.2f at m=$m")
    assert(rRecall > rawRecall,
      s"residual encoding must lift recall: $rRecall vs $rawRecall")
  }

  test("binEncode packs sign bits exactly; multi-word split; binTopK ≡ naive hamming") {
    // hand-computable packing: dims=3 → bits 0,1,2 of one word
    val enc3 = Similarity.binEncode(vecs, "vec_id", "embedding", dims = 3)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[collection.Seq[Long]]("bin_code").toSeq).toMap
    assert(enc3(1L) === Seq(1L))           // (+,0,0) → only bit 0 (0 is NOT > 0)
    assert(enc3(3L) === Seq(2L))           // (0,+,0) → bit 1
    assert(enc3(4L) === Seq(3L))           // (+,+,0) → bits 0,1
    // multi-word: 70 dims → 2 words; bit 64+i lands in word 2 bit i
    val rnd = new scala.util.Random(42)
    val wide = (1L to 30L).map(id =>
      (id, Array.fill(70)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val rows = wide.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[collection.Seq[Float]]("embedding").toSeq).toMap
    val enc70 = Similarity.binEncode(wide, "vec_id", "embedding", dims = 70)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[collection.Seq[Long]]("bin_code").toSeq).toMap
    def naiveWords(v: Seq[Float]): Seq[Long] = Seq(
      (0 until 64).map(j => if (v(j) > 0) 1L << j else 0L).foldLeft(0L)(_ | _),
      (64 until 70).map(j => if (v(j) > 0) 1L << (j - 64) else 0L).foldLeft(0L)(_ | _))
    rows.foreach { case (id, v) => assert(enc70(id) === naiveWords(v), s"id=$id") }
    // binTopK ≡ exhaustive hamming ranking with (hamming, id) order
    val queries = wide.filter(col("vec_id") <= 3L)
    val got = Similarity.binTopK(wide, queries, "vec_id", "embedding",
        dims = 70, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("corpus_id"), r.getAs[Long]("hamming"))).toSet
    def hamming(a: Seq[Float], b: Seq[Float]): Long =
      (0 until 70).count(j => (a(j) > 0) != (b(j) > 0)).toLong
    val want = (1L to 3L).flatMap { qid =>
      rows.toSeq.filter(_._1 != qid)
        .map { case (cid, v) => (cid, hamming(rows(qid), v)) }
        .sortBy { case (cid, h) => (h, cid) }
        .take(4).zipWithIndex
        .map { case ((cid, h), i) => (qid, i + 1, cid, h) }
    }.toSet
    assert(got === want)
  }

  test("pqCodebooksKMeans: Lloyd rounds cut quantization error vs raw seeds") {
    import spark.implicits._
    val dim = 16; val m = 4; val k = 8
    val corpus = (0L until 160L).map { i =>
      (i, Array.tabulate(dim) { d =>
        (i / 160.0f) * 10f * ((d % 3) + 1) + 0.3f *
          ((((i + 1) * 2654435761L + d * 40503L) % 1000003L).toFloat / 1000003f)
      })
    }.toDF("vec_id", "embedding")
    def totalErr(iters: Int): Double = {
      val cb = Similarity.pqCodebooksKMeans(corpus, "vec_id", "embedding",
        m, k, iters)
      Similarity.pqEncode(corpus, "vec_id", "embedding", m, cb)
        .agg(sum(col("sdist"))).head.getDouble(0)
    }
    val seedErr = totalErr(0)
    val trainedErr = totalErr(2)
    info(f"total quantization error: seeds $seedErr%.3f → trained $trainedErr%.3f")
    assert(trainedErr < seedErr * 0.9,
      s"Lloyd must materially cut quantization error: $trainedErr vs $seedErr")
    // schema contract: consumable by the whole PQ stack
    val cb = Similarity.pqCodebooksKMeans(corpus, "vec_id", "embedding",
      m, k, 1)
    assert(cb.columns.toSeq === Seq("sub", "cw", "cvec", "cc"))
    assert(cb.count() === (m * k).toLong)
  }
}
