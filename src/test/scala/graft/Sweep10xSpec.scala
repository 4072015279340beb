package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Opq, Similarity}

/** Scaled-verification teeth for the graph/brute-denominator queries
  * that are EXCLUDED from the 10× DuckDB oracle sweep
  * (dev.SweepSets.scaledExclusions: q214/q215/q216/q224/q227/q231 —
  * their oracles replay brute crossjoins or NSW CTE chains that are
  * infeasible single-node at 10×). The ENGINE side has no such
  * limit, so this lane runs the real operators on the 10× scaled
  * embeddings and pins exact deterministic invariants: scored-set
  * sizes, exact hit counts against the engine-computed brute
  * baseline, visited-set determinism under repartitioning, probe-set
  * nesting, and the OPQ transform model's scale invariance.
  *
  * Data: target/scaled/sf1.0 (dev.ScaleUp's output — 10 verbatim
  * replicas of sf0.1 with vec_id shifted by replica·10⁹). If absent,
  * the embeddings table is regenerated here with the same rule, so
  * the lane is self-sufficient on a clean checkout. Replication makes
  * the corpus adversarially duplicate-heavy (every query has 10 exact
  * duplicates at cosine 1.0) — DELIBERATE (ScaleUp's scaladoc): the
  * pinned numbers below are what the operators measurably do on that
  * worst case, e.g. pruned indexes find the duplicates perfectly
  * (recall 1.0) while the flat NSW walk's fixed budget does not.
  */
class Sweep10xSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.1"
  // the checkout under test's own scaled dir (the working directory
  // is the checkout root)
  private val dst = new java.io.File("target/scaled/sf1.0").getAbsolutePath
  // q-family constants (SimilarityQueries): QMOD/K/SEEDMOD/NPROBE and
  // the q214/q227 knobs
  private val QMOD = 50; private val K = 5
  private val SEEDMOD = 25; private val NPROBE = 2
  private val DEG = 3; private val BEAM = 4; private val HOPS = 2
  private val UP = 2; private val H2_BEAM = 2

  private lazy val corpus: DataFrame = {
    val path = s"$dst/embeddings.parquet"
    val have = try { spark.read.parquet(path).limit(1).count() == 1 }
      catch { case _: Exception => false }
    if (!have) {
      // ScaleUp's exact replication rule, embeddings only
      spark.read.parquet(s"$src/embeddings.parquet")
        .crossJoin(spark.range(0, 10).select(col("id").as("__replica")))
        .withColumn("vec_id", col("vec_id") + col("__replica") * 1000000000L)
        .drop("__replica")
        .repartition(32).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path).localCheckpoint(true)
  }
  private lazy val queries: DataFrame =
    corpus.filter(col("vec_id") % QMOD === 0).localCheckpoint(true)
  private lazy val exact: DataFrame =
    Similarity.topK(corpus, queries, "vec_id", "embedding", K)
      .select(col("query_id"), col("corpus_id")).localCheckpoint(true)

  private def hitsOf(vis: DataFrame): (Long, Long) = {
    val v = vis.localCheckpoint(true)
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    val top = v.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= K).select(col("query_id"), col("corpus_id"))
    (v.count(), top.join(exact, Seq("query_id", "corpus_id")).count())
  }

  test("10x baseline shape: 400 queries, 2000 exact slots, duplicates dominate") {
    assert(queries.count() === 400)
    assert(exact.count() === 2000)
  }

  test("q214/q215/q216 at 10x: flat NSW scored set and recall are pinned exactly") {
    val (scored, hits) = hitsOf(Similarity.nswScored(corpus, queries,
      "vec_id", "embedding", SEEDMOD, NPROBE, DEG, BEAM, HOPS))
    // measured once on the deterministic scaled set, pinned forever:
    // a changed edge prune, beam policy, or entry pick moves these
    assert(scored === 26267L, s"nsw scored-set size drifted: $scored")
    assert(hits === 1177L, s"nsw exact hits drifted: $hits")
  }

  test("q227 at 10x: both hierarchy arms pinned; pruned arms find every duplicate") {
    val (s1, h1) = hitsOf(Similarity.hnswScored(corpus, queries,
      "vec_id", "embedding", SEEDMOD, NPROBE, DEG, BEAM, HOPS, UP))
    assert(s1 === 26190L, s"hnsw L1 scored drifted: $s1")
    assert(h1 === 2000L, s"hnsw L1 must find all duplicate tops: $h1")
    val (s2, h2) = hitsOf(Similarity.hnswScored(corpus, queries,
      "vec_id", "embedding", SEEDMOD, NPROBE, DEG, H2_BEAM, HOPS, UP, 2))
    assert(s2 === 27310L, s"hnsw L2 scored drifted: $s2")
    assert(h2 === 2000L, s"hnsw L2 must find all duplicate tops: $h2")
  }

  test("q216's IVF arm at 10x: exactly K rows per query, perfect duplicate recall") {
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      SEEDMOD, NPROBE, K)
      .select(col("query_id"), col("corpus_id")).localCheckpoint(true)
    assert(ivf.count() === 2000L)
    assert(ivf.join(exact, Seq("query_id", "corpus_id")).count() === 2000L)
  }

  test("q224 at 10x: multi-probe sets nest and the 4-probe arm is pinned") {
    def scoredSet(np: Int) = Similarity.mpLshScored(corpus, queries,
      "vec_id", "embedding", 8, np)
    val s4 = scoredSet(4).localCheckpoint(true)
    assert(s4.count() === 377000L, "mplsh 4-probe scored-set size drifted")
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    val top = s4.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= K).select(col("query_id"), col("corpus_id"))
    assert(top.join(exact, Seq("query_id", "corpus_id")).count() === 2000L)
    // nesting: probe-1 candidates ⊆ probe-2 candidates (pairs-level)
    val p1 = scoredSet(1).select(col("query_id"), col("corpus_id"))
    val p2 = scoredSet(2).select(col("query_id"), col("corpus_id"))
    assert(p1.exceptAll(p2).count() === 0L, "probe sets must nest")
  }

  test("graph walks are deterministic under repartitioning at 10x") {
    def key(df: DataFrame) = df
      .select(col("query_id"), col("cell"), col("corpus_id"))
    val a = key(Similarity.nswScored(corpus.repartition(7), queries,
      "vec_id", "embedding", SEEDMOD, NPROBE, DEG, BEAM, HOPS))
    val b = key(Similarity.nswScored(corpus, queries,
      "vec_id", "embedding", SEEDMOD, NPROBE, DEG, BEAM, HOPS))
    assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L,
      "nsw visited set changed under repartitioning")
  }

  test("q249 DBSCAN at 10x: labels partition the corpus; replica twins co-cluster") {
    // q249's constants (SimilarityQueries.DB_EPS/DB_MINPTS). The 10x
    // replication puts 10 twins at every position, so every point has
    // >= 9 zero-distance neighbors and minPts=4 is trivially met:
    // EVERY point must come out core (no border, no noise), and twins
    // must share a component (distance 0 edges).
    val pts = corpus.select(col("vec_id").as("id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val lab = graft.operators.GridDbscan.label(pts, 0.02, 4)
      .localCheckpoint(true)
    val n = corpus.count()
    assert(lab.count() === n, "labels must cover every point (all core)")
    assert(lab.filter(col("role") =!= "core").count() === 0L)
    // twins co-cluster: component is invariant under vec_id % 1e9
    val perPos = lab.withColumn("base", col("node") % 1000000000L)
      .groupBy(col("base")).agg(countDistinct(col("component")).as("nc"))
    assert(perPos.filter(col("nc") > 1).count() === 0L,
      "replica twins split across clusters")
    // determinism of the full labeling under repartitioning
    val again = graft.operators.GridDbscan.label(pts.repartition(7), 0.02, 4)
    assert(lab.exceptAll(again).count() === 0L
      && again.exceptAll(lab).count() === 0L)
  }

  test("q290's frontier at 10x: arm set, brute anchor, and dominance hold") {
    // the frontier query itself runs engine-side at 10× (its
    // EXCLUSION is the composed DuckDB oracle, not the plan)
    val rows = SparkEntry.queries("q290_ann_frontier")(spark, dst)
      .collect()
      .map(r => (r.getAs[String]("method"), r.getAs[Long]("n_scored"),
        r.getAs[Long]("bytes_per_vec"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("n_total"), r.getAs[Int]("pareto")))
    assert(rows.map(_._1).sorted.toSeq ===
      Seq("bin", "brute", "ivf", "nsw", "pq_adc", "sq8"))
    val brute = rows.find(_._1 == "brute").get
    assert(brute._4 === brute._5, "brute recall must anchor at 1.0")
    // on the 10× replica corpus every query's top-K are its exact
    // duplicates, so IVF also reaches recall 1.0 at a fraction of the
    // scan — and brute is then CORRECTLY dominated (same hits, fewer
    // candidates, same bytes): the frontier moves with the data
    val ivf = rows.find(_._1 == "ivf").get
    assert(ivf._4 === ivf._5, "ivf loses duplicates at 10x")
    assert(brute._6 === 0,
      "brute should be dominated by full-recall ivf on the replica corpus")
    assert(ivf._6 === 1, "full-recall ivf must sit on the frontier")
    // the emitted pareto flags must equal the dominance relation
    // recomputed here from the emitted integers
    def dominated(a: (String, Long, Long, Long, Long, Int)) =
      rows.exists(b => b._4 >= a._4 && b._2 <= a._2 && b._3 <= a._3 &&
        (b._4 > a._4 || b._2 < a._2 || b._3 < a._3))
    rows.foreach { a =>
      assert(a._6 === (if (dominated(a)) 0 else 1),
        s"pareto flag inconsistent for ${a._1}")
    }
    // pruned arms must actually prune at 10×: fewer candidates than
    // the full scan
    val fullScan = rows.find(_._1 == "brute").get._2
    for (m <- Seq("ivf", "nsw"))
      assert(rows.find(_._1 == m).get._2 < fullScan / 10,
        s"$m stopped pruning at 10x")
  }

  test("q231's transform model is scale-invariant: 10x perm equals sf0.1 perm") {
    // 10 verbatim replicas multiply every per-dim decimal energy by
    // exactly 10 — the ranking, and so the snake permutation, must
    // not move
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val p01 = Opq.energySnakePerm(base, "embedding", 8)
    val p10 = Opq.energySnakePerm(corpus, "embedding", 8)
    assert(p01.toSeq === p10.toSeq, "OPQ permutation drifted at 10x")
  }
}
