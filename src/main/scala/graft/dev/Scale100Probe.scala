package graft.dev

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

/** 100× empirical probe (dev only): run the five heaviest scale-shaped
  * operators ENGINE-SIDE on a 100×-replicated corpus
  * (`dev.ScaleUp` with SPARK_GRAFT_SCALE_REPLICAS=100 →
  * target/scaled/sf10) and record, per op: wall, Σ executor task time,
  * shuffle read/write bytes, result cardinality, and the NAMED bound
  * the op's scale argument rests on (pair counts vs vocab·cap²,
  * cells vs √n, capped buckets). One JSON line per op on stdout —
  * the "would it survive 100×" question answered with data.
  *
  * Usage, from the checkout root (reads target/scaled/sf10 unless
  * SPARK_GRAFT_SF_DIR names another directory):
  *   sbt "runMain graft.dev.Scale100Probe [op ...]"
  */
object Scale100Probe {

  private final class Tally extends SparkListener {
    @volatile var task = 0L // ms
    @volatile var shufR = 0L
    @volatile var shufW = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        task += m.executorRunTime
        shufR += m.shuffleReadMetrics.totalBytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(appName = "scale100")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scaled/sf10").getAbsolutePath)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nDocs = docs.count()
    val nVecs = emb.count()
    System.err.println(s"[100x] corpus: $nDocs docs, $nVecs vectors")

    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)

    def run(name: String)(body: => (Long, String)): Unit = {
      spark.catalog.clearCache()
      val (t0t, t0r, t0w) = (tally.task, tally.shufR, tally.shufW)
      val w0 = System.nanoTime()
      val (rows, bound) = body
      val wall = (System.nanoTime() - w0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"""{"op":"$name","wall_sec":$wall%.2f,""" +
        f""""task_sec":${(tally.task - t0t) / 1000.0}%.2f,""" +
        s""""shuffle_read_mb":${(tally.shufR - t0r) / 1048576},""" +
        s""""shuffle_write_mb":${(tally.shufW - t0w) / 1048576},""" +
        s""""rows":$rows,$bound}""")
    }

    import graft.operators.{Dedup, Similarity}
    import graft.operators.Dedup.MinHashParams
    val wanted =
      if (args.nonEmpty) args.toSet
      else Set("minhash", "wjaccard", "semdedup", "ivftopk", "ccstar")

    // q39's params (N=3, tau=0.5, k=16, bands=4); pairs reused by ccstar
    lazy val mhPairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      3, 0.5, MinHashParams(k = 16, bands = 4)).localCheckpoint(true)

    if (wanted("minhash")) run("minhashNearDups") {
      val rows = mhPairs.count()
      // bound: band buckets are capped at 10k; report the hot-bucket
      // mass the cap would drop (0 hot buckets = cap never binds)
      val bands = Dedup.minhashBands(docs, "doc_id", "text", 3,
        MinHashParams(k = 16, bands = 4))
      val hot = Dedup.hotBuckets(bands, Seq("band_idx", "band_hash"),
        10000).count()
      (rows, s""""bound":"hot_buckets>10k","hot_buckets":$hot""")
    }

    if (wanted("wjaccard")) run("weightedJaccardPairs") {
      // q257's exact tc construction + WJ_CAP=64
      val toksAll = graft.functions.TextFns.shingleHashes(col("text"), 1)
      val base = docs.select(col("doc_id"), col("lang"),
          explode(toksAll).as("h"),
          size(toksAll).cast("bigint").as("n"),
          size(array_distinct(toksAll)).cast("bigint").as("nd"))
        .withColumn("blk", expr("n div 20"))
      val tc = base.groupBy(col("doc_id"), col("lang"), col("blk"),
          col("n"), col("nd"), col("h"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val vocab = tc.select(col("lang"), col("blk"), col("h"))
        .distinct().count()
      val rows = Dedup.weightedJaccardPairs(tc, 64).count()
      // the vocab·C(cap,2) pair-generation ceiling the cap enforces
      val ceil = vocab * (64L * 63 / 2)
      (rows, s""""bound":"pairs<=vocab*C(cap,2)","vocab":$vocab,""" +
        s""""pair_ceiling":$ceil""")
    }

    if (wanted("semdedup")) run("semanticDedup") {
      val rows = Similarity.semanticDedup(emb, "vec_id", "embedding",
        0, 0.8).count()
      val cells = Similarity.resolveSeedMod(emb, 0)
      (rows, s""""bound":"cells~sqrt(n)","seed_mod":$cells,""" +
        s""""sqrt_n":${math.sqrt(nVecs.toDouble).toLong}""")
    }

    if (wanted("ivftopk")) run("ivfTopK") {
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val rows = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        0, 2, 5).count()
      val nq = queries.count()
      (rows, s""""bound":"scored~nq*nprobe*n/cells","n_queries":$nq""")
    }

    if (wanted("ccstar")) run("connectedComponentsStar") {
      val labels = Dedup.connectedComponentsStar(mhPairs
        .select(col("d1"), col("d2")))
      val comps = labels.select(col("component")).distinct().count()
      val nodes = labels.count()
      (nodes, s""""bound":"O(log n) rounds","components":$comps""")
    }

    spark.stop()
  }
}
