package graft.dev
import org.apache.spark.sql.functions._

/** Dev probe: IVF top-k wall time vs seedMod (nlist sizing) — the
  * O(corpus·nlist) assignment cost makes nlist ≈ √n the right rule.
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(appName = "ivfprobe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("target/scaled/sf1.0").getAbsolutePath)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    for (seedMod <- args.map(_.toInt)) {
      val queries = emb.filter(col("vec_id") % 50 === 0)
      // warm once, then time
      for (i <- 0 to 1) {
        val t0 = System.nanoTime()
        graft.operators.Similarity.ivfTopK(emb, queries, "vec_id",
            "embedding", seedMod, 2, 5)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (i == 1) println(f"IVF n=$n seedMod=$seedMod nlist~${n / seedMod} wall=$dt%.2f s")
      }
    }
    spark.stop()
  }
}
