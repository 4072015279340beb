package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: replicate the sf0.1 testdata REPLICAS× into a local
  * scaled dataset (default target/scaled/sf1.0 ≈ sf1) to measure how
  * the engine's plans behave at 10× data — the "would this hold at
  * 1000×" question answered with a data point instead of an argument.
  *
  * Key remapping keeps referential integrity: fact keys (orderkey,
  * event_id, doc_id, vec_id) shift by replica·stride so replicas never
  * collide; dimension keys (partkey, suppkey, custkey, user_id) stay
  * put, so dims are copied once and joins still resolve — exactly how
  * a real corpus grows (facts accumulate, dims don't). Text/embedding
  * payloads are reused verbatim, which makes the near-dup operators'
  * input adversarially duplicate-heavy — deliberate: that is their
  * worst case, and the bucket caps are supposed to hold there.
  *
  * Output is written as multi-file parquet (32 splits per table), the
  * realistic scan shape — unlike the driver's single-file tables, scans
  * of the scaled set parallelize natively.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(appName = "graft-scaleup")
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST",
      new java.io.File("target/scaled/sf1.0").getAbsolutePath)
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val stride = 1000000000L // far above any sf0.1 key

    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def replicate(df: DataFrame, shiftCols: Seq[String]): DataFrame = {
      val r = df.crossJoin(
        spark.range(0, replicas).select(col("id").as("__replica")))
      shiftCols.foldLeft(r) { (acc, c) =>
        acc.withColumn(c, col(c) + col("__replica") * stride)
      }.drop("__replica")
    }

    // dims: copied once, keys untouched
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => save(load(t), t))
    // facts: replicated with shifted primary/sequence keys
    save(replicate(load("orders"), Seq("o_orderkey")), "orders")
    save(replicate(load("lineitem"), Seq("l_orderkey")), "lineitem")
    save(replicate(load("events"), Seq("event_id")), "events")
    save(replicate(load("documents"), Seq("doc_id")), "documents")
    save(replicate(load("embeddings"), Seq("vec_id")), "embeddings")

    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach {
      t => println(s"SCALED $t rows=" +
        spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }
}
