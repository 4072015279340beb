package graft

import java.nio.file.Files

/** [[Explain.planHash]] must not see where the data lives or what the
  * session built before: the same read of the same files hashes
  * equally from directories whose absolute paths are long enough for
  * Spark to cut the scan's `Location` and differ in length, so the cut
  * falls elsewhere; and the same plan built twice hashes equally.
  */
class ExplainSpec extends SparkSpec {

  test("planHash is equal for the same read from long paths of different lengths") {
    val base = Files.createTempDirectory("plan-hash").toFile
    val dirs = Seq("a" * 90, "b" * 120).map { name =>
      val dir = new java.io.File(base, name).getAbsolutePath
      spark.range(5).toDF("x").write.parquet(dir)
      dir
    }
    assert(dirs.forall(_.length > 100))
    assert(dirs.map(_.length).distinct.size === 2)
    val hashes = dirs.map { dir =>
      Explain.planHash(
        spark.read.parquet(dir).filter("x > 1").select("x"), dir)
    }
    assert(hashes.head === hashes.last)
  }

  test("planHash ignores the session counter in lambda variable names") {
    import org.apache.spark.sql.functions._
    // each build takes the next JVM-wide lambda name (x_N, x_N+1)
    def build() = spark.range(3)
      .select(transform(array(col("id")), x => x + 1).as("ys"))
    assert(Explain.planHash(build(), ".") === Explain.planHash(build(), "."))
  }
}
