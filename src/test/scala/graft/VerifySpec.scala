package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class VerifySpec extends SparkSpec {

  test("a failed query is named in the manifest and the return value; the rest still dump") {
    val out = Files.createTempDirectory("graft-verify").toString
    val failed = Verify.run(spark, "unused-sf-dir", out, Seq(
      "bad_q" -> ((_, _) => throw new IllegalStateException("boom")),
      "ok_q" -> ((s, _) => s.range(3).toDF("id"))))
    assert(failed === Seq("bad_q"))
    assert(spark.read.parquet(s"$out/ok_q").count() === 3L)
    val entries = spark.read.option("multiLine", "true")
      .json(s"$out/manifest.json")
      .select(explode(col("queries")).as("q")).select("q.*")
    assert(entries.columns.toSet ===
      Set("name", "status", "rows", "wall_s", "error"))
    val byName = entries.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(byName.keySet === Set("bad_q", "ok_q"))
    val bad = byName("bad_q")
    assert(bad.getAs[String]("status") === "failed")
    assert(bad.isNullAt(bad.fieldIndex("rows")))
    assert(bad.getAs[String]("error").contains("IllegalStateException: boom"))
    val ok = byName("ok_q")
    assert(ok.getAs[String]("status") === "ok")
    assert(ok.getAs[Long]("rows") === 3L)
    assert(ok.isNullAt(ok.fieldIndex("error")))
    assert(ok.getAs[Double]("wall_s") >= 0.0)
  }
}
