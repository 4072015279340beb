package graft.cli

import java.nio.file.Files
import graft.SparkSpec

class RunValidationsSpec extends SparkSpec {
  import spark.implicits._

  test("a warehouse given as a file: URI still sweeps its corpus layer") {
    val wh = Files.createTempDirectory("graft-validate").toUri.toString
      .stripSuffix("/")
    assert(wh.startsWith("file:"))
    Seq((1L, "hello world", "en", "web", 11), (2L, "hola", "es", "web", 4))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$wh/corpus/documents")
    val results = RunValidations.validateAll(spark, wh).toMap
    assert(results.get("corpus/documents").flatten.exists(_.success),
      s"corpus suite not reported: ${results.keys}")
    assert(!results.contains("corpus/embeddings"),
      "an absent corpus layer is not swept")
    assert(results("silver/flights").isEmpty,
      "a missing flights layer is still reported, as missing")
  }

  test("a file: URI warehouse gets its report at <wh>/_validation/report.md") {
    val dir = Files.createTempDirectory("graft-report")
    val wh = dir.toUri.toString.stripSuffix("/")
    assert(wh.startsWith("file:"))
    val results = RunValidations.validateAll(spark, wh)
    RunValidations.writeReport(spark, results, wh)
    val report = dir.resolve("_validation").resolve("report.md")
    assert(Files.exists(report), s"no report under $dir")
    assert(Files.readString(report) ===
      RunValidations.renderReport(results, wh))
  }
}
