package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BronzeSpec extends SparkSpec {

  lazy val bronze = Bronze.ingest(spark,
    fixture("flights.csv"), fixture("L_AIRPORT_ID.csv"),
    fixture("L_UNIQUE_CARRIERS.csv"), clock = lit("2025-02-01 00:00:00").cast("timestamp"))

  test("bronze ingest reads all fixture rows and enriches names") {
    assert(bronze.count() === 12)
    val row = bronze.filter(col("OP_CARRIER_FL_NUM") === 100)
      .select("ORIGIN_AIRPORT_NAME", "DEST_AIRPORT_NAME", "CARRIER_NAME")
      .head()
    assert(row.getString(0) === "Charlotte, NC: Charlotte Douglas International")
    // lookup Description is trimmed on read (S3)
    assert(row.getString(1) === "Los Angeles, CA: Los Angeles International")
    assert(row.getString(2) === "American Airlines Inc.")
  }

  test("unmatched airport id and unmatched carrier produce left-join nulls") {
    val row = bronze.filter(col("OP_CARRIER_FL_NUM") === 107)
      .select("ORIGIN_AIRPORT_NAME", "CARRIER_NAME").head()
    assert(row.isNullAt(0)) // 99999 not in lookup
    // " zz " trims to "zz": not in the carrier lookup → null name
    assert(row.isNullAt(1))
  }

  test("ingest metadata columns are present") {
    val row = bronze.filter(col("OP_CARRIER_FL_NUM") === 100)
      .select(col("partition_date").cast("string"), col("source_file"))
      .head()
    assert(row.getString(0) === "2025-01-15")
    assert(row.getString(1).contains("flights.csv"))
  }

  test("schema-drift rename and string FL_DATE cast are applied") {
    import scala.jdk.CollectionConverters._
    val drift = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("1/15/2025 12:00:00 AM", "AA")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("FL_DATE",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("OP_CARRIER_AIRLINE_ID",
          org.apache.spark.sql.types.StringType))))
    val fixed = Bronze.standardizeColumns(drift)
    assert(fixed.columns.contains("OP_UNIQUE_CARRIER"))
    assert(fixed.schema("FL_DATE").dataType.typeName === "timestamp")
    assert(fixed.select(col("FL_DATE").cast("string")).head().getString(0)
      === "2025-01-15 00:00:00")
  }

  test("a lookup whose header is not Code,Description fails loudly") {
    val swapped = java.nio.file.Files.createTempFile("graft-lookup", ".csv")
    java.nio.file.Files.writeString(swapped,
      "Description,Code\n\"American Airlines Inc.\",AA\n")
    val e = intercept[Exception](
      Bronze.readLookupCsv(spark, swapped.toString).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("CSV header does not conform to the schema"),
      messages)
  }
}
