package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table-layer facade: partitioned parquet today, Delta/Iceberg-shaped
  * so a format with ACID/time-travel can slot in without touching the
  * pipeline code (the reference writes Delta but exercises nothing
  * beyond partitioned overwrite — SURVEY.md §1.4).
  *
  * Scale notes: Hive-style directory partitioning gives partition
  * pruning on the read path for free; writers should repartition on
  * the partition columns first so each task writes few files (the
  * pipeline stages do this).
  */
trait TableFormat {
  def read(spark: SparkSession, path: String): DataFrame
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit
  def append(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit
}

object ParquetTable extends TableFormat {
  override def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read under a schema already known (partition columns last, the
    * way Spark lays them out): skips the footer-inference job a plain
    * [[read]] runs.
    */
  def read(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Whether anything exists at `path`, on whatever filesystem its
    * URI names (a bare path, `file:`, `hdfs:`, …).
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursively delete the table directory at `path`, if any. */
  def drop(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def write(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  override def append(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Dynamic partition overwrite: replaces ONLY the partitions whose
    * values appear in `df`, leaving every other partition untouched —
    * the upsert primitive incremental pipelines need (re-running a
    * month replaces that month, history stays). Plain Overwrite mode
    * would truncate the whole table first.
    */
  def overwritePartitions(df: DataFrame, path: String,
      partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "dynamic overwrite needs partition columns")
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** S6: single-file CSV export (BI hand-off), reference
    * export_aggregates.py:66-69. coalesce(1) funnels the final write
    * through one task — reserve for small mart outputs.
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Swap the table written at `staged` into `path`: rename the old
    * table aside, rename the staged one in (putting the old one back if
    * that fails), then delete the old one. Readers of `path` see the old
    * table or the new one, never no table — unlike delete-then-rename.
    * `staged` must sit next to `path`, so both renames stay on one
    * filesystem.
    */
  def swap(spark: SparkSession, staged: String, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "._swap_old")
    fs.delete(old, true)
    val hadOld = fs.exists(hPath)
    if (hadOld && !fs.rename(hPath, old))
      sys.error(s"swap: could not move $path aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), hPath)) {
      if (hadOld) fs.rename(old, hPath)
      sys.error(s"swap: could not move $staged into $path")
    }
    fs.delete(old, true)
  }

  /** Small-file compaction (the OPTIMIZE half of lakehouse table
    * maintenance; the reference's docs recommend it but never run it —
    * SURVEY.md §1.4). Rewrites the table so each output file is
    * ~`targetBytes`: ingest jobs (especially streaming appends, S8)
    * leave one file per micro-batch-task, and at 100 TB a scan over
    * millions of KB-sized files is bottlenecked on file-open overhead
    * and scheduler pressure, not IO.
    *
    * The rewrite is a normal distributed job: read → repartition to
    * ceil(bytes/targetBytes) → write alongside → [[swap]]. Uses on-disk
    * size as the sizing proxy (same heuristic as file-format OPTIMIZE
    * implementations).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val compacted =
      if (partitionBy.nonEmpty)
        // cluster by partition cols so each task writes into few dirs
        df.repartition(nFiles, partitionBy.map(df(_)): _*)
      else df.repartition(nFiles)
    val staged = path + "._staged"
    write(compacted, staged, partitionBy)
    swap(spark, staged, path)
  }

  /** Bucketed managed table: pre-hash-partitions (and optionally
    * pre-sorts) data on the join/agg key at WRITE time, so repeated
    * joins and aggregations on that key run with ZERO shuffle — at
    * 100 TB this converts the recurring fact⋈fact / fact-groupBy
    * shuffle into a one-time write cost. Requires the session catalog
    * (saveAsTable); bucket counts should match between co-joined
    * tables.
    */
  def writeBucketedTable(df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}

/** JSONL (newline-delimited JSON) interchange — the de-facto exchange
  * format of LLM training corpora: one document object per line,
  * gzip-compressed per file. Not part of the reference surface (it is
  * parquet/Delta-only); added for the training-data pipeline, which
  * must ingest and hand off corpora in this shape.
  *
  * Scale notes:
  *  - reads take an EXPLICIT schema — inference is a full extra pass
  *    over the corpus and is reserved for dev ([[readInferred]]);
  *  - a gzip member is not splittable, so one input file = one task:
  *    corpus writers shard into many moderate files (caller controls
  *    file count via repartition before [[write]], the same
  *    discipline as the parquet writers);
  *  - JSON string escaping is lossless for arbitrary text (newlines,
  *    quotes, unicode) — pinned by JsonlSpec and the q122 oracle,
  *    which hash-compares a full write→read round trip against the
  *    untouched parquet source.
  */
object JsonlTable {
  val Compression = "gzip"

  def read(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Dev-only: schema-inferring read (extra pass over the data). */
  def readInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", Compression).json(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append)
      .option("compression", Compression).json(path)

  /** Write `df` as gzipped JSONL and read it back under the same
    * schema — the lossless-interchange primitive q122 oracles.
    */
  def roundTrip(df: DataFrame, path: String): DataFrame = {
    write(df, path)
    read(df.sparkSession, path, df.schema)
  }
}

/** ORC interchange — the OTHER columnar format of the Hadoop/Hive
  * ecosystem (many lakehouse estates are ORC-resident; a corpus
  * engine must hand data to and from them without a parquet detour).
  * Spark ships a native vectorized ORC reader/writer, so this is the
  * declarative path end to end — predicate pushdown, column pruning,
  * and min/max stripe skipping all work exactly as on parquet.
  *
  * Scale notes:
  *  - reads take an EXPLICIT schema (same discipline as
  *    [[JsonlTable]]) — ORC footers carry types, but pinning the
  *    schema at the call site keeps silent drift (e.g. a writer
  *    widening int→long) a loud failure;
  *  - ORC stripes are splittable regardless of compression, so unlike
  *    gzip JSONL the file count does not bound read parallelism;
  *  - nested types (array&lt;float&gt; embeddings) round-trip natively —
  *    pinned by OrcSpec and the q131 oracle, which hash-compares a
  *    full write→read round trip of BOTH the documents and embeddings
  *    tables against the untouched parquet source.
  */
object OrcTable {
  val Compression = "zlib"

  def read(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", Compression).orc(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append)
      .option("compression", Compression).orc(path)

  /** Write `df` as ORC and read it back under the same schema — the
    * lossless-interchange primitive q131 oracles.
    */
  def roundTrip(df: DataFrame, path: String): DataFrame = {
    write(df, path)
    read(df.sparkSession, path, df.schema)
  }
}
