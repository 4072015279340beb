package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Snapshot-versioned parquet table: the minimal lakehouse commit
  * protocol (what the reference's Delta layer actually exercises —
  * SURVEY.md §1.4 notes it uses nothing beyond overwrite — plus the
  * time travel it only configures).
  *
  * Layout:
  * {{{
  *   table/
  *     v00001/            immutable snapshot (parquet)
  *     v00002/
  *     _commits/00002     commit marker ([[MarkerLog]])
  * }}}
  *
  * Commit protocol: write the snapshot directory first, then claim
  * the version in the `_commits` [[MarkerLog]]. Readers resolve
  * "latest" from that log, so a half-written snapshot (writer died
  * mid-parquet-job) is invisible — its marker never appeared.
  * Concurrent writers race on the marker create; the loser drops its
  * snapshot and gets version N+2. Snapshots are immutable → time
  * travel is just reading an older vNNNNN directory; `vacuum` drops
  * superseded snapshots once readers age out.
  *
  * At 100 TB this is the same write amplification as any
  * copy-on-write format: one full rewrite per overwrite-commit. The
  * snapshot write itself is a normal partitioned parquet job —
  * distributed, resumable, nothing driver-side but the marker.
  */
object VersionedTable {

  private def versionDir(path: String, v: Int): String = f"$path/v$v%05d"
  private def commits(spark: SparkSession, path: String) =
    MarkerLog(spark, s"$path/_commits")

  /** Committed versions, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    commits(spark, path).names
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    versions(spark, path).lastOption

  /** Commit `df` as the next snapshot; returns the committed version.
    * Retries the version claim on a concurrent-writer collision.
    */
  def commit(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, maxAttempts: Int = 5): Int = {
    val spark = df.sparkSession
    val log = commits(spark, path)
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = latestVersion(spark, path).getOrElse(0) + 1 + attempt
      val snapDir = versionDir(path, v)
      val w = df.write.mode(SaveMode.ErrorIfExists)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(snapDir)
      // atomic create-if-absent claims the version number; on a lost
      // race drop our orphan snapshot and retry higher
      if (log.create(f"$v%05d")) return v
      ParquetTable.drop(spark, snapDir)
      attempt += 1
    }
    sys.error(s"VersionedTable.commit: lost $maxAttempts version races at $path")
  }

  /** Read a snapshot: latest by default, or time-travel to `version`. */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not committed at $path (have $vs)")
    spark.read.parquet(versionDir(path, v))
  }

  /** Copy-on-write MERGE (upsert): rows in `updates` replace target
    * rows with the same key; unmatched update rows are inserted. The
    * reference README claims "Incremental Processing: Delta Lake
    * merge" but its code path is full overwrite (SURVEY.md §1.4) —
    * this is the real operator. One anti-join + union + snapshot
    * write; the anti join shuffles on the key (or broadcasts when
    * `updates` is small — the common CDC case).
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Int = {
    val target = read(spark, path)
    require(keys.nonEmpty, "merge needs at least one key column")
    val kept = target.join(updates.select(keys.map(updates(_)): _*),
      keys, "left_anti")
    commit(kept.unionByName(updates.select(target.columns.map(updates(_)): _*)),
      path, partitionBy)
  }

  /** Copy-on-write DELETE: drop rows matching `condition`, commit the
    * survivors as a new snapshot (time travel keeps the deleted rows
    * reachable until vacuum).
    */
  def delete(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      partitionBy: Seq[String] = Nil): Int = {
    // SQL DELETE semantics: drop only rows where condition IS TRUE —
    // a bare !cond would also drop NULL-condition rows
    import org.apache.spark.sql.functions.{coalesce, lit}
    commit(read(spark, path).filter(!coalesce(condition, lit(false))),
      path, partitionBy)
  }

  /** Drop all snapshots older than `keepLast` (default: all but
    * latest). Markers are removed FIRST so a concurrent reader that
    * already resolved a version can finish its scan (posix/HDFS keep
    * open files readable), while new readers no longer see it.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Unit = {
    val log = commits(spark, path)
    versions(spark, path).dropRight(keepLast).foreach { v =>
      log.delete(f"$v%05d")
      ParquetTable.drop(spark, versionDir(path, v))
    }
  }
}
