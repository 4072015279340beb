package graft.core

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A directory of zero-byte marker files: the one create-if-absent
  * protocol every store in the engine commits through.
  *
  * {{{
  *   dir/<name>    zero-byte marker, created atomically
  * }}}
  *
  * A marker's existence is the fact it records: a committed
  * `VersionedTable` version (`_commits/00002`), a watched file that
  * was folded into a store (`_folded_files/feb.csv`), or a small
  * piece of driver-side metadata carried in the name itself
  * (`_model/rows_at_build_<n>`). Writers do their work first and
  * create the marker last, so a writer that dies midway leaves no
  * marker and its work is either invisible (a snapshot nobody
  * resolves) or redone on the next run (an idempotent fold). Two
  * writers racing on the same name are decided by the filesystem's
  * atomic create-if-absent: exactly one [[create]] returns true.
  *
  * Scale: everything here is a listing or a single-file create — the
  * log is bounded driver-side metadata, never a data scan.
  */
final class MarkerLog private (fs: FileSystem, dir: Path) {

  /** Marker names in no particular order; empty for a fresh log. */
  def names: Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  /** Atomically create the marker `name` if it is absent. True when
    * this call created it, false when it already existed (a lost race
    * or a repeat).
    */
  def create(name: String): Boolean = {
    fs.mkdirs(dir)
    try { fs.create(new Path(dir, name), false).close(); true }
    catch { case _: FileAlreadyExistsException => false }
  }

  def delete(name: String): Unit = fs.delete(new Path(dir, name), false)

  /** Fold every file of `watchDir` whose name ends in `suffix` (case-
    * insensitive) and has no marker yet, in name order, creating each
    * file's marker right after its fold. Returns the folds' results;
    * a second call with no new files folds nothing.
    *
    * A crash between a fold and its marker re-folds that file on the
    * next call, so `fold` must be idempotent per file (every caller's
    * is: a natural-key merge, a keyed append, or a re-encode under a
    * frozen model).
    */
  def foldNew[A](watchDir: String, suffix: String)(fold: Path => A): Seq[A] = {
    val watch = new Path(watchDir)
    val done = names.toSet
    watch.getFileSystem(fs.getConf).listStatus(watch).toSeq.map(_.getPath)
      .filter(_.getName.toLowerCase.endsWith(suffix))
      .filterNot(p => done(p.getName))
      .sortBy(_.getName)
      .map { p =>
        val r = fold(p)
        create(p.getName)
        r
      }
  }
}

object MarkerLog {
  def apply(spark: SparkSession, dir: String): MarkerLog = {
    val p = new Path(dir)
    new MarkerLog(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}
