package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The file lifecycle every persisted serving layout shares — the BM25
  * index ([[TextSearch]]), the shingle index ([[Dedup]]), the ANN
  * layouts and the semantic-dedup state ([[Similarity]]), and the
  * curate state ([[TrainingPipeline]]): one tombstone format and one
  * table swap.
  *
  * Tombstones. A DELETE appends the retired VERSIONS (e.g. (doc, gen))
  * to a set under the layout dir — `_tombstones`, a name parquet scans
  * of the layout skip ([[retire]]) — and every read of a table drops
  * them through a broadcast, delete-sized anti-join ([[minus]]), so a
  * delete is visible at the next probe with no rewrite. Versions
  * already in the set are skipped, so a replayed delete is a no-op.
  * Compaction folds the set into the files and clears it: that is the
  * erasure point, and until then the deleted bytes are still on disk.
  *
  * Swap. A compaction writes each table's next contents beside it as
  * `<t>__compact` ([[rewrite]]) and then [[commit]]s: create `_commit`,
  * for each staged table rename the live copy to `<t>__old` and the
  * staging in, clear the tombstone sets, delete the old copies, delete
  * `_commit`. A whole-layout rewrite ([[swap]]) runs the same steps one
  * level up, with `<root>__compact` and `<root>__commit` beside the
  * layout root.
  *
  * Crash contract. A crash at any step leaves either unmarked staging,
  * which the next lifecycle write on the layout discards, or a marked
  * commit, which it finishes ([[recover]]); either way the layout then
  * equals an uninterrupted run's. Probes never repair — they may run
  * beside a writer — and a BM25 probe that finds a marker fails with
  * [[UnfinishedCommit]] instead of mixing old and new tables. Each
  * layout has a single writer: the marker makes a crash safe, it is
  * not a lock.
  */
object LayoutFiles {

  /** Compaction sizes its output toward this many bytes per file. */
  val TargetBytesPerFile: Long = 128L << 20

  private val Staged = "__compact"
  private val Old = "__old"
  private val Marker = "_commit"
  private val RootMarker = "__commit"
  // every compaction folds ALL of a layout's pending tombstone sets
  private val TombstoneSets = Seq("_tombstones", "_tombstone_keys")

  /** A probe found a commit that is under way or was cut by a crash. */
  final class UnfinishedCommit(dir: String) extends IllegalStateException(
    s"$dir has an unfinished layout commit ($Marker present): its tables " +
      "may mix old and new versions. The next lifecycle write on the " +
      "layout (append, delete, compact) finishes it.")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def suffixed(p: Path, suffix: String): Path = new Path(p.toString + suffix)

  /** The pending tombstone set `dir/name`, if any. `mergeSchema` reads a
    * set whose files were written under different schemas (the ANN
    * legacy eras, see `Similarity.minusTombstones`). */
  def tombstones(
      spark: SparkSession, dir: String, name: String = "_tombstones",
      mergeSchema: Boolean = false): Option[DataFrame] = {
    val p = new Path(dir, name)
    if (fsOf(spark, dir).exists(p))
      Some(spark.read.option("mergeSchema", mergeSchema).parquet(p.toString))
    else None
  }

  /** `df` minus the rows whose `keys` a tombstone names. */
  def minus(df: DataFrame, tomb: Option[DataFrame], keys: Seq[String]): DataFrame =
    tomb.fold(df)(t =>
      df.join(broadcast(t.select(keys.map(col): _*)), keys, "left_anti"))

  /** Tombstone the versions in `live` (rows shaped like the set) that
    * the set `dir/name` does not already name. */
  def retire(
      live: DataFrame, dir: String, keys: Seq[String],
      name: String = "_tombstones"): Unit = {
    // a set written before these key columns existed (the pre-cutoff
    // ANN eras) names none of these versions
    val tomb = tombstones(live.sparkSession, dir, name)
      .filter(t => keys.forall(t.columns.contains))
    minus(live, tomb, keys).write.mode("append").parquet(new Path(dir, name).toString)
  }

  /** Stage `df` as the next contents of table `dir/table`, in as many
    * files as the live table's bytes fill at [[TargetBytesPerFile]] and
    * clustered by `partBy` when the table is partitioned. Nothing
    * serves it until [[commit]] (or [[swap]]). */
  def rewrite(dir: String, table: String, partBy: Option[String])(df: DataFrame): Unit = {
    val live = new Path(dir, table)
    val bytes = fsOf(df.sparkSession, dir).getContentSummary(live).getLength
    val files = math.max(1L, (bytes + TargetBytesPerFile - 1) / TargetBytesPerFile).toInt
    val w = partBy.fold(df.coalesce(files))(c => df.repartition(files, col(c)))
      .write.mode("overwrite")
    partBy.fold(w)(c => w.partitionBy(c)).parquet(suffixed(live, Staged).toString)
  }

  /** Where a whole-layout rewrite of `path` writes before [[swap]]. */
  def staging(path: String): String = suffixed(new Path(path), Staged).toString

  /** Swap every table staged under `dir` in and clear its tombstone
    * sets, as one commit. */
  def commit(spark: SparkSession, dir: String): Unit = {
    fsOf(spark, dir).create(new Path(dir, Marker), true).close()
    recover(spark, dir)
  }

  /** Swap the staged [[staging]] copy in for the whole layout at `path`. */
  def swap(spark: SparkSession, path: String): Unit = {
    fsOf(spark, path).create(suffixed(new Path(path), RootMarker), true).close()
    recover(spark, path)
  }

  /** Finish a marked commit of the layout at `dir` or discard unmarked
    * staging — the first step of every lifecycle write. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    val rootMarker = suffixed(root, RootMarker)
    if (fs.exists(rootMarker)) finish(fs, rootMarker, Seq(root), Nil)
    else fs.delete(suffixed(root, Staged), true)
    if (fs.exists(root)) {
      val marker = new Path(root, Marker)
      if (fs.exists(marker))
        finish(fs, marker, pending(fs, root), TombstoneSets.map(new Path(root, _)))
      else pending(fs, root).foreach(t => fs.delete(suffixed(t, Staged), true))
    }
  }

  /** Drop every pending tombstone set of the layout at `dir` — the step
    * before a writer rebuilds the layout in place: the rebuild stamps
    * gen 0 again, and a tombstone left from the old contents would hide
    * the fresh rows. */
  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    TombstoneSets.foreach(n => fs.delete(new Path(dir, n), true))
  }

  /** Fail with [[UnfinishedCommit]] if a commit of `dir` is not done. */
  def requireCommitted(spark: SparkSession, dir: String): Unit =
    if (fsOf(spark, dir).exists(new Path(dir, Marker))) throw new UnfinishedCommit(dir)

  /** The tables under `dir` with a staged or an old copy. */
  private def pending(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.endsWith(Staged) => n.stripSuffix(Staged)
      case n if n.endsWith(Old) => n.stripSuffix(Old)
    }.distinct.map(new Path(dir, _))

  /** Roll a marked commit forward; every step is safe to redo. */
  private def finish(fs: FileSystem, marker: Path, tables: Seq[Path], clear: Seq[Path]): Unit = {
    tables.foreach { live =>
      val staged = suffixed(live, Staged)
      if (fs.exists(staged)) {
        if (fs.exists(live)) rename(fs, live, suffixed(live, Old))
        rename(fs, staged, live)
      }
    }
    clear.foreach(fs.delete(_, true))
    tables.foreach(t => fs.delete(suffixed(t, Old), true))
    fs.delete(marker, false)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
}
