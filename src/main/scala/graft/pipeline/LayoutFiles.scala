package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

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
  * beside a writer — and a BM25 or shingle probe that finds a marker
  * fails with [[UnfinishedCommit]] instead of mixing old and new
  * tables. Each layout has a single writer: the marker makes a crash
  * safe, it is not a lock.
  *
  * Bookkeeping memo. A layout's `stats` row, its postings schema
  * ([[stats]]) and its pending tombstone rows ([[pending]]) change only
  * when a lifecycle write lands, so the driver holds them and every
  * call revalidates with Hadoop listings alone — no Spark job: the
  * names, lengths and modification times of the side table's files
  * (Spark names every file it writes with a per-write uuid, so any
  * rewrite changes the listing) and whether the layout's `_commit`
  * marker exists. Each side table revalidates on its own, so a
  * [[retire]], which changes only `_tombstones`, costs the next append
  * no `stats` read. A load is kept only when the listings taken before
  * and after it agree (a write that lands during the load is never
  * cached), each side table keeps only its latest load, and the memo
  * holds at most [[MemoEntries]] side tables. A call that finds the
  * marker fails with [[UnfinishedCommit]]; writers call [[recover]]
  * first, so only a probe beside an open commit meets it.
  *
  * Committed generations. The BM25 and shingle layouts stamp each
  * append's rows with generation `max_gen + 1` and roll `stats` last,
  * so their probes read `gen <= max_gen` and an append cut before its
  * `stats` write serves nothing; the append runs under a marker
  * ([[appending]]) so that the next append compacts those rows away
  * before it reuses their generation number.
  */
object LayoutFiles {

  /** Compaction sizes its output toward this many bytes per file. */
  val TargetBytesPerFile: Long = 128L << 20

  private val Staged = "__compact"
  private val Old = "__old"
  private val Marker = "_commit"
  private val RootMarker = "__commit"
  private val AppendMarker = "_append"
  // every compaction folds ALL of a layout's pending tombstone sets
  private val TombstoneSets = Seq("_tombstones", "_tombstone_keys")

  /** A probe found a commit that is under way or was cut by a crash. */
  final class UnfinishedCommit(dir: String) extends IllegalStateException(
    s"$dir has an unfinished layout commit ($Marker present): its tables " +
      "may mix old and new versions. The next lifecycle write on the " +
      "layout (append, delete, compact) finishes it.")

  /** How many side tables the bookkeeping memo holds, least recently
    * used dropped first. */
  val MemoEntries = 64

  /** A layout's `stats` row, and the schema of its `postings` table,
    * loaded by the first caller that asks — handing that schema to
    * `spark.read.schema` skips the parquet schema-inference job of
    * every postings scan. The memo holds no session: each caller
    * passes its own. */
  final class Stats private[LayoutFiles] (val row: Row, dir: String) {
    @volatile private var schema: StructType = _

    def postings(spark: SparkSession): StructType = {
      if (schema == null) schema = spark.read.parquet(new Path(dir, "postings").toString).schema
      schema
    }
  }

  /** A pending tombstone set's rows, held on the driver. */
  final case class Tombstones(schema: StructType, rows: Seq[Row]) {
    /** The set as a local relation: a join against it reads no file. */
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, schema)
  }

  /** The `stats` row of the layout at `dir` and its postings schema,
    * through the memo. */
  def stats(spark: SparkSession, dir: String): Stats =
    memoized(spark, dir, "stats") {
      new Stats(read(spark, new Path(dir, "stats").toString).head(), dir)
    }

  /** The rows of the pending tombstone set `dir/name`, if any, through
    * the memo. */
  def pending(spark: SparkSession, dir: String, name: String = "_tombstones"): Option[Tombstones] =
    memoized(spark, dir, name) {
      tombstones(spark, dir, name).map(t => Tombstones(t.schema, t.collect().toSeq))
    }

  /** (commit marker present, (name, length, mtime) of every entry) */
  private type Listing = (Boolean, Seq[(String, Long, Long)])

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Listing, Any)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Listing, Any)]): Boolean =
        size() > MemoEntries
    })

  /** `load` of the side table `dir/table`, or the memo's copy if the
    * table's listing has not changed since that load. */
  private def memoized[A](spark: SparkSession, dir: String, table: String)(load: => A): A = {
    val fs = fsOf(spark, dir)
    val p = fs.makeQualified(new Path(dir, table))
    def listing(): Listing = {
      val files =
        try fs.listStatus(p).toSeq.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        catch { case _: java.io.FileNotFoundException => Nil }
      (fs.exists(new Path(dir, Marker)), files.sorted)
    }
    val key = p.toString
    val before = listing()
    if (before._1) throw new UnfinishedCommit(dir)
    memo.get(key) match {
      case (`before`, v) => v.asInstanceOf[A]
      case _ =>
        val v = load
        if (listing() == before) memo.put(key, (before, v))
        v
    }
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def suffixed(p: Path, suffix: String): Path = new Path(p.toString + suffix)

  /** Read the parquet table at `path` through its listed data files —
    * the entries whose names start with neither `_` nor `.`. A side
    * table of a layout (`_meta`, `_tombstones`, `_manifest`, `_index`)
    * is named so that scans of the layout root skip it; handing Spark
    * that underscore path directly reads the same rows but logs "All
    * paths were ignored". `path` itself is read when it is no directory,
    * lists no data file, or lists more than Spark's
    * `parallelPartitionDiscovery.threshold` (past that many paths Spark
    * lists them with a job; one directory it lists on the driver).
    * `mergeSchema` reads files written under different schemas (the ANN
    * legacy eras, see `Similarity.minusTombstones`). */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean = false): DataFrame = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    val data =
      if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Nil
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(_.toString)
    val maxPaths = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val reader = spark.read.option("mergeSchema", mergeSchema)
    // basePath keeps partition columns of a partitioned table's subdirs
    if (data.isEmpty || data.size > maxPaths) reader.parquet(path)
    else reader.option("basePath", path).parquet(data: _*)
  }

  /** The pending tombstone set `dir/name`, if any, read with [[read]]. */
  def tombstones(
      spark: SparkSession, dir: String, name: String = "_tombstones",
      mergeSchema: Boolean = false): Option[DataFrame] = {
    val p = new Path(dir, name)
    if (fsOf(spark, dir).exists(p)) Some(read(spark, p.toString, mergeSchema))
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
    val spark = live.sparkSession
    val tomb = pending(spark, dir, name)
      .filter(t => keys.forall(t.schema.fieldNames.contains)).map(_.frame(spark))
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
        finish(fs, marker, inFlight(fs, root), TombstoneSets.map(new Path(root, _)))
      else inFlight(fs, root).foreach(t => fs.delete(suffixed(t, Staged), true))
    }
  }

  /** Run `write`, the append of generation `max_gen + 1` to the layout
    * at `dir`, under an `_append` marker. An append cut before its
    * `stats` write leaves rows of that generation which `stats` does not
    * count, and the marker beside them; probes skip the rows (they read
    * `gen <= max_gen`). The next append that finds the marker runs
    * `fold` first — the layout's compaction, which drops every row
    * above `max_gen` and clears the tombstone sets — so it never stamps
    * its batch with the cut one's number, and no tombstone a delete
    * wrote for a cut version can hide the fresh rows. */
  def appending(spark: SparkSession, dir: String)(fold: => Unit)(write: => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val marker = new Path(dir, AppendMarker)
    if (fs.exists(marker)) fold
    fs.create(marker, true).close()
    write
    fs.delete(marker, false)
  }

  /** Drop every pending tombstone set of the layout at `dir` — the step
    * before a writer rebuilds the layout in place: the rebuild stamps
    * gen 0 again, and a tombstone left from the old contents would hide
    * the fresh rows. */
  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    TombstoneSets.foreach(n => fs.delete(new Path(dir, n), true))
  }

  /** The tables under `dir` with a staged or an old copy. */
  private def inFlight(fs: FileSystem, dir: Path): Seq[Path] =
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
