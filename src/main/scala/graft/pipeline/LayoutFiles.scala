package graft.pipeline

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructType}

/** The file lifecycle every persisted serving layout shares — the BM25
  * index ([[TextSearch]]), the shingle index ([[Dedup]]), the ANN
  * layouts and the semantic-dedup state ([[Similarity]]), and the
  * curate state ([[TrainingPipeline]]): one descriptor, one tombstone
  * format and one table swap.
  *
  * Descriptor. What a reader needs of a layout besides its rows (the
  * [[Descriptor]]) is one small JSON file at the layout root,
  * `_layout.<n>.json`, a name parquet scans skip. Reading it is one
  * listing and one open, no Spark job ([[descriptor]]), and a scan
  * handed its schema runs no schema-inference job either. Each write
  * publishes it once ([[publish]]): the next version is renamed in
  * beside the old one, which is deleted after, so a reader beside the
  * write finds one of them and a crash leaves one of them newest. A
  * compaction [[stage]]s it, and its [[commit]] swaps it in.
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
  * beside a writer — and a probe that finds a marker fails with
  * [[UnfinishedCommit]] instead of mixing old and new tables (the
  * descriptor read checks for it); one that passed that check and then
  * lists postings in the gap between a swap's two renames, or reads a
  * file the swap moved away, fails with a missing file ([[slice]]),
  * never serves the gap as an empty table.
  * Each layout has a single writer: the marker makes a crash safe, it
  * is not a lock.
  *
  * Bookkeeping memo. A layout's pending tombstone rows ([[pending]])
  * change only when a lifecycle write lands, so the driver holds them
  * and every call revalidates with Hadoop listings alone — no Spark
  * job: the names, lengths and modification times of the set's files
  * (Spark names every file it writes with a per-write uuid, so any
  * rewrite changes the listing) and whether the layout's `_commit`
  * marker exists. A load is kept only when the listings taken before
  * and after it agree (a write that lands during the load is never
  * cached), each set keeps only its latest load, and the memo holds at
  * most [[MemoEntries]] sets. A call that finds the marker fails with
  * [[UnfinishedCommit]]; writers call [[recover]] first, so only a probe
  * beside an open commit meets it. [[retire]] hands the memo the rows it
  * wrote under the listing taken after its write, so the next probe
  * does not read them cold.
  *
  * Committed generations. The BM25 and shingle layouts stamp each
  * append's rows with generation `max_gen + 1` and publish the
  * descriptor last, so their probes read `gen <= max_gen` and an append
  * cut before its descriptor lands serves nothing; the append runs under
  * a marker ([[appending]]) so that the next append compacts those rows
  * away before it reuses their generation number.
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

  /** How many tombstone sets the bookkeeping memo holds, least recently
    * used dropped first. */
  val MemoEntries = 64

  /** A layout's kind, last committed generation, write-time parameters
    * and primary table's partition column and schema as Spark reads it. */
  final case class Descriptor(
      kind: String, maxGen: Long, params: JsonNode, partition: Option[String],
      schema: StructType) {
    def param(name: String): JsonNode = params.required(name)
  }

  object Descriptor {
    /** The schema Spark reads back from `table` written as parquet
      * partitioned by `partition`: the data columns, then the partition
      * column, every one nullable. */
    def schemaOf(table: DataFrame, partition: Option[String]): StructType = {
      val (part, data) = table.schema.partition(f => partition.contains(f.name))
      StructType((data ++ part).map(_.copy(nullable = true)))
    }

    /** A descriptor with the parameters `params`: numbers, strings and
      * sequences of them. */
    def apply(kind: String, maxGen: Long, partition: Option[String], schema: StructType)(
        params: (String, Any)*): Descriptor =
      Descriptor(kind, maxGen, Json.valueToTree[JsonNode](ListMap(params: _*).map {
        case (k, s: Seq[_]) => k -> s.asJava
        case kv => kv
      }.asJava), partition, schema)
  }

  private val Json = new ObjectMapper()
  private val DescriptorFile = """_layout\.(\d+)\.json""".r

  /** The descriptor versions among the root entry names `names`. */
  private def versions(names: Seq[String]): Seq[Long] =
    names.collect { case DescriptorFile(v) => v.toLong }

  private def names(fs: FileSystem, dir: String): Seq[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq.sorted

  /** The descriptor of the layout at `dir`. A layout with none fails,
    * naming `build`, the call that writes one; an open commit fails with
    * [[UnfinishedCommit]]. A load that fails while a writer changes the
    * root under it (a roll deleting the version it listed, a commit
    * opening) runs again on the new listing. */
  def descriptor(spark: SparkSession, dir: String, build: String): Descriptor = {
    val fs = fsOf(spark, dir)
    @annotation.tailrec
    def load(listed: Seq[String]): Descriptor = {
      if (listed.contains(Marker)) throw new UnfinishedCommit(dir)
      val v = versions(listed).maxOption.getOrElse(throw new IllegalStateException(
        s"$dir holds no layout descriptor (_layout.<n>.json): rebuild the layout with $build"))
      val loaded = Try {
        val o = Json.readTree(fs.open(new Path(dir, s"_layout.$v.json")))
        Descriptor(o.required("kind").asText, o.required("max_gen").asLong, o.required("params"),
          Option(o.get("partition")).filterNot(_.isNull).map(_.asText),
          DataType.fromJson(o.required("schema").toString).asInstanceOf[StructType])
      }
      loaded match {
        case Success(d) => d
        case Failure(e) =>
          val now = names(fs, dir)
          if (now == listed) throw e else load(now)
      }
    }
    load(names(fs, dir))
  }

  /** Publish `d` as the next descriptor version of the layout at `dir`:
    * written under a temporary name, renamed in, then older versions
    * (and a temporary one a crash left) deleted. */
  def publish(spark: SparkSession, dir: String, d: Descriptor): Unit = {
    val fs = fsOf(spark, dir)
    val old = names(fs, dir).filter(_.startsWith("_layout."))
    val live = new Path(dir, s"_layout.${versions(old).maxOption.fold(0L)(_ + 1)}.json")
    val tmp = suffixed(live, ".tmp")
    writeDescriptor(fs, tmp, d)
    rename(fs, tmp, live)
    old.filterNot(_ == tmp.getName).foreach(n => fs.delete(new Path(dir, n), false))
  }

  /** Stage `d` to replace the live descriptor of the layout at `dir` at
    * its next [[commit]]. */
  def stage(spark: SparkSession, dir: String, d: Descriptor): Unit = {
    val fs = fsOf(spark, dir)
    writeDescriptor(fs, new Path(dir, s"_layout.${versions(names(fs, dir)).max}.json$Staged"), d)
  }

  private def writeDescriptor(fs: FileSystem, p: Path, d: Descriptor): Unit =
    Json.writerWithDefaultPrettyPrinter().writeValue(fs.create(p, true): java.io.OutputStream,
      Json.createObjectNode()
        .put("kind", d.kind).put("max_gen", d.maxGen).put("partition", d.partition.orNull)
        .setAll[ObjectNode](Map("params" -> d.params, "schema" -> Json.readTree(d.schema.json)).asJava))

  /** A pending tombstone set's rows, held on the driver. */
  final case class Tombstones(schema: StructType, rows: Seq[Row]) {
    /** The set as a local relation: a join against it reads no file. */
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, schema)

    /** The (doc, gen) versions the set names, for a driver-side [[minus]]:
      * a row with a null key matches nothing, as in the anti-join. */
    def versions: Set[(Any, Any)] = rows.collect {
      case t if !t.isNullAt(t.fieldIndex("doc")) && !t.isNullAt(t.fieldIndex("gen")) =>
        (t.getAs[Any]("doc"), t.getAs[Any]("gen"))
    }.toSet
  }

  /** The rows of the pending tombstone set `dir/name`, if any, or the
    * memo's copy if the set's listing has not changed since that load.
    * A load that fails while a writer changes the layout under it (a
    * commit clearing the set it listed) runs again on the new listing —
    * and fails with [[UnfinishedCommit]] if that shows the marker. */
  def pending(spark: SparkSession, dir: String, name: String = "_tombstones"): Option[Tombstones] = {
    val (key, before) = listing(spark, dir, name)
    if (before._1) throw new UnfinishedCommit(dir)
    // the marker flag and the files alike
    def unchanged: Boolean = listing(spark, dir, name)._2 == before
    memo.get(key) match {
      case (`before`, held) => held
      case _ =>
        Try(tombstones(spark, dir, name).map(t => Tombstones(t.schema, t.collect().toSeq))) match {
          case Success(v) =>
            if (unchanged) memo.put(key, (before, v))
            v
          case Failure(_) if !unchanged => pending(spark, dir, name)
          case Failure(e) => throw e
        }
    }
  }

  /** (commit marker present, (name, length, mtime) of every entry) */
  private type Listing = (Boolean, Seq[(String, Long, Long)])

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Listing, Option[Tombstones])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Listing, Option[Tombstones])]): Boolean =
        size() > MemoEntries
    })

  /** The memo key of the tombstone set `dir/name` and its listing now. */
  private def listing(spark: SparkSession, dir: String, name: String): (String, Listing) = {
    val fs = fsOf(spark, dir)
    val p = fs.makeQualified(new Path(dir, name))
    val files =
      try fs.listStatus(p).toSeq.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Nil }
    (p.toString, (fs.exists(new Path(dir, Marker)), files.sorted))
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def suffixed(p: Path, suffix: String): Path = new Path(p.toString + suffix)

  /** Read the parquet table at `path` through its listed data files —
    * the entries whose names start with neither `_` nor `.`. A side
    * table of a layout (`_tombstones`, `_manifest`, `_index`)
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
      else fs.listStatus(p).toSeq.map(_.getPath).filter(isData).map(_.toString)
    val reader = spark.read.option("mergeSchema", mergeSchema)
    // basePath keeps partition columns of a partitioned table's subdirs
    if (data.isEmpty || data.size > maxListedPaths(spark)) reader.parquet(path)
    else reader.option("basePath", path).parquet(data: _*)
  }

  /** How many paths Spark lists on the driver; past that it lists them
    * with a job. */
  private def maxListedPaths(spark: SparkSession): Int =
    spark.sessionState.conf.parallelPartitionDiscoveryThreshold

  /** The rows of a partitioned table whose partition column is one of
    * a set of values, as one [[slice]] listing found them: the data
    * files of those values' `part=<v>` directories. */
  final class Slice private[LayoutFiles] (
      spark: SparkSession, path: String, part: String, values: Seq[Any],
      schema: StructType, files: Seq[(FileStatus, Any)]) {

    /** The listed files' bytes: what Spark sizes their scan at for a
      * broadcast. */
    val bytes: Long = files.map(_._1.getLen).sum

    /** The slice as a Spark scan of its files' directories (with
      * `basePath`, so `part` stays a column), filtered on `part` so that
      * each scan carries the values as `PartitionFilters`. The
      * directories are read in groups of at most Spark's
      * `parallelPartitionDiscovery.threshold` — past that many paths
      * Spark lists them with a job — and a swap that changes the root
      * while Spark lists them is listed again, as in [[slice]]. */
    lazy val frame: DataFrame = {
      val dirs = files.map(_._1.getPath.getParent).distinct
      val reader = spark.read.schema(schema).option("basePath", path)
      val scan = stable(fsOf(spark, path), new Path(path)) {
        if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
        else dirs.grouped(math.max(1, maxListedPaths(spark)))
          .map(g => reader.parquet(g.map(_.toString): _*)).reduce(_ union _)
      }
      scan.where(col(part).isin(values: _*))
    }

    /** The listed files' rows, read on the driver with no Spark job, in
      * the order of `schema` (which names `part` last, as
      * [[Descriptor.schemaOf]] does). Each file goes through Spark's own
      * parquet reader (`ParquetFileFormat.buildReaderWithPartitionValues`,
      * an internal `FileFormat` API whose signature this call pins to
      * Spark 4.1.x), its rows converted as they come and its iterator
      * drained or closed: no task exists to close it. A file gone since
      * the listing — a compaction's swap — fails with a
      * `FileNotFoundException`, never reads as empty. */
    def rows(): Seq[Row] = {
      require(schema.last.name == part, s"$part is not the last column of $schema")
      val data = StructType(schema.init)
      val partType = schema.last.dataType
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, data,
        StructType(Seq(schema.last)), data, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
      files.flatMap { case (f, v) =>
        val value = InternalRow(Cast(Literal(v.toString), partType, zone).eval())
        val it = read(PartitionedFile(value, SparkPath.fromPath(f.getPath), 0L, f.getLen,
          Array.empty[String], f.getModificationTime, f.getLen))
        try it.map(r => toRow(r).asInstanceOf[Row]).toVector
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
    }
  }

  /** The `part=<v>` directories of the parquet table at `path`, read
    * with `schema`, for the partition values `values`: one listing of
    * the root names the directories that exist (a value without one
    * holds no row), and a listing of each names its data files — with
    * Hadoop, however many there are. Either read of the [[Slice]] — its
    * Spark [[Slice.frame]] or its driver [[Slice.rows]], which goes
    * through Spark's internal `FileFormat` reader and is pinned to Spark
    * 4.1.x — reads those.
    *
    * A compaction's commit renames the live table away, then its staged
    * copy in. A listing that meets the gap between the two fails with a
    * missing file, never reads it as an empty table: Spark lists a
    * vanished root path as empty, so the root's modification time is
    * taken before and after the listing, and a slice whose root changed
    * meanwhile (a swap, an append landing) is listed again. */
  def slice(
      spark: SparkSession, path: String, part: String, values: Seq[Any],
      schema: StructType): Slice = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val wanted = values.distinct
    val files = stable(fs, root) {
      val present = fs.listStatus(root).map(_.getPath.getName).toSet
      wanted.filter(v => present(s"$part=$v")).flatMap { v =>
        fs.listStatus(new Path(root, s"$part=$v")).toSeq
          .filter(f => f.isFile && isData(f.getPath)).map(_ -> v)
      }
    }
    new Slice(spark, path, part, wanted, schema, files)
  }

  /** `body`, run again until the modification time of the directory
    * `root` reads the same after it as before; a vanished root fails
    * with a missing file. */
  @annotation.tailrec
  private def stable[A](fs: FileSystem, root: Path)(body: => A): A = {
    // a FileNotFoundException in a swap's gap
    def stamp(): Long = fs.getFileStatus(root).getModificationTime
    val before = stamp()
    val a = body
    if (stamp() == before) a else stable(fs, root)(body)
  }

  private def isData(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** The pending tombstone set `dir/name`, if any, read with [[read]].
    * A set that lists no data file yet — the first delete's write still
    * under way — names nothing. */
  def tombstones(
      spark: SparkSession, dir: String, name: String = "_tombstones",
      mergeSchema: Boolean = false): Option[DataFrame] = {
    val p = new Path(dir, name)
    val listed =
      try fsOf(spark, dir).listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    if (listed.exists(f => isData(f.getPath))) Some(read(spark, p.toString, mergeSchema))
    else None
  }

  /** `df` minus the rows whose `keys` a tombstone names. */
  def minus(df: DataFrame, tomb: Option[DataFrame], keys: Seq[String]): DataFrame =
    tomb.fold(df)(t =>
      df.join(broadcast(t.select(keys.map(col): _*)), keys, "left_anti"))

  /** Tombstone the versions in `live` (rows shaped like the set) that
    * the set `dir/name` does not already name, and hand the memo the
    * set's rows. */
  def retire(
      live: DataFrame, dir: String, keys: Seq[String],
      name: String = "_tombstones"): Unit = {
    val spark = live.sparkSession
    val held = pending(spark, dir, name)
    // a set written before these key columns existed (the pre-cutoff
    // ANN eras) names none of these versions
    val fresh = minus(live,
      held.filter(t => keys.forall(t.schema.fieldNames.contains)).map(_.frame(spark)), keys)
    // parquet stores every column nullable: the schema a reload infers
    val schema = StructType(fresh.schema.map(_.copy(nullable = true)))
    val rows = fresh.collect().toSeq
    // one file, which lands in one rename: a probe beside the delete
    // sees all of it or none
    Tombstones(schema, rows).frame(spark).coalesce(1)
      .write.mode("append").parquet(new Path(dir, name).toString)
    held match {
      case Some(t) if t.schema != schema => // an older era's set: the next call reloads
      case _ =>
        val (key, now) = listing(spark, dir, name)
        if (!now._1) memo.put(key, (now, Some(Tombstones(schema, held.fold(rows)(_.rows ++ rows)))))
    }
  }

  /** Stage `df` as the next contents of table `dir/table`, in as many
    * files as the live table's bytes fill at [[TargetBytesPerFile]] and
    * clustered by `partBy` when the table is partitioned. Nothing
    * serves it until [[commit]] (or [[swap]]). */
  def rewrite(dir: String, table: String, partBy: Option[String])(df: DataFrame): Unit = {
    val live = new Path(dir, table)
    val bytes = fsOf(df.sparkSession, dir).getContentSummary(live).getLength
    val files = math.max(1L, (bytes + TargetBytesPerFile - 1) / TargetBytesPerFile).toInt
    // at least a task per core: each bucket still hashes to one task,
    // so one file per bucket, written in parallel
    val w = partBy.fold(df.coalesce(files))(c =>
      df.repartition(math.max(files, df.sparkSession.sparkContext.defaultParallelism), col(c)))
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
    * descriptor lands leaves rows of that generation which the
    * descriptor does not count, and the marker beside them; probes skip
    * the rows (they read `gen <= max_gen`). The next append that finds the marker runs
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
