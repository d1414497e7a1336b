package graft.pipeline

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileUtil,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.SparkSpec

/** A local file system under the `crashfs` scheme that can fail its
  * N-th mutating call (create, rename, a delete of something) and every
  * one after it, the way a dead writer makes no further changes, and
  * can run a hook after a directory listing or before a file open (a
  * writer acting while a reader lists or reads, or a reader watched).
  * Spark's own task-commit bookkeeping (`_temporary`, `_SUCCESS`) is
  * not counted, so N walks the layout lifecycle's own steps; a crash
  * inside a Spark write shows up as the staging it leaves, which the
  * counted steps around it already cover.
  */
object CrashFs {
  val Scheme = "crashfs"
  @volatile private var countdown = -1 // -1 disarmed, 0 crashed

  /** Fail the `n`-th counted call from now on. */
  def arm(n: Int): Unit = countdown = n

  def disarm(): Unit = countdown = -1

  /** Runs after every `listStatus`, with the listed path. */
  @volatile var afterList: Path => Unit = _ => ()

  /** Runs before every `open`, with the opened path. */
  @volatile var beforeOpen: Path => Unit = _ => ()

  /** `body`'s value and the data files (`part-*`) it opened. */
  def opened[A](body: => A): (A, Seq[Path]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    beforeOpen = p => seen.add(p)
    try {
      val out = body
      (out, seen.asScala.toSeq.filter(_.getName.startsWith("part-")))
    } finally beforeOpen = _ => ()
  }

  private[pipeline] def step(p: Path): Unit = synchronized {
    val s = p.toString
    if (countdown >= 0 && !s.contains("_temporary") && p.getName != "_SUCCESS") {
      if (countdown > 0) countdown -= 1
      if (countdown == 0) throw new java.io.IOException(s"injected crash at $p")
    }
  }
}

class CrashRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme
}

class CrashLocalFs extends LocalFileSystem(new CrashRawFs) {
  override def getScheme: String = CrashFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(src); super.rename(src, dst)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    val listed = super.listStatus(p)
    CrashFs.afterList(p)
    listed
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CrashFs.beforeOpen(p)
    super.open(p, bufferSize)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (exists(p)) CrashFs.step(p)
    super.delete(p, recursive)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step(p)
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** The crash contract of [[LayoutFiles]], one row per persisted layout
  * family: a compaction cut at EVERY one of its file-system steps, then
  * the next lifecycle write, must serve and store exactly what an
  * uninterrupted run does — and a probe in between never repairs and
  * never serves a wrong answer.
  */
class LayoutFilesSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashLocalFs].getName)

  private val base = s"${CrashFs.Scheme}://" +
    new java.io.File(s"target/graft-tmp/layout-files-${System.nanoTime()}")
      .getAbsolutePath

  private def fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every path under `dir` and beside it (its `<dir>__*` siblings),
    * part-file names normalized — the uuid in them differs per write. */
  private def listing(dir: String): Seq[String] = {
    val root = new Path(dir)
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { s =>
      val rel = s.getPath.toString.stripPrefix(root.getParent.toString)
      val name =
        if (s.getPath.getName.startsWith("part-")) rel.stripSuffix(s.getPath.getName) + "part"
        else rel
      if (s.isDirectory) name +: walk(s.getPath) else Seq(name)
    }
    walk(root.getParent).filter(_.startsWith("/" + root.getName)).sorted
  }

  /** One layout family: `build` writes it and leaves deletes pending,
    * `compact` is the step under test, `next` is a later lifecycle
    * write, `serve` what a reader sees. */
  private case class Family(
      name: String,
      build: String => Unit,
      compact: String => Unit,
      next: String => Unit,
      serve: String => Seq[String])

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val r = df.collect().map(_.mkString("|")).sorted.toSeq
    OperatorCache.releaseAll(spark)
    r
  }

  private val textCorpus = Seq(
    (1L, "spark joins vectors and filters over the wide corpus tables"),
    (2L, "the filter filter filter doc repeats one query term often"),
    (3L, "vectors vectors appear twice here with a join nearby"),
    (4L, "nothing relevant lives in this document at all"),
    (5L, "join vector filter all three terms appear in this one"),
  )

  private def phrase(tag: String) =
    s"alpha beta gamma delta $tag epsilon zeta eta theta iota kappa " +
      s"lambda mu nu xi omicron $tag pi rho sigma"

  private def unit(g: Int, jitter: Float): Seq[Float] = {
    val v = Array.fill(8)(0f); v(g) = 1f; v(7) = jitter; v.toSeq
  }

  private def sentence(tag: String) =
    s"the $tag morning report describes how the valley weather shifted " +
      s"over seven quiet days while local farmers watched the $tag clouds drift"

  private val dedupState = Family("dedup-state",
    d => {
      Similarity.writeDedupState(
        (0 until 6).map(i => (i.toLong, unit(i % 3, 0.001f * i)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", d, threshold = 0.9, k = 2)
      Similarity.deleteFromDedupState(spark, d, Seq(1L, 4L).toDF("vec_id"), "vec_id")
    },
    d => Similarity.compactDedupState(spark, d),
    d => Similarity.deleteFromDedupState(spark, d, Seq(0L, 3L).toDF("vec_id"), "vec_id"),
    d => rows(Similarity.semanticDedupFromState(spark, d,
      Seq((10L, unit(0, 0.01f)), (11L, unit(1, 0.01f)), (12L, unit(4, 0f)))
        .toDF("vec_id", "embedding")).select("vec_id")))

  private val families = Seq(
    Family("text",
      d => {
        TextSearch.writeIndex(textCorpus.toDF("doc_id", "text"), "doc_id", "text", d,
          buckets = 4)
        TextSearch.deleteFromIndex(spark, d, Seq(5L).toDF("doc_id"), "doc_id")
      },
      d => TextSearch.compactIndex(spark, d),
      d => TextSearch.deleteFromIndex(spark, d, Seq(4L).toDF("doc_id"), "doc_id"),
      d => rows(TextSearch.searchTopK(spark, d, Seq("join", "vector", "filter"), k = 5))),
    Family("shingle",
      d => {
        Dedup.writeShingleIndex(Seq((1L, phrase("one")), (2L, phrase("two")),
          (3L, phrase("three"))).toDF("doc_id", "text"), "doc_id", "text", d,
          shingleK = 5, buckets = 4)
        Dedup.deleteFromShingleIndex(spark, d, Seq(2L).toDF("doc_id"), "doc_id")
      },
      d => Dedup.compactShingleIndex(spark, d),
      d => Dedup.deleteFromShingleIndex(spark, d, Seq(3L).toDF("doc_id"), "doc_id"),
      d => rows(Dedup.probeContamination(spark, d,
        Seq((100L, phrase("one"))).toDF("doc_id", "text"), "doc_id", "text",
        minOverlap = 3))),
    dedupState,
    dedupState.copy(name = "dedup-state rebuild",
      compact = d => Similarity.rebuildDedupState(spark, d, k = 2)),
    Family("ann",
      d => {
        Similarity.writeIndexed(
          (0 until 24).map(i => (i.toLong,
            Seq.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat)))
            .toDF("vec_id", "embedding"),
          "embedding", d, planes = 3)
        Similarity.deleteFromIndex(Seq(0L, 5L).toDF("vec_id"), "vec_id", d)
      },
      d => Similarity.compactIndex(spark, d, "vec_id"),
      d => Similarity.deleteFromIndex(Seq(7L).toDF("vec_id"), "vec_id", d),
      d => rows(Similarity.probeIndexed(spark, d, "vec_id", "embedding",
        Seq.tabulate(8)(j => math.sin(j.toDouble).toFloat), k = 6, planes = 3))),
    Family("curate-state",
      d => {
        TrainingPipeline.writeState(TrainingPipeline.curateState(
          Seq(1L -> sentence("alpha"), 2L -> sentence("bravo"),
            3L -> sentence("charlie")).toDF("doc_id", "text"),
          "doc_id", "text", minQuality = 0.3, minWords = 5, dedupThreshold = 0.7), d)
        TrainingPipeline.deleteFromState(spark, d,
          Seq(1L -> sentence("alpha")).toDF("doc_id", "text"), "doc_id",
          textCol = Some("text"))
      },
      d => TrainingPipeline.compactState(spark, d),
      d => TrainingPipeline.deleteFromState(spark, d,
        Seq(2L -> sentence("bravo")).toDF("doc_id", "text"), "doc_id",
        textCol = Some("text")),
      d => {
        val st = TrainingPipeline.readState(spark, d)
        rows(st.cleaned.select("doc")) ++ rows(st.bandIndex.select("doc")) ++
          st.seenKeys.toSeq.flatMap(k => rows(k))
      }),
  )

  families.foreach { f =>
    test(s"${f.name}: a compaction cut at any step converges on the next write") {
      val pristine = s"$base/${f.name}/pristine/layout"
      f.build(pristine)
      def fresh(tag: String): String = {
        val d = s"$base/${f.name}/$tag/layout"
        FileUtil.copy(fs, new Path(pristine), fs, new Path(d), false,
          spark.sparkContext.hadoopConfiguration)
        d
      }
      // the uninterrupted runs: the next write after the compaction, or
      // after none — a cut compaction must land on exactly one of them
      val ref = fresh("ref")
      val skipped = fresh("skipped")
      f.compact(ref)
      val served = Set(f.serve(ref), f.serve(skipped))
      f.next(ref)
      f.next(skipped)
      val outcomes = Set((f.serve(ref), listing(ref)), (f.serve(skipped), listing(skipped)))

      var n = 1
      var crashed = true
      while (crashed) {
        val d = fresh(s"crash-$n")
        CrashFs.arm(n)
        crashed =
          try { f.compact(d); false }
          catch { case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains("injected crash"))) => true }
          finally CrashFs.disarm()
        // a probe never repairs, and it serves the right answer or fails
        val before = listing(d)
        scala.util.Try(f.serve(d)).fold(
          e => assert(f.name != "text" || e.getMessage.contains("unfinished layout commit"),
            s"step $n: a BM25 probe must name the open commit, got $e"),
          got => assert(served.contains(got), s"step $n: probe served $got"))
        assert(listing(d) == before, s"step $n: the probe changed the layout")
        f.next(d)
        assert(outcomes.contains((f.serve(d), listing(d))),
          s"step $n: served ${f.serve(d)} from ${listing(d)}")
        n += 1
      }
      assert(n > 4, s"the compaction ran only ${n - 1} counted steps")
    }
  }

  test("a BM25 probe refuses a layout whose commit marker is open") {
    val d = s"$base/marker/layout"
    TextSearch.writeIndex(textCorpus.toDF("doc_id", "text"), "doc_id", "text", d,
      buckets = 4)
    fs.create(new Path(d, "_commit"), true).close()
    val e = intercept[IllegalStateException](
      TextSearch.searchTopK(spark, d, Seq("join"), k = 3).collect())
    assert(e.getMessage.contains("unfinished layout commit"), e.getMessage)
    // the next lifecycle write closes it
    TextSearch.deleteFromIndex(spark, d, Seq(4L).toDF("doc_id"), "doc_id")
    assert(TextSearch.searchTopK(spark, d, Seq("join"), k = 3).count() > 0)
    assert(!fs.exists(new Path(d, "_commit")))
  }

  /** An appending family: `build` writes the base layout, `append` and
    * `update` (delete + append) take a batch of (doc_id, text), `serve`
    * is a probe that every batch below moves. */
  private case class Appending(
      name: String,
      build: String => Unit,
      append: (org.apache.spark.sql.DataFrame, String) => Unit,
      update: (org.apache.spark.sql.DataFrame, String) => Unit,
      serve: String => Seq[String],
      cut: Seq[(Long, String)],
      next: Seq[(Long, String)])

  private val appendings = Seq(
    Appending("text",
      d => TextSearch.writeIndex(textCorpus.toDF("doc_id", "text"), "doc_id", "text", d,
        buckets = 4),
      (b, d) => TextSearch.appendIndex(b, "doc_id", "text", d),
      (b, d) => TextSearch.updateIndex(b, "doc_id", "text", d),
      d => rows(TextSearch.searchTopK(spark, d, Seq("join", "vector", "filter"), k = 10)),
      cut = Seq((6L, "join vector filter join spark"), (7L, "vectors filter here")),
      next = Seq((6L, "filter again in other words"), (8L, "join join vector"))),
    Appending("shingle",
      d => Dedup.writeShingleIndex(Seq((1L, phrase("one")), (2L, phrase("two")),
        (3L, phrase("three"))).toDF("doc_id", "text"), "doc_id", "text", d,
        shingleK = 5, buckets = 4),
      (b, d) => Dedup.appendShingleIndex(b, "doc_id", "text", d),
      (b, d) => Dedup.updateShingleIndex(b, "doc_id", "text", d),
      d => rows(Dedup.probeContamination(spark, d,
        Seq((100L, phrase("one")), (101L, phrase("six"))).toDF("doc_id", "text"),
        "doc_id", "text", minOverlap = 3)),
      cut = Seq((6L, phrase("one")), (7L, phrase("six"))),
      next = Seq((6L, phrase("seven")), (8L, phrase("one")))),
  )

  appendings.foreach { f =>
    test(s"${f.name}: an append cut at any step serves only committed rows, then or after the next update") {
      val pristine = s"$base/append-${f.name}/pristine/layout"
      f.build(pristine)
      def fresh(tag: String): String = {
        val d = s"$base/append-${f.name}/$tag/layout"
        FileUtil.copy(fs, new Path(pristine), fs, new Path(d), false,
          spark.sparkContext.hadoopConfiguration)
        d
      }
      // the uninterrupted runs: the update after the cut batch, or
      // after none — what a cut append serves decides which one counts
      val ref = fresh("ref")
      val skipped = fresh("skipped")
      val pre = f.serve(skipped)
      f.append(f.cut.toDF("doc_id", "text"), ref)
      val post = f.serve(ref)
      assert(post != pre, "the cut batch moves the probe")
      f.update(f.next.toDF("doc_id", "text"), ref)
      f.update(f.next.toDF("doc_id", "text"), skipped)
      val outcome = Map(pre -> f.serve(skipped), post -> f.serve(ref))
      assert(outcome(pre) != outcome(post))

      var n = 1
      var crashed = true
      while (crashed) {
        val d = fresh(s"crash-$n")
        CrashFs.arm(n)
        crashed =
          try { f.append(f.cut.toDF("doc_id", "text"), d); false }
          catch { case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains("injected crash"))) => true }
          finally CrashFs.disarm()
        val served = f.serve(d)
        assert(outcome.contains(served), s"step $n: probe served $served")
        // the update deletes doc 6, which only the cut batch may hold,
        // and writes the next generation
        f.update(f.next.toDF("doc_id", "text"), d)
        assert(f.serve(d) == outcome(served), s"step $n")
        n += 1
      }
      // the marker, the descriptor's temporary file, its rename, the old
      // version's removal, the marker's removal; the cut between the
      // rows and the descriptor that Spark's write commit leaves
      // uncounted is TextSearchSpec's and ShingleIndexSpec's "a probe
      // serves only committed generations"
      assert(n > 6, s"the append ran only ${n - 2} counted steps")
    }
  }

  test("a probe whose slice meets a commit's gap fails, never serves it as an empty table") {
    // a commit renames the live postings away, then the staged copy in
    val text = s"$base/gap/text"
    TextSearch.writeIndex(textCorpus.toDF("doc_id", "text"), "doc_id", "text", text,
      buckets = 4)
    val shingles = s"$base/gap/shingles"
    Dedup.writeShingleIndex(Seq((1L, phrase("one")), (2L, phrase("two"))).toDF("doc_id", "text"),
      "doc_id", "text", shingles, shingleK = 5, buckets = 4)
    val probes = Seq(
      text -> (() => rows(TextSearch.searchTopK(spark, text, Seq("join", "vector"), k = 3))),
      shingles -> (() => rows(Dedup.probeContamination(spark, shingles,
        Seq((100L, phrase("one"))).toDF("doc_id", "text"), "doc_id", "text", minOverlap = 3))))
    def missingFile(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m => m.contains("PATH_NOT_FOUND") || m.contains("does not exist"))
      }
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    // the bucket-directory scan, then the root scan past the threshold
    for (threshold <- Seq(32, 1); (layout, probe) <- probes)
      withClue(s"$layout, threshold $threshold: ") {
        withSQLConf(key -> threshold.toString) {
          val served = probe() // the bookkeeping memo is warm: no Spark job sees the gap
          assert(served.nonEmpty)
          val live = new Path(layout, "postings")
          val gap = new Path(layout, "postings__old")
          // the gap opened before the slice lists
          fs.rename(live, gap)
          try assert(missingFile(intercept[Exception](probe())))
          finally fs.rename(gap, live)
          // the gap opens right after the slice's first listing of postings
          CrashFs.afterList = p => if (p.toString.contains("/postings")) {
            CrashFs.afterList = _ => ()
            fs.rename(live, gap)
          }
          try assert(missingFile(intercept[Exception](probe())))
          finally { CrashFs.afterList = _ => (); fs.rename(gap, live) }
          // the gap opens after the listing, as the driver read opens a
          // listed file
          var reads = 0
          CrashFs.beforeOpen = p => if (p.toString.contains("/postings/")) {
            CrashFs.beforeOpen = _ => ()
            reads += 1
            fs.rename(live, gap)
          }
          try assert(missingFile(intercept[Exception](probe())))
          finally { CrashFs.beforeOpen = _ => (); fs.rename(gap, live) }
          assert(reads == 1, "the probe read no listed file")
          assert(probe() == served)
        }
      }
  }

  test("a bookkeeping load that fails while a commit opens fails with UnfinishedCommit") {
    // the bookkeeping is the layout descriptor
    val d = s"$base/descriptor-failure/layout"
    TextSearch.writeIndex(textCorpus.toDF("doc_id", "text"), "doc_id", "text", d, buckets = 4)
    def load() = LayoutFiles.descriptor(spark, d, "TextSearch.writeIndex")
    assert(load().maxGen == 0L)
    // a descriptor no reader decodes: the load fails on its own
    val bad = fs.create(new Path(d, "_layout.0.json"), true)
    bad.write("not json".getBytes("UTF-8"))
    bad.close()
    val own = intercept[Exception](load())
    assert(!own.isInstanceOf[LayoutFiles.UnfinishedCommit], own)
    // the same failure, with a commit opening right after the load listed
    var listings = 0
    CrashFs.afterList = p => if (p.getName == "layout") {
      listings += 1
      if (listings == 1) fs.create(new Path(d, "_commit"), true).close()
    }
    try intercept[LayoutFiles.UnfinishedCommit](load())
    finally CrashFs.afterList = _ => ()
    assert(listings >= 2, "the load listed the layout again")
  }

  /** The entries at the root of the layout at `d`. */
  private def rootNames(d: String): Seq[String] =
    fs.listStatus(new Path(d)).map(_.getPath.getName).toSeq.sorted

  test("every family keeps one descriptor, and no stats/, _meta or params/ table") {
    val vecs = (0 until 12).map(i => (i.toLong, unit(i % 3, 0.001f * i))).toDF("vec_id", "embedding")
    val more = (20 until 23).map(i => (i.toLong, unit(i % 3, 0.002f * i))).toDF("vec_id", "embedding")
    val coarse = Similarity.ivfTrain(vecs, "vec_id", "embedding", k = 2)
    val books = Similarity.trainPq(vecs, "vec_id", "embedding", m = 2, k = 2)
    val texts = textCorpus.toDF("doc_id", "text")
    val later = Seq((9L, "join vectors later")).toDF("doc_id", "text")
    val curateDocs = Seq(1L -> sentence("alpha"), 2L -> sentence("bravo")).toDF("doc_id", "text")
    // each family's lifecycle writes: build, append, delete, compact
    val lifecycles: Seq[(String, Seq[(String, String => Unit)])] = Seq(
      "text" -> Seq(
        "build" -> (d => TextSearch.writeIndex(texts, "doc_id", "text", d, buckets = 4)),
        "append" -> (d => TextSearch.appendIndex(later, "doc_id", "text", d)),
        "delete" -> (d => TextSearch.deleteFromIndex(spark, d, Seq(1L).toDF("doc_id"), "doc_id")),
        "compact" -> (d => TextSearch.compactIndex(spark, d))),
      "shingle" -> Seq(
        "build" -> (d => Dedup.writeShingleIndex(Seq((1L, phrase("one"))).toDF("doc_id", "text"),
          "doc_id", "text", d, shingleK = 5, buckets = 4)),
        "append" -> (d => Dedup.appendShingleIndex(Seq((2L, phrase("two"))).toDF("doc_id", "text"),
          "doc_id", "text", d)),
        "delete" -> (d => Dedup.deleteFromShingleIndex(spark, d, Seq(1L).toDF("doc_id"), "doc_id")),
        "compact" -> (d => Dedup.compactShingleIndex(spark, d))),
      "lsh" -> Seq(
        "build" -> (d => Similarity.writeIndexed(vecs, "embedding", d, planes = 3)),
        "append" -> (d => Similarity.appendIndexed(more, "embedding", d, planes = 3)),
        "delete" -> (d => Similarity.deleteFromIndex(Seq(1L).toDF("vec_id"), "vec_id", d)),
        "compact" -> (d => Similarity.compactIndex(spark, d, "vec_id"))),
      "ivfpq" -> Seq(
        "build" -> (d => Similarity.writeIvfPqResidual(vecs, "embedding", d, coarse, books)),
        "append" -> (d => Similarity.appendIvfPqResidual(more, "embedding", d, coarse, books)),
        "delete" -> (d => Similarity.deleteFromIndex(Seq(1L).toDF("vec_id"), "vec_id", d)),
        "compact" -> (d => Similarity.compactIndex(spark, d, "vec_id")),
        "rebuild" -> (d => Similarity.rebuildIvfPq(spark, d, "vec_id", "embedding", 2, 2, 2))),
      "dedup-state" -> Seq(
        "build" -> (d => Similarity.writeDedupState(vecs, "vec_id", "embedding", d,
          threshold = 0.9, k = 2)),
        "append" -> (d => Similarity.appendDedupState(spark, d, more)),
        "delete" -> (d => Similarity.deleteFromDedupState(spark, d, Seq(1L).toDF("vec_id"),
          "vec_id")),
        "compact" -> (d => Similarity.compactDedupState(spark, d)),
        "rebuild" -> (d => Similarity.rebuildDedupState(spark, d, k = 2))),
      "curate-state" -> Seq(
        "build" -> (d => TrainingPipeline.writeState(TrainingPipeline.curateState(curateDocs,
          "doc_id", "text", minQuality = 0.3, minWords = 5, dedupThreshold = 0.7), d)),
        "append" -> (d => TrainingPipeline.appendState(TrainingPipeline.readState(spark, d),
          Seq(3L -> sentence("charlie")).toDF("doc_id", "text"), "doc_id", "text", d)),
        "delete" -> (d => TrainingPipeline.deleteFromState(spark, d,
          Seq(1L -> sentence("alpha")).toDF("doc_id", "text"), "doc_id", textCol = Some("text"))),
        "compact" -> (d => TrainingPipeline.compactState(spark, d))))
    for ((family, steps) <- lifecycles) {
      val d = s"$base/format/$family"
      for ((step, write) <- steps) withClue(s"$family after $step: ") {
        write(d)
        OperatorCache.releaseAll(spark)
        val names = rootNames(d)
        assert(names.count(_.startsWith("_layout")) == 1 &&
          names.exists(_.matches("_layout\\.\\d+\\.json")), names)
        assert(Seq("stats", "_meta", "params").forall(t => !names.contains(t)), names)
      }
    }
    // a layout without one fails loudly, naming the call that writes one
    val d = s"$base/format/text"
    rootNames(d).filter(_.startsWith("_layout")).foreach(n => fs.delete(new Path(d, n), false))
    val e = intercept[IllegalStateException](TextSearch.searchTopK(spark, d, Seq("join")))
    assert(e.getMessage.contains("TextSearch.writeIndex"), e.getMessage)
  }

  test("ivfpq and dedup-state: an append cut at any step leaves the old or the new descriptor") {
    val vecs = (0 until 24).map(i => (i.toLong, unit(i % 3, 0.001f * i))).toDF("vec_id", "embedding")
    val batch = (30 until 34).map(i => (i.toLong, unit(i % 4, 0.002f * i))).toDF("vec_id", "embedding")
    val coarse = Similarity.ivfTrain(vecs, "vec_id", "embedding", k = 3)
    val books = Similarity.trainPq(vecs, "vec_id", "embedding", m = 2, k = 4)
    val drifted = Similarity.ivfTrain(vecs, "vec_id", "embedding", k = 2)
    val q = unit(1, 0.01f)
    def drift(e: => Any): Unit = {
      val m = intercept[IllegalArgumentException](e).getMessage
      assert(m.contains("was written with"), m)
    }
    // (name, build, append, a check that the layout opens and that its
    // parameter guard holds)
    val cases = Seq[(String, String => Unit, String => Unit, String => Unit)](
      ("ivfpq",
        d => Similarity.writeIvfPq(vecs, "embedding", d, coarse, books),
        d => Similarity.appendIvfPq(batch, "embedding", d, coarse, books),
        d => {
          assert(rows(Similarity.probeIvfPq(spark, d, "vec_id", "embedding", coarse, books,
            q, k = 3)).nonEmpty)
          drift(Similarity.probeIvfPq(spark, d, "vec_id", "embedding", drifted, books, q, k = 3))
          drift(Similarity.appendIvfPq(batch, "embedding", d, drifted, books))
          drift(Similarity.appendIvfPqResidual(batch, "embedding", d, coarse, books))
        }),
      ("dedup-state",
        d => Similarity.writeDedupState(vecs, "vec_id", "embedding", d, threshold = 0.9, k = 2),
        d => Similarity.appendDedupState(spark, d, batch),
        d => assert(rows(Similarity.semanticDedupFromState(spark, d,
          Seq((40L, unit(0, 0.5f)), (41L, unit(5, 0f))).toDF("vec_id", "embedding"))
          .select("vec_id")).nonEmpty)))
    for ((name, build, append, opens) <- cases) withClue(s"$name: ") {
      val pristine = s"$base/append-$name/pristine/layout"
      build(pristine)
      def fresh(tag: String): String = {
        val d = s"$base/append-$name/$tag/layout"
        FileUtil.copy(fs, new Path(pristine), fs, new Path(d), false,
          spark.sparkContext.hadoopConfiguration)
        d
      }
      def descriptor(d: String) = LayoutFiles.descriptor(spark, d, name)
      val ref = fresh("ref")
      append(ref)
      val (old, next) = (descriptor(pristine), descriptor(ref))
      assert(old.maxGen == 0L && next == old.copy(maxGen = 1L))
      var n = 1
      var crashed = true
      while (crashed) {
        val d = fresh(s"crash-$n")
        CrashFs.arm(n)
        crashed =
          try { append(d); false }
          catch { case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains("injected crash"))) => true }
          finally CrashFs.disarm()
        val got = descriptor(d)
        assert(got == old || got == next, s"step $n: $got")
        opens(d)
        OperatorCache.releaseAll(spark)
        n += 1
      }
      // the descriptor's temporary file, its rename, the old version's removal
      assert(n > 4, s"the append ran only ${n - 2} counted steps")
    }
  }

  test("read: a side table's data files, or its directory past Spark's listing threshold") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    for (threshold <- Seq(32, 2)) withClue(s"threshold $threshold: ") {
      // a dir per case: Spark caches the file listing of a path it read
      val d = s"$base/read-$threshold/_side"
      spark.range(0, 30, 1, 3).toDF("doc").write.mode("overwrite").parquet(d)
      spark.conf.set(key, threshold.toString)
      try {
        // three data files past a threshold of 2 would be listed by a job
        val (df, jobs) = jobsOf(LayoutFiles.read(spark, d))
        assert(jobs == jobsOf(spark.read.parquet(d))._2)
        assert(df.as[Long].collect().sorted.toSeq == (0L until 30L))
      } finally spark.conf.unset(key)
    }
  }
}
