package graft.pipeline

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Shingle-postings index contracts: probe verdicts equal the
  * corpus-scan decontaminate, the probe scan is partition-pruned, and
  * probe parameters come from the persisted stats (no mismatch risk).
  */
class ShingleIndexSpec extends SparkSpec {
  import spark.implicits._

  private def phrase(tag: String) =
    s"alpha beta gamma delta $tag epsilon zeta eta theta iota kappa " +
      s"lambda mu nu xi omicron $tag pi rho sigma"

  private lazy val corpus = Seq(
    (1L, phrase("one")),                       // shares long runs with block doc
    (2L, phrase("two")),
    (3L, "completely different words entirely distinct content here " +
      "nothing shared with any benchmark text at all in this document"),
  ).toDF("doc_id", "text")
  private lazy val block = Seq((100L, phrase("one"))).toDF("doc_id", "text")

  test("probeContamination ≡ decontaminate's verdict; scan partition-pruned") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashLocalFs].getName)
    val dir = s"${CrashFs.Scheme}://" +
      new java.io.File(s"target/graft-test/shidx_${System.nanoTime()}").getAbsolutePath
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir,
      shingleK = 5, buckets = 16)
    def probe() = Dedup.probeContamination(spark, dir, block, "doc_id", "text",
      minOverlap = 3)
    val (probed, read) = CrashFs.opened(probe().collect().toSeq)
    val flagged = probed.map(_.getLong(0)).toSet
    // ground truth: the corpus-scan screen drops exactly the flagged docs
    val survivors = Dedup.decontaminate(corpus, "doc_id", "text",
        block, "doc_id", "text", shingleK = 5, minOverlap = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(1L, 2L) && survivors == Set(3L),
      s"probe $flagged vs scan survivors $survivors")
    // overlap counts are exact: doc 1 shares every blocklist shingle
    val n1 = probed.find(_.getLong(0) == 1L).get.getLong(1)
    val blockShingles = Dedup.shingleRows(block, "doc_id", "text", 5)
      .select("shingle").distinct().count()
    assert(n1 == blockShingles, s"doc 1 overlap $n1 != all $blockShingles")
    // the driver read opened the data files of the blocklist's buckets,
    // each once, and no other
    val sbs = Dedup.shingleHashRows(block, "doc_id", "text", 5)
      .select(pmod(col("sh"), lit(16L))).distinct().as[Long].collect().toSeq
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = sbs.map(sb => new Path(dir, s"postings/sb=$sb")).filter(fs.exists)
      .flatMap(fs.listStatus(_).map(_.getPath).filter(_.getName.startsWith("part-")))
    assert(files.nonEmpty && read.sortBy(_.toString) == files.sortBy(_.toString),
      s"$read vs $files")
    // the Spark plan: the postings scan carries static partition pruning
    // on sb and lists only the blocklist's bucket directories (whole
    // paths: the layout's absolute one would cut the plan string short)
    val (fallback, plan) = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.maxMetadataStringLength" -> "1000") {
      val df = probe()
      (df.collect().toSeq.sortBy(_.getLong(0)), df.queryExecution.executedPlan.toString)
    }
    assert(fallback == probed.sortBy(_.getLong(0)))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("sb#") && l.contains("IN") || pf.exists(_.contains("sb#"))),
      s"expected sb partition pruning, got:\n${plan.take(600)}")
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(l => l.contains("postings/sb=") && !l.contains("postings]")),
      s"expected a scan of the bucket directories, got:\n${plan.take(1200)}")
    // probe parameters come from stats: a second index with different k
    // still probes correctly without the caller restating k
    val dir2 = s"target/graft-test/shidx2_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir2,
      shingleK = 8, buckets = 4)
    val probed8 = Dedup.probeContamination(spark, dir2, block, "doc_id", "text",
      minOverlap = 3).select("doc").as[Long].collect().toSet
    val scan8 = corpus.select("doc_id").as[Long].collect().toSet --
      Dedup.decontaminate(corpus, "doc_id", "text", block, "doc_id", "text",
        shingleK = 8, minOverlap = 3).select("doc_id").as[Long].collect().toSet
    assert(probed8 == scan8, s"k=8: probe $probed8 vs scan-dropped $scan8")
  }

  test("appendShingleIndex: append ≡ rebuild, k/buckets come from stats") {
    val batch = Seq((10L, phrase("one") + " appended variant")).toDF("doc_id", "text")
    val appendDir = s"target/graft-test/shidx_app_${System.nanoTime()}"
    val rebuildDir = s"target/graft-test/shidx_rb_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", appendDir,
      shingleK = 5, buckets = 16)
    Dedup.appendShingleIndex(batch, "doc_id", "text", appendDir)
    Dedup.writeShingleIndex(corpus.unionByName(batch), "doc_id", "text",
      rebuildDir, shingleK = 5, buckets = 16)
    def probe(dir: String) =
      Dedup.probeContamination(spark, dir, block, "doc_id", "text",
          minOverlap = 3)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(probe(appendDir) == probe(rebuildDir),
      "appended index must probe identically to a rebuild")
    // the appended doc is itself flagged (it contains phrase("one"))
    assert(probe(appendDir).map(_._1).contains(10L))
  }

  test("string-keyed layout: delete joins on the id AS STORED (no long cast)") {
    // URL-keyed recrawl shape (r16 ADVICE): a delete that cast string
    // keys to long produced all-null join keys and tombstoned nothing
    val dir = s"target/graft-test/shidx_str_${System.nanoTime()}"
    val urls = Seq(
      ("https://example.org/a", phrase("one")),
      ("https://example.org/b", "entirely different content nothing shared"),
    ).toDF("url", "text")
    Dedup.writeShingleIndex(urls, "url", "text", dir,
      shingleK = 5, buckets = 8)
    Dedup.deleteFromShingleIndex(spark, dir,
      Seq(Tuple1("https://example.org/a")).toDF("url"), "url")
    val flagged = Dedup.probeContamination(spark, dir, block, "doc_id",
      "text", minOverlap = 3).select("doc").as[String].collect().toSeq
    assert(flagged.isEmpty,
      s"the deleted url must stop matching the blocklist, got $flagged")
    assert(spark.read.parquet(s"$dir/_tombstones")
      .where(col("doc") === "https://example.org/a").count() == 1,
      "the tombstone must actually land for the string key")
  }

  test("delete ids that don't cast to the stored key type fail fast, not no-op") {
    // r17 ADVICE: string garbage against a long-keyed layout cast to
    // null and silently deleted nothing — a right-to-forget bug
    val dir = s"target/graft-test/shidx_badkey_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir,
      shingleK = 5, buckets = 8)
    val e = intercept[IllegalArgumentException] {
      Dedup.deleteFromShingleIndex(spark, dir,
        Seq(Tuple1("https://example.org/a")).toDF("url"), "url")
    }
    assert(e.getMessage.contains("https://example.org/a") &&
      e.getMessage.contains("stored key type"), e.getMessage)
  }

  test("lifecycle: delete, update (recrawl), compact ≡ rebuild; replay-safe") {
    val dir = s"target/graft-test/shidx_lc_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir,
      shingleK = 5, buckets = 16)
    def probe() =
      Dedup.probeContamination(spark, dir, block, "doc_id", "text",
        minOverlap = 3).as[(Long, Long)].collect().sortBy(_._1).toSeq
    // DELETE doc 2: stops matching at the next probe, no rewrite
    Dedup.deleteFromShingleIndex(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    assert(probe().map(_._1) == Seq(1L), s"after delete: ${probe()}")
    // replaying the same delete appends nothing (idempotent)
    Dedup.deleteFromShingleIndex(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    val tombs = spark.read.parquet(s"$dir/_tombstones").count()
    assert(tombs == 1L, s"delete replay must not re-tombstone: $tombs rows")
    // UPDATE doc 1 (recrawl: content no longer contaminated) + doc 3
    // (recrawl: now contaminated) — the mixed changed batch, one call
    Dedup.updateShingleIndex(Seq(
        (1L, "rewritten page with none of the benchmark phrasing left"),
        (3L, phrase("one")),
      ).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(probe().map(_._1) == Seq(3L), s"after update: ${probe()}")
    // COMPACT folds the versions out; the probe verdict is unchanged
    // and matches an index built fresh from the final corpus
    val before = probe()
    Dedup.compactShingleIndex(spark, dir)
    assert(probe() == before, "compaction must not change the verdict")
    val rb = s"target/graft-test/shidx_lc_rb_${System.nanoTime()}"
    Dedup.writeShingleIndex(Seq(
        (1L, "rewritten page with none of the benchmark phrasing left"),
        (3L, phrase("one")),
      ).toDF("doc_id", "text"), "doc_id", "text", rb,
      shingleK = 5, buckets = 16)
    assert(probe() == Dedup.probeContamination(spark, rb, block, "doc_id",
        "text", minOverlap = 3).as[(Long, Long)].collect().sortBy(_._1).toSeq,
      "compacted index must probe identically to a final-corpus rebuild")
    // compacted: tombstones cleared, no dead versions left on disk
    assert(!new org.apache.hadoop.fs.Path(s"$dir/_tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$dir/_tombstones")))
    assert(spark.read.parquet(s"$dir/docs").count() == 2L)
  }

  private def probeRows(dir: String) =
    Dedup.probeContamination(spark, dir, block, "doc_id", "text", minOverlap = 3)
      .collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  test("a probe serves only committed generations") {
    // an append that landed its postings for max_gen + 1, then died
    // before its descriptor
    val dir = s"target/graft-test/shidx_orphan_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir, shingleK = 5, buckets = 8)
    val before = probeRows(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    // the uninterrupted run: the layout without the cut batch
    val skipped = s"$dir-skipped"
    FileUtil.copy(fs, new Path(dir), fs, new Path(skipped), false, conf)
    CutAppend(spark, dir) {
      Dedup.appendShingleIndex(Seq((10L, phrase("one"))).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      assert(probeRows(dir) != before, "the appended doc shares the blocklist's shingles")
    }
    assert(probeRows(dir) == before)
    // with the cut append's `_append` marker beside its rows, the next
    // update folds them out before it writes generation 1 again: it
    // equals the same update of the uninterrupted run, and serves the
    // fresh version of doc 10, which the cut batch also holds
    val cut = s"$dir-cut"
    FileUtil.copy(fs, new Path(dir), fs, new Path(cut), false, conf)
    fs.create(new Path(cut, "_append"), true).close()
    val update = Seq((10L, phrase("ten")), (11L, phrase("one"))).toDF("doc_id", "text")
    Dedup.updateShingleIndex(update, "doc_id", "text", cut)
    Dedup.updateShingleIndex(update, "doc_id", "text", skipped)
    assert(probeRows(cut) == probeRows(skipped))
    assert(probeRows(cut).map(_.head).contains(10L))
    // compaction folds the uncommitted generation out
    Dedup.compactShingleIndex(spark, dir)
    assert(probeRows(dir) == before)
    for (t <- Seq("postings", "docs"))
      assert(spark.read.parquet(s"$dir/$t").where(col("gen") > 0).count() == 0, t)
  }

  test("the first probe after a build runs no more jobs than a warm one") {
    val dir = s"target/graft-test/shidx_first_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir, shingleK = 5, buckets = 8)
    OperatorCache.releaseAll(spark)
    val (first, firstJobs) = jobsOf(probeRows(dir))
    val (warm, warmJobs) = jobsOf(probeRows(dir))
    assert(first == warm && first.map(_.head) == Seq(1L, 2L))
    assert(firstJobs <= warmJobs, s"first probe ran $firstJobs jobs, a warm one $warmJobs")
  }

  test("a warm bookkeeping memo: a probe runs no bookkeeping job") {
    val dir = s"target/graft-test/shidx_warm_${System.nanoTime()}"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir, shingleK = 5, buckets = 8)
    // the jobs of the blocklist's shingling: a probe runs no other
    val shingling = jobsOf(Dedup.shingleHashRows(block, "doc_id", "text", 5)
      .select("sh").collect())._2
    probeRows(dir) // fills the memo
    val (clean, cleanJobs) = jobsOf(probeRows(dir))
    assert(cleanJobs <= shingling, s"clean probe ran $cleanJobs jobs, shingling $shingling")
    assert(clean.map(_.head) == Seq(1L, 2L))
    Dedup.deleteFromShingleIndex(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    probeRows(dir)
    val (tombstoned, tombJobs) = jobsOf(probeRows(dir))
    assert(tombJobs <= shingling, s"tombstoned probe ran $tombJobs jobs, shingling $shingling")
    assert(tombstoned.map(_.head) == Seq(1L))
  }

  test("driver counting equals the Spark plan: rows and schema, on every layout state") {
    val base = s"target/graft-test/shidx_paths_${System.nanoTime()}"
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota",
      "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(23)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (1L to 40L).map(i => i -> words(12 + rnd.nextInt(20))).toDF("doc_id", "text")
    // ids that sort differently as UTF-16 and as UTF-8, and a null one
    val strings = docs.select(
      when(col("doc_id") === 3, lit("\uFB01x")).when(col("doc_id") === 6, lit("\uD83D\uDE00"))
        .when(col("doc_id") === 9, lit(null)).otherwise(concat(lit("u"), col("doc_id")))
        .as("url"), col("text"))
    def layout(name: String)(build: String => Unit): (String, String) = {
      val d = s"$base/$name"
      build(d)
      name -> d
    }
    def built(d: String, df: DataFrame = docs, id: String = "doc_id") =
      Dedup.writeShingleIndex(df, id, "text", d, shingleK = 3, buckets = 64)
    val layouts = Seq(
      layout("built")(built(_)),
      layout("tombstoned") { d =>
        built(d)
        Dedup.deleteFromShingleIndex(spark, d, Seq(1L, 5L, 7L).toDF("doc_id"), "doc_id")
      },
      layout("compacted") { d =>
        built(d)
        Dedup.updateShingleIndex(Seq((2L, words(20)), (50L, words(20))).toDF("doc_id", "text"),
          "doc_id", "text", d)
        Dedup.deleteFromShingleIndex(spark, d, Seq(5L).toDF("doc_id"), "doc_id")
        Dedup.compactShingleIndex(spark, d)
      },
      layout("cut-append") { d =>
        // an append whose descriptor never landed: generation 1 is on
        // disk and uncommitted
        built(d, docs.where(col("doc_id") <= 20))
        CutAppend(spark, d)(
          Dedup.appendShingleIndex(docs.where(col("doc_id") > 20), "doc_id", "text", d))
      },
      layout("string-keyed") { d =>
        built(d, strings, "url")
        Dedup.deleteFromShingleIndex(spark, d, Seq("u1").toDF("url"), "url")
      })
    // seeded blocklists over the corpus vocabulary: one short doc, and
    // two of five docs each, which hash into most of the 64 buckets
    val blocklists = (1 to 3).map { i =>
      val n = if (i == 1) 1 else 5
      (0 until n).map(j => (100L + j, words(if (i == 1) 8 else 30))).toDF("doc_id", "text")
    }
    val wide = blocklists.map(b => Dedup.shingleHashRows(b, "doc_id", "text", 3)
      .select(pmod(col("sh"), lit(64L))).distinct().count())
    assert(wide.count(_ > 32) >= 2, s"buckets hit per blocklist: $wide")
    var compared = 0
    for ((name, d) <- layouts; (b, i) <- blocklists.zipWithIndex; minOverlap <- Seq(1, 3))
      withClue(s"$name, blocklist $i, minOverlap $minOverlap: ") {
        def probe() = {
          val df = Dedup.probeContamination(spark, d, b, "doc_id", "text", minOverlap)
          (df.collect().toSeq.sortBy(r => String.valueOf(r.get(0))), df.schema,
            df.queryExecution.logical.isInstanceOf[LocalRelation])
        }
        val (onDriver, driverSchema, local) = probe()
        val (inSpark, sparkSchema, _) =
          withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(probe())
        assert(local, "the probe did not count on the driver")
        assert(onDriver == inSpark)
        assert(driverSchema == sparkSchema)
        if (onDriver.nonEmpty) compared += 1
      }
    assert(compared >= 20, s"only $compared probes matched a row")
  }

  test("after every writer the next probe equals a from-scratch build") {
    val base = s"target/graft-test/shidx_memo_${System.nanoTime()}"
    val dir = s"$base/live"
    var fresh = 0
    def rebuilt(df: org.apache.spark.sql.DataFrame, idCol: String = "doc_id") = {
      fresh += 1
      val r = s"$base/fresh-$fresh"
      Dedup.writeShingleIndex(df, idCol, "text", r, shingleK = 5, buckets = 8)
      probeRows(r)
    }
    def check(what: String, want: Seq[Seq[Any]]) = {
      assert(probeRows(dir) == want, what)
      assert(want.nonEmpty, what)
    }
    val added = Seq((10L, phrase("one") + " appended variant")).toDF("doc_id", "text")
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir, shingleK = 5, buckets = 8)
    check("build", rebuilt(corpus))
    Dedup.appendShingleIndex(added, "doc_id", "text", dir)
    val all = corpus.unionByName(added)
    check("append", rebuilt(all))
    Dedup.deleteFromShingleIndex(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    val without1 = rebuilt(all.where(col("doc_id") =!= 1))
    check("delete", without1)
    Dedup.compactShingleIndex(spark, dir)
    check("compact", without1)
    Dedup.writeShingleIndex(corpus.where(col("doc_id") =!= 2), "doc_id", "text", dir,
      shingleK = 5, buckets = 8)
    check("rebuild", rebuilt(corpus.where(col("doc_id") =!= 2)))
    // a rebuild that changes the id type changes the postings schema
    val urls = corpus.select(concat(lit("u"), col("doc_id")).as("url"), col("text"))
    Dedup.writeShingleIndex(urls, "url", "text", dir, shingleK = 5, buckets = 8)
    check("rebuild with string ids", rebuilt(urls, "url"))
    Dedup.deleteFromShingleIndex(spark, dir, Seq("u2").toDF("url"), "url")
    check("string-id delete", rebuilt(urls.where(col("url") =!= "u2"), "url"))
  }

  test("four threads probing a cold layout get the same, correct results") {
    val dir = s"target/graft-test/shidx_cold_${System.nanoTime()}"
    val r = s"$dir-rebuilt"
    Dedup.writeShingleIndex(corpus.where(col("doc_id") =!= 2), "doc_id", "text", r,
      shingleK = 5, buckets = 8)
    Dedup.writeShingleIndex(corpus, "doc_id", "text", dir, shingleK = 5, buckets = 8)
    Dedup.deleteFromShingleIndex(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    val want = probeRows(r)
    val got = Await.result(Future.sequence((1 to 4).map(_ => Future(probeRows(dir)))), 5.minutes)
    assert(want.map(_.head) == Seq(1L) && got.forall(_ == want), s"$got vs $want")
  }
}
