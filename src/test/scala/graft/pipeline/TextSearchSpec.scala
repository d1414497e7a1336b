package graft.pipeline

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "target/graft-tmp/textsearch-spec"

  private def corpus = Seq(
    (1L, "spark joins vectors and filters over the wide corpus tables"),
    (2L, "the filter filter filter doc repeats one query term often"),
    (3L, "vectors vectors appear twice here with a join nearby"),
    (4L, "nothing relevant lives in this document at all"),
    (5L, "join vector filter all three terms appear in this one"),
  ).toDF("doc_id", "text")

  test("served top-k equals the batch BM25 frontier") {
    TextSearch.writeIndex(corpus, "doc_id", "text", dir, buckets = 16)
    OperatorCache.releaseAll(spark)
    val served = TextSearch.searchTopK(spark, dir,
      Seq("join", "vector", "filter"), k = 3)
      .as[(Long, Double, Long)].collect().toSeq

    val batch = TextAnalysis.bm25(corpus, "doc_id", "text",
      Seq("join", "vector", "filter"))
      .orderBy(col("score").desc, col("doc").asc).limit(3)
      .as[(Long, Double, Long)].collect().toSeq
    OperatorCache.releaseAll(spark)
    assert(served == batch,
      s"served $served must equal the batch frontier $batch")
    assert(served.nonEmpty && served.head._1 == 5L,
      "the all-terms doc must rank first")
  }

  /** `body`'s value and the executed plans of the queries it ran. */
  private def plansOf[A](body: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // the listener hears queries in order: once this one's plan
      // arrives, every plan of `body` has
      spark.range(0, 7919).collect()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!plans.asScala.exists(_.contains("Range (0, 7919")) && System.nanoTime() < deadline)
        Thread.sleep(10)
      (out, plans.asScala.toSeq.filterNot(_.contains("Range (0, 7919")))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Forces searchTopK's Spark plan: no slice is small enough to score
    * on the driver. */
  private def sparkPlan[A](body: => A): A =
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("the serve scan is partition-pruned to the query terms' buckets") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashLocalFs].getName)
    val d = s"${CrashFs.Scheme}://" +
      new java.io.File(s"target/graft-tmp/textsearch-pruned-${System.nanoTime()}").getAbsolutePath
    TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 16)
    OperatorCache.releaseAll(spark)
    def probe() = TextSearch.searchTopK(spark, d, Seq("join"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    val ((onDriver, driverPlans), read) = CrashFs.opened(plansOf(probe()))
    // the layout's absolute path would cut the plan's file index string
    // short of the bucket directory
    val (inSpark, sparkPlans) =
      withSQLConf("spark.sql.maxMetadataStringLength" -> "1000")(plansOf(sparkPlan(probe())))
    assert(onDriver == inSpark)
    // a doc without the term never surfaces
    assert(onDriver.nonEmpty && !onDriver.map(_._1).contains(4L))
    // the driver read opened the term's bucket files, each once, and no
    // other; it ran no scan
    val bucket = new Path(d, s"postings/tb=${math.floorMod(
      graft.functions.Fnv1a64.hash("join".getBytes("UTF-8")), 16L)}")
    val fs = bucket.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(bucket).map(_.getPath).filter(_.getName.startsWith("part-")).toSeq
    assert(files.nonEmpty && read.sortBy(_.toString) == files.sortBy(_.toString),
      s"$read vs $files")
    assert(!driverPlans.exists(_.contains("FileScan")), driverPlans.mkString("\n"))
    // the Spark plan scans that one bucket directory, partition-pruned
    val scans = sparkPlans.flatMap(_.linesIterator.filter(_.contains("FileScan")))
    assert(scans.nonEmpty, s"no postings scan in:\n${sparkPlans.mkString("\n")}")
    scans.foreach { scan =>
      assert(scan.contains("PartitionFilters") && scan.contains("tb#") && scan.contains(" = "),
        s"expected tb-equality partition pruning, got:\n$scan")
      assert(scan.contains("InMemoryFileIndex(1 paths)") && scan.contains("postings/tb="),
        s"expected the one bucket directory, got:\n$scan")
    }
    assert(sparkPlans.exists(_.contains("TakeOrderedAndProject")))
  }

  test("driver scoring equals the Spark plan: rows, order and schema, on every layout state") {
    val base = s"target/graft-tmp/textsearch-paths-${System.nanoTime()}"
    // doc 6 ties doc 3 on every query; the string ids tie where UTF-16
    // and UTF-8 order disagree (U+FB01 vs a supplementary code point)
    val tied = corpus.unionByName(Seq((6L, "vectors vectors appear twice here with a join nearby"))
      .toDF("doc_id", "text"))
    val strings = tied.select(
      when(col("doc_id") === 3, lit("\uFB01x")).when(col("doc_id") === 6, lit("\uD83D\uDE00"))
        .otherwise(concat(lit("u"), col("doc_id"))).as("url"), col("text"))
    def layout(name: String)(build: String => Unit): (String, String) = {
      val d = s"$base/$name"
      build(d)
      OperatorCache.releaseAll(spark)
      top5(d)
      name -> d
    }
    val layouts = Seq(
      layout("built")(d => TextSearch.writeIndex(tied, "doc_id", "text", d, buckets = 8)),
      layout("tombstoned") { d =>
        TextSearch.writeIndex(tied, "doc_id", "text", d, buckets = 8)
        TextSearch.deleteFromIndex(spark, d, Seq(5L, 1L).toDF("doc_id"), "doc_id")
      },
      layout("compacted") { d =>
        TextSearch.writeIndex(tied, "doc_id", "text", d, buckets = 8)
        TextSearch.updateIndex(Seq((2L, "a join of filters")).toDF("doc_id", "text"),
          "doc_id", "text", d)
        TextSearch.deleteFromIndex(spark, d, Seq(5L).toDF("doc_id"), "doc_id")
        TextSearch.compactIndex(spark, d)
      },
      layout("cut-append") { d =>
        // an append whose descriptor never landed: generation 1 is on
        // disk and uncommitted
        TextSearch.writeIndex(tied.where(col("doc_id") <= 3), "doc_id", "text", d, buckets = 8)
        CutAppend(spark, d)(
          TextSearch.appendIndex(tied.where(col("doc_id") > 3), "doc_id", "text", d))
      },
      layout("string-keyed") { d =>
        TextSearch.writeIndex(strings, "url", "text", d, buckets = 8)
        TextSearch.deleteFromIndex(spark, d, Seq("u1").toDF("url"), "url")
      })
    val vocab = Seq("join", "vector", "vectors", "filter", "appear", "twice", "the",
      "spark", "zzzmissing")
    val rnd = new scala.util.Random(17)
    var compared = 0
    for ((name, d) <- layouts; k <- Seq(1, 3, 10); _ <- 1 to 3) {
      val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(3))
      def probe(): (Seq[Row], org.apache.spark.sql.types.StructType) = {
        val df = TextSearch.searchTopK(spark, d, terms, k = k)
        (df.collect().toSeq, df.schema)
      }
      val (onDriver, driverJobs) = jobsOf(probe())
      val inSpark = sparkPlan(probe())
      assert(onDriver == inSpark, s"$name $terms k=$k")
      assert(driverJobs == 0, s"$name $terms k=$k: the driver path ran $driverJobs jobs")
      if (onDriver._1.nonEmpty) compared += 1
    }
    assert(compared >= 30, s"only $compared probes matched a row")
    // the tie orders: ids ascending within an equal score
    val ties = TextSearch.searchTopK(spark, layouts(4)._2, Seq("twice"), k = 10)
      .select("doc").as[String].collect().toSeq
    assert(ties == Seq("\uFB01x", "\uD83D\uDE00"), s"UTF-8 order: $ties")
    val longTies = TextSearch.searchTopK(spark, layouts.head._2, Seq("twice"), k = 10)
      .select("doc").as[Long].collect().toSeq
    assert(longTies == Seq(3L, 6L), s"$longTies")
  }

  test("the probe's schema, including nullability, is the Spark plan's") {
    TextSearch.writeIndex(corpus, "doc_id", "text", dir, buckets = 16)
    OperatorCache.releaseAll(spark)
    import org.apache.spark.sql.types._
    val want = StructType(Seq(StructField("doc", LongType), StructField("score", DoubleType),
      StructField("n_matched", LongType, nullable = false)))
    assert(TextSearch.searchTopK(spark, dir, Seq("join")).schema == want)
    assert(sparkPlan(TextSearch.searchTopK(spark, dir, Seq("join")).schema) == want)
    assert(TextSearch.searchTopK(spark, dir, Seq("zzzmissing")).schema == want)
  }

  test("batched serving: per-query top-k ≡ one searchTopK per query") {
    TextSearch.writeIndex(corpus, "doc_id", "text", dir, buckets = 16)
    OperatorCache.releaseAll(spark)
    val workload = Seq(
      (101L, "join vector filter"),
      (102L, "filter"),
      (103L, "repeats appear twice"),
      (104L, "zzzq wwwq qqqz"),
    ).toDF("qid", "query")
    val batch = TextSearch.searchTopKBatch(workload, "qid", "query", dir, k = 2)
      .as[(Long, Int, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4, r._5)).toSeq).toMap

    for ((qid, terms) <- Seq(101L -> Seq("join", "vector", "filter"),
        102L -> Seq("filter"), 103L -> Seq("repeats", "appear", "twice"))) {
      val single = TextSearch.searchTopK(spark, dir, terms, k = 2)
        .as[(Long, Double, Long)].collect().toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"qid $qid: batch ${batch.get(qid)} vs single $single")
    }
    // a query with no index hits is simply absent
    assert(!batch.contains(104L))
    // ranks are 1..k dense per qid
    assert(batch.values.forall(rows => rows.indices.forall(i => i < 2)))
  }

  test("appendIndex ≡ one-shot rebuild: scores bit-identical after the append") {
    val prior = corpus.where(col("doc_id") <= 3)
    val delta = corpus.where(col("doc_id") > 3)
    val appendDir = s"$dir-append"
    TextSearch.writeIndex(prior, "doc_id", "text", appendDir, buckets = 16)
    OperatorCache.releaseAll(spark)
    TextSearch.appendIndex(delta, "doc_id", "text", appendDir)
    OperatorCache.releaseAll(spark)
    val rebuiltDir = s"$dir-rebuilt"
    TextSearch.writeIndex(corpus, "doc_id", "text", rebuiltDir, buckets = 16)
    OperatorCache.releaseAll(spark)

    def serve(d: String) = TextSearch.searchTopK(spark, d,
      Seq("join", "vector", "filter"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    assert(serve(appendDir) == serve(rebuiltDir),
      "appended index must serve exactly like a one-shot rebuild")
    // the descriptor's constants advanced by exact integer arithmetic
    def param(d: String, name: String) =
      LayoutFiles.descriptor(spark, d, "TextSearch.writeIndex").param(name).asLong
    assert(param(appendDir, "n_docs") == 5L)
    assert(param(appendDir, "sum_dl") == param(rebuiltDir, "sum_dl"))
  }

  test("degenerate inputs: unknown terms serve empty; empty query raises") {
    TextSearch.writeIndex(corpus, "doc_id", "text", dir, buckets = 16)
    OperatorCache.releaseAll(spark)
    assert(TextSearch.searchTopK(spark, dir, Seq("zzzmissing"), k = 5)
      .count() == 0)
    val e = intercept[IllegalArgumentException](
      TextSearch.searchTopK(spark, dir, Seq.empty, k = 5))
    assert(e.getMessage.contains("query term"))
  }

  test("searchTopK normalizes query terms with the index's own rule") {
    TextSearch.writeIndex(corpus, "doc_id", "text", dir, buckets = 16)
    OperatorCache.releaseAll(spark)
    def serve(terms: Seq[String]) =
      TextSearch.searchTopK(spark, dir, terms, k = 5)
        .as[(Long, Double, Long)].collect().toSeq
    val plain = serve(Seq("join", "vector", "filter"))
    assert(plain.nonEmpty)
    // cased + punctuated + multi-word input must hit the same postings
    // the lowercase index stores — a verbatim match returned zero rows
    assert(serve(Seq("Join,", "VECTOR!", "filter")) == plain)
    assert(serve(Seq("join vector", "filter")) == plain,
      "a multi-word term splits into its tokens, like the corpus side")
    // duplicates collapse: BM25 is a termset score
    assert(serve(Seq("join", "JOIN", "vector", "filter")) == plain)
    // terms that normalize away entirely raise rather than serve nothing
    val e = intercept[IllegalArgumentException](
      TextSearch.searchTopK(spark, dir, Seq("!!!", "--"), k = 5))
    assert(e.getMessage.contains("normaliz"))
  }

  test("hybrid rerank: alpha=1 ≡ BM25, alpha=0 orders by cosine, vectorless docs drop") {
    val hdir = s"$dir-hybrid"
    TextSearch.writeIndex(corpus, "doc_id", "text", hdir, buckets = 16)
    OperatorCache.releaseAll(spark)
    // doc 5 has NO vector; doc 2's vector matches the query exactly
    val vectors = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)), (4L, Seq(1f, 0f)),
    ).toDF("vec_id", "embedding")
    val workload = Seq((1L, "join vector filter", Seq(0f, 1f)))
      .toDF("qid", "query", "qvec")
    def hybrid(alpha: Double) =
      TextSearch.searchHybridBatch(workload, "qid", "query", "qvec", hdir,
        vectors, "vec_id", "embedding", k = 4, candidates = 5, alpha = alpha)
        .select("doc", "rank").as[(Long, Int)].collect().sortBy(_._2).map(_._1).toSeq
    // alpha = 1: pure BM25 order over candidates WITH vectors (5 drops)
    val bm = TextSearch.searchTopKBatch(workload.select("qid", "query"),
        "qid", "query", hdir, k = 5)
      .where(col("doc") =!= 5L)
      .orderBy(col("score").desc, col("doc").asc)
      .select("doc").as[Long].collect().toSeq
    assert(hybrid(1.0) == bm, s"alpha=1 must reduce to BM25: ${hybrid(1.0)} vs $bm")
    assert(!hybrid(1.0).contains(5L), "a candidate without a vector must drop")
    // candidates = docs matching a query term = {2 (filter), 3 (join),
    // 5 (all)}; 5 has no vector → {2, 3}. alpha = 0: cosine decides —
    // doc 2's vector matches the query exactly, doc 3's is at 45°
    assert(hybrid(0.0) == Seq(2L, 3L), s"cosine-only order: ${hybrid(0.0)}")
    intercept[IllegalArgumentException](hybrid(1.5))
    intercept[IllegalArgumentException](
      TextSearch.searchHybridBatch(workload, "qid", "query", "qvec", hdir,
        vectors, "vec_id", "embedding", k = 10, candidates = 5))
  }

  test("deleteFromIndex ≡ rebuild on the remaining corpus; compact folds and clears") {
    val d1 = "target/graft-tmp/textsearch-del"
    val d2 = "target/graft-tmp/textsearch-del-rebuilt"
    TextSearch.writeIndex(corpus, "doc_id", "text", d1, buckets = 16)
    OperatorCache.releaseAll(spark)
    // deleting doc 5 (the all-terms top hit) shifts BOTH the ranking
    // and every surviving score (n_docs and avgdl change — BM25's
    // corpus constants), which only the closed-form stats adjustment
    // gets right
    TextSearch.deleteFromIndex(spark, d1,
      Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
    def top(dir: String) = TextSearch.searchTopK(spark, dir,
      Seq("join", "vector", "filter"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    TextSearch.writeIndex(corpus.where(col("doc_id") =!= 5),
      "doc_id", "text", d2, buckets = 16)
    OperatorCache.releaseAll(spark)
    val rebuilt = top(d2)
    assert(top(d1) == rebuilt,
      "tombstoned serving must be bit-identical to a rebuild without the doc")
    assert(!rebuilt.map(_._1).contains(5L) && rebuilt.nonEmpty)

    // idempotent re-delete, then compact: same results, set cleared,
    // the doc's postings bytes gone
    TextSearch.deleteFromIndex(spark, d1,
      Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
    TextSearch.compactIndex(spark, d1)
    assert(top(d1) == rebuilt, "compaction must not change served results")
    assert(!new java.io.File(s"$d1/_tombstones").exists())
    assert(spark.read.parquet(s"$d1/postings")
      .where(col("doc") === 5L).count() == 0, "compaction erases the postings")
    OperatorCache.releaseAll(spark)
  }

  test("RRF fusion: 1/(k+rank) sums, single-retriever hits surface, vecRanks injectable") {
    val rdir = s"$dir-rrf"
    TextSearch.writeIndex(corpus, "doc_id", "text", rdir, buckets = 16)
    OperatorCache.releaseAll(spark)
    // doc 4 matches NO query term (semantic-only); doc 5 has NO vector
    // (lexical-only); docs 2/3 are in both lists
    val vectors = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)), (4L, Seq(0f, 1f)),
    ).toDF("vec_id", "embedding")
    val workload = Seq((1L, "join vector filter", Seq(0f, 1f)))
      .toDF("qid", "query", "qvec")
    val fused = TextSearch.searchRrfBatch(workload, "qid", "query", "qvec",
      rdir, vectors, "vec_id", "embedding", k = 10, candidates = 5, rrfK = 60)
      .collect().map(r => (r.getLong(2),
        r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Int]),
        Option(r.get(5)).map(_.asInstanceOf[Int]))).toSeq
    val byDoc = fused.map(t => t._1 -> t).toMap
    // lexical-only doc 5 (no vector) and semantic-only doc 4 (no term
    // match) both surface, each with one side null
    assert(byDoc(5L)._4.isEmpty && byDoc(5L)._3.nonEmpty, s"doc5: ${byDoc(5L)}")
    assert(byDoc(4L)._3.isEmpty && byDoc(4L)._4.nonEmpty, s"doc4: ${byDoc(4L)}")
    // the fused score is exactly the 1/(60+rank) sum of the present sides
    fused.foreach { case (doc, rrf, rb, rv) =>
      val expect = BigDecimal(
        rb.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          rv.map(r => 1.0 / (60 + r)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $doc: rrf $rrf != $expect")
    }
    // a doc in BOTH lists outranks one with only a comparable single side
    val both = fused.filter(t => t._3.nonEmpty && t._4.nonEmpty).map(_._1)
    assert(both.nonEmpty, "fixture must produce dual-retriever docs")
    // injected vecRanks (the ANN-serving path) replaces the brute force
    val inject = Seq((1L, 2L, 1), (1L, 4L, 2)).toDF("qid", "doc", "rank_cos")
    val viaInject = TextSearch.searchRrfBatch(workload, "qid", "query", "qvec",
      rdir, vectors, "vec_id", "embedding", k = 10, candidates = 5,
      vecRanks = Some(inject))
      .where(col("rank_cos").isNotNull)
      .select("doc", "rank_cos").as[(Long, Int)].collect().toMap
    assert(viaInject == Map(2L -> 1, 4L -> 2), s"got $viaInject")
    intercept[IllegalArgumentException](
      TextSearch.searchRrfBatch(workload, "qid", "query", "qvec", rdir,
        vectors, "vec_id", "embedding", k = 10, candidates = 5, rrfK = 0))
    OperatorCache.releaseAll(spark)
  }

  test("string-keyed layout: delete joins on the id AS STORED (no long cast)") {
    // URL-keyed recrawl shape (r16 ADVICE): the layout preserves the
    // native string key; a delete that cast ids to long produced
    // all-null join keys and silently tombstoned nothing
    val d = "target/graft-tmp/textsearch-del-str"
    val urls = Seq(
      ("https://example.org/a", "spark join vector over wide tables"),
      ("https://example.org/b", "join vector filter all terms here"),
      ("https://example.org/c", "nothing relevant in this page"),
    ).toDF("url", "text")
    TextSearch.writeIndex(urls, "url", "text", d, buckets = 8)
    OperatorCache.releaseAll(spark)
    TextSearch.deleteFromIndex(spark, d,
      Seq(Tuple1("https://example.org/b")).toDF("url"), "url")
    val served = TextSearch.searchTopK(spark, d,
      Seq("join", "vector"), k = 5)
      .select("doc").as[String].collect().toSeq
    assert(served == Seq("https://example.org/a"),
      s"the deleted url must stop serving, got $served")
    // the tombstone actually landed (the no-op wrote zero usable rows)
    assert(spark.read.parquet(s"$d/_tombstones")
      .where(col("doc") === "https://example.org/b").count() == 1)
    OperatorCache.releaseAll(spark)
  }

  test("delete ids that don't cast to the stored key type fail fast, not no-op") {
    // r17 ADVICE: the typed cast fixed string-keyed layouts, but string
    // garbage against a LONG-keyed layout still cast to null and the
    // delete silently retained the data it was told to drop
    val d = "target/graft-tmp/textsearch-del-badkey"
    TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 8)
    OperatorCache.releaseAll(spark)
    val e = intercept[IllegalArgumentException] {
      TextSearch.deleteFromIndex(spark, d,
        Seq(Tuple1("https://example.org/b")).toDF("url"), "url")
    }
    assert(e.getMessage.contains("https://example.org/b") &&
      e.getMessage.contains("stored key type"), e.getMessage)
    // a CASTABLE string id against the long-keyed layout still deletes
    TextSearch.deleteFromIndex(spark, d, Seq(Tuple1("5")).toDF("id"), "id")
    val served = TextSearch.searchTopK(spark, d,
      Seq("join", "vector", "filter"), k = 5)
      .select("doc").as[Long].collect().toSeq
    assert(!served.contains(5L), s"castable id must delete: $served")
    OperatorCache.releaseAll(spark)
  }

  test("updateIndex: a re-crawled doc's new text serves, its old text stops matching") {
    val d1 = "target/graft-tmp/textsearch-upd"
    val d2 = "target/graft-tmp/textsearch-upd-rebuilt"
    TextSearch.writeIndex(corpus, "doc_id", "text", d1, buckets = 16)
    OperatorCache.releaseAll(spark)
    // doc 5 changes: loses all three query terms, gains new prose; the
    // generation-aware tombstone must retire ONLY the old version —
    // a doc-keyed tombstone would shadow the fresh rows too
    val changed = Seq(
      (5L, "completely different prose now nothing from the old page")
    ).toDF("doc_id", "text")
    TextSearch.updateIndex(changed, "doc_id", "text", d1)
    OperatorCache.releaseAll(spark)
    def top(dir: String) = TextSearch.searchTopK(spark, dir,
      Seq("join", "vector", "filter"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    TextSearch.writeIndex(
      corpus.where(col("doc_id") =!= 5).unionByName(changed),
      "doc_id", "text", d2, buckets = 16)
    OperatorCache.releaseAll(spark)
    val rebuilt = top(d2)
    assert(top(d1) == rebuilt,
      s"updated serving must equal a rebuild with the new text: ${top(d1)} vs $rebuilt")
    assert(!rebuilt.map(_._1).contains(5L),
      "the new version of doc 5 has none of the query terms")
    // and the NEW text is findable
    val fresh = TextSearch.searchTopK(spark, d1, Seq("prose"), k = 3)
      .as[(Long, Double, Long)].collect().toSeq
    assert(fresh.map(_._1) == Seq(5L), s"new tokens must serve: $fresh")
    // compaction folds the superseded version out and keeps the world
    TextSearch.compactIndex(spark, d1)
    assert(top(d1) == rebuilt && spark.read.parquet(s"$d1/postings")
      .where(col("doc") === 5L && col("term") === "join").count() == 0)
    OperatorCache.releaseAll(spark)
  }

  test("searchRrfServed equals the manual probeIvfPqBatch + vecRanks " +
      "composition") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val docs = graft.Tables.load(spark, sf, "documents")
    val d = "target/graft-tmp/rrf-served-spec"
    TextSearch.writeIndex(docs, "doc_id", "text", s"$d/text")
    OperatorCache.releaseAll(spark)
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 2, k = 4)
    Similarity.writeIvfPq(emb, "embedding", s"$d/ann", coarse, books)
    val workload = Seq((1L, "join vector filter", 3L), (2L, "stream window", 9L))
      .toDF("qid", "query", "vid")
      .join(emb.select(col("vec_id").as("vid"), col("embedding").as("qv")),
        "vid")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val served = rows(TextSearch.searchRrfServed(workload, "qid", "query",
      "qv", s"$d/text", s"$d/ann", "vec_id", "embedding", coarse, books,
      k = 5, candidates = 10))
    val vecRanks = Similarity.probeIvfPqBatch(workload, "qid", "qv",
      s"$d/ann", "vec_id", "embedding", coarse, books, k = 10)
      .select(col("qid"), col("vec_id").as("doc"), col("rank").as("rank_cos"))
    val manual = rows(TextSearch.searchRrfBatch(workload, "qid", "query",
      "qv", s"$d/text", emb, "vec_id", "embedding", k = 5, candidates = 10,
      vecRanks = Some(vecRanks)))
    assert(served == manual && served.nonEmpty,
      "the one-call served RRF must equal the manual composition")
    OperatorCache.releaseAll(spark)
  }

  test("evalRetrieval: hand-checked precision/recall/MRR/nDCG, judged-only " +
      "queries score zero, unjudged queries null out ratio metrics") {
    import spark.implicits._
    // q1: graded hits at ranks 1 and 3; q2: judged, zero hits;
    // q3: answered but unjudged; q4: judged, never answered
    val run = Seq(
      (1L, 10L, 1), (1L, 40L, 2), (1L, 20L, 3),
      (2L, 50L, 1), (2L, 60L, 2), (2L, 70L, 3),
      (3L, 10L, 1)).toDF("qid", "doc", "rank")
    val qrels = Seq(
      (1L, 10L, 3), (1L, 20L, 1), (1L, 30L, 1),
      (2L, 90L, 2),
      (4L, 10L, 1)).toDF("qid", "doc", "rel")
    val out = TextSearch.evalRetrieval(run, "qid", "doc", "rank",
      qrels, "qid", "doc", "rel", k = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val q1 = out(1L)
    assert(q1.getLong(1) == 3 && q1.getLong(2) == 2, "q1 n_rel=3, n_hit=2")
    assert(q1.getDouble(3) == 0.666667 && q1.getDouble(4) == 0.666667)
    assert(q1.getDouble(5) == 1.0, "first relevant at rank 1")
    // dcg = 7/log2(2) + 0 + 1/log2(4); idcg = 7 + 1/log2(3) + 1/log2(4),
    // each term 6-rounded before the exact decimal sum
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val ndcg = r6((r6(7.0) + r6(0.0) + r6(1.0 / log2(4))) /
      (r6(7.0) + r6(1.0 / log2(3)) + r6(1.0 / log2(4))))
    assert(math.abs(q1.getDouble(6) - ndcg) < 1e-9, s"q1 ndcg ${q1.getDouble(6)} vs $ndcg")
    val q2 = out(2L)
    assert(q2.getLong(1) == 1 && q2.getLong(2) == 0 && q2.getDouble(3) == 0.0
      && q2.getDouble(4) == 0.0 && q2.getDouble(5) == 0.0
      && q2.getDouble(6) == 0.0, s"judged-but-missed scores zero: $q2")
    val q3 = out(3L)
    assert(q3.getLong(1) == 0 && q3.isNullAt(4) && q3.isNullAt(6),
      s"unjudged query nulls recall/ndcg (0/0 is unjudged, not failure): $q3")
    val q4 = out(4L)
    assert(q4.getLong(1) == 1 && q4.getLong(2) == 0 && q4.getDouble(5) == 0.0
      && q4.getDouble(6) == 0.0,
      s"judged query the run never answered scores zero, not absent: $q4")
  }

  test("evalRetrieval canonicalizes duplicate (qid, doc) keys instead of " +
      "fanning out the join (r18 ADVICE)") {
    import spark.implicits._
    val run = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("qid", "doc", "rank")
    val qrels = Seq((1L, 10L, 3), (1L, 20L, 1)).toDF("qid", "doc", "rel")
    val clean = TextSearch.evalRetrieval(run, "qid", "doc", "rank",
      qrels, "qid", "doc", "rel", k = 3).collect().map(_.toSeq).toSeq
    // duplicated judgment rows (conflicting grades -> max wins) and a
    // duplicated run doc (best rank wins) must score identically
    val dupQrels = Seq((1L, 10L, 3), (1L, 10L, 1), (1L, 10L, 2),
      (1L, 20L, 1), (1L, 20L, 1)).toDF("qid", "doc", "rel")
    val dupRun = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 20L, 3))
      .toDF("qid", "doc", "rank")
    val got = TextSearch.evalRetrieval(dupRun, "qid", "doc", "rank",
      dupQrels, "qid", "doc", "rel", k = 3).collect().map(_.toSeq).toSeq
    val cleanRun = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "doc", "rank")
    val want = TextSearch.evalRetrieval(cleanRun, "qid", "doc", "rank",
      qrels, "qid", "doc", "rel", k = 3).collect().map(_.toSeq).toSeq
    assert(got == want,
      s"duplicate keys must collapse to (max rel, min rank): $got vs $want")
    // n_rel counts JUDGED DOCS, not judgment rows
    assert(got.head(1) == 2L, s"n_rel must be 2 judged docs: ${got.head}")
    assert(clean.head(1) == 2L)
  }

  /** The WARN-or-worse log4j events `body` logs, as "logger: message". */
  private def warningsDuring(body: => Unit): Seq[String] = {
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val level = root.getLevel
    root.addAppender(capture)
    Configurator.setRootLevel(Level.WARN)
    try body
    finally {
      Configurator.setRootLevel(level)
      root.removeAppender(capture)
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("a build -> delete -> probe -> compact round logs no warning") {
    // the `_tombstones` side table is read through its data files: handed
    // to Spark as a path, its underscore name logged "All paths were
    // ignored" on every probe
    val d = "target/graft-tmp/textsearch-quiet"
    val warnings = warningsDuring {
      TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 8)
      TextSearch.deleteFromIndex(spark, d, Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
      val served = TextSearch.searchTopK(spark, d, Seq("join", "vector"), k = 5)
        .select("doc").as[Long].collect().toSeq
      assert(served.nonEmpty && !served.contains(5L), s"served $served")
      TextSearch.compactIndex(spark, d)
      assert(TextSearch.searchTopK(spark, d, Seq("join", "vector"), k = 5)
        .select("doc").as[Long].collect().toSeq == served)
    }
    OperatorCache.releaseAll(spark)
    assert(warnings.isEmpty, warnings.mkString("\n"))
  }

  private def top5(d: String) = TextSearch.searchTopK(spark, d,
    Seq("join", "vector", "filter"), k = 5).collect().toSeq

  test("a probe serves only committed generations") {
    // the crash this models: an append landed its postings (and doclens)
    // for generation max_gen + 1, then died before its descriptor
    val d = s"target/graft-tmp/textsearch-orphan-${System.nanoTime()}"
    TextSearch.writeIndex(corpus.where(col("doc_id") <= 3), "doc_id", "text", d, buckets = 8)
    val before = top5(d)
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    // the uninterrupted run: the layout without the cut batch
    val skipped = s"$d-skipped"
    FileUtil.copy(fs, new Path(d), fs, new Path(skipped), false, conf)
    CutAppend(spark, d) {
      TextSearch.appendIndex(corpus.where(col("doc_id") > 3), "doc_id", "text", d)
      OperatorCache.releaseAll(spark)
      assert(top5(d) != before, "the appended docs match the query")
    }
    assert(top5(d) == before)
    val batch = TextSearch.searchTopKBatch(Seq((1L, "join vector filter")).toDF("qid", "query"),
      "qid", "query", d, k = 5).select("doc", "score", "n_matched").collect().toSeq
    assert(batch == before)
    // with the cut append's `_append` marker beside its rows, the next
    // update folds them out before it writes generation 1 again: it
    // equals the same update of the uninterrupted run, and serves the
    // fresh version of doc 5, which the cut batch also holds
    val cut = s"$d-cut"
    FileUtil.copy(fs, new Path(d), fs, new Path(cut), false, conf)
    fs.create(new Path(cut, "_append"), true).close()
    val update = Seq((5L, "join vector again and a filter"), (6L, "vector filter join"))
      .toDF("doc_id", "text")
    TextSearch.updateIndex(update, "doc_id", "text", cut)
    TextSearch.updateIndex(update, "doc_id", "text", skipped)
    OperatorCache.releaseAll(spark)
    assert(top5(cut) == top5(skipped))
    assert(top5(cut).map(_.getLong(0)).toSet.contains(5L))
    // compaction folds the uncommitted generation out
    TextSearch.compactIndex(spark, d)
    assert(top5(d) == before)
    for (t <- Seq("postings", "doclens"))
      assert(spark.read.parquet(s"$d/$t").where(col("gen") > 0).count() == 0, t)
  }

  test("the first probe after a build runs no more jobs than a warm one") {
    val d = s"target/graft-tmp/textsearch-first-${System.nanoTime()}"
    TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 8)
    OperatorCache.releaseAll(spark)
    val (first, firstJobs) = jobsOf(top5(d))
    val (warm, warmJobs) = jobsOf(top5(d))
    assert(first == warm && first.head.getLong(0) == 5L)
    assert(firstJobs <= warmJobs, s"first probe ran $firstJobs jobs, a warm one $warmJobs")
  }

  test("a warm bookkeeping memo: a probe runs no bookkeeping job") {
    val d = s"target/graft-tmp/textsearch-warm-${System.nanoTime()}"
    TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 8)
    OperatorCache.releaseAll(spark)
    top5(d) // fills the memo
    val (clean, cleanJobs) = jobsOf(top5(d))
    assert(cleanJobs == 0, s"clean probe ran $cleanJobs jobs")
    assert(clean.head.getLong(0) == 5L)
    TextSearch.deleteFromIndex(spark, d, Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
    top5(d)
    val (tombstoned, tombJobs) = jobsOf(top5(d))
    assert(tombJobs == 0, s"tombstoned probe ran $tombJobs jobs")
    assert(tombstoned.nonEmpty && !tombstoned.exists(_.getLong(0) == 5L))
  }

  test("after every writer the next probe equals a from-scratch build") {
    val base = s"target/graft-tmp/textsearch-memo-${System.nanoTime()}"
    val d = s"$base/live"
    var fresh = 0
    def rebuilt(df: org.apache.spark.sql.DataFrame, idCol: String = "doc_id") = {
      fresh += 1
      val r = s"$base/fresh-$fresh"
      TextSearch.writeIndex(df, idCol, "text", r, buckets = 8)
      OperatorCache.releaseAll(spark)
      top5(r)
    }
    def check(what: String, want: Seq[org.apache.spark.sql.Row]) = {
      OperatorCache.releaseAll(spark)
      assert(top5(d) == want, what)
      assert(want.nonEmpty, what)
    }
    TextSearch.writeIndex(corpus.where(col("doc_id") <= 3), "doc_id", "text", d, buckets = 8)
    check("build", rebuilt(corpus.where(col("doc_id") <= 3)))
    TextSearch.appendIndex(corpus.where(col("doc_id") > 3), "doc_id", "text", d)
    check("append", rebuilt(corpus))
    TextSearch.deleteFromIndex(spark, d, Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
    val without5 = rebuilt(corpus.where(col("doc_id") =!= 5))
    check("delete", without5)
    TextSearch.compactIndex(spark, d)
    check("compact", without5)
    val other = corpus.where(col("doc_id") =!= 2)
    TextSearch.writeIndex(other, "doc_id", "text", d, buckets = 8)
    check("rebuild", rebuilt(other))
    // a rebuild that changes the id type changes the postings schema
    val urls = corpus.select(concat(lit("u"), col("doc_id")).as("url"), col("text"))
    TextSearch.writeIndex(urls, "url", "text", d, buckets = 8)
    check("rebuild with string ids", rebuilt(urls, "url"))
    TextSearch.deleteFromIndex(spark, d, Seq(Tuple1("u5")).toDF("url"), "url")
    check("string-id delete", rebuilt(urls.where(col("url") =!= "u5"), "url"))
  }

  test("four threads probing a cold layout get the same, correct results") {
    val d = s"target/graft-tmp/textsearch-cold-${System.nanoTime()}"
    val r = s"$d-rebuilt"
    TextSearch.writeIndex(corpus.where(col("doc_id") =!= 5), "doc_id", "text", r, buckets = 8)
    TextSearch.writeIndex(corpus, "doc_id", "text", d, buckets = 8)
    TextSearch.deleteFromIndex(spark, d, Seq(Tuple1(5L)).toDF("doc_id"), "doc_id")
    OperatorCache.releaseAll(spark)
    val want = top5(r)
    val got = Await.result(Future.sequence((1 to 4).map(_ => Future(top5(d)))), 5.minutes)
    assert(got.forall(_ == want), s"$got vs $want")
  }
}
