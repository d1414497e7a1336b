package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end contract of the composed curation flow: each stage's
  * effect is visible on a corpus constructed to trip exactly one stage
  * per doc, and the composition introduces no surprises a member
  * operator doesn't have (schema, determinism, cache lifecycle).
  */
class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    // survives everything
    (1L, ("the quick brown fox jumps over the lazy dog and then walks " +
      "through the quiet green field before the early morning light")),
    // near-dup of 1 → dropped by the dedup stage (higher id loses)
    (2L, ("the quick brown fox jumps over the lazy dog and then walks " +
      "through the quiet green field before the early morning lights")),
    // word-salad punct soup → dropped by the quality floor
    (3L, "!!! ??? ... !!! ??? ... !!! ??? ... !!!"),
    // too short → dropped by the Gopher word floor
    (4L, "the small short text here"),
    // near-dup of the eval blocklist → dropped by fuzzy decon
    (5L, ("every question in the held out evaluation set appears here " +
      "word for word with the answers attached to each of them today")),
  ).toDF("doc_id", "text")

  private def blocklist = Seq(
    (900L, ("every question in the held out evaluation set appears here " +
      "word for word with the answers attached to each of them now")),
  ).toDF("doc_id", "text")

  test("each stage drops exactly its target; survivors carry a split") {
    val out = TrainingPipeline.curate(
      corpus, "doc_id", "text",
      minQuality = 0.3, minWords = 10,
      blocklist = Some((blocklist, "doc_id", "text")),
      deconThreshold = 0.5, dedupThreshold = 0.7, spanK = 8)
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L),
      s"expected only doc 1 to survive, got ${rows.map(_.getLong(0)).toSeq}")
    assert(out.columns.toSeq == Seq("doc_id", "text", "split"))
    assert(Set("train", "val", "test").contains(rows.head.getString(2)))
    // the surviving text is the rewritten (span-surgered) stream — doc 1
    // has no cross-doc or within-doc 8-gram repeats, so it round-trips
    // to its normalized token stream
    assert(rows.head.getString(1).startsWith("the quick brown fox"))
    OperatorCache.releaseAll(spark)
  }

  test("curateReport attributes each doc to the first stage that kills it") {
    val report = TrainingPipeline.curateReport(
      corpus, "doc_id", "text",
      minQuality = 0.3, minWords = 10,
      blocklist = Some((blocklist, "doc_id", "text")),
      deconThreshold = 0.5, dedupThreshold = 0.7)
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3))))
      .toSeq
    // the fixture kills exactly one doc per armed stage: 3 → floors,
    // 2 → dedup, 4 → rules, 5 → decon; 1 survives. Disabled stages
    // (seen gate, entropy) must report 0.
    assert(report == Seq(
      "ingested" -> ((5L, 0L)), "seen_gate" -> ((5L, 0L)),
      "entropy" -> ((5L, 0L)), "floors" -> ((4L, 1L)),
      "dedup" -> ((3L, 1L)), "rules" -> ((2L, 1L)),
      "decontamination" -> ((1L, 1L))), report.toString)
    OperatorCache.releaseAll(spark)
  }

  test("stage toggles: disabled stages pass their docs through") {
    // everything off → only the quality floor at 0 + no screens: all
    // docs survive with their original ids, no split column
    val out = TrainingPipeline.curate(
      corpus, "doc_id", "text",
      minQuality = 0.0, minWords = 0, blocklist = None,
      dedupThreshold = 1.1, spanK = 0, splits = Seq.empty)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.count() == 5)
    OperatorCache.releaseAll(spark)
  }

  test("curate(multilingual=true): CJK docs survive the rule screen on " +
      "segmented statistics; the default screen drops them; latin docs " +
      "screen identically on both routes") {
    val docs = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog and then " +
        "the dog jumps over the fox with a bone to share in the sun"),
      2L -> "深度学习模型训练数据是大规模的语料库需要清洗和筛选才能使用",
      3L -> "的的的的的的的的的的的的的的的的的的的的的的的的的的的的",
    ).toDF("doc_id", "text")
    def run(ml: Boolean) = TrainingPipeline.curate(docs, "doc_id", "text",
      minQuality = 0.3, minWords = 10, dedupThreshold = 1.1, spanK = 0,
      splits = Seq.empty, multilingual = ml)
      .select("doc_id").as[Long].collect().toSet
    // default: every CJK doc reads as ONE whitespace word — both die
    assert(run(false) == Set(1L), "latin-tuned screen drops all CJK")
    // routed: the real CJK doc survives; the repetitive one still dies
    // (uniq_frac repetition floor), and the latin doc's verdict is
    // unchanged (the latin route IS the Gopher conjunction)
    assert(run(true) == Set(1L, 2L),
      "routed screen keeps good CJK, drops repetitive CJK")
    OperatorCache.releaseAll(spark)
  }

  test("Bloom pre-gate drops already-ingested docs before any scoring") {
    // yesterday's corpus contains doc 1's exact text (normalized) —
    // the gate must remove it while every other doc flows through to
    // the downstream stages unchanged
    val yesterday = corpus.where(col("doc_id") === 1L)
    val bitmap = BloomGate.build(yesterday, "text", 1 << 12, 4)
    val out = TrainingPipeline.curate(
      corpus, "doc_id", "text",
      minQuality = 0.0, minWords = 0, blocklist = None,
      dedupThreshold = 1.1, spanK = 0, splits = Seq.empty,
      seenFilter = Some((bitmap, 1 << 12, 4)))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
    OperatorCache.releaseAll(spark)
  }

  test("entropy screen drops gibberish when armed, passes it when off") {
    val withMash = corpus.union(
      Seq((6L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")).toDF("doc_id", "text"))
    def ids(minEntropy: Double) = TrainingPipeline.curate(
      withMash, "doc_id", "text",
      minQuality = 0.0, minWords = 0, blocklist = None,
      dedupThreshold = 1.1, spanK = 0, splits = Seq.empty,
      minEntropy = minEntropy)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(!ids(2.5).contains(6L), "keyboard mash must fall to the screen")
    assert(ids(0.0).contains(6L), "disabled screen must pass it")
    OperatorCache.releaseAll(spark)
  }

  test("p49 curate materializes with a pinned job set") {
    // The composed pipeline is exactly where the r5–r8 cache-lifecycle
    // bugs lived (quality scores feeding dedup's banded joins, span
    // surgery over dedup survivors): a broadcast-cache race or a plan
    // regression shows up as EXTRA jobs before it shows up as seconds.
    // 51 measured identical at sf0.001/local[4], sf0.001/local[32] and
    // sf0.01/local[8] — the count is a property of the composed plan,
    // not the data; re-pin only after attributing the delta.
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    spark.sharedState.cacheManager.clearCache()
    OperatorCache.releaseAll(spark)
    val started = new AtomicInteger(0)
    val ended = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.SparkEntry.queries("p49_curate_e2e")(spark, sf)
        .write.format("noop").mode("overwrite").save()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var stable = 0
      while (stable < 10 && System.nanoTime() < deadline) {
        val before = (started.get(), ended.get())
        Thread.sleep(20)
        if (before == ((started.get(), ended.get())) && before._1 == before._2)
          stable += 1
        else stable = 0
      }
      assert(started.get() == 51,
        s"p49's pinned job set is 51, submitted ${started.get()} — " +
          "more means something recomputed (or the plan changed; re-pin only " +
          "after attributing the delta)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      OperatorCache.releaseAll(spark)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // ---- incremental curation (recrawl shape) ----

  test("curateIncremental ≡ curate(prev ∪ delta) on the documents table (monotone ids)") {
    val docs = graft.Tables.load(spark, sf, "documents").select("doc_id", "text")
    val t = docs.agg(max("doc_id")).head().getLong(0) * 7 / 10
    val prev = docs.where(col("doc_id") <= t)
    val delta = docs.where(col("doc_id") > t)

    val full = TrainingPipeline.curate(docs, "doc_id", "text",
      minQuality = 0.3, minWords = 20, spanK = 0)
      .where(col("doc_id") > t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    OperatorCache.releaseAll(spark)

    val state = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 20)
    val incr = TrainingPipeline.curateIncremental(state, delta, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    OperatorCache.releaseAll(spark)

    assert(incr == full,
      s"incremental result must equal the full run restricted to the batch: " +
        s"only-incr=${(incr -- full).map(_._1)}, only-full=${(full -- incr).map(_._1)}")
    assert(incr.nonEmpty, "the equivalence must not hold vacuously")
  }

  private def sentence(tag: String) =
    s"the $tag morning report describes how the valley weather shifted " +
      s"over seven quiet days while local farmers watched the $tag clouds drift"

  test("curateIncremental: prior links, batch clusters, exact-copy gate, floors") {
    val prev = Seq(
      1L -> sentence("alpha"),
      2L -> (sentence("alpha") + " extra"), // near-dup of 1 — DROPPED by prior dedup, still linkable state
      3L -> sentence("bravo"),
    ).toDF("doc_id", "text")
    val state = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)

    val delta = Seq(
      10L -> (sentence("alpha") + " again"), // near-dup of prior (incl. dedup-dropped 2) → dropped
      11L -> sentence("charlie"),            // cluster {11,12}: unlinked → min id survives
      12L -> (sentence("charlie") + " also"),
      13L -> sentence("bravo"),              // exact copy of prior raw → Bloom-gated
      14L -> sentence("delta"),              // fresh → survives
      15L -> "!!! ??? ... !!! ??? ... !!!",  // quality floor
      16L -> "too short to pass",            // Gopher word floor
    ).toDF("doc_id", "text")

    val out = TrainingPipeline.curateIncremental(state, delta, "doc_id", "text")
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(11L, 14L), s"got $ids")
    OperatorCache.releaseAll(spark)

    // the same batch through a FULL curate over prev ∪ delta must agree
    // on the batch's ids (monotone id split)
    val full = TrainingPipeline.curate(prev.union(delta), "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7, spanK = 0)
      .where(col("doc_id") >= 10L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(full == ids, s"full-run batch ids $full must match incremental $ids")
    OperatorCache.releaseAll(spark)
  }

  test("advanceState: batch 2 dedups against batch 1's docs — including its dedup-dropped ones") {
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)

    val batch1 = Seq(
      10L -> sentence("echo"),
      11L -> (sentence("echo") + " too"), // dropped by batch-1 dedup (cluster with 10)
    ).toDF("doc_id", "text")
    val out1 = TrainingPipeline.curateIncremental(state0, batch1, "doc_id", "text")
    assert(out1.select("doc_id").as[Long].collect().toSeq == Seq(10L))
    OperatorCache.releaseAll(spark)

    val state1 = TrainingPipeline.advanceState(state0, batch1, "doc_id", "text")
    val batch2 = Seq(
      20L -> (sentence("echo") + " yet again"), // near-dup of batch-1 doc → dropped
      21L -> (sentence("echo") + " too more"),  // near-dup of batch-1's DEDUP-DROPPED 11 → still dropped
      22L -> sentence("foxtrot"),               // fresh → survives
    ).toDF("doc_id", "text")
    val out2 = TrainingPipeline.curateIncremental(state1, batch2, "doc_id", "text")
    assert(out2.select("doc_id").as[Long].collect().toSeq == Seq(22L))
    OperatorCache.releaseAll(spark)

    // cross-check: three-way full run agrees on batch 2's ids
    val full = TrainingPipeline.curate(prev.union(batch1).union(batch2),
      "doc_id", "text", minQuality = 0.3, minWords = 5,
      dedupThreshold = 0.7, spanK = 0)
      .where(col("doc_id") >= 20L).select("doc_id").as[Long].collect().toSeq
    assert(full == Seq(22L))
    OperatorCache.releaseAll(spark)
  }

  test("Bloom false positives must not drop fresh docs (exact-confirm gate, r14 regression)") {
    // At 485k prior docs a 2^22-bit bitmap false-positived ~2% of a
    // fresh batch, silently voiding the curateIncremental ≡ curate
    // contract (caught live by RecrawlScaleBench at 500k docs). Force
    // the worst case — an ALL-ONES bitmap flags EVERY doc "maybe seen"
    // — and assert the seen-key confirm keeps every genuinely-fresh doc
    // while still dropping the true exact copy.
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7,
      bloomNumBits = 1 << 12)
    val saturated = state.copy(bloom = state.bloom.map {
      case (bits, n, k) => (Array.fill(bits.length)(-1L), n, k)
    })
    val batch = Seq(
      10L -> sentence("echo"),               // fresh → must survive the gate
      11L -> sentence("foxtrot"),            // fresh → must survive the gate
      12L -> (sentence("alpha") + ""),       // exact copy of prior 1 → dropped
    ).toDF("doc_id", "text")
    val out = TrainingPipeline.curateIncremental(saturated, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(10L, 11L),
      s"all-ones bitmap must not drop fresh docs (exact confirm): $out")
    OperatorCache.releaseAll(spark)
  }

  test("appendState ≡ advanceState: parquet appends roll the state identically") {
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    val dir = "target/graft-tmp/curate-state-append"
    TrainingPipeline.writeState(state0, dir)
    val batch1 = Seq(
      10L -> sentence("echo"),
      11L -> (sentence("echo") + " too"), // dedup-dropped, must still enter state
    ).toDF("doc_id", "text")

    val advanced = TrainingPipeline.advanceState(state0, batch1, "doc_id", "text")
    val appended = TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch1, "doc_id", "text", dir)

    // the appended layout holds the same state rows as the in-memory roll
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(appended.cleaned) == rows(advanced.cleaned))
    assert(rows(appended.bandIndex) == rows(advanced.bandIndex))
    assert(rows(appended.seenKeys.get) == rows(advanced.seenKeys.get))
    assert(appended.bloom.get._1.toSeq == advanced.bloom.get._1.toSeq)
    // the rewritten bitmap file matches too
    assert(TrainingPipeline.readState(spark, dir).bloom.get._1.toSeq ==
      advanced.bloom.get._1.toSeq)

    // and a following batch curates identically against either state
    val batch2 = Seq(
      21L -> (sentence("echo") + " too more"), // links to dedup-dropped 11
      22L -> sentence("foxtrot"),              // fresh → survives
    ).toDF("doc_id", "text")
    def ids(s: TrainingPipeline.CurateState) = {
      val r = TrainingPipeline.curateIncremental(s, batch2, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      OperatorCache.releaseAll(spark)
      r
    }
    assert(ids(appended) == Seq(22L) && ids(advanced) == Seq(22L))
  }

  test("deleteFromState: retraction stops suppression; compact folds it out") {
    val prev = Seq(1L -> sentence("alpha"), 2L -> sentence("bravo"))
      .toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    val dir = s"target/graft-tmp/curate-state-del-${System.nanoTime()}"
    TrainingPipeline.writeState(state0, dir)
    def inc(batch: Seq[(Long, String)]): Seq[Long] = {
      val r = TrainingPipeline.curateIncremental(
          TrainingPipeline.readState(spark, dir),
          batch.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      OperatorCache.releaseAll(spark)
      r
    }
    val nearDup = Seq(10L -> (sentence("alpha") + " too"))
    val exactCopy = Seq(12L -> sentence("alpha"))
    // before the retraction: the prior link kills 10, the seen gate 12
    assert(inc(nearDup) == Seq() && inc(exactCopy) == Seq())
    // RETRACT doc 1 (with its text, so the exact-seen key retires too)
    TrainingPipeline.deleteFromState(spark, dir,
      Seq(1L -> sentence("alpha")).toDF("doc_id", "text"),
      "doc_id", textCol = Some("text"))
    assert(inc(nearDup) == Seq(10L), "near-dup of retracted doc must survive")
    assert(inc(exactCopy) == Seq(12L), "exact copy of retracted doc must survive")
    // unrelated suppression is untouched
    assert(inc(Seq(13L -> (sentence("bravo") + " too"))) == Seq())
    // delete replay appends nothing (idempotent)
    TrainingPipeline.deleteFromState(spark, dir,
      Seq(1L -> sentence("alpha")).toDF("doc_id", "text"),
      "doc_id", textCol = Some("text"))
    assert(spark.read.parquet(s"$dir/_tombstones").count() == 1L)
    assert(spark.read.parquet(s"$dir/_tombstone_keys").count() == 1L)
    // compaction folds the retraction out and clears the sets
    TrainingPipeline.compactState(spark, dir)
    assert(inc(nearDup) == Seq(10L) && inc(exactCopy) == Seq(12L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_tombstone_keys")))
    assert(spark.read.parquet(s"$dir/cleaned").select("doc")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("freezePacks: curated docs pack exactly once, cells pure, read-back real") {
    val base = s"target/graft-tmp/freeze-spec-${System.nanoTime()}"
    // 40 curate-surviving docs + one floor-failing doc + one exact dup
    val docs = ((0L until 40L).map(i => (i, sentence(s"tag$i"))) ++
      Seq(100L -> "too short", 101L -> sentence("tag0"))) // dup of doc 0
      .toDF("doc_id", "text")
    val vectors = (0L until 102L)
      .map(i => (i, Seq.tabulate(4)(d => ((i % 7) + d).toFloat / 7f)))
      .toDF("vec_id", "embedding")
    val frozen = TrainingPipeline.freezePacks(spark, docs, "doc_id", "text",
      vectors, "vec_id", "embedding", base, budgetTokens = 64L, cells = 3)
    val rows = frozen.collect()
    OperatorCache.releaseAll(spark)

    // every pack's boundary walk is consistent and every curated doc
    // appears exactly once across all packs
    val allDocs = rows.flatMap(_.getSeq[Long](rows.head.fieldIndex("docs")))
    assert(allDocs.length == allDocs.distinct.length, "no doc packs twice")
    assert(allDocs.toSet == (0L until 40L).toSet,
      s"survivors = the 40 curate-passing docs, got ${allDocs.sorted.toSeq}")
    rows.foreach { r =>
      val b = r.getSeq[Long](r.fieldIndex("doc_boundaries"))
      assert(b.head == 0L && b.last == r.getAs[Long]("n_tokens") &&
        b.length == r.getAs[Long]("n_docs") + 1,
        s"boundaries must walk 0..n_tokens with n_docs+1 offsets: $r")
    }
    // the frame really came from the published layout
    assert(spark.read.parquet(s"$base/packs").count() == rows.length)
  }

  test("freezePacks with a BPE tokenizer: packs carry the invertible piece " +
      "stream and published-vocab ids") {
    val base = s"target/graft-tmp/freeze-bpe-spec-${System.nanoTime()}"
    val docs = (0L until 40L).map(i => (i, sentence(s"tag$i")))
      .toDF("doc_id", "text")
    val vectors = (0L until 40L)
      .map(i => (i, Seq.tabulate(4)(d => ((i % 7) + d).toFloat / 7f)))
      .toDF("vec_id", "embedding")
    val model = Bpe.train(docs, "text", numMerges = 10, maxWords = 1000)
    val frozen = TrainingPipeline.freezePacks(spark, docs, "doc_id", "text",
      vectors, "vec_id", "embedding", base, budgetTokens = 64L, cells = 3,
      tokenizer = Some(model))
    val rows = frozen.collect()
    OperatorCache.releaseAll(spark)

    // boundaries count PIECES and walk each pack exactly
    rows.foreach { r =>
      val b = r.getSeq[Long](r.fieldIndex("doc_boundaries"))
      val n = r.getAs[Long]("n_tokens")
      assert(b.head == 0L && b.last == n &&
        r.getSeq[String](r.fieldIndex("token_ids")).length == n,
        s"piece-counted boundaries must walk 0..n_tokens: $r")
    }
    // the piece stream is invertible: stripping separators and turning
    // each </w> marker into one space reconstructs the docs' normalized
    // token streams, concatenated in pack order (the p111 property,
    // applied to the trainer handoff)
    val packedDocs = rows.flatMap(_.getSeq[Long](rows.head.fieldIndex("docs")))
    val norm = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.replaceAll("[^a-z0-9\\s]", "")
        .trim.split("\\s+").mkString(" ")).toMap
    val decoded = rows.map { r =>
      r.getSeq[String](r.fieldIndex("token_ids")).mkString(" ")
        .replace(" ", "").replace("</w>", " ").trim
    }.mkString(" ")
    val expected = packedDocs.map(norm).mkString(" ")
    assert(decoded == expected,
      "pack piece streams must decode to the packed docs' token streams")
    // vocab_ids align 1:1 with the pieces through the PUBLISHED vocab
    val vocab = spark.read.parquet(s"$base/vocab").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val pieces = r.getSeq[String](r.fieldIndex("token_ids"))
      val ids = r.getSeq[Long](r.fieldIndex("vocab_ids"))
      assert(ids == pieces.map(vocab),
        "vocab_ids must be the published vocab applied to token_ids")
    }
  }

  test("orderScreens: measured drop rates, the rank-ordering law, cost flips") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val screens = Seq(
      ("mod2", col("doc_id") % 2 === 0, 1.0),   // drop 0.5, ratio 0.50
      ("mod4", col("doc_id") % 4 === 0, 3.0),   // drop 0.75, ratio 0.25
      ("mod5", col("doc_id") % 5 === 0, 2.0))   // drop 0.8, ratio 0.40
    val out = TrainingPipeline.orderScreens(docs, "doc_id", screens,
      sampleTarget = 1000L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(6)))
    assert(out.map(_._2).toSeq == Seq("mod2", "mod5", "mod4"),
      s"rank ordering = drop-per-cost desc: ${out.toSeq}")
    val byName = out.map(t => t._2 -> t).toMap
    assert(byName("mod2")._3 == 100 && byName("mod2")._4 == 50 &&
      byName("mod2")._5 == 0.5 && byName("mod2")._6 == 0.5)
    assert(byName("mod5")._5 == 0.8 && byName("mod5")._6 == 0.4)
    assert(byName("mod4")._5 == 0.75 && byName("mod4")._6 == 0.25)
    // unit costs: the pure-selectivity order (cheapest-information
    // argument gone, highest drop first) — cost genuinely moves the plan
    val unit = TrainingPipeline.orderScreens(docs, "doc_id",
      screens.map { case (n, p, _) => (n, p, 1.0) }, sampleTarget = 1000L)
      .collect().map(_.getString(1)).toSeq
    assert(unit == Seq("mod5", "mod4", "mod2"),
      s"unit costs must order by raw drop rate: $unit")
  }

  test("orderScreensMeasured: timed costs, selectivities equal the " +
      "caller-cost pass, rank follows measured drop-per-ms (r18 VERDICT)") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val screens = Seq(
      ("mod2", col("doc_id") % 2 === 0),
      ("mod4", col("doc_id") % 4 === 0),
      ("mod5", col("doc_id") % 5 === 0))
    val out = TrainingPipeline.orderScreensMeasured(docs, "doc_id", screens,
      sampleTarget = 1000L).collect()
    assert(out.length == 3)
    val byName = out.map(r => r.getString(1) -> r).toMap
    // the deterministic evidence (sample, kept, drop) is EXACTLY the
    // caller-cost overload's — the clock only reprices, never recounts
    assert(byName("mod2").getLong(2) == 100 && byName("mod2").getLong(3) == 50
      && byName("mod2").getDouble(4) == 0.5)
    assert(byName("mod4").getDouble(4) == 0.75)
    assert(byName("mod5").getDouble(4) == 0.8)
    // clock invariants: positive ms, ratio arithmetic consistent, rank
    // sorted by measured drop-per-ms desc (ties name asc)
    out.foreach { r =>
      val ms = r.getDouble(5)
      assert(ms > 0, s"cost_ms must be positive: $r")
      assert(math.abs(r.getDouble(6) -
        BigDecimal(r.getDouble(4) / ms).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"drop_per_cost_ms must equal drop/ms 6-rounded: $r")
    }
    val ranked = out.sortBy(_.getInt(0)).map(r => (r.getDouble(6), r.getString(1)))
    assert(ranked.sameElements(ranked.sortBy { case (d, n) => (-d, n) }),
      s"rank must sort by measured drop-per-ms desc: ${ranked.toSeq}")
    OperatorCache.releaseAll(spark)
  }

  test("appendState with a batchId is idempotent: replay converges, partial landing heals") {
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    val dir = s"target/graft-tmp/curate-state-idem-${System.nanoTime()}"
    TrainingPipeline.writeState(state0, dir)
    val batch = Seq(10L -> sentence("echo"), 11L -> sentence("foxtrot"))
      .toDF("doc_id", "text")

    val once = TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    def counts() = (
      spark.read.parquet(s"$dir/cleaned").count(),
      spark.read.parquet(s"$dir/band_index").count(),
      spark.read.parquet(s"$dir/seen_keys").count())
    val after1 = counts()
    assert(once.cleaned.count() == after1._1 && after1._1 == 3L,
      s"prior alpha + echo + foxtrot in the reference set: $after1")

    // full replay (double-submitted batch): marker short-circuits,
    // nothing lands twice, nothing is lost
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(counts() == after1, "completed-batch replay must be a no-op")

    // partial-failure replay: simulate a crash after the cleaned append
    // but before the marker — delete the marker and one table's files
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.startsWith("_applied_b1")).get
    fs.delete(marker, false)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/band_index"))
      .filter(_.getPath.getName.startsWith("batch_b1"))
      .foreach(s => fs.delete(s.getPath, false))
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(counts() == after1,
      "replay after a partial landing must heal to exactly one copy")

    // a different batch still appends on top
    val more = TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir),
      Seq(20L -> sentence("golf")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = Some("b2"))
    assert(more.cleaned.count() == after1._1 + 1)

    // sanitize-collision safety (r16 ADVICE): "a/b" and "a b" both
    // sanitize to "a_b" — with a plain sanitizer, replaying one batch
    // would sweep the OTHER's batch_a_b_* files during cleanup and
    // silently lose its landed rows; the hashed safe id keeps them apart
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir),
      Seq(30L -> sentence("hotel")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = Some("a/b"))
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir),
      Seq(31L -> sentence("india")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = Some("a b"))
    val full = counts()
    // replay "a/b" (marker short-circuits) then force its landing path:
    // drop its marker so cleanup really runs — "a b"'s rows must survive
    val mAB = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("_applied_a_b"))
    assert(mAB.length == 2, s"distinct markers per raw id: ${mAB.toSeq}")
    val slashHash = f"${"a/b".hashCode & 0x7fffffff}%08x"
    fs.delete(mAB.find(_.getName.endsWith(slashHash)).get, false)
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir),
      Seq(30L -> sentence("hotel")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = Some("a/b"))
    assert(counts() == full,
      "replaying a/b must not sweep 'a b''s batch files")
    assert(spark.read.parquet(s"$dir/cleaned").select("doc")
      .as[Long].collect().toSet.intersect(Set(30L, 31L)) == Set(30L, 31L),
      "both collision-prone batches' rows survive the replay")
    OperatorCache.releaseAll(spark)
  }

  test("writeState supersedes a dir's batch-application history: a NEW " +
      "state in a reused dir accepts same-named batches again") {
    // r20 regression (found via RecrawlScaleBench after a testdata
    // regeneration reused its fixed state dir): writeState overwrote
    // the tables but left the old generation's _applied_<id> markers,
    // so appendState of a same-named batch against the NEW state
    // no-op'd — the batch never landed, and every dedup link through
    // it was silently lost
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val dir = s"target/graft-tmp/curate-state-supersede-${System.nanoTime()}"
    val batch = Seq(10L -> sentence("echo")).toDF("doc_id", "text")
    def freshState() = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    // generation 1: write, land batch "b1"
    TrainingPipeline.writeState(freshState(), dir)
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(spark.read.parquet(s"$dir/cleaned").count() == 2L)
    // generation 2: SAME dir, fresh state — the old marker must not
    // swallow the same-named batch
    TrainingPipeline.writeState(freshState(), dir)
    assert(spark.read.parquet(s"$dir/cleaned").count() == 1L,
      "the rewritten state starts from the prior corpus alone")
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(spark.read.parquet(s"$dir/cleaned").count() == 2L,
      "the same-named batch must LAND against the new generation")
    assert(spark.read.parquet(s"$dir/cleaned").select("doc")
      .as[Long].collect().toSet == Set(1L, 10L))
    OperatorCache.releaseAll(spark)
  }

  test("pre-hash state dirs: legacy _applied markers and batch files still replay safely") {
    // r17 ADVICE: the hashed safe id changed the marker name — a state
    // dir written BEFORE the change holds _applied_<sanitized> markers
    // and batch_<sanitized>_<i>.parquet files the hashed code wouldn't
    // match, so a replayed already-applied batch would land twice
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    val dir = s"target/graft-tmp/curate-state-legacy-${System.nanoTime()}"
    TrainingPipeline.writeState(state0, dir)
    val batch = Seq(10L -> sentence("echo")).toDF("doc_id", "text")
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    def counts() = (
      spark.read.parquet(s"$dir/cleaned").count(),
      spark.read.parquet(s"$dir/band_index").count())
    val after1 = counts()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    // simulate the pre-upgrade dir: the marker sits at the UN-hashed
    // name and the batch files at batch_b1_<i>.parquet
    val hash = f"${"b1".hashCode & 0x7fffffff}%08x"
    fs.rename(p(s"$dir/_applied_b1_$hash"), p(s"$dir/_applied_b1"))
    Seq("cleaned", "band_index", "seen_keys")
      .filter(t => fs.exists(p(s"$dir/$t"))).foreach { t =>
      fs.listStatus(p(s"$dir/$t"))
        .filter(_.getPath.getName.startsWith(s"batch_b1_${hash}_"))
        .foreach { s =>
          val legacy = s.getPath.getName.replace(s"batch_b1_${hash}_", "batch_b1_")
          fs.rename(s.getPath, p(s"$dir/$t/$legacy"))
        }
    }
    // replay: the legacy marker must short-circuit (no double landing)
    // and migrate to the hashed name for later probes
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(counts() == after1,
      "a legacy-marked applied batch must replay as a no-op")
    assert(fs.exists(p(s"$dir/_applied_b1_$hash")),
      "the legacy marker migrates to the hashed name")

    // pre-upgrade PARTIAL landing: no marker at either name, files at
    // the legacy batch_b1_<i>.parquet names — the replay's cleanup must
    // sweep them before re-landing, else the rows duplicate
    fs.delete(p(s"$dir/_applied_b1_$hash"), false)
    fs.delete(p(s"$dir/_applied_b1"), false)
    TrainingPipeline.appendState(
      TrainingPipeline.readState(spark, dir), batch, "doc_id", "text", dir,
      batchId = Some("b1"))
    assert(counts() == after1,
      "replay over a legacy partial landing must heal to exactly one copy")
    assert(spark.read.parquet(s"$dir/cleaned")
      .where(col("doc") === 10L).count() == 1L,
      "the legacy-named files were swept, not duplicated")
    OperatorCache.releaseAll(spark)
  }

  test("bloom auto-sizing: next pow2 ≥ 16×docs, floored, disableable") {
    val prev = Seq(1L -> sentence("alpha"), 2L -> sentence("bravo"))
      .toDF("doc_id", "text")
    // tiny corpus → the 2^12 floor
    val auto = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5)
    assert(auto.bloom.get._2 == (1 << 12))
    assert(auto.seenKeys.isDefined)
    // a corpus past the floor: 16×600 = 9600 → next pow2 = 2^14
    val mid = (0L until 600L).map(i => (i, sentence(s"doc$i")))
      .toDF("doc_id", "text")
    val sized = TrainingPipeline.curateState(mid, "doc_id", "text",
      minQuality = 0.3, minWords = 5)
    assert(sized.bloom.get._2 == (1 << 14))
    // 0 disables both gate artifacts; explicit pow2 taken as-is
    val off = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, bloomNumBits = 0)
    assert(off.bloom.isEmpty && off.seenKeys.isEmpty)
    val explicit = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, bloomNumBits = 1 << 20)
    assert(explicit.bloom.get._2 == (1 << 20))
    OperatorCache.releaseAll(spark)
  }

  test("compactState: fewer files, deduped seen keys, identical curation") {
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state0 = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, minWords = 5, dedupThreshold = 0.7)
    val dir = "target/graft-tmp/curate-state-compact"
    TrainingPipeline.writeState(state0, dir)
    // two appends; batch 2 re-crawls batch 1's doc 10 exactly →
    // duplicate seen key across appended files
    var st = TrainingPipeline.readState(spark, dir)
    st = TrainingPipeline.appendState(st,
      Seq(10L -> sentence("echo")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    st = TrainingPipeline.appendState(st,
      Seq(20L -> sentence("echo"), 21L -> sentence("golf"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir)

    def parquetFiles(sub: String) = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles("seen_keys")
    val keysBefore = spark.read.parquet(s"$dir/seen_keys").count()
    val distinctBefore = spark.read.parquet(s"$dir/seen_keys").distinct().count()
    assert(keysBefore > distinctBefore, "fixture must carry a duplicate key")

    val batch3 = Seq(22L -> (sentence("golf") + " more"), 23L -> sentence("hotel"))
      .toDF("doc_id", "text")
    def ids(s0: TrainingPipeline.CurateState) = {
      val r = TrainingPipeline.curateIncremental(s0, batch3, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      OperatorCache.releaseAll(spark)
      r
    }
    val before = ids(st)
    val compacted = TrainingPipeline.compactState(spark, dir)
    assert(parquetFiles("seen_keys") <= filesBefore)
    assert(spark.read.parquet(s"$dir/seen_keys").count() == distinctBefore)
    // rows preserved exactly on the non-deduped tables (doc 20 is the
    // exact re-crawl the gate dropped before floors, so it never
    // entered cleaned — its text is doc 10's, already linkable)
    assert(spark.read.parquet(s"$dir/cleaned").count() == 3) // 1,10,21
    assert(ids(compacted) == before)
  }

  test("CurateState round-trips through its parquet layout") {
    val prev = Seq(
      1L -> sentence("alpha"),
      2L -> sentence("bravo"),
    ).toDF("doc_id", "text")
    val state = TrainingPipeline.curateState(prev, "doc_id", "text",
      minQuality = 0.3, languages = Set("en", "und"), minWords = 5,
      dedupThreshold = 0.7, splits = Seq("train" -> 0.9, "val" -> 0.1))
    val dir = "target/graft-tmp/curate-state"
    TrainingPipeline.writeState(state, dir)
    val loaded = TrainingPipeline.readState(spark, dir)

    // params survive exactly
    assert(loaded.minQuality == 0.3 && loaded.languages == Set("en", "und"))
    assert(loaded.minWords == 5L && loaded.dedupThreshold == 0.7)
    assert(loaded.splits == Seq("train" -> 0.9, "val" -> 0.1))
    assert(loaded.bloom.isDefined &&
      loaded.bloom.get._1.toSeq == state.bloom.get._1.toSeq &&
      loaded.bloom.get._2 == state.bloom.get._2)

    // and the loaded state curates a batch identically to the live one
    val delta = Seq(
      10L -> (sentence("alpha") + " again"),
      11L -> sentence("charlie"),
    ).toDF("doc_id", "text")
    def ids(s: TrainingPipeline.CurateState) =
      TrainingPipeline.curateIncremental(s, delta, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
    val live = ids(state); OperatorCache.releaseAll(spark)
    val reloaded = ids(loaded); OperatorCache.releaseAll(spark)
    assert(live == Seq(11L) && reloaded == live)
  }

  test("readState refuses a Bloom bitmap from a stale bit-layout format") {
    val prev = Seq(1L -> sentence("alpha")).toDF("doc_id", "text")
    val state = TrainingPipeline.curateState(prev, "doc_id", "text")
    val dir = "target/graft-tmp/curate-state-stalefmt"
    TrainingPipeline.writeState(state, dir)
    // doctor the persisted parameters to claim the pre-r14 v1 bit
    // layout — the probe positions would no longer match the bitmap's bits
    val d = LayoutFiles.descriptor(spark, dir, "TrainingPipeline.writeState")
    LayoutFiles.publish(spark, dir, d.copy(params =
      d.params.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]().put("bloomFormat", 1)))
    val e = intercept[IllegalArgumentException](
      TrainingPipeline.readState(spark, dir))
    assert(e.getMessage.contains("format 1") &&
      e.getMessage.contains("rebuild"))
    // a bloomless state carries no bitmap to mismatch — loads fine
    val noBloom = TrainingPipeline.curateState(prev, "doc_id", "text",
      bloomNumBits = 0)
    val dir2 = "target/graft-tmp/curate-state-nobloom"
    TrainingPipeline.writeState(noBloom, dir2)
    assert(TrainingPipeline.readState(spark, dir2).bloom.isEmpty)
  }

  test("composition is deterministic: two runs produce identical results") {
    def run() = TrainingPipeline.curate(
      corpus, "doc_id", "text", minWords = 10,
      blocklist = Some((blocklist, "doc_id", "text")),
      deconThreshold = 0.5, dedupThreshold = 0.7)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val a = run(); OperatorCache.releaseAll(spark)
    val b = run(); OperatorCache.releaseAll(spark)
    assert(a == b)
  }
}
