package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Harness
import graft.functions.GraftFunctions
import graft.pipeline.{BloomGate, Curation, Dedup, TextAnalysis, TextClassifier, TrainingPipeline}

/** Scale scenarios over the documents corpus replicated ×N with
  * remapped ids ([[Harness.replicate]]) — rows grow ×N while the corpus
  * vocabulary and near-dup structure repeat, unless a scenario says
  * otherwise (sketch and winnow make every copy's content distinct).
  */
object CorpusScenarios {

  private def replicas(args: Seq[String]): Int = args.headOption.map(_.toInt).getOrElse(10)

  private def docs(h: Harness): DataFrame = h.table("documents").select("doc_id", "text")

  private def replicated(h: Harness, n: Int): DataFrame =
    h.input(s"documents x$n")(Harness.replicate(docs(h), "doc_id", n))

  /** Bigram-LM scoring: replication grows the DOC-grained frames
    * (tokens, bigrams, scores) ×N while the MODEL-grained frames
    * (pairTotals, leftTotals, vocab) stay vocabulary-bounded, so a
    * sublinear-in-N model cost is the model-first restructure's claim
    * ("the big frame joins once"). */
  def bigram(h: Harness, args: Seq[String]): Unit = {
    val scaled = replicated(h, replicas(args))
    h.step("bigramNll [docs_out, bigrams, avg_nll]") {
      TextAnalysis.bigramNll(scaled, "doc_id", "text")
        .agg(count(lit(1)).as("docs_out"),
          sum("n_bigrams").as("bigrams"),
          round(avg("nll"), 4).as("avg_nll"))
        .head()
    }
  }

  /** Sliding-window chunking (16-token windows, stride 8): one scan + one
    * Generate (map-only, zero shuffles), so cost must scale ~linearly in
    * rows with no fixed-cost cliff. */
  def chunk(h: Harness, args: Seq[String]): Unit = {
    val scaled = replicated(h, replicas(args))
    h.step("chunkDocuments 16/8 [chunks, mean_tokens]") {
      Curation.chunkDocuments(scaled, "doc_id", "text", 16, 8)
        .agg(count(lit(1)).as("n_chunks"), round(avg("n_tokens"), 2).as("mean_tokens"))
        .head()
    }
  }

  /** The iterative cluster loop: minhash-LSH pairs, then nearDupClusters
    * with per-iteration wall time + convergence rounds. Every original
    * doc gains N−1 exact twins — the worst realistic dedup shape
    * (re-crawled shards), multiplying candidate pairs quadratically in N
    * within each twin group. */
  def cluster(h: Harness, args: Seq[String]): Unit = {
    val scaled = replicated(h, replicas(args))
    for (pairs <- h.step("minhashNearDups pairs") {
        Dedup.minhashNearDups(scaled, "doc_id", "text",
          threshold = 0.12, shingleK = 3, numHashes = 32, bands = 16)
          .localCheckpoint()
      }) {
      println(s"pairs: ${pairs.value.count()}")
      val iters = scala.collection.mutable.Buffer.empty[(Int, Double)]
      h.step("nearDupClusters [clusters]") {
        // driverMaxEdges = 0: this proves the distributed loop's
        // per-iteration constant, so the small-edge driver cutover is
        // disabled regardless of replica count
        Dedup.nearDupClusters(pairs.value, maxIter = 10,
          onIteration = (round, sec) => iters += ((round, sec)),
          driverMaxEdges = 0L)
          .select("label").distinct().count()
      }
      println(s"iterations: ${iters.size} (${iters.map(t => f"${t._2}%.2f").mkString(", ")} s)")
    }
  }

  /** The heaviest plans: gopher repetition (p58), Kneser–Ney trigram NLL
    * (p66), contrastive pairs (p84), the sampled LSH recall audit (p92,
    * the production form of p89) and the composed curate flow (p49). */
  def heavy(h: Harness, args: Seq[String]): Unit = {
    val n = replicas(args)
    val scaled = replicated(h, n)
    h.step("p58 gopher_repetition") {
      TextAnalysis.gopherRepetitionStats(scaled, "doc_id", "text").count()
    }
    h.step("p66 kneser_ney") {
      TextAnalysis.kneserNeyTrigramNll(scaled, "doc_id", "text").count()
    }
    h.step("p84 contrastive_pairs") {
      Curation.contrastivePairs(scaled, "doc_id", "text",
        threshold = 0.12, shingleK = 3, numHashes = 32, bands = 16,
        buckets = 16, salt = 7).count()
    }
    h.step("p92 lsh_audit_sampled") {
      Dedup.lshRecallAudit(scaled, "doc_id", "text",
        threshold = 0.12, shingleK = 3, numHashes = 32, bands = 16,
        sampleFraction = Some(0.25), maxDocFreq = Some(500)).count()
    }
    // the whole composed flow: quality floors → Gopher screen → fuzzy
    // decontamination → near-dup dedup → span surgery → split, at ×N —
    // the dedup stage collapses the replicas, so this is the flow's
    // maximal-duplication regime
    h.step("p49 curate_e2e") {
      TrainingPipeline.curate(
        scaled.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
        minQuality = 0.3, minWords = 20,
        blocklist = Some((scaled.where(col("doc_id") % 50 === 0), "doc_id", "text")))
        .count()
    }
    // the production sizing: the audit sample is ABSOLUTE (audit the
    // same number of docs however big the corpus is) — fraction scales
    // down with ×N, so the audit cost stays flat while the corpus grows
    h.step("p92 lsh_audit_absolute") {
      Dedup.lshRecallAudit(scaled, "doc_id", "text",
        threshold = 0.12, shingleK = 3, numHashes = 32, bands = 16,
        sampleFraction = Some(0.25 / n), maxDocFreq = Some(500)).count()
    }
  }

  /** Sequence packing into 256-token budgets: one shard-keyed exchange +
    * one window per shard, so cost should scale ~linearly with fill
    * efficiency holding; then packRelated uniform and with one cell
    * holding half the corpus (the de-skew case). */
  def pack(h: Harness, args: Seq[String]): Unit = {
    val n = replicas(args)
    val scaled = h.input(s"documents x$n")(Harness.replicate(docs(h), "doc_id", n)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n_toks")))
    val budget = 256L
    h.step("packSequences [packs, mean_fill, max_fill]") {
      Curation.packSequences(scaled, "doc_id", "n_toks", budget, shards = 32)
        .groupBy("shard", "pack").agg(sum("n_tokens").as("total"))
        .agg(count("*"), round(avg("total") / budget, 3), round(max("total") / budget, 3))
        .head()
    }
    // cells stand in for the IVF assignment (any deterministic grouping
    // exercises the identical plan — one id equi-join + one (cell,
    // subshard) window); 64 cells with 8 subshards bounds the per-task
    // sort to ~nDocs/512
    val cells = scaled.select(col("doc_id").as("cid"),
      pmod(xxhash64(col("doc_id")), lit(64L)).cast("int").as("cell"))
    h.step("packRelated [packs, mean_fill]") {
      Curation.packRelated(scaled, "doc_id", "n_toks", cells, "cid", "cell", budget, subshards = 8)
        .groupBy("cell", "subshard", "pack").agg(sum("n_tokens").as("total"))
        .agg(count("*"), round(avg("total") / budget, 3))
        .head()
    }
    // ONE cell holds 50% of the corpus (a dominant topic), subshards at 1
    // so nothing but the gate-bucket window stands between the mega cell
    // and a single-task sort — wall should stay in the uniform run's
    // neighborhood, not blow up to one-core time
    val skewed = scaled.select(col("doc_id").as("cid"),
      when(pmod(xxhash64(col("doc_id")), lit(2L)) === 0L, lit(0))
        .otherwise(pmod(xxhash64(col("doc_id"), lit(7L)), lit(63L))
          .cast("int") + 1).as("cell"))
    def skewedPacks = Curation.packRelated(scaled, "doc_id", "n_toks",
      skewed, "cid", "cell", budget, subshards = 1)
    h.step("packRelated skewed [packs, mean_fill]") {
      skewedPacks.groupBy("cell", "subshard", "pack").agg(sum("n_tokens").as("total"))
        .agg(count("*"), round(avg("total") / budget, 3))
        .head()
    }
    println(f"mega cell share: ${skewedPacks.where(col("cell") === 0).count().toDouble / scaled.count()}%.3f")
  }

  /** The sketch family with DISTINCT content growing ×N (a per-copy
    * token suffix — fresh docs, fresh vocabulary, the hard direction for
    * sketches) while the artifacts stay parameter-sized: bloom build +
    * map-only probe (numBits/8 bytes at every N), kmv (one
    * stratum-keyed exchange of k-bounded states, withExact = false), cms
    * (one global aggregate of depth×width tables). Cost grows with DATA,
    * never with the distinct count the sketch summarizes. */
  def sketch(h: Harness, args: Seq[String]): Unit = {
    GraftFunctions.ensureRegistered(h.spark)
    val all = h.table("documents")
    val span = Harness.idSpan(all, "doc_id")
    val scaled = h.input(s"documents x${replicas(args)}, distinct copies")(
      Harness.replicate(all, "doc_id", replicas(args))
        .select(col("doc_id"),
          concat(col("text"), lit(" copymark"), floor(col("doc_id") / span)).as("text"),
          col("lang")))
    for (bitmap <- h.step("bloom build")(BloomGate.build(scaled, "text", numBits = 1 << 22, k = 4))) {
      println(s"bloom artifact bytes: ${bitmap.value.length * 8}")
      h.step("bloom probe [flagged]") {
        BloomGate.probe(scaled, "text", bitmap.value, 1 << 22, 4).where(col("maybe_seen")).count()
      }
    }
    h.step("kmv") {
      TextAnalysis.kmvVocabAudit(scaled, "lang", "text", k = 256, withExact = false)
        .write.format("noop").mode("overwrite").save()
    }
    h.step("cms") {
      val toks = scaled.select(explode(Dedup.tokensOf(col("text"))).as("tok"))
      val pos = array(BloomGate.positions(col("tok"), 1 << 12, 4, "#cms"): _*)
      toks.select(pos.as("p"))
        .agg(GraftFunctions.cms(col("p"), 4, 1 << 12).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** The de-skewed per-domain selection windows against monolithic
    * single-window references of the same semantics, on a corpus where
    * one domain holds ~90% of all rows. Under `row_number().over(
    * partitionBy(domain))` that domain is ONE sorted partition whose
    * task time grows with the corpus however many cores exist; the
    * clampBucket shape caps every sort task at ~1/1024 of the domain.
    * Results must be EQUAL — the de-skew is a plan change only.
    *
    * `--synthetic N` swaps the replicated corpus for N narrow generated
    * rows (doc_id, domain, n_tokens) — text-free, so the corpus reaches
    * the tens of millions of rows where the monolithic 90%-domain sort IS
    * the wall clock. The curriculum comparison needs real text and is
    * skipped there.
    */
  def skew(h: Harness, args: Seq[String]): Unit = {
    val at = args.indexOf("--synthetic")
    val synthetic = if (at < 0) None else Some(args(at + 1).toLong)
    val n = replicas(if (at < 0) args else args.patch(at, Nil, 2))
    // 90%-mass domain: doc_id % 10 == 0..8 → "head"; else one of 9 tails
    def domained(df: DataFrame): DataFrame = df
      .withColumn("domain",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("head"))
          .otherwise(concat(lit("tail_"), pmod(col("doc_id"), lit(10)))))
    val scaled = h.input("skewed corpus")(synthetic match {
      case Some(rows) =>
        domained(h.spark.range(rows).select(col("id").as("doc_id")))
          .withColumn("text", lit("w"))
          .withColumn("n_tokens", pmod(col("doc_id") * 31L, lit(400L)) + 1L)
      case None =>
        domained(Harness.replicate(docs(h), "doc_id", n))
          .withColumn("n_tokens",
            size(filter(split(trim(col("text")), "\\s+"), t => t =!= "")).cast("long"))
    })
    val budgetDocs = scaled.count() / 20

    // the monolithic single-window references (the pre-r13 shapes)
    def monoSelect(): DataFrame = {
      val w = Window.partitionBy("domain")
        .orderBy(Curation.idGate(col("doc_id")), col("doc_id"))
      scaled.withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= lit(budgetDocs))
        .select(col("doc_id").as("doc"))
    }
    def monoBudget(): DataFrame = {
      val g = Curation.idGate(col("doc_id"), 2)
      val w = Window.partitionBy("domain").orderBy(g.asc, col("doc_id").asc)
      scaled.withColumn("__cum", sum("n_tokens").over(w) - col("n_tokens"))
        .where(col("__cum") < lit(budgetDocs * 40))
        .select("doc_id")
    }
    def monoRank(): DataFrame = {
      val w = Window.partitionBy("domain")
        .orderBy(col("n_tokens").asc, col("doc_id").asc)
      scaled.withColumn("rk", (row_number().over(w) - 1).cast("long"))
        .select(col("doc_id").as("doc"), col("rk"))
    }
    // the shipped de-skewed operators, reduced to comparable frames: the
    // selection exactly as composeMixture drives it, with every domain's
    // target = budgetDocs (isolates the window shape)
    def deskewSelect(): DataFrame = {
      val targets = scaled.select("domain").distinct()
        .withColumn("__target", lit(budgetDocs))
      Curation.selectTopPerDomain(
        scaled.select(col("doc_id"), col("domain")), "doc_id", targets)
        .select(col("doc"))
    }
    def deskewBudget(): DataFrame =
      Curation.sampleByTokenBudget(scaled, "doc_id", "n_tokens", "domain",
        budgets = Map.empty, defaultBudget = budgetDocs * 40)
        .select("doc_id")
    def deskewRank(): DataFrame =
      Curation.curriculumOrder(scaled, "doc_id", "text", "domain")
        .select(col("doc"), col("difficulty"))

    require(deskewSelect().exceptAll(monoSelect()).isEmpty &&
      monoSelect().exceptAll(deskewSelect()).isEmpty, "select mismatch")
    require(deskewBudget().exceptAll(monoBudget()).isEmpty &&
      monoBudget().exceptAll(deskewBudget()).isEmpty, "budget mismatch")
    h.step("select mono")(monoSelect().count())
    h.step("select deskew")(deskewSelect().count())
    h.step("budget mono")(monoBudget().count())
    h.step("budget deskew")(deskewBudget().count())
    if (synthetic.isEmpty) {
      h.step("rank mono")(monoRank().count())
      h.step("rank deskew")(deskewRank().count())
    }
  }

  /** Span and line surgery plus the classifier in their most expensive
    * regime: after ×N replication EVERY complete window and body line is
    * shared, so the shared set, the covered-range explode and the cut
    * are maximal while rows grow ×N. */
  def span(h: Harness, args: Seq[String]): Unit = {
    val scaled = replicated(h, replicas(args))
    def spanStats(frame: DataFrame) = frame
      .agg(count(lit(1)), sum("n_tokens_kept"), sum("n_tokens_dropped")).head()
    h.step("spans k=8 [docs_out, kept, dropped]") {
      spanStats(Dedup.removeSharedSpans(scaled, "doc_id", "text", k = 8))
    }
    // same covered set plus the maximal-run lag window and the
    // materialized covered frame
    h.step("substrings minLen=8 [docs_out, kept, dropped]") {
      spanStats(Dedup.removeSharedSubstrings(scaled, "doc_id", "text", minLen = 8))
    }
    // the p51 rebuild in its maximal-cut regime: 12-token body lines,
    // each occurring in N docs, so with minDocs = 3 and N ≥ 3 EVERY line
    // is boilerplate
    h.step("lines [docs_out, n_lines, n_lines_removed]") {
      val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
      // clamped like p51: sequence(0,-1) on an empty doc is [0,-1]
      val lined = scaled.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0),
            greatest(floor((size(toks) - 1) / lit(12)).cast("int"), lit(0))),
          i => array_join(slice(toks, i * 12 + 1, lit(12)), " ")), "\n")
          .as("text"))
      Dedup.removeDuplicateLines(lined, "doc_id", "text", minDocs = 3, minChars = 10)
        .agg(count(lit(1)), sum("n_lines"), sum("n_lines_removed")).head()
    }
    // 3-epoch train + score: the per-epoch (margin agg + gradient agg)
    // shuffles growing with the corpus
    h.step("classifier [docs_out, sum_pred, sum_score9]") {
      val labeled = scaled.withColumn("y", pmod(col("doc_id"), lit(2L)).cast("int"))
      val model = TextClassifier.train(labeled, "doc_id", "text", "y",
        numBuckets = 256, epochs = 3)
      TextClassifier.score(labeled, "doc_id", "text", "y", model)
        .agg(count(lit(1)), sum("pred"), sum("score9")).head()
    }
  }

  /** Winnowing with per-copy suffixes on EVERY token (a tail-only marker
    * would leave replicas sharing most grams and pair output would grow
    * quadratically per clone group), so the ×N corpus has ×N distinct
    * content: fingerprinting stays linear in tokens with a flat per-doc
    * constant, and pair output stays ~N-proportional, not N². */
  def winnow(h: Harness, args: Seq[String]): Unit = {
    val all = h.table("documents")
    val span = Harness.idSpan(all, "doc_id")
    val sizes = if (args.nonEmpty) args.map(_.toInt) else Seq(1, 10, 20)
    sizes.foreach { n =>
      val scaled = h.input(s"documents x$n, distinct copies")(
        Harness.replicate(all.select("doc_id", "text"), "doc_id", n)
          .select(col("doc_id"), regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1x"), floor(col("doc_id") / span))).as("text")))
      h.step(s"winnowFingerprints x$n")(Dedup.winnowFingerprints(scaled, "doc_id", "text").count())
      h.step(s"winnowOverlapPairs x$n") {
        Dedup.winnowOverlapPairs(scaled, "doc_id", "text", minShared = 2).count()
      }
    }
  }
}
