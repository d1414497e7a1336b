package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The canonical corpus → training-data flow, composed from this
  * package's operators in the published pipeline order (C4 / Gopher /
  * RefinedWeb lineage): quality floors → rule screens →
  * decontamination → near-dup dedup → span surgery → reproducible
  * split. One entry point so a user gets the whole flow with one call
  * while every stage stays individually available (and individually
  * oracle-checked) — composition here is frame-to-frame, nothing is
  * re-implemented.
  *
  * Every stage is DECLARATIVE: the composed result is one lazy plan
  * per stage boundary, shuffles only where the member operators
  * shuffle (their scaladocs carry the per-operator scale shapes), and
  * the whole flow inherits the OperatorCache lifecycle — call
  * `OperatorCache.releaseAll` after materializing the result.
  *
  * Stage boundaries are deliberately NOT persisted, by measurement:
  * `cleaned` and `screened` each feed two consumers (a rule/postings
  * aggregate + the id-keyed join back), but the expensive subtrees
  * inside them — the scored corpus, the banded signatures, the
  * shingle postings — are already materialized by the member
  * operators, so the "recomputed" second consumption is mostly cache
  * reads plus cheap joins. A/B at sf0.1 (ProfileJobs p49, warm run):
  * baseline 12.6s, lazy-persisted boundaries 15.4s, count-materialized
  * boundaries 16.9s — the extra cache writes and barriers cost more
  * than the recompute they avoid. Re-measure before re-adding if the
  * stage mix changes.
  */
object TrainingPipeline {

  /** @param minQuality   [[TextAnalysis.qualityScore]] floor (0 disables)
    * @param languages    language allowlist; empty keeps all
    * @param minWords     Gopher word-count floor (0 disables the rule
    *                     screen entirely)
    * @param minStopwordHits floor for the Gopher ENGLISH stopword rule
    *                     (hits of the/be/to/of/and/that/have/with). −1 =
    *                     auto: 2 when the language allowlist is
    *                     English-only (the Gopher default), 0 — rule
    *                     disabled — otherwise, because on a multilingual
    *                     corpus the English-word test would silently
    *                     drop most non-English docs at the rule stage
    *                     (the rest of the screen is language-neutral)
    * @param blocklist    optional (frame, idCol, textCol) to fuzzy-
    *                     decontaminate against (exact inverted-index
    *                     Jaccard for eval-sized blocklists, banded LSH +
    *                     exact Jaccard above the size bound —
    *                     ≥ deconThreshold either way)
    * @param deconThreshold Jaccard threshold for the blocklist screen
    * @param dedupThreshold near-dup dedup threshold (≥ 1.0 disables)
    * @param spanK        cross-doc shared-span window (0 disables);
    *                     also used for the within-doc repeat window
    * @param splits       [[Curation.splitCorpus]] weights; empty
    *                     disables the split column
    * @param seenFilter   optional (bitmap, numBits, k) from
    *                     [[BloomGate.build]] over an already-ingested
    *                     corpus: docs the filter flags are dropped
    *                     BEFORE any scoring — a map-only pre-gate, the
    *                     cheapest stage, so it runs first (recrawl
    *                     ingest shape). None disables.
    * @param minEntropy / maxTopCharFrac gibberish screen thresholds
    *                     ([[TextAnalysis.entropySignals]] `suspect`
    *                     rule); minEntropy ≤ 0 disables the stage
    * @param multilingual route the rule screen by script
    *                     ([[TextAnalysis.multilingualQualityRules]]):
    *                     Latin docs get the exact Gopher conjunction
    *                     as before, segmented-script docs
    *                     (CJK/Thai/Lao/Khmer/Myanmar/Tibetan) are
    *                     screened on SEGMENTED tokens with
    *                     script-calibrated rules instead of failing
    *                     the Latin word rules on vacuous statistics —
    *                     the switch a majority-non-English crawl
    *                     throws; default false keeps the published
    *                     Gopher behavior and every existing oracle
    *                     byte-stable
    * @return (idCol, textCol, split?) — text rewritten by the span
    *         surgery stages when enabled
    */
  def curate(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3,
      languages: Set[String] = Set.empty,
      minWords: Long = 40,
      minStopwordHits: Long = -1L,
      blocklist: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.7,
      dedupThreshold: Double = 0.8,
      spanK: Int = 8,
      splits: Seq[(String, Double)] = Seq(
        "train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      seenFilter: Option[(Array[Long], Int, Int)] = None,
      minEntropy: Double = 0.0,
      maxTopCharFrac: Double = 0.25,
      multilingual: Boolean = false,
  ): DataFrame = {
    // 0a. Bloom ingest pre-gate: drop docs already ingested yesterday —
    //     map-only (no join/shuffle), so it runs before anything that
    //     costs an exchange. Sound: no false negatives, so nothing
    //     previously ingested survives; deterministic false positives
    //     only ever drop extra docs, never corrupt the stream.
    val gated = seenFilter match {
      case Some((bitmap, numBits, k)) =>
        BloomGate.probe(docs, textCol, bitmap, numBits, k, "__seen")
          .where(!col("__seen")).drop("__seen")
      case None => docs
    }

    // 0b. gibberish screen: entropy/top-char `suspect` rule (see
    //     entropyScreen — shared with the incremental path)
    val legible = entropyScreen(gated, idCol, textCol, minEntropy, maxTopCharFrac)

    // 1. quality floor + language allowlist + near-dup dedup — the
    //    composed cleanCorpus stage (one scoring pass, banded dedup)
    val cleaned = TextAnalysis.cleanCorpus(legible, idCol, textCol,
      minQuality = minQuality, languages = languages,
      dedupThreshold = dedupThreshold)

    // 2. Gopher rule screen: keep docs passing every rule (semi-join on
    //    the rule frame — the rules are map-only, the join is id-keyed).
    //    The stopword rule is English-specific, so it only arms itself
    //    when the allowlist guarantees an English corpus (see param doc).
    val stopHits =
      if (minStopwordHits >= 0) minStopwordHits
      else if (languages.nonEmpty && languages.subsetOf(Set("en"))) 2L
      else 0L
    val screened =
      if (minWords <= 0) cleaned
      else {
        val rules =
          if (multilingual)
            TextAnalysis.multilingualQualityRules(cleaned, idCol, textCol,
              minTokens = minWords, minStopwordHits = stopHits)
          else
            TextAnalysis.gopherQualityRules(cleaned, idCol, textCol,
              minWords = minWords, minStopwordHits = stopHits)
        cleaned.join(
          rules.where(col("pass")).select(col("doc").as("__pass_doc")),
          cleaned(idCol) === col("__pass_doc"), "left_semi")
      }

    // 3. fuzzy decontamination against the eval blocklist
    val decontaminated = blocklist match {
      case Some((bl, bId, bText)) =>
        Dedup.fuzzyDecontaminate(screened, idCol, textCol,
          bl, bId, bText, threshold = deconThreshold)
      case None => screened
    }

    // 4. span surgery: cut cross-doc boilerplate, then within-doc
    //    repetition, over the surviving docs; the operators emit
    //    (doc, text_clean, ...) — fold the rewritten text back under
    //    the caller's column names
    val surgered =
      if (spanK <= 0) decontaminated
      else {
        val cross = Dedup.removeSharedSpans(
          decontaminated, idCol, textCol, k = spanK)
          .select(col("doc").as(idCol), col("text_clean").as(textCol))
        Dedup.removeRepeatedSpans(cross, idCol, textCol, k = spanK)
          .select(col("doc").as(idCol), col("text_clean").as(textCol))
      }
    val projected =
      if (spanK <= 0) surgered.select(col(idCol), col(textCol))
      else surgered

    // 5. reproducible split
    if (splits.isEmpty) projected
    else Curation.splitCorpus(projected, idCol, splits)
  }

  /** Per-stage drop attribution for [[curate]] — the ingest ops card
    * (the stage-level sibling of [[TextAnalysis.filterAttribution]]'s
    * per-rule card): one row per pipeline stage, in execution order,
    * with the docs still alive after it and the docs it dropped. Since
    * stages run sequentially, a doc counts against exactly the FIRST
    * stage that kills it — attribution falls out of the composition,
    * no per-doc bookkeeping needed. Disabled stages report 0 dropped.
    *
    * Scale shape: the same work as [[curate]] (the stage frames ARE
    * curate's, materialized at the two expensive boundaries exactly as
    * cleanCorpus does) plus one count-aggregate per stage — each a
    * map-side-combined single-row aggregate over a cached frame; the
    * final lag-window runs over #stages rows. Call
    * `OperatorCache.releaseAll` after materializing, as with curate.
    *
    * @return (stage_idx, stage, docs_surviving, docs_dropped) —
    *         monotone `docs_surviving`, `docs_dropped` vs the previous
    *         stage; the last row is the kept count
    */
  def curateReport(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3,
      languages: Set[String] = Set.empty,
      minWords: Long = 40,
      minStopwordHits: Long = -1L,
      blocklist: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.7,
      dedupThreshold: Double = 0.8,
      seenFilter: Option[(Array[Long], Int, Int)] = None,
      minEntropy: Double = 0.0,
      maxTopCharFrac: Double = 0.25,
  ): DataFrame = {
    val gated = seenFilter match {
      case Some((bitmap, numBits, k)) =>
        BloomGate.probe(docs, textCol, bitmap, numBits, k, "__seen")
          .where(!col("__seen")).drop("__seen")
      case None => docs
    }
    val legible = entropyScreen(gated, idCol, textCol, minEntropy, maxTopCharFrac)
    val floors = graft.pipeline.OperatorCache.materialize(
      TextAnalysis.floorCorpus(legible, textCol, minQuality, languages)
        .select(col(idCol), col(textCol)))
    val deduped = graft.pipeline.OperatorCache.materialize(
      Dedup.dedupNearDuplicates(floors, idCol, textCol, dedupThreshold))
    val stopHits =
      if (minStopwordHits >= 0) minStopwordHits
      else if (languages.nonEmpty && languages.subsetOf(Set("en"))) 2L
      else 0L
    val screened =
      if (minWords <= 0) deduped
      else deduped.join(
        TextAnalysis.gopherQualityRules(deduped, idCol, textCol,
          minWords = minWords, minStopwordHits = stopHits)
          .where(col("pass")).select(col("doc").as("__pass_doc")),
        deduped(idCol) === col("__pass_doc"), "left_semi")
    val decontaminated = blocklist match {
      case Some((bl, bId, bText)) =>
        Dedup.fuzzyDecontaminate(screened, idCol, textCol,
          bl, bId, bText, threshold = deconThreshold)
      case None => screened
    }
    val stages: Seq[(String, DataFrame)] = Seq(
      "ingested" -> docs, "seen_gate" -> gated, "entropy" -> legible,
      "floors" -> floors, "dedup" -> deduped, "rules" -> screened,
      "decontamination" -> decontaminated)
    val counts = stages.zipWithIndex.map { case ((name, f), i) =>
      f.agg(count(lit(1)).cast("long").as("docs_surviving"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"),
          col("docs_surviving"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage_idx")
    counts
      .withColumn("docs_dropped",
        coalesce(lag(col("docs_surviving"), 1).over(w) -
          col("docs_surviving"), lit(0L)))
      .orderBy("stage_idx")
  }

  /** Entropy/top-char gibberish screen shared by the batch and
    * incremental paths: id-keyed semi-join on the signals frame (the
    * signals aggregate is the only exchange); disabled when
    * `minEntropy <= 0`. */
  private def entropyScreen(df: DataFrame, idCol: String, textCol: String,
      minEntropy: Double, maxTopCharFrac: Double): DataFrame =
    if (minEntropy <= 0) df
    else df.join(
      TextAnalysis.entropySignals(df, idCol, textCol,
        minEntropy = minEntropy, maxTopFrac = maxTopCharFrac)
        .where(!col("suspect")).select(col("doc").as("__legible_doc")),
      df(idCol) === col("__legible_doc"), "left_semi")

  /** Persistent state of an incremental curation run — everything a
    * recrawl batch needs to be curated WITHOUT touching the prior
    * corpus' text at corpus scale:
    *
    *  - `cleaned` (doc, text): the prior corpus AFTER the entropy screen
    *    and quality/language floors but BEFORE dedup — the dedup
    *    reference set. It must include prior docs that dedup itself
    *    dropped: a full run's pair graph contains them, so an
    *    incremental batch must be able to link to them too. Only the
    *    rows band-bucket-matched by a batch are ever read (semi-join
    *    pruning in [[curateIncremental]]); at scale this is the corpus
    *    table itself, stored once.
    *  - `bandIndex` (doc, band, band_hash): [[Dedup.bandIndex]] over
    *    `cleaned` — the LSH postings a batch probes instead of
    *    re-hashing the corpus ([[Dedup.incrementalCandidatesFrom]]).
    *    Write it bucketed by (band, band_hash) and the probe join
    *    needs no corpus-side shuffle at all.
    *  - `bloom` + `seenKeys`: the exact-seen pre-gate over the prior
    *    RAW text. The bitmap ([[BloomGate.build]]) EXEMPTS the common
    *    case — a "definitely not seen" answer skips everything — and a
    *    "maybe seen" answer is CONFIRMED against `seenKeys`, the
    *    8-byte-per-doc [[BloomGate.docKeyHash]] table, before the doc
    *    is dropped. The confirm is what keeps the gate sound at scale:
    *    a 2²²-bit bitmap over a 485k-doc corpus false-positives ~2% of
    *    a fresh batch (measured live, ScaleBench recrawl at 500k docs —
    *    72 good docs silently gone), and no fixed bitmap sizing makes
    *    that 0. With the confirm, gate drops are EXACTLY the docs whose
    *    normalized text appeared before, at any corpus size. Both
    *    joins in the confirm broadcast the (tiny) suspect slice —
    *    `seenKeys` itself never shuffles; bucket the table by `key` at
    *    the 100 B-doc scale to prune the probe scan too. Soundness of
    *    the overall pipeline never depends on the gate: an exact copy
    *    that slips past (or the gate being None) is still caught by the
    *    band linkage (identical text ⇒ identical shingle sets ⇒
    *    Jaccard 1) for any doc with ≥ `shingleK` tokens.
    *
    * The curation parameters ride in the state so every batch is
    * screened EXACTLY like the corpus that built the state — parameter
    * drift between runs would silently break the
    * full ≡ incremental equivalence.
    */
  final case class CurateState(
      cleaned: DataFrame,
      bandIndex: DataFrame,
      bloom: Option[(Array[Long], Int, Int)],
      seenKeys: Option[DataFrame],
      minQuality: Double,
      languages: Set[String],
      minWords: Long,
      minStopwordHits: Long,
      dedupThreshold: Double,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      minEntropy: Double,
      maxTopCharFrac: Double,
      splits: Seq[(String, Double)],
  )

  /** Build [[CurateState]] from the prior corpus — one floors pass, one
    * band-index pass, one Bloom aggregate. Parameters mirror [[curate]]
    * (span surgery and blocklists are deliberately absent: span surgery
    * is corpus-global — run it at compaction, not per batch — and a
    * blocklist is stateless, passed per [[curateIncremental]] call).
    *
    * @param bloomNumBits −1 (default) AUTO-sizes the bitmap to the next
    *   power of two ≥ 16×|prevRaw| (one count job; ~0.24% bitmap-FP at
    *   k=4 — a COST knob only, the seen-key confirm keeps the gate
    *   exact at any fill), floored at 2¹² and capped at 2²⁸ (32 MB of
    *   driver words — past that, bigger bitmaps buy little because the
    *   confirm join already bounds the suspect slice). 0 disables the
    *   gate; an explicit power of two is taken as-is (the r14 500k-doc
    *   run is the cautionary tale for fixed sizes: a 2²² bitmap was
    *   2% suspects — harmless now, but pure overhead).
    */
  def curateState(
      prevRaw: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3,
      languages: Set[String] = Set.empty,
      minWords: Long = 40,
      minStopwordHits: Long = -1L,
      dedupThreshold: Double = 0.8,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      minEntropy: Double = 0.0, maxTopCharFrac: Double = 0.25,
      splits: Seq[(String, Double)] = Seq(
        "train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      bloomNumBits: Int = -1, bloomK: Int = 4,
  ): CurateState = {
    val legible = entropyScreen(prevRaw, idCol, textCol, minEntropy, maxTopCharFrac)
    val cleaned = TextAnalysis.floorCorpus(legible, textCol, minQuality, languages)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
    val index = Dedup.bandIndex(cleaned, "doc", "text", shingleK, numHashes, bands)
    val numBits =
      if (bloomNumBits != -1) bloomNumBits
      else {
        val n = prevRaw.count()
        var b = 1 << 12
        while (b.toLong < 16L * n && b < (1 << 28)) b <<= 1
        b
      }
    val bloom =
      if (numBits <= 0) None
      else Some((BloomGate.build(prevRaw, textCol, numBits, bloomK),
        numBits, bloomK))
    val seenKeys =
      if (numBits <= 0) None
      else Some(prevRaw.select(
        BloomGate.docKeyHash(col(textCol)).as("key")).distinct())
    CurateState(cleaned, index, bloom, seenKeys, minQuality, languages,
      minWords, minStopwordHits, dedupThreshold, shingleK, numHashes, bands,
      minEntropy, maxTopCharFrac, splits)
  }

  /** Incremental curation: run ONLY the delta batch through the screens,
    * deduping against prior state instead of re-curating the corpus —
    * the recrawl shape. Cost is proportional to the BATCH (every prior-
    * corpus touch is a band-bucket probe + a semi-join-pruned shingle
    * read of just the matched docs), not the corpus.
    *
    * Equivalence contract (proved by the p95 oracle and
    * TrainingPipelineSpec): when batch ids are all LARGER than prior ids
    * (the recrawl convention — new crawl, new id range) and
    * `minWords >= shingleK`, the result EQUALS
    * `curate(prev ∪ delta, spanK = 0)` restricted to the delta's ids.
    * Stage-by-stage: (1) the entropy/quality/language floors are per-doc
    * — identical on any partition of the corpus. (2) A delta doc dies in
    * the full run's dedup iff its cluster holds a smaller id; with
    * monotone ids that means its component (over quality-passing docs)
    * touches ANY prior doc, or it is a non-minimal member of a purely-
    * in-batch component — exactly what the prior-link + within-batch
    * clustering below computes. The bloom pre-gate only drops exact
    * copies of prior raw docs, which the full run also kills (identical
    * text ⇒ identical floors verdict, and Jaccard-1 linkage when it
    * passes them; docs under `shingleK` tokens have no shingles, but
    * `minWords` kills those in both runs). (3) The Gopher screen is
    * per-doc, applied post-dedup in both paths. With INTERLEAVED ids
    * the set of surviving TEXTS still matches up to representative
    * choice per cluster; and prior survivors are never revisited — a
    * batch doc that bridges two prior clusters does not retro-drop a
    * prior representative the way a full re-run would (documented
    * divergence, same best-effort contract as every incremental dedup).
    *
    * @return the batch's surviving rows, shaped like [[curate]] output:
    *         (idCol, textCol, split?). Union with the prior output for
    *         the full-corpus view; call [[advanceState]] to roll state.
    */
  def curateIncremental(
      state: CurateState, delta: DataFrame, idCol: String, textCol: String,
      blocklist: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.7,
  ): DataFrame = {
    import state._
    // 0a. exact-seen pre-gate: Bloom exemption + key-table confirm
    //     (map-only for the definitely-fresh common case)
    val gated = seenGate(state, delta, textCol)
    // 0b/1. gibberish screen + quality/language floors — per-doc, so
    //       identical to the full run's verdicts on these rows
    val legible = entropyScreen(gated, idCol, textCol, minEntropy, maxTopCharFrac)
    val cleanedDelta = graft.pipeline.OperatorCache.materialize(
      TextAnalysis.floorCorpus(legible, textCol, minQuality, languages)
        .select(col(idCol), col(textCol)))

    // 2. dedup: within-batch pairs (the usual banded LSH + exact
    //    verify) ∪ prior links (band-index probe + exact verify against
    //    ONLY the bucket-matched prior docs)
    val sh = graft.pipeline.OperatorCache.persist(
      Dedup.shingleXxRows(cleanedDelta, idCol, textCol, shingleK))
    val sets = graft.pipeline.OperatorCache.materialize(Dedup.shingleSetsFrom(sh))
    val pairsWithin = Dedup.minhashCandidatesFrom(sh, numHashes, bands)
      .join(sets.withColumnRenamed("sid", "doc_a").withColumnRenamed("sset", "set_a"), "doc_a")
      .join(sets.withColumnRenamed("sid", "doc_b").withColumnRenamed("sset", "set_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(Dedup.jaccard(col("set_a"), col("set_b")), 6).as("jaccard"))
      .where(col("jaccard") >= dedupThreshold)

    val cands = Dedup.incrementalCandidatesFrom(state.bandIndex, sh, numHashes, bands)
    // prior text is touched ONLY for bucket-matched docs: semi-join
    // prune first, then shingle just those
    val priorSets = Dedup.shingleSetsFrom(Dedup.shingleXxRows(
      state.cleaned.join(cands.select(col("doc_a").as("__cand")).distinct(),
        state.cleaned("doc") === col("__cand"), "left_semi"),
      "doc", "text", shingleK))
    val linked = cands
      .join(priorSets.withColumnRenamed("sid", "doc_a").withColumnRenamed("sset", "set_a"), "doc_a")
      .join(sets.withColumnRenamed("sid", "doc_b").withColumnRenamed("sset", "set_b"), "doc_b")
      .where(round(Dedup.jaccard(col("set_a"), col("set_b")), 6) >= dedupThreshold)
      .select(col("doc_b").as("__linked")).distinct()

    // a within-batch component with ANY prior-linked member dies
    // entirely (its full-run cluster holds a smaller prior id); an
    // unlinked component keeps its min-id label; unpaired docs keep
    // themselves unless directly linked
    val clusters = Dedup.nearDupClusters(pairsWithin)
    val labeled = cleanedDelta
      .join(clusters, cleanedDelta(idCol) === clusters("doc"), "left")
      .select(cleanedDelta(idCol), cleanedDelta(textCol),
        coalesce(col("label"), cleanedDelta(idCol)).as("__label"))
    val deadLabels = labeled
      .join(linked, labeled(idCol) === linked("__linked"), "left_semi")
      .select(col("__label").as("__dead")).distinct()
    val deduped = labeled
      .join(deadLabels, labeled("__label") === deadLabels("__dead"), "left_anti")
      .where(col(idCol) === col("__label"))
      .drop("__label")

    // 3. Gopher rule screen — post-dedup, matching curate's stage order
    val stopHits =
      if (minStopwordHits >= 0) minStopwordHits
      else if (languages.nonEmpty && languages.subsetOf(Set("en"))) 2L
      else 0L
    val screened =
      if (minWords <= 0) deduped
      else deduped.join(
        TextAnalysis.gopherQualityRules(deduped, idCol, textCol,
          minWords = minWords, minStopwordHits = stopHits)
          .where(col("pass")).select(col("doc").as("__pass_doc")),
        deduped(idCol) === col("__pass_doc"), "left_semi")

    // 4. stateless blocklist decontamination (same as the batch path)
    val decontaminated = blocklist match {
      case Some((bl, bId, bText)) =>
        Dedup.fuzzyDecontaminate(screened, idCol, textCol,
          bl, bId, bText, threshold = deconThreshold)
      case None => screened
    }
    val projected = decontaminated.select(col(idCol), col(textCol))

    // 5. reproducible split — id-hash based, so batch-local = corpus-global
    if (splits.isEmpty) projected
    else Curation.splitCorpus(projected, idCol, splits)
  }

  /** Persist [[CurateState]] under `dir` as parquet datasets
    * (`cleaned/`, `band_index/`, `bloom/`, `seen_keys/`) and a
    * [[LayoutFiles.Descriptor]] holding the curation parameters — the
    * executable form of the state layout documented in PLANS.md, so a
    * recrawl job can pick up yesterday's state without recomputing
    * anything. The parameters travel WITH the state (parameter drift
    * between the state build and a later batch would silently break the
    * full ≡ incremental equivalence). At cluster scale, write
    * `band_index` as a table bucketed by (band, band_hash) instead —
    * the probe join then needs no index-side shuffle; the plain
    * parquet layout here still probes with one index-side exchange.
    */
  def writeState(state: CurateState, dir: String): Unit = {
    import state._
    val spark = state.cleaned.sparkSession
    LayoutFiles.recover(spark, dir)
    // a freshly written state SUPERSEDES any layout previously at this
    // dir — including its batch-application HISTORY: stale
    // `_applied_<id>` markers would make a later appendState of a
    // same-named batch against the NEW state a silent no-op (the batch
    // never lands, dedup links through it are lost — found as a
    // 3-survivor drift in ScaleBench recrawl after a testdata
    // regeneration reused the dir), and stale tombstones would retract
    // docs the new state never contained. The table writes below
    // already overwrite; the top-level marker/tombstone files must go
    // explicitly.
    LayoutFiles.clearTombstones(spark, dir)
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(d)) {
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_applied_") || n.startsWith("._applied_"))
          fs.delete(st.getPath, true)
      }
    }
    cleaned.write.mode("overwrite").parquet(s"$dir/cleaned")
    bandIndex.write.mode("overwrite").parquet(s"$dir/band_index")
    writeBloomTable(spark, dir, bloom)
    seenKeys.foreach(
      _.write.mode("overwrite").parquet(s"$dir/seen_keys"))
    LayoutFiles.publish(spark, dir, LayoutFiles.Descriptor("curate_state", 0L, None,
      LayoutFiles.Descriptor.schemaOf(cleaned, None))(
        "minQuality" -> minQuality, "languages" -> languages.toSeq.sorted,
        "minWords" -> minWords, "minStopwordHits" -> minStopwordHits,
        "dedupThreshold" -> dedupThreshold, "shingleK" -> shingleK,
        "numHashes" -> numHashes, "bands" -> bands, "minEntropy" -> minEntropy,
        "maxTopCharFrac" -> maxTopCharFrac, "splitNames" -> splits.map(_._1),
        "splitWeights" -> splits.map(_._2), "bloomBits" -> bloom.map(_._2).getOrElse(0),
        "bloomK" -> bloom.map(_._3).getOrElse(0), "bloomFormat" -> BloomGate.FormatVersion))
  }

  /** A state table scan minus its pending tombstones: retracted docs
    * (`_tombstones`, `doc`) in `cleaned`/`band_index`, and their
    * raw-text keys (`_tombstone_keys`, `key`) in `seen_keys`, so the
    * exact-seen gate stops killing future copies of retracted content. */
  private def liveStateTable(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      table: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$table")
    table match {
      case "cleaned" | "band_index" =>
        LayoutFiles.minus(df, LayoutFiles.tombstones(spark, dir), Seq("doc"))
      case "seen_keys" =>
        LayoutFiles.minus(df,
          LayoutFiles.tombstones(spark, dir, "_tombstone_keys"), Seq("key"))
      case _ => df
    }
  }

  /** Tombstone-delete docs from a [[writeState]] layout — the
    * RETRACTION form (a takedown, a page that must stop suppressing
    * future near-duplicates): the docs' `cleaned` text stops being a
    * dedup reference, their `band_index` rows stop producing candidate
    * links, and (when `textCol` supplies the retracted content) their
    * raw-text keys retire from the exact-seen gate, all at the NEXT
    * batch with no rewrite — O(deletes), folded out by
    * [[compactState]]. The Bloom bitmap cannot un-set bits, which is
    * harmless: the gate drops a doc only on the exact key CONFIRM, and
    * the key is gone (the bitmap just over-approximates until the next
    * full state rebuild). The tombstone sets follow [[LayoutFiles]].
    *
    * Identity note: this state's ids are immutable by the
    * [[curateIncremental]] monotone-id contract (a re-crawled page
    * arrives under a NEW id), so deletion is retraction-only — there
    * is no delete-then-reappend of the same id here, which is why doc
    * tombstones need no generation stamps (contrast
    * [[Dedup.updateShingleIndex]], where ids are stable and versions
    * roll).
    */
  def deleteFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      deleted: DataFrame, idCol: String, textCol: Option[String] = None,
  ): Unit = {
    LayoutFiles.recover(spark, dir)
    val want = deleted.select(col(idCol).as("doc")).distinct()
    LayoutFiles.retire(spark.read.parquet(s"$dir/cleaned").select("doc")
      .join(broadcast(want), Seq("doc"), "left_semi"), dir, Seq("doc"))
    textCol.foreach { tc =>
      val fs = new org.apache.hadoop.fs.Path(s"$dir/seen_keys")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/seen_keys"))) {
        val wantKeys = deleted
          .select(BloomGate.docKeyHash(col(tc)).as("key")).distinct()
        LayoutFiles.retire(spark.read.parquet(s"$dir/seen_keys")
          .join(broadcast(wantKeys), Seq("key"), "left_semi").distinct(),
          dir, Seq("key"), "_tombstone_keys")
      }
    }
  }

  /** Load a [[writeState]] layout. The frames come back LAZY (plain
    * parquet scans — only the bucket-matched slices are ever read by a
    * batch); the bitmap is driver-collected like [[BloomGate.build]]
    * produces it. */
  def readState(spark: org.apache.spark.sql.SparkSession, dir: String): CurateState = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val d = LayoutFiles.descriptor(spark, dir, "TrainingPipeline.writeState")
    def seq(name: String) = d.param(name).elements().asScala.toSeq
    val bloomBits = d.param("bloomBits").asInt
    // bit-layout versioning: a bitmap built under an older positions()
    // scheme would be probed at the wrong bits — never unsound (the
    // seen-key confirm is exact) but a silent near-random-maybe cliff.
    // Refuse and tell the operator to rebuild rather than degrade.
    if (bloomBits > 0) {
      val fmt = d.param("bloomFormat").asInt
      require(fmt == BloomGate.FormatVersion,
        s"Bloom bitmap at $dir/bloom uses bit-layout format $fmt but this " +
          s"build probes format ${BloomGate.FormatVersion}; rebuild the " +
          "state (curateState + writeState) — probing a stale layout " +
          "silently degrades the pre-gate to near-random maybes")
    }
    val bloom =
      if (bloomBits <= 0) None
      else Some((
        spark.read.parquet(s"$dir/bloom").orderBy("pos")
          .select("word").as[Long].collect(),
        bloomBits, d.param("bloomK").asInt))
    CurateState(
      cleaned = liveStateTable(spark, dir, "cleaned"),
      bandIndex = liveStateTable(spark, dir, "band_index"),
      bloom = bloom,
      seenKeys =
        if (bloomBits <= 0) None
        else Some(liveStateTable(spark, dir, "seen_keys")),
      minQuality = d.param("minQuality").asDouble,
      languages = seq("languages").map(_.asText).toSet,
      minWords = d.param("minWords").asLong,
      minStopwordHits = d.param("minStopwordHits").asLong,
      dedupThreshold = d.param("dedupThreshold").asDouble,
      shingleK = d.param("shingleK").asInt,
      numHashes = d.param("numHashes").asInt,
      bands = d.param("bands").asInt,
      minEntropy = d.param("minEntropy").asDouble,
      maxTopCharFrac = d.param("maxTopCharFrac").asDouble,
      splits = seq("splitNames").map(_.asText).zip(seq("splitWeights").map(_.asDouble)))
  }

  /** Roll [[CurateState]] forward past a batch: the batch's post-floor
    * docs join the dedup reference set and the band index (per-doc
    * signatures — the union index IS the index of the union), and the
    * Bloom bitmap ORs in the batch's raw keys. Dedup-dropped batch docs
    * are intentionally INCLUDED in `cleaned` (future batches must be
    * able to link to them, exactly as a full run's pair graph would).
    * At scale these three are appends to the state tables, not
    * rewrites.
    */
  def advanceState(
      state: CurateState, delta: DataFrame, idCol: String, textCol: String,
  ): CurateState = {
    val (cleanedDelta, indexDelta, newBloom, deltaKeys) =
      deltaState(state, delta, idCol, textCol)
    state.copy(
      cleaned = state.cleaned.unionByName(cleanedDelta),
      bandIndex = state.bandIndex.unionByName(indexDelta),
      bloom = newBloom,
      seenKeys = state.seenKeys.zip(deltaKeys).map {
        case (seen, dk) => seen.unionByName(dk)
      })
  }

  /** The exact-seen pre-gate: docs the Bloom bitmap flags as "maybe
    * seen" are CONFIRMED against the [[BloomGate.docKeyHash]] table
    * before dropping — only normalized text that actually appeared in
    * the prior raw corpus dies, so the gate stays an EXACT operator at
    * any corpus/bitmap size ratio (the bitmap alone false-positives; see
    * the [[CurateState]] scaladoc). Cost shape: the bitmap probe is
    * map-only over the batch; both confirm joins broadcast the
    * (suspect-sized) key slice, so the corpus-sized key table is only
    * ever scanned map-side, never shuffled.
    */
  private def seenGate(
      state: CurateState, delta: DataFrame, textCol: String): DataFrame =
    (state.bloom, state.seenKeys) match {
      case (Some((bitmap, numBits, k)), Some(seen)) =>
        val keyed = BloomGate.probe(delta, textCol, bitmap, numBits, k, "__seen")
          .withColumn("__key", BloomGate.docKeyHash(col(textCol)))
        val susKeys = keyed.where(col("__seen"))
          .select(col("__key").as("__sus_key")).distinct()
        val hitKeys = seen
          .join(broadcast(susKeys), seen("key") === col("__sus_key"), "left_semi")
          .select(col("key").as("__hit_key")).distinct()
        keyed.join(broadcast(hitKeys), col("__key") === col("__hit_key"), "left_anti")
          .drop("__seen", "__key")
      case _ => delta
    }

  /** The batch's contribution to the rolled state — what both advance
    * forms share: the batch's post-floor docs (the new dedup-reference
    * rows), their band-index rows, the OR-advanced Bloom bitmap, and
    * the batch's raw doc keys. Every frame is BATCH-sized; the prior
    * corpus is never touched.
    */
  private def deltaState(
      state: CurateState, delta: DataFrame, idCol: String, textCol: String,
  ): (DataFrame, DataFrame, Option[(Array[Long], Int, Int)], Option[DataFrame]) = {
    import state._
    val gated = seenGate(state, delta, textCol)
    val legible = entropyScreen(gated, idCol, textCol, minEntropy, maxTopCharFrac)
    val cleanedDelta = TextAnalysis.floorCorpus(legible, textCol, minQuality, languages)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
    val newBloom = bloom.map { case (bitmap, numBits, k) =>
      val deltaBits = BloomGate.build(delta, textCol, numBits, k)
      (bitmap.zip(deltaBits).map { case (a, b) => a | b }, numBits, k)
    }
    val deltaKeys = seenKeys.map(_ =>
      delta.select(BloomGate.docKeyHash(col(textCol)).as("key")).distinct())
    (cleanedDelta,
      Dedup.bandIndex(cleanedDelta, "doc", "text", shingleK, numHashes, bands),
      newBloom, deltaKeys)
  }

  /** [[advanceState]] against a [[writeState]] parquet layout — the
    * production recrawl loop's state advance: APPEND the batch's
    * `cleaned` and `band_index` rows to the state tables and rewrite the
    * (driver-sized) Bloom bitmap, instead of re-materializing
    * corpus-sized frames each batch. Work is proportional to the BATCH;
    * the prior corpus state is never read, let alone rewritten. Returns
    * the advanced state with the frames re-pointed at the parquet layout
    * (lazy scans — a following [[curateIncremental]] reads only the
    * bucket-matched slices).
    *
    * @param batchId stable identity of this batch (e.g. its input dir
    *                 name). With an id, the advance is IDEMPOTENT under
    *                 replay (a rerun after a partial failure, a
    *                 double-submitted dir): an `_applied_<id>` marker
    *                 (written LAST) makes a completed batch a no-op,
    *                 and a replay of an incomplete one first deletes
    *                 the batch's own `batch_<id>_*` files and
    *                 recomputes the delta from the cleaned-up dir — so
    *                 the seen-gate never sees the batch's own partial
    *                 rows (which would otherwise empty the delta and
    *                 LOSE the landed rows), and nothing ever lands
    *                 twice (duplicate band-index rows would duplicate
    *                 candidate links — the hazard class the multimodal
    *                 state closed the same round). None = plain append
    *                 (the caller owns replay discipline). Don't replay
    *                 a batch across a [[compactState]] — compaction
    *                 erases per-batch file identity (it is the natural
    *                 barrier).
    */
  def appendState(
      state: CurateState, delta: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Option[String] = None,
  ): CurateState = {
    import org.apache.hadoop.fs.Path
    val spark = delta.sparkSession
    import spark.implicits._
    LayoutFiles.recover(spark, dir)
    val tables = Seq("cleaned", "band_index", "seen_keys")
    def repointed(st: CurateState, bloom: Option[(Array[Long], Int, Int)]) =
      st.copy(
        cleaned = liveStateTable(spark, dir, "cleaned"),
        bandIndex = liveStateTable(spark, dir, "band_index"),
        bloom = bloom,
        seenKeys = st.seenKeys.map(_ => liveStateTable(spark, dir, "seen_keys")))
    batchId match {
      case None =>
        val (cleanedDelta, indexDelta, newBloom, deltaKeys) =
          deltaState(state, delta, idCol, textCol)
        cleanedDelta.write.mode("append").parquet(s"$dir/cleaned")
        indexDelta.write.mode("append").parquet(s"$dir/band_index")
        writeBloomTable(spark, dir, newBloom)
        deltaKeys.foreach(
          _.write.mode("append").parquet(s"$dir/seen_keys"))
        repointed(state, newBloom).copy(
          seenKeys = deltaKeys.map(_ => liveStateTable(spark, dir, "seen_keys")))
      case Some(id0) =>
        // collision-free safe id: the readable sanitized form PLUS a
        // hash of the raw id (as Multimodal.batchStateId does) — plain
        // sanitization maps distinct ids like "a/b" and "a b" to the
        // same "a_b", and a replay of one batch would then delete the
        // OTHER batch's batch_<safe>_* files during cleanup, silently
        // losing its landed rows (r16 ADVICE)
        val legacySafe = id0.replaceAll("[^A-Za-z0-9._-]", "_")
        val safe = f"${legacySafe}_${id0.hashCode & 0x7fffffff}%08x"
        val fs = new Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val marker = new Path(dir, s"_applied_$safe")
        // a state dir written before the hashed-id fix carries markers
        // under the un-hashed sanitized name — treat EITHER marker as
        // "applied", else replaying an already-applied batch after the
        // upgrade would land its rows twice (r17 ADVICE); the legacy
        // marker migrates to the hashed name so later probes take the
        // one-stat fast path
        if (fs.exists(marker) || fs.exists(new Path(dir, s"_applied_$legacySafe"))) {
          if (!fs.exists(marker)) fs.create(marker, true).close()
          // fully applied before: converge without touching anything
          val st = readState(spark, dir)
          return repointed(st, st.bloom)
        }
        // clean up any partial landing, THEN compute the delta from the
        // dir (the source of truth once batches replay) — including a
        // partial landing left by the PRE-hash code, whose files sit at
        // batch_<legacy>_<i>.parquet (the tight `\d+\.parquet` tail
        // keeps this from ever matching another batch's hashed
        // batch_<legacy'>_<hex8>_<i>.parquet names)
        val legacyFile =
          s"batch_${java.util.regex.Pattern.quote(legacySafe)}_\\d+\\.parquet".r
        tables.foreach { t =>
          val tp = new Path(s"$dir/$t")
          if (fs.exists(tp))
            fs.listStatus(tp)
              .filter { s =>
                val n = s.getPath.getName
                n.startsWith(s"batch_${safe}_") ||
                  legacyFile.pattern.matcher(n).matches()
              }
              .foreach(s => fs.delete(s.getPath, false))
        }
        val st = readState(spark, dir)
        val (cleanedDelta, indexDelta, newBloom, deltaKeys) =
          deltaState(st, delta, idCol, textCol)
        appendBatchFiles(cleanedDelta, s"$dir/cleaned", safe)
        appendBatchFiles(indexDelta, s"$dir/band_index", safe)
        writeBloomTable(spark, dir, newBloom)
        deltaKeys.foreach(appendBatchFiles(_, s"$dir/seen_keys", safe))
        fs.create(marker, true).close()
        repointed(st, newBloom)
    }
  }

  private def writeBloomTable(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bloom: Option[(Array[Long], Int, Int)]): Unit = {
    import spark.implicits._
    bloom.foreach { case (bitmap, _, _) =>
      bitmap.toSeq.zipWithIndex.map { case (w, i) => (i, w) }
        .toDF("pos", "word").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/bloom")
    }
  }

  /** Stage-and-rename append: write the frame to a hidden staging dir,
    * then move its part files into `dir` under `batch_<id>_` names. A
    * crash leaves only ignorable staging (dot-prefixed — parquet scans
    * skip it) or a partial prefix set the replay's cleanup deletes.
    */
  private def appendBatchFiles(df: DataFrame, dir: String, safe: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(dir)
    val fs = target.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(dir, s".staging_$safe")
    df.write.mode("overwrite").parquet(staging.toString)
    if (!fs.exists(target)) fs.mkdirs(target)
    fs.listStatus(staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (p, i) =>
        fs.rename(p.getPath, new Path(target, s"batch_${safe}_$i.parquet"))
      }
    fs.delete(staging, true)
  }

  /** Compact an [[appendState]]-grown layout in place: every append
    * leaves another handful of batch-sized files per table, and
    * re-crawled exact copies leave duplicate seen keys — after enough
    * batches the probe scans pay more for file-open overhead than for
    * data. Compaction rewrites each table sized from its actual bytes
    * ([[LayoutFiles.rewrite]]), folds the pending retractions in and
    * deduplicates `seen_keys`; semantics are untouched — the spec
    * asserts byte-identical curation before and after. Run on the
    * cadence file-count growth dictates; at cluster scale this is also
    * the natural point to re-bucket `band_index` by (band, band_hash)
    * and to re-run the corpus-global span surgery that the incremental
    * path deliberately skips.
    */
  def compactState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
  ): CurateState = {
    import org.apache.hadoop.fs.Path
    LayoutFiles.recover(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rewrite(name: String, transform: DataFrame => DataFrame): Unit =
      if (fs.exists(new Path(s"$dir/$name")))
        LayoutFiles.rewrite(dir, name, None)(
          transform(spark.read.parquet(s"$dir/$name")))
    val docTomb = LayoutFiles.tombstones(spark, dir)
    val keyTomb = LayoutFiles.tombstones(spark, dir, "_tombstone_keys")
    rewrite("cleaned", LayoutFiles.minus(_, docTomb, Seq("doc")))
    rewrite("band_index", LayoutFiles.minus(_, docTomb, Seq("doc")))
    rewrite("seen_keys", LayoutFiles.minus(_, keyTomb, Seq("key")).distinct())
    LayoutFiles.commit(spark, dir)
    readState(spark, dir)
  }

  /** The training-set FREEZE — the last step of the curation pipeline,
    * where a corpus stops being a table and becomes trainer input:
    * curate ([[curate]], spanK=0 — the p119 stage set) → semantic
    * cells over the survivors' embeddings (deterministic
    * [[graft.pipeline.Similarity.ivfTrain]] + map-only assignment) →
    * relatedness-grouped packing
    * ([[graft.pipeline.Curation.packRelated]], the in-context-
    * pretraining order) → [[graft.pipeline.Curation.materializePacks]]
    * → the pack rows PUBLISHED as a parquet layout under
    * `outDir/packs`, and the returned frame READ BACK from the
    * published files (the loop's proof, as [[curateArchive]] does for
    * WET).
    *
    * Scale shape: the curate stages are the dominant cost (already
    * measured per stage); cells add one Lloyd's train (bounded
    * aggregates) + a map-only assignment; the pack window is de-skewed
    * over (cell, subshard, gate-bucket) — a dominant relatedness cell
    * never sorts in one task; materialization reuses the pack-keyed
    * exchange the write needs anyway.
    *
    * Tokenization: by default tokens are whitespace tokens (the packs
    * then carry raw words). Pass `tokenizer` — a trained
    * [[graft.pipeline.Bpe.BpeModel]] — and the freeze ships what a
    * trainer actually loads: each doc's subword-piece stream
    * ([[graft.pipeline.Bpe.encode]], `wordEnd`-marked so the stream is
    * exactly invertible, the p111 property), the pack budget counted
    * in PIECES, a published `outDir/vocab` (piece, id) table, and a
    * `vocab_ids` column mapping every pack's pieces to model vocab
    * ids. The vocabulary is MODEL-bounded, not corpus-bounded (every
    * piece is a character of the alphabet or one merge's output,
    * optionally marker-suffixed), so it rides as one map literal —
    * the id mapping costs no join, no exchange.
    *
    * @return (cell, subshard, pack, n_docs, n_tokens, docs,
    *         doc_boundaries, token_ids[, vocab_ids]) read back from
    *         `outDir/packs`
    */
  def freezePacks(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      outDir: String,
      budgetTokens: Long = 256L, cells: Int = 8, subshards: Int = 2,
      minQuality: Double = 0.3, minWords: Long = 20,
      tokenizer: Option[Bpe.BpeModel] = None, wordEnd: String = "</w>",
  ): DataFrame = {
    val curated = OperatorCache.materialize(
      curate(docs, idCol, textCol,
        minQuality = minQuality, minWords = minWords, spanK = 0)
        .select(col(idCol), col(textCol)))
    // cells train on the SURVIVORS' embeddings only — the mixture a
    // dropped doc would pull the centroids toward no longer exists
    val emb = vectors.join(
      curated.select(col(idCol).as(vecIdCol)), Seq(vecIdCol), "left_semi")
    val index = Similarity.ivfTrain(emb, vecIdCol, vecCol, cells)
    val cellsDf = Similarity
      .ivfIndex(emb.select(col(vecIdCol), col(vecCol)), vecCol, index)
      .select(col(vecIdCol), col("centroid"))
    // tokenize: whitespace words, or the trained model's subword-piece
    // stream (docs whose text normalizes to zero alnum tokens drop on
    // the BPE path — the encode contract; the curate floors make that
    // an edge, not a population)
    val toks = tokenizer match {
      case Some(model) => OperatorCache.materialize(
        Bpe.encode(curated, idCol, textCol, model, wordEnd = wordEnd)
          .select(col("doc").as(idCol),
            split(col("pieces"), " ").as("toks"),
            col("n_pieces").as("n_toks")))
      case None => curated.select(col(idCol),
        // script-aware: CJK/Thai runs count one token per codepoint
        // (the native segmented split is identity on space-delimited
        // text), so a multilingual pack budget is not overcounted by
        // whole sentence-runs masquerading as single "words"
        Dedup.segSplitOf(col(textCol)).as("toks"))
        .withColumn("n_toks", size(col("toks")).cast("long"))
    }
    val packed = Curation.packRelated(toks, idCol, "n_toks",
      cellsDf, vecIdCol, "centroid", budgetTokens, subshards)
    val packs0 = Curation.materializePacks(packed, Seq("cell", "subshard"),
      idCol, "toks", orderCol = Some("gate"))
    val packs = tokenizer match {
      case Some(_) =>
        // the reachable piece set is bounded by the MODEL (alphabet +
        // one output per merge, ×2 for the marker-suffixed variants),
        // so the collect is artifact-sized — the centroids contract,
        // not a corpus collect. Ids are 1..V in byte order (ASCII
        // pieces: Spark's and any replayer's string sort agree).
        val pieces = toks.select(explode(col("toks")).as("piece"))
          .distinct().collect().map(_.getString(0)).sorted
        import spark.implicits._
        pieces.zipWithIndex.toSeq
          .map { case (p, i) => (p, (i + 1).toLong) }.toDF("piece", "id")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/vocab")
        val vmap = typedlit(pieces.zipWithIndex
          .map { case (p, i) => p -> (i + 1).toLong }.toMap)
        packs0.withColumn("vocab_ids",
          transform(col("token_ids"), p => element_at(vmap, p)))
      case None => packs0
    }
    packs.write.mode("overwrite").parquet(s"$outDir/packs")
    tokenizer.foreach(_ => OperatorCache.release(toks))
    OperatorCache.release(curated)
    spark.read.parquet(s"$outDir/packs")
  }

  /** End-to-end ARCHIVE curation loop — the text sibling of
    * [[Multimodal.curateShards]], run the way a crawl-curation job is:
    * read `.warc.gz` response shards, curate the extracted text through
    * the full [[curate]] pipeline (quality floors, near-dup connected
    * components, Gopher screen, reproducible splits), and publish the
    * survivors as `.warc.wet.gz` conversion shards — the extracted-text
    * layout the public crawls themselves distribute — plus a
    * `_manifest` parquet (doc_id, split).
    *
    * Document ids ride the WARC `Target-URI` (the `<uriPrefix><id>`
    * convention [[graft.sources.Warc.writeShards]] uses), so the loop
    * composes with the archive writers without a side channel.
    *
    * Scale shape: both archive scans are file-parallel streaming walks
    * (no shuffle); the curation stages shuffle only what [[curate]]
    * already does; the WET publish is the committed shard sink. The
    * curated frame is materialized once ([[OperatorCache]]) so the WET
    * write and the manifest write don't each recompute the pipeline.
    *
    * @param extractHtml treat response payloads as raw HTML and run
    *                     [[Html.toText]] before curating — the real
    *                     crawl shape (a web archive carries pages, not
    *                     prose); the WET output then holds the
    *                     EXTRACTED text, exactly what the public WET
    *                     files are
    * @param boilerplate  (with extractHtml) use the line-level
    *                     boilerplate screen ([[Html.extractMainText]]:
    *                     link-density / length / stopword-density gates
    *                     per extracted line) instead of the plain strip
    *                     chain — the jusText step that drops the
    *                     link-farm and chrome-ish lines toText keeps.
    *                     Costs one doc-keyed exchange (the line
    *                     reassembly); the per-line replay is
    *                     oracle-pinned by p123
    * @param robotsArchive archive dir holding the crawl's captured
    *                     `robots.txt` response records (the public
    *                     crawls publish these as a SEPARATE
    *                     `robotstxt/` subset beside the page archives
    *                     — same layout here). When set, the rules for
    *                     agent `*` are parsed per host
    *                     ([[graft.pipeline.Urls.robotsDisallows]]) and
    *                     pages whose target URI a rule prefix-matches
    *                     are dropped BEFORE extraction — politeness
    *                     first, so disallowed content never enters the
    *                     corpus. Rule-set cost is |hosts|-sized (the
    *                     broadcast side of the screen anti-join).
    * @return the curated corpus READ BACK from the published WET shards
    *         joined to the manifest — (doc_id, text, split); a green
    *         oracle check proves archive-in → curate → archive-out
    *         including text fidelity through the WET round trip
    */
  def curateArchive(
      spark: org.apache.spark.sql.SparkSession, inDir: String, outDir: String,
      minQuality: Double = 0.3, minWords: Long = 20, shards: Int = 4,
      uriPrefix: String = "http://example.org/doc/",
      extractHtml: Boolean = false,
      boilerplate: Boolean = false,
      robotsArchive: Option[String] = None,
  ): DataFrame = {
    require(!boilerplate || extractHtml,
      "boilerplate screening operates on HTML input (set extractHtml)")
    // The id pattern derives from uriPrefix (quoted literally) on BOTH
    // the input and read-back sides — a caller whose prefix doesn't end
    // in "/doc/" must not silently extract nulls (r15 ADVICE).
    val idPattern =
      java.util.regex.Pattern.quote(uriPrefix) + "(\\d+)$"
    val payloadText = decode(col("payload"), "UTF-8")
    val fetched = graft.sources.Warc.read(spark, s"$inDir/*.warc.gz")
      .where(col("warc_type") === "response")
    val polite = robotsArchive.fold(fetched) { rdir =>
      val robots = graft.sources.Warc.read(spark, s"$rdir/*.warc.gz")
        .where(col("warc_type") === "response" &&
          col("target_uri").rlike("://[^/]+/robots\\.txt$"))
        .select(graft.pipeline.Urls.hostOf(col("target_uri")).as("host"),
          decode(col("payload"), "UTF-8").as("robots"))
      graft.pipeline.Urls.robotsScreen(
        fetched, "target_uri",
        graft.pipeline.Urls.robotsDisallows(robots, "host", "robots"))
    }
    val responses = polite
      .select(
        regexp_extract(col("target_uri"), idPattern, 1)
          .cast("long").as("doc_id"),
        payloadText.as("raw"))
    val docs =
      if (boilerplate)
        Html.extractMainText(responses, "doc_id", "raw")
          .select(col("doc").as("doc_id"), col("text_main").as("text"))
      else
        responses.select(col("doc_id"),
          (if (extractHtml) Html.toText(col("raw")) else col("raw")).as("text"))
    val curated = OperatorCache.materialize(curate(
      docs, "doc_id", "text",
      minQuality = minQuality, minWords = minWords, spanK = 0))
    graft.sources.Warc.writeWetShards(
      curated, "doc_id", "text", outDir, shards, uriPrefix)
    curated.select("doc_id", "split")
      .write.mode("overwrite").parquet(s"$outDir/_manifest")

    graft.sources.Warc.read(spark, s"$outDir/*.warc.wet.gz")
      .where(col("warc_type") === "conversion")
      .select(
        regexp_extract(col("target_uri"), idPattern, 1)
          .cast("long").as("doc_id"),
        decode(col("payload"), "UTF-8").as("text"))
      .join(LayoutFiles.read(spark, s"$outDir/_manifest"), "doc_id")
      .select("doc_id", "text", "split")
  }

  /** Cost-based cascade ordering of INDEPENDENT screens — the classic
    * rank-ordering result: for independent per-row predicates, the
    * expected-cost-minimizing cascade runs screens in decreasing
    * drop-rate-per-unit-cost (a cheap screen that kills a third of the
    * corpus belongs before an expensive one that kills a half). At
    * 100 TB, screen ORDER is a first-order cost lever: every doc a
    * front screen drops is a doc every later screen never prices.
    *
    * Selectivities are MEASURED, not guessed: each screen's pass count
    * is computed on a deterministic absolute-target sample (the
    * [[graft.pipeline.Curation.idGate]] — the same ids survive on every
    * engine, partitioning, and cluster size, so the plan is
    * reproducible evidence, not a point-in-time accident). Costs are
    * the caller's relative per-doc prices (a regex pass costs more
    * than a length check).
    *
    * Returns one row per screen with the measured evidence and the
    * recommended position — a PLANNING artifact the cascade caller
    * feeds back into its stage order, not a mutation of any pipeline.
    *
    * Scale shape: one count (the sample-rate denominator) plus ONE
    * map-side-combined aggregate over the sampled slice computing all
    * screens' pass counts in a single pass; the screen-count result
    * rows are built on the driver (screens are few by construction).
    *
    * @param screens (name, keeps-predicate over `docs`' columns,
    *                relative per-doc cost > 0) — names must be unique
    * @return (rank, screen, sample_n, kept, drop_rate, cost,
    *         drop_per_cost), rank 1 = run first, ordered by
    *         drop_per_cost desc with name-asc ties
    */
  def orderScreens(
      docs: DataFrame, idCol: String,
      screens: Seq[(String, Column, Double)],
      sampleTarget: Long = 100000L, salt: Int = 0): DataFrame = {
    require(screens.nonEmpty, "orderScreens needs at least one screen")
    require(screens.map(_._1).distinct.size == screens.size,
      s"screen names must be unique: ${screens.map(_._1)}")
    screens.foreach { case (n, _, c) =>
      require(c > 0, s"screen cost must be positive: $n has $c") }
    val spark = docs.sparkSession
    val total = docs.count()
    val frac = math.min(1.0, sampleTarget.toDouble / math.max(total, 1L))
    val sampled = docs.where(
      Curation.idGate(col(idCol), salt) < lit(math.round(frac * 1e6)))
    val aggs = count(lit(1)).as("__n") +:
      screens.map { case (name, keeps, _) =>
        sum(when(keeps, 1L).otherwise(0L)).as(s"__k_$name") }
    val row = sampled.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n")
    require(n > 0, s"orderScreens sample is empty (corpus $total rows, " +
      s"target $sampleTarget) — selectivities need evidence")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = screens.map { case (name, _, cost) =>
      val kept = row.getAs[Long](s"__k_$name")
      val drop = 1.0 - kept.toDouble / n
      (name, n, kept, r6(drop), cost, r6(drop / cost))
    }.sortBy { case (name, _, _, _, _, dpc) => (-dpc, name) }
      .zipWithIndex.map { case ((name, sn, kept, drop, cost, dpc), i) =>
        (i + 1, name, sn, kept, drop, cost, dpc)
      }
    import spark.implicits._
    scored.toDF("rank", "screen", "sample_n", "kept", "drop_rate", "cost",
      "drop_per_cost")
  }

  /** [[orderScreens]] with MEASURED costs (r18 VERDICT item 4): instead
    * of taking the caller's relative prices on faith, each screen's
    * predicate is timed over the SAME idGate sample — one extra
    * sample-sized filter-count pass per screen, min-of-two so the
    * second (cache-warm, codegen-warm) pass prices the predicate
    * rather than the first run's compilation — and the cascade ranks
    * by measured drop-per-measured-millisecond.
    *
    * The sample is MATERIALIZED first (cache barrier), so the timing
    * passes price the screen expression, not the upstream scan+gate.
    * The wall clock still includes Spark's fixed per-job overhead;
    * over a 10⁵-row sample that overhead is a near-constant additive
    * term shared by every screen, so the RANKING it produces is the
    * per-doc cost ranking — and per-doc cost is what dominates at the
    * corpus scale the cascade actually runs at.
    *
    * Clock values are evidence, not replayable oracle material — the
    * deterministic columns (kept, drop_rate) equal [[orderScreens]]'
    * exactly (p142 pins that cross-check through the oracle), while
    * `cost_ms` and the measured rank are pinned by spec invariants
    * (positive, rank sorted by drop_per_cost_ms desc).
    *
    * @return (rank, screen, sample_n, kept, drop_rate, cost_ms,
    *         drop_per_cost_ms), rank 1 = run first
    */
  def orderScreensMeasured(
      docs: DataFrame, idCol: String,
      screens: Seq[(String, Column)],
      sampleTarget: Long = 100000L, salt: Int = 0): DataFrame = {
    require(screens.nonEmpty, "orderScreensMeasured needs at least one screen")
    require(screens.map(_._1).distinct.size == screens.size,
      s"screen names must be unique: ${screens.map(_._1)}")
    val spark = docs.sparkSession
    val total = docs.count()
    val frac = math.min(1.0, sampleTarget.toDouble / math.max(total, 1L))
    val sampled = OperatorCache.materialize(docs.where(
      Curation.idGate(col(idCol), salt) < lit(math.round(frac * 1e6))))
    try {
      val n = sampled.count() // cached — the materialize barrier ran it
      require(n > 0, s"orderScreensMeasured sample is empty (corpus $total " +
        s"rows, target $sampleTarget) — selectivities need evidence")
      def pass(keeps: Column): (Long, Double) = {
        val t0 = System.nanoTime()
        val kept = sampled
          .agg(sum(when(keeps, 1L).otherwise(0L))).head().getLong(0)
        (kept, (System.nanoTime() - t0) / 1e6)
      }
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val scored = screens.map { case (name, keeps) =>
        val (kept, ms1) = pass(keeps)
        val (_, ms2) = pass(keeps)
        val ms = math.max(math.min(ms1, ms2), 0.001) // clock floor: never /0
        val drop = 1.0 - kept.toDouble / n
        (name, n, kept, r6(drop), r6(ms), r6(drop / ms))
      }.sortBy { case (name, _, _, _, _, dpc) => (-dpc, name) }
        .zipWithIndex.map { case ((name, sn, kept, drop, ms, dpc), i) =>
          (i + 1, name, sn, kept, drop, ms, dpc)
        }
      import spark.implicits._
      scored.toDF("rank", "screen", "sample_n", "kept", "drop_rate",
        "cost_ms", "drop_per_cost_ms")
    } finally OperatorCache.release(sampled)
  }

  /** Execute a screen cascade in a GIVEN rank order and attribute every
    * drop to the FIRST screen that kills the doc — the execution half
    * the ordering advisories ([[orderScreens]] /
    * [[orderScreensMeasured]]) feed (r19 VERDICT item 5: the measured
    * order was a card nothing executed).
    *
    * Scale shape: attribution is ONE map-side-combined aggregate — the
    * first-kill index is a row-local CASE over the ordered predicates,
    * so nothing per-doc shuffles and the exchange carries
    * (#screens + 1) partial sums; survivors are the plain conjunction
    * `where`, which Catalyst pushes into the scan. Screens must be
    * NULL-SAFE predicates (coalesce inputs yourself): a null keeps
    * neither kills nor counts.
    *
    * @param order screen names in execution order (rank 1 first) —
    *        exactly the `screen` column of an ordering advisory,
    *        collected rank-ascending; must be a permutation of
    *        `screens`' names
    * @return (survivors, card); card = (rank, screen, docs_in,
    *         docs_dropped, docs_surviving) in execution order, where
    *         docs_dropped counts docs whose FIRST failing screen is
    *         this one — so the column sums to total − kept and
    *         realized (conditional) drops differ from the advisory's
    *         marginal ones exactly where screens overlap
    */
  def runScreensOrdered(
      docs: DataFrame, idCol: String,
      screens: Seq[(String, Column)], order: Seq[String],
  ): (DataFrame, DataFrame) = {
    require(screens.map(_._1).distinct.size == screens.size,
      s"screen names must be unique: ${screens.map(_._1)}")
    require(order.sorted == screens.map(_._1).sorted,
      s"order must be a permutation of the screens: $order vs ${screens.map(_._1)}")
    val spark = docs.sparkSession
    val byName = screens.toMap
    val ordered: Seq[(String, Column)] = order.map(n => n -> byName(n))
    // first-kill index: leftmost failing screen (outermost WHEN = rank 1)
    val kill = ordered.zipWithIndex.foldRight(lit(-1): Column) {
      case (((_, keeps), i), rest) => when(!keeps, lit(i)).otherwise(rest)
    }
    val aggs = count(lit(1)).as("__n") +: ordered.zipWithIndex.map {
      case ((name, _), i) =>
        sum(when(kill === i, 1L).otherwise(0L)).as(s"__d_$name")
    }
    val row = docs.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("__n")
    val drops = ordered.map { case (name, _) => row.getAs[Long](s"__d_$name") }
    val card = ordered.zipWithIndex.map { case ((name, _), i) =>
      val in = total - drops.take(i).sum
      (i + 1, name, in, drops(i), in - drops(i))
    }
    val survivors = docs.where(ordered.map(_._2).reduce(_ && _))
    import spark.implicits._
    (survivors, card.toDF("rank", "screen", "docs_in", "docs_dropped",
      "docs_surviving"))
  }

  /** [[runScreensOrdered]] driven by the DETERMINISTIC advisory: rank
    * screens by [[orderScreens]] (measured selectivity on the idGate
    * sample / caller-priced cost), then execute the cascade in that
    * order. Fully replayable — the p147 oracle pins ranking AND
    * realized attribution in DuckDB.
    *
    * @return (survivors, card) as [[runScreensOrdered]]
    */
  def curateOrdered(
      docs: DataFrame, idCol: String,
      screens: Seq[(String, Column, Double)],
      sampleTarget: Long = 100000L, salt: Int = 0,
  ): (DataFrame, DataFrame) = {
    val ranked = orderScreens(docs, idCol, screens, sampleTarget, salt)
      .select("rank", "screen").collect() // parameter-bounded: one row per screen
      .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    runScreensOrdered(docs, idCol,
      screens.map { case (n, p, _) => (n, p) }, ranked)
  }

  /** [[runScreensOrdered]] driven by the MEASURED advisory
    * ([[orderScreensMeasured]] — wall-clocked predicate prices). The
    * order is evidence-based but clock-dependent, so this variant is
    * spec-pinned (cascade executes in the measured rank order;
    * attribution identities hold), not oracle-replayed.
    *
    * @return (survivors, card) as [[runScreensOrdered]]
    */
  def curateOrderedMeasured(
      docs: DataFrame, idCol: String,
      screens: Seq[(String, Column)],
      sampleTarget: Long = 100000L, salt: Int = 0,
  ): (DataFrame, DataFrame) = {
    val ranked = orderScreensMeasured(docs, idCol, screens, sampleTarget, salt)
      .select("rank", "screen").collect()
      .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    runScreensOrdered(docs, idCol, screens, ranked)
  }
}
