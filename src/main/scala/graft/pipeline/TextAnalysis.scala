package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, and document
  * fingerprinting. All are compositions of codegen'd built-in functions —
  * no UDFs — so they stay inside whole-stage codegen and scale linearly
  * with no shuffle (beyond whatever aggregation the caller adds).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: words are split from punctuation runs the way a
    * byte-pair pretokenizer would (letters+digits runs, single punct
    * marks), counted via regexp_count — codegen'd, no explode.
    */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  /** Rough chars-per-token estimate (~4 chars/token heuristic). */
  def tokenCountEstimate(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** Count of characters belonging to `chars`, via translate-delete —
    * a single linear scan, ~an order of magnitude cheaper than a
    * character-class regexp_count and exactly equivalent for plain
    * (non-meta) character sets.
    */
  private def charClassCount(text: Column, chars: String): Column =
    length(text) - length(translate(text, chars, ""))

  /** Lowercased text with every non-word run collapsed to TWO spaces and
    * padded ends — the shared base for [[wordOccurrences]]. Two spaces
    * (not one) so adjacent words don't share a boundary space and
    * per-word ` w ` occurrence scans count each occurrence exactly once.
    * `[^a-z0-9_]` mirrors regex `\b` word characters precisely
    * (underscore included), so counts equal `regexp_count(lower(text),
    * "\\b(w)\\b")` for plain lowercase words — the DuckDB oracles keep
    * the regex form and the hash compare enforces the equivalence.
    */
  private def boundaryPadded(lowered: Column): Column =
    concat(lit(" "), regexp_replace(lowered, "[^a-z0-9_]+", "  "), lit(" "))

  /** Total occurrences of `words` in a [[boundaryPadded]] string via the
    * native single-pass [[graft.functions.CountWordsIn]] token scan —
    * count-identical to `\b(w1|…|wN)\b` over the lowered text
    * (alternatives are whole words; over the padded form every match is
    * exactly one token equal to a needle, and distinct needles cannot
    * claim the same token). One expression with a tiny codegen body
    * (loop + hash probe) — measured alternatives rejected: per-word
    * `replace`-and-measure copies the haystack per needle, and per-word
    * scan expressions (40 inlined loops) blow past the JIT method
    * budget inside a wide projection.
    */
  private def wordOccurrences(padded: Column, words: Seq[String]): Column = {
    // the expression resolves through the session function registry;
    // registration is idempotent. Fail fast when no session is active on
    // the building thread — otherwise the column dies later at analysis
    // with an opaque "Undefined function" far from the cause.
    val session = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException(
        "TextAnalysis columns must be built on a thread with an active " +
          "SparkSession (graft_count_words_in registers per session)"))
    graft.functions.GraftFunctions.ensureRegistered(session)
    graft.functions.GraftFunctions.countWordsIn(padded, words)
  }

  /** Codepoint share of each writing-script class — the routing
    * primitive for script-gated screens. The quality/Gopher heuristics
    * here are LATIN-TUNED (English stopwords, [A-Za-z] alpha words,
    * 3–10 char mean word length): running them on CJK/Thai text
    * misfires EVEN with per-codepoint segmentation (a CJK "word" is
    * one codepoint — mean_word_len ≈ 1, alpha_frac ≈ 0), so a
    * multilingual pipeline routes by script FIRST and applies each
    * script's own thresholds. Counts are `translate`-free regexp
    * counts (one linear scan each, codegen), denominated by the
    * text's total matched codepoints.
    *
    * @return (script name, codepoint count) columns for latin / han /
    *         hiragana / katakana / thai / lao
    */
  def scriptCounts(text: Column): Seq[(String, Column)] = Seq(
    "latin" -> regexp_count(text, lit("[A-Za-z]")),
    "han" -> regexp_count(text, lit("\\p{IsHan}")),
    "hiragana" -> regexp_count(text, lit("\\p{IsHiragana}")),
    "katakana" -> regexp_count(text, lit("\\p{IsKatakana}")),
    "thai" -> regexp_count(text, lit("\\p{IsThai}")),
    "lao" -> regexp_count(text, lit("\\p{IsLao}")),
    "khmer" -> regexp_count(text, lit("\\p{IsKhmer}")),
    "myanmar" -> regexp_count(text, lit("\\p{IsMyanmar}")),
    "tibetan" -> regexp_count(text, lit("\\p{IsTibetan}")),
  ).map { case (n, c) => n -> c.cast("long") }

  /** The [[scriptCounts]] labels whose scripts are written without word
    * spaces — exactly [[graft.pipeline.Dedup.SegScripts]]'s classes. A
    * doc routed here is screened on SEGMENTED tokens and script-
    * calibrated thresholds, never the Latin-tuned word rules. */
  val SegmentedScriptLabels: Seq[String] = Seq(
    "han", "hiragana", "katakana", "thai", "lao",
    "khmer", "myanmar", "tibetan")

  /** The argmax script label of [[scriptCounts]] — "other" when no
    * class matches a single codepoint. Ties break by the fixed list
    * order above (deterministic on both engines: the replay is a
    * greatest-count CASE over the same regexp counts). One row-local
    * expression; at 100 TB this is the screen-router that keeps the
    * Latin-tuned quality cascade off text it would misjudge.
    */
  def dominantScript(text: Column): Column = {
    val counts = scriptCounts(text)
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("other"): Column) { case ((name, c), rest) =>
      when(c > 0 && c === best, lit(name)).otherwise(rest)
    }
  }

  /** Quality-scoring features: length, word stats, punctuation / stopword /
    * uppercase / digit / non-alnum ratios, mean word length, repetition.
    * Returned as individual columns so downstream filters push down.
    *
    * LATIN-TUNED (see [[scriptCounts]]): stopwords are English,
    * upper/alpha classes are [A-Za-z]. Route non-Latin text by
    * [[dominantScript]] before screening on these.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val words = split(trim(text), "\\s+")
    val nWords = size(words)
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_words" -> nWords.cast("long"),
      "mean_word_len" ->
        (nChars.cast("double") / greatest(nWords, lit(1)).cast("double")),
      "punct_ratio" ->
        (charClassCount(text, ".,;:!?'\"()[]{}-").cast("double") /
          greatest(nChars, lit(1)).cast("double")),
      "digit_ratio" ->
        (charClassCount(text, "0123456789").cast("double") /
          greatest(nChars, lit(1)).cast("double")),
      "upper_ratio" ->
        (charClassCount(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ").cast("double") /
          greatest(nChars, lit(1)).cast("double")),
      "stopword_ratio" ->
        // count-identical to regexp_count of \b(the|a|an|and|or|of|to|in|
        // is|it|that|was|for|on|with)\b — see wordOccurrences; the DuckDB
        // oracle keeps the regex form and the hash compare enforces it
        (wordOccurrences(boundaryPadded(lower(text)),
          Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            "that", "was", "for", "on", "with"))
          .cast("double") / greatest(nWords, lit(1)).cast("double")),
      "uniq_word_ratio" ->
        (size(array_distinct(words)).cast("double") /
          greatest(nWords, lit(1)).cast("double")),
    )
  }

  /** Composite quality score in [0,1]: penalizes very short/very long docs,
    * punctuation soup, digit soup, and heavy repetition. Deterministic and
    * cheap; meant as a filter input, not a model.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lenScore = least(f("n_words").cast("double") / lit(20.0), lit(1.0))
    val punctOk = when(f("punct_ratio") <= 0.2, 1.0).otherwise(0.5)
    val digitOk = when(f("digit_ratio") <= 0.3, 1.0).otherwise(0.5)
    val repeatOk = f("uniq_word_ratio")
    round(lenScore * punctOk * digitOk * lit(0.5) + repeatOk * lit(0.5), 4)
  }

  /** Tiny per-language stopword lists for the n-gram/stopword-hit language
    * heuristic. Public knowledge (most-frequent function words).
    */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "他", "这", "不"),
  )

  /** Per-language hit counts; the language with the max normalized hits
    * wins, 'und' when nothing matches. Counts are literal scans — word
    * occurrences over the shared [[boundaryPadded]] string for the latin
    * lists, translate-delete for the single-char zh list — each exactly
    * equal to the `\b(…)\b` / `(…)` regexp_count the DuckDB oracles run
    * (enforced by the p10/p15 hash compares), at ~an order of magnitude
    * less per-row cost than the NFA alternations.
    */
  def languageId(text: Column): Column = {
    val lowered = lower(text)
    val padded = boundaryPadded(lowered)
    val scores: Seq[(String, Column)] = stopwords.toSeq.map { case (lang, words) =>
      val cnt =
        if (lang == "zh") charClassCount(lowered, words.mkString)
        else wordOccurrences(padded, words)
      lang -> cnt.cast("double")
    }
    // argmax via a struct sort: (score, lang) max. The no-match guard is
    // a 0.5-score 'und' SENTINEL element rather than a when(best.score >
    // 0) test: real hits are integer counts ≥ 1, so the sentinel wins
    // exactly when nothing matched — and the whole argmax stays ONE
    // array_max + ONE field read. (getField inlines its child per read,
    // so the guard form evaluated the five language scans twice per row;
    // in a Filter, where codegen does no subexpression elimination, that
    // doubling is paid in full.)
    val packed = array(scores.map { case (lang, s) =>
      struct(s.as("score"), lit(lang).as("lang"))
    } :+ struct(lit(0.5).as("score"), lit("und").as("lang")): _*)
    array_max(packed).getField("lang")
  }

  /** Language-ID confusion audit — measures the [[languageId]]
    * heuristic against labeled data INSIDE the gate (the same posture
    * as the LSH/IVF/PQ/calibration audits: every approximation the
    * pipeline leans on gets an oracle-checked number). One map-side
    * projection (the n-gram scans run in codegen) + one
    * map-side-combined aggregate; `share` normalizes each row by its
    * TRUE-label total via a window over the confusion matrix itself —
    * a ≤ |langs|²-row frame, parameter-sized by construction.
    *
    * @return (lang, lang_pred, n_docs, share) — share = P(pred | true),
    *         so the diagonal rows read as per-language recall
    */
  def langIdConfusion(
      df: org.apache.spark.sql.DataFrame, textCol: String, labelCol: String,
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = Window.partitionBy("lang")
    df.select(col(labelCol).as("lang"), languageId(col(textCol)).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round(col("n_docs").cast("double") /
          sum("n_docs").over(tot).cast("double"), 6))
  }

  /** Gopher-style rule-based quality screen (Rae et al. 2021, public,
    * appendix A1.1 — the doc-level rules; line-level rules need a
    * line-structured corpus): each rule is a boolean column plus the
    * feature it tested, and `pass` is their conjunction, so downstream
    * filters can use the composite OR audit individual rules, and a
    * `where(pass)` pushes the whole conjunction into the scan.
    *
    * Features, all single-scan expressions (no explode, no lambdas —
    * the per-word tests are formulated as regexp/translate counts so
    * the operator stays map-only inside whole-stage codegen):
    * - `n_words`: whitespace word count
    * - `mean_word_len`: non-space chars / words
    * - `symbol_ratio`: (# chars + "..." occurrences) / words
    * - `alpha_frac`: fraction of words containing a letter (one
    *   non-overlapping regexp count — a token with ≥1 letter matches
    *   exactly once)
    * - `stopword_hits`: occurrences of the Gopher stopword list (the,
    *   be, to, of, and, that, have, with), whole-word single-pass scan
    *
    * @return (doc, n_words, mean_word_len, symbol_ratio, alpha_frac,
    *         stopword_hits, pass); ratios rounded to 6 decimals BEFORE
    *         the threshold compare so an external replay makes the
    *         identical keep/drop decision on boundary rows
    */
  /** The five Gopher doc-level feature columns over `text` (expects
    * the null-coalesced column): (n_words, mean_word_len,
    * symbol_ratio, alpha_frac, stopword_hits) — shared by
    * [[gopherQualityRules]] and the Latin branch of
    * [[multilingualQualityRules]] so the two screens can never drift
    * on the Latin rule semantics. Ratios rounded to 6 BEFORE any
    * threshold compare (boundary-row determinism on both engines). */
  private def gopherFeatureCols(
      text: Column): (Column, Column, Column, Column, Column) = {
    val nWords = when(trim(text) === "", lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))
    val nw = greatest(nWords, lit(1L)).cast("double")
    val meanLen =
      round(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / nw, 6)
    val symbols = charClassCount(text, "#") +
      (length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)
    val symbolRatio = round(symbols.cast("double") / nw, 6)
    val alphaFrac =
      round(regexp_count(text, lit("\\S*[A-Za-z]\\S*")).cast("double") / nw, 6)
    val stopHits = wordOccurrences(boundaryPadded(lower(text)),
      Seq("the", "be", "to", "of", "and", "that", "have", "with")).cast("long")
    (nWords, meanLen, symbolRatio, alphaFrac, stopHits)
  }

  /** LATIN-TUNED (see [[scriptCounts]]): the stopword list is English,
    * alpha words are [A-Za-z], and the 3–10 mean-word-length band
    * assumes space-delimited words — per-codepoint CJK segmentation
    * would not fix the rule semantics (mean length ≈ 1 codepoint), so
    * route by [[dominantScript]] and screen non-Latin scripts with
    * their own thresholds — [[multilingualQualityRules]] is that
    * router composed with this screen. */
  def gopherQualityRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwordHits: Long = 2,
  ): DataFrame = {
    // null/blank text is the 0-WORD doc (fails the word floor, never a
    // NULL pass flag): a bare size(split(...)) yields NULL for null
    // text and 1 for "", and null-propagation would make every rule —
    // and the composite — NULL instead of false
    val text = coalesce(col(textCol), lit(""))
    val (nWords, meanLen, symbolRatio, alphaFrac, stopHits) =
      gopherFeatureCols(text)
    df.select(col(idCol).as("doc"),
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
        stopHits.as("stopword_hits"))
      .withColumn("pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stopword_hits") >= minStopwordHits)
  }

  /** Script-ROUTED quality screen — the multilingual front door the
    * Latin-tuned [[gopherQualityRules]] needs at web scale (r19
    * VERDICT item 1): a Chinese/Thai/Khmer document used to reach the
    * quality cascade as an EMPTY token stream (the canonical
    * tokenizer's `[^a-z0-9\s]` strip deletes every non-Latin
    * codepoint) and was screened on vacuous statistics. Here every doc
    * is routed by [[dominantScript]] first:
    *
    *  - `latin` (and `other`) route: the exact Gopher doc-level
    *    conjunction, expression-for-expression [[gopherFeatureCols]] —
    *    pinned equal to [[gopherQualityRules]].pass by spec.
    *  - `segmented` route ([[SegmentedScriptLabels]] — the scripts
    *    written without word spaces): rules re-based on the SEGMENTED
    *    token stream ([[Dedup.segTokensOf]], one token per codepoint
    *    for those scripts — the standard char-level fallback), with
    *    script-calibrated equivalents of the Gopher bounds:
    *    token-count floor/ceiling (a CJK codepoint ≈ a word for budget
    *    purposes), symbol ratio per segmented token, `content_frac`
    *    (share of non-space codepoints the tokenizer KEEPS — the
    *    analogue of alpha_frac; symbol soup fails it), and
    *    `uniq_frac` (distinct/total segmented tokens — the repetition
    *    rule: a doc that repeats one phrase collapses to a handful of
    *    distinct codepoints).
    *
    * Everything is ONE map-only projection (script counts, segmented
    * split, regexp counts — all codegen), so a `where(pass)` pushes
    * the whole routed conjunction into the scan; at 100 TB this
    * screens a mixed-script crawl in a single pass with no shuffle.
    * Oracle: p146 replays routing, segmentation, every feature, and
    * the routed pass in DuckDB over a mixed Latin+CJK fixture.
    *
    * @return (doc, script, route, n_tokens, symbol_ratio,
    *         content_frac, uniq_frac, pass); ratios rounded to 6
    *         BEFORE the threshold compare
    */
  def multilingualQualityRules(
      df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwordHits: Long = 2,
      minContentFrac: Double = 0.8, minUniqFrac: Double = 0.05,
  ): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val script = dominantScript(text)
    val route = when(script.isin(SegmentedScriptLabels: _*), lit("segmented"))
      .otherwise(lit("latin"))
    val toks = Dedup.segTokensOf(text)
    val nToks = size(toks).cast("long")
    val nt = greatest(nToks, lit(1L)).cast("double")
    // same symbol inventory as the Gopher screen, denominated by
    // segmented tokens so CJK symbol soup is visible
    val symbols = charClassCount(text, "#") +
      (length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)
    val symbolRatio = round(symbols.cast("double") / nt, 6)
    // share of non-space codepoints the segmented tokenizer keeps —
    // alpha_frac's script-neutral analogue (Latin letters, digits, and
    // every segmented-script codepoint count as content)
    val contentFrac = round(
      regexp_count(text, lit(s"[A-Za-z0-9${Dedup.SegScripts}]")).cast("double") /
        greatest(regexp_count(text, lit("\\S")), lit(1)).cast("double"), 6)
    val uniqFrac = round(size(array_distinct(toks)).cast("double") / nt, 6)
    val (nWords, meanLen, gSymbolRatio, alphaFrac, stopHits) =
      gopherFeatureCols(text)
    val latinPass = nWords.between(minTokens, maxTokens) &&
      meanLen.between(minMeanWordLen, maxMeanWordLen) &&
      gSymbolRatio <= maxSymbolRatio && alphaFrac >= minAlphaFrac &&
      stopHits >= minStopwordHits
    val segPass = nToks.between(minTokens, maxTokens) &&
      symbolRatio <= maxSymbolRatio && contentFrac >= minContentFrac &&
      uniqFrac >= minUniqFrac
    df.select(col(idCol).as("doc"), script.as("script"), route.as("route"),
      nToks.as("n_tokens"), symbolRatio.as("symbol_ratio"),
      contentFrac.as("content_frac"), uniqFrac.as("uniq_frac"),
      when(route === "latin", latinPass).otherwise(segPass).as("pass"))
  }

  /** Per-rule drop attribution for the [[gopherQualityRules]] screen —
    * the audit card a filtering run publishes alongside the cleaned
    * corpus (the Dolma/RefinedWeb reports do exactly this): for every
    * rule, how many docs it failed, how many it ALONE failed (unique
    * attribution — the docs that would survive if just this rule were
    * dropped), and the corpus-wide fail fraction, next to the total
    * drop count under the full conjunction.
    *
    * Shape: the per-doc rule flags are map-only expressions on top of
    * the single-scan Gopher features, and the whole report is ONE
    * map-side-combined global aggregate (2 + 2·rules sums) whose
    * one-row result is exploded into the per-rule rows — at 100 TB the
    * exchange carries 32 partial-sum rows, and nothing per-doc ever
    * leaves the map side.
    *
    * @return (rule, n_failed, n_unique, fail_frac, n_docs, n_dropped),
    *         one row per rule, fail_frac rounded to 6
    */
  def filterAttribution(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwordHits: Long = 2,
  ): DataFrame = {
    val g = gopherQualityRules(df, idCol, textCol, minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, minAlphaFrac,
      minStopwordHits)
    // fail flag per rule = negation of that rule's pass clause, on the
    // SAME rounded features the composite tested
    val flagDefs: Seq[(String, Column)] = Seq(
      "alpha_frac" -> (col("alpha_frac") < minAlphaFrac),
      "mean_word_len" -> !col("mean_word_len").between(minMeanWordLen, maxMeanWordLen),
      "stopword_hits" -> (col("stopword_hits") < minStopwordHits),
      "symbol_ratio" -> (col("symbol_ratio") > maxSymbolRatio),
      "words_range" -> !col("n_words").between(minWords, maxWords),
    )
    val flagged = g.select(flagDefs.map { case (n, c) => c.as(n) }: _*)
      .withColumn("__nf", flagDefs.map { case (n, _) => col(n).cast("int") }.reduce(_ + _))
    // coalesce: sum over an EMPTY corpus is NULL, but the audit card's
    // honest value for "no docs failed" is 0 — the report shape (one
    // row per rule, zero counts) must survive an empty input
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__docs"),
        coalesce(sum((col("__nf") > 0).cast("long")), lit(0L)).as("__dropped")) ++
        flagDefs.flatMap { case (n, _) =>
          Seq(coalesce(sum(col(n).cast("long")), lit(0L)).as(s"__s_$n"),
            coalesce(sum((col(n) && col("__nf") === 1).cast("long")), lit(0L))
              .as(s"__u_$n"))
        }
    val one = flagged.agg(aggs.head, aggs.tail: _*)
    val ruleRows = flagDefs.map { case (n, _) =>
      struct(lit(n).as("rule"), col(s"__s_$n").as("n_failed"),
        col(s"__u_$n").as("n_unique"))
    }
    one.select(col("__docs"), col("__dropped"),
        explode(array(ruleRows: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_failed").as("n_failed"),
        col("r.n_unique").as("n_unique"),
        // ANSI division: 0 docs → null fraction, not a DIVIDE_BY_ZERO
        round(col("r.n_failed").cast("double") /
          when(col("__docs") === 0, lit(null)).otherwise(col("__docs")).cast("double"), 6)
          .as("fail_frac"),
        col("__docs").as("n_docs"), col("__dropped").as("n_dropped"))
  }

  /** Pairwise token co-occurrence association mining with PMI scoring
    * (Church & Hanks 1990) under a minimum document-frequency support —
    * the vocabulary-association card used for collocation discovery and
    * tokenizer-merge sanity checks. Apriori-pruned (Agrawal & Srikant
    * 1994): a pair can only reach `minSupport` docs if BOTH members do,
    * so the per-doc self-join runs on tokens surviving the broadcast
    * document-frequency filter — the candidate explosion is bounded by
    * (frequent tokens per doc)², never (vocab)².
    *
    * PMI = ln(n_ab·N / (df_a·df_b)) on exact BIGINT counts — both
    * engines evaluate the identical double expression, rounded to 6.
    *
    * Shape: one distinct-(doc,token) explode, one token-keyed doc-freq
    * aggregate (broadcast back — frequent-token lists are vocabulary-
    * sized, not corpus-sized), one doc-keyed self-join, one pair-keyed
    * count, and a 1-row corpus-size broadcast for the PMI finish.
    */
  def cooccurrencePmi(
      df: DataFrame, idCol: String, textCol: String,
      minSupport: Long,
  ): DataFrame = {
    val dt = df.select(col(idCol).as("doc"),
        explode(array_distinct(Dedup.tokensOf(col(textCol)))).as("tok"))
    val docFreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val frequent = docFreq.where(col("df") >= minSupport)
    val pruned = dt.join(broadcast(frequent), "tok")
    val a = pruned.select(col("doc"), col("tok").as("tok_a"), col("df").as("df_a"))
    val b = pruned.select(col("doc"), col("tok").as("tok_b"), col("df").as("df_b"))
    // df_a/df_b ride in the grouping key (functionally dependent on the
    // token) so the PMI finish needs no extra join back to docFreq
    val pairs = a.join(b, Seq("doc"))
      .where(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b", "df_a", "df_b")
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    pairs.crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        col("df_a"), col("df_b"),
        round(log(col("n_ab").cast("double") * col("__n_docs").cast("double") /
          (col("df_a").cast("double") * col("df_b").cast("double"))), 6).as("pmi"))
  }

  /** Feature-hashed text embedding (the hashing trick — Weinberger et
    * al. 2009): each token lands in bucket `fnv(tok) mod dims` with
    * sign from hash bit 31, weighted by its term frequency, and the
    * doc vector is L2-normalized. No vocabulary, no model state, no
    * driver round-trip — the featurizer a 100 TB corpus can run in one
    * pass before ANN indexing or linear classifiers, with the
    * dimensionality as the only knob.
    *
    * Output is the EXPLODED (doc, dim, val) form — rounded to 6 so the
    * normalization's final double divide replays externally; docs with
    * no tokens emit nothing (no vector to normalize). Shape: one
    * explode → one (doc, bucket) map-side-combined aggregate (signed
    * tf sums are exact integers) → a doc-keyed window for the norm —
    * riding the SAME doc-hash exchange the aggregate created.
    */
  def hashEmbed(
      df: DataFrame, idCol: String, textCol: String, dims: Int = 16,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.ensureRegistered(df.sparkSession)
    val toks = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("tok"))
    val h = GraftFunctions.fnv1a64(col("tok"))
    val bucketed = toks.select(col("doc"),
      pmod(h, lit(dims.toLong)).cast("int").as("dim"),
      // sign from hash bit 31 — independent of the bucket bits
      when(shiftright(h, 31).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L)).as("sgn"))
    val sums = bucketed.groupBy("doc", "dim")
      .agg(sum(col("sgn")).as("w"))
      .where(col("w") =!= 0)
    val byDoc = Window.partitionBy("doc")
    sums
      .withColumn("norm", sqrt(sum(col("w") * col("w")).over(byDoc).cast("double")))
      .select(col("doc"), col("dim"),
        round(col("w").cast("double") / col("norm"), 6).as("val"))
  }

  /** Population-stability-index drift card between two corpus snapshots
    * (the standard ingest-monitoring statistic): for each feature, bin
    * both sides on the SAME fixed integer binning, Laplace-smooth the
    * bin fractions (p = (count+1)/(total+nBins) — deterministic, no
    * ε knob, zero-count bins well-defined), and report
    * PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref). PSI ≥ 0, equal
    * distributions → 0; the conventional alert thresholds (0.1 / 0.25)
    * are the caller's policy.
    *
    * Shape: one map-side-combined (feature, bin) count per side — the
    * exchange carries bins × features rows, not docs — then the finish
    * joins the two histograms onto a generated (feature, bin) grid
    * (features·nBins rows, broadcast) so silent zero bins still
    * contribute their smoothed term. Everything after the two scans is
    * dimension-grained.
    *
    * @param features (name, integer bin expression evaluated on that
    *                 side's rows, bin count) — bin exprs must clamp to
    *                 [0, nBins)
    * @return (feature, psi, n_ref, n_cur), psi rounded to 6
    */
  def driftPsi(
      ref: DataFrame, cur: DataFrame,
      features: Seq[(String, Column, Int)],
  ): DataFrame = {
    def hist(df: DataFrame): DataFrame =
      df.select(explode(array(features.map { case (n, c, _) =>
          struct(lit(n).as("feature"), c.cast("int").as("bin"))
        }: _*)).as("f"))
        .select(col("f.feature").as("feature"), col("f.bin").as("bin"))
        .groupBy("feature", "bin").agg(count(lit(1)).as("c"))
    // the full (feature, bin) grid — zero bins must still contribute
    val spark = ref.sparkSession
    import spark.implicits._
    val grid = features.map { case (n, _, b) => (n, b) }.toDF("feature", "__nbins")
      .select(col("feature"), col("__nbins"),
        explode(sequence(lit(0), col("__nbins") - 1)).as("bin"))
    val joined = broadcast(grid)
      .join(hist(ref).withColumnRenamed("c", "cr"), Seq("feature", "bin"), "left")
      .join(hist(cur).withColumnRenamed("c", "cc"), Seq("feature", "bin"), "left")
      .na.fill(0L, Seq("cr", "cc"))
    val totals = joined.groupBy("feature")
      .agg(max(col("__nbins")).as("nb"),
        sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val pr = (col("cr") + 1).cast("double") / (col("nr") + col("nb")).cast("double")
    val pc = (col("cc") + 1).cast("double") / (col("nc") + col("nb")).cast("double")
    joined.join(totals, "feature")
      // per-bin terms pre-rounded to the 1e12 grid and summed as exact
      // BIGINTs — a raw double sum would be association-order-dependent
      // (the repo's standard micro-unit pattern)
      .select(col("feature"), col("nr"), col("nc"),
        round((pc - pr) * log(pc / pr) * 1e12).cast("long").as("__micro"))
      .groupBy("feature")
      .agg(round(sum(col("__micro")).cast("double") / 1e12, 6).as("psi"),
        max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"))
  }

  /** Corpus statistics card — the dataset-report aggregate every
    * pipeline run publishes: per-stratum doc counts, token totals, and
    * token-length quantiles. One map-only token count + ONE hash
    * aggregate on the stratum key; nothing touches the driver but the
    * (tiny) per-stratum result.
    *
    * @param exact true → exact `percentile` (sorts each group's values;
    *   right for reports and oracle parity). false → `percentile_approx`
    *   (t-digest sketch, map-side combined) — the 100 TB path, where an
    *   exact per-group sort of billions of doc lengths buys nothing a
    *   report needs.
    */
  def corpusStats(
      df: DataFrame, textCol: String, stratumCol: String,
      exact: Boolean = true,
  ): DataFrame = {
    val toks = df.select(col(stratumCol).as("stratum"),
      when(col(textCol).isNotNull, tokenCountWs(col(textCol)))
        .otherwise(lit(0)).cast("long").as("n_toks"))
    def pct(p: Double) =
      if (exact) expr(s"percentile(n_toks, $p)")
      else expr(s"percentile_approx(n_toks, $p, 10000)").cast("double")
    toks.groupBy("stratum").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      round(avg("n_toks"), 6).as("mean_tokens"),
      // Rounded like mean_tokens: linear interpolation x + f*(y-x) vs
      // x*(1-f) + f*y differs in the last ulp across engines, which
      // breaks exact hash-compare against a quantile_cont oracle.
      round(pct(0.5), 6).as("p50_tokens"),
      round(pct(0.9), 6).as("p90_tokens"))
  }

  /** Per-stratum vocabulary-cardinality audit via the KMV sketch
    * ([[graft.functions.KmvKMins]]): distinct-token estimate from the k
    * unsigned-smallest FNV-1a64 hashes, next to the exact distinct count
    * for error visibility (the production path at 100 TB drops
    * `n_exact` — the sketch aggregate shuffles at most k longs per
    * stratum per map task instead of every distinct hash, and shard
    * sketches merge without re-scanning; see KmvKMins for the
    * estimator).
    *
    * Both the exact count and the sketch run over the HASH (not the
    * token), so a (astronomically unlikely, but deterministic) hash
    * collision cannot put the two columns out of step. kth_hash is the
    * signed view of the k-th minimum — null until the sketch fills.
    *
    * `withExact = false` is the production plan: count_distinct in the
    * same aggregate makes Spark expand to the two-phase distinct shape
    * (partial agg keyed (stratum, h) + an exchange of EVERY distinct
    * hash) — which re-pays exactly the cost the sketch exists to avoid.
    * Without it the plan is partial-KMV → one k-bounded exchange →
    * merge (KmvPlanSpec pins this); n_exact then reports the sketch
    * estimate's integer floor is not needed — the column is null.
    */
  def kmvVocabAudit(
      df: DataFrame, strataCol: String, textCol: String,
      k: Int = 256, withExact: Boolean = true): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val toks = df.select(col(strataCol).as("stratum"),
      explode(Dedup.tokensOf(col(textCol))).as("tok"))
    val hashed = toks.select(col("stratum"),
      GraftFunctions.fnv1a64(col("tok")).as("h"))
    val two64 = 1.8446744073709552e19 // 2^64 as a double, exactly
    val exactCol =
      if (withExact) count_distinct(col("h"))
      else max(lit(null).cast("long")) // aggregate-shaped null placeholder
    val agg = hashed.groupBy("stratum").agg(
      exactCol.as("n_exact"),
      GraftFunctions.kmvKMins(col("h"), k).as("kmins"))
    val kth = element_at(col("kmins"), k)
    val kthUnsigned = kth.cast("double") +
      when(kth < 0, lit(two64)).otherwise(lit(0.0))
    val full = size(col("kmins")) >= k
    agg.select(col("stratum"), col("n_exact"),
      size(col("kmins")).cast("long").as("n_retained"),
      when(full, kth).as("kth_hash"),
      round(when(full, lit((k - 1).toDouble) * lit(two64) / kthUnsigned)
        .otherwise(size(col("kmins")).cast("double")), 2).as("est_distinct"))
  }

  /** Token-frequency audit through a Count-Min Sketch
    * ([[graft.functions.CmsSketch]]): one pass builds the depth×width
    * counter table (map-side update, elementwise-add merge, state size
    * independent of corpus), then every distinct term's point-query
    * estimate (min across sketch rows) sits next to its exact count so
    * the CMS overestimate is visible. Position hashing is the shared
    * [[BloomGate.positions]] double-hash scheme under a "#cms" salt.
    *
    * The sketch is the production artifact at 100 TB — frequency drift
    * monitoring with a fixed-size, mergeable state (shards/days union
    * by adding tables); the exact side here is the audit column, same
    * convention as [[kmvVocabAudit]]. The driver collect is the sketch
    * itself: depth·width longs, parameter-bounded.
    */
  def cmsTokenFrequencies(
      df: DataFrame, textCol: String,
      depth: Int = 3, width: Int = 32): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val toks = df.select(explode(Dedup.tokensOf(col(textCol))).as("tok"))
    def pos(i: Int) = BloomGate.positions(col("tok"), width, depth, "#cms")(i)
    val posArr = array(BloomGate.positions(col("tok"), width, depth, "#cms"): _*)
    val sketch = toks.select(posArr.as("__pos"))
      .agg(GraftFunctions.cms(col("__pos"), depth, width).as("s"))
      .head().getSeq[Long](0)
    val sketchLit = typedlit(sketch)
    val est = (0 until depth)
      .map(i => element_at(sketchLit, (lit(i * width) + pos(i)).cast("int") + 1))
      .reduce(least(_, _))
    toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .select(col("tok").as("term"), col("n_exact"), est.as("n_est"))
  }

  /** Unigram-distribution divergence between two corpora — the
    * dataset-drift card a pipeline publishes when a source changes
    * (crawl refresh, new snapshot, filtered vs unfiltered): per-term
    * probabilities with add-one smoothing over the UNION vocabulary,
    * then KL(P‖Q), KL(Q‖P), and the symmetric Jensen–Shannon
    * divergence (natural log; JS ≤ ln 2).
    *
    * Scale shape: one token-explode + count aggregate per corpus
    * (map-side combined, vocabulary-grained output), ONE full-outer
    * equi-join on term, a broadcast 1-row totals frame, and a 1-row
    * final aggregate. Nothing is doc-grained after the first
    * aggregates; driver sees one row.
    *
    * @return one row: (n_terms, kl_pq, kl_qp, js), divergences rounded
    *         to 6 decimals
    */
  def corpusDivergence(
      a: DataFrame, aTextCol: String,
      b: DataFrame, bTextCol: String,
  ): DataFrame = {
    def termCounts(df: DataFrame, textCol: String, out: String) =
      df.select(explode(Dedup.tokensOf(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as(out))
    val joined = termCounts(a, aTextCol, "ca")
      .join(termCounts(b, bTextCol, "cb"), Seq("term"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val totals = joined.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    val withP = joined.crossJoin(broadcast(totals)) // 1-row scalars
      .select(
        ((col("ca") + 1).cast("double") / (col("na") + col("v")).cast("double")).as("p"),
        ((col("cb") + 1).cast("double") / (col("nb") + col("v")).cast("double")).as("q"))
    val m = (col("p") + col("q")) / 2
    withP.agg(
      count(lit(1)).as("n_terms"),
      round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_pq"),
      round(sum(col("q") * log(col("q") / col("p"))), 6).as("kl_qp"),
      round(sum(col("p") / 2 * log(col("p") / m) +
        col("q") / 2 * log(col("q") / m)), 6).as("js"))
  }

  /** 64-bit rolling-hash document fingerprint over normalized tokens:
    * whitespace/case/punct-insensitive, order-sensitive. xxhash64 of the
    * canonicalized token stream — a stable content fingerprint for exact
    * near-canonical dedup.
    */
  def fingerprint(text: Column): Column =
    xxhash64(array_join(Dedup.rawTokens(text), " "))

  /** The canonical corpus-cleaning pipeline a training run starts with:
    * quality floor → language allowlist → near-dup removal (one
    * representative per cluster). Each stage is the operator defined
    * elsewhere in this package; composing them keeps one scan + the
    * dedup's bucketed joins as the only shuffles.
    *
    * The scored+filtered frame is cached — the dedup stage consumes it
    * twice (shingle candidates + the representative anti-join) and the
    * quality/langid columns are the most expensive expressions in the
    * pipeline; caching caps them at one evaluation per row. Same
    * construction-time eagerness contract as [[Dedup.minhashNearDups]].
    */
  def cleanCorpus(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3, languages: Set[String] = Set.empty,
      dedupThreshold: Double = 0.8,
  ): org.apache.spark.sql.DataFrame = {
    // materialize, not just persist: the dedup stage's broadcast-join
    // branches run as concurrent jobs and would otherwise race to
    // recompute the scoring expressions — the most expensive per-row
    // work in the pipeline (see OperatorCache.materialize)
    val filtered = OperatorCache.materialize(floorCorpus(df, textCol, minQuality, languages))
    Dedup.dedupNearDuplicates(filtered, idCol, textCol, dedupThreshold)
  }

  /** The floor stage of [[cleanCorpus]] WITHOUT the dedup tail: quality
    * floor + language allowlist, with the scored columns (`quality`,
    * `lang_pred`) kept. Public so the incremental-curation path
    * ([[TrainingPipeline.curateIncremental]]) can apply the same floors
    * to a delta batch and run dedup against prior state instead of
    * within the frame.
    */
  def floorCorpus(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      minQuality: Double, languages: Set[String],
  ): org.apache.spark.sql.DataFrame = {
    // quality/langid are the most expensive per-row expressions in the
    // pipeline — spread a narrow input across the cluster before paying
    // them (no-op whenever the scan is already cluster-wide)
    val scored = Parallelize.ensureWide(df)
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", languageId(col(textCol)))
      // pushdown barrier: without it the filter below is pushed under
      // the projection with the quality/langid TREES substituted into
      // the predicate — Filter codegen does no subexpression
      // elimination, so every row paid the scoring twice (measured 2.41s
      // vs 0.64s for the one-Project shape at sf0.1). A nondeterministic
      // project entry referenced by the filter blocks the push (public
      // Catalyst contract: predicates never cross a nondeterministic
      // projection), keeping the scores evaluated ONCE in the Project —
      // and unlike caching the scored corpus, dropped rows still die in
      // the same stage, nothing extra is persisted at scale.
      .withColumn("__once", monotonically_increasing_id())
    scored
      .where(col("quality") >= minQuality && col("__once") >= 0)
      .where(if (languages.isEmpty) lit(true)
        else col("lang_pred").isin(languages.toSeq: _*))
      .drop("__once")
  }

  /** Per-(doc, term) TF-IDF weights, top `topN` terms per doc.
    * tf = raw term count in the doc; idf = ln((N+1)/(df+1)) with df =
    * number of docs containing the term (the +1 smoothing keeps
    * corpus-wide terms finite). Weight is rounded to 6 decimals BEFORE
    * the per-doc ranking so the order is reproducible across engines
    * (ulp-level libm differences cannot flip ranks).
    *
    * Scale shape: one explode + two hash aggregates. The doc count and
    * per-term doc frequencies are map-side-combined aggregates; the df
    * join is term-keyed (never a crossJoin), the scalar N joins as a
    * 1-row broadcast. Ranking is a per-doc window over topN rows kept
    * by WindowGroupLimit.
    *
    * The (doc, term, tf) aggregate is cached — it feeds two branches
    * (AQE does not reliably reuse the identical stage) and is
    * vocabulary-sized, far smaller than the exploded corpus. EAGERNESS:
    * the aggregate is materialized at operator-CONSTRUCTION time (one
    * count() job) — building the returned frame runs Spark jobs even if
    * the result is never consumed, and input failures surface at
    * construction, not first action.
    */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, topN: Int = 5,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("term"))
    // ONE corpus explode: df (per-term doc frequency) derives from the
    // (doc, term) aggregate — tf rows are distinct per (doc, term), so
    // counting rows per term IS count-distinct-doc.
    // materialize: the 1-row scalar broadcast below is its own job and
    // would race the main job on computing this aggregate
    val tf = OperatorCache.materialize(
      terms.groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    // idf per TERM over the vocabulary-sized frame (1-row scalar joins
    // the small side), then ONE join of the corpus-grained tf — same
    // model-first restructure as the LM scorers
    val model = dfreq
      .crossJoin(broadcast(n)) // 1-row scalar: BroadcastNestedLoopJoin over ONE row
      .select(col("term"), col("df"),
        log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
          .as("__idf"))
    val weighted = tf.join(model, "term")
      .withColumn("weight",
        round(col("tf").cast("double") * col("__idf"), 6))
    val w = Window.partitionBy("doc")
      .orderBy(col("weight").desc, col("term").asc)
    weighted
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
      .select(col("doc"), col("term"), col("tf"), col("df"), col("weight"),
        col("rank"))
  }

  /** BM25 relevance of every doc against a bag of query terms
    * (Robertson–Spärck Jones, the standard k1/b parameterization).
    * score(d, q) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·|d|/avgdl)) with
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). Docs with no query term
    * score 0 and are omitted. Deterministic: the score is rounded to 6
    * decimals; callers sort by (score, id) if they need a stable rank.
    *
    * Scale shape: the query termset is a literal IN filter pushed into
    * the exploded stream, so tf/df aggregates touch only matching terms;
    * doc lengths are one map-side-combined aggregate; N and avgdl ride a
    * 1-row broadcast.
    *
    * The (doc, term, tf) aggregate feeding four branches is cached — see
    * tfidfTopTerms (same construction-time eagerness contract: two
    * count() jobs run when the operator is built).
    */
  def bm25(
      df: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
  ): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("term"))
    // ONE corpus pass: the (doc, term, tf) aggregate; doc length, corpus
    // stats, and query-term df all derive from it (exact — dl is an
    // integer sum).
    // materialize: the stats broadcast job races this aggregate otherwise
    val tfAll = OperatorCache.materialize(
      terms.groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    // docLen feeds the scalar stats (a broadcast job) AND the score join
    // — barrier it like the LM scorers' totals frames, or each consumer
    // re-aggregates it from the tfAll cache. No extra data pass: the
    // aggregate runs from cache either way, and it is one row per doc.
    val docLen = OperatorCache.materialize(tfAll.groupBy("doc").agg(sum("tf").as("dl")))
    val stats = docLen.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = tfAll.where(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .join(docLen, "doc")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf").cast("double") /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("doc")
      .agg(round(sum(col("contrib")), 6).as("score"),
        count(lit(1)).as("n_matched"))
  }

  /** CCNet-style language-model quality proxy: per-doc mean negative
    * log-probability of its tokens under the CORPUS unigram
    * distribution with add-one smoothing (the "perplexity filter" the
    * public corpus pipelines run with a KenLM model — the unigram form
    * needs no external model and already separates gibberish/rare-token
    * soup, which scores high, from ordinary prose, which scores low).
    *
    * Returns (doc, n_tokens, nll) with nll = avg over token occurrences
    * of −ln((count(t) + 1) / (total + V)), rounded to 6.
    *
    * Scale shape: one token explode feeding both the (doc, term) counts
    * and the global term counts; the per-term probabilities join back
    * term-keyed; scalars (total, vocab) ride a 1-row broadcast.
    *
    * The (doc, term, tf) aggregate feeding both the global distribution
    * and the per-doc scores is cached — see tfidfTopTerms (same
    * construction-time eagerness contract: two count() jobs run when
    * the operator is built; the cache is released via
    * [[OperatorCache.releaseAll]]).
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("term"))
    // materialize: the stats broadcast job races this aggregate otherwise
    val tf = OperatorCache.materialize(
      toks.groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    // termTotals feeds both the scalar stats and the score join, which
    // run as concurrent broadcast jobs — barrier it too (vocabulary-sized)
    // or each re-aggregates it from the tf cache
    val termTotals = OperatorCache.materialize(tf.groupBy("term").agg(sum("tf").as("ct")))
    val stats = termTotals.agg(sum("ct").as("total"), count(lit(1)).as("vocab"))
    // model first (term → smoothed log-prob) over the vocabulary-sized
    // frame — the log runs per TERM, not per (doc, term) row, and the
    // 1-row scalar joins the small side (same restructure as bigramNll)
    val model = termTotals
      .crossJoin(broadcast(stats)) // 1-row scalars
      .select(col("term"),
        log((col("ct") + 1).cast("double") /
          (col("total") + col("vocab")).cast("double")).as("__lp"))
    tf.join(model, "term")
      .groupBy("doc")
      .agg(sum("tf").as("n_tokens"),
        round(sum(-col("tf").cast("double") * col("__lp")) / sum("tf").cast("double"), 6)
          .as("nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3): rank
    * the corpus by LM score and split into head / middle / tail thirds —
    * CCNet trains on Wikipedia and keeps the low-perplexity "head" as
    * the highest-quality slice. Here the LM is the in-engine
    * [[unigramNll]] (self-trained, oracle-replayable); head = the
    * lowest-NLL ceil(n/3) docs under the total order (nll, doc) — the
    * doc tiebreak makes the thirds exact sets, not value-threshold
    * approximations, so the assignment is replayable regardless of ties.
    *
    * Scale shape: the scored frame is materialized once; the two bucket
    * boundaries are exact order statistics fetched with
    * orderBy+limit(k) → max(struct) — TakeOrderedAndProject, driver
    * receives ONE row per boundary — and the bucket label is then a
    * map-only struct comparison. No global sort, no rank window.
    *
    * @return (doc, n_tokens, nll, bucket) for every tokenful doc
    */
  def perplexityBuckets(
      df: DataFrame, idCol: String, textCol: String,
  ): DataFrame = {
    val scored = OperatorCache.materialize(unigramNll(df, idCol, textCol))
    val n = scored.count()
    if (n == 0L) return scored.withColumn("bucket", lit(""))
    def kth(k: Int): Row = scored
      .orderBy(col("nll").asc, col("doc").asc).limit(k)
      .agg(max(struct(col("nll"), col("doc"))).as("t"))
      .select("t.nll", "t.doc").head()
    val t1 = kth(((n + 2) / 3).toInt)
    val t2 = kth(((2 * n + 2) / 3).toInt)
    val key = struct(col("nll"), col("doc"))
    scored.withColumn("bucket",
      when(key <= struct(lit(t1.getDouble(0)), lit(t1.get(1))), "head")
        .when(key <= struct(lit(t2.getDouble(0)), lit(t2.get(1))), "middle")
        .otherwise("tail"))
  }

  /** Per-doc BIGRAM LM negative log-likelihood — one step up the
    * KenLM-style perplexity-filter ladder from [[unigramNll]]: word-salad
    * whose unigrams are all common (and so slips past the unigram score)
    * still has improbable word ADJACENCY and scores high here.
    *
    * Model, self-trained on the corpus with add-one smoothing over the
    * bigram event space: nll = avg over a doc's bigram occurrences of
    * −ln((c(w1,w2) + 1) / (c(w1·) + V)), where c(w1,w2) is the corpus
    * bigram count, c(w1·) = Σ_w2 c(w1,w2) the left-context count, and
    * V = |distinct tokens in any bigram position| — every term derives
    * from the bigram frame, so single-token docs affect nothing (they
    * have no bigrams and are omitted from the output, like < k-token
    * docs in the shingle operators).
    *
    * Returns (doc, n_bigrams, nll) rounded to 6 decimals.
    *
    * Scale shape: one token explode + the doc-keyed window (the
    * shingleRows shape at k=2), a bigram-keyed aggregate that every
    * downstream count re-aggregates from cache, two equi-joins back on
    * (w1, w2) and (w1), and 1-row scalar broadcast — no crossJoin beyond
    * the 1-row stats, no driver state.
    *
    * The (doc, w1, w2, tf) aggregate feeding the model counts and the
    * per-doc scores is cached — same construction-time eagerness
    * contract as [[unigramNll]] (two count() jobs at build: the bigram
    * aggregate and pairTotals barriers).
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc"),
      posexplode(Dedup.tokensOf(col(textCol))))
      .toDF("doc", "pos", "tok")
    val w = Window.partitionBy("doc").orderBy("pos")
    // materialize: the scalar-stats broadcast job races this aggregate
    // otherwise (same race unigramNll's tf barrier closes)
    val bg = OperatorCache.materialize(toks
      .select(col("doc"), col("tok").as("w1"), lead(col("tok"), 1).over(w).as("w2"))
      .where(col("w2").isNotNull)
      .groupBy("doc", "w1", "w2").agg(count(lit(1)).as("tf")))
    // pairTotals has THREE consumers (leftTotals, the vocab stats, and
    // the score join), at least two of which run as concurrent broadcast
    // jobs — without its own barrier each re-aggregated pairTotals from
    // the bg cache (measured 3× ~0.8s duplicate jobs at sf0.1). Unlike
    // the r7 p02 mistake this adds NO extra data pass (the aggregate
    // runs from cache either way; the count over the vocabulary-bounded
    // result is negligible) — at bench scale the duplicates overlapped
    // on idle cores so wall-clock is unchanged, but on a busy cluster
    // the duplicate CPU is real cost.
    val pairTotals = OperatorCache.materialize(bg.groupBy("w1", "w2").agg(sum("tf").as("cb")))
    val leftTotals = pairTotals.groupBy("w1").agg(sum("cb").as("cl"))
    val stats = pairTotals
      .select(explode(array(col("w1"), col("w2"))).as("t"))
      .agg(countDistinct("t").as("vocab"))
    // assemble the MODEL first — (w1, w2) → smoothed log-prob — over the
    // vocabulary-sized frames, so the doc-grained bg frame joins ONCE
    // instead of twice (each bg join is a full exchange of the big
    // frame; the model join is vocab⋈vocab). When the model fits a
    // broadcast (AQE decides), bg then keeps its doc partitioning end to
    // end and the final groupBy(doc) needs no exchange at all.
    val model = pairTotals
      .join(leftTotals, "w1")
      .crossJoin(broadcast(stats)) // 1-row scalar
      .select(col("w1"), col("w2"),
        log((col("cb") + 1).cast("double") /
          (col("cl") + col("vocab")).cast("double")).as("__lp"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc")
      .agg(sum("tf").as("n_bigrams"),
        round(sum(-col("tf").cast("double") * col("__lp")) / sum("tf").cast("double"), 6)
          .as("nll"))
  }

  /** Interpolated Kneser–Ney trigram scoring (Kneser & Ney 1995; the
    * KenLM-style model behind published perplexity filters, cf. CCNet) —
    * fixed discount D at every level, lower orders on CONTINUATION
    * counts (how many distinct contexts a gram completes), not raw
    * frequency — the property that keeps "francisco" from looking
    * probable outside "san francisco":
    *
    *   P(w3|w1w2) = max(c(w1w2w3)−D,0)/h(w1w2) + D·N1+(w1w2•)/h(w1w2) · P(w3|w2)
    *   P(w3|w2)   = max(N1+(•w2w3)−D,0)/N1+(•w2•) + D·N1+(w2•)/N1+(•w2•) · P(w3)
    *   P(w3)      = N1+(•w3) / N1+(••)
    *
    * Every count derives from the trigram-type table (h = history mass
    * Σ_w c(w1w2w), follower sets from trigram positions), so the model
    * is self-consistent and an oracle can replay it from one gram
    * aggregation. Scoring the training corpus itself means every scored
    * trigram's context is observed — no OOV branch. Docs with < 3
    * tokens have no trigrams and are absent (the p28/p33 convention).
    *
    * Scale shape (the [[bigramNll]] design): one doc-keyed window pass
    * builds trigram rows; all model frames are gram-type-grained with
    * map-side-combined aggregates; the model assembles type⋈type and
    * the doc-grained frame joins it ONCE; scalars ride a 1-row
    * broadcast. Nothing reaches the driver.
    */
  def kneserNeyTrigramNll(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(discount > 0 && discount < 1, s"discount must be in (0,1): $discount")
    val toks = df.select(col(idCol).as("doc"),
      posexplode(Dedup.tokensOf(col(textCol))))
      .toDF("doc", "pos", "tok")
    val w = Window.partitionBy("doc").orderBy("pos")
    val tg = OperatorCache.materialize(toks
      .select(col("doc"), col("tok").as("w1"),
        lead(col("tok"), 1).over(w).as("w2"),
        lead(col("tok"), 2).over(w).as("w3"))
      .where(col("w3").isNotNull)
      .groupBy("doc", "w1", "w2", "w3").agg(count(lit(1)).as("tf")))
    // trigram-type counts feed four consumers (hist, cont2, the model
    // join) — barrier them like bigramNll's pairTotals
    val tri = OperatorCache.materialize(tg.groupBy("w1", "w2", "w3").agg(sum("tf").as("c3")))
    val hist = tri.groupBy("w1", "w2")
      .agg(sum("c3").as("h"), count(lit(1)).as("n1f")) // mass + N1+(w1w2•)
    val cont2 = OperatorCache.materialize(
      tri.groupBy("w2", "w3").agg(count(lit(1)).as("n1l"))) // N1+(•w2w3)
    val mid = cont2.groupBy("w2")
      .agg(sum("n1l").as("midTot"), count(lit(1)).as("nfol2")) // N1+(•w2•), N1+(w2•)
    val unic = cont2.groupBy("w3").agg(count(lit(1)).as("n1c")) // N1+(•w3)
    val stats = cont2.agg(count(lit(1)).as("bigTypes")) // N1+(••), 1 row
    val dD = lit(discount)
    val puni = col("n1c").cast("double") / col("bigTypes").cast("double")
    val pbi = greatest(col("n1l").cast("double") - dD, lit(0.0)) /
      col("midTot").cast("double") +
      dD * col("nfol2").cast("double") / col("midTot").cast("double") * puni
    val ptri = greatest(col("c3").cast("double") - dD, lit(0.0)) /
      col("h").cast("double") +
      dD * col("n1f").cast("double") / col("h").cast("double") * pbi
    val model = tri
      .join(hist, Seq("w1", "w2"))
      .join(cont2, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(unic, Seq("w3"))
      .crossJoin(broadcast(stats)) // 1-row scalar
      .select(col("w1"), col("w2"), col("w3"), log(ptri).as("__lp"))
    tg.join(model, Seq("w1", "w2", "w3"))
      .groupBy("doc")
      .agg(sum("tf").as("n_trigrams"),
        round(sum(-col("tf").cast("double") * col("__lp")) / sum("tf").cast("double"), 6)
          .as("nll"))
  }

  /** Frequency-ranked word vocabulary over the canonical normalized
    * token stream: (term, id, count) with id = 1-based rank by
    * (count desc, term asc), capped at `maxSize`. Id 0 is reserved for
    * OOV by [[encodeTokens]].
    *
    * Scale shape: one token explode + one map-side-combined count
    * aggregate, then `orderBy.limit(maxSize)` — Catalyst plans that as
    * TakeOrderedAndProject (each partition keeps maxSize rows, the
    * driver merges), NOT a global sort; the ranking window then runs
    * over the PARAMETER-bounded result (maxSize rows, one partition by
    * construction — bounded by the argument, not the corpus).
    */
  def buildVocab(df: DataFrame, textCol: String, maxSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxSize > 0, s"maxSize must be positive: $maxSize")
    // script-aware canonical stream: CJK/Thai contribute per-codepoint
    // terms instead of vanishing under the Latin-only strip (native
    // single-pass tokenizer; emits no "" tokens)
    val counts = df.select(explode(Dedup.segTokensOf(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("term").asc)
      .limit(maxSize)
    counts.withColumn("id",
      row_number().over(Window.orderBy(col("count").desc, col("term").asc))
        .cast("int"))
  }

  /** Encode each doc's token stream against a [[buildVocab]] frame:
    * (doc, ids, n_tokens, n_oov) with ids = the in-order vocabulary ids
    * (0 for out-of-vocabulary tokens) — the word-level tokenize-to-ids
    * step before packing/batching. Docs with no tokens are omitted (the
    * shingle-operator contract).
    *
    * Scale shape: positioned token explode (one doc-keyed window for
    * dense order), a term-keyed join against the maxSize-bounded vocab
    * (broadcast-sized by construction), and one per-doc ordered
    * reassembly aggregate.
    */
  def encodeTokens(
      df: DataFrame, idCol: String, textCol: String, vocab: DataFrame,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = df.select(col(idCol).as("doc"),
      posexplode(Dedup.segTokensOf(col(textCol))))
      .toDF("doc", "rawpos", "term")
    val byRaw = Window.partitionBy("doc").orderBy("rawpos")
    val toks = raw.select(col("doc"),
      (row_number().over(byRaw) - 1).as("pos"), col("term"))
    toks
      .join(broadcast(vocab.select(col("term"), col("id"))), Seq("term"), "left")
      .select(col("doc"), col("pos"),
        coalesce(col("id"), lit(0)).cast("int").as("tid"))
      .groupBy("doc")
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
          s => s.getField("tid")).as("ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Blocklist-term screen — the NSFW/profanity/compliance filter step of
    * a corpus pipeline: count whole-word occurrences of `blocked` terms
    * per doc (case-insensitive) and keep docs with at most `maxHits`.
    * One single-pass codegen'd token scan ([[graft.functions.CountWordsIn]]
    * over the shared [[boundaryPadded]] string) — count-identical to
    * `\b(w1|…|wN)\b` over the lowered text, at a fraction of the NFA
    * alternation's per-row cost; no shuffle, pure filter.
    *
    * @return surviving rows (original columns + `n_blocked`)
    */
  def screenBlockedTerms(
      df: DataFrame, textCol: String, blocked: Seq[String],
      maxHits: Long = 0L,
  ): DataFrame = {
    require(blocked.nonEmpty, "screenBlockedTerms needs at least one blocked term")
    require(maxHits >= 0, s"maxHits must be >= 0: $maxHits")
    val hits = wordOccurrences(boundaryPadded(lower(col(textCol))),
      blocked.map(_.toLowerCase))
    df.withColumn("n_blocked", hits.cast("long"))
      .where(col("n_blocked") <= maxHits)
  }

  /** PII scrubbing patterns: deliberately simple, backreference-free
    * regexes that mean the same thing in Java regex and RE2-style
    * engines, so external oracles can replay the scrub verbatim.
    * Public, standard shapes (emails, international/US phone numbers,
    * dotted-quad IPs).
    */
  private[pipeline] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{7,14}[0-9]", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
  )

  /** Redact emails, phone numbers, and IPs from a text column — the
    * corpus-level counterpart of the reference's per-column anonymize
    * transformation (reference: transformation_manager.py anonymize,
    * emails only). Patterns apply in declaration order (emails first, so
    * the phone pattern cannot eat into a local-part's digits). Returns
    * the scrubbed text plus a per-kind match count so pipelines can
    * audit what was removed.
    *
    * Scale shape: pure per-row codegen'd expressions, no shuffle.
    */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pattern, replacement)) =>
      regexp_replace(c, pattern, replacement)
    }

  /** Per-kind PII match counts for auditing ([[scrubPii]]'s patterns,
    * counted on the same progressively-scrubbed text so the numbers
    * agree with what scrubPii replaces). */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val (counts, _) = piiPatterns.foldLeft(
      (Seq.empty[(String, Column)], text)) {
      case ((acc, current), (kind, pattern, replacement)) =>
        (acc :+ (s"n_$kind" -> regexp_count(current, lit(pattern)).cast("long")),
          regexp_replace(current, pattern, replacement))
    }
    counts
  }

  /** Per-doc repetition statistics — the token-level subset of the
    * Gopher-style repetition filters (public rules: drop docs whose most
    * frequent word / n-gram accounts for too large a fraction of the
    * text; the line-based variants need line-structured corpora).
    * Returns (doc, n_words, top_word_fraction, top_bigram_fraction);
    * docs with no bigrams report 0.
    *
    * Scale shape: one token explode + one bigram window (shingleRows),
    * each feeding (doc, gram) hash aggregates that reuse the doc
    * partitioning — map-side combined, no driver participation.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("tok"))
    // the token is only a grouping key — hash it (same envelope as the
    // bigram proxy below)
    val wordStats = toks.select(col("doc"), xxhash64(col("tok")).as("th"))
      .groupBy("doc", "th").agg(count(lit(1)).as("c"))
      .groupBy("doc")
      .agg(sum("c").as("n_words"), max("c").as("top_word"))
    // hashed bigram proxy (shingleHashRows) — the gram is only a
    // grouping key; counts survive, the bigram string never allocates
    val bigramStats = Dedup.shingleHashRows(df, idCol, textCol, 2)
      .groupBy("doc", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram"))
    wordStats.join(bigramStats, Seq("doc"), "left")
      .select(col("doc"), col("n_words"),
        round(col("top_word").cast("double") / col("n_words").cast("double"), 6)
          .as("top_word_fraction"),
        coalesce(
          round(col("top_bigram").cast("double") / col("n_bigrams").cast("double"), 6),
          lit(0.0)).as("top_bigram_fraction"))
  }

  /** Character-distribution gibberish signals: per-doc Shannon entropy
    * over the CODEPOINT histogram plus the concentration ratios the
    * published quality stacks screen on (binary blobs and base64 dumps
    * sit at the high-entropy end, "aaaa…" keyboard mash and template
    * boilerplate at the low end / high top-char end — e.g. the
    * entropy-style gates in RedPajama-v2's quality signal battery).
    *
    * Entropy uses the algebraically stable form
    * H = log2(n) − Σ c·log2(c) / n over per-char counts c — both engines
    * evaluate the identical expression tree, and c = 1 terms contribute
    * exactly 0. Codepoint semantics: Java regex split advances by code
    * point, so surrogate-paired emoji stay whole, matching DuckDB's
    * `string_split(t, '')` (pinned by a non-ASCII unit test). Docs with
    * no codepoints (null/empty text) report all-zero signals via a
    * map-only union branch — no join reintroducing them.
    *
    * Scale shape: explode → map-side-combined (doc, ch) count → doc
    * aggregate. The (doc, ch) shuffle carries pre-combined rows bounded
    * by docs × alphabet, not raw characters; nothing reaches the driver.
    *
    * `suspect` flags the screen decision on the ROUNDED signals (so the
    * oracle pins the exact keep/drop frontier): entropy below minEntropy
    * or top-char share above maxTopFrac.
    */
  def entropySignals(
      df: DataFrame, idCol: String, textCol: String,
      minEntropy: Double = 2.5, maxTopFrac: Double = 0.25): DataFrame = {
    val base = df.select(col(idCol).as("doc"),
      coalesce(col(textCol), lit("")).as("t"))
    val chars = base.where(length(col("t")) > 0)
      .select(col("doc"), explode(split(col("t"), "")).as("ch"))
    val n = sum("c")
    val stats = chars.groupBy("doc", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc")
      .agg(n.cast("long").as("n_cps"),
        count(lit(1)).as("distinct_chars"),
        round(max("c").cast("double") / n.cast("double"), 6)
          .as("top_char_frac"),
        round(
          log(2.0, n.cast("double")) -
            sum(col("c").cast("double") * log(2.0, col("c").cast("double"))) /
              n.cast("double"), 6).as("char_entropy"))
    val empties = base.where(length(col("t")) === 0)
      .select(col("doc"), lit(0L).as("n_cps"), lit(0L).as("distinct_chars"),
        lit(0.0).as("top_char_frac"), lit(0.0).as("char_entropy"))
    stats.unionByName(empties)
      .withColumn("suspect",
        col("char_entropy") < minEntropy || col("top_char_frac") > maxTopFrac)
  }

  /** The FULL Gopher repetition battery (Rae et al. 2021, Table A1),
    * extending [[repetitionStats]]' token-level subset: for each
    * n ∈ topNs the fraction of (token-normalized) characters inside the
    * most frequent n-gram (occurrences × gram length — overlapping
    * occurrences double-count, as in the published implementations, so
    * the value can exceed 1), and for each n ∈ dupNs the fraction of
    * characters COVERED by n-grams occurring more than once, counted
    * once per character (per-n covered-range union via the same
    * sort + running-max-end merge the span operators use).
    *
    * Character positions are over the canonical token-normalized text
    * (tokens joined by single spaces — same [[Dedup.rawTokens]]
    * normalization every text operator here shares), which makes every
    * fraction an exact integer ratio both engines compute identically.
    * Top-gram ties break by covered chars then lexicographically
    * (ASCII-only grams, so both engines' string orders agree).
    * Token-less docs are absent (nothing to measure — the features
    * convention). Docs shorter than n report 0 for that n.
    *
    * Scale shape: ONE doc-keyed exchange — the positioned-token frame is
    * materialized once (persist: the per-n gram branches would otherwise
    * re-sort it per window) and every window/aggregate downstream reuses
    * its partitioning; gram aggregates are map-side combined; nothing
    * reaches the driver.
    *
    * Gram identity is a 64-bit hash of the tokens' 64-bit hashes (the
    * winnowFingerprints BIGINT idiom), NOT the concatenated gram
    * string: each token is hashed ONCE, the nine lead columns carry
    * longs instead of duplicated token strings, and the per-n branches
    * combine longs — the string-allocation pressure that made GC ~45%
    * of this battery's wall time (r13 attribution) is gone. The output
    * is unchanged: every reported value depends only on (occurrence
    * count, gram char length), both computed exactly from the lengths,
    * so hash-vs-string grouping differs only under a 64-bit collision
    * (~n²/2⁶⁴ — and the DuckDB oracle, which groups by the real
    * strings, would catch one).
    *
    * @param segmented tokenize with [[Dedup.rawTokensSeg]] (CJK/Thai/
    *        Lao/Khmer/Myanmar/Tibetan segmented per codepoint and KEPT)
    *        instead of the Latin-only canonical tokenizer — a
    *        repetitive CJK doc then reports REAL top/dup-gram
    *        fractions instead of vanishing on an empty token stream
    *        (r19 VERDICT item 1; default false keeps every existing
    *        oracle byte-stable)
    * @return (doc, n_chars_norm, top_{n}_gram_frac…, dup_{n}_gram_frac…)
    */
  def gopherRepetitionStats(
      df: DataFrame, idCol: String, textCol: String,
      topNs: Seq[Int] = Seq(2, 3, 4), dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10),
      segmented: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topNs.nonEmpty && dupNs.nonEmpty, "need at least one n per family")
    val maxN = (topNs ++ dupNs).max
    val wDoc = Window.partitionBy("doc").orderBy("pos")

    val tokenize: Column => Column =
      if (segmented) Dedup.segTokensOf _ else Dedup.tokensOf _
    val toks0 = df.select(col(idCol).as("doc"),
        posexplode(tokenize(col(textCol))))
      .toDF("doc", "pos", "tok")
      .where(col("tok") =!= "")
      .withColumn("tlen", length(col("tok")).cast("long"))
      // char offset of this token in the space-joined normalized text
      .withColumn("cs", coalesce(sum(col("tlen") + 1)
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // token identity collapses to one long here; the token STRING
      // never survives past this projection
      .withColumn("th", xxhash64(col("tok")))
      .select("doc", "pos", "tlen", "cs", "th")
    // one windowed frame carries every (hash, length) lead the largest
    // n needs; the per-n branches below select from it without
    // re-sorting — all-long rows, so the persisted frame is small and
    // the window copies 8-byte values, not string bytes
    val leaded = OperatorCache.materialize((1 until maxN).foldLeft(toks0) { case (d, j) =>
      d.withColumn(s"th_$j", lead(col("th"), j).over(wDoc))
        .withColumn(s"tlen_$j", lead(col("tlen"), j).over(wDoc))
    })

    val totals = leaded.groupBy("doc")
      .agg((sum(col("tlen")) + count(lit(1)) - 1L).as("total"))

    def gramsOf(n: Int): DataFrame = {
      val hashes = col("th") +: (1 until n).map(j => col(s"th_$j"))
      val lens = col("tlen") +: (1 until n).map(j => col(s"tlen_$j"))
      leaded
        .where(if (n > 1) col(s"th_${n - 1}").isNotNull else lit(true))
        .select(col("doc"), lit(n).as("n"),
          xxhash64(hashes: _*).as("gram"),
          // |gram string| = token lengths + (n-1) joining spaces
          (lens.reduce(_ + _) + lit((n - 1).toLong)).as("glen"),
          col("cs").as("gstart"))
        .withColumn("gend", col("gstart") + col("glen"))
    }

    // top-n: chars of the single most frequent n-gram. The final
    // `gram` tie-break only pins determinism — candidates tied on both
    // count and count·glen report the SAME chars value, so hash order
    // vs string order cannot change the output
    val topFracs = topNs.map(gramsOf).reduce(_ unionByName _)
      .groupBy("doc", "n", "gram", "glen").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc", "n")
          .orderBy(col("c").desc, (col("c") * col("glen")).desc, col("gram").asc)))
      .where(col("rk") === 1)
      .select(col("doc"), col("n"), (col("c") * col("glen")).as("chars"))

    // dup-n: union length of spans of grams occurring >= 2 times
    val dupOcc = dupNs.map(gramsOf).reduce(_ unionByName _)
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy("doc", "n", "gram")))
      .where(col("cnt") >= 2)
    val wSpan = Window.partitionBy("doc", "n").orderBy("gstart", "gend")
    val dupFracs = dupOcc
      .withColumn("pm", max(col("gend"))
        .over(wSpan.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw",
        when(col("pm").isNull || col("gstart") > col("pm"), 1).otherwise(0))
      .withColumn("island", sum(col("nw"))
        .over(wSpan.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc", "n", "island")
      .agg((max(col("gend")) - min(col("gstart"))).as("span"))
      .groupBy("doc", "n").agg(sum(col("span")).as("chars"))

    def pivoted(fracs: DataFrame, ns: Seq[Int], prefix: String): DataFrame =
      fracs.groupBy("doc").pivot("n", ns.map(Integer.valueOf(_)))
        .agg(first(col("chars")))
        .select(col("doc") +: ns.map(n =>
          col(n.toString).as(s"__${prefix}_$n")): _*)

    val joined = totals
      .join(pivoted(topFracs, topNs, "top"), Seq("doc"), "left")
      .join(pivoted(dupFracs, dupNs, "dup"), Seq("doc"), "left")
    val outCols = col("doc") +: col("total").as("n_chars_norm") +:
      (topNs.map(n => round(coalesce(col(s"__top_$n"), lit(0L))
          .cast("double") / col("total").cast("double"), 6)
        .as(s"top_${n}_gram_frac")) ++
        dupNs.map(n => round(coalesce(col(s"__dup_$n"), lit(0L))
            .cast("double") / col("total").cast("double"), 6)
          .as(s"dup_${n}_gram_frac")))
    joined.select(outCols: _*)
  }

  /** C4-style LINE-level cleaning (Raffel et al. 2020 §2.2's public
    * heuristics), the line-structured complement of the doc-level
    * [[gopherQualityRules]]: a line survives iff it ends in a terminal
    * punctuation mark (after right-trim), carries at least
    * `minLineWords` whitespace words, and contains none of
    * `banLineTerms` (case-insensitive substring); a DOC survives iff it
    * keeps at least `minKeptLines` lines and its full text contains
    * none of `dropDocTerms` (the published "lorem ipsum" / curly-brace
    * page gates). Survivors are reassembled from their kept lines in
    * original order.
    *
    * Scale shape: one line explode + one doc-keyed aggregate
    * (string_agg by position) — the same two-step every line operator
    * here uses; the doc-level term gates are map-only predicates on the
    * original text, evaluated in the same aggregate's projection.
    *
    * @param segmented count line words with the script-aware
    *        [[Dedup.segSplitOf]] (a CJK/Thai line counts per codepoint
    *        instead of reading as ONE whitespace "word" and failing
    *        every word floor) and accept the CJK terminal punctuation
    *        (。！？…) alongside the Latin set — the line-level arm of
    *        the r19 "screens are CJK-blind" item; default false keeps
    *        the published-C4 behavior and every existing oracle
    *        byte-stable
    * @return (doc, text_clean, n_lines, n_lines_kept) for surviving docs
    */
  def c4CleanLines(
      df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3,
      banLineTerms: Seq[String] = Seq("javascript"),
      dropDocTerms: Seq[String] = Seq("lorem ipsum", "{"),
      minKeptLines: Int = 3,
      segmented: Boolean = false,
  ): DataFrame = {
    val lines = df.select(col(idCol).as("doc"), col(textCol).as("__text"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val words =
      if (segmented) size(Dedup.segSplitOf(col("line")))
      else size(filter(split(trim(col("line")), "\\s+"), t => t =!= ""))
    val banned = banLineTerms
      .map(t => lower(col("line")).contains(t.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    val terminal = if (segmented) "[.!?\"。！？…]$" else "[.!?\"]$"
    val keep = rtrim(col("line")).rlike(terminal) &&
      words >= minLineWords && !banned
    val docDrop = dropDocTerms
      .map(t => lower(col("__text")).contains(t.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    lines
      .withColumn("__keep", keep)
      .withColumn("__doc_drop", docDrop)
      .groupBy("doc")
      .agg(
        // collect_list skips the null the otherwise-less `when` yields
        // for dropped lines — same reassembly idiom as
        // Dedup.removeDuplicateLines
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("text_clean"),
        count(lit(1)).as("n_lines"),
        sum(col("__keep").cast("long")).as("n_lines_kept"),
        first(col("__doc_drop")).as("__drop"))
      .where(!col("__drop") && col("n_lines_kept") >= minKeptLines)
      .drop("__drop")
  }

  /** Repetition filter: keep docs under the configured repetition caps
    * (the Gopher defaults are ~0.2 for the top 2-gram fraction). */
  def filterRepetitive(
      df: DataFrame, idCol: String, textCol: String,
      maxTopWordFraction: Double = 0.3, maxTopBigramFraction: Double = 0.2,
  ): DataFrame = {
    val stats = repetitionStats(df, idCol, textCol)
      .where(col("top_word_fraction") <= maxTopWordFraction &&
        col("top_bigram_fraction") <= maxTopBigramFraction)
      .select(col("doc"))
    df.join(stats, df(idCol) === stats("doc"), "left_semi")
  }

  /** Append the full text-analysis column set to a frame. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // the full feature set is the heaviest per-row projection in this
    // module — fan a narrow scan out first (no-op on wide inputs)
    val withFeatures = qualityFeatures(t).foldLeft(Parallelize.ensureWide(df)) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    withFeatures
      .withColumn("tokens_ws", tokenCountWs(t))
      .withColumn("tokens_bpe", tokenCountBpe(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", languageId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
