package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer (Sennrich et al. 2016, the
  * public method every modern LM pipeline tokenizes with): train learns
  * an ordered merge list by repeatedly fusing the most frequent adjacent
  * symbol pair; encode applies the merges in rank order to each word.
  * Word-level pretokenization is the canonical SCRIPT-AWARE
  * [[Dedup.rawTokensSeg]] normalization: lowercase alnum + whitespace
  * split, with non-space-delimited scripts (Han/Hiragana/Katakana/
  * Thai/Lao) segmented per codepoint first — identical to the old
  * [[Dedup.rawTokens]] on Latin text, but on spaceless scripts a
  * "word" is one codepoint instead of an entire sentence run, so the
  * training dictionary stays bounded by the script's ALPHABET (a CJK
  * sentence-run vocabulary never converges, and the old normalization
  * deleted those scripts outright). Consequence of word-level BPE:
  * one-codepoint words carry no intra-word pairs, so CJK pieces stay
  * single codepoints (bounded and lossless — learning multi-codepoint
  * CJK units would need stream-level BPE, a different algorithm).
  * Merges never cross a word boundary (the standard word-dictionary
  * BPE formulation; no end-of-word marker).
  *
  * SCALE SHAPE — where the 100 TB work actually is:
  *  - TRAIN: the corpus-scale step is ONE map-side-combined token-count
  *    aggregate; the merge loop then runs over the (cnt, word) dictionary
  *    bounded to `maxWords` rows by TakeOrderedAndProject — driver-safe
  *    BY CONSTRUCTION (the same small-side cutover as
  *    [[Dedup.nearDupClusters]]' union-find path: iterating numMerges
  *    distributed jobs over a parameter-bounded frame would pay
  *    whole-pipeline fixed costs per merge for zero parallelism win).
  *    The trajectory is fully deterministic — pair rank is
  *    (count desc, pair asc), ASCII-binary order on both engines — so an
  *    external oracle replays the exact merge sequence (the ivfTrain
  *    contract).
  *  - ENCODE: per-word encoding is context-free, so it runs once per
  *    DISTINCT word — the merge application happens on the
  *    vocabulary-grained dictionary frame, and the corpus-scale path is
  *    a plain term-keyed equi-join (AQE broadcasts the dictionary when
  *    it fits) plus the per-doc ordered reassembly aggregate. The
  *    dictionary UDF is deliberately OFF the corpus hot path.
  */
object Bpe {

  /** An ordered BPE merge list; rank = position in `merges`. */
  final case class BpeModel(merges: Seq[(String, String)])

  /** Greedy left-to-right, non-overlapping application of ONE merge —
    * the scan BPE defines: at each position, fuse (a, b) and skip both,
    * else keep one symbol. A freshly fused symbol is never the LEFT of
    * another fuse in the same pass (the scan advances past it), which is
    * what makes the oracle's string-fold formulation (append without
    * separator when the accumulator's last piece is `a`) equivalent:
    * the fused piece `a+b` can only equal `a` if `b` were empty, and
    * symbols are never empty.
    */
  private[pipeline] def applyMerge(p: Array[String], a: String, b: String): Array[String] = {
    if (p.length < 2) return p
    val out = new mutable.ArrayBuffer[String](p.length)
    var i = 0
    while (i < p.length) {
      if (i < p.length - 1 && p(i) == a && p(i + 1) == b) { out += a + b; i += 2 }
      else { out += p(i); i += 1 }
    }
    out.toArray
  }

  /** A word's initial symbol sequence: one symbol per CODEPOINT, not
    * per UTF-16 char — a supplementary-plane ideograph (CJK Ext-B,
    * U+20000+) is ONE symbol, never a surrogate-half pair (isolated
    * surrogates are not valid strings, and DuckDB's `string_split(w,
    * '')` mirror splits by codepoint — char-splitting here learned
    * phantom surrogate merges and broke the oracle parity). Identical
    * to the per-char split on all BMP text. */
  private[pipeline] def charSymbols(word: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Encode one word: codepoint symbols, then every merge in rank
    * order. Pure and context-free — the unit the dictionary frame maps
    * over. */
  def encodeWord(word: String, model: BpeModel): Array[String] = {
    var p: Array[String] = charSymbols(word)
    model.merges.foreach { case (a, b) => p = applyMerge(p, a, b) }
    p
  }

  /** Train a BPE merge list on a corpus text column.
    *
    * One distributed token-count aggregate → the top-`maxWords`
    * dictionary (count desc, word asc — a deterministic truncation; BPE
    * trained on the head of the word distribution is standard practice
    * and the tail it drops contributes per-word counts of 1), then the
    * merge loop over the bounded dictionary: count adjacent symbol
    * pairs weighted by word count, fuse the (count desc, pair asc)
    * winner, repeat `numMerges` times or until no adjacent pair exists.
    *
    * EAGERNESS: runs the aggregate + bounded collect at call time (the
    * model is a value, not a plan — the ivfTrain contract).
    */
  def train(
      df: DataFrame, textCol: String,
      numMerges: Int, maxWords: Int = 50000,
  ): BpeModel = {
    require(numMerges >= 0, s"numMerges must be >= 0: $numMerges")
    require(maxWords > 0, s"maxWords must be positive: $maxWords")
    val words: Array[(String, Long)] = df
      .select(explode(Dedup.segTokensOf(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val pieces: Array[Array[String]] = words.map(w => charSymbols(w._1))
    val counts: Array[Long] = words.map(_._2)
    // INCREMENTAL pair-count maintenance (r22, VERDICT r21 #7): the
    // former loop recounted every word's adjacent pairs per merge —
    // O(merges × Σ|pieces|). Counts and a pair→words index are built
    // ONCE; each merge subtracts exactly the affected words' old pairs
    // and re-adds their post-merge pairs, so per-merge work is bounded
    // by the words actually CONTAINING the winning pair. The map after
    // every merge holds the identical positive counts the full recount
    // produced (exact integer adds/subtracts over the same
    // contributions), and the winner rule — (count desc, pair asc) over
    // pairs with count > 0 — is unchanged, so the merge TRAJECTORY is
    // bit-identical (BpeSpec pins it against a naive recount; the
    // p48/p111 oracles replay it end to end).
    val pairCounts = new mutable.HashMap[(String, String), Long]()
    val pairWords = new mutable.HashMap[(String, String), mutable.BitSet]()
    def addPairs(w: Int, sign: Long): Unit = {
      val p = pieces(w)
      val c = counts(w) * sign
      var j = 0
      while (j < p.length - 1) {
        val key = (p(j), p(j + 1))
        val nc = pairCounts.getOrElse(key, 0L) + c
        if (nc == 0L) pairCounts.remove(key) else pairCounts.update(key, nc)
        if (sign > 0) pairWords.getOrElseUpdate(key, new mutable.BitSet) += w
        j += 1
      }
    }
    var w0 = 0
    while (w0 < pieces.length) { addPairs(w0, 1L); w0 += 1 }
    def containsPair(p: Array[String], a: String, b: String): Boolean = {
      var j = 0
      while (j < p.length - 1) {
        if (p(j) == a && p(j + 1) == b) return true
        j += 1
      }
      false
    }
    val merges = new mutable.ArrayBuffer[(String, String)](numMerges)
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      if (pairCounts.isEmpty) exhausted = true
      else {
        val ((a, b), _) = pairCounts.minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((a, b))
        // the index may hold stale words (the pair was merged away by a
        // later fuse inside them) — the containsPair check skips those
        pairWords.get((a, b)).foreach(_.foreach { w =>
          if (containsPair(pieces(w), a, b)) {
            addPairs(w, -1L)
            pieces(w) = applyMerge(pieces(w), a, b)
            addPairs(w, 1L)
          }
        })
        i += 1
      }
    }
    BpeModel(merges.toSeq)
  }

  /** The model as a (rank, a, b) frame — the trajectory artifact a
    * training run persists (and the oracle-checkable form of train). */
  def modelFrame(spark: SparkSession, model: BpeModel): DataFrame = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "a", "b")
  }

  /** Encode every doc against a trained model: (doc, n_tokens,
    * n_pieces, pieces) with `pieces` = the doc's subword stream joined
    * by single spaces in original token order. Docs with no tokens are
    * omitted (the shingle-operator contract). Words never seen in
    * training still encode (to whatever prefix merges apply — plain
    * character symbols in the worst case); there is no OOV id at this
    * layer.
    *
    * Scale shape: dense-positioned tokens (one doc-keyed window), a
    * DISTINCT-word dictionary carrying the per-word merge application
    * (vocabulary-grained — the only place the UDF runs), one term-keyed
    * equi-join back, and the per-doc ordered reassembly aggregate.
    *
    * The token frame is cached — it feeds the dictionary distinct AND
    * the encode join (same construction-time eagerness as
    * [[Dedup.removeSharedSpans]]).
    *
    * @param wordEnd optional end-of-word marker appended to each word's
    *   LAST piece (the classic </w> convention). With a marker the
    *   pieces stream is invertible — [[decodePieces]] reconstructs the
    *   normalized token stream exactly (tokens are alnum-only, so a
    *   punctuation-bearing marker can never collide). The default ""
    *   keeps the marker-free layout.
    */
  def encode(
      df: DataFrame, idCol: String, textCol: String, model: BpeModel,
      wordEnd: String = "",
  ): DataFrame = {
    val toks = OperatorCache.materialize(
      Dedup.densePositionedTokens(df, idCol, textCol, seg = true))
    // the UDF runs per DISTINCT word; corpus rows only pay the join.
    // (A fold-expression chain would need numMerges nested interpreted
    // lambdas per row — strictly worse even on the dictionary frame.)
    val encodeUdf = udf((w: String) => encodeWord(w, model).toSeq)
    val dict = toks.select(col("tok")).distinct()
      .withColumn("__pieces", encodeUdf(col("tok")))
      .select(col("tok"),
        concat(array_join(col("__pieces"), " "), lit(wordEnd)).as("__ps"),
        size(col("__pieces")).cast("long").as("__np"))
    toks.join(dict, Seq("tok"))
      .groupBy("doc")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum("__np").as("n_pieces"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("__ps")))),
            s => s.getField("__ps")), " ").as("pieces"))
  }

  /** Invert [[encode]]'s pieces stream when it was produced with a
    * non-empty `wordEnd`: pieces themselves contain no spaces (words
    * are whitespace-split and merges never cross words), so deleting
    * the separators and turning each marker into one space is an EXACT
    * reconstruction of the normalized token stream —
    * `decodePieces(encode(x).pieces) = array_join(tokensOf(x), ' ')`,
    * the lossless-tokenizer property p111 pins against the oracle.
    * Pure codegen string expression, no model needed.
    */
  def decodePieces(pieces: org.apache.spark.sql.Column, wordEnd: String)
      : org.apache.spark.sql.Column = {
    require(wordEnd.nonEmpty,
      "decodePieces needs the non-empty wordEnd marker encode used")
    trim(regexp_replace(
      regexp_replace(pieces, " ", ""),
      java.util.regex.Pattern.quote(wordEnd), " "))
  }
}
