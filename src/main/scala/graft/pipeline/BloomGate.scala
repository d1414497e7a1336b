package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Broadcast Bloom-filter membership gate — the incremental-ingest
  * primitive for exact dedup at corpus scale (Bloom 1970; used as the
  * "have we seen this document before" pre-filter in large crawl
  * pipelines, e.g. the CCNet/RefinedWeb-style recrawl dedup stage).
  *
  * Shape at 100 TB: the filter over yesterday's corpus is a few MB of
  * bits (`numBits/8` bytes, independent of corpus size), built once with
  * one distinct-aggregate over the seen corpus, then shipped to every
  * executor as a plan literal; the probe over today's batch is MAP-ONLY
  * — no join, no shuffle, no state. A "maybe seen" answer routes the doc
  * to the (expensive, shuffling) exact-verify path; a "definitely not
  * seen" answer — the common case on fresh data — skips it. False
  * positives are possible and deterministic (double hashing off
  * FNV-1a64); false negatives are impossible, which is what makes the
  * gate sound: nothing already ingested can slip past it.
  *
  * Everything is built from the portable FNV-1a64 hash so an external
  * oracle can replay bit placement exactly: h1 = fnv(key),
  * h2 = fnv(key || "#bloom") forced odd, position_i = (h1 + i*h2) mod m
  * (Kirsch–Mitzenmacher double hashing). All arithmetic is done on the
  * low bits (m is a power of two, and x mod 2^k depends only on inputs
  * mod 2^k), so no long overflow is possible under ANSI mode and the
  * oracle can use plain BIGINT math.
  */
object BloomGate {

  /** Version of the bit-placement scheme in [[positions]]. Bump whenever
    * the key→bit mapping changes; persisted bitmaps record the version
    * they were built with, and loaders refuse a mismatch
    * ([[TrainingPipeline.readState]]). Without the check, a stale bitmap
    * probes with mismatched positions and silently degrades to
    * near-random "maybe"s — never unsound (the seen-key confirm keeps
    * the gate exact) but an undetectable performance cliff.
    *
    * History: v1 = raw low-bit mask, appended salt (pre-r14 — weak, see
    * [[positions]]'s scaladoc); v2 = high-word fold + prepended salt.
    */
  val FormatVersion: Int = 2

  /** Canonical document key: the normalized token stream re-joined with
    * single spaces — the same lowercase/strip/split normalization every
    * other hash-based text operator uses (Dedup.rawTokens), so "same
    * document" means the same thing here as in the exact/MinHash stages.
    * Empty/whitespace-only docs key to "".
    */
  def docKey(text: Column): Column =
    array_join(Dedup.tokensOf(text), " ")

  /** 8-byte exact-seen identity: FNV-1a64 of [[docKey]] — what the
    * exact-confirm path behind a Bloom "maybe" stores and joins (8
    * bytes/doc at any corpus size; a cross-text 64-bit collision is a
    * deterministic ~n²/2⁶⁵ event, negligible next to the gate's own
    * normalization equivalence).
    */
  def docKeyHash(text: Column): Column =
    GraftFunctions.fnv1a64(docKey(text))

  // >= 2 so [[positions]] also serves small-modulus consumers (the CMS
  // width); the bitmap builders below add their own >= 64 word floor
  private def requirePow2(numBits: Int): Unit =
    require(numBits >= 2 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two >= 2, got $numBits")

  /** The k bit positions of `key` in an m-bit filter, as long columns in
    * [0, numBits). Double hashing: two FNV-1a64 evaluations serve any k
    * (Kirsch & Mitzenmacher 2006 — no loss in false-positive rate vs k
    * independent hashes). Every intermediate stays below 2^36:
    * overflow-free under ANSI, bit-identical to (h1 + i·h2) mod m.
    *
    * TWO hard-won details (r14, caught live by ScaleBench recrawl — an
    * sf0.1 corpus of 4k docs produced a false drop the theory said
    * needed 2^43 docs):
    *  - the hash FOLDS its high word into the low word before the
    *    power-of-two mask. FNV-1a's multiply never mixes high bits
    *    downward, so the raw low b bits are a weak mod-2^b hash of the
    *    byte stream with birthday collisions at ~2^(b/2) keys — real
    *    corpora hit that constantly;
    *  - the salt is PREPENDED. An appended salt continues the same FNV
    *    state, and mod-2^b state congruence survives both the XOR and
    *    the multiply — so any two keys colliding on the low bits of h1
    *    collided on h2 too, collapsing ALL k probes at once (double
    *    hashing degraded to one weak hash). Prefixing starts the h2
    *    trajectory from a different state, breaking the implication.
    */
  def positions(key: Column, numBits: Int, k: Int,
      salt: String = "#bloom"): Seq[Column] = {
    requirePow2(numBits)
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    val mask = (numBits - 1).toLong
    def folded(h: Column): Column =
      shiftrightunsigned(h, 32).bitwiseXOR(h.bitwiseAND(lit(0xFFFFFFFFL)))
    val h1 = folded(GraftFunctions.fnv1a64(key)).bitwiseAND(lit(mask))
    // forced odd => stride is coprime with the power-of-two m, so the k
    // probes of one key never collapse onto a single bucket cycle
    val h2 = folded(GraftFunctions.fnv1a64(concat(lit(salt), key)))
      .bitwiseAND(lit(mask)).bitwiseOR(lit(1L))
    (0 until k).map(i => (h1 + lit(i.toLong) * h2) % lit(numBits.toLong))
  }

  /** Build the filter bitmap from the seen corpus in ONE aggregate: the
    * [[graft.functions.BloomBits]] bitmap-OR aggregate sets bits
    * map-side and merges numBits/64-long word arrays, so the driver
    * receives exactly the finished numBits/8-byte artifact — truly
    * parameter-bounded, like the classifier weights or the DSIR bucket
    * model. (The first cut exploded positions through distinct+collect;
    * at ×50 corpus scale ScaleBench sketch showed that collect
    * growing with the position count — millions of Row objects — which
    * this aggregate eliminates.)
    */
  def build(df: DataFrame, textCol: String, numBits: Int, k: Int): Array[Long] = {
    requirePow2(numBits)
    require(numBits >= 64, s"bitmap needs numBits >= 64, got $numBits")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val posArr = array(positions(docKey(col(textCol)), numBits, k): _*)
    df.select(posArr.as("__pos"))
      .agg(GraftFunctions.bloomBits(col("__pos"), numBits).as("__bits"))
      .head().getSeq[Long](0).toArray
  }

  /** Probe: append `outCol` = "every one of the doc's k bits is set in
    * `bitmap`". The bitmap rides along as ONE array literal in the plan
    * (numBits/64 longs — broadcast to executors with the serialized
    * plan, shared across rows), and the test is a map-only conjunction
    * of getbit() lookups: no join, no shuffle, whole-stage codegen.
    */
  def probe(df: DataFrame, textCol: String, bitmap: Array[Long],
      numBits: Int, k: Int, outCol: String = "maybe_seen"): DataFrame = {
    requirePow2(numBits)
    require(numBits >= 64, s"bitmap needs numBits >= 64, got $numBits")
    require(bitmap.length == numBits / 64,
      s"bitmap has ${bitmap.length} words, expected ${numBits / 64}")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val bm = typedlit(bitmap.toSeq)
    val hit = positions(docKey(col(textCol)), numBits, k)
      .map { p =>
        val word = element_at(bm, (p / 64L).cast("int") + 1)
        call_function("getbit", word, (p % 64L).cast("int")) === 1
      }
      .reduce(_ && _)
    df.withColumn(outCol, hit)
  }

  /** End-to-end gate: build the filter over `seen`, probe `batch` with
    * it. The two frames may be arbitrary (different tables, yesterday's
    * shard vs today's); only the text column's normalization ties them.
    */
  def gate(seen: DataFrame, batch: DataFrame, textCol: String,
      numBits: Int = 1 << 18, k: Int = 4,
      outCol: String = "maybe_seen"): DataFrame =
    probe(batch, textCol, build(seen, textCol, numBits, k), numBits, k, outCol)
}
