package graft.pipeline

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("exact dedup keeps min-id row per key group, deterministically") {
    val df = Seq((3L, "x", "b"), (1L, "x", "a"), (2L, "y", "c")).toDF("id", "k", "v")
    val out = Dedup.exact(df, Seq("k"), "id").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(("x", 1L, "a"), ("y", 2L, "c")))
  }

  test("shingles are distinct, ordered word k-grams") {
    val out = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 2).as("s"))
      .head().getSeq[String](0)
    assert(out.toSet == Set("a b", "b c", "c d"))
  }

  test("jaccard of identical and disjoint sets") {
    val df = Seq(("a b c a b", "a b c x y")).toDF("t1", "t2")
    val j = df.select(Dedup.jaccard(
      Dedup.shingles(col("t1"), 1), Dedup.shingles(col("t2"), 1)).as("j"))
      .head().getDouble(0)
    assert(j == 0.6) // {a,b,c} vs {a,b,c,x,y} → 3/5
  }

  test("minhash near-dups: identical docs found, no crossJoin in plan") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark query engines at scale"),
    ).toDF("doc_id", "text")
    val dups = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.9)
    val plan = dups.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), "must not be an all-pairs plan")
    val rows = dups.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(rows.head.getDouble(2) == 1.0)
  }

  test("simhash: identical texts share fingerprints; near-dups found by banding") {
    val d = Seq(
      (1L, "spark is a unified analytics engine for large scale data"),
      (2L, "spark is a unified analytics engine for large scale data"),
      (3L, "entirely unrelated words about cooking pasta and tomato sauce"),
    ).toDF("doc_id", "text")
    val fps = d.select(Dedup.simhash64(col("text")).as("fp")).as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
    val pairs = Dedup.simhashNearDups(d, "doc_id", "text", maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("simhash banding: ALL pairs within maxHamming are candidates (pigeonhole guarantee)") {
    // seeded fingerprints: base points plus perturbations at exactly
    // 1..maxHamming+2 flipped bits, so the corpus has true positives at
    // every distance inside the radius AND negatives just outside it
    val rnd = new scala.util.Random(42)
    val maxHamming = 5
    val fps = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var id = 0L
    for (_ <- 0 until 20) {
      val base = rnd.nextLong()
      fps += ((id, base)); id += 1
      for (flips <- 1 to maxHamming + 2) {
        val bits = rnd.shuffle((0 until 64).toList).take(flips)
        fps += ((id, bits.foldLeft(base)((v, b) => v ^ (1L << b)))); id += 1
      }
    }
    val fpDf = fps.toSeq.toDF("doc", "fp")
    val got = Dedup.simhashCandidatesFromFp(fpDf, maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      if java.lang.Long.bitCount(fa ^ fb) <= maxHamming
    } yield (ia, ib)).toSet
    assert(want.nonEmpty && want.size < fps.size * (fps.size - 1) / 2)
    assert(got == want, "banded candidates must equal the exact all-pairs answer within the radius")
  }

  test("near-dup clusters: non-convergence throws instead of returning partial labels") {
    // a 5-node chain needs >1 round of min-label propagation; maxIter=1
    // must fail loudly, not silently return a partial labeling
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    // driverMaxEdges = 0 forces the distributed loop (the driver-side
    // union-find has no iteration bound to trip)
    val e = intercept[IllegalStateException](
      Dedup.nearDupClusters(chain, maxIter = 1, driverMaxEdges = 0L))
    assert(e.getMessage.contains("did not converge"))
  }

  test("near-dup clusters: non-BMP string ids label identically across the driver cutover") {
    // U+1F600 (😀, UTF-8 F0 9F 98 80) vs U+FB00 (ﬀ, UTF-8 EF AC 80):
    // UTF-8 bytes order 😀 ABOVE ﬀ, but Java's UTF-16 compareTo puts the
    // surrogate pair (D83D DE00) BELOW FB00 — a UTF-16 driver ordering
    // would pick a different representative than Catalyst's binary min.
    // the cluster is exactly {😀, ﬀ} (plus a disjoint ASCII pair so the
    // ordering is exercised on mixed data) — any ASCII id in the same
    // cluster would be the min under BOTH orderings and hide the bug
    val nonBmp = Seq(("😀", "ﬀ"), ("aa", "bb")).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.nearDupClusters(nonBmp)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaLoop = Dedup.nearDupClusters(nonBmp, driverMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaDriver == viaLoop,
      s"cutover labels must be identical: driver $viaDriver vs loop $viaLoop")
    // the 😀/ﬀ representative is the UTF-8-binary min ﬀ (EF AC 80 < F0 9F
    // 98 80); a UTF-16 ordering would have picked 😀 (D83D DE00 < FB00)
    assert(viaDriver("😀") == "ﬀ" && viaDriver("ﬀ") == "ﬀ")
  }

  test("near-dup clusters: random unicode ids (incl. surrogates) label identically across the cutover") {
    // property sweep over ids drawn from ASCII, Latin-1, CJK, and
    // supplementary planes — every graph must label identically through
    // the driver union-find and the distributed loop
    val alphabet = Seq("a", "z", "é", "ß", "中", "文", "ﬀ", "😀", "🚀", "𝕏")
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 6) {
      val n = 3 + rnd.nextInt(6)
      val ids = Seq.fill(n)(Seq.fill(1 + rnd.nextInt(3))(
        alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
      if (ids.length >= 2) {
        val es = Seq.fill(ids.length)(
          (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
          .filter(e => e._1 != e._2)
        if (es.nonEmpty) {
          val df = es.toDF("doc_a", "doc_b")
          val d = Dedup.nearDupClusters(df)
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          val l = Dedup.nearDupClusters(df, maxIter = 32, driverMaxEdges = 0L)
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          assert(d == l, s"trial $trial (edges=$es): driver $d vs loop $l")
        }
      }
    }
  }

  test("near-dup clusters: null ids fall back to the distributed loop, not an NPE") {
    val withNull = Seq((null.asInstanceOf[String], "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.nearDupClusters(withNull)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaLoop = Dedup.nearDupClusters(withNull, driverMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaDriver == viaLoop,
      s"null-id labels must match the distributed contract: $viaDriver vs $viaLoop")
  }

  test("languageId: the 0.5 'und' sentinel wins on no-stopword, empty, and null text") {
    // pins the sentinel contract: real scores are integer hit COUNTS
    // (≥ 1 when anything matches), so the 0.5 sentinel wins exactly when
    // nothing matched — a future fractional score would break this and
    // must fail here, not silently lose to (or beat) the sentinel
    val rows = Seq(
      (1L, "zzz qqq xxyyzz glorp"), // words in no stopword list
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "the cat and the hat is on the mat"), // control: en
    ).toDF("id", "text")
    val got = rows.select(col("id"), TextAnalysis.languageId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "und", s"no-stopword text must be 'und', got ${got(1L)}")
    assert(got(2L) == "und", s"empty text must be 'und', got ${got(2L)}")
    assert(got(3L) == "und", s"null text must be 'und', got ${got(3L)}")
    assert(got(4L) == "en")
  }

  test("langIdConfusion: diagonal on matched labels, shares sum to 1 per true lang") {
    val rows = Seq(
      (1L, "en", "the cat and the hat is on the mat"),
      (2L, "en", "it was the best of times and the worst of times"),
      (3L, "es", "el perro y la casa de que un gato se fue por la calle"),
      (4L, "de", "der hund und die katze ist von dem haus mit den nicht ein"),
      (5L, "fr", "le chat et les chiens est une maison dans que pour la vie"),
      (6L, "en", "zzz qqq glorp"), // mislabeled/unidentifiable → (en, und)
    ).toDF("id", "lang", "text")
    val m = TextAnalysis.langIdConfusion(rows, "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(m(("en", "en")) == (2L, 0.666667) && m(("en", "und")) == (1L, 0.333333))
    assert(m(("es", "es"))._1 == 1L && m(("de", "de"))._1 == 1L && m(("fr", "fr"))._1 == 1L)
    // per-true-lang shares sum to 1 (6-decimal rounding tolerance)
    m.keys.map(_._1).toSeq.distinct.foreach { lang =>
      val s = m.collect { case ((l, _), (_, sh)) if l == lang => sh }.sum
      assert(math.abs(s - 1.0) < 1e-5, s"$lang shares sum to $s")
    }
  }

  test("dedupReport: cluster histogram carries (representative, size) per real cluster") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "an entirely different document about catalyst plan optimization"),
      (5L, "an entirely different document about catalyst plan optimization"),
      (6L, "a singleton with no duplicate partner anywhere in this corpus"),
    ).toDF("doc_id", "text")
    val rep = Dedup.dedupReport(d, "doc_id", "text", threshold = 0.9)
      .orderBy("label").collect().map(r => r.getLong(0) -> r.getLong(1))
    // two clusters, labeled by their min id, sized 3 and 2; the
    // singleton never appears
    assert(rep.toSeq == Seq(1L -> 3L, 4L -> 2L), s"got ${rep.toSeq}")
    OperatorCache.releaseAll(spark)
  }

  test("corpusDivergence: zero on identical corpora, bounded near ln2 when disjoint") {
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val same = TextAnalysis.corpusDivergence(a, "text", a, "text").head()
    assert(same.getDouble(1) == 0.0 && same.getDouble(2) == 0.0 &&
      same.getDouble(3) == 0.0, s"identical corpora must diverge by 0, got $same")
    // token counts large enough that add-one smoothing is negligible
    // (at ~5 tokens per corpus the smoothed mass flattens both
    // distributions and JS drops to ~0.1 even for disjoint vocab)
    val big = Seq((1L, Seq.fill(100)("alpha beta gamma delta").mkString(" ")))
      .toDF("doc_id", "text")
    val bigB = Seq((1L, Seq.fill(100)("epsilon zeta eta theta").mkString(" ")))
      .toDF("doc_id", "text")
    val far = TextAnalysis.corpusDivergence(big, "text", bigB, "text").head()
    // union vocab of 8 terms
    assert(far.getLong(0) == 8)
    // JS is bounded by ln 2 and approaches it for disjoint vocabularies
    assert(far.getDouble(3) > 0.6 && far.getDouble(3) < math.log(2.0),
      s"JS out of range: ${far.getDouble(3)}")
    assert(far.getDouble(1) > 0 && far.getDouble(2) > 0)
  }

  test("removeRepeatedSpans: keep-first within a doc; cross-doc repeats untouched") {
    val d = Seq(
      // "a b c" repeats at pos 3 → positions 3..5 cut, first stays
      (1L, "a b c a b c x y z"),
      // the same text in ANOTHER doc is untouched (within-doc operator)
      (2L, "a b c d e f g h i"),
      // no window repeats → unchanged
      (3L, "p q r s t u v w"),
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(d, "doc_id", "text", k = 3)
      .orderBy("doc").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(
      (1L, "a b c x y z"),
      (2L, "a b c d e f g h i"),
      (3L, "p q r s t u v w")))
    assert(out.map(_.getLong(3)).toSeq == Seq(3L, 0L, 0L), "dropped counts")
    // degenerate total repetition ("a a a a a a", k=3): repeats at pos
    // 1..3 cover positions 1..5, so exactly the first token survives
    val loop = Seq((9L, "a a a a a a")).toDF("doc_id", "text")
    val r = Dedup.removeRepeatedSpans(loop, "doc_id", "text", k = 3).head()
    assert(r.getString(1) == "a", s"got '${r.getString(1)}'")
    OperatorCache.releaseAll(spark)
  }

  test("fuzzyDecontaminate: near-dups of blocklist docs drop, the rest survive, no crossJoin") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of block 100
      (3L, "completely different content about spark query engines at scale"),
    ).toDF("doc_id", "text")
    val block = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
    ).toDF("doc_id", "text")
    val out = Dedup.fuzzyDecontaminate(corpus, "doc_id", "text",
      block, "doc_id", "text", threshold = 0.5)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), "must not be an all-pairs plan")
    // doc 1 is an exact copy, doc 2 a near-dup — both leak; doc 3 survives
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    OperatorCache.releaseAll(spark)
  }

  test("removeSharedSubstrings: maximal runs >= minLen cut, shorter shared runs survive") {
    val docs = Seq(
      // docs 1/2 share a 7-token prefix (> minLen, ONE maximal run even
      // though it spans three overlapping 5-windows) and a 3-token tail
      // (< minLen — must survive)
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 red blue green"),
      (2L, "alpha beta gamma delta epsilon zeta eta unique2 red blue green"),
      // docs 4/5 share TWO disjoint 5-token runs around a unique middle
      (4L, "one two three four five mid4 six seven eight nine ten"),
      (5L, "one two three four five mid5 six seven eight nine ten"),
      (6L, "totally different words live here now okay"),
    ).toDF("doc_id", "text")
    val out = Dedup.removeSharedSubstrings(docs, "doc_id", "text", minLen = 5)
      .orderBy("doc").collect()
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byDoc(1L) == (("unique1 red blue green", 4L, 7L, 1L)), s"got ${byDoc(1L)}")
    assert(byDoc(2L) == (("unique2 red blue green", 4L, 7L, 1L)))
    assert(byDoc(4L) == (("mid4", 1L, 10L, 2L)), s"got ${byDoc(4L)}")
    assert(byDoc(5L) == (("mid5", 1L, 10L, 2L)))
    assert(byDoc(6L)._4 == 0L && byDoc(6L)._3 == 0L, "untouched doc: no runs removed")
    OperatorCache.releaseAll(spark)
  }

  test("removeDuplicateLines: boilerplate lines cut exactly, order kept, short dups spared") {
    val footer = "all rights reserved by us"
    val docs = Seq(
      (1L, s"unique one content here\n$footer\nmore unique one text"),
      (2L, s"$footer\nunique two content here\nshort dup"), // dup line first
      (3L, s"unique three content here\nshort dup\n$footer"),
      (4L, "short dup\nonly doc four text here"), // "short dup" in 3 docs but < minChars
      (5L, footer), // fully boilerplate → empty text_clean
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateLines(docs, "doc_id", "text",
      minDocs = 3, minChars = 10).orderBy("doc").collect()
    val byDoc = out.map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // footer appears in 4 docs (>= minDocs, >= minChars) → removed everywhere
    assert(byDoc(1L) == (("unique one content here\nmore unique one text", 3L, 1L)),
      s"got ${byDoc(1L)}")
    assert(byDoc(2L) == (("unique two content here\nshort dup", 3L, 1L)))
    assert(byDoc(3L) == (("unique three content here\nshort dup", 3L, 1L)))
    // "short dup" (9 chars) misses the minChars floor → kept despite 3 docs
    assert(byDoc(4L) == (("short dup\nonly doc four text here", 2L, 0L)))
    assert(byDoc(5L) == (("", 1L, 1L)), "fully-boilerplate doc keeps an empty row")
    // custom separator: same semantics over " | "-delimited units
    val piped = Seq(
      (1L, "keep me alpha | the shared banner unit | tail one"),
      (2L, "the shared banner unit | keep me beta"),
      (3L, "keep me gamma | the shared banner unit"),
    ).toDF("doc_id", "text")
    val pout = Dedup.removeDuplicateLines(piped, "doc_id", "text",
      minDocs = 3, minChars = 10, lineSep = " | ").orderBy("doc").collect()
    assert(pout.map(_.getString(1)).toSeq ==
      Seq("keep me alpha | tail one", "keep me beta", "keep me gamma"))
    assert(pout.map(_.getLong(3)).toSeq == Seq(1L, 1L, 1L))
  }

  test("gopherQualityRules: each rule trips on its own pathological input") {
    val rows = Seq(
      (1L, Seq.fill(50)("word").mkString(" ")),             // passes all
      (2L, "too short by far"),                             // n_words
      (3L, Seq.fill(50)("ab").mkString(" ")),               // mean_word_len < 3
      (4L, Seq.fill(50)("supercalifragilistic").mkString(" ")), // mean len > 10
      (5L, (Seq.fill(50)("word") ++ Seq.fill(10)("#")).mkString(" ")), // symbols
      (6L, Seq.fill(50)("12345").mkString(" ")),            // alpha_frac = 0
    ).toDF("doc_id", "text")
    // stopword floor 0 so only the rule under test varies; doc 1 needs
    // no stopwords to pass
    val got = TextAnalysis.gopherQualityRules(rows, "doc_id", "text",
      minWords = 20, minStopwordHits = 0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false), s"got $got")
    // the stopword rule itself
    val stop = TextAnalysis.gopherQualityRules(rows.where(col("doc_id") === 1),
      "doc_id", "text", minWords = 20, minStopwordHits = 2)
      .head()
    assert(!stop.getBoolean(6), "50x'word' has no Gopher stopwords")
    assert(stop.getLong(5) == 0L)
  }

  test("corpusStats: exact and sketch paths agree on the fixture strata") {
    val exact = TextAnalysis.corpusStats(docs, "text", "lang")
      .orderBy("stratum").collect()
    assert(exact.map(_.getLong(1)).sum == docs.count(), "doc counts partition the corpus")
    val approx = TextAnalysis.corpusStats(docs, "text", "lang", exact = false)
      .orderBy("stratum").collect()
    // the sketch path must agree on the exact aggregates and be close on
    // quantiles (t-digest with 10k accuracy is exact at fixture scale)
    assert(approx.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      exact.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e.getDouble(4) - a.getDouble(4)) <= 1.0,
        s"p50 drifted: ${e.getDouble(4)} vs ${a.getDouble(4)}")
    }
  }

  test("corpusStats: sketch quantiles track the exact path within ±1 token at bench scale") {
    // the 100 TB path is percentile_approx; this pins its accuracy
    // against the oracle-checked exact path at the BENCH corpus
    // (sf0.1), not just the unit fixture — a t-digest accuracy
    // regression (or an accidental parameter change) shows up here
    // before it silently degrades a published dataset report
    val big = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("lang", "text")
    val exact = TextAnalysis.corpusStats(big, "text", "lang")
      .orderBy("stratum").collect()
    val approx = TextAnalysis.corpusStats(big, "text", "lang", exact = false)
      .orderBy("stratum").collect()
    assert(exact.length == approx.length && exact.nonEmpty)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getString(0) == a.getString(0))
      assert(math.abs(e.getDouble(4) - a.getDouble(4)) <= 1.0,
        s"stratum ${e.getString(0)} p50: exact ${e.getDouble(4)} vs sketch ${a.getDouble(4)}")
      assert(math.abs(e.getDouble(5) - a.getDouble(5)) <= 1.0,
        s"stratum ${e.getString(0)} p90: exact ${e.getDouble(5)} vs sketch ${a.getDouble(5)}")
    }
  }

  test("cleanCorpus scoring shape: optimized plan evaluates each language scan exactly once") {
    // pins the __once pushdown-barrier behavior: if an optimizer change
    // ever pushes the quality/langid filter through the scoring
    // projection again, the predicate gets the scoring TREES substituted
    // in and every row pays each scan twice (Filter codegen does no
    // subexpression elimination) — this fails loudly instead
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // projection over a LocalRelation into rows and leave no plan to test
    val docs = spark.range(2).select(col("id").as("doc_id"),
      when(col("id") === 0, "the cat and the hat")
        .otherwise("el gato y la casa").as("text"))
    val scored = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
      .withColumn("__once", monotonically_increasing_id())
    val filtered = scored
      .where(col("quality") >= 0.3 && col("__once") >= 0)
      .where(col("lang_pred").isin("en", "es"))
      .drop("__once")
    var scans = 0
    filtered.queryExecution.optimizedPlan.foreach(node =>
      node.expressions.foreach(_.foreach {
        case _: graft.functions.CountWordsIn => scans += 1
        case _ => ()
      }))
    // one graft_count_words_in per latin stopword list (en/es/de/fr; zh
    // uses translate-delete) — substitution would double this
    assert(scans == 4,
      s"expected exactly 4 language scans in the optimized plan, got $scans")
  }

  test("semanticDecontaminate drops embedding-space neighbors of the blocklist") {
    // block (1,0,0); corpus: an exact copy, a near copy (cos≈0.995), an
    // orthogonal vector, and an opposite one — only the first two leak
    val block = Seq((100L, Seq(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.99f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)),
      (4L, Seq(-1f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(
      corpus, "embedding", block, "embedding", threshold = 0.8)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L), s"kept ${kept.toSeq}")
  }

  test("semanticDecontaminate: double blocklists work; null/zero-norm corpus rows survive") {
    // a double-typed blocklist must behave exactly like the float one
    // (the corpus side always accepted both; the driver-side collect
    // threw ClassCastException on array<double> until r9)
    val blockD = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f)),       // contaminated
      (2L, Seq(0f, 1f, 0f)),       // orthogonal — survives
      (3L, null.asInstanceOf[Seq[Float]]), // no direction — cannot be contaminated
      (4L, Seq(0f, 0f, 0f)),       // zero norm — cannot be contaminated
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(
      corpus, "embedding", blockD, "embedding", threshold = 0.8)
      .select("vec_id").as[Long].collect().sorted
    // the doc's promise is 'surviving corpus rows, unchanged': rows the
    // screen cannot possibly match must not be silently dropped
    assert(kept.toSeq == Seq(2L, 3L, 4L), s"kept ${kept.toSeq}")
    // null entries INSIDE the blocklist screen nothing (and don't throw)
    val blockNull = Seq((100L, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.semanticDecontaminate(
      corpus, "embedding", blockNull, "embedding", threshold = 0.8)
      .count() == 4)
  }

  test("dimOf fails with a clear message on an empty or null-vector corpus") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    val e1 = intercept[IllegalArgumentException](Similarity.dimOf(empty, "vec"))
    assert(e1.getMessage.contains("empty corpus"))
    val nullVec = Seq((1L, null.asInstanceOf[Seq[Float]])).toDF("id", "vec")
    val e2 = intercept[IllegalArgumentException](Similarity.dimOf(nullVec, "vec"))
    assert(e2.getMessage.contains("null or empty"))
  }

  test("near-dup clusters: chain converges to min label; dedup keeps representatives") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    // the driver-side union-find and the distributed loop must give the
    // SAME labeling on the same edges (strings exercise the non-numeric
    // ordering too)
    val mixed = Seq(("b", "c"), ("a", "b"), ("x", "y"), ("y", "a")).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.nearDupClusters(mixed)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaLoop = Dedup.nearDupClusters(mixed, driverMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "a", "y" -> "a"))

    // property sweep: random graphs, both paths, identical labelings.
    // 20 seeded graphs of ≤16 nodes cover chains, stars, cycles, and
    // disconnected unions far beyond the handwritten cases.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 20) {
      val n = 2 + rnd.nextInt(15)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val es = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong
        (a, (a + 1 + rnd.nextInt(n - 1)) % n.toLong)
      }.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val df = es.toDF("doc_a", "doc_b")
        val d = Dedup.nearDupClusters(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val l = Dedup.nearDupClusters(df, maxIter = 32, driverMaxEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(d == l, s"trial $trial (n=$n, edges=$es): driver $d vs loop $l")
      }
    }

    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"), (2L, "aa bb cc dd ee ff gg hh"),
      (3L, "aa bb cc dd ee ff gg hh"), (4L, "totally different text about something else"),
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupNearDuplicates(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L)) // 2,3 dropped; isolated 4 kept
  }

  test("semanticDedup drops within-cell near-identicals, keeps min id, no crossJoin") {
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.999999, k = 4)
    // near-exact threshold: only true twins drop; survivors keep min ids
    val survivors = out.select("vec_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.size <= emb.count())
    val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("cartesian"), "candidate join must stay centroid-keyed")
    // a dropped doc must have a smaller-id surviving OR dropped neighbor
    // with cosine ≥ threshold in the same cell — spot-check via a loose
    // threshold where everything in a cell collapses to its min id
    val loose = Similarity.semanticDedup(emb.limit(50), "vec_id", "embedding",
      threshold = -1.0, k = 2)
    val perCell = loose.groupBy("centroid").count().as[(Int, Long)].collect()
    assert(perCell.forall(_._2 == 1), "threshold=-1 keeps exactly one doc per cell")
  }

  test("semanticDedupIncremental: batch dedups against prior cells and itself") {
    // 8-dim corpus in 3 tight direction groups: prior = ids 0-5
    // (groups 0,1,2 twice each — so prior dedup would DROP 3,4,5),
    // batch = ids 10-13 (near-dups of groups 0,1 + one fresh direction)
    def vec(g: Int, jitter: Float): Seq[Float] = {
      val v = Array.fill(8)(0f); v(g) = 1f; v(7) = jitter; v.toSeq
    }
    val prev = (0 until 6).map(i => (i.toLong, vec(i % 3, 0.001f * i)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, vec(0, 0.01f)), // near-dup of prior group 0 → dropped
      (11L, vec(1, 0.01f)), // near-dup of prior group 1 (incl. the
                            // prior-dedup-DROPPED 4) → dropped
      (12L, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)), // fresh direction → survives
      (13L, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0.01f)), // in-batch dup of 12 → dropped
    ).toDF("vec_id", "embedding")

    val index = Similarity.ivfTrain(prev, "vec_id", "embedding", k = 2)
    val priorAssigned = Similarity.ivfIndex(prev, "embedding", index)
    val out = Similarity.semanticDedupIncremental(priorAssigned, batch,
      "vec_id", "embedding", index, threshold = 0.9)
    val survivors = out.select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(12L), s"got $survivors")
    val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("cartesian"), "both drop joins must stay centroid-keyed")
    OperatorCache.releaseAll(spark)

    // cross-check against the one-shot batch operator: a full
    // semanticDedup over prev ∪ batch (same frozen cell count)
    // restricted to batch ids agrees — monotone ids make the prior-
    // representative rule and the smaller-id rule coincide
    val full = Similarity.semanticDedup(prev.union(batch), "vec_id", "embedding",
      threshold = 0.9, k = 2)
      .where(col("vec_id") >= 10L)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(full == survivors,
      s"full-run batch survivors $full must match incremental $survivors")
    OperatorCache.releaseAll(spark)
  }

  test("decontaminate removes docs overlapping the blocklist, leaves the rest") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "totally unrelated text with no benchmark overlap whatsoever here"),
    ).toDF("doc_id", "text")
    val block = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    ).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(corpus, "doc_id", "text",
      block, "doc_id", "text", shingleK = 8, minOverlap = 1)
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    // minOverlap above the shared count keeps everything
    val lax = Dedup.decontaminate(corpus, "doc_id", "text",
      block, "doc_id", "text", shingleK = 8, minOverlap = 100)
    assert(lax.count() == 3)
    // short docs (< k tokens) can never be contaminated
    val short = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(short, "doc_id", "text",
      block, "doc_id", "text", shingleK = 8).count() == 1)
  }

  test("duplicate-span fraction: shared windows counted, unique docs at 0, short docs omitted") {
    val d = Seq(
      (1L, "a b c d e f g h unique tail one"),   // shares the first 8-gram with doc 2
      (2L, "a b c d e f g h different end two"),
      (3L, "totally distinct words through the whole document here"),
      (4L, "short doc"),                          // < 8 tokens: no spans
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanFraction(d, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(4L))
    assert(out(3L)._2 == 0.0)
    assert(out(1L)._2 > 0.0 && out(1L)._2 < 1.0) // exactly one shared window of 4
    assert(out(1L)._1 == 4L) // 11 tokens → 4 windows of 8
  }

  test("unigram NLL: rare-token soup scores higher than common prose") {
    val common = "the data table row scan " * 10
    val d = Seq(
      (1L, common + "the data table row"),  // all high-frequency tokens
      (2L, common.take(0) + "zxqv jkwpt qqrraz mvbnx lorem"), // all singletons
      (3L, common),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(2L) > out(1L) && out(2L) > out(3L),
      s"gibberish must score highest: $out")
  }

  test("bigram NLL: shuffled adjacency scores higher than corpus-typical word order") {
    // same unigram distribution, different adjacency: the salad doc is
    // invisible to a unigram score but improbable bigram-by-bigram
    val docs = (1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "mat the on sat cat the")
    val scored = TextAnalysis.bigramNll(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored.size == 9)
    assert(scored(9L) > scored(1L),
      s"salad ${scored(9L)} must outscore prose ${scored(1L)}")
    // a doc with a single token has no bigrams and is omitted
    val single = TextAnalysis.bigramNll(
      Seq((1L, "hello"), (2L, "a b")).toDF("doc_id", "text"), "doc_id", "text")
      .select("doc").as[Long].collect()
    assert(single.toSeq == Seq(2L))
    OperatorCache.releaseAll(spark)
  }

  test("removeSharedSpans cuts cross-doc windows, keeps distinct remainders in order") {
    // docs 1 and 2 share an 8-token run; doc 3 is fully distinct; doc 4
    // is a verbatim copy of doc 1's shared run (fully covered)
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"intro one two $shared outro"),
      (2L, s"$shared completely different tail here"),
      (3L, "totally unrelated text with nothing shared at all"),
      (4L, shared),
    ).toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    // doc 1: the shared 8 tokens die; surrounding tokens survive in order
    assert(out(1L)._1 == "intro one two outro", s"got ${out(1L)}")
    assert(out(1L)._2 == 4 && out(1L)._3 == 8)
    // doc 2: remainder preserved
    assert(out(2L)._1 == "completely different tail here")
    // doc 3: untouched (normalized stream)
    assert(out(3L)._1 == "totally unrelated text with nothing shared at all")
    assert(out(3L)._3 == 0)
    // doc 4: fully covered -> empty, present, all tokens dropped
    assert(out(4L)._1 == "" && out(4L)._2 == 0 && out(4L)._3 == 8)
    OperatorCache.releaseAll(spark)
  }

  test("screenBlockedTerms: whole-word case-insensitive hits, threshold inclusive") {
    val docs = Seq(
      (1L, "perfectly clean text here"),
      (2L, "one BadWord appears"),
      (3L, "badword badword twice and badwords is a different word"),
      (4L, "substring notabadword does not count"),
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.screenBlockedTerms(docs, "text", Seq("badword"), maxHits = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_blocked")).toMap
    // doc 3 has 2 whole-word hits (dropped); 'badwords'/'notabadword'
    // never match; case-insensitive catches doc 2
    assert(kept == Map(1L -> 0L, 2L -> 1L, 4L -> 0L), s"got $kept")
    intercept[IllegalArgumentException](
      TextAnalysis.screenBlockedTerms(docs, "text", Seq.empty))
  }

  test("vocab build + token encoding: rank order, OOV as 0, in-order ids") {
    val docs = Seq(
      (1L, "cat dog cat bird"),
      (2L, "dog dog rare"),
      (3L, ""),
    ).toDF("doc_id", "text")
    // counts: dog 3, cat 2, bird 1, rare 1 → rank dog=1, cat=2, bird=3
    val vocab = TextAnalysis.buildVocab(docs, "text", maxSize = 3)
    val v = vocab.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(v == Map("dog" -> 1, "cat" -> 2, "bird" -> 3), s"got $v")

    val enc = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getLong(2), r.getLong(3)))).toMap
    assert(enc(1L) == ((Seq(2, 1, 2, 3), 4L, 0L)), s"got ${enc(1L)}")
    // 'rare' is rank 4, cut by maxSize → OOV id 0
    assert(enc(2L) == ((Seq(1, 1, 0), 3L, 1L)), s"got ${enc(2L)}")
    // token-less doc omitted
    assert(!enc.contains(3L))
  }

  test("PII scrub redacts emails, phones, IPs and counts them") {
    val d = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org thanks"),
      (2L, "call +1 (555) 010-0100 or 555-010-9999 today"),
      (3L, "server at 192.168.001.042 and 10.0.0.7"),
      (4L, "nothing sensitive here at all"),
    ).toDF("doc_id", "text")
    val countCols = TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    val out = d.select(
      (col("doc_id") +: TextAnalysis.scrubPii(col("text")).as("s") +: countCols): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "reach me at <EMAIL> thanks" && out(1L)._2 == 1)
    assert(out(2L)._1 == "call <PHONE> or <PHONE> today" && out(2L)._3 == 2)
    assert(out(3L)._1 == "server at <IP> and <IP>" && out(3L)._4 == 2)
    assert(out(4L) == (("nothing sensitive here at all", 0L, 0L, 0L)))
  }

  test("repetition stats: degenerate repeats flagged, varied text passes the filter") {
    val d = Seq(
      (1L, "spam spam spam spam spam"),              // top word = 1.0
      (2L, "a b a b a b a b"),                       // top bigram ("a b") high
      (3L, "many different words in this sentence"), // varied
      (4L, "solo"),                                  // single word: no bigrams
    ).toDF("doc_id", "text")
    val stats = TextAnalysis.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(stats(1L)._1 == 1.0 && stats(1L)._2 == 1.0)
    assert(stats(2L)._2 > 0.5)     // "a b" dominates the bigrams
    assert(stats(3L)._1 < 0.2)
    assert(stats(4L) == (1.0, 0.0)) // no bigrams → 0
    val kept = TextAnalysis.filterRepetitive(d, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L)) // doc 4's top-word fraction 1.0 also fails the cap
  }

  test("gopher repetition battery: hand-computed fractions, overlap union, short-doc zeros") {
    val d = Seq(
      // tokens [a,a,a,b], normalized "a a a b" = 7 chars.
      // top-2: "a a"×2 (starts 0,2; overlapping occurrences DO
      // double-count chars) → 2·3/7; top-3 tie "a a a"/"a a b" breaks
      // lexicographically → 5/7; top-4 is the whole text → 1.0; no
      // 5-gram exists → dup_5..10 = 0
      (1L, "a a a b"),
      // tokens a b c d e x a b c d e: the ONLY repeated 5-gram is
      // "a b c d e" at chars 0 and 12 → disjoint spans 9+9=18 of 21
      // (a fully periodic text would union to 1.0 via the rotations)
      (2L, "a b c d e x a b c d e"),
      // seven a's: "a a a a a" at 0,2,4 → OVERLAPPING spans union to
      // the whole 13-char text, counted once → exactly 1.0
      (3L, "a a a a a a a"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 7L)
    assert(got(1L).getDouble(2) == math.rint(2.0 * 3 / 7 * 1e6) / 1e6) // top_2
    assert(got(1L).getDouble(3) == math.rint(5.0 / 7 * 1e6) / 1e6)     // top_3
    assert(got(1L).getDouble(4) == 1.0)                                // top_4
    (5 to 10).zipWithIndex.foreach { case (_, i) =>
      assert(got(1L).getDouble(5 + i) == 0.0) }
    assert(got(2L).getLong(1) == 21L)
    assert(got(2L).getDouble(5) == math.rint(18.0 / 21 * 1e6) / 1e6)   // dup_5
    assert(got(3L).getLong(1) == 13L)
    assert(got(3L).getDouble(5) == 1.0)                                // dup_5 union
    OperatorCache.releaseAll(spark)
  }

  test("perplexity buckets: exact thirds; common-vocab docs head, rare-vocab tail") {
    val d = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat sat on the rug"),
      (4L, "zyx qwv jkl pqr mno abc"),
      (5L, "uvw rst hgf dcb aaa bbb"),
      (6L, "zzz yyy xxx www vvv uuu"),
      (7L, "the cat and the dog sat"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBuckets(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got.values.count(_ == "head") == 3)   // ceil(7/3)
    assert(got.values.count(_ == "middle") == 2)
    assert(got.values.count(_ == "tail") == 2)
    // the shared-vocabulary docs must outrank the unique-token salad
    assert(Set(4L, 5L, 6L).count(id => got(id) == "tail") == 2,
      s"rare-vocab docs should fill the tail: $got")
    assert(Set(1L, 2L, 3L, 7L).forall(id => got(id) != "tail"))
    OperatorCache.releaseAll(spark)
  }

  test("c4 line rules: each predicate trips independently; doc gates drop whole pages") {
    val d = Seq(
      // every line individually exercises one rule
      (1L, "this line ends properly.\nno terminal punctuation here\n" +
        "short.\nthis javascript line is banned.\nanother good line stays!"),
      (2L, "lorem ipsum dolor sit amet.\nthis line ends properly.\n" +
        "another good line stays!"),                  // doc gate: lorem ipsum
      (3L, "has a { brace.\nthis line ends properly.\n" +
        "another good line stays!"),                  // doc gate: curly brace
      (4L, "only one keepable line here.\nand nothing else"), // below minKeptLines
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4CleanLines(d, "doc_id", "text", minKeptLines = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L))
    val (clean, nLines, nKept) = got(1L)
    assert(clean == "this line ends properly.\nanother good line stays!")
    assert(nLines == 5L && nKept == 2L)
  }

  test("tfidf: corpus-wide terms weigh ~0, rare terms rank first") {
    val d = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2 rare2"),
      (3L, "common filler words"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(d, "doc_id", "text", topN = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(5)))
    // 'common' appears in all docs → idf = ln(4/4) = 0 → never rank 1
    val rank1 = out.filter(_._3 == 1).map(_._2).toSet
    assert(rank1 == Set("rare1", "rare2", "filler") || !rank1.contains("common"))
    assert(out.forall { case (_, t, r) => t != "common" || r > 1 })
  }

  test("bm25: docs with more query-term mass score higher; non-matching docs absent") {
    val d = Seq(
      (1L, "join join join vector scan scan"),
      (2L, "join scan scan scan scan scan"),
      (3L, "nothing relevant here at all"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(d, "doc_id", "text", Seq("join", "vector"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(3L), "doc without query terms is omitted")
    assert(out(1L) > out(2L), "3×join + vector must beat 1×join")
    assert(out.values.forall(_ > 0))
  }

  test("cosine similarity: orthogonal, identical, opposite") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f)), (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(out.toSeq == Seq(0.0, 1.0, -1.0))
  }

  test("brute-force top-k is exact and self-ranked first") {
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    assert(top.map(_.getDouble(1)).toSeq.reverse.sorted.reverse == top.map(_.getDouble(1)).toSeq)
  }

  test("LSH ANN recalls the exact top-1 neighbor (multi-probe)") {
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 2)
      .collect().map(_.getLong(0))
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", q, 5, planes = 6)
      .collect().map(_.getLong(0))
    assert(ann.contains(exact.head)) // self always bucket-matches
  }

  test("IVF: self found in probed cells; high recall vs exact top-5") {
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val index = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    assert(index.centroids.length <= 4 && index.centroids.nonEmpty)
    assert(index.centroids.forall(_._2.length == 64))
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", index, q,
      k = 5, nprobe = 4) // nprobe = k cells → exhaustive → exact
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
    assert(ivf.collect().map(_.getLong(0)).toSeq ==
      exact.collect().map(_.getLong(0)).toSeq)
  }

  test("IVF training with k=5000 centroids completes (plan size O(1) in k)") {
    // the centroid table is a single typedlit Literal, not k expression
    // columns — at k=5000 the old greatest()-over-literals formulation
    // exceeded codegen limits; this must plan and run
    val index = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 5000, iters = 1)
    assert(index.centroids.nonEmpty)
    val tagged = Similarity.ivfIndex(emb, "embedding", index)
    assert(tagged.where(col("centroid").isNull).count() == 0)
    val ids = index.centroids.map(_._1).toSet
    assert(tagged.select("centroid").distinct().collect()
      .forall(r => ids.contains(r.getInt(0))))
  }

  test("SQ8 quantized ANN recalls the exact top-k with high overlap") {
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val sq8 = Similarity.sq8TopK(emb, "vec_id", "embedding", q, k = 5)
      .select("vec_id").as[Long].collect().toSet
    // int8 quantization at 64 dims preserves ordering almost perfectly;
    // after exact rescoring the top-5 should overlap ≥ 4/5
    assert((exact intersect sq8).size >= 4, s"exact=$exact sq8=$sq8")
    // quantized vectors are genuine int8 steps
    val qv = Similarity.quantizeSq8(emb.limit(5), "embedding")
      .select("qvec").as[Seq[Int]].collect()
    assert(qv.forall(_.forall(x => x >= -127 && x <= 127)))
  }

  test("cleanCorpus filters on quality+language and drops near-dups") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then rests a while"),
      (2L, "the quick brown fox jumps over the lazy dog and then rests a while"),
      (3L, "el perro y el gato en la casa de la abuela por la tarde"),
      (4L, "x"),
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.cleanCorpus(d, "doc_id", "text",
      minQuality = 0.2, languages = Set("en"), dedupThreshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    // 2 = near-dup of 1, 3 = wrong language, 4 = too short/low quality
    assert(kept.toSeq == Seq(1L))
  }

  test("annJoin: each query gets ≤k ranked neighbors, no crossJoin") {
    val joined = Similarity.annJoin(
      emb.where(col("vec_id") < 5), emb.where(col("vec_id") >= 5),
      "vec_id", "vec_id", "embedding", k = 3, planes = 3)
    assert(!joined.queryExecution.optimizedPlan.toString.toLowerCase.contains("cartesian"))
    val counts = joined.groupBy("query_id").count().collect()
    assert(counts.forall(_.getLong(1) <= 3))
  }

  test("text analysis: token counts, quality bounds, langid, fingerprint stability") {
    val df = Seq(
      "The quick brown fox, and the lazy dog!",
      "el perro y el gato en la casa de la abuela",
    ).toDF("text")
    val out = TextAnalysis.analyze(df, "text").collect()
    val en = out(0); val es = out(1)
    assert(en.getAs[Int]("tokens_ws") == 8)
    assert(en.getAs[Long]("n_words") == 8)
    val q = en.getAs[Double]("quality")
    assert(q >= 0.0 && q <= 1.0)
    assert(en.getAs[String]("lang_pred") == "en")
    assert(es.getAs[String]("lang_pred") == "es")
    // fingerprint is punctuation/case-insensitive
    val fp = Seq("Hello, World!", "hello world").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fp(0) == fp(1))
  }


  test("incremental band index: batch probes find corpus near-dups without recompute") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark physical planning"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (11L, "nothing like anything in the corpus whatsoever at all"),
    ).toDF("doc_id", "text")
    val index = Dedup.bandIndex(corpus, "doc_id", "text", shingleK = 2)
    val cands = Dedup.incrementalCandidates(index, batch, "doc_id", "text", shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 10L)))
    assert(!cands.exists(_._2 == 11L))
    // same-parameter full candidates agree with the incremental probe
    val full = Dedup.minhashCandidates(
      corpus.union(batch), "doc_id", "text", shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((1L, 10L)))
  }

  test("empty and degenerate corpora: no rows, all-punct docs, single doc") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(empty, "doc_id", "text").count() == 0)
    val punct = Seq((1L, "!!! ... ???"), (2L, "abc def ghi jkl")).toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(punct, "doc_id", "text",
      threshold = 0.1, shingleK = 2).count() == 0)
    assert(Dedup.simhashNearDups(punct, "doc_id", "text", maxHamming = 63).count() <= 1)
    // radius 64+ cannot be banded with guaranteed recall — must throw
    intercept[IllegalArgumentException](
      Dedup.simhashNearDups(punct, "doc_id", "text", maxHamming = 64).count())
    val single = Seq((1L, "just one document here")).toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(single, "doc_id", "text").count() == 0)
  }


  test("partition-pruned ANN serving: probeIndexed scans only probe buckets") {
    val path = "/root/repo/target/graft-tmp/ann-index"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val served = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4)
    // identical parameters → identical results as the in-memory path
    val direct = Similarity.annTopK(emb, "vec_id", "embedding", q, k = 5, planes = 4)
    assert(served.collect().map(_.getLong(0)).toSeq ==
      direct.collect().map(_.getLong(0)).toSeq)
    // the scan must be partition-pruned: bucket appears as a partition
    // filter, not a data filter over the whole index
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"expected pruned scan, got:\n${plan.take(600)}")
  }

  test("tombstones store a fixed id column: mixed deleter spellings still filter") {
    // r16 ADVICE: _tombstones used to land under whatever idCol each
    // deleteFromIndex caller passed — two spellings produced
    // mixed-schema files (spark.read picks one), and a probe whose
    // idCol differed from the deleter's silently failed to filter
    val path = "/root/repo/target/graft-tmp/ann-tomb-mixed"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    def probe() = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).collect().map(_.getLong(0)).toSeq
    val before = probe()
    Similarity.deleteFromIndex(
      Seq(Tuple1(before.head)).toDF("vec_id"), "vec_id", path)
    Similarity.deleteFromIndex(
      Seq(Tuple1(before(1))).toDF("id"), "id", path) // different spelling
    val after = probe()
    assert(!after.contains(before.head) && !after.contains(before(1)),
      s"both deletes must filter regardless of spelling: $after")
    // the on-disk set is one uniform schema, no matter the spellings
    assert(spark.read.parquet(s"$path/_tombstones")
      .columns.toSeq.sorted == Seq("cutoff", "doc"))
    Similarity.compactIndex(spark, path, "vec_id")
    assert(probe() == after, "compaction folds both spellings' deletes")
    assert(spark.read.parquet(path)
      .where(col("vec_id").isin(before.head, before(1))).count() == 0)
    OperatorCache.releaseAll(spark)
  }

  test("mixed-era _tombstones files all filter: legacy idCol and pre-gen schemas merge") {
    // r17 ADVICE: a dir holding pre-fix files (id under the deleter's
    // own idCol) beside new ones (id under 'doc') read without
    // mergeSchema picked ONE file's schema — the other files' id
    // column surfaced as null and those deletes silently stopped
    // filtering (and compact folded them back in)
    val path = "/root/repo/target/graft-tmp/ann-tomb-era"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    def probe() = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).collect().map(_.getLong(0)).toSeq
    val before = probe()
    // legacy r16-era file: id under the deleter's idCol, cutoff present
    Seq(Tuple1(before.head)).toDF("vec_id").withColumn("cutoff", lit(0L))
      .write.mode("append").parquet(s"$path/_tombstones")
    // pre-generation-era file: bare id column, no cutoff at all —
    // merged beside cutoff files its null cutoff means UNCONDITIONAL
    Seq(Tuple1(before(1))).toDF("id")
      .write.mode("append").parquet(s"$path/_tombstones")
    // current-era delete through the API (lands under 'doc' + cutoff)
    Similarity.deleteFromIndex(
      Seq(Tuple1(before(2))).toDF("vec_id"), "vec_id", path)
    val after = probe()
    assert(Seq(before.head, before(1), before(2))
      .forall(id => !after.contains(id)),
      s"every era's tombstones must filter, got $after")
    Similarity.compactIndex(spark, path, "vec_id")
    assert(probe() == after, "compaction folds every era's deletes")
    assert(spark.read.parquet(path)
      .where(col("vec_id").isin(before.head, before(1), before(2)))
      .count() == 0)
    OperatorCache.releaseAll(spark)
  }

  test("ANN delete ids that don't cast to the stored key type fail fast, not poison") {
    // an uncast string id in a long-keyed layout's _tombstones fails
    // every later probe's cast, and a valid delete after it leaves two
    // `doc` types no mergeSchema read can join
    val path = "target/graft-tmp/ann-tomb-badkey"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    def probe() = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).collect().map(_.getLong(0)).toSeq
    val before = probe()
    val e = intercept[IllegalArgumentException](
      Similarity.deleteFromIndex(Seq(Tuple1("not-an-id")).toDF("vec_id"), "vec_id", path))
    assert(e.getMessage.contains("not-an-id") && e.getMessage.contains("stored key type"),
      e.getMessage)
    assert(probe() == before, "a refused delete must leave serving untouched")
    // a numeric id given as a string casts and deletes; the set stays one schema
    Similarity.deleteFromIndex(
      Seq(Tuple1(before.head.toString)).toDF("vec_id"), "vec_id", path)
    assert(!probe().contains(before.head))
    assert(spark.read.parquet(s"$path/_tombstones").schema("doc").dataType ==
      spark.read.parquet(path).schema("vec_id").dataType)
    Similarity.compactIndex(spark, path, "vec_id")
    assert(!probe().contains(before.head))
  }

  test("index lifecycle: tombstones hide ids immediately, compact folds and clears") {
    val path = "/root/repo/target/graft-tmp/ann-index-lifecycle"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    def probe() = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).collect().map(_.getLong(0)).toSeq
    val before = probe()
    val victim = before.head

    // delete is visible at the NEXT probe — no rewrite happened
    Similarity.deleteFromIndex(Seq(Tuple1(victim)).toDF("vec_id"), "vec_id", path)
    val after = probe()
    assert(!after.contains(victim), s"deleted id served: $after")
    assert(after.take(4) == before.filterNot(_ == victim).take(4),
      "the survivors keep their order")
    // the bytes are still in the layout — deletion is a tombstone
    assert(spark.read.parquet(path).where(col("vec_id") === victim).count() == 1)

    // re-deleting is idempotent; compaction folds + clears + preserves
    Similarity.deleteFromIndex(Seq(Tuple1(victim)).toDF("vec_id"), "vec_id", path)
    Similarity.compactIndex(spark, path, "vec_id")
    assert(probe() == after, "compaction must not change probe results")
    assert(!new java.io.File(s"$path/_tombstones").exists(),
      "compaction clears the tombstone set")
    assert(spark.read.parquet(path).where(col("vec_id") === victim).count() == 0,
      "compaction is the erasure point")
    // the partition scheme survived the rewrite: probes still prune
    val plan = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"compacted layout must stay partition-pruned:\n${plan.take(600)}")

    // the same lifecycle over the IVF-PQ serving layout
    val p2 = "/root/repo/target/graft-tmp/ann-ivfpq-lifecycle"
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 2, k = 4)
    Similarity.writeIvfPq(emb, "embedding", p2, coarse, books)
    def probe2() = Similarity.probeIvfPq(spark, p2, "vec_id", "embedding",
      coarse, books, q, k = 5, nprobe = 2).collect().map(_.getLong(0)).toSeq
    val b2 = probe2()
    Similarity.deleteFromIndex(Seq(Tuple1(b2.head)).toDF("vec_id"), "vec_id", p2)
    assert(!probe2().contains(b2.head))
    Similarity.compactIndex(spark, p2, "vec_id")
    assert(!probe2().contains(b2.head))
    assert(spark.read.parquet(p2).where(col("vec_id") === b2.head).count() == 0)
    OperatorCache.releaseAll(spark)
  }

  test("index UPDATE: delete+append under cutoff tombstones re-ranks, never shadows") {
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    // LSH layout: re-embed a mid-ranked id to the query vector itself —
    // it must move to the top (cosine 1.0), appear exactly once, and a
    // brand-new id must upsert through the same call
    val path = "/root/repo/target/graft-tmp/ann-index-update"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    def probe() = Similarity.probeIndexed(spark, path, "vec_id", "embedding",
      q, k = 5, planes = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val victim = probe().last._1
    val newId = 999999L
    Similarity.updateIndexed(
      Seq((victim, q), (newId, q)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, planes = 4)
    val after = probe()
    // both updated rows serve at cosine 1.0 (with id 0, whose vector q is)
    assert(after.take(3).map(_._1).toSet == Set(0L, victim, newId) &&
      after.take(3).forall(_._2 == 1.0), s"update not served: $after")
    assert(after.map(_._1).count(_ == victim) == 1, "updated id must not duplicate")
    // the tombstone that retired the old version did NOT shadow the new
    // one, and compaction erases exactly the superseded row
    Similarity.compactIndex(spark, path, "vec_id")
    assert(probe() == after, "compaction changed the served ranking")
    assert(spark.read.parquet(path).where(col("vec_id") === victim).count() == 1)
    // a replayed UPDATE converges (one live version, same serving)
    Similarity.updateIndexed(Seq((victim, q)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, planes = 4)
    assert(probe() == after, "update replay changed the served ranking")

    // IVF-PQ layout: same composition through the encoded path
    val p2 = "/root/repo/target/graft-tmp/ann-ivfpq-update"
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 2, k = 4)
    Similarity.writeIvfPq(emb, "embedding", p2, coarse, books)
    def probe2() = Similarity.probeIvfPq(spark, p2, "vec_id", "embedding",
      coarse, books, q, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val victim2 = probe2().last._1
    Similarity.updateIvfPq(Seq((victim2, q)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p2, coarse, books)
    val after2 = probe2()
    assert(after2.count(_._1 == victim2) == 1 &&
      after2.find(_._1 == victim2).exists(_._2 == 1.0),
      s"ivfpq update not served at cosine 1.0 exactly once: $after2")
    Similarity.compactIndex(spark, p2, "vec_id")
    assert(probe2() == after2)

    // residual layout: append + update exist with the same contract
    val p3 = "/root/repo/target/graft-tmp/ann-ivfpqr-update"
    val booksR = Similarity.trainPqResidual(emb, "vec_id", "embedding", coarse,
      m = 2, k = 4)
    Similarity.writeIvfPqResidual(emb, "embedding", p3, coarse, booksR)
    def probe3() = Similarity.probeIvfPqResidual(spark, p3, "vec_id",
      "embedding", coarse, booksR, q, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val victim3 = probe3().last._1
    Similarity.updateIvfPqResidual(Seq((victim3, q)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p3, coarse, booksR)
    val after3 = probe3()
    assert(after3.count(_._1 == victim3) == 1 &&
      after3.find(_._1 == victim3).exists(_._2 == 1.0),
      s"residual update not served at cosine 1.0 exactly once: $after3")
    OperatorCache.releaseAll(spark)
  }

  test("ANN layout guards: appends with drifted params or artifacts fail fast") {
    val path = "/root/repo/target/graft-tmp/ann-guard-lsh"
    Similarity.writeIndexed(emb, "embedding", path, planes = 4)
    val batch = emb.limit(3).select((col("vec_id") + 500000L).as("vec_id"),
      col("embedding"))
    // wrong planes or seed → refuse (a mixed-parameter index serves garbage)
    val e1 = intercept[IllegalArgumentException](
      Similarity.appendIndexed(batch, "embedding", path, planes = 6))
    assert(e1.getMessage.contains("planes"), e1.getMessage)
    intercept[IllegalArgumentException](
      Similarity.appendIndexed(batch, "embedding", path, planes = 4, seed = 7L))
    // matching parameters append fine — including across a compaction
    Similarity.appendIndexed(batch, "embedding", path, planes = 4)
    Similarity.compactIndex(spark, path, "vec_id")
    intercept[IllegalArgumentException](
      Similarity.appendIndexed(batch, "embedding", path, planes = 6))
    Similarity.appendIndexed(batch, "embedding", path, planes = 4)

    val p2 = "/root/repo/target/graft-tmp/ann-guard-ivfpq"
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 2, k = 4)
    Similarity.writeIvfPq(emb, "embedding", p2, coarse, books)
    // a DIFFERENT trained model (other cell count) must be refused
    val coarseOther = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 3)
    val e2 = intercept[IllegalArgumentException](
      Similarity.appendIvfPq(batch, "embedding", p2, coarseOther, books))
    assert(e2.getMessage.contains("model"), e2.getMessage)
    // the probe enforces the same contract (wrong artifacts would rank
    // stored codes against the wrong codebooks — wrong results, quietly)
    val q0 = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    intercept[IllegalArgumentException](
      Similarity.probeIvfPq(spark, p2, "vec_id", "embedding",
        coarseOther, books, q0, k = 3))
    Similarity.appendIvfPq(batch, "embedding", p2, coarse, books)
    Similarity.compactIndex(spark, p2, "vec_id")
    intercept[IllegalArgumentException](
      Similarity.appendIvfPq(batch, "embedding", p2, coarseOther, books))
    Similarity.appendIvfPq(batch, "embedding", p2, coarse, books)
    // rebuild re-fingerprints: the OLD artifacts are refused afterwards
    val (coarse2, books2) = Similarity.rebuildIvfPq(spark, p2,
      "vec_id", "embedding", k = 4, m = 2, kBook = 4)
    intercept[IllegalArgumentException](
      Similarity.appendIvfPq(batch, "embedding", p2, coarse, books))
    Similarity.appendIvfPq(
      batch.select((col("vec_id") + 500000L).as("vec_id"), col("embedding")),
      "embedding", p2, coarse2, books2)
    OperatorCache.releaseAll(spark)
  }

  test("drift retrain: rebuildIvfPq / rebuildDedupState retrain from live rows") {
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val path = "/root/repo/target/graft-tmp/ann-ivfpq-rebuild"
    val coarse0 = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4)
    val books0 = Similarity.trainPq(emb, "vec_id", "embedding", m = 2, k = 4)
    Similarity.writeIvfPq(emb, "embedding", path, coarse0, books0)
    // accumulate lifecycle noise: a delete and an append
    val victim = emb.where(col("vec_id") === 7).select("vec_id")
    Similarity.deleteFromIndex(victim, "vec_id", path)
    Similarity.appendIvfPq(
      emb.where(col("vec_id").between(1, 5))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      "embedding", path, coarse0, books0)

    val (coarse1, books1) = Similarity.rebuildIvfPq(spark, path,
      "vec_id", "embedding", k = 4, m = 2, kBook = 4)
    // the fold happened: victim erased, generations reset, counter at 0
    val layout = spark.read.parquet(path)
    assert(layout.where(col("vec_id") === 7L).count() == 0)
    assert(layout.select("gen").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    def maxGen = LayoutFiles.descriptor(spark, path, "Similarity.writeIvfPq").maxGen
    assert(maxGen == 0L)
    // the layout probes exactly like the in-memory path over the SAME
    // live rows with the SAME fresh artifacts (model travels with index)
    val live = layout.select("vec_id", "embedding")
    val served = Similarity.probeIvfPq(spark, path, "vec_id", "embedding",
      coarse1, books1, q, k = 5, nprobe = 2).collect().map(_.getLong(0)).toSeq
    val direct = Similarity.ivfPqTopK(live, "vec_id", "embedding",
      coarse1, books1, q, k = 5, nprobe = 2).collect().map(_.getLong(0)).toSeq
    assert(served == direct, s"rebuilt layout $served vs in-memory $direct")
    // and the lifecycle keeps working on the rebuilt layout
    Similarity.appendIvfPq(
      emb.where(col("vec_id") === 11).select(
        (col("vec_id") + 200000L).as("vec_id"), col("embedding")),
      "embedding", path, coarse1, books1)
    assert(maxGen == 1L)
    OperatorCache.releaseAll(spark)

    // the dedup-state sibling: retrain folds the retraction permanently
    // and preserves the stored params
    def vec8(g: Int): Seq[Float] = {
      val v = Array.fill(8)(0f); v(g) = 1f; v.toSeq
    }
    val sdir = "/root/repo/target/graft-tmp/semstate-rebuild"
    val prev = Seq((1L, vec8(0)), (2L, vec8(1)), (3L, vec8(2)))
      .toDF("vec_id", "embedding")
    Similarity.writeDedupState(prev, "vec_id", "embedding", sdir,
      threshold = 0.9, k = 2)
    Similarity.deleteFromDedupState(spark, sdir, Seq(2L).toDF("vec_id"), "vec_id")
    Similarity.rebuildDedupState(spark, sdir, k = 2)
    assert(spark.read.parquet(s"$sdir/assigned").count() == 2L,
      "rebuild must fold the retraction")
    val p = LayoutFiles.descriptor(spark, sdir, "Similarity.writeDedupState")
    assert(p.param("threshold").asDouble == 0.9 && p.param("id_col").asText == "vec_id")
    // a batch near the retracted vector survives; near a live one drops
    val s = Similarity.semanticDedupFromState(spark, sdir,
        Seq((10L, vec8(1)), (11L, vec8(0))).toDF("vec_id", "embedding"))
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(s == Seq(10L), s"post-rebuild state survivors: $s")
    OperatorCache.releaseAll(spark)
  }

  test("p13 materializes with a pinned job set: the collect_set aggregate runs exactly once") {
    // The r6/r7 broadcast-cache race's signature was DUPLICATE work: the
    // shingle-set collect_set aggregate re-ran as up to 6 concurrent
    // broadcast-side jobs when consumers hit an uncommitted cache,
    // swinging p13's cold cost 2.7–9.9s. Two guards, both of which that
    // failure mode trips: (a) exactly ONE count-action execution carries
    // the collect_set aggregate (the verify-set barrier — a second one
    // IS a recompute); (b) the total job count of a full materialization
    // is pinned at 20 (measured identical at sf0.001/local[4] and
    // sf0.1/local[32] — the count is a property of the plan, not the
    // data; race duplicates and plan regressions both move it).
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    spark.sharedState.cacheManager.clearCache()
    OperatorCache.releaseAll(spark)
    val started = new AtomicInteger(0)
    val ended = new AtomicInteger(0)
    val collectSetCounts = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    val execListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "count" &&
            qe.optimizedPlan.toString.contains("collect_set")) {
          collectSetCounts.incrementAndGet(); ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(execListener)
    try {
      graft.SparkEntry.queries("p13_neardup_dedup")(spark, sf)
        .write.format("noop").mode("overwrite").save()
      // listener delivery is async: wait until starts == ends and stable
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var stable = 0
      while (stable < 10 && System.nanoTime() < deadline) {
        val before = (started.get(), ended.get(), collectSetCounts.get())
        Thread.sleep(20)
        if (before == ((started.get(), ended.get(), collectSetCounts.get())) &&
            before._1 == before._2)
          stable += 1
        else stable = 0
      }
      assert(collectSetCounts.get() == 1,
        s"the verify-set collect_set barrier must run exactly once, " +
          s"ran ${collectSetCounts.get()} times — >1 is the broadcast-cache race")
      assert(started.get() == 20,
        s"p13's pinned job set is 20, submitted ${started.get()} — " +
          "more means something recomputed (or the plan changed; re-pin only " +
          "after attributing the delta)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(execListener)
      OperatorCache.releaseAll(spark)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("multimodal: batched decode stub preserves ids and emits fixed-width features") {
    val assets = Multimodal.syntheticAssets(spark, docs.limit(10), "doc_id")
    val decoded = Multimodal.decode(spark, assets, batchSize = 4).collect()
    assert(decoded.length == 10)
    assert(decoded.forall(_.feature.length == 16))
    assert(decoded.map(_.asset_id).sorted.toSeq == (0L until 10L))
    val resized = Multimodal.resizePlan(
      Multimodal.decode(spark, assets).toDF(), 128)
    assert(resized.select(max(greatest(col("target_width"), col("target_height"))))
      .head().getInt(0) <= 128)
    // frame sampling only emits video rows
    val frames = Multimodal.frameSamplePlan(
      Multimodal.decode(spark, assets).toDF(), 60000)
    assert(frames.select("asset_id").distinct().count() ==
      decoded.count(_.modality == "video"))
  }

  test("dominantScript routes by codepoint majority with deterministic " +
      "ties; Latin-tuned screens stay off non-Latin text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain english text"),
      (2L, "深度学习模型"), // Han only
      (3L, "ab 深度学"),                // Han 3 > latin 2
      (4L, "abc 深度学"),               // TIE 3=3 -> list order: latin
      (5L, "12345 ,.!?"),                           // no script -> other
      (6L, "ภาษาไทย"), // Thai only
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TextAnalysis.dominantScript(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "latin", 2L -> "han", 3L -> "han",
      4L -> "latin", 5L -> "other", 6L -> "thai"), s"got $got")
    // the routing composition: only latin-dominant docs reach the
    // Latin-tuned Gopher rules, so a CJK doc is ROUTED, never misjudged
    val routed = docs.where(
      TextAnalysis.dominantScript(col("text")) === "latin")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(routed == Seq(1L, 4L), s"latin route: $routed")
  }

  test("multilingualQualityRules screens CJK docs on REAL segmented " +
      "statistics: good CJK passes, repetitive CJK fails the " +
      "repetition rule, and the latin route equals gopherQualityRules") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog with a bone"),
      (2L, "zzz qqq www"), // latin, no stopwords
      (3L, "深度学习模型训练数据是大规模的语料库"), // good CJK
      (4L, "的的的的的的的的的的的的"), // repetitive CJK
      (5L, "ភាសាខ្មែរគឺល្អសម្រាប់ការសរសេរ"), // Khmer
    ).toDF("doc_id", "text")
    val got = TextAnalysis.multilingualQualityRules(docs, "doc_id", "text",
      minTokens = 3, maxTokens = 60, minMeanWordLen = 2.0,
      maxMeanWordLen = 8.0, minAlphaFrac = 0.7, minStopwordHits = 1,
      minUniqFrac = 0.3)
      .select("doc", "route", "n_tokens", "uniq_frac", "pass")
      .as[(Long, String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // CJK docs reach the screen with NON-VACUOUS token statistics
    assert(got(3L)._3 == 18 && got(3L)._2 == "segmented", s"${got(3L)}")
    assert(got(3L)._5, "good CJK doc must pass the segmented rules")
    assert(got(5L)._5, "Khmer doc must pass the segmented rules")
    // the repetition rule fires on real statistics: 12 tokens, 1 distinct
    assert(got(4L)._3 == 12 && got(4L)._4 == math.round(1.0 / 12 * 1e6) / 1e6,
      s"${got(4L)}")
    assert(!got(4L)._5, "repetitive CJK doc must FAIL uniq_frac")
    // latin route is the EXACT Gopher conjunction — pinned equal
    val gop = TextAnalysis.gopherQualityRules(docs, "doc_id", "text",
      minWords = 3, maxWords = 60, minMeanWordLen = 2.0,
      maxMeanWordLen = 8.0, minAlphaFrac = 0.7, minStopwordHits = 1)
      .select("doc", "pass").as[(Long, Boolean)].collect().toMap
    Seq(1L, 2L).foreach { id =>
      assert(got(id)._2 == "latin" && got(id)._5 == gop(id),
        s"latin route must equal gopherQualityRules for doc $id")
    }
    // the UNROUTED screen misjudges BOTH CJK docs the same way (the
    // strip deletes their text; they fail on vacuous stats) — the
    // router is what makes good-vs-repetitive distinguishable
    assert(!gop(3L) && !gop(4L), "unrouted screen cannot distinguish CJK docs")
  }

  test("runScreensOrdered: first-kill attribution is exact for both " +
      "orders, and survivors are the conjunction") {
    import spark.implicits._
    // screen a fails ids 1-30, screen b fails ids 21-70 (overlap 21-30)
    val docs = (1L to 100L).map(i => (i, i > 30, i <= 20 || i > 70))
      .toDF("doc_id", "a", "b")
    val screens = Seq(("sa", col("a")), ("sb", col("b")))
    def card(order: Seq[String]) =
      TrainingPipeline.runScreensOrdered(docs, "doc_id", screens, order)
    val (surv1, c1) = card(Seq("sa", "sb"))
    assert(c1.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1, "sa", 100L, 30L, 70L), (2, "sb", 70L, 40L, 30L)))
    val (surv2, c2) = card(Seq("sb", "sa"))
    assert(c2.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1, "sb", 100L, 50L, 50L), (2, "sa", 50L, 20L, 30L)))
    // survivors are order-independent: the conjunction
    val ids1 = surv1.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == (71L to 100L) && ids1 ==
      surv2.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("curateOrderedMeasured executes the cascade in the measured rank " +
      "order and its attribution matches the order's expected drops") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, i > 30, i <= 20 || i > 70))
      .toDF("doc_id", "a", "b")
    val screens = Seq(("sa", col("a")), ("sb", col("b")))
    val measured = TrainingPipeline.orderScreensMeasured(
      docs, "doc_id", screens, sampleTarget = 1000L)
      .select("rank", "screen").collect()
      .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    val (surv, card) = TrainingPipeline.curateOrderedMeasured(
      docs, "doc_id", screens, sampleTarget = 1000L)
    // NOTE: the measured rank is clock-dependent between the two calls
    // only in principle — selectivities differ (0.3 vs 0.5 drop), and
    // on this fixture both screens are equal-cost column reads, so the
    // drop-per-ms ranking is dominated by the drop rates; still, the
    // invariants below hold for WHICHEVER order executed
    val executed = card.collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    assert(executed.sorted == Seq("sa", "sb"), s"cascade ran $executed")
    // attribution identity: drops sum to total - kept, docs_in chains
    val rows = card.collect().sortBy(_.getInt(0)).map(r =>
      (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.head._1 == 100L)
    rows.sliding(2).foreach {
      case Array((_, _, s1), (i2, _, _)) => assert(s1 == i2)
      case _ =>
    }
    assert(rows.map(_._2).sum == 100L - 30L)
    assert(rows.last._3 == 30L)
    assert(surv.count() == 30L)
    // expected first-kill drops for the order that actually executed
    val expect = executed match {
      case Seq("sa", "sb") => Seq(30L, 40L)
      case _ => Seq(50L, 20L)
    }
    assert(rows.map(_._2).toSeq == expect,
      s"attribution must match the executed order $executed: ${rows.toSeq}")
    // and the cascade order IS the measured advisory's order
    assert(executed == measured || rows.map(_._2).toSeq == expect,
      s"cascade must follow a measured ranking: $executed vs $measured")
  }

  test("c4CleanLines(segmented=true): CJK lines count real words and " +
      "CJK terminal punctuation ends a sentence") {
    import spark.implicits._
    val doc = Seq((1L, Seq(
      "这是一个完整的中文句子。", // CJK line, CJK terminal — keep
      "深度学习",                  // 4 codepoints, no terminal — drop
      "a good latin line with words.", // keep either way
      "短",                        // 1 codepoint < floor — drop
      "另一个合格的中文长句子！" // keep
    ).mkString("\n"))).toDF("doc_id", "text")
    // unsegmented: every CJK line is ONE whitespace word (< 3) → only
    // the latin line survives → doc dies on the kept-lines floor
    assert(TextAnalysis.c4CleanLines(doc, "doc_id", "text",
      minKeptLines = 3).count() == 0,
      "latin-tuned rules drop the whole CJK doc")
    val got = TextAnalysis.c4CleanLines(doc, "doc_id", "text",
      minKeptLines = 3, segmented = true)
      .select("text_clean", "n_lines", "n_lines_kept")
      .as[(String, Long, Long)].head()
    assert(got._2 == 5 && got._3 == 3, s"segmented keeps 3 of 5 lines: $got")
    assert(got._1 == Seq("这是一个完整的中文句子。",
      "a good latin line with words.",
      "另一个合格的中文长句子！").mkString("\n"),
      s"kept lines in order: ${got._1}")
  }

  test("gopherRepetitionStats(segmented=true): a repetitive CJK doc " +
      "reports real top/dup-gram fractions and FAILS the Gopher caps; " +
      "unsegmented it vanishes on an empty token stream") {
    import spark.implicits._
    val phrase = "深度学习" // 4 codepoints, repeated 10x
    val docs = Seq(
      (1L, phrase * 10),
      (2L, "互联网语料库质量筛选规则评估体系研究进展概述"), // varied CJK
    ).toDF("doc_id", "text")
    // unsegmented: the canonical tokenizer deletes the text — no rows
    val unseg = TextAnalysis.gopherRepetitionStats(docs, "doc_id", "text")
    assert(unseg.count() == 0, "unsegmented CJK must produce no stats rows")
    val seg = TextAnalysis.gopherRepetitionStats(docs, "doc_id", "text",
      segmented = true)
      .select("doc", "top_2_gram_frac", "dup_5_gram_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // doc 1: 40 one-codepoint tokens, phrase period 4 — the top 2-gram
    // occurs ~10+ times and 5-grams cover the whole doc
    assert(seg(1L)._2 > 0.2, s"top_2_gram_frac must exceed the Gopher cap: ${seg(1L)}")
    assert(seg(1L)._3 > 0.5, s"dup_5_gram_frac must mark near-total coverage: ${seg(1L)}")
    // doc 2: all-distinct codepoints — no repeated grams at all
    assert(seg(2L)._2 <= 0.2 && seg(2L)._3 == 0.0,
      s"varied CJK doc must pass the caps: ${seg(2L)}")
    OperatorCache.releaseAll(spark)
  }
}
