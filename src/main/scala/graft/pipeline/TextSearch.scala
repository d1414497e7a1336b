package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Fnv1a64, GraftFunctions}

/** Partition-pruned text-search serving — the keyword sibling of the
  * ANN serving layouts ([[Similarity.writeIndexed]]/`probeIndexed`):
  * an inverted index persisted once, then per-query reads touch only
  * the term buckets the query names, however large the corpus. The
  * training-data uses are the interactive forms of operators the
  * pipeline already runs in batch: spot-checking what a
  * decontamination screen would match, pulling the docs behind a
  * quality-rule hit, eyeballing a domain before sizing its mixture
  * weight.
  *
  * Layout under `dir`:
  *   - `postings/` partitioned by `tb` = fnv1a64(term) mod `buckets`:
  *     (term, doc, tf, dl) — doc length rides each posting row so
  *     serving needs no doc-side join at all;
  *   - the [[LayoutFiles.Descriptor]]: (n_docs, sum_dl, buckets,
  *     max_gen) — the BM25 corpus constants plus the layout parameter,
  *     so a serving session needs no out-of-band configuration, and the
  *     last committed generation — and the postings schema.
  *
  * Scoring is EXACTLY [[TextAnalysis.bm25]] (same expression tree, same
  * 6-decimal rounding); the spec pins served-vs-batch score equality
  * and the pruned-scan plan shape (`PartitionFilters` on `tb`).
  */
object TextSearch {

  /** One corpus pass: explode → (doc, term, tf) → doc lengths folded
    * back onto the postings → partitioned write. The only shuffles are
    * the tf aggregate and the doc-length join — both doc/term-keyed,
    * no driver state. Size `buckets` so one bucket's postings make a
    * healthy scan (vocabulary and corpus dependent; the default 64
    * suits test-scale corpora, go higher at cluster scale). A build is
    * the generation-0 append: [[appendIndex]]'s write over an empty
    * layout.
    */
  def writeIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int = 64,
  ): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    LayoutFiles.recover(df.sparkSession, dir)
    LayoutFiles.clearTombstones(df.sparkSession, dir)
    writeGeneration(df, idCol, textCol, dir, buckets, None)
  }

  /** Incremental maintenance: append a NEW batch of docs into the
    * [[writeIndex]] layout — batch-sized postings appends into the
    * partitioned table plus a CLOSED-FORM descriptor update (n' = n + Δn,
    * sum_dl' = sum_dl + Σ Δdl — exact long additions, no corpus
    * re-read, so append ≡ rebuild is bit-identical),
    * the same append-don't-rebuild shape as `TrainingPipeline
    * .appendState` and `Similarity.appendIvfPq`. Serving reflects the
    * union immediately; the spec pins append ≡ one-shot rebuild score
    * equality. Batch doc ids must be NEW here (a re-crawled id would
    * stack duplicate postings) — a CHANGED document goes through
    * [[updateIndex]], whose delete half retires the old version first.
    */
  def appendIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
  ): Unit = {
    val spark = df.sparkSession
    LayoutFiles.recover(spark, dir)
    LayoutFiles.appending(spark, dir)(compactIndex(spark, dir)) {
      val base = LayoutFiles.descriptor(spark, dir, "TextSearch.writeIndex")
      writeGeneration(df, idCol, textCol, dir, base.param("buckets").asInt, Some(base))
    }
  }

  /** The one write body of the layout: `df`'s postings and doc lengths
    * stamped generation `max_gen + 1` of the `base` descriptor and
    * appended, then the descriptor published with the base counts plus
    * the batch's (a build passes no base: gen 0, zero counts, Overwrite). */
  private def writeGeneration(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int, base: Option[LayoutFiles.Descriptor],
  ): Unit = {
    val spark = df.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val gen = base.fold(0L)(_.maxGen + 1)
    val mode = if (base.isEmpty) SaveMode.Overwrite else SaveMode.Append
    val terms = df.select(col(idCol).as("doc"),
      explode(Dedup.tokensOf(col(textCol))).as("term"))
    // lazy persist, NOT materialize: every consumer below is a
    // sequential action on this thread, so the first one (the stats
    // aggregate, run FIRST for exactly this reason) populates both
    // caches in its own job — the two former materialize-count
    // barriers were pure extra jobs here (the barrier form exists for
    // CONCURRENT consumers; see OperatorCache.materialize)
    val tfAll = OperatorCache.persist(
      terms.groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    val docLen = OperatorCache.persist(
      tfAll.groupBy("doc").agg(sum("tf").as("dl")))
    // sum_dl is the EXACT integer token total — avgdl derives at serve
    // time as sum_dl/n_docs (identical to avg() while the total stays
    // under 2^53), and incremental appends stay exact long additions
    val d = docLen.agg(count(lit(1)).as("dn"),
      coalesce(sum("dl"), lit(0L)).as("dsum")).head()
    val postings = tfAll.join(docLen, "doc")
      .withColumn("tb",
        pmod(GraftFunctions.fnv1a64(col("term")), lit(buckets.toLong)))
      .withColumn("gen", lit(gen))
      .select("tb", "term", "doc", "tf", "dl", "gen")
    postings
      // cluster by the partition value before the partitioned write
      // (guide §6): without this EVERY input partition opens a parquet
      // writer per bucket it touches — measured on p128 as a 32-task ×
      // 64-bucket fan-out (~2k files, stage cpu 13.3s / run 130s for a
      // 4.4s wall), and the per-file open cost then taxes every probe's
      // listing. One batch-sized exchange buys one file per bucket at
      // ANY core count — the same clustering a hash
      // write.distribution-mode buys at cluster scale — and a fixed task
      // count per core keeps AQE from coalescing the write into one task
      // that writes every bucket in turn.
      .repartition(spark.sparkContext.defaultParallelism, col("tb"))
      .write.partitionBy("tb").mode(mode).parquet(s"$dir/postings")
    // (doc, dl, gen) keyed by doc: what a DELETE needs to adjust the
    // corpus stats closed-form without scanning term-bucketed postings.
    // gen is the LSM-style version stamp: every append advances it, a
    // tombstone names (doc, gen) VERSIONS, so an UPDATE (delete old +
    // append new) never shadows its own fresh rows
    docLen.withColumn("gen", lit(gen))
      .write.mode(mode).parquet(s"$dir/doclens")
    LayoutFiles.publish(spark, dir, described(gen,
      base.fold(0L)(_.param("n_docs").asLong) + d.getAs[Long]("dn"),
      base.fold(0L)(_.param("sum_dl").asLong) + d.getAs[Long]("dsum"), buckets,
      base.fold(LayoutFiles.Descriptor.schemaOf(postings, Some("tb")))(_.schema)))
  }

  private def described(
      maxGen: Long, nDocs: Long, sumDl: Long, buckets: Int, postings: StructType) =
    LayoutFiles.Descriptor("bm25", maxGen, Some("tb"), postings)(
      "n_docs" -> nDocs, "sum_dl" -> sumDl, "buckets" -> buckets)

  /** What a probe or a compaction needs of the layout, with no Spark
    * job: the corpus constants DELETE-adjusted — the descriptor's minus
    * the tombstoned versions' count and token total (exact long
    * arithmetic, the closed form [[appendIndex]] adds with) — its
    * `max_gen` and postings schema, and the [[LayoutFiles]] memo's
    * pending tombstone rows. Fails with [[LayoutFiles.UnfinishedCommit]]
    * while a compaction's commit is open.
    *
    * Only committed generations serve: a crash between a postings
    * append and its descriptor leaves generation `max_gen + 1` on
    * disk, which the descriptor does not count, so `postings` keeps
    * `gen <= max_gen` and only tombstones of those versions adjust the
    * constants; the next append folds that generation out before it
    * writes ([[LayoutFiles.appending]]). sum_dl stays the exact long so
    * [[compactIndex]] can persist it closed-form without re-scanning
    * doclens; avgdl derives in [[withContrib]].
    */
  private final case class Serving(
      nDocs: Long, sumDl: Long, buckets: Int, maxGen: Long,
      schema: StructType, tomb: Option[LayoutFiles.Tombstones]) {
    /** The committed rows of `scan` (postings or doclens) that no
      * pending tombstone names. */
    def live(scan: DataFrame): DataFrame = LayoutFiles.minus(
      scan.where(col("gen") <= maxGen), tomb.map(_.frame(scan.sparkSession)), DocGen)
  }

  private def serving(spark: SparkSession, dir: String): Serving = {
    val d = LayoutFiles.descriptor(spark, dir, "TextSearch.writeIndex")
    val tomb = LayoutFiles.pending(spark, dir)
    val gone = tomb.toSeq.flatMap(_.rows).filter(_.getAs[Long]("gen") <= d.maxGen)
    Serving(
      d.param("n_docs").asLong - gone.size,
      d.param("sum_dl").asLong - gone.map(_.getAs[Long]("dl")).sum,
      d.param("buckets").asInt, d.maxGen, d.schema, tomb)
  }

  /** Tombstones name (doc, gen) VERSIONS, so rows a later append
    * re-added under a fresh gen survive — delete+append is an UPDATE. */
  private val DocGen = Seq("doc", "gen")

  /** Tombstone-delete docs from a [[writeIndex]] layout: the deleted
    * ids join their stored lengths (`doclens/` — one map-side scan of
    * a 2-column doc-keyed table, never the term-bucketed postings) and
    * every still-live version lands as a (doc, dl, gen) row under
    * `_tombstones` (see [[LayoutFiles]]). Serving subtracts them from
    * the BM25 corpus constants and anti-joins the postings slice.
    */
  def deleteFromIndex(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
  ): Unit = {
    LayoutFiles.recover(spark, dir)
    val dls = spark.read.parquet(s"$dir/doclens")
    // join on the id column AS STORED, failing fast on any id the cast
    // nulls out — see [[Keys.castIdsToStored]] for both halves of the
    // silent-no-op hazard this closes (r16 + r17 ADVICE)
    val want = Keys.castIdsToStored(
      ids, idCol, dls.schema("doc").dataType, "deleteFromIndex")
    LayoutFiles.retire(
      dls.join(broadcast(want), Seq("doc"), "left_semi").select("doc", "dl", "gen"),
      dir, DocGen)
  }

  /** UPDATE re-crawled documents in place: tombstone the ids' current
    * postings, then append the new text — the delete+append
    * composition IS the update (the recrawl shape: a page changed, its
    * old tokens must stop matching and its new ones start). Serving
    * reflects the new versions at the next query; [[compactIndex]]
    * folds the superseded postings out on its usual cadence. Ids not
    * yet indexed just append (an upsert, matching a crawl frontier's
    * mixed new/changed batches).
    */
  def updateIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
  ): Unit = {
    deleteFromIndex(df.sparkSession, dir, df.select(col(idCol)), idCol)
    appendIndex(df, idCol, textCol, dir)
  }

  /** Fold tombstones into the layout AND merge append-accumulated
    * small files: rewrite `postings/` (partition scheme preserved —
    * every [[updateIndex]] lands another handful of batch files per
    * touched bucket, so compaction rewrites even with no tombstones
    * pending) and `doclens/` minus the deleted docs, and the descriptor
    * with the already-adjusted constants. All three and the cleared
    * tombstone set land in ONE [[LayoutFiles.commit]], so a crash can
    * never subtract the deleted docs twice. */
  def compactIndex(spark: SparkSession, dir: String): Unit = {
    LayoutFiles.recover(spark, dir)
    // sum_dl comes closed-form from serving (stored total minus
    // tombstoned dl) — the post-swap doclens re-scan it replaces was a
    // whole extra job for a value the stats math already had; the
    // delete paths keep it exact by construction (appendIndex adds,
    // deleteFromIndex tombstones live versions once). An uncommitted
    // generation's rows are folded out with the deleted ones.
    val s = serving(spark, dir)
    LayoutFiles.rewrite(dir, "postings", Some("tb"))(s.live(LayoutFiles.slice(
      spark, s"$dir/postings", "tb", 0L until s.buckets, s.schema).frame))
    LayoutFiles.rewrite(dir, "doclens", None)(s.live(spark.read.parquet(s"$dir/doclens")))
    LayoutFiles.stage(spark, dir, described(s.maxGen, s.nDocs, s.sumDl, s.buckets, s.schema))
    LayoutFiles.commit(spark, dir)
  }

  /** Top-k BM25 over the [[writeIndex]] layout. The postings scan reads
    * only the query terms' bucket directories (`postings/tb=<n>`,
    * [[LayoutFiles.slice]]) and keeps the terms' committed rows.
    *
    * When those bucket files total at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes — the size Spark
    * itself ships whole to every executor — the probe runs NO Spark job:
    * it reads those files on the driver ([[LayoutFiles.Slice.rows]]),
    * keeps the terms' committed rows, drops the tombstoned (doc, gen)
    * versions against the memo's pending rows, and ranks on the driver.
    * The arithmetic is Spark's, so the result equals the Spark plan's
    * row for row: `StrictMath.log` (what Spark's `log`
    * calls), [[TextAnalysis.bm25]]'s expression tree evaluated in the
    * same order, the per-doc sum rounded HALF_UP to 6 places through
    * `BigDecimal.valueOf` (Spark's `round` on a double), and ties broken
    * by doc in Spark's ascending order for the stored id type (nulls
    * first, strings by UTF-8 bytes). The result is a local relation
    * with the Spark plan's schema.
    *
    * A larger slice, or an id type other than an integral or string
    * one, runs the Spark plan:
    * the per-term document frequency aggregates over the pruned rows and
    * broadcasts into the term join, the ranking is a
    * TakeOrderedAndProject on (score desc, doc asc) — no global sort, no
    * corpus-wide work anywhere in the serve path (the `tb` partition
    * pruning of both paths is asserted in TextSearchSpec).
    *
    * @return up to `k` rows (doc, score, n_matched), best first — score
    *         and n_matched identical to [[TextAnalysis.bm25]]'s
    */
  def searchTopK(
      spark: SparkSession, dir: String, queryTerms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
  ): DataFrame = {
    require(queryTerms.nonEmpty, "searchTopK needs at least one query term")
    // the index stores NORMALIZED terms (Dedup.rawTokens: lowercase,
    // non-alnum stripped); normalize the caller's terms with the same
    // rule so "Quantum," finds what "quantum" indexed — a verbatim
    // match would silently return zero rows for cased/punctuated input
    val normTerms = queryTerms
      .map(t => t.trim.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("[^a-z0-9\\s]", ""))
      .flatMap(_.split("\\s+")).filter(_.nonEmpty).distinct
    require(normTerms.nonEmpty,
      s"searchTopK: no query terms survive normalization: $queryTerms")
    val s = serving(spark, dir)
    val tbs = normTerms
      .map(t => math.floorMod(Fnv1a64.hash(t.getBytes("UTF-8")), s.buckets.toLong))
      .distinct
    val slice = LayoutFiles.slice(spark, s"$dir/postings", "tb", tbs, s.schema)
    val docField = s.schema("doc")
    Keys.ascending(docField.dataType) match {
      case Some(order) if slice.bytes <= spark.sessionState.conf.autoBroadcastJoinThreshold =>
        val terms = normTerms.toSet
        val Seq(term, gen) = Seq("term", "gen").map(s.schema.fieldIndex)
        val rows = slice.rows().filter(r => !r.isNullAt(term) && terms(r.getString(term)) &&
          !r.isNullAt(gen) && r.getLong(gen) <= s.maxGen)
        spark.createDataFrame(topKLocal(rows, s, order, k, k1, b).asJava, StructType(Seq(
          docField, StructField("score", DoubleType),
          StructField("n_matched", LongType, nullable = false))))
      case _ =>
        val tf = s.live(slice.frame.where(col("term").isin(normTerms: _*)))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "term")
          .transform(withContrib(s.nDocs, s.sumDl, k1, b))
          .groupBy("doc")
          .agg(round(sum(col("contrib")), 6).as("score"),
            count(lit(1)).as("n_matched"))
          .orderBy(col("score").desc, col("doc").asc)
          .limit(k)
    }
  }

  /** [[searchTopK]]'s ranking of the committed postings `rows` of the
    * query terms (in the postings schema), on the driver: the rows
    * [[Serving.live]] keeps, then [[withContrib]]'s arithmetic, the
    * per-doc sum and count, the 6-place rounding and the
    * (score desc, doc asc) cut. */
  private def topKLocal(
      rows: Seq[Row], s: Serving, docOrder: Ordering[Any],
      k: Int, k1: Double, b: Double): Seq[Row] = {
    val Seq(term, doc, tfi, dl, gen) =
      Seq("term", "doc", "tf", "dl", "gen").map(s.schema.fieldIndex)
    val gone = s.tomb.fold(Set.empty[(Any, Any)])(_.versions)
    val live = rows.filterNot(r => gone((r.get(doc), r.get(gen))))
    val df = live.groupBy(_.getString(term)).map { case (t, rs) => t -> rs.length.toLong }
    val avgdl = s.sumDl.toDouble / math.max(s.nDocs, 1L)
    val perDoc = scala.collection.mutable.LinkedHashMap.empty[Any, (Double, Long)]
    live.foreach { r =>
      val n = df(r.getString(term))
      val idf = StrictMath.log(1.0 + ((s.nDocs - n).toDouble + 0.5) / (n.toDouble + 0.5))
      val tf = r.getLong(tfi).toDouble
      val contrib = idf * tf / (tf + k1 * ((1.0 - b) + b * r.getLong(dl).toDouble / avgdl))
      val (acc, m) = perDoc.getOrElse(r.get(doc), (0.0, 0L))
      perDoc(r.get(doc)) = (acc + contrib, m + 1)
    }
    val order: Ordering[(Any, Double, Long)] = (x, y) => {
      val c = SQLOrderingUtil.compareDoubles(y._2, x._2)
      if (c != 0) c else docOrder.compare(x._1, y._1)
    }
    perDoc.iterator.map { case (doc, (acc, m)) => (doc, Similarity.round6(acc), m) }
      .toSeq.sorted(order).take(k).map { case (doc, score, m) => Row(doc, score, m) }
  }

  /** Each matched posting's BM25 contribution over rows carrying
    * (tf, dl, df) — [[TextAnalysis.bm25]]'s expression tree, with
    * avgdl derived from the exact token total. */
  private def withContrib(nDocs: Long, sumDl: Long, k1: Double, b: Double)(
      df: DataFrame): DataFrame = {
    val avgdl = sumDl.toDouble / math.max(nDocs, 1L)
    df.withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf").cast("double") /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
  }

  /** Batched serving: top-k per query over a whole query WORKLOAD in
    * one pass — the shape a decontamination audit runs ("for every
    * eval question, which training docs score highest?"), mirroring
    * the batched ANN audits. The postings scan prunes to the UNION of
    * the workload's term buckets; the query side (workload-sized by
    * definition) broadcasts into the term join; per-query ranking is a
    * qid-partitioned row_number kept to `k` rows by WindowGroupLimit —
    * no global sort, corpus work proportional to the matched postings.
    *
    * Terms are matched against the index's normalization ([[Dedup
    * .rawTokens]] applied to each query string), so free-text queries
    * behave like the corpus side.
    *
    * @param queries (qidCol, queryCol: free text)
    * @return (qid, rank, doc, score, n_matched), rank 1..k per qid —
    *         scores identical to [[TextAnalysis.bm25]] for that
    *         query's termset
    */
  def searchTopKBatch(
      queries: DataFrame, qidCol: String, queryCol: String, dir: String,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
  ): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val s = serving(spark, dir)
    // DISTINCT (qid, term): BM25 is a termSET score — a term repeated
    // in a query must not double its contribution
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(Dedup.tokensOf(col(queryCol))).as("term")).distinct()
    val tbs = qterms
      .select(pmod(GraftFunctions.fnv1a64(col("term")), lit(s.buckets.toLong))
        .as("tb")).distinct()
      .collect().map(_.getLong(0))
    // an all-stopword workload leaves tbs empty — isin(empty) is
    // statically false, so everything downstream is a well-typed
    // empty frame, no special case needed
    val postings = LayoutFiles.slice(spark, s"$dir/postings", "tb", tbs.toIndexedSeq, s.schema)
      .frame
    // per-term df is a property of the INDEX, independent of the
    // workload — aggregate it once over the distinct matched terms
    val matched = s.live(postings).join(
      broadcast(qterms.select("term").distinct()), "term")
    val dfreq = matched.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("doc").asc)
    matched
      .join(broadcast(qterms), "term")
      .join(broadcast(dfreq), "term")
      .transform(withContrib(s.nDocs, s.sumDl, k1, b))
      .groupBy("qid", "doc")
      .agg(round(sum(col("contrib")), 6).as("score"),
        count(lit(1)).as("n_matched"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "doc", "score", "n_matched")
  }

  /** Hybrid retrieval: BM25 candidate generation through the index,
    * embedding-cosine rerank on the candidates — the standard
    * keyword-recall + semantic-precision two-stage (RAG retrieval,
    * near-dup triage). `workload` carries (qid, query text, query
    * vector); candidates come from [[searchTopKBatch]] at `candidates`
    * per query (the recall knob), each joined to its document vector
    * and reranked by `alpha·bm25 + (1−alpha)·cosine`, both sides
    * 6-rounded before mixing so the blend is engine-replayable.
    *
    * Scale shape: everything [[searchTopKBatch]] already is (pruned
    * scan, workload broadcast), plus one id equi-join against the
    * vector table (qid×candidates rows — workload-bounded, never
    * corpus-scale) and a qid-partitioned rank kept to `k` by
    * WindowGroupLimit. Candidate docs missing a vector drop (inner
    * join): retrieval over a corpus slice without embeddings is a
    * caller decision, not a silent zero-cosine.
    */
  def searchHybridBatch(
      workload: DataFrame, qidCol: String, queryCol: String, qvecCol: String,
      dir: String, vectors: DataFrame, vecIdCol: String, vecCol: String,
      k: Int = 10, candidates: Int = 50, alpha: Double = 0.5,
  ): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1]: $alpha")
    val cand = searchTopKBatch(
      workload.select(col(qidCol), col(queryCol)), qidCol, queryCol, dir,
      k = candidates)
    val qv = workload.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
    val dv = vectors.select(col(vecIdCol).as("doc"), col(vecCol).as("__dv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("hybrid").desc, col("doc").asc)
    cand.join(dv, "doc")
      .join(broadcast(qv), "qid")
      .withColumn("hybrid",
        round(lit(alpha) * col("score") +
          lit(1.0 - alpha) *
            round(graft.pipeline.Similarity.cosine(col("__dv"), col("__qv")), 6), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "doc", "hybrid", "score")
  }

  /** Reciprocal-rank fusion of the BM25 and embedding retrievers
    * (Cormack, Clarke & Büttcher, SIGIR 2009): each side contributes
    * `1/(rrfK + rank)` and the fused score is their sum — rank-only
    * fusion, which is the standard hybrid baseline precisely because
    * BM25 scores and cosines live on incomparable scales and RRF
    * needs no calibration (unlike [[searchHybridBatch]]'s alpha
    * blend). A doc retrieved by only one side keeps that side's term
    * (the other contributes 0), so lexical-only and semantic-only
    * hits both surface.
    *
    * The embedding side defaults to a brute-force cosine rank over
    * `vectors` — exact, the correctness baseline, and a corpus×workload
    * window: the DANGEROUS path at scale. The production default is to
    * pass `vecRanks` from
    * [[graft.pipeline.Similarity.probeIvfPqBatch]] — the whole
    * workload's (qid, doc, rank) from ONE partition-pruned pass over
    * the ANN serving layout (select `rank` as `rank_cos`); the fusion
    * itself is workload-bounded either way (qid × candidates rows,
    * one full-outer join, one qid window).
    */
  def searchRrfBatch(
      workload: DataFrame, qidCol: String, queryCol: String, qvecCol: String,
      dir: String, vectors: DataFrame, vecIdCol: String, vecCol: String,
      k: Int = 10, candidates: Int = 50, rrfK: Int = 60,
      vecRanks: Option[DataFrame] = None,
  ): DataFrame = {
    // unlike the alpha blend, fusion can return up to 2×candidates docs
    // (each side contributes its own list), so k may exceed candidates
    require(k >= 1 && candidates >= 1,
      s"need k >= 1 and candidates >= 1, got k=$k candidates=$candidates")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val bm = searchTopKBatch(
      workload.select(col(qidCol), col(queryCol)), qidCol, queryCol, dir,
      k = candidates)
      .select(col("qid"), col("doc"), col("rank").as("rank_bm25"))
    val vr = vecRanks.getOrElse {
      val qv = workload.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("__cos").desc, col("doc").asc)
      vectors.select(col(vecIdCol).as("doc"), col(vecCol).as("__dv"))
        .crossJoin(broadcast(qv))
        .withColumn("__cos",
          round(graft.pipeline.Similarity.cosine(col("__dv"), col("__qv")), 6))
        .withColumn("rank_cos", row_number().over(wv))
        .where(col("rank_cos") <= candidates)
        .select("qid", "doc", "rank_cos")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf").desc, col("doc").asc)
    bm.join(vr, Seq("qid", "doc"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_cos")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "doc", "rrf", "rank_bm25", "rank_cos")
  }

  /** The fully-SERVED RRF hybrid — [[searchRrfBatch]] with its
    * embedding side wired to the batched ANN layout probe
    * ([[graft.pipeline.Similarity.probeIvfPqBatch]]), the production
    * composition in one call: BM25 ranks from the pruned text index,
    * cosine ranks from ONE pruned pass over the IVF-PQ layout, fused
    * by 1/(rrfK+rank). Corpus work is three jobs' worth regardless of
    * workload size (oracle-pinned end to end by p138).
    *
    * @param annIdCol the ANN layout's id column — must share the text
    *                 index's doc-id domain (the fusion joins on it)
    */
  def searchRrfServed(
      workload: DataFrame, qidCol: String, queryCol: String, qvecCol: String,
      dir: String, annPath: String, annIdCol: String, annVecCol: String,
      coarse: Similarity.IvfIndex, books: Seq[Similarity.IvfIndex],
      k: Int = 10, candidates: Int = 50, rrfK: Int = 60,
      nprobe: Int = 3, rescoreFactor: Int = 5,
  ): DataFrame =
    searchRrfServedAuto(workload, qidCol, queryCol, qvecCol, dir, annPath,
      annIdCol, annVecCol, Some(coarse), books, k, candidates, rrfK,
      nprobe, rescoreFactor)

  /** [[searchRrfServed]] over ANY written ANN layout — the embedding
    * side dispatches on the layout's own descriptor
    * ([[graft.pipeline.Similarity.layoutKind]]): IVF-PQ, residual
    * IVF-PQ, and LSH layouts all serve through their workload-batched
    * probes (p136/p139/p140), so the fused RRF takes a layout PATH and
    * needs no caller knowledge of which family built it. PQ layouts
    * require their frozen artifacts in `coarse`/`books`; LSH layouts
    * ignore them (parameters ride in the descriptor). */
  def searchRrfServedAuto(
      workload: DataFrame, qidCol: String, queryCol: String, qvecCol: String,
      dir: String, annPath: String, annIdCol: String, annVecCol: String,
      coarse: Option[Similarity.IvfIndex] = None,
      books: Seq[Similarity.IvfIndex] = Nil,
      k: Int = 10, candidates: Int = 50, rrfK: Int = 60,
      nprobe: Int = 3, rescoreFactor: Int = 5,
  ): DataFrame = {
    val vecRanks = Similarity.probeBatchAuto(
      workload, qidCol, qvecCol, annPath, annIdCol, annVecCol,
      k = candidates, coarse, books, nprobe, rescoreFactor)
      .select(col("qid"), col(annIdCol).as("doc"), col("rank").as("rank_cos"))
    searchRrfBatch(workload, qidCol, queryCol, qvecCol, dir,
      // vectors are unused when vecRanks is injected — pass the empty
      // projection so no accidental plan hangs off the brute-force path
      workload.sparkSession.emptyDataFrame, annIdCol, annVecCol,
      k, candidates, rrfK, vecRanks = Some(vecRanks))
  }

  /** Retrieval-quality evaluation of ANY ranked run — the metric layer
    * every retriever here feeds ([[searchTopKBatch]],
    * [[searchHybridBatch]], [[searchRrfBatch]], the
    * [[graft.pipeline.Similarity.probeIvfPqBatch]] family): per query,
    * the standard IR measures against graded relevance judgments.
    *
    *  - `precision@k` = relevant retrieved / k, `recall@k` = relevant
    *    retrieved / total relevant (null when a query has no judged
    *    relevant doc — 0/0 is "unjudged", not failure)
    *  - `mrr` = 1 / rank of the first relevant result (0 if none)
    *  - `ndcg@k` = DCG/IDCG with the standard (2^rel − 1)/log2(rank+1)
    *    gain, IDCG from the judgments' own top-k — graded, so a rel-3
    *    doc at rank 1 beats three rel-1 docs
    *
    * Determinism contract (the oracle-replay requirement every operator
    * here carries): each DCG term is rounded to 6 decimals and
    * accumulated in DECIMAL — double sums are order-dependent across
    * engines, decimal sums are exact — and log2 is spelled ln(x)/ln(2)
    * so both engines evaluate the identical expression tree.
    *
    * Scale shape: both inputs are workload-bounded by definition (a run
    * is qid × k rows, qrels are human- or rule-priced); two broadcast
    * joins and qid-keyed aggregates, no corpus-side work at all.
    *
    * Duplicate keys (r18 ADVICE): a duplicated (qid, doc) judgment row
    * would fan out the join and silently inflate n_hit/dcg/n_rel, so
    * BOTH inputs are canonicalized to one row per (qid, doc) before
    * any join — qrels keep the MAX rel (the standard TREC merge of
    * conflicting assessments), the run keeps the doc's BEST (minimum)
    * rank. For well-formed inputs both aggregates are exact no-ops.
    *
    * @param run   ranked results (qidCol, docCol, rankCol), rank 1-based
    * @param qrels judgments (qidCol, docCol, relCol), rel > 0 = relevant
    * @return (qid, n_rel, n_hit, precision, recall, mrr, ndcg) — one row
    *         per qid present in EITHER input (a judged query the run
    *         never answered scores 0, not absent)
    */
  def evalRetrieval(
      run: DataFrame, qidCol: String, docCol: String, rankCol: String,
      qrels: DataFrame, qrelQidCol: String, qrelDocCol: String,
      relCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec6 = org.apache.spark.sql.types.DecimalType(28, 6)
    def dcgTerm(rel: org.apache.spark.sql.Column,
        rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round((pow(lit(2.0), rel) - lit(1.0)) /
        (log(rank.cast("double") + lit(1.0)) / log(lit(2.0))), 6).cast(dec6)
    val r = run.select(col(qidCol).as("qid"), col(docCol).as("doc"),
      col(rankCol).cast("int").as("rank")).where(col("rank") <= k)
      .groupBy("qid", "doc").agg(min("rank").as("rank"))
    val q = qrels.select(col(qrelQidCol).as("qid"), col(qrelDocCol).as("doc"),
      col(relCol).cast("double").as("rel")).where(col("rel") > 0)
      .groupBy("qid", "doc").agg(max("rel").as("rel"))
    val perQ = q.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val wIdeal = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rel").desc, col("doc").asc)
    val idcg = q.withColumn("irank", row_number().over(wIdeal))
      .where(col("irank") <= k)
      .groupBy("qid")
      .agg(sum(dcgTerm(col("rel"), col("irank"))).cast("double").as("idcg"))
    val agg = r.join(q, Seq("qid", "doc"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0.0)))
      .groupBy("qid")
      .agg(
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"),
        sum(dcgTerm(col("rel"), col("rank"))).cast("double").as("dcg"),
        max(when(col("rel") > 0, lit(1.0) / col("rank")).otherwise(lit(0.0)))
          .as("rr"))
    agg.join(perQ.join(idcg, Seq("qid")), Seq("qid"), "full_outer")
      .select(col("qid"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble), 6)
          .as("precision"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          round(coalesce(col("n_hit"), lit(0L)) /
            col("n_rel").cast("double"), 6)).as("recall"),
        round(coalesce(col("rr"), lit(0.0)), 6).as("mrr"),
        when(col("idcg").isNotNull && col("idcg") > 0,
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6)).as("ndcg"))
  }
}
