package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One recrawl batch → every persisted serving layout advances in
  * lockstep. A crawl cycle produces exactly three deltas — pages that
  * CHANGED (or are new), pages that DISAPPEARED, and (when an embedding
  * stage runs) the changed pages' re-embedded vectors — and every
  * derived layout must see all of them or serving drifts from the
  * corpus: the BM25 index keeps matching deleted pages' old tokens,
  * the decontamination index keeps flagging text that no longer
  * exists, the semantic-dedup state keeps suppressing arrivals against
  * retracted content.
  *
  * [[advance]] is the single entry point that applies one batch's
  * deltas to each registered layout through that layout's own
  * generation-aware lifecycle ops (delete = (id, gen) tombstones,
  * update = delete + append under a fresh gen, so an id in BOTH
  * `changed` and a layout is an in-place UPDATE, and compaction stays
  * each layout's own erasure point on its own cadence — this call
  * never rewrites files). Cost per layout is batch-sized; the shared
  * `changed` frame is cached once so each layout's tokenize / assign
  * pass reads the cached batch instead of re-running its upstream
  * plan, and released before [[advance]] returns (so a streaming
  * caller needs no per-batch releaseAll).
  *
  * Reference scope note: the reference engine has no serving-index
  * maintenance at all (it re-reads sources per query); this is part of
  * the beyond-reference pipeline surface, built on the public
  * LSM/tombstone design every incremental search index uses.
  */
object Recrawl {

  /** An [[Similarity.writeIvfPq]] ANN serving layout plus the frozen
    * model artifacts that travel with it (the probe contract).
    * `idCol` is the layout's id column — compaction folds the
    * fixed-name tombstone set against it. */
  final case class AnnIvfPq(
      dir: String, vecCol: String,
      coarse: Similarity.IvfIndex, books: Seq[Similarity.IvfIndex],
      idCol: String = "doc",
  )

  /** The serving layouts one corpus feeds — each optional, so a
    * pipeline registers exactly what it maintains.
    *
    * @param textIndex    a [[TextSearch.writeIndex]] layout (BM25)
    * @param shingleIndex a [[Dedup.writeShingleIndex]] layout
    *                     (decontamination postings)
    * @param dedupState   a [[Similarity.writeDedupState]] layout
    *                     (semantic-dedup prior state; advances only
    *                     when the batch's re-embedded vectors are
    *                     passed to [[advance]])
    * @param annIndex     a [[Similarity.writeIvfPq]] serving layout
    *                     (embedding search; like dedupState, upserts
    *                     only when re-embedded vectors are passed —
    *                     deletions always apply)
    */
  final case class ServingLayouts(
      textIndex: Option[String] = None,
      shingleIndex: Option[String] = None,
      dedupState: Option[String] = None,
      annIndex: Option[AnnIvfPq] = None,
  )

  /** Bootstrap every registered layout from the initial corpus — the
    * build sibling of [[advance]] (build once → advance per crawl
    * cycle → [[compact]] on cadence is the whole serving loop). The
    * text layouts build from (idCol, textCol); the vector layouts
    * build only when `vectors` supplies (idCol, vecCol) rows — the ANN
    * layout encodes them with its own frozen artifacts (the caller
    * trains those: the model travels with the index), the dedup state
    * trains its coarse cells here and persists them with the
    * threshold.
    */
  def build(
      spark: SparkSession,
      corpus: DataFrame, idCol: String, textCol: String,
      layouts: ServingLayouts,
      vectors: Option[DataFrame] = None, vecCol: String = "embedding",
      dedupThreshold: Double = 0.9, dedupK: Int = 0,
  ): Unit = {
    // materialize, not lazy persist: the layout builds run CONCURRENTLY
    // below (like advance's — each build is a chain of small
    // batch-sized jobs, latency-bound, so overlapping them cuts the
    // build wall toward the max of the chains), and concurrent
    // consumers of a lazily-persisted frame each recompute its plan
    // until one commits partitions (the OperatorCache.materialize
    // contract)
    val src = OperatorCache.materialize(corpus.select(col(idCol), col(textCol)))
    try {
      val tasks: Seq[() => Unit] = Seq(
        layouts.textIndex.map(dir =>
          () => TextSearch.writeIndex(src, idCol, textCol, dir)),
        layouts.shingleIndex.map(dir =>
          () => Dedup.writeShingleIndex(src, idCol, textCol, dir)),
        layouts.dedupState.flatMap(d => vectors.map(v =>
          () => Similarity.writeDedupState(v, idCol, vecCol, d,
            dedupThreshold, dedupK))),
        layouts.annIndex.flatMap(a => vectors.map(v =>
          () => Similarity.writeIvfPq(v, a.vecCol, a.dir, a.coarse, a.books))),
      ).flatten
      runAll(tasks)
    } finally OperatorCache.release(src)
  }

  /** Run independent layout tasks concurrently, awaiting ALL of them
    * (never fail-fast: each layout assumes a single writer, so a caller
    * retry must not overlap a straggler sibling) and rethrowing the
    * first failure with the rest suppressed — the execution discipline
    * [[advance]] established, shared by [[build]] and [[compact]]. */
  private def runAll(tasks: Seq[() => Unit]): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done =
      try Await.result(
        Future.sequence(tasks.map(t => Future(Try(t())))), Duration.Inf)
      finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue,
          java.util.concurrent.TimeUnit.NANOSECONDS)
      }
    val failures = done.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Apply one recrawl batch to every registered layout.
    *
    * @param changed        changed-or-new docs as (idCol, textCol) —
    *                       upserted into the text layouts
    * @param deletedIds     ids that left the corpus (single column
    *                       `idCol`) — tombstoned everywhere
    * @param changedVectors the changed docs' re-embedded vectors,
    *                       named per the dedup state's stored params —
    *                       required for the dedupState layout to
    *                       advance (text layouts don't need it)
    */
  def advance(
      spark: SparkSession,
      changed: DataFrame, deletedIds: DataFrame,
      idCol: String, textCol: String,
      layouts: ServingLayouts,
      changedVectors: Option[DataFrame] = None,
  ): Unit = {
    // eager materialization, not lazy persist: the layouts' first
    // actions run CONCURRENTLY below, and concurrent consumers of a
    // lazily-persisted frame each recompute its full plan until one
    // commits partitions (the OperatorCache.materialize contract) —
    // the count() barrier makes every layout's read a cache hit
    val batch = OperatorCache.materialize(
      changed.select(col(idCol), col(textCol)))
    // deletes fan out to every registered layout — cache them too, so a
    // file-sourced CDC batch isn't re-read once per layout
    val dels = OperatorCache.materialize(deletedIds.select(col(idCol)))
    val vecs = changedVectors.map(OperatorCache.materialize(_))
    try {
      // each layout's lifecycle ops are ORDERED within the layout
      // (delete, then append under a fresh generation) but the four
      // layouts touch disjoint directories — so they advance on
      // concurrent threads over the shared session. Every op here is a
      // chain of small batch-sized jobs (latency-bound, the
      // ScaleBench lifecycle finding), so running layouts side by side
      // cuts the advance wall from the sum of the chains toward their
      // max. Per layout, the batch's RETIRE set (departed ids ∪ the
      // upserted ids' old versions) tombstones in ONE delete pass
      // before the append — the delete-then-update composition ran the
      // delete machinery twice per layout for the same final state
      // (r19 VERDICT item 6: p128's cost is job count, not data
      // volume; RecrawlSpec pins serving equality against the rebuild
      // either way).
      val batchIds = batch.select(col(idCol))
      val retireText = dels.unionByName(batchIds)
      val retireVec = vecs.fold(dels)(v => dels.unionByName(v.select(col(idCol))))
      val tasks: Seq[() => Unit] = Seq(
        layouts.textIndex.map(dir => () => {
          TextSearch.deleteFromIndex(spark, dir, retireText, idCol)
          TextSearch.appendIndex(batch, idCol, textCol, dir)
        }),
        layouts.shingleIndex.map(dir => () => {
          Dedup.deleteFromShingleIndex(spark, dir, retireText, idCol)
          Dedup.appendShingleIndex(batch, idCol, textCol, dir)
        }),
        layouts.dedupState.map(dir => () => {
          Similarity.deleteFromDedupState(spark, dir, retireVec, idCol)
          vecs.foreach(v => Similarity.appendDedupState(spark, dir, v))
        }),
        layouts.annIndex.map(a => () => {
          Similarity.deleteFromIndex(retireVec, idCol, a.dir)
          vecs.foreach(v =>
            Similarity.appendIvfPq(v, a.vecCol, a.dir, a.coarse, a.books))
        }),
      ).flatten
      // await ALL tasks, not fail-fast (see runAll): a rethrow on the
      // first failure would return while sibling layout tasks are still
      // mutating their directories and the finally below would
      // unpersist the shared frames mid-read
      runAll(tasks)
    } finally {
      // every consumer of the cached frames runs inside this call (the
      // layout writes are synchronous actions awaited above), so
      // release here rather than asking callers for a releaseAll —
      // which a shared-session streaming caller must NOT issue per
      // micro-batch
      OperatorCache.release(batch)
      OperatorCache.release(dels)
      vecs.foreach(OperatorCache.release)
    }
  }

  /** Compact every registered layout — the erasure point, run on the
    * operator's cadence (typically every N batches), not per batch. */
  def compact(spark: SparkSession, layouts: ServingLayouts): Unit =
    // disjoint directories, latency-bound rewrite chains — overlap them
    // like advance's (and build's) layout tasks
    runAll(Seq(
      layouts.textIndex.map(dir => () => TextSearch.compactIndex(spark, dir)),
      layouts.shingleIndex.map(dir =>
        () => Dedup.compactShingleIndex(spark, dir)),
      layouts.dedupState.map(dir =>
        () => Similarity.compactDedupState(spark, dir)),
      layouts.annIndex.map(a =>
        () => Similarity.compactIndex(spark, a.dir, a.idCol)),
    ).flatten)
}
