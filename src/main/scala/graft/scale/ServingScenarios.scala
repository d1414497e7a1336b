package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.pipeline.{Dedup, Recrawl, Similarity, TextSearch, TrainingPipeline}

/** Scale scenarios for the persisted serving layouts: probe cost as the
  * indexed corpus grows, and the recrawl lifecycle's batch-priced writes
  * against the corpus-priced alternatives.
  */
object ServingScenarios {

  private def replicaList(args: Seq[String]): Seq[Int] =
    args.headOption.getOrElse("1,10,20").split(",").map(_.trim.toInt).toSeq

  /** The LSH serving layout: write each ×N embeddings corpus as a
    * [[Similarity.writeIndexed]] bucket-partitioned index and probe it.
    * The claim: probe cost stays roughly FLAT while the corpus grows 20×,
    * because the bucket predicate prunes to the same `planes + 1`
    * partition directories at any corpus size — every probe plan is
    * asserted to carry PartitionFilters on `bucket` (no silent full
    * scans). [[Similarity.sq8TopK]] over the same corpora is the
    * contrast: a compressed full scan, growing linearly.
    */
  def ann(h: Harness, args: Seq[String]): Unit = {
    val emb = h.table("embeddings").select("vec_id", "embedding")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val warm = replicaList(args).flatMap { n =>
      val scaled = h.input(s"embeddings x$n")(Harness.replicate(emb, "vec_id", n))
      val path = s"target/graft-tmp/ann-scale/index_x$n"
      h.step(s"writeIndexed x$n")(Similarity.writeIndexed(scaled, "embedding", path, planes = 12))
      def probe() = Similarity.probeIndexed(
        h.spark, path, "vec_id", "embedding", query, k = 10, planes = 12)
      // the serving guarantee: the scan must prune on the bucket predicate
      val plan = probe().queryExecution.explainString(ExplainMode.fromString("formatted"))
      require(plan.contains("PartitionFilters") && plan.contains("bucket"),
        s"probe plan at x$n lost its PartitionFilters:\n$plan")
      // cold includes planning + file listing
      h.step(s"probe cold x$n")(probe().collect().length)
      val warm5 = h.step(s"probe warm x$n, 5 runs")((1 to 5).foreach(_ => probe().collect()))
      h.step(s"sq8TopK scan x$n") {
        Similarity.sq8TopK(h.spark.read.parquet(path).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", query, k = 10).collect().length
      }
      warm5.map(s => s.sec / 5)
    }
    if (warm.size > 1) println(f"probe warm growth: x${warm.last / warm.head}%.2f")
  }

  /** The IVF-PQ serving layouts: a probe reads only the nprobe pruned
    * centroid partitions and scores STORED m-int codes, so its cost grows
    * with the probed cells' population, not with index size; full
    * vectors are touched only for the rescore rows. Then batched serving
    * (one pass vs a per-query loop) and the LSH bulk-workload regimes.
    */
  def ivfpq(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val emb = h.table("embeddings").select("vec_id", "embedding")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    // model artifacts trained ONCE on the base corpus (replication would
    // not change the distribution, only the counts) — at real scale the
    // coarse/PQ models are trained on a sample for the same reason
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 8)
    val books = Similarity.trainPq(emb, "vec_id", "embedding", m = 8, k = 16)
    val resBooks = Similarity.trainPqResidual(emb, "vec_id", "embedding",
      coarse, m = 8, k = 16)
    val replicas = replicaList(args)

    replicas.foreach { n =>
      val scaled = h.input(s"embeddings x$n")(Harness.replicate(emb, "vec_id", n))
      val path = s"target/graft-tmp/ivfpq-scale/index_x$n"
      h.step(s"writeIvfPq x$n")(Similarity.writeIvfPq(scaled, "embedding", path, coarse, books))
      def probe() = Similarity.probeIvfPq(spark, path, "vec_id", "embedding",
        coarse, books, query, k = 10, nprobe = 3)
      // twice: the second is page-cache warm, like serving
      h.step(s"probeIvfPq x$n")(probe().collect().length)
      h.step(s"probeIvfPq x$n again")(probe().collect().length)
      val plan = probe().queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters: [centroid"),
        s"probe plan must prune centroid partitions:\n${plan.take(400)}")

      // residual layout: same pruning, stored residual codes, one extra
      // driver constant per probed cell — probe cost must track the raw
      // layout's
      val resPath = s"target/graft-tmp/ivfpq-scale/res_index_x$n"
      h.step(s"writeIvfPqResidual x$n") {
        Similarity.writeIvfPqResidual(scaled, "embedding", resPath, coarse, resBooks)
      }
      h.step(s"probeIvfPqResidual x$n") {
        Similarity.probeIvfPqResidual(spark, resPath, "vec_id", "embedding",
          coarse, resBooks, query, k = 10, nprobe = 3).collect().length
      }

      // workload serving: W queries through the per-query loop vs ONE
      // probeIvfPqBatch pass, both against the page-cache-warm raw
      // layout. The batch's wall grows with the UNION of probed cells,
      // not with W, while the loop pays W job round trips.
      val W = 64
      val qvecs = emb.where(col("vec_id") < W)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val queriesW = qvecs.collect().map(_.getSeq[Float](1).toSeq).toSeq
      val batch = h.step(s"probeIvfPqBatch x$n, $W queries") {
        Similarity.probeIvfPqBatch(qvecs, "qid", "qv", path,
          "vec_id", "embedding", coarse, books, k = 10, nprobe = 3).collect().length
      }
      val loop = h.step(s"probeIvfPq loop x$n, $W queries") {
        queriesW.map(q => Similarity.probeIvfPq(spark, path, "vec_id", "embedding",
          coarse, books, q, k = 10, nprobe = 3).collect().length).sum
      }
      for (b <- batch; l <- loop) require(b.value == l.value,
        s"batch and loop must return the same row count at x$n")
    }

    // LSH batched serving at a BULK workload: 1e5 queries against the
    // largest replica's LSH layout, once per regime. The bucket-union
    // probe collects at most cap+1 longs regardless of workload size, and
    // above the cap the join regime serves the same workload with ZERO
    // driver enumeration — a 1e5–1e6-query offline scoring pass cannot
    // OOM the driver.
    val scaledMax = h.input(s"embeddings x${replicas.max}")(
      Harness.replicate(emb, "vec_id", replicas.max))
    val nMax = scaledMax.count()
    val lshPath = "target/graft-tmp/ivfpq-scale/lsh_bulk"
    val planes = Similarity.planesFor(nMax)
    h.step(s"writeIndexed planes=$planes")(Similarity.writeIndexed(scaledMax, "embedding", lshPath, planes))
    val bigW = args.lift(1).map(_.trim.toInt).getOrElse(100000)
    val wReplicas = math.max(1, math.ceil(bigW.toDouble / nMax).toInt)
    val bulk = Harness.replicate(scaledMax, "vec_id", wReplicas)
      .limit(bigW)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // count(), not collect(): 1e5×k result rows stay distributed
    def lshServe(cap: Int) = Similarity.probeIndexedBatch(bulk, "qid", "qv", lshPath,
      "vec_id", "embedding", k = 10, planes, maxPrunedBuckets = cap).count()
    val pruned = h.step(s"LSH bulk $bigW queries, pruned (isin) regime")(lshServe(100000))
    val joined = h.step(s"LSH bulk $bigW queries, join regime")(lshServe(1))
    for (p <- pruned; j <- joined) require(p.value == j.value,
      s"regimes must serve identical workloads: ${p.value} vs ${j.value}")

    // THIRD regime at bulk scale: a small-bucket layout (planes = 12 →
    // 4096 buckets, ALWAYS under the prune cap) serving the same bulk
    // workload. Before the regime split this combination BROADCAST the
    // full workload×13 probe frame (gigabytes at 10⁶ queries, a job
    // abort); the workload-size probe now routes it to the shuffle join
    // while keeping the isin partition prune. The plan is asserted
    // broadcast-free.
    val lshSmallPath = "target/graft-tmp/ivfpq-scale/lsh_bulk_p12"
    h.step("writeIndexed planes=12")(Similarity.writeIndexed(scaledMax, "embedding", lshSmallPath, 12))
    val bulkServe = Similarity.probeIndexedBatch(bulk, "qid", "qv",
      lshSmallPath, "vec_id", "embedding", k = 10, planes = 12)
    val bulkPlan = bulkServe.queryExecution.executedPlan.toString
    require(!bulkPlan.contains("BroadcastHashJoin"),
      s"bulk workload must not broadcast the probe frame:\n${bulkPlan.take(400)}")
    require("PartitionFilters: \\[bucket".r.findFirstIn(bulkPlan).isDefined,
      s"small-bucket layout must keep the isin prune:\n${bulkPlan.take(400)}")
    h.step(s"LSH bulk $bigW queries, planes=12, pruned shuffle")(bulkServe.count())
  }

  /** The serving-layout lifecycle at corpus scale: applying a crawl delta
    * through [[Recrawl.advance]] costs BATCH work while the stateless
    * alternative (rebuild both layouts from the final corpus) costs
    * CORPUS work, and serving with tombstones pending adds ~nothing to
    * probe latency. Compaction IS corpus-priced (a full rewrite), which
    * is why it runs on a cadence, not per batch. Tombstoned ≡ compacted
    * ≡ rebuilt serving is asserted on both layouts.
    */
  def lifecycle(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val docs = Tables.load(spark, args.headOption.getOrElse("target/docs500k"), "documents")
      .select("doc_id", "text")
    val deltaPct = args.lift(1).map(_.toInt).getOrElse(1)
    val m = pmod(col("doc_id"), lit(100L))
    val changedGate = m < lit(deltaPct.toLong)                            // ~deltaPct% changed
    val deletedGate = m >= lit(deltaPct.toLong) && m < lit(2L * deltaPct) // ~deltaPct% deleted
    // v1 holds the pre-recrawl content for the changed slice
    val v1 = docs.select(col("doc_id"),
      when(changedGate, concat(lit("stale draft revision "), col("doc_id")))
        .otherwise(col("text")).as("text"))
    val changed = docs.where(changedGate)
      .select(col("doc_id"),
        concat(col("text"), lit(" recrawled revision tokens")).as("text"))
    val deleted = docs.where(deletedGate).select("doc_id")
    val finalCorpus = docs.where(!deletedGate)
      .select(col("doc_id"),
        when(changedGate, concat(col("text"), lit(" recrawled revision tokens")))
          .otherwise(col("text")).as("text"))
    // benchmark-sized blocklist for the decontamination probe
    val block = docs.where(pmod(col("doc_id"), lit(997L)) === 0)
    println(f"corpus ${docs.count()}%,d docs, delta = $deltaPct%% changed + $deltaPct%% deleted")

    val base = "target/graft-tmp/lifecycle-bench"
    val basePath = new org.apache.hadoop.fs.Path(base)
    basePath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(basePath, true)
    val layouts = Recrawl.ServingLayouts(
      textIndex = Some(s"$base/bm25"),
      shingleIndex = Some(s"$base/shingles"))

    h.step("build v1 (both layouts, once)") {
      TextSearch.writeIndex(v1, "doc_id", "text", s"$base/bm25")
      Dedup.writeShingleIndex(v1, "doc_id", "text", s"$base/shingles")
    }
    val advance = h.step("ADVANCE (the per-batch op)") {
      Recrawl.advance(spark, changed, deleted, "doc_id", "text", layouts)
    }
    val rebuild = h.step("rebuild (stateless alternative)") {
      TextSearch.writeIndex(finalCorpus, "doc_id", "text", s"$base/bm25_rb")
      Dedup.writeShingleIndex(finalCorpus, "doc_id", "text", s"$base/shingles_rb")
    }
    for (a <- advance; r <- rebuild) println(f"rebuild / advance: x${r.sec / a.sec}%.2f per batch")

    // the pruned BM25 probe (3 term buckets) barely sees its tombstone
    // anti-join; the decon probe scans every bucket (this blocklist's
    // shingles hash everywhere), so pending tombstones cost it one
    // broadcast anti-join over the whole postings scan — the serving tax
    // compaction exists to remove
    def serve(phase: String, bm: String, sh: String) = for {
      ranked <- h.step(s"serve bm25 $phase") {
        TextSearch.searchTopK(spark, bm, Seq("join", "vector", "filter"), k = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      }
      flagged <- h.step(s"serve decon $phase") {
        Dedup.probeContamination(spark, sh, block, "doc_id", "text", minOverlap = 3)
          .select("doc").collect().map(_.getLong(0)).toSet
      }
    } yield (ranked.value, flagged.value)
    val tombstoned = serve("tombstoned", s"$base/bm25", s"$base/shingles")
    h.step("compact (the cadence op)")(Recrawl.compact(spark, layouts))
    val compacted = serve("compacted", s"$base/bm25", s"$base/shingles")
    val rebuilt = serve("rebuilt", s"$base/bm25_rb", s"$base/shingles_rb")
    for (t <- tombstoned; r <- rebuilt) require(t == r,
      s"tombstoned serving != rebuild: bm25 ${t._1.take(3)} vs ${r._1.take(3)}; " +
        s"decon sizes ${t._2.size} vs ${r._2.size}")
    for (c <- compacted; r <- rebuilt) require(c == r, "compacted serving != rebuild")
    rebuilt.foreach(r => println(f"flagged ${r._2.size}%,d docs; bm25 top ${r._1.size} identical across phases"))
  }

  /** The incremental curation family: a recrawl batch costs BATCH work,
    * not corpus work. The documents split into a prior corpus
    * (`RECRAWL_PREV_PCT`, default 70%) and three equal batches; path A
    * re-curates prev ∪ batches(0..i) from scratch after each batch, path B
    * builds and persists the curate state once, then per batch runs
    * curateIncremental + appendState (batch-sized appends, prior state
    * never rewritten). Both paths must keep the SAME batch survivors.
    */
  def recrawl(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val docs = args.headOption.fold(h.table("documents"))(Tables.load(spark, _, "documents"))
      .select("doc_id", "text")
    // at 97 the three 1% batches model the real recrawl ratio, where the
    // corpus dwarfs the batch. Cuts are id PERCENTILES, not max-id
    // fractions — replica-offset test sets have sparse id spaces where a
    // max-id fraction can land between populated ranges and empty a batch.
    val prevPct = sys.env.getOrElse("RECRAWL_PREV_PCT", "70").toDouble
    val fracs = (0 to 3).map(i => (prevPct + i * (100.0 - prevPct) / 3) / 100.0)
    val cuts = docs
      .selectExpr(s"percentile(doc_id, array(${fracs.mkString(",")})) AS c")
      .head().getSeq[Double](0).map(_.toLong)
    val prev = docs.where(col("doc_id") <= cuts(0))
    val batches = (0 until 3).map(i =>
      docs.where(col("doc_id") > cuts(i) && col("doc_id") <= cuts(i + 1)))
    def survivors(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet

    // path A: re-curate the whole accumulated corpus after each batch,
    // keeping only the new batch's survivors for the comparison
    val recompute = (0 until 3).map { i =>
      h.step(s"recompute batch ${i + 1}") {
        val corpus = (0 to i).foldLeft(prev)((d, j) => d.union(batches(j)))
        survivors(TrainingPipeline.curate(corpus, "doc_id", "text",
          minQuality = 0.3, minWords = 20, spanK = 0)
          .where(col("doc_id") > cuts(i)))
      }
    }
    // path B: the production loop — state built and parquet-persisted
    // once, then per batch curateIncremental + appendState
    val stateDir = "target/graft-tmp/recrawl-state"
    val built = h.step("state build (once)") {
      TrainingPipeline.writeState(TrainingPipeline.curateState(prev, "doc_id", "text",
        minQuality = 0.3, minWords = 20), stateDir)
    }
    var state = TrainingPipeline.readState(spark, stateDir)
    val incremental = (0 until 3).map { i =>
      val kept = h.step(s"incremental batch ${i + 1}") {
        survivors(TrainingPipeline.curateIncremental(state, batches(i), "doc_id", "text"))
      }
      val advanced = h.step(s"advance batch ${i + 1}") {
        TrainingPipeline.appendState(state, batches(i), "doc_id", "text", stateDir,
          batchId = Some(s"bench_batch_$i"))
      }
      advanced.foreach(a => state = a.value)
      (kept, advanced)
    }

    (0 until 3).foreach { i =>
      for (a <- recompute(i); b <- incremental(i)._1) require(a.value == b.value,
        s"batch $i survivor mismatch: recompute=${a.value.size} incremental=${b.value.size} " +
          s"onlyRecompute=${(a.value -- b.value).toSeq.sorted.take(5)} " +
          s"onlyIncremental=${(b.value -- a.value).toSeq.sorted.take(5)}")
      incremental(i)._1.foreach(b => println(s"batch ${i + 1}: ${b.value.size} survivors"))
    }
    val totA = recompute.flatten.map(_.sec).sum
    val totB = built.map(_.sec).sum +
      incremental.flatMap { case (k, a) => k.map(_.sec) ++ a.map(_.sec) }.sum
    println(f"TOTAL recompute $totA%7.2f s   incremental $totB%7.2f s (x${totA / totB}%.2f)")
  }
}
