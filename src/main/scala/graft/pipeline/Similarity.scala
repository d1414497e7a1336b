package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.unsafe.types.UTF8String

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - Brute-force cosine top-k is the baseline: a single linear scan with
  *    a TakeOrdered (no full sort, no shuffle of the corpus).
  *  - The scale path is sign-random-projection LSH: each vector maps to a
  *    bucket id from the signs of `planes` fixed pseudo-random hyperplane
  *    dot products. Search touches only the query's bucket (multi-probe
  *    widens to Hamming-1 neighbors). Bucket assignment is a pure
  *    expression; hyperplanes are generated from a fixed seed so results
  *    are deterministic.
  *
  * Dot products use zip_with + aggregate (codegen'd) — no UDFs.
  */
object Similarity {

  def dimOf(df: DataFrame, vecCol: String): Int = {
    require(df.schema(vecCol).dataType.isInstanceOf[ArrayType],
      s"$vecCol must be an array column")
    // head of a 1-row limit — driver-side constant, not a data collect
    df.select(size(col(vecCol))).limit(1).collect().headOption match {
      case Some(r) if !r.isNullAt(0) && r.getInt(0) > 0 => r.getInt(0)
      case Some(_) => throw new IllegalArgumentException(
        s"cannot infer embedding dimension: first '$vecCol' is null or empty")
      case None => throw new IllegalArgumentException(
        s"cannot infer embedding dimension of '$vecCol' from an empty corpus")
    }
  }

  /** Codegen'd dot product ([[graft.functions.DotProd]]) — same value,
    * same left-to-right double summation, as the former
    * `aggregate(zip_with(...))` lambda formulation, but a tight
    * primitive loop inside whole-stage codegen instead of an
    * interpreted higher-order function allocating an intermediate
    * array per row. The constructor goes through the session-free
    * expression→Column bridge, so no registry call is needed. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.DotProd(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Literal column for a query vector. */
  def vecLit(v: Seq[Float]): Column = array(v.map(x => lit(x)): _*)

  /** Baseline: exact top-k by cosine against one query vector. Catalyst
    * plans orderBy+limit as TakeOrderedAndProject — each partition keeps
    * only k rows, the driver merges k·p rows; nothing resembling a full
    * sort at 100 TB. Every single-query ANN path ends with it over its
    * candidates (probed buckets or cells, or the ADC/SQ8 cut).
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int,
  ): DataFrame =
    corpus
      .select(col(idCol), round(cosine(col(vecCol), vecLit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** [[bruteForceTopK]] over driver-resident (id, vector) pairs, for a
    * corpus too small to be worth a Spark job (the agent's trained
    * context). Same result, row for row: the [[dot]] left-to-right
    * double sums, `sqrt` norms, the cosine rounded HALF_UP to 6 places
    * as Spark's `round` treats a double (`BigDecimal.valueOf`), then
    * score descending with nulls last and id ascending in Spark's
    * binary UTF-8 order. A zero norm or a dimension mismatch scores
    * null — what the Spark path yields with ANSI off; with ANSI on it
    * raises DIVIDE_BY_ZERO instead.
    */
  def bruteForceTopKLocal(
      corpus: Iterable[(String, Array[Float])], query: Array[Float], k: Int,
  ): Seq[(String, Option[Double])] = {
    def dot(a: Array[Float], b: Array[Float]): Option[Double] =
      if (a.length != b.length) None
      else {
        var acc = 0.0
        var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        Some(acc)
      }
    val qNorm = math.sqrt(dot(query, query).get)
    def score(v: Array[Float]): Option[Double] =
      for {
        d <- dot(v, query)
        denom = math.sqrt(dot(v, v).get) * qNorm
        if denom != 0.0
        c = d / denom
      } yield round6(c)
    val order: Ordering[(String, Option[Double])] = (x, y) => (x._2, y._2) match {
      case (Some(a), Some(b)) if SQLOrderingUtil.compareDoubles(a, b) != 0 =>
        SQLOrderingUtil.compareDoubles(b, a)
      case (None, Some(_)) => 1
      case (Some(_), None) => -1
      case _ => Utf8Order.compare(x._1, y._1)
    }
    corpus.iterator.map { case (id, v) => (id, score(v)) }.toSeq.sorted(order).take(k)
  }

  /** `round(x, 6)` as Spark evaluates it on a double: HALF_UP through
    * `BigDecimal.valueOf`, NaN and infinities unchanged. */
  private[pipeline] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Spark's order of a string column: binary, by UTF-8 bytes. */
  private[pipeline] val Utf8Order: Ordering[String] =
    (x, y) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** Recall@k of an approximate top-k result against the exact one —
    * the standard ANN quality metric: |approx ∩ exact| / |exact| over
    * the returned id sets. Driver-side by design: both inputs are top-k
    * results (k rows), not corpora; this is the evaluation harness that
    * justifies an index's nprobe/planes settings before serving them.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String): Double = {
    val e = exact.select(idCol).collect().map(_.get(0)).toSet
    if (e.isEmpty) 1.0
    else {
      val a = approx.select(idCol).collect().map(_.get(0)).toSet
      e.intersect(a).size.toDouble / e.size
    }
  }

  /** Mean recall@k of a search strategy over a query workload, against
    * the exact [[bruteForceTopK]] answer per query.
    */
  def meanRecallAtK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: Seq[Seq[Float]], k: Int,
  )(search: Seq[Float] => DataFrame): Double = {
    require(queries.nonEmpty, "meanRecallAtK needs at least one query")
    queries.map { q =>
      recallAtK(bruteForceTopK(corpus, idCol, vecCol, q, k), search(q), idCol)
    }.sum / queries.size
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  def hyperplanes(dim: Int, planes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: bit p = sign(vec · plane_p). Expression-only. */
  def lshSignature(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column = {
    val hp = hyperplanes(dim, planes, seed)
    val bits = hp.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(vec, planeCol) >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Corpus with its bucket id materialized — at scale this is what you
    * would write out partitioned/bucketed by `bucket` so queries prune
    * partitions instead of scanning.
    */
  def indexed(corpus: DataFrame, vecCol: String, planes: Int = 12,
      seed: Long = 42L): DataFrame = {
    val d = dimOf(corpus, vecCol)
    corpus.withColumn("bucket", lshSignature(col(vecCol), d, planes, seed))
  }

  /** Persist the LSH index as parquet PARTITIONED BY bucket — the
    * serving layout: a probe query reads only its probe buckets'
    * directories (partition pruning, visible as PartitionFilters in the
    * scan), never the full corpus.
    */
  def writeIndexed(corpus: DataFrame, vecCol: String, path: String,
      planes: Int = 12, seed: Long = 42L): Unit = {
    LayoutFiles.recover(corpus.sparkSession, path)
    writeAnnGeneration(indexed(corpus, vecCol, planes, seed), "bucket", path,
      None, "lsh", Seq("planes" -> planes.toLong, "seed" -> seed))
  }

  /** Append a new vector batch to a [[writeIndexed]] LSH layout: the
    * hyperplanes are a pure function of (dim, planes, seed), so batch
    * bucket ids are computed independently and the append lands inside
    * the existing `bucket=` partition directories — probes see old and
    * new rows through the same pruned scan. Unlike IVF
    * ([[appendIvfPq]]) there is nothing trained to drift here; the
    * layout is append-only forever (compaction is a file-size concern,
    * not a recall concern).
    */
  def appendIndexed(batch: DataFrame, vecCol: String, path: String,
      planes: Int = 12, seed: Long = 42L): Unit = {
    val params = Seq("planes" -> planes.toLong, "seed" -> seed)
    LayoutFiles.recover(batch.sparkSession, path)
    writeAnnGeneration(indexed(batch, vecCol, planes, seed), "bucket", path,
      Some(annDescriptor(batch.sparkSession, path, params)), "lsh", params)
  }

  /** UPDATE re-embedded ids in a [[writeIndexed]] layout: tombstone
    * every current version (cutoff = the pre-append max_gen), then
    * append the new vectors under a fresh generation above it — ids
    * not yet indexed just append (the upsert shape, as in every
    * update of this family). */
  def updateIndexed(batch: DataFrame, idCol: String, vecCol: String,
      path: String, planes: Int = 12, seed: Long = 42L): Unit = {
    deleteFromIndex(batch.select(col(idCol)), idCol, path)
    appendIndexed(batch, vecCol, path, planes, seed)
  }

  /** Serve an ANN query from a [[writeIndexed]] layout: the bucket
    * predicate prunes partitions at planning time, so only
    * `planes + 1` directories (multi-probe) of the index are scanned.
    * Parameters must match the ones the index was written with.
    */
  def probeIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String,
      query: Seq[Float], k: Int, planes: Int = 12, seed: Long = 42L,
      multiProbe: Boolean = true,
  ): DataFrame = {
    annDescriptor(spark, path, Seq("planes" -> planes.toLong, "seed" -> seed))
    val probes = probeBuckets(query, planes, seed, multiProbe)
    bruteForceTopK(minusTombstones(spark, path, spark.read.parquet(path)
      .where(col("bucket").isin(probes: _*)), // → PartitionFilters, pruned scan
      idCol), idCol, vecCol, query, k)
  }

  /** The LSH buckets a query probes: its own signature (computed
    * driver-side — tiny, no Spark job) and, with `multiProbe`, every
    * Hamming-1 neighbour. */
  private def probeBuckets(query: Seq[Float], planes: Int, seed: Long,
      multiProbe: Boolean): Seq[Long] = {
    val hp = hyperplanes(query.length, planes, seed)
    val qSig = hp.zipWithIndex.map { case (plane, p) =>
      val d = plane.zip(query).map { case (w, x) => w * x.toDouble }.sum
      if (d >= 0) 1L << p else 0L
    }.reduce(_ | _)
    if (multiProbe) qSig +: (0 until planes).map(p => qSig ^ (1L << p))
    else Seq(qSig)
  }

  /** Workload-batched probe of a [[writeIndexed]] LSH layout — the
    * third member of the batched-serve family ([[probeIvfPqBatch]],
    * [[probeIvfPqResidualBatch]]): every query's signature and its
    * Hamming-1 multi-probe bucket set are computed map-only over the
    * workload (the hyperplanes are a pure function of (dim, planes,
    * seed), inlined as literals), the layout is scanned ONCE pruned to
    * the union of probed buckets, rows meet their probing queries
    * through a broadcast hash join on the bucket id (each row lives in
    * exactly one bucket, so no per-pair dedup is needed), and the
    * exact-cosine rank is a qid window under WindowGroupLimit. Results
    * equal a [[probeIndexed]] loop rank for rank (AnnRecallSpec).
    *
    * PRUNING and JOIN STRATEGY are two independent decisions (r19
    * VERDICT: conflating them left a workload-sized broadcast
    * reachable — a planes=12 layout classifies "pruned" for EVERY
    * workload, so a 10⁶-query bulk probe would broadcast ~13 GB of
    * full-vector probe rows):
    *
    * SCAN PRUNING — the bucket union is min(workload × (planes+1),
    * 2^planes) DISTINCT longs, workload-proportional, so it is never
    * collected blind. A bounded limit(cap+1) probe decides:
    *  - AT OR BELOW `maxPrunedBuckets` the union (≤ cap longs) becomes
    *    an `isin` partition filter: the layout scan reads only the
    *    probed `bucket=` directories — zero corpus I/O outside them.
    *  - ABOVE the cap nothing more is collected: at 10⁵+ distinct
    *    buckets the probe set approaches the whole bucket space (a
    *    planesFor-sized layout holds ~corpus/1000 buckets), so
    *    enumerating it buys no pruning while costing a driver-memory
    *    spike and a 10⁵-literal IN predicate. The scan stays unpruned
    *    and the equi-join below restricts it.
    *
    * JOIN STRATEGY — the probe frame is workload × (planes+1) rows
    * EACH CARRYING THE FULL QUERY VECTOR (~planes·dim·4 B per query),
    * so broadcasting it is only safe when the WORKLOAD is small; the
    * head probe (already paid for the dimension) is widened to
    * limit(n+1) — one bounded job, ints only — and decides:
    *  - AT OR BELOW `maxBroadcastQueries` query rows: broadcast hash
    *    join — the interactive-serving shape, no shuffle of corpus
    *    data (composes with the isin prune into the
    *    one-pruned-scan-zero-shuffle plan).
    *  - ABOVE it: plain bucket equi-join — one shuffle of the
    *    (possibly still partition-pruned) scan against the shuffled
    *    probe frame; the offline-bulk-scoring shape, no driver-memory
    *    or broadcast-limit cliff at any workload size.
    * All regime combinations produce identical rows (AnnRecallSpec
    * pins the equality and each regime's plan).
    *
    * @return (qid, rank, idCol, cosine), rank 1..k per qid
    */
  def probeIndexedBatch(
      workload: DataFrame, qidCol: String, qvecCol: String,
      path: String, idCol: String, vecCol: String,
      k: Int, planes: Int = 12, seed: Long = 42L,
      multiProbe: Boolean = true,
      maxPrunedBuckets: Int = 100000,
      maxBroadcastQueries: Int = 10000): DataFrame = {
    val spark = workload.sparkSession
    val d = annDescriptor(spark, path, Seq("planes" -> planes.toLong, "seed" -> seed))
    // ONE bounded job answers "is the workload empty", "what is the
    // embedding dimension" (r18 ADVICE: the isEmpty + dimOf pair cost
    // two scan jobs per serve), AND "is the workload small enough to
    // broadcast" (r19 VERDICT: the join strategy must key on workload
    // size, not bucket cardinality) — it collects at most
    // maxBroadcastQueries+1 ints, ~40 KB at the default cap
    val head = workload.select(size(col(qvecCol)))
      .limit(maxBroadcastQueries + 1).collect()
    if (head.isEmpty) {
      // the hyperplanes need the dimension, which only the data carries
      // here (no model artifact) — an empty workload has none, so
      // return the well-typed empty result directly (the descriptor
      // supplies the id type; no partition is scanned)
      import org.apache.spark.sql.types._
      val idT = d.schema(idCol).dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("qid", workload.schema(qidCol).dataType),
          StructField("rank", IntegerType, nullable = false),
          StructField(idCol, idT),
          StructField("cosine", DoubleType))))
    }
    val dim =
      if (!head(0).isNullAt(0) && head(0).getInt(0) > 0) head(0).getInt(0)
      else throw new IllegalArgumentException(
        s"cannot infer embedding dimension: first '$qvecCol' is null or empty")
    val sigd = workload
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
      .withColumn("__sig", lshSignature(col("__qv"), dim, planes, seed))
    val probeCols: Seq[Column] =
      if (multiProbe)
        col("__sig") +: (0 until planes).map(p =>
          col("__sig").bitwiseXOR(lit(1L << p)))
      else Seq(col("__sig"))
    val probes = sigd.withColumn("bucket", explode(array(probeCols: _*)))
      .select("qid", "__qv", "bucket")
    // bounded union probe: collects at most cap+1 longs regardless of
    // workload size — never the full workload-proportional union
    val sample = probes.select("bucket").distinct()
      .limit(maxPrunedBuckets + 1).collect()
    val pruned = sample.length <= maxPrunedBuckets
    // broadcast only a provably small probe frame (it carries full
    // query vectors) — the size came free with the head probe above
    val smallWorkload = head.length <= maxBroadcastQueries
    val scan = spark.read.parquet(path)
    val cells = minusTombstones(spark, path,
      if (pruned)
        scan.where(col("bucket").isin(
          sample.map(_.getLong(0)).toIndexedSeq: _*)) // → PartitionFilters
      else scan, // the equi-join below restricts to probed buckets
      idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col(idCol).asc)
    val paired =
      if (smallWorkload) cells.join(broadcast(probes), Seq("bucket"))
      else cells.join(probes, Seq("bucket"))
    paired
      .select(col("qid"), col(idCol),
        round(cosine(col(vecCol), col("__qv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", idCol, "cosine")
  }

  /** Plane count sized to the corpus: 2^planes buckets targeting
    * `targetBucketSize` vectors per bucket, so the multi-probe candidate
    * set stays big enough to hold the true neighbors. A fixed plane
    * count is wrong at BOTH ends — measured on the 500-vector fixture,
    * recall@10 falls 0.84 → 0.12 as planes grow 2 → 12 (buckets empty
    * out), while too few planes on a 100M-vector corpus means
    * million-row buckets and no pruning. ceil(log2(n / target)),
    * clamped to [1, 62] (the signature is packed into one long).
    */
  def planesFor(n: Long, targetBucketSize: Int = 1000): Int = {
    require(n > 0 && targetBucketSize > 0,
      s"need positive corpus and bucket sizes, got n=$n target=$targetBucketSize")
    val buckets = math.max(n.toDouble / targetBucketSize, 2.0)
    math.min(62, math.ceil(math.log(buckets) / math.log(2)).toInt)
  }

  /** ANN search: scan only the query's bucket (plus Hamming-1 probe
    * buckets when `multiProbe`), exact cosine within candidates. Size
    * `planes` with [[planesFor]] — recall collapses when the bucket
    * population is far below `k` (see [[recallAtK]] and AnnRecallSpec's
    * measured curve).
    */
  def annTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, planes: Int = 12, seed: Long = 42L,
      multiProbe: Boolean = true,
  ): DataFrame = {
    val probes = probeBuckets(query, planes, seed, multiProbe)
    val withBucket = corpus.withColumn("bucket",
      lshSignature(col(vecCol), query.length, planes, seed))
    bruteForceTopK(withBucket.where(col("bucket").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** IVF (inverted-file) index: k coarse centroids learned with a few
    * Lloyd iterations, each vector assigned to its nearest centroid.
    * At scale the assigned corpus is written partitioned by `centroid` so
    * a query scans only `nprobe` partitions.
    *
    * Centroid math runs as explode→groupBy dataflow (posexplode to
    * (row, dim) pairs, mean per (centroid, dim), collect back) — all
    * codegen'd aggregation, no driver-side vectors except the k
    * centroids themselves (k is small by construction).
    */
  final case class IvfIndex(centroids: Array[(Int, Array[Double])])

  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2): IvfIndex = {
    // deterministic init: Knuth-multiplicative-hash the id into k groups,
    // mean each. Portable integer arithmetic (id reduced mod 1e5 keeps
    // the product in signed-64 range) so external oracles can reproduce
    // the whole training trajectory.
    var assigned = corpus.select(col(vecCol).as("__vec"),
      pmod(pmod(col(idCol), lit(100000L)) * lit(2654435761L), lit(k.toLong))
        .cast("int").as("centroid"))
    var centroids = meanByCentroid(assigned)
    for (_ <- 1 to iters) {
      assigned = assignToNearest(corpus.select(col(vecCol).as("__vec")), centroids)
      centroids = meanByCentroid(assigned)
    }
    IvfIndex(centroids)
  }

  private def meanByCentroid(assigned: DataFrame): Array[(Int, Array[Double])] =
    assigned
      .select(col("centroid"), posexplode(col("__vec")))
      .groupBy(col("centroid"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy("centroid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dims"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toArray)
      .sortBy(_._1)

  /** Tag each row with its max-dot-product centroid.
    *
    * The centroid table rides along as ONE `typedlit` Literal
    * (`array<struct<id,vec>>` stored as Catalyst DATA, not as an
    * expression tree), scanned per row with transform + array_max. The
    * obvious alternatives both fail at real k: k literal `greatest()`
    * struct columns blow up codegen past a few hundred centroids
    * (k = n/10k means 10,000 columns on a 100M-doc corpus), and a
    * broadcast centroid join + min_by needs a unique row id plus a
    * full-corpus shuffle for the re-aggregation. This stays map-only —
    * zero shuffle, O(1) plan size in k, same O(k·dim) per-row compute.
    * Ties break to the larger id (array_max on struct(sim, id)),
    * matching the previous greatest() semantics exactly.
    */
  private def assignToNearest(vecs: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame = {
    val cents: Column = typedlit(centroids.toSeq.map {
      case (id, c) => (id, c.toSeq)
    })
    val scored = transform(cents, c =>
      struct(dot(col("__vec"), c.getField("_2")).as("sim"),
        c.getField("_1").as("id")))
    vecs.withColumn("centroid", array_max(scored).getField("id"))
  }

  /** Index the corpus: every row tagged with its centroid. Write this out
    * `.partitionBy("centroid")` for partition-pruned serving.
    *
    * The assignment is fanned out to cluster width when the corpus
    * arrives narrow (single-file scan ⇒ one task paying every k·dim dot
    * product serially — measured 1.7s of a 3.4s p20 call). Safe HERE
    * because assignment is map-only and per-row deterministic; ivfTrain
    * is deliberately NOT widened — Lloyd's mean aggregation over doubles
    * is summation-order-sensitive in ulps, and the correctness oracles
    * replay the exact training trajectory.
    */
  def ivfIndex(corpus: DataFrame, vecCol: String, index: IvfIndex): DataFrame =
    assignToNearest(Parallelize.ensureWide(corpus).withColumn("__vec", col(vecCol)),
      index.centroids)
      .drop("__vec") // "__vec" is reserved internally; user columns keep their names

  /** IVF search: rank centroids against the query driver-side (k values),
    * scan only the `nprobe` best cells, exact cosine within them.
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex, query: Seq[Float], k: Int, nprobe: Int = 3,
  ): DataFrame =
    bruteForceTopK(ivfIndex(corpus, vecCol, index)
      .where(inCells(rankCells(index, query, nprobe))), idCol, vecCol, query, k)

  /** Batched IVF recall audit — the ANN sibling of the LSH audit: for
    * a WORKLOAD of query vectors, exact top-k (brute force) and IVF
    * top-k (probe the best `nprobe` cells) computed in two distributed
    * passes, reporting per-query hit counts and recall@k. This is the
    * evaluation an index owner runs before changing nprobe/k settings,
    * expressed as one oracle-checkable plan instead of a driver loop
    * over [[ivfTopK]] calls.
    *
    * Both sides rank on the ROUNDED cosine with id tie-breaks, so an
    * external replay selects identical top-k sets. The query frame is
    * broadcast (workloads are small); the corpus never shuffles — both
    * rankings are per-query windows over broadcast-joined scans.
    *
    * @param queries (qid, qv) workload frame
    * @return (qid, n_hit, recall) per query, recall = n_hit over the
    *         per-query exact-row count (equals k except on corpora or
    *         probed cells smaller than k, where the exact count is the
    *         honest denominator)
    */
  def ivfRecallAudit(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int = 10, ivfK: Int = 8, nprobe: Int = 3,
      iters: Int = 2,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    emptyRecallCard(corpus) match {
      case Some(card) => return card
      case None =>
    }
    val index = ivfTrain(corpus, idCol, vecCol, ivfK, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toSeq.map { case (id, c) => (id, c.toSeq) }
      .toDF("cid", "cvec")
    // probe selection per query: same (dot desc, cid asc) rule as the
    // driver-side ivfTopK path
    val probes = queries.crossJoin(broadcast(centDf))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(dot(col("qv"), col("cvec")).desc, col("cid").asc)))
      .where(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cid"))
    val indexed = ivfIndex(corpus, vecCol, index)
    val wq = Window.partitionBy("qid")
    val approx = indexed.join(broadcast(probes), indexed("centroid") === probes("cid"))
      .select(col("qid"), col(idCol).as("vid"),
        round(cosine(col(vecCol), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq.orderBy(col("cos").desc, col("vid").asc)))
      .where(col("rn") <= k)
      .select("qid", "vid")
    val exact = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col(idCol).as("vid"),
        round(cosine(col(vecCol), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq.orderBy(col("cos").desc, col("vid").asc)))
      .where(col("rn") <= k)
      .select("qid", "vid")
    val ap = approx.withColumnRenamed("vid", "avid").withColumnRenamed("qid", "aqid")
    recallCard(exact, ap)
  }

  /** Degenerate-input guard shared by the ANN audits: an empty corpus
    * trains empty Lloyd codebooks (and [[dimOf]] cannot even infer a
    * dimension), so return an empty card with the (qid, n_hit, recall)
    * contract schema instead of an opaque training crash. The check is
    * a limit-1 probe, negligible next to the audit's exact sweep.
    */
  private def emptyRecallCard(corpus: DataFrame): Option[DataFrame] =
    if (corpus.isEmpty) {
      val spark = corpus.sparkSession
      import spark.implicits._
      Some(Seq.empty[(Long, Long, Double)].toDF("qid", "n_hit", "recall"))
    } else None

  /** Per-query recall card shared by the ANN audits: left-join the
    * exact top-k against the approximate set and normalize hits by the
    * per-query EXACT row count (not the literal k) — on a corpus or
    * probed cell smaller than k a perfect index still reports
    * recall 1.0, and no qid silently disappears from the card.
    */
  private def recallCard(exact: DataFrame, ap: DataFrame): DataFrame =
    exact.join(ap, col("qid") === col("aqid") && col("vid") === col("avid"), "left")
      .groupBy("qid")
      .agg(count(col("avid")).as("n_hit"), count(col("vid")).as("__n_exact"))
      .select(col("qid"), col("n_hit"),
        round(col("n_hit").cast("double") / col("__n_exact"), 6).as("recall"))

  /** Batched PQ recall audit — completes the audit family (LSH p89,
    * IVF p90): exact vs ADC-then-rescore top-k per query over a
    * workload, reporting per-query hits and recall@k — the measured
    * compression/recall trade the PQ code size buys. The batched ADC
    * evaluates dot(query-slice, codebook[code]) per row (audit cost;
    * the production single-query path precomputes the m·k lookup
    * table driver-side), with the same rounded-score-then-id candidate
    * cut as [[pqTopK]] so an external replay selects identical sets.
    *
    * @return (qid, n_hit, recall) per query
    */
  def pqRecallAudit(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, m: Int = 2, kBook: Int = 4, k: Int = 10,
      rescoreFactor: Int = 5,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    emptyRecallCard(corpus) match {
      case Some(card) => return card
      case None =>
    }
    val books = trainPq(corpus, idCol, vecCol, m, kBook)
    val dim = dimOf(corpus, vecCol)
    val sub = dim / m
    val encoded = pqEncode(corpus, vecCol, books)
    val adc = books.zipWithIndex.map { case (b, s) =>
      val bookLit: Column = typedlit(denseTable(b))
      dot(slice(col("qv"), s * sub + 1, sub),
        element_at(bookLit, element_at(col("codes"), s + 1) + 1))
    }.reduce(_ + _)
    val wq = Window.partitionBy("qid")
    val cands = encoded.crossJoin(broadcast(queries))
      .select(col("qid"), col("qv"), col(idCol).as("vid"),
        col(vecCol).as("__v"), round(adc, 6).as("adc"))
      .withColumn("rn", row_number().over(wq.orderBy(col("adc").desc, col("vid").asc)))
      .where(col("rn") <= k * rescoreFactor)
    val approx = cands
      .select(col("qid"), col("vid"),
        round(cosine(col("__v"), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq.orderBy(col("cos").desc, col("vid").asc)))
      .where(col("rn") <= k)
      .select("qid", "vid")
    val exact = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col(idCol).as("vid"),
        round(cosine(col(vecCol), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq.orderBy(col("cos").desc, col("vid").asc)))
      .where(col("rn") <= k)
      .select("qid", "vid")
    val ap = approx.withColumnRenamed("vid", "avid").withColumnRenamed("qid", "aqid")
    recallCard(exact, ap)
  }

  /** Product-quantization codebooks: the vector splits into `m`
    * contiguous subspaces and each learns a `k`-entry codebook by
    * reusing [[ivfTrain]]'s Lloyd loop on the sliced corpus (max-dot
    * assignment, deterministic portable init — so an external oracle
    * replays every subspace's full training trajectory). Encoded
    * vectors store m small ints (m bytes of information per vector at
    * k ≤ 256 — a dim·4/m compression), and queries score against codes
    * with the asymmetric dot decomposition
    * dot(q, v) ≈ Σ_s dot(q_s, codebook_s[code_s]) (ADC with
    * inner-product quantizers — the public ScaNN/Faiss-IP method).
    */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int = 2): Seq[IvfIndex] = {
    val dim = dimOf(corpus, vecCol)
    require(m > 0 && dim % m == 0, s"m ($m) must divide the dimension ($dim)")
    val sub = dim / m
    // sequential per-subspace training: m small Lloyd loops; the sliced
    // projection is narrow (ivfTrain's input is deliberately never
    // repartitioned — its mean aggregation is summation-order-sensitive)
    (0 until m).map { s =>
      ivfTrain(corpus.select(col(idCol),
        slice(col(vecCol), s * sub + 1, sub).as("__sub")),
        idCol, "__sub", k, iters)
    }
  }

  /** Tag each row with its m PQ codes: per subspace, the max-dot
    * codebook entry (ties to the larger id — the [[ivfTrain]]
    * assignment rule). Map-only; each subspace's codebook rides as one
    * typedlit literal. */
  def pqEncode(corpus: DataFrame, vecCol: String,
      books: Seq[IvfIndex]): DataFrame = {
    require(books.nonEmpty, "pqEncode needs at least one codebook")
    val dim = dimOf(corpus, vecCol)
    val m = books.length
    require(dim % m == 0, s"codebook count ($m) must divide the dimension ($dim)")
    val sub = dim / m
    val codeCols = books.zipWithIndex.map { case (b, s) =>
      val cents: Column = typedlit(b.centroids.toSeq.map {
        case (id, c) => (id, c.toSeq)
      })
      val sl = slice(col(vecCol), s * sub + 1, sub)
      array_max(transform(cents, c =>
        struct(dot(sl, c.getField("_2")).as("sim"),
          c.getField("_1").as("id")))).getField("id")
    }
    corpus.withColumn("codes", array(codeCols: _*))
  }

  /** PQ ANN: rank by the ADC score (per-subspace query⋅code lookup
    * tables computed once on the driver — m·k dots total), then exact
    * cosine rescoring of the top k·rescoreFactor, the [[sq8TopK]]
    * two-stage shape. The ADC score is rounded to 6 decimals BEFORE the
    * candidate cut (ties to id asc) so an external replay selects the
    * identical candidate set.
    */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      books: Seq[IvfIndex], query: Seq[Float], k: Int,
      rescoreFactor: Int = 5): DataFrame =
    pqAdcRescore(pqEncode(corpus, vecCol, books), idCol, vecCol,
      books, query, k, rescoreFactor)

  /** The ADC score expression over a `codes` column: per-subspace
    * query⋅codebook-entry lookup tables computed once on the driver
    * (m·k dots — bounded by the model, not the corpus) and inlined as
    * one typedlit; the per-row work is m table lookups + adds. Dense
    * per-subspace tables indexed by code id (absent ids — empty Lloyd
    * cells — keep slot 0.0; no code ever references them).
    */
  private def adcScore(books: Seq[IvfIndex], query: Seq[Float],
      sub: Int): Column = {
    val m = books.length
    val tables: Seq[Seq[Double]] = books.zipWithIndex.map { case (b, s) =>
      val qs = query.slice(s * sub, (s + 1) * sub).map(_.toDouble)
      val size = b.centroids.map(_._1).max + 1
      val t = Array.fill(size)(0.0)
      b.centroids.foreach { case (id, c) =>
        t(id) = qs.zip(c).map { case (a, x) => a * x }.sum
      }
      t.toSeq
    }
    val tablesLit: Column = typedlit(tables)
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (code, s) => element_at(element_at(tablesLit, s + 1), code + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** ADC candidate cut + exact rescore over an already-encoded source
    * (must carry `codes`) — the two-stage tail shared by [[pqTopK]]
    * (full-corpus scan) and the IVF-PQ paths (only the probed cells).
    * `adcConst` adds a per-row constant to the ADC score — the
    * dot(q, c_cell) term of the residual decomposition (zero for
    * raw-vector codebooks). */
  private def pqAdcRescore(encoded: DataFrame, idCol: String,
      vecCol: String, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      rescoreFactor: Int, adcConst: Column = lit(0.0)): DataFrame = {
    val sub = query.length / books.length
    val candidates = encoded
      .select(col(idCol), col(vecCol),
        round(adcConst + adcScore(books, query, sub), 6).as("adc"))
      .orderBy(col("adc").desc, col(idCol).asc)
      .limit(k * rescoreFactor)
    bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** IVF-PQ composition — the standard two-level ANN layout (public
    * Faiss `IndexIVFPQ` semantics, inner-product flavor): the coarse IVF
    * quantizer prunes the corpus to `nprobe` cells, then PQ-ADC ranks
    * ONLY within the probed cells, then exact cosine rescores the top
    * k·rescoreFactor. Compared to [[pqTopK]] (full-corpus ADC), the scan
    * is cut to ~nprobe/k_coarse of the corpus; compared to [[ivfTopK]]
    * (exact scoring in-cell), the in-cell work drops from dim multiplies
    * to m table lookups per row. Probe selection ranks the k coarse
    * centroids against the query on the DRIVER (k values — bounded by
    * the model), identically to [[ivfTopK]].
    */
  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    ivfPqTopKImpl(corpus, idCol, vecCol, coarse, books, query, k, nprobe,
      rescoreFactor, residual = false)

  /** [[ivfPqTopK]] and [[ivfPqResidualTopK]]: encode only the ranked
    * cells' rows, then the ADC cut + exact rescore, with the residual
    * decomposition's per-cell constant when `residual`. */
  private def ivfPqTopKImpl(
      corpus: DataFrame, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int, rescoreFactor: Int, residual: Boolean): DataFrame = {
    val ranked = rankCells(coarse, query, nprobe)
    pqAdcRescore(
      pqEncodeCells(corpus, vecCol, coarse, books, residual, Some(inCells(ranked))),
      idCol, vecCol, books, query, k, rescoreFactor, cellConst(ranked, residual))
  }

  /** The `nprobe` coarse cells whose centroids score the largest dot
    * with `query`, best first, as (cell, dot) — computed driver-side
    * (k values, bounded by the model); the sort is stable, so equal
    * dots keep centroid order. */
  private def rankCells(
      coarse: IvfIndex, query: Seq[Float], nprobe: Int): Array[(Int, Double)] = {
    val q = query.map(_.toDouble).toArray
    coarse.centroids
      .map { case (id, c) => (id, c.zip(q).map { case (a, b) => a * b }.sum) }
      .sortBy(-_._2).take(nprobe)
  }

  /** Row filter to the [[rankCells]] cells. */
  private def inCells(ranked: Array[(Int, Double)]): Column =
    col("centroid").isin(ranked.map(c => Integer.valueOf(c._1)).toIndexedSeq: _*)

  /** The ADC score's per-row constant: dot(q, c_cell) for residual
    * codes, zero for raw-vector codes. */
  private def cellConst(ranked: Array[(Int, Double)], residual: Boolean): Column =
    if (residual) element_at(typedlit(ranked.toMap), col("centroid")) else lit(0.0)

  /** Coarse-assign and PQ-encode `df` (rows kept by `cells`, if given):
    * raw codes over [[ivfIndex]]'s assignment, or residual codes over
    * [[residualFrame]] (widened — encoding is map-only), whose
    * transient residual column is dropped. */
  private def pqEncodeCells(
      df: DataFrame, vecCol: String, coarse: IvfIndex, books: Seq[IvfIndex],
      residual: Boolean, cells: Option[Column] = None): DataFrame = {
    def kept(f: DataFrame) = cells.fold(f)(f.where)
    if (residual)
      pqEncode(kept(residualFrame(df, vecCol, coarse, widen = true)), "__res", books)
        .drop("__res")
    else pqEncode(kept(ivfIndex(df, vecCol, coarse)), vecCol, books)
  }

  /** `index`'s centroids as one dense table indexed by id, the shape a
    * typedlit lookup needs (absent ids — empty Lloyd cells — hold zero
    * vectors; no row, code or probe references them). */
  private def denseTable(index: IvfIndex): IndexedSeq[Seq[Double]] = {
    val dense = Array.fill(index.centroids.map(_._1).max + 1)(
      Seq.fill(index.centroids.head._2.length)(0.0))
    index.centroids.foreach { case (id, c) => dense(id) = c.toSeq }
    dense.toIndexedSeq
  }

  /** Corpus with coarse assignment and the per-row RESIDUAL
    * `r = v − centroid(v)` (array<double>): the frame residual-PQ
    * codebooks train and encode on. The centroid table rides as one
    * dense typedlit indexed by centroid id (missing ids — empty Lloyd
    * cells — hold zero vectors; no row is ever assigned to them).
    *
    * `widen = false` is REQUIRED for the training path: Lloyd's mean
    * over doubles is summation-order-sensitive, and repartitioning the
    * frame that feeds it makes the external-oracle trajectory replay
    * flaky (the ivfTrain contract). The map-only encode path widens
    * safely.
    */
  private def residualFrame(corpus: DataFrame, vecCol: String,
      coarse: IvfIndex, widen: Boolean): DataFrame = {
    val base = if (widen) Parallelize.ensureWide(corpus) else corpus
    val assigned = assignToNearest(
      base.withColumn("__vec", col(vecCol)), coarse.centroids).drop("__vec")
    val centsLit: Column = typedlit(denseTable(coarse))
    assigned.withColumn("__res",
      zip_with(col(vecCol), element_at(centsLit, col("centroid") + 1),
        (a, b) => a.cast("double") - b))
  }

  /** Residual-PQ codebooks (the true Faiss `IndexIVFPQ` training): the
    * PQ quantizer learns the coarse-assignment RESIDUALS rather than
    * the raw vectors, so its k·m entries spend their resolution on the
    * within-cell structure the coarse quantizer can't express — the
    * standard accuracy upgrade over [[trainPq]] at identical code size.
    * Training input is deliberately NOT widened (see [[residualFrame]]).
    */
  def trainPqResidual(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: IvfIndex, m: Int, k: Int, iters: Int = 2): Seq[IvfIndex] = {
    // LAZY persist (not the eager barrier): each subspace's Lloyd loop
    // scans this frame iters+1 times and every scan would otherwise
    // re-run the coarse assignment's k·dim dot products per row — but
    // the training collects are strictly sequential, so the first pass
    // populates the cache with no concurrent consumer to race (the
    // barrier form would add a pass for nothing). Caching preserves
    // partitioning and in-partition order, so the mean trajectory the
    // oracle replays is unchanged — the thing that must never happen to
    // a Lloyd input is REPARTITIONING, not caching.
    val res = OperatorCache.persist(
      residualFrame(corpus, vecCol, coarse, widen = false)
        .select(col(idCol), col("__res")))
    trainPq(res, idCol, "__res", m, k, iters)
  }

  /** Residual IVF-PQ search. With the inner-product metric the ADC
    * decomposes as dot(q, v) ≈ dot(q, c_cell) + Σ_s dot(q_s,
    * book_s[code_s]) — v ≈ c + decode(codes), so the per-row work is
    * the SAME m table lookups as [[ivfPqTopK]] plus one per-cell
    * constant (nprobe driver-side dots); no per-cell query tables
    * needed (those are an L2 artifact). Candidate cut + exact cosine
    * rescore as everywhere in this family.
    */
  def ivfPqResidualTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    ivfPqTopKImpl(corpus, idCol, vecCol, coarse, books, query, k, nprobe,
      rescoreFactor, residual = true)

  /** [[writeIvfPq]] with residual codes — the serving layout residual
    * IVF-PQ deserves (it is the accuracy winner: recall@10 0.92 vs 0.72
    * for raw-vector codebooks at identical code size on the fixture).
    * The stored rows keep the raw vector (for the exact rescore) plus
    * the m-int residual codes; the transient residual column is dropped.
    */
  def writeIvfPqResidual(corpus: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex]): Unit =
    writePq(corpus, vecCol, path, coarse, books, residual = true)

  /** Append a batch into a [[writeIvfPqResidual]] layout — same
    * frozen-model contract and drift story as [[appendIvfPq]], with
    * the residual encode. */
  def appendIvfPqResidual(batch: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex]): Unit =
    appendPq(batch, vecCol, path, coarse, books, residual = true)

  /** [[updateIvfPq]] for the residual layout. */
  def updateIvfPqResidual(batch: DataFrame, idCol: String, vecCol: String,
      path: String, coarse: IvfIndex, books: Seq[IvfIndex]): Unit = {
    deleteFromIndex(batch.select(col(idCol)), idCol, path)
    appendIvfPqResidual(batch, vecCol, path, coarse, books)
  }

  /** Retrain-and-rewrite a [[writeIvfPq]] layout from its own LIVE
    * rows — the compaction-cadence answer to frozen-centroid drift
    * (every [[appendIvfPq]] encodes against centroids trained on an
    * older corpus; [[ivfRecallAudit]] is the trigger). The layout
    * carries the exact vectors (the rescore column), so the rebuild
    * needs no side channel: fold tombstones, train a FRESH coarse
    * index + codebooks on the survivors, re-encode, swap the staging
    * in. Generations reset to 0 — the fold erased every tombstone a
    * cutoff could name — and the caller gets the new (coarse, books)
    * back, because the model travels with the index (old artifacts
    * must not probe the new layout). At 100 TB this is one full-corpus
    * map-only encode job plus the write — no shuffle beyond Lloyd's
    * bounded aggregates.
    */
  def rebuildIvfPq(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, k: Int, m: Int, kBook: Int,
      iters: Int = 2,
  ): (IvfIndex, Seq[IvfIndex]) = {
    LayoutFiles.recover(spark, path)
    val live = OperatorCache.persist(
      minusTombstones(spark, path, spark.read.parquet(path), idCol)
        .select(col(idCol), col(vecCol)))
    try {
      val coarse = ivfTrain(live, idCol, vecCol, k, iters)
      val books = trainPq(live, idCol, vecCol, m, kBook)
      writeIvfPq(live, vecCol, LayoutFiles.staging(path), coarse, books)
      LayoutFiles.swap(spark, path)
      (coarse, books)
    } finally OperatorCache.release(live)
  }

  /** [[rebuildIvfPq]] for the persisted semantic-dedup state: retrain
    * the frozen coarse index on the state's LIVE vectors and rewrite
    * `assigned/` under the fresh cells — the drift answer for
    * [[writeDedupState]] (same audit-triggered cadence). Thresholds
    * and column names carry over; generations reset with the fold.
    */
  def rebuildDedupState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 0, iters: Int = 2,
  ): Unit = {
    LayoutFiles.recover(spark, dir)
    val (_, idCol, vecCol, threshold) = dedupState(spark, dir)
    val live = LayoutFiles.minus(spark.read.parquet(s"$dir/assigned"),
      LayoutFiles.tombstones(spark, dir), Seq(idCol, "gen"))
      .select(col(idCol), col(vecCol))
    writeDedupState(live, idCol, vecCol, LayoutFiles.staging(dir), threshold, k, iters)
    LayoutFiles.swap(spark, dir)
  }

  /** Probe a [[writeIvfPqResidual]] layout: pruned partitions, ADC over
    * stored residual codes plus the per-cell dot(q, c) constant, exact
    * rescore. */
  def probeIvfPqResidual(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    probePqImpl(spark, path, idCol, vecCol, coarse, books, query, k, nprobe,
      rescoreFactor, residual = true)

  /** Serving layout for [[ivfPqTopK]]: the corpus is coarse-assigned,
    * PQ-encoded ONCE at build time, and written `partitionBy(centroid)`
    * — codes are stored in the index, so probes pay no re-encoding. At
    * 100 TB this is the layout that matters: a probe reads `nprobe`
    * partition directories (planning-time pruning, visible as
    * PartitionFilters), scores m-byte codes, and touches full vectors
    * only for the k·rescoreFactor rescore rows.
    */
  def writeIvfPq(corpus: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex]): Unit =
    writePq(corpus, vecCol, path, coarse, books, residual = false)

  /** Incremental serving-index maintenance — the ANN sibling of
    * [[graft.pipeline.TrainingPipeline.curateIncremental]]'s recrawl
    * shape: assign a NEW vector batch to the EXISTING coarse centroids,
    * PQ-encode it with the existing codebooks, and APPEND it to a
    * [[writeIvfPq]] layout. No retrain, no rewrite: the append lands
    * new files inside the matching `centroid=` partition directories,
    * prior data is untouched, and every probe path picks the batch up
    * automatically (partition pruning sees the same directory keys).
    *
    * The frozen-centroid caveat is the standard IVF drift story: as
    * the corpus distribution moves away from the training sample,
    * cell balance and recall degrade — monitor with
    * [[ivfRecallAudit]] per release and retrain+rewrite at compaction
    * (the audit IS the trigger; at 100 TB a rewrite is a full-corpus
    * map-only encode job, no shuffle).
    */
  def appendIvfPq(batch: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex]): Unit =
    appendPq(batch, vecCol, path, coarse, books, residual = false)

  /** The descriptor parameters of a PQ layout: the model fingerprint,
    * and the `residual` flag (1 for residual codes) that lets layout
    * consumers ([[layoutKind]]) dispatch raw vs residual serving
    * without a side channel — the fingerprint alone cannot tell the
    * two encodings apart. */
  private def pqParams(
      coarse: IvfIndex, books: Seq[IvfIndex], residual: Boolean): Seq[(String, Long)] =
    Seq("model" -> modelFingerprint(coarse, books), "residual" -> (if (residual) 1L else 0L))

  /** [[writeIvfPq]] and [[writeIvfPqResidual]]: generation 0 of the layout. */
  private def writePq(corpus: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex], residual: Boolean): Unit = {
    LayoutFiles.recover(corpus.sparkSession, path)
    writeAnnGeneration(pqEncodeCells(corpus, vecCol, coarse, books, residual),
      "centroid", path, None, "ivfpq", pqParams(coarse, books, residual))
  }

  /** [[appendIvfPq]] and [[appendIvfPqResidual]]: the next generation. */
  private def appendPq(batch: DataFrame, vecCol: String, path: String,
      coarse: IvfIndex, books: Seq[IvfIndex], residual: Boolean): Unit = {
    val params = pqParams(coarse, books, residual)
    LayoutFiles.recover(batch.sparkSession, path)
    writeAnnGeneration(pqEncodeCells(batch, vecCol, coarse, books, residual),
      "centroid", path, Some(annDescriptor(batch.sparkSession, path, params)), "ivfpq", params)
  }

  /** UPDATE re-embedded ids in a [[writeIvfPq]] layout — the recrawl
    * shape for the ANN serving index (a document changed, its new
    * embedding must rank and its old one must stop): tombstone every
    * current version, then append the re-encoded batch under a fresh
    * generation. The cutoff-tombstone rule (see [[deleteFromIndex]])
    * is what makes the composition correct — the delete names versions
    * `gen <= cutoff`, the append lands above the cutoff. */
  def updateIvfPq(batch: DataFrame, idCol: String, vecCol: String,
      path: String, coarse: IvfIndex, books: Seq[IvfIndex]): Unit = {
    deleteFromIndex(batch.select(col(idCol)), idCol, path)
    appendIvfPq(batch, vecCol, path, coarse, books)
  }

  /** Probe a [[writeIvfPq]] layout: rank coarse centroids driver-side,
    * scan only the `nprobe` pruned partitions, ADC over the STORED
    * codes, exact rescore. `coarse`/`books` must be the artifacts the
    * index was written with (the model travels with the index at scale).
    */
  def probeIvfPq(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    probePqImpl(spark, path, idCol, vecCol, coarse, books, query, k, nprobe,
      rescoreFactor, residual = false)

  /** [[probeIvfPq]] and [[probeIvfPqResidual]]: the ranked cells'
    * pruned partitions minus tombstones, ADC over the stored codes
    * (plus the per-cell constant for residual codes), exact rescore. */
  private def probePqImpl(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], query: Seq[Float], k: Int,
      nprobe: Int, rescoreFactor: Int, residual: Boolean): DataFrame = {
    annDescriptor(spark, path, pqParams(coarse, books, residual))
    val ranked = rankCells(coarse, query, nprobe)
    val cells = minusTombstones(spark, path,
      spark.read.parquet(path).where(inCells(ranked)), idCol)
    pqAdcRescore(cells, idCol, vecCol, books, query, k, rescoreFactor,
      cellConst(ranked, residual))
  }

  /** Workload-batched probe of a [[writeIvfPq]] layout — the ANN
    * sibling of [[graft.pipeline.TextSearch.searchTopKBatch]]: top-k
    * per query over a whole query WORKLOAD (a decontamination audit,
    * a retrieval-eval sweep — 10⁴–10⁶ query vectors) in ONE pass over
    * the union of the probed cells, instead of a driver loop issuing
    * one pruned-scan job per query.
    *
    * Plan shape, stage by stage:
    *  1. probe selection is map-only over the workload — the coarse
    *     centroids ride as one typedlit and each query keeps its
    *     `nprobe` best cells under the [[ivfTopK]] ranking rule
    *     (dot desc, cell id asc on ties: array_sort on the
    *     (−dot, id) struct reproduces the stable driver-side sort);
    *  2. each query's dense ADC lookup table is ALSO computed map-only
    *     on the workload (m·k_code dots per QUERY — the amortization
    *     that makes ADC worth it; per-ROW work stays m lookups+adds,
    *     never dim multiplies);
    *  3. the layout is scanned ONCE, partition-pruned to the DISTINCT
    *     probed cells of the whole workload (the only driver round
    *     trip — a ≤k_coarse-element cell list, not per-query work);
    *  4. scan rows meet their probing queries through one broadcast
    *     hash join on the cell id (the broadcast side is
    *     workload × nprobe rows — workload-bounded by definition,
    *     exactly searchTopKBatch's qterms contract);
    *  5. the ADC candidate cut and the exact-cosine rescore are
    *     qid-partitioned windows kept to k·rescoreFactor / k rows by
    *     WindowGroupLimit — no global sort, no corpus-wide work.
    *
    * Scores, 6-decimal rounding, and every tie-break are IDENTICAL to
    * [[probeIvfPq]] — a 1-row workload returns exactly that query's
    * probe rows (pinned in AnnRecallSpec) — so the loop and the batch
    * are interchangeable, and the batch is the production default for
    * the embedding side of RRF fusion
    * ([[graft.pipeline.TextSearch.searchRrfBatch]]'s `vecRanks`).
    *
    * @param workload (qidCol, qvecCol: array&lt;float&gt;) query frame
    * @return (qid, rank, idCol, cosine), rank 1..k per qid, rank by
    *         (cosine desc, id asc) — the searchTopKBatch shape
    */
  def probeIvfPqBatch(
      workload: DataFrame, qidCol: String, qvecCol: String,
      path: String, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    probePqBatchImpl(workload, qidCol, qvecCol, path, idCol, vecCol,
      coarse, books, k, nprobe, rescoreFactor, residual = false)

  /** Workload-batched probe of a [[writeIvfPqResidual]] layout — the
    * residual sibling of [[probeIvfPqBatch]], same plan shape plus the
    * inner-product ADC decomposition's per-(query, cell) constant:
    * `dot(q, v) ≈ dot(q, c_cell) + Σ_s dot(q_s, book_s[code])`. The
    * constant is computed map-only on the workload's probe pairs
    * (workload × nprobe dots — never per corpus row) and rides the
    * broadcast join like the lookup tables. Results are identical to a
    * [[probeIvfPqResidual]] loop, rank for rank (AnnRecallSpec). */
  def probeIvfPqResidualBatch(
      workload: DataFrame, qidCol: String, qvecCol: String,
      path: String, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], k: Int,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame =
    probePqBatchImpl(workload, qidCol, qvecCol, path, idCol, vecCol,
      coarse, books, k, nprobe, rescoreFactor, residual = true)

  private def probePqBatchImpl(
      workload: DataFrame, qidCol: String, qvecCol: String,
      path: String, idCol: String, vecCol: String,
      coarse: IvfIndex, books: Seq[IvfIndex], k: Int,
      nprobe: Int, rescoreFactor: Int, residual: Boolean): DataFrame = {
    val spark = workload.sparkSession
    annDescriptor(spark, path, pqParams(coarse, books, residual))
    require(books.nonEmpty, "probeIvfPqBatch needs at least one codebook")
    // the model KNOWS its dimension — no data probe, and an empty
    // workload flows through to a well-typed empty result instead of
    // crashing a dimension inference
    val dim = coarse.centroids.head._2.length
    val m = books.length
    require(dim % m == 0, s"codebook count ($m) must divide the dimension ($dim)")
    val sub = dim / m
    val cents: Column = typedlit(coarse.centroids.toSeq.map {
      case (id, c) => (id, c.toSeq)
    })
    val probeCells = transform(
      slice(array_sort(transform(cents, c =>
        struct((-dot(col("__qv"), c.getField("_2"))).as("negsim"),
          c.getField("_1").as("cell")))), 1, nprobe),
      p => p.getField("cell"))
    // dense [subspace][code] codebook literal, dotted with the query's
    // subspace slice once per query
    val booksLit: Column = typedlit(books.map(denseTable))
    val tables = transform(sequence(lit(0), lit(m - 1)), s =>
      transform(element_at(booksLit, s + 1), entry =>
        dot(slice(col("__qv"), s * lit(sub) + 1, lit(sub)), entry)))
    // residual layouts add the decomposition's per-(query, cell)
    // constant dot(q, c_cell) — map-only on the probe pairs, dense
    // centroid literal indexed by cell id
    val aconst: Column = if (!residual) lit(0.0) else
      dot(col("__qv"), element_at(typedlit(denseTable(coarse)), col("centroid") + 1))
    // the broadcast side carries ONLY (qid, centroid, aconst) — ~24 B a
    // probe row. The wide per-query payload (the m×k_code ADC lookup
    // table plus the query vector itself) must NOT ride the centroid
    // broadcast: duplicated workload × nprobe times it reaches tens of
    // GB at the documented 10⁴–10⁶-query workloads (r18 ADVICE). It
    // joins in once per qid AFTER the cell join instead — and that join
    // piggybacks on the qid exchange the ADC-rank window pays anyway
    // (at fixture workloads AQE broadcasts the small qtables side, at
    // bulk workloads it shuffles qid-aligned with the window), so the
    // plan gains no exchange the old shape didn't have.
    val probes = workload
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
      .withColumn("centroid", explode(probeCells))
      .withColumn("__aconst", aconst)
      .select("qid", "centroid", "__aconst")
    val qtables = workload
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
      .withColumn("__tables", tables)
    val cellIds = probes.select("centroid").distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val cells = minusTombstones(spark, path, spark.read.parquet(path)
      .where(col("centroid").isin(cellIds.map(Integer.valueOf): _*)), idCol)
    // the single-query ADC expression ([[adcScore]]) with the lookup
    // tables read from the joined per-query row instead of a literal
    val adc = col("__aconst") + aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (code, s) => element_at(element_at(col("__tables"), s + 1), code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc").desc, col(idCol).asc)
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col(idCol).asc)
    cells.join(broadcast(probes), Seq("centroid"))
      .select(col("qid"), col(idCol), col(vecCol), col("codes"),
        col("__aconst"))
      .join(qtables, Seq("qid"))
      .select(col("qid"), col(idCol), col(vecCol), col("__qv"),
        round(adc, 6).as("adc"))
      .withColumn("__arank", row_number().over(wAdc))
      .where(col("__arank") <= k * rescoreFactor)
      .select(col("qid"), col(idCol),
        round(cosine(col(vecCol), col("__qv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(wCos))
      .where(col("rank") <= k)
      .select("qid", "rank", idCol, "cosine")
  }

  // --- serving-index lifecycle: delete + update + compact ------------

  /** The one write body of the three ANN layouts (LSH, IVF-PQ,
    * residual IVF-PQ): `rows` — bucketed or encoded, carrying the
    * partition column `part` — stamped generation `max_gen + 1` of the
    * `base` descriptor and appended, then the descriptor rolled to that
    * generation. A build passes no base: gen 0, Overwrite, and a `kind`
    * descriptor recording the WRITE-TIME `params` — (planes, seed) for
    * LSH, the model fingerprint and residual flag for PQ — so an append
    * or a probe with drifted parameters/artifacts fails fast
    * ([[annDescriptor]]) instead of silently mixing incompatible rows. */
  private def writeAnnGeneration(rows: DataFrame, part: String, path: String,
      base: Option[LayoutFiles.Descriptor], kind: String, params: Seq[(String, Long)]): Unit = {
    val gen = base.fold(0L)(_.maxGen + 1)
    val stamped = rows.withColumn("gen", lit(gen))
    stamped
      // cluster by the partition value before the partitioned write
      // (guide §6): an LSH layout has up to 2^planes bucket values, so
      // an unclustered write opens a parquet writer per (input
      // partition × touched bucket) — the p128-measured tiny-file
      // fan-out, worst of the whole family here. One exchange buys one
      // file set per bucket or cell at any core count.
      .repartition(col(part))
      .write.mode(if (base.isEmpty) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy(part).parquet(path)
    LayoutFiles.publish(rows.sparkSession, path, base.fold(LayoutFiles.Descriptor(kind, gen,
      Some(part), LayoutFiles.Descriptor.schemaOf(stamped, Some(part)))(params: _*))(
      _.copy(maxGen = gen)))
  }

  /** The descriptor of the ANN layout at `path`, failing when a
    * parameter in `expect` differs from the one the layout was written
    * with. */
  private def annDescriptor(
      spark: org.apache.spark.sql.SparkSession, path: String,
      expect: Seq[(String, Long)] = Nil): LayoutFiles.Descriptor = {
    val d = LayoutFiles.descriptor(spark, path,
      "Similarity.writeIndexed, writeIvfPq or writeIvfPqResidual")
    expect.foreach { case (k, v) =>
      val stored = d.param(k).asLong
      require(stored == v,
        s"$path was written with $k=$stored but this call passes $k=$v — appends and " +
          "probes must use the layout's own parameters/artifacts (mixing them silently " +
          "corrupts serving)")
    }
    d
  }

  /** The serving-layout families [[layoutKind]] can tell apart from a
    * layout's own descriptor. */
  sealed trait LayoutKind
  object LayoutKind {
    /** A [[writeIndexed]] LSH layout with its write-time parameters. */
    final case class Lsh(planes: Int, seed: Long) extends LayoutKind
    /** A [[writeIvfPq]] stored-code layout (raw-vector codebooks). */
    case object IvfPq extends LayoutKind
    /** A [[writeIvfPqResidual]] layout (residual codebooks). */
    case object IvfPqResidual extends LayoutKind
  }

  /** Identify which serving family wrote a layout from its descriptor
    * alone: the kind (`lsh` with its (planes, seed), or `ivfpq`) and,
    * for PQ layouts, the `residual` flag (raw and residual encodings
    * are indistinguishable by fingerprint — the flag closes that). This
    * is what lets one serving entry point ([[probeBatchAuto]],
    * [[graft.pipeline.TextSearch.searchRrfServed]]) accept any layout
    * path without a side channel naming its kind. */
  def layoutKind(
      spark: org.apache.spark.sql.SparkSession, path: String): LayoutKind = {
    val d = annDescriptor(spark, path)
    d.kind match {
      case "lsh" => LayoutKind.Lsh(d.param("planes").asInt, d.param("seed").asLong)
      case "ivfpq" =>
        if (d.param("residual").asLong == 1L) LayoutKind.IvfPqResidual else LayoutKind.IvfPq
      case other => throw new IllegalArgumentException(
        s"$path is a $other layout, not an ANN serving layout")
    }
  }

  /** Workload-batched serve of ANY written ANN layout — dispatches on
    * [[layoutKind]] to [[probeIndexedBatch]] / [[probeIvfPqBatch]] /
    * [[probeIvfPqResidualBatch]], so composed callers (served RRF, bulk
    * scoring) take a layout PATH and serve it without knowing which
    * family built it. The PQ families need their frozen model artifacts
    * (the model travels with the index); the LSH family reads its
    * (planes, seed) from the descriptor and ignores them.
    *
    * @return (qid, rank, idCol, cosine), rank 1..k per qid — the shared
    *         batch-probe shape
    */
  def probeBatchAuto(
      workload: DataFrame, qidCol: String, qvecCol: String,
      path: String, idCol: String, vecCol: String, k: Int,
      coarse: Option[IvfIndex] = None, books: Seq[IvfIndex] = Nil,
      nprobe: Int = 3, rescoreFactor: Int = 5): DataFrame = {
    def model: (IvfIndex, Seq[IvfIndex]) = (coarse.getOrElse(
      throw new IllegalArgumentException(
        s"$path is a PQ layout — probeBatchAuto needs its frozen " +
          "coarse/books artifacts")), books)
    layoutKind(workload.sparkSession, path) match {
      case LayoutKind.Lsh(planes, seed) =>
        probeIndexedBatch(workload, qidCol, qvecCol, path, idCol, vecCol,
          k, planes, seed)
      case LayoutKind.IvfPq =>
        val (c, b) = model
        probeIvfPqBatch(workload, qidCol, qvecCol, path, idCol, vecCol,
          c, b, k, nprobe, rescoreFactor)
      case LayoutKind.IvfPqResidual =>
        val (c, b) = model
        probeIvfPqResidualBatch(workload, qidCol, qvecCol, path, idCol,
          vecCol, c, b, k, nprobe, rescoreFactor)
    }
  }

  /** Order-sensitive fingerprint of the frozen artifacts a PQ layout
    * was encoded with — appends must present the SAME model. */
  private def modelFingerprint(coarse: IvfIndex, books: Seq[IvfIndex]): Long = {
    var h = 1125899906842597L
    def mix(x: Long): Unit = h = h * 31 + x
    (coarse +: books).foreach { ix =>
      ix.centroids.foreach { case (cid, c) =>
        mix(cid.toLong)
        c.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
      }
    }
    h
  }

  /** Tombstone-delete ids from ANY written serving layout
    * ([[writeIndexed]], [[writeIvfPq]], [[writeIvfPqResidual]]): one
    * CUTOFF row per id — (id, cutoff = the layout's current max_gen) —
    * appends under `_tombstones` inside the index root (see
    * [[LayoutFiles]]). The rule a probe applies is
    * "a row dies iff some tombstone names its id with
    * `row.gen <= cutoff`", which costs O(deletes) to record (one
    * descriptor read, no index scan, no live-version lookup) and makes
    * delete-then-append a correct UPDATE: the re-appended rows land at
    * `max_gen + 1 > cutoff` and survive the very tombstone that
    * retired their predecessors. A replayed delete at the same cutoff
    * adds nothing.
    *
    * Ids cast to the layout's stored key type first, failing fast on
    * any that does not cast ([[Keys.castIdsToStored]]): an uncast
    * string id against a long-keyed layout would break every later
    * probe. The stored type is the descriptor's column under `idCol`, or,
    * for a caller spelling the layout lacks, the type earlier deletes
    * recorded.
    */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    LayoutFiles.recover(spark, path)
    val d = annDescriptor(spark, path)
    val stored = d.schema.find(_.name == idCol)
      .orElse(LayoutFiles.tombstones(spark, path, mergeSchema = true)
        .flatMap(_.schema.find(_.name == "doc")))
      .getOrElse(throw new IllegalArgumentException(
        s"deleteFromIndex: $path has no id column '$idCol' and no " +
          "tombstones to take the key type from — pass the layout's id column"))
    // tombstones land under a FIXED column name regardless of the
    // caller's idCol spelling — two deletes with different spellings
    // would otherwise produce mixed-schema files that a later
    // spark.read silently collapses to one of them (r16 ADVICE); the
    // join side renames back to the layout's id column at probe time
    LayoutFiles.retire(
      Keys.castIdsToStored(ids, idCol, stored.dataType, "deleteFromIndex")
        .withColumn("cutoff", lit(d.maxGen)),
      path, Seq("doc", "cutoff"))
  }

  /** Drop tombstoned rows from an index scan (broadcast, delete-sized
    * — the probe's pruned slice stays map-only). Cutoff semantics: a
    * row dies iff a tombstone names its id with `row.gen <= cutoff`,
    * applied as a broadcast left join against the per-id MAX cutoff
    * plus a filter — so versions appended after the delete survive it
    * (the update contract). A layout or tombstone set without
    * generation columns (a pre-generation build) falls back to the
    * plain id anti-join. The caller names the LAYOUT's id column —
    * tombstones are stored under the fixed name "doc" (see
    * [[deleteFromIndex]]) and rename to it at join time, so a probe
    * whose idCol spelling differs from the deleter's still filters
    * (r16 ADVICE; pre-fix sets stored under the deleter's own idCol
    * normalize through the same rename). */
  private def minusTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      cells: DataFrame, idCol: String): DataFrame =
    // mergeSchema: a dir can hold files written BEFORE the fixed-name
    // fix (id under the deleter's own idCol) alongside new ones (id
    // under "doc"); without it spark picks one file's schema and the
    // other files' id column reads as null — those tombstones silently
    // stop filtering and deleted ids resurface
    LayoutFiles.tombstones(spark, path, mergeSchema = true).fold(cells) { t0 =>
      // the mergeSchema'd read surfaces a mixed legacy/new set as
      // parallel mostly-null id columns — the id is the COALESCE over
      // every non-cutoff column, cast to the layout's key type, so
      // every file's tombstones filter no matter which schema era
      // wrote them (r17 ADVICE)
      val idT = cells.schema(idCol).dataType
      val stored = t0.schema.fieldNames.filterNot(_ == "cutoff")
      val id = coalesce(stored.map(n => col(n).cast(idT)): _*).as(idCol)
      if (t0.columns.contains("cutoff") && cells.columns.contains("gen")) {
        // a null cutoff (a pre-generation file merged beside cutoff
        // files) means an UNCONDITIONAL delete, not "no tombstone" —
        // fold it to MaxValue so it kills every generation
        val cut = t0
          .select(id, coalesce(col("cutoff"), lit(Long.MaxValue)).as("cutoff"))
          .groupBy(idCol).agg(max("cutoff").as("__cutoff"))
        cells.join(broadcast(cut), Seq(idCol), "left")
          .where(col("__cutoff").isNull || col("gen") > col("__cutoff"))
          .drop("__cutoff")
      } else
        cells.join(broadcast(t0.select(id).distinct()),
          Seq(idCol), "left_anti")
    }

  /** Fold tombstones into the files and merge append-accumulated small
    * ones: rewrite the layout minus deleted ids — partitioned by the
    * descriptor's partition column, so probes prune identically after
    * the swap — and swap it in whole
    * ([[LayoutFiles.swap]]), which drops `_tombstones` with the old
    * root. Same operational slot as
    * [[graft.pipeline.TrainingPipeline.compactState]] and the IVF
    * drift retrain.
    *
    * @param idCol the LAYOUT's id column (what probes pass) — the
    *              tombstone set is stored under a fixed name, so the
    *              fold must be told which layout column it names
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): Unit = {
    LayoutFiles.recover(spark, path)
    val d = annDescriptor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    LayoutFiles.rewrite(root.getParent.toString, root.getName, d.partition)(
      minusTombstones(spark, path, spark.read.parquet(path), idCol))
    // the descriptor survives the swap VERBATIM (tombstones don't — they
    // were just folded in): losing the generation counter would let a
    // pre-compaction cutoff's number be reused by a later append, and
    // losing the recorded write parameters / model fingerprint would
    // disarm the mixed-artifact append guard
    LayoutFiles.publish(spark, LayoutFiles.staging(path), d)
    LayoutFiles.swap(spark, path)
  }

  /** Semantic decontamination: drop corpus rows whose embedding has
    * cosine ≥ `threshold` to ANY blocklist vector — the embedding-space
    * member of the decontamination family ([[Dedup.decontaminate]] is
    * the n-gram member; eval-set leakage survives paraphrase, which the
    * n-gram screen misses and an embedding screen catches).
    *
    * Scale shape: the blocklist is benchmark/eval-sized by definition,
    * so it is collected once and inlined as ONE `typedlit` literal (the
    * assignToNearest pattern — O(1) plan size, no broadcast exchange to
    * race), making the screen a single MAP-ONLY filter over the corpus:
    * zero shuffles, no join, nothing persisted. Cost is B·dim multiplies
    * per corpus row — the same work a broadcast nested-loop join would
    * do, without its exchange. An empty blocklist screens nothing.
    *
    * @return surviving corpus rows (original columns, unchanged)
    */
  def semanticDecontaminate(
      corpus: DataFrame, vecCol: String,
      blocklist: DataFrame, blockVecCol: String,
      threshold: Double,
  ): DataFrame = {
    // unit-normalize driver-side so the per-element lambda (interpreted,
    // re-evaluated per blocklist entry) pays ONLY the dot product:
    // max cos = max dot(v, b̂) / |v|, with |v| evaluated once per row —
    // measured 2.5s → 0.9s at sf0.1 vs the naive per-element cosine.
    // Zero-norm/null blocklist vectors contaminate nothing (cosine
    // undefined) and are dropped rather than poisoning the max with NaN.
    // The cast unifies array<float> and array<double> blocklist columns
    // on the driver read — the corpus side already accepts both element
    // types (MaxDotStatic.nullSafeEval); without it a double blocklist
    // threw ClassCastException.
    val bl: Seq[Seq[Double]] = blocklist
      .select(col(blockVecCol).cast("array<double>")).collect()
      .flatMap(r => Option(r.getSeq[Double](0)))
      .map(b => (b, math.sqrt(b.map(x => x * x).sum)))
      .collect { case (b, n) if n > 0 => b.map(_ / n).toSeq }.toSeq
    if (bl.isEmpty) return corpus
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val v = col(vecCol)
    // the B×d dot loop runs as the native codegen'd MaxDotStatic — the
    // array_max(transform(..., dot)) formulation is interpreted and
    // re-walks two folds per blocklist row per corpus row (measured
    // 1.26s vs 0.2s isolated-warm at sf0.1). Rounded to 6 decimals
    // BEFORE the compare (round is monotone, so round(max/|v|) = max
    // over rounded cosines) — the same boundary an external oracle
    // replays, keeping ulp-level libm differences from flipping a
    // threshold-straddling row
    val maxDot = graft.functions.GraftFunctions.maxDot(v, bl)
    val nrm = norm(v)
    // null / zero-norm corpus embeddings CANNOT be contaminated (no
    // direction to match) — keep them explicitly, as the doc promises
    // 'surviving corpus rows, unchanged'; without the guard the
    // predicate nulls out (null propagation) or goes NaN (0/0) and
    // silently dropped them
    corpus.where(v.isNull || nrm === 0.0 || round(maxDot / nrm, 6) < threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * cluster the embeddings with the IVF coarse quantizer, then inside
    * each cluster drop every vector that has a smaller-id neighbor with
    * cosine ≥ `threshold` (the greedy one-representative-per-ε-ball
    * policy, deterministic by id order). Pairwise comparison happens
    * ONLY within a cluster — the candidate join is an equi-join on
    * `centroid`, never a crossJoin, so the pair count is Σ n_c² over
    * cells rather than n². At scale, `k` is what bounds cell size:
    * SemDeDup runs with k in the tens of thousands on web corpora.
    *
    * `k` defaults to DERIVED from the corpus: ceil(n / 10 000) cells,
    * floor 8 — i.e. ~10k vectors per cell, so within-cell pair work stays
    * Σ n_c² ≈ n·10k (linear in n) instead of the n²/k² quadratic trap a
    * fixed small k becomes at real corpus sizes. Pass `k` explicitly to
    * override (the derivation costs one count() job).
    *
    * The input corpus (Lloyd training scans it iters+1 times) and the
    * per-cell assignment frame are cached — same construction-time
    * eagerness contract as [[Dedup.minhashNearDups]]: building the
    * operator runs the training scans and barrier count() jobs before
    * any action on the returned frame; released via
    * [[OperatorCache.releaseAll]].
    *
    * @param k number of IVF cells; ≤ 0 means derive as
    *   [[semanticDedupCellCount]](corpus count)
    * @return the surviving rows (original columns + `centroid`)
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 0, iters: Int = 2,
  ): DataFrame = {
    // Deriving k needs a count; ivfTrain then scans the corpus iters+1
    // more times. Persist the input ONCE so the upstream plan (often a
    // parquet scan + projection, but sometimes an expensive pipeline)
    // executes once instead of iters+2 times — released with the rest of
    // the operator's frames by the caller's OperatorCache.releaseAll.
    val src = if (k > 0) corpus else OperatorCache.persist(corpus)
    val cells = if (k > 0) k else semanticDedupCellCount(src.count())
    val index = ivfTrain(src, idCol, vecCol, cells, iters)
    // the assignment feeds both sides of the pair join AND the surviving
    // output — caching it computes the k dot products once per row
    // materialize, not just persist: a broadcast-planned side of the pair
    // join below would race the other consumers on computing the k dot
    // products per row (see OperatorCache.materialize)
    val assigned = OperatorCache.materialize(ivfIndex(src, vecCol, index))
    val a = assigned.select(col("centroid"),
      col(idCol).as("__id_a"), col(vecCol).as("__vec_a"))
    val b = assigned.select(col("centroid"),
      col(idCol).as("__id_b"), col(vecCol).as("__vec_b"))
    val drops = a.join(b, Seq("centroid"))
      .where(col("__id_a") < col("__id_b"))
      .where(round(cosine(col("__vec_a"), col("__vec_b")), 6) >= threshold)
      .select(col("__id_b").as("__drop")).distinct()
    assigned.join(drops, assigned(idCol) === drops("__drop"), "left_anti")
  }

  /** Incremental semantic dedup — the embedding-space member of the
    * recrawl family ([[graft.pipeline.TrainingPipeline.curateIncremental]]
    * for MinHash text, [[appendIvfPq]] for serving): dedup a NEW vector
    * batch against prior state without revisiting the prior corpus.
    * State = the FROZEN coarse index (`index`, trained on the prior
    * corpus) plus `priorAssigned` — the prior corpus's cell assignment
    * (`ivfIndex(prev, vecCol, index)`), which must cover ALL prior
    * vectors including ones prior dedup dropped (the pair graph needs
    * them, exactly like curateIncremental's `cleaned`).
    *
    * A batch vector dies iff its cell holds ANY prior vector with
    * cosine ≥ `threshold` (prior representative wins — with batch ids
    * above prior ids this is exactly [[semanticDedup]]'s smaller-id
    * rule) or a smaller-id batch vector with cosine ≥ `threshold`.
    * Both checks are centroid equi-joins: the prior side is touched
    * only through the batch's cells (partition-pruned when
    * priorAssigned is stored partitioned by centroid), never
    * re-scanned, so per-batch cost is batch-cell-local like every
    * operator in this family. Frozen-centroid drift is the
    * [[appendIvfPq]] story: retrain at compaction, with the p90/p96
    * audit as the trigger.
    */
  def semanticDedupIncremental(
      priorAssigned: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, index: IvfIndex, threshold: Double,
  ): DataFrame = {
    // the assignment feeds three consumers (both drop joins + the
    // output anti-join) — same materialize contract as semanticDedup
    val assigned = OperatorCache.materialize(ivfIndex(batch, vecCol, index))
    semanticDedupIncrementalAssigned(
      priorAssigned, assigned, idCol, vecCol, threshold)
  }

  /** [[semanticDedupIncremental]]'s core over a PRE-ASSIGNED batch
    * frame (centroid column present, already materialized if the
    * caller wants the three consumers to share it) — lets
    * [[semanticDedupFromState]] assign once and reuse the cells for
    * partition pruning. */
  private def semanticDedupIncrementalAssigned(
      priorAssigned: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
  ): DataFrame = {
    val b = assigned.select(col("centroid"),
      col(idCol).as("__id_b"), col(vecCol).as("__vec_b"))
    val priorDrops = b
      .join(priorAssigned.select(col("centroid"), col(vecCol).as("__vec_a")),
        Seq("centroid"))
      .where(round(cosine(col("__vec_a"), col("__vec_b")), 6) >= threshold)
      .select(col("__id_b").as("__drop"))
    val a = assigned.select(col("centroid"),
      col(idCol).as("__id_a"), col(vecCol).as("__vec_a"))
    val batchDrops = a.join(b, Seq("centroid"))
      .where(col("__id_a") < col("__id_b"))
      .where(round(cosine(col("__vec_a"), col("__vec_b")), 6) >= threshold)
      .select(col("__id_b").as("__drop"))
    assigned.join(priorDrops.unionByName(batchDrops).distinct(),
      assigned(idCol) === col("__drop"), "left_anti")
  }

  // --- persisted semantic-dedup state + lifecycle ---------------------

  /** Persist [[semanticDedupIncremental]]'s prior state as a LAYOUT —
    * the missing member of the serving-lifecycle family ([[writeIvfPq]]
    * for ANN, [[graft.pipeline.TextSearch.writeIndex]] for BM25,
    * [[graft.pipeline.Dedup.writeShingleIndex]] for decontamination):
    * the frozen coarse centroids travel WITH the assignment instead of
    * in the driver, so recrawl batches arriving weeks later dedup
    * against the same state with no side channel.
    *
    * Layout: `assigned/` — the FULL corpus assignment (including rows a
    * one-shot dedup would drop: the pair graph needs them), partitioned
    * by centroid so a batch probe reads only its own cells; `ids/` — the
    * id-keyed (id, gen) version table a DELETE reads instead of scanning
    * the centroid-partitioned frame; `centroids/` — the frozen index;
    * and the [[LayoutFiles.Descriptor]] — (id_col, vec_col, threshold)
    * and `max_gen`, so probes can't run with a drifted drop rule.
    * Appends stamp fresh generations, tombstones name (id, gen)
    * ([[LayoutFiles]]), so
    * [[updateDedupState]] = delete + append is a correct re-embed
    * UPDATE.
    */
  def writeDedupState(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      threshold: Double, k: Int = 0, iters: Int = 2,
  ): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    LayoutFiles.recover(spark, dir)
    LayoutFiles.clearTombstones(spark, dir)
    val src = if (k > 0) corpus else OperatorCache.persist(corpus)
    val cells = if (k > 0) k else semanticDedupCellCount(src.count())
    val index = ivfTrain(src, idCol, vecCol, cells, iters)
    index.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    writeDedupGeneration(src, index, idCol, vecCol, dir, threshold, None)
  }

  /** The one write body of the semantic-dedup state: `rows` assigned to
    * the frozen `index`, stamped generation `max_gen + 1` of the `base`
    * descriptor and appended to `assigned/` and `ids/`, then the
    * descriptor rolled to that generation. A build writes `centroids/`
    * first and passes no base: gen 0, Overwrite. */
  private def writeDedupGeneration(
      rows: DataFrame, index: IvfIndex, idCol: String, vecCol: String,
      dir: String, threshold: Double, base: Option[LayoutFiles.Descriptor]): Unit = {
    val gen = base.fold(0L)(_.maxGen + 1)
    val mode = if (base.isEmpty) SaveMode.Overwrite else SaveMode.Append
    val assigned = ivfIndex(rows, vecCol, index)
      .withColumn("gen", lit(gen))
      .select(col("centroid"), col(idCol), col(vecCol), col("gen"))
    assigned
      .repartition(col("centroid")) // one file set per cell (guide §6; see writeAnnGeneration)
      .write.mode(mode).partitionBy("centroid")
      .parquet(s"$dir/assigned")
    rows.select(col(idCol)).distinct().withColumn("gen", lit(gen))
      .write.mode(mode).parquet(s"$dir/ids")
    LayoutFiles.publish(rows.sparkSession, dir, base.fold(LayoutFiles.Descriptor("dedup_state",
      gen, Some("centroid"), LayoutFiles.Descriptor.schemaOf(assigned, Some("centroid")))(
      "id_col" -> idCol, "vec_col" -> vecCol, "threshold" -> threshold))(_.copy(maxGen = gen)))
  }

  /** The frozen coarse index of a [[writeDedupState]] layout. */
  def readDedupIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1))

  /** The descriptor of a [[writeDedupState]] layout and its (id_col,
    * vec_col, threshold). */
  private def dedupState(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = LayoutFiles.descriptor(spark, dir, "Similarity.writeDedupState")
    (d, d.param("id_col").asText, d.param("vec_col").asText, d.param("threshold").asDouble)
  }

  /** Dedup a NEW batch against a [[writeDedupState]] layout — the
    * persisted form of [[semanticDedupIncremental]]: assign the batch
    * ONCE to the stored frozen centroids, prune the prior side to the
    * batch's own cells with a literal partition-filter list (static
    * pruning, the probeContamination pattern — never the whole
    * assignment), drop tombstoned versions (a deleted prior vector no
    * longer suppresses arrivals — the retraction semantics), and apply
    * the stored threshold. Returns the surviving batch rows
    * (batch columns + `centroid`); advancing the state past the batch
    * is the separate [[appendDedupState]], so callers orchestrate
    * probe-then-advance exactly like
    * [[graft.pipeline.TrainingPipeline.curateIncremental]] +
    * `appendState`.
    */
  def semanticDedupFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame,
  ): DataFrame = {
    val (_, idCol, vecCol, threshold) = dedupState(spark, dir)
    val index = readDedupIndex(spark, dir)
    val assigned = OperatorCache.materialize(ivfIndex(batch, vecCol, index))
    val cells = assigned.select("centroid").distinct()
      .collect().map(r => Integer.valueOf(r.getInt(0)))
    val prior = LayoutFiles.minus(spark.read.parquet(s"$dir/assigned")
      .where(col("centroid").isin(cells.toIndexedSeq: _*)),
      LayoutFiles.tombstones(spark, dir), Seq(idCol, "gen"))
    semanticDedupIncrementalAssigned(prior, assigned, idCol, vecCol, threshold)
  }

  /** Advance a [[writeDedupState]] layout past a batch: assign to the
    * frozen centroids and append under a fresh generation — the FULL
    * batch, not just dedup survivors (the pair graph needs dropped rows
    * too, exactly like [[semanticDedupIncremental]]'s priorAssigned
    * contract). Batch ids must be NEW — a re-embedded id goes through
    * [[updateDedupState]]. Only `max_gen` rolls; prior files are never
    * read or rewritten.
    */
  def appendDedupState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame,
  ): Unit = {
    LayoutFiles.recover(spark, dir)
    val (d, idCol, vecCol, threshold) = dedupState(spark, dir)
    writeDedupGeneration(batch, readDedupIndex(spark, dir), idCol, vecCol, dir, threshold, Some(d))
  }

  /** Tombstone-delete ids from a [[writeDedupState]] layout: live
    * (id, gen) versions come from the id-keyed `ids/` table (one
    * map-side scan — the centroid-partitioned assignment is never
    * touched), land under `_tombstones` (see [[LayoutFiles]]), and
    * stop suppressing batch arrivals at the NEXT
    * [[semanticDedupFromState]] probe.
    */
  def deleteFromDedupState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idColArg: String,
  ): Unit = {
    LayoutFiles.recover(spark, dir)
    val (_, idCol, _, _) = dedupState(spark, dir)
    val want = ids.select(col(idColArg).as(idCol)).distinct()
    LayoutFiles.retire(spark.read.parquet(s"$dir/ids")
      .join(broadcast(want), Seq(idCol), "left_semi").select(idCol, "gen"),
      dir, Seq(idCol, "gen"))
  }

  /** UPDATE re-embedded ids in place (the recrawl shape: a document
    * changed, its new embedding must participate and its old one must
    * stop): tombstone the current versions, append the new vectors
    * under a fresh generation. Ids not yet in the state just append
    * (an upsert — mixed new/changed batches go through in one call).
    */
  def updateDedupState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idColArg: String,
  ): Unit = {
    deleteFromDedupState(spark, dir, batch.select(col(idColArg)), idColArg)
    appendDedupState(spark, dir, batch)
  }

  /** Fold tombstones into a [[writeDedupState]] layout AND merge
    * append-accumulated small files: rewrite `assigned/` (centroid
    * partition scheme preserved — probes prune identically after the
    * swap) and `ids/` minus the deleted versions, clear the set.
    * `max_gen` stays (reusing a dead generation number could
    * resurrect a same-numbered tombstone). Centroid drift from
    * accumulated appends is the [[rebuildDedupState]] story, on the
    * p90/p96-style audit's trigger.
    */
  def compactDedupState(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    LayoutFiles.recover(spark, dir)
    val (_, idCol, _, _) = dedupState(spark, dir)
    val t = LayoutFiles.tombstones(spark, dir)
    LayoutFiles.rewrite(dir, "assigned", Some("centroid"))(LayoutFiles.minus(
      spark.read.parquet(s"$dir/assigned"), t, Seq(idCol, "gen")))
    LayoutFiles.rewrite(dir, "ids", None)(LayoutFiles.minus(
      spark.read.parquet(s"$dir/ids"), t, Seq(idCol, "gen")))
    LayoutFiles.commit(spark, dir)
  }

  /** Derived IVF cell count for [[semanticDedup]]: ~10k vectors per cell
    * (ceil(n/10k)), floor 8 — keeps expected within-cell pair work at
    * ~n·10k, linear in corpus size.
    */
  def semanticDedupCellCount(n: Long): Int =
    math.max(8L, (n + 9999L) / 10000L).min(Int.MaxValue.toLong).toInt

  /** Symmetric scalar quantization (SQ8): each vector compressed to
    * int8 steps of `scale = max(|x|)/127` — a 4× smaller serving index
    * (the difference between an in-memory and a spilling ANN index at
    * 10B vectors). Cosine is SCALE-INVARIANT, so ranking on the
    * quantized vectors needs no dequantization; exact rescoring happens
    * only on the short candidate list.
    */
  def quantizeSq8(corpus: DataFrame, vecCol: String): DataFrame = {
    val scale = greatest(
      array_max(transform(col(vecCol), x => abs(x.cast("double")))), lit(1e-30)) / 127.0
    corpus
      .withColumn("__scale", scale)
      .withColumn("qvec",
        transform(col(vecCol),
          x => round(x.cast("double") / col("__scale"), 0).cast("int")))
      .drop("__scale")
  }

  /** Two-stage SQ8 ANN: rank ALL vectors by quantized cosine (int8 dot
    * products over the 4×-compressed index), keep `k × rescoreFactor`
    * candidates, then rescore exactly and return the top k. The full
    * corpus is touched only through the compressed representation.
    */
  def sq8TopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rescoreFactor: Int = 5,
  ): DataFrame = {
    val qMax = math.max(query.map(x => math.abs(x.toDouble)).max, 1e-30)
    // HALF_UP (away from zero), matching Spark's round() and external
    // round() semantics — math.round floors negative halves and would
    // disagree on exact half-steps
    val qQuant = query.map(x =>
      BigDecimal(x.toDouble / (qMax / 127.0))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
    val qCol = array(qQuant.map(lit): _*)
    val quantized = quantizeSq8(corpus, vecCol)
    val candidates = quantized
      .select(col(idCol), col(vecCol),
        round(cosine(col("qvec"), qCol), 6).as("qcos"))
      .orderBy(col("qcos").desc, col(idCol).asc)
      .limit(k * rescoreFactor)
    bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** Batch k-NN join: for EVERY query row, its top-k corpus neighbors via
    * shared LSH buckets — an equi-join on bucket, ranked per query. This
    * is the scale path for "join 1M queries against 10B vectors": shuffle
    * keys are buckets, never a crossJoin.
    */
  def annJoin(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, planes: Int = 8, seed: Long = 42L,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = dimOf(corpus, vecCol)
    val q = queries.select(col(qIdCol).as("query_id"), col(vecCol).as("qvec"),
      lshSignature(col(vecCol), dim, planes, seed).as("bucket"))
    val c = corpus.select(col(cIdCol).as("neighbor_id"), col(vecCol).as("cvec"),
      lshSignature(col(vecCol), dim, planes, seed).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
