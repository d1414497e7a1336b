package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** fastText-style linear text classifier over hashed unigram features,
  * trained with full-batch logistic-regression gradient descent — the
  * model-based quality/domain filter every web-corpus pipeline runs
  * (CCNet trains fastText on "looks like Wikipedia" labels and keeps
  * what scores well; RefinedWeb/DCLM distill rule screens the same
  * way). The reference repo has no model-based filtering at all
  * (pandasai/ is orchestration) — beyond-reference pipeline surface.
  * Papers: Joulin et al. 2016 (fastText); Wenzek et al. 2019 (CCNet).
  *
  * REPRODUCIBILITY (the whole design): the training trajectory is
  * engine-replayable, like ivfTrain's Lloyd iterations and Bpe.train's
  * merge sequence. Every step is fixed-point integer arithmetic at
  * scale 1e9 — feature counts are integers, weights are scaled longs,
  * sums are exact (order-independent) integer/decimal aggregates, and
  * divisions are explicit floor-divisions on exactly-divisible
  * numerators — EXCEPT the sigmoid, the one transcendental, whose
  * output is immediately rounded to the 1e9 grid so a last-ulp exp()
  * difference between engines dies at the epoch boundary instead of
  * compounding. A filter whose keep/drop decisions a training run
  * cannot replay later is a provenance bug.
  *
  * Model: P(y=1|doc) = sigmoid( sum_b w_b · c_b / n ) where c_b counts
  * the doc's tokens hashing (portable FNV-1a64, [[graft.functions.Fnv1a64]])
  * into bucket b of `numBuckets` and n is the doc's token count —
  * fastText's mean-of-bucket-embeddings with dim 1. numBuckets MUST be
  * a power of two: the oracle reduces the unsigned 64-bit hash mod 2^k,
  * Spark reduces the signed view, and the two agree exactly when the
  * modulus divides 2^64.
  *
  * Scale shape: the feature frame is one explode + one (doc, bucket)
  * hash aggregate — token-grained once, then bucket-grained (far
  * smaller than text) — cached across epochs. Each epoch is two
  * shuffles over that frame: a doc-keyed margin aggregate with the
  * weight vector riding as a typedlit array (map-side, zero shuffle
  * for the model — the ivfTrain centroid pattern; at production bucket
  * counts ~1M swap the literal for a broadcast weights join), and a
  * bucket-keyed gradient aggregate whose D-row result is collected.
  * Epochs are fixed training overhead, like ivfTrain/p42; scoring pays
  * one margin pass. No all-pairs anything, no per-row model state.
  */
object TextClassifier {

  /** Fixed-point scale: weights, sigmoid outputs, and residuals live on
    * the 1e9 integer grid. */
  val Scale: Long = 1000000000L

  final case class Model(weights: Array[Long], numBuckets: Int) {
    require(weights.length == numBuckets)
  }

  /** (doc, y, n, bucket, c): per-doc hashed-unigram counts plus the
    * carried label and token total. Docs with zero tokens are absent
    * (nothing to score — mirrored by the oracle's n > 0 gate).
    */
  def features(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      numBuckets: Int,
  ): DataFrame = {
    require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a power of two (oracle-portable modulus): $numBuckets")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val toks = Dedup.tokensOf(col(textCol))
    df.select(col(idCol).as("doc"), col(labelCol).cast("long").as("y"),
        explode(toks).as("tok"))
      .withColumn("bucket",
        pmod(GraftFunctions.fnv1a64(col("tok")), lit(numBuckets.toLong)).cast("int"))
      .groupBy("doc", "y", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc")))
  }

  /** Per-doc margin M = sum_b c_b·w_b (fixed-point: counts × scaled
    * weights) and the rounded sigmoid score s9 = round(1e9·σ(M/(n·1e9))).
    * M ≤ n·max|w| stays far under 2^53, so the double division is exact
    * enough that both engines compute the identical pre-round value to
    * within an ulp — which the 1e9-grid round then absorbs.
    */
  private def scored(feats: DataFrame, weights: Array[Long]): DataFrame = {
    val wLit = typedlit(weights.toSeq)
    feats
      .groupBy("doc", "y", "n")
      .agg(sum(col("c") * element_at(wLit, col("bucket") + 1)).as("mm"))
      .withColumn("s9",
        round(lit(Scale.toDouble) /
          (lit(1.0) + exp(-(col("mm").cast("double") /
            (col("n").cast("double") * lit(Scale.toDouble))))))
          .cast("long"))
  }

  /** Exact floor division for BigInt (numerators here are constructed
    * exactly divisible, so truncation vs floor is moot — but the floor
    * form is what the oracle SQL spells out, keep them identical). */
  private def floorDiv(a: BigInt, d: BigInt): BigInt = {
    val m = ((a % d) + d) % d
    (a - m) / d
  }

  /** Train `epochs` full-batch GD steps at learning rate lrNum/lrDen
    * from zero weights. Labels must be 0/1 in `labelCol`. The epoch
    * update, identically on both engines:
    *   r   = s9 − y·1e9                      (residual, fixed-point)
    *   f   = floordiv(r, n)                  (per-doc factor; |r| ≤ 1e9)
    *   g_b = Σ_docs f·c_b                    (exact decimal sum)
    *   w'  = w − floordiv(lrNum·g_b, lrDen·N)
    * where N = number of scored docs. All exact integer arithmetic —
    * the sigmoid rounding inside s9 is the only float step.
    */
  def train(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      numBuckets: Int = 256, epochs: Int = 3, lrNum: Long = 1, lrDen: Long = 2,
  ): Model = {
    val feats = OperatorCache.materialize(features(df, idCol, textCol, labelCol, numBuckets))
    trainOnFeatures(feats, numBuckets, epochs, lrNum, lrDen)
  }

  /** The GD loop over a PREBUILT feature frame (doc, y, bucket, c, n) —
    * shared by [[train]] (hashed word unigrams) and
    * [[LangId.train]] (hashed character n-grams, one binary model per
    * language): the feature extractor is the pluggable part, the
    * fixed-point trajectory is not. The caller owns persisting `feats`
    * (it is scanned 2×epochs + once here).
    */
  def trainOnFeatures(
      feats: DataFrame, numBuckets: Int, epochs: Int,
      lrNum: Long = 1, lrDen: Long = 2,
  ): Model = {
    require(epochs >= 1, s"epochs must be >= 1: $epochs")
    require(lrNum > 0 && lrDen > 0, s"learning rate must be positive: $lrNum/$lrDen")
    val n = feats.select("doc").distinct().count()
    require(n > 0, "train: no documents with tokens")
    var w = Array.fill(numBuckets)(0L)
    for (_ <- 1 to epochs) {
      val grads = scored(feats, w)
        .withColumn("f", ((col("s9") - col("y") * Scale) -
          pmod(col("s9") - col("y") * Scale, col("n"))) / col("n"))
        .select(col("doc"), col("f").cast("long").as("f"))
        .join(feats, "doc")
        .groupBy("bucket")
        .agg(sum((col("f") * col("c")).cast("decimal(38,0)")).as("g"))
        .collect()
        .map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger))
        .toMap
      w = w.indices.map { b =>
        val g = grads.getOrElse(b, BigInt(0))
        (BigInt(w(b)) - floorDiv(g * lrNum, BigInt(lrDen) * n)).toLong
      }.toArray
    }
    Model(w, numBuckets)
  }

  /** L one-vs-rest trajectories over a SHARED feature frame in
    * LOCKSTEP — value-identical to L independent [[trainOnFeatures]]
    * runs (each model's update reads only its own margins, residuals
    * and weights; the fixed-point math is fully per-model), but each
    * epoch runs ONE doc-keyed margin aggregate computing all L margins
    * and ONE bucket-keyed gradient aggregate computing all L gradient
    * sums, instead of L of each — so training cost stops scaling its
    * JOB COUNT with the language count (r21: the per-language loop made
    * p122 a 69-job query; the suite is action-bound at sf0.1).
    *
    * @param feats (doc, bucket, c, n, y0..y{L-1}) — per-doc hashed
    *              features plus one 0/1 label column PER MODEL, named
    *              y0..y{L-1}; the same doc set for every model (the
    *              one-vs-rest construction guarantees it)
    */
  def trainMultiOnFeatures(
      feats: DataFrame, numModels: Int, numBuckets: Int, epochs: Int,
      lrNum: Long = 1, lrDen: Long = 2,
  ): Seq[Array[Long]] = {
    require(epochs >= 1, s"epochs must be >= 1: $epochs")
    require(numModels >= 1, s"numModels must be >= 1: $numModels")
    require(lrNum > 0 && lrDen > 0, s"learning rate must be positive: $lrNum/$lrDen")
    val n = feats.select("doc").distinct().count()
    require(n > 0, "train: no documents with tokens")
    val ys = (0 until numModels).map(i => s"y$i")
    val ws = Array.fill(numModels)(Array.fill(numBuckets)(0L))
    for (_ <- 1 to epochs) {
      // one margin pass: all L margins per doc, then per-model residual
      // factors f_i — the exact per-model expressions of trainOnFeatures
      val margins = (0 until numModels).map { i =>
        val wLit = typedlit(ws(i).toSeq)
        sum(col("c") * element_at(wLit, col("bucket") + 1)).as(s"mm$i")
      }
      val sc = feats
        .groupBy(col("doc") +: col("n") +: ys.map(col): _*)
        .agg(margins.head, margins.tail: _*)
      val withF = (0 until numModels).foldLeft(sc) { (d, i) =>
        val s9 = round(lit(Scale.toDouble) /
          (lit(1.0) + exp(-(col(s"mm$i").cast("double") /
            (col("n").cast("double") * lit(Scale.toDouble)))))).cast("long")
        val r = s9 - col(s"y$i") * Scale
        d.withColumn(s"f$i", ((r - pmod(r, col("n"))) / col("n")).cast("long"))
      }
      // one gradient pass: all L exact decimal sums per bucket
      val gradAggs = (0 until numModels).map(i =>
        sum((col(s"f$i") * col("c")).cast("decimal(38,0)")).as(s"g$i"))
      val grads = withF
        .select(col("doc") +: (0 until numModels).map(i => col(s"f$i")): _*)
        .join(feats.select("doc", "bucket", "c"), "doc")
        .groupBy("bucket")
        .agg(gradAggs.head, gradAggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) ->
          (0 until numModels).map(i => BigInt(r.getDecimal(i + 1).toBigInteger)))
        .toMap
      for (i <- 0 until numModels; b <- 0 until numBuckets) {
        val g = grads.get(b).map(_(i)).getOrElse(BigInt(0))
        ws(i)(b) = (BigInt(ws(i)(b)) - floorDiv(g * lrNum, BigInt(lrDen) * n)).toLong
      }
    }
    ws.toSeq
  }

  /** Score every tokenful doc: (doc, n_tokens, score9, pred) — score9
    * on the 1e9 grid, pred = 1 iff the margin is strictly positive
    * (σ > 0.5), an integer-exact decision. */
  def score(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      model: Model,
  ): DataFrame =
    scored(features(df, idCol, textCol, labelCol, model.numBuckets), model.weights)
      .select(col("doc"), col("n").as("n_tokens"), col("s9").as("score9"),
        when(col("mm") > 0, 1).otherwise(0).as("pred"), col("y"))

  /** Model-based corpus screen: keep rows whose score9 meets the floor
    * (labels are not needed to score — a constant rides through the
    * feature frame). Original columns preserved via an id-keyed
    * semi-join; zero-token docs are dropped (they have no score, and a
    * quality screen that passes empty docs is a bug, not a default).
    *
    * @param precomputed an existing [[score]] frame over the SAME df and
    *                    model, when the caller already scored the corpus
    *                    (e.g. to derive a data-dependent floor) — skips a
    *                    second full tokenize+hash+margin pass
    */
  def screen(
      df: DataFrame, idCol: String, textCol: String, model: Model,
      minScore9: Long,
      precomputed: Option[DataFrame] = None,
  ): DataFrame = {
    val scores = precomputed.getOrElse(
      score(df.withColumn("__y", lit(0L)), idCol, textCol, "__y", model))
    val keep = scores
      .where(col("score9") >= minScore9)
      .select(col("doc").as("__keep_doc"))
    df.join(keep, df(idCol) === col("__keep_doc"), "left_semi")
  }

  /** The trained weight vector as a frame: (bucket, w). */
  def modelFrame(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.weights.zipWithIndex.map { case (w, b) => (b, w) }
      .toSeq.toDF("bucket", "w")
  }

  /** Calibration card over a [[score]] frame — the audit that makes a
    * screen threshold MEAN something: bucket the predicted probability
    * (score9 on the 1e9 grid) into `buckets` equal bins and report,
    * per occupied bin, the doc count, the mean predicted probability,
    * the EMPIRICAL positive rate, and their absolute gap (the
    * reliability-diagram rows; sum n·gap/N externally for ECE). A
    * screen like [[screen]] trusts that score ≥ t implies quality —
    * this card is the measured check, produced by ONE map-side-
    * combined aggregate over the already-scored frame.
    *
    * Engine-portable by construction: bins are integer arithmetic on
    * score9, and both means divide EXACT integer sums once (the repo's
    * decimal-accumulate convention) — no float summation order
    * anywhere, so an external oracle lands on identical doubles.
    *
    * @param scored a [[score]] output with real labels in `y`
    * @return (bin, n_docs, mean_score, pos_rate, gap), bin ascending,
    *         only occupied bins (empty bins have no row — a reliability
    *         diagram over zero docs is undefined, not zero)
    */
  def calibrationCard(scored: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    // score9 ≤ 1e9 and buckets are small, so score9·buckets < 2^53:
    // the double division is exact at every true-integer boundary and
    // floor() is therefore engine-stable
    val bin = least(
      floor(col("score9").cast("double") * buckets / lit(Scale.toDouble)),
      lit(buckets - 1)).cast("int")
    scored.withColumn("bin", bin).groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("score9")).as("__s"),
        sum(col("y").cast("long")).as("__p"))
      .select(col("bin"), col("n_docs"),
        round(col("__s").cast("double") /
          (col("n_docs").cast("double") * lit(Scale.toDouble)), 6).as("mean_score"),
        round(col("__p").cast("double") / col("n_docs").cast("double"), 6).as("pos_rate"),
        round(abs(
          col("__s").cast("double") / (col("n_docs").cast("double") * lit(Scale.toDouble)) -
            col("__p").cast("double") / col("n_docs").cast("double")), 6).as("gap"))
  }
}
