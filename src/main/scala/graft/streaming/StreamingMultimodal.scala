package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Multimodal, OperatorCache}

/** Streaming MULTIMODAL ingest gate — the tar-shard sibling of
  * [[StreamingCurate]]: watch a directory for new WebDataset shards
  * ([[graft.sources.WebDataset.readStream]]), and per micro-batch
  * decode both modalities, dedup against the rolling fingerprint state
  * (image pHash ∩ audio landmarks — [[Multimodal.curateShardsIncremental]]'s
  * rule, via the shared [[Multimodal.curateBatchCore]]), and hand the
  * KEPT samples to the sink. The state rolls forward, so a batch also
  * dedups against every earlier batch, not just the initial corpus —
  * with ids monotone across batches, the concatenated sink output
  * equals the one-shot [[Multimodal.curateShards]] over everything,
  * restricted to the streamed ids (the batch-restricted equivalence
  * the p118 oracle pins; asserted across micro-batch boundaries in
  * StreamingMultimodalSpec).
  *
  * State across batches: `foreachBatch` bodies run sequentially on the
  * query thread, so plain vars carry the (doc, fp) and
  * (doc, frame, peak_bin) frames; each advance `localCheckpoint`s the
  * union (otherwise batch N's plan nests N−1 unions re-decoding every
  * prior batch) and frees the superseded checkpoint once the new one
  * is materialized. On a real cluster prefer the parquet state layout
  * ([[Multimodal.writeMmState]] + append) so the state survives driver
  * restarts — same tradeoff as [[StreamingCurate]].
  */
object StreamingMultimodal {

  /** Attach the gate to a streaming member source
    * ([[graft.sources.WebDataset.readStream]] output: path/key/ext/
    * payload rows). `initialFp`/`initialPeaks` are the prior corpus's
    * state ([[Multimodal.writeMmState]] layout — select the
    * (doc, fp) / (doc, frame, peak_bin) columns off the parquet read,
    * which also carries the batch partition column — or empty frames
    * for a cold start). The sink receives one row per KEPT sample:
    * (key string, png binary, wav binary) — materialize what you need
    * (the standard foreachBatch contract).
    */
  def ingestGate(
      members: DataFrame, initialFp: DataFrame, initialPeaks: DataFrame,
      maxHamming: Int = 4, minFrames: Long = 5,
  )(sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(members.isStreaming, "ingestGate expects a streaming frame")
    var fpState = initialFp
    var pkState = initialPeaks
    var prevFp: DataFrame = null
    var prevPk: DataFrame = null
    members.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = Multimodal.membersOf(batch).persist(StorageLevel.MEMORY_AND_DISK)
        var batchFp: DataFrame = null
        var batchPk: DataFrame = null
        try {
          val (manifest, fpB, pkB) = Multimodal.curateBatchCore(
            spark, b, fpState, pkState, maxHamming, minFrames)
          batchFp = fpB
          batchPk = pkB
          val kept = b
            .groupBy(col("id").cast("string").as("key"))
            .agg(max(when(col("ext") === "png", col("payload"))).as("png"),
              max(when(col("ext") === "wav", col("payload"))).as("wav"))
            .join(broadcast(manifest.select(col("doc").cast("string").as("key"))),
              "key")
          sink(kept, batchId)
          // advance: the WHOLE batch's fingerprints roll forward (kept
          // and dropped — the next batch must dedup against both)
          val newFp = fpState.unionByName(fpB).localCheckpoint()
          val newPk = pkState.unionByName(pkB).localCheckpoint()
          if (prevFp != null) OperatorCache.releaseCheckpoint(prevFp)
          if (prevPk != null) OperatorCache.releaseCheckpoint(prevPk)
          prevFp = newFp
          prevPk = newPk
          fpState = newFp
          pkState = newPk
        } finally {
          // release only THIS batch's materialized frames — releaseAll
          // would unpersist every tracked frame in the shared session,
          // costing concurrent jobs their caches each micro-batch
          // (r15 ADVICE)
          if (batchFp != null) OperatorCache.release(batchFp)
          if (batchPk != null) OperatorCache.release(batchPk)
          b.unpersist(blocking = false)
        }
      }
  }
}
