package graft.pipeline

import graft.SparkSpec

/** Rebuilding a persisted layout in place (the same writer over the same
  * dir) starts from an empty tombstone set: a delete made against the
  * old contents must not hide the rebuilt rows, which carry gen 0 again.
  * One case per family whose writer overwrites its tables in place.
  */
class RebuildInPlaceSpec extends SparkSpec {
  import spark.implicits._

  private def dir(name: String) = s"target/graft-test/rebuild_${name}_${System.nanoTime()}"

  private def phrase(tag: String) =
    s"alpha beta gamma delta $tag epsilon zeta eta theta iota kappa " +
      s"lambda mu nu xi omicron $tag pi rho sigma"

  test("BM25: a rewrite in place serves a doc deleted from the old index") {
    val d = dir("bm25")
    val corpus = Seq((1L, "join vector filter"), (2L, "join tables"), (3L, "nothing here"))
      .toDF("doc_id", "text")
    TextSearch.writeIndex(corpus, "doc_id", "text", d)
    TextSearch.deleteFromIndex(spark, d, Seq(1L).toDF("doc_id"), "doc_id")
    TextSearch.writeIndex(corpus, "doc_id", "text", d)
    val served = TextSearch.searchTopK(spark, d, Seq("join"), k = 5)
      .collect().map(_.getLong(0)).toSet
    OperatorCache.releaseAll(spark)
    assert(served == Set(1L, 2L))
  }

  test("shingle index: a rewrite in place flags a doc deleted from the old index") {
    val d = dir("shingle")
    val corpus = Seq((1L, phrase("one")), (2L, phrase("two"))).toDF("doc_id", "text")
    Dedup.writeShingleIndex(corpus, "doc_id", "text", d, shingleK = 5, buckets = 16)
    Dedup.deleteFromShingleIndex(spark, d, Seq(1L).toDF("doc_id"), "doc_id")
    Dedup.writeShingleIndex(corpus, "doc_id", "text", d, shingleK = 5, buckets = 16)
    val flagged = Dedup.probeContamination(spark, d,
        Seq((100L, phrase("one"))).toDF("doc_id", "text"), "doc_id", "text",
        minOverlap = 3)
      .select("doc").collect().map(_.getLong(0)).toSet
    OperatorCache.releaseAll(spark)
    assert(flagged.contains(1L), s"got $flagged")
  }

  test("dedup state: a rewrite in place lets a deleted vector suppress arrivals again") {
    val d = dir("dedup_state")
    def unit(g: Int, jitter: Float): Seq[Float] = {
      val v = Array.fill(8)(0f); v(g) = 1f; v(7) = jitter; v.toSeq
    }
    val corpus = (0 until 3).map(i => (i.toLong, unit(i, 0f))).toDF("vec_id", "embedding")
    Similarity.writeDedupState(corpus, "vec_id", "embedding", d, threshold = 0.9, k = 2)
    Similarity.deleteFromDedupState(spark, d, Seq(0L).toDF("vec_id"), "vec_id")
    Similarity.writeDedupState(corpus, "vec_id", "embedding", d, threshold = 0.9, k = 2)
    val survivors = Similarity.semanticDedupFromState(spark, d,
        Seq((10L, unit(0, 0.01f)), (11L, unit(5, 0f))).toDF("vec_id", "embedding"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    OperatorCache.releaseAll(spark)
    assert(survivors == Set(11L))
  }
}
