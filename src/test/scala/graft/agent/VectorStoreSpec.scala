package graft.agent

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.engine.Engine
import graft.pipeline.Similarity
import graft.response.NumberR

/** Parquet-backed vector store: persistence round-trips across store
  * instances (the property the reference's persistent stores provide). */
class VectorStoreSpec extends SparkSpec {

  test("training survives a store restart via the parquet snapshot") {
    val dir = Files.createTempDirectory("graft-vstore").toString

    val store1 = new ParquetVectorStore(spark, dir)
    val qaIds = store1.addQuestionAnswer(
      Seq("top regions by revenue", "average account balance"),
      Seq("SELECT r_name FROM region", "SELECT avg(c_acctbal) FROM customer"))
    store1.addDocs(Seq("revenue is computed net of discounts"),
      metadatas = Some(Seq(Map("source" -> "handbook"))))
    assert(qaIds == Seq("qa-1", "qa-2"))

    // a NEW instance over the same path sees the trained memory
    val store2 = new ParquetVectorStore(spark, dir)
    assert(store2.qaCount == 2 && store2.docsCount == 1)
    val hits = store2.getRelevantQaDocuments("revenue of top regions", k = 1)
    assert(hits.size == 1)
    assert(hits.head.contains("SELECT r_name FROM region"))
    val docHits = store2.getRelevantDocs("how is revenue computed", k = 1)
    assert(docHits.head.metadata == Map("source" -> "handbook"))

    // new adds continue the shared id sequence (qa-1, qa-2, doc-3 so
    // far — identical to a never-restarted store) instead of colliding
    // with restored auto-ids
    val more = store2.addQuestionAnswer(Seq("q3"), Seq("SELECT 3"))
    assert(more == Seq("qa-4"))

    // deletes persist too
    store2.deleteDocs(None)
    val store3 = new ParquetVectorStore(spark, dir)
    assert(store3.docsCount == 0 && store3.qaCount == 3)
  }

  test("agent trained on a parquet store retrieves after restart") {
    val dir = Files.createTempDirectory("graft-vstore2").toString
    val engine = new graft.engine.Engine(spark, "target/graft-tmp/vstore-ds")
    engine.register("region", graft.Tables.load(spark, sf, "region"))

    val trainer = new Agent(engine, new FakeLlm(Seq("SELECT 1")),
      vectorstore = Some(new ParquetVectorStore(spark, dir)))
    trainer.train(
      queries = Some(Seq("list region names")),
      codes = Some(Seq("SELECT r_name FROM region ORDER BY r_name")))

    val llm = new FakeLlm(Seq("SELECT r_name FROM region ORDER BY r_name"))
    val fresh = new Agent(engine, llm,
      vectorstore = Some(new ParquetVectorStore(spark, dir)))
    fresh.chat("list region names")
    assert(llm.lastPrompt.exists(_.contains(
      "SELECT r_name FROM region ORDER BY r_name")))
    assert(llm.lastPrompt.exists(_.contains(
      "You can utilize these examples as a reference for generating SQL")))
  }

  test("driver-side bounds: retrieval k and prompt head rows are capped") {
    // README "Driver-side bounds": the served-engine story is auditable
    // because every driver-bound path raises rather than bulk-collecting
    val store = new InMemoryVectorStore(spark)
    store.addQuestionAnswer(Seq("q"), Seq("SELECT 1"))
    store.getRelevantQuestionAnswers("q", k = VectorStore.MaxK) // cap value legal
    val e1 = intercept[IllegalArgumentException](
      store.getRelevantQuestionAnswers("q", k = VectorStore.MaxK + 1))
    assert(e1.getMessage.contains("cap"))
    import graft.Tables
    val e2 = intercept[IllegalArgumentException](
      Serializer.serialize("region", Tables.load(spark, sf, "region"),
        headN = Serializer.MaxHeadRows + 1))
    assert(e2.getMessage.contains("cap"))
    // at the cap both succeed
    assert(Serializer.serialize("region", Tables.load(spark, sf, "region"),
      headN = Serializer.MaxHeadRows).contains("<head>"))
  }

  /** Run `body` with `spark.sql.ansi.enabled` set, restoring it after. */
  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a trained text with no ASCII word token does not break chat") {
    // such a text embeds to the zero vector; the Spark cosine divided by
    // its zero norm, which ANSI mode (Spark 4's default) raises on
    withAnsi(on = true) {
      val engine = new Engine(spark, "target/graft-tmp/vstore-ds")
      engine.register("region", Tables.load(spark, sf, "region"))
      val store = new InMemoryVectorStore(spark)
      val agent = new Agent(engine,
        new FakeLlm(Seq("SELECT count(*) AS n FROM region")), vectorstore = Some(store))
      agent.train(docs = Some(Seq("Таблица Таблица", "The region table lists regions.")))
      assert(agent.chat("how many rows in the region table?") == NumberR(5.0))
      // the zero-vector entry scores null and ranks after every scored one
      assert(store.getRelevantDocsDocuments("region table", 3) ==
        Seq("The region table lists regions.", "Таблица Таблица"))
    }
  }

  /** The Spark ranking the driver-side one must reproduce, as
    * (id, score) rows. */
  private def sparkTopK(corpus: Seq[(String, Array[Float])], q: Array[Float],
      k: Int): Seq[(String, Option[Double])] = {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.map { case (id, v) => Row(id, v.toSeq) }, 2), schema)
    Similarity.bruteForceTopK(df, "id", "embedding", q.toSeq, k).collect().toSeq
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
  }

  test("driver-side ranking equals Similarity.bruteForceTopK on seeded random corpora") {
    // ANSI off: the Spark path then scores a zero norm null instead of raising
    withAnsi(on = false) {
      for (seed <- 1 to 12) {
        val rnd = new scala.util.Random(seed)
        val dim = 1 + rnd.nextInt(6)
        // few distinct values: exact score ties are common
        def vec(): Array[Float] =
          Array.fill(dim)(Seq(-1f, 0f, 0f, 0.5f, 1f, 2f)(rnd.nextInt(6)))
        val distinct = Seq.fill(1 + rnd.nextInt(8))(vec())
        val corpus = (0 until 1 + rnd.nextInt(25)).map { i =>
          // ids whose string order differs from their numeric order
          val v = if (rnd.nextInt(5) == 0) new Array[Float](dim) // zero norm
            else distinct(rnd.nextInt(distinct.size))            // duplicates
          (s"id-${rnd.nextInt(200)}-$i", v)
        }
        for (q <- Seq.fill(3)(vec());
             k <- Seq(1, 3, corpus.size, corpus.size + 5)) {
          val local = Similarity.bruteForceTopKLocal(corpus, q, k)
          withClue(s"seed=$seed k=$k q=${q.mkString(",")}: ")(
            assert(local == sparkTopK(corpus, q, k)))
        }
      }
    }
  }

  test("vector-store retrieval ranks both collections as the Spark path does") {
    withAnsi(on = false) {
      val vocab = Seq("region", "nation", "revenue", "total", "count", "orders",
        "Таблица", "регион")
      for (seed <- 1 to 6) {
        val rnd = new scala.util.Random(seed)
        def text(): String = Seq.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
        val store = new VectorStoreSpec.Listed(spark)
        val n = 1 + rnd.nextInt(12)
        val questions = Seq.fill(n)(text())
        store.addQuestionAnswer(questions, questions.map(q => s"SELECT '$q'"))
        store.addDocs(Seq.fill(n)(text()) ++ questions.take(2)) // duplicates
        for (coll <- Seq("qa", "docs"); q <- Seq.fill(3)(text());
             k <- Seq(1, 3, n + 5)) {
          val qv = store.embed(q)
          val got =
            if (coll == "qa") store.getRelevantQuestionAnswers(q, k)
            else store.getRelevantDocs(q, k)
          val want =
            if (qv.forall(_ == 0f)) Nil
            else sparkTopK(store.all(coll).map { case (id, d) => (id, store.embed(d)) },
              qv, k).map(_._1)
          withClue(s"seed=$seed $coll k=$k q=$q: ")(assert(got.map(_.id) == want))
        }
      }
    }
  }
}

object VectorStoreSpec {
  /** A small-dimension store (hash collisions make score ties) that
    * lists its entries as (id, document). */
  final class Listed(spark: org.apache.spark.sql.SparkSession)
      extends InMemoryVectorStore(spark, dim = 16) {
    def all(collection: String): Seq[(String, String)] =
      entries(collection).map { case (id, doc, _) => (id, doc) }
  }
}
