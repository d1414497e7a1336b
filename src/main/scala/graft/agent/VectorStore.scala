package graft.agent

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.Similarity

/** Raised by [[Agent.train]] when no vector store was provided
  * (reference: pandasai/exceptions.py:197-201). */
final class MissingVectorStoreError(message: String)
    extends RuntimeException(message)

/** RAG memory interface for agent training
  * (reference: pandasai/vectorstores/vectorstore.py:9-179): two
  * collections — trained (question, answer-code) pairs and free-form
  * docs — with add/update/delete and relevance retrieval by question.
  *
  * Retrieval results come in two shapes, as in the reference: the
  * `getRelevant*` forms return full records (document + id + metadata),
  * the `*Documents` forms return only the text for prompt injection.
  */
object VectorStore {
  /** Hard ceiling on retrieval k — a retrieval returns at most k
    * records (README "Driver-side bounds"). */
  val MaxK = 1000
}

trait VectorStore {

  /** One stored record: the document text plus its id and metadata. */
  final case class Record(id: String, document: String,
      metadata: Map[String, String] = Map.empty)

  def addQuestionAnswer(
      queries: Seq[String], codes: Seq[String],
      ids: Option[Seq[String]] = None,
      metadatas: Option[Seq[Map[String, String]]] = None): Seq[String]

  def addDocs(
      docs: Seq[String],
      ids: Option[Seq[String]] = None,
      metadatas: Option[Seq[Map[String, String]]] = None): Seq[String]

  def updateQuestionAnswer(
      ids: Seq[String], queries: Seq[String], codes: Seq[String],
      metadatas: Option[Seq[Map[String, String]]] = None): Seq[String] =
    Seq.empty

  def updateDocs(
      ids: Seq[String], docs: Seq[String],
      metadatas: Option[Seq[Map[String, String]]] = None): Seq[String] =
    Seq.empty

  def deleteQuestionAndAnswers(ids: Option[Seq[String]] = None): Option[Boolean] =
    None

  def deleteDocs(ids: Option[Seq[String]] = None): Option[Boolean] = None

  def deleteCollection(collectionName: String): Option[Boolean] = None

  def getRelevantQuestionAnswers(question: String, k: Int = 1): Seq[Record]

  def getRelevantDocs(question: String, k: Int = 1): Seq[Record]

  /** Texts only, for prompt injection (vectorstore.py:157-167). */
  def getRelevantQaDocuments(question: String, k: Int = 1): Seq[String] =
    getRelevantQuestionAnswers(question, k).map(_.document)

  /** Texts only, for prompt injection (vectorstore.py:169-179). */
  def getRelevantDocsDocuments(question: String, k: Int = 1): Seq[String] =
    getRelevantDocs(question, k).map(_.document)

  /** The stored textual form of a trained pair (vectorstore.py:178-179). */
  protected def formatQa(query: String, code: String): String =
    s"Q: $query\n A: $code"
}

/** In-memory cosine vector store: documents are embedded with a
  * deterministic hashing-trick unigram TF vector (no model in the
  * container), and relevance search ranks the stored embeddings on the
  * driver with [[Similarity.bruteForceTopKLocal]] — the same scores and
  * order as the corpus ANN baseline [[Similarity.bruteForceTopK]], with
  * no Spark job per retrieval. A text with no ASCII word token embeds
  * to the zero vector: as an entry it scores null and ranks after every
  * scored entry, as a question it retrieves nothing.
  *
  * Ids are deterministic (collection, insertion-order) unless provided;
  * adds/updates/deletes mirror the reference semantics, including the
  * qa/docs collection split.
  */
class InMemoryVectorStore(
    spark: SparkSession, dim: Int = 256,
) extends VectorStore {
  require(dim > 0, "embedding dimension must be positive")

  protected final case class Entry(id: String, document: String,
      metadata: Map[String, String], vec: Array[Float])

  protected val qa = mutable.LinkedHashMap.empty[String, Entry]
  protected val docs = mutable.LinkedHashMap.empty[String, Entry]
  private var seq = 0

  /** Called after every mutating operation — persistence hook for
    * subclasses (no-op here). */
  protected def onMutate(): Unit = ()

  /** Inject a stored entry without triggering [[onMutate]] — the
    * restore path for persistent subclasses. Also advances the id
    * sequence past restored auto-ids so new adds cannot collide. */
  protected def restoreEntry(collection: String, id: String,
      document: String, metadata: Map[String, String]): Unit = {
    val coll = if (collection == "qa") qa else docs
    coll(id) = Entry(id, document, metadata, embed(document))
    id match {
      case s if s.startsWith("qa-") || s.startsWith("doc-") =>
        s.split("-").last.toIntOption.foreach(n => seq = math.max(seq, n))
      case _ => ()
    }
  }

  protected def entries(collection: String): Seq[(String, String, Map[String, String])] = {
    val coll = if (collection == "qa") qa else docs
    coll.valuesIterator.map(e => (e.id, e.document, e.metadata)).toSeq
  }

  /** Hashing-trick unigram TF embedding, L2-normalized. Deterministic
    * (MurmurHash3 of the lowercased token), sign-split to decorrelate
    * colliding tokens — the standard feature-hashing construction.
    */
  private[agent] def embed(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { tok =>
      val h = scala.util.hashing.MurmurHash3.stringHash(tok)
      val idx = math.floorMod(h, dim)
      v(idx) += (if ((h >>> 31) == 0) 1f else -1f)
    }
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n > 0) v.map(x => (x / n).toFloat) else v
  }

  private def nextId(prefix: String): String = { seq += 1; s"$prefix-$seq" }

  private def addAll(coll: mutable.LinkedHashMap[String, Entry],
      prefix: String, texts: Seq[String], ids: Option[Seq[String]],
      metadatas: Option[Seq[Map[String, String]]]): Seq[String] = {
    ids.foreach(i => require(i.length == texts.length,
      s"ids length ${i.length} != documents length ${texts.length}"))
    metadatas.foreach(m => require(m.length == texts.length,
      s"metadatas length ${m.length} != documents length ${texts.length}"))
    val out = texts.zipWithIndex.map { case (t, i) =>
      val id = ids.map(_(i)).getOrElse(nextId(prefix))
      coll(id) = Entry(id, t, metadatas.map(_(i)).getOrElse(Map.empty), embed(t))
      id
    }
    onMutate()
    out
  }

  override def addQuestionAnswer(queries: Seq[String], codes: Seq[String],
      ids: Option[Seq[String]], metadatas: Option[Seq[Map[String, String]]]): Seq[String] = {
    require(queries.length == codes.length,
      s"queries length ${queries.length} != codes length ${codes.length}")
    addAll(qa, "qa", queries.zip(codes).map { case (q, c) => formatQa(q, c) },
      ids, metadatas)
  }

  override def addDocs(documents: Seq[String], ids: Option[Seq[String]],
      metadatas: Option[Seq[Map[String, String]]]): Seq[String] =
    addAll(docs, "doc", documents, ids, metadatas)

  override def updateQuestionAnswer(ids: Seq[String], queries: Seq[String],
      codes: Seq[String], metadatas: Option[Seq[Map[String, String]]]): Seq[String] =
    addQuestionAnswer(queries, codes, Some(ids), metadatas)

  override def updateDocs(ids: Seq[String], documents: Seq[String],
      metadatas: Option[Seq[Map[String, String]]]): Seq[String] =
    addDocs(documents, Some(ids), metadatas)

  override def deleteQuestionAndAnswers(ids: Option[Seq[String]]): Option[Boolean] = {
    val ok = ids.fold { qa.clear(); true }(_.map(qa.remove(_).isDefined).forall(identity))
    onMutate()
    Some(ok)
  }

  override def deleteDocs(ids: Option[Seq[String]]): Option[Boolean] = {
    val ok = ids.fold { docs.clear(); true }(_.map(docs.remove(_).isDefined).forall(identity))
    onMutate()
    Some(ok)
  }

  override def deleteCollection(collectionName: String): Option[Boolean] = {
    val ok = collectionName match {
      case "qa"   => qa.clear(); true
      case "docs" => docs.clear(); true
      case _      => false
    }
    if (ok) onMutate()
    Some(ok)
  }

  private def search(coll: mutable.LinkedHashMap[String, Entry],
      question: String, k: Int): Seq[Record] = {
    // driver-side bound (README "Driver-side bounds"): a retrieval
    // returns at most k records; cap k so a miscomputed caller value
    // cannot turn retrieval into a bulk export
    require(k <= VectorStore.MaxK,
      s"retrieval k ($k) exceeds the vector-store cap ${VectorStore.MaxK}")
    if (coll.isEmpty || k <= 0) return Seq.empty
    val qv = embed(question)
    if (qv.forall(_ == 0f)) return Seq.empty
    Similarity.bruteForceTopKLocal(coll.values.map(e => (e.id, e.vec)), qv, k)
      .map { case (id, _) => val e = coll(id); Record(e.id, e.document, e.metadata) }
  }

  override def getRelevantQuestionAnswers(question: String, k: Int): Seq[Record] =
    search(qa, question, k)

  override def getRelevantDocs(question: String, k: Int): Seq[Record] =
    search(docs, question, k)

  /** Counts, for tests/diagnostics. */
  def qaCount: Int = qa.size
  def docsCount: Int = docs.size
}

/** Parquet-backed vector store: same semantics and search path as
  * [[InMemoryVectorStore]], but every mutation snapshots both
  * collections to `path/{qa,docs}.parquet` and construction restores
  * them — training survives the session, the user-visible property of
  * the reference's persistent stores (chromadb/qdrant et al. behind
  * vectorstores/vectorstore.py).
  *
  * Scope note: the working set stays driver-side (trained Q/A memory is
  * thousands of rows, not billions); the parquet layout (id, document,
  * metadata, embedding) is exactly what a corpus-scale store would
  * bruteForceTopK / LSH-probe directly off disk, so outgrowing the
  * driver map changes the read path, not the format.
  */
final class ParquetVectorStore(
    spark: SparkSession, path: String, dim: Int = 256,
) extends InMemoryVectorStore(spark, dim) {

  private val fileFor = Map(
    "qa" -> s"$path/qa.parquet", "docs" -> s"$path/docs.parquet")
  private var restoring = true

  for (coll <- Seq("qa", "docs")) {
    val file = fileFor(coll)
    if (new java.io.File(file).exists()) {
      spark.read.parquet(file)
        .select("id", "document", "metadata")
        .collect()
        .foreach { r =>
          restoreEntry(coll, r.getString(0), r.getString(1),
            Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty))
        }
    }
  }
  restoring = false

  override protected def onMutate(): Unit = {
    if (restoring) return
    import spark.implicits._
    for (coll <- Seq("qa", "docs")) {
      entries(coll).toDF("id", "document", "metadata")
        .write.mode("overwrite").parquet(fileFor(coll))
    }
  }
}
