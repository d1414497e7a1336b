package graftbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.agent.{Agent, HttpLlm, InMemoryVectorStore, Llm, StubLlmServer}
import graft.engine.{Engine, SqlGate}
import graft.response.{ChartR, DataFrameR, ErrorR, NumberR, Response, StringR}
import graft.schema.{ColumnDef, RelationDef, SemanticSchema, SourceDef, TransformDef}

/** The `chat` workload: a seeded session of conversations through
  * `Agent.chat`, with the LLM served over HTTP by an in-JVM stub whose
  * reply is a pure function of the prompt. The session runs in decks,
  * each the whole question bank; whole decks run while the next one is
  * expected to end within the run length.
  *
  * Turn time runs from the `chat` call until the benchmark has
  * materialized the returned response (frame collected, PNG on disk).
  */
object ChatBench {
  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  /** The semantic layer the agent sees: the eight base tables, a view
    * joining lineitem -> orders -> customer -> nation, and one dataset
    * with declared column transformations. */
  private def schemas(tablesDir: String): Seq[SemanticSchema] = {
    def src(t: String) = Some(SourceDef("parquet", path = Some(s"$tablesDir/$t.parquet")))
    val base = Tables.map(t => SemanticSchema(t,
      description = Some(s"the $t table"), source = src(t)))
    val view = SemanticSchema("sales",
      description = Some("line items with their order, customer and nation"),
      view = true,
      columns = Seq("lineitem.l_orderkey", "lineitem.l_quantity",
        "lineitem.l_extendedprice", "lineitem.l_discount",
        "lineitem.l_returnflag", "orders.o_orderpriority",
        "customer.c_mktsegment", "nation.n_name").map(ColumnDef(_)),
      relations = Seq(
        RelationDef(None, None, "lineitem.l_orderkey", "orders.o_orderkey"),
        RelationDef(None, None, "orders.o_custkey", "customer.c_custkey"),
        RelationDef(None, None, "customer.c_nationkey", "nation.n_nationkey")))
    val segments = SemanticSchema("customer_segments",
      description = Some("customers with normalized segment and clipped balance"),
      source = src("customer"),
      columns = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        "c_acctbal").map(ColumnDef(_)),
      transformations = Seq(
        TransformDef("to_lowercase", Map("column" -> "c_mktsegment")),
        TransformDef("clip", Map("column" -> "c_acctbal",
          "lower" -> Double.box(0.0), "upper" -> Double.box(5000.0)))))
    base ++ Seq(view, segments)
  }

  /** Replies keyed by question: the first attempt gets `replies(0)`, a
    * correction prompt gets `replies(1)`. */
  private def stubReply(byQuestion: Map[String, Seq[String]])(prompt: String): String = {
    val correction = prompt.contains("You generated the following SQL query:")
    val q =
      if (correction) Correction.findFirstMatchIn(prompt).map(_.group(1))
      else FirstAttempt.findFirstMatchIn(prompt).map(_.group(1))
    q.flatMap(byQuestion.get) match {
      case Some(r) => if (correction) r(math.min(1, r.size - 1)) else r.head
      case None    => "SELECT 'no reply for this prompt' AS error"
    }
  }
  private val FirstAttempt = "(?s).*### QUERY\n (.*?)\n\nWrite ONE Spark SQL".r
  private val Correction = "(?s).*### QUERY\n (.*?)\n\nYou generated the following SQL query:".r

  /** The benchmark's `Llm`: forwards to `HttpLlm` and tells the turn
    * where LLM calls begin and end, which is what splits a turn into
    * prompt, llm and execute segments. */
  private final class TurnLlm(inner: HttpLlm, tracer: Tracer) extends Llm {
    private var turn = 0L
    private var segment = 0L
    var calls = 0
    val sqls = mutable.ArrayBuffer.empty[String]
    private val execs = mutable.ArrayBuffer.empty[Long]
    def startTurn(turnSpan: Long): Unit = {
      turn = turnSpan; calls = 0; sqls.clear(); execs.clear()
      segment = tracer.begin("agent.prompt", turn)
    }
    override def generate(prompt: String): String = {
      tracer.end(segment)
      calls += 1
      val llm = tracer.begin("agent.llm", turn)
      if (tracer.enabled) tracer.attr(llm, "prompt_bytes", prompt.getBytes("UTF-8").length.toLong)
      val reply = try inner.generate(prompt) finally tracer.end(llm)
      sqls += reply
      // LLM return -> the next LLM call (a retry) or -> chat returning
      segment = tracer.begin("engine.execute", turn)
      execs += segment
      reply
    }
    /** Close the turn's open segment. Every execute segment but the last
      * ended in another LLM call: it was a retry's prompt building. */
    def endTurn(): Unit = {
      tracer.end(segment)
      execs.dropRight(1).foreach(tracer.rename(_, "agent.prompt"))
    }
  }

  private final class Setup(val spark: SparkSession, val engine: Engine,
      val stub: StubLlmServer, val llm: TurnLlm, val store: InMemoryVectorStore)

  def run(ctx: Main.Ctx): Unit = {
    val plan = ctx.plan.path("chat")
    val tr = ctx.tracer
    val decks: Seq[Seq[Seq[JsonNode]]] =
      Main.nodes(plan.path("decks")).map(d => Main.nodes(d).map(Main.nodes))
    val turns = decks.flatten.flatten
    val warm: Seq[JsonNode] = Main.nodes(plan.path("warmup"))
    val byQuestion: Map[String, Seq[String]] = (turns ++ warm).map(t =>
      t.path("question").asText() -> Main.strings(t.path("replies"))).toMap
    val chartDir = new File(s"${ctx.root}/charts")

    var setup: Setup = null
    for (rep <- 1 to ctx.setupReps) {
      if (setup != null) setup.stub.stop()
      val t0 = System.nanoTime()
      val setupSpan = tr.begin("setup")
      val spark = ctx.newSession()
      val engine = new Engine(spark, s"${ctx.root}/datasets_$rep")
      schemas(ctx.tablesDir).foreach { s =>
        tr.span("schema.load", setupSpan) { _ => engine.createFromSchema(s"bench/${s.name}", s) }
      }
      val stub = StubLlmServer.start(stubReply(byQuestion))
      val llm = new TurnLlm(new HttpLlm(stub.url, "stub", apiKey = Some("stub")), tr)
      val store = new InMemoryVectorStore(spark)
      new Agent(engine, llm, vectorstore = Some(store)).train(
        queries = Some(Main.strings(plan.path("train_questions"))),
        codes = Some(Main.strings(plan.path("train_sql"))),
        docs = Some(Main.strings(plan.path("train_docs"))))
      setup = new Setup(spark, engine, stub, llm, store)
      tr.end(setupSpan)
      ctx.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    // warm-up conversation, once: JIT, codegen and the HTTP client's
    // first connection land here, not in the first timed turn
    tr.span("warmup") { w =>
      val agent = new Agent(setup.engine, setup.llm, vectorstore = Some(setup.store),
        chartDir = chartDir)
      warm.foreach(t => turn(ctx, setup, agent, t, w, record = false))
    }

    // whole decks, while the next one is expected to end in time: every
    // run sees the same questions and the same share of retries
    val answers = ctx.out.putArray("answers")
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val deckIt = decks.iterator
    var done = 0
    var lastDeckNs = 0L
    do {
      val deckStart = System.nanoTime()
      deckIt.next().foreach { conversation =>
        val agent = new Agent(setup.engine, setup.llm, vectorstore = Some(setup.store),
          chartDir = chartDir)
        conversation.foreach { t =>
          turn(ctx, setup, agent, t, 0L, record = true).foreach(answers.add)
          done += 1
        }
      }
      lastDeckNs = System.nanoTime() - deckStart
    } while (deckIt.hasNext && System.nanoTime() + lastDeckNs <= deadline)
    ctx.loopDone(t0, done)
    setup.stub.stop()
  }

  /** One turn: chat, then materialize the response. Returns the answer
    * record the checker compares against its oracle. */
  private def turn(ctx: Main.Ctx, s: Setup, agent: Agent, t: JsonNode,
      parent: Long, record: Boolean): Option[JsonNode] = {
    val tr = ctx.tracer
    val question = t.path("question").asText()
    val outputType = Option(t.path("type").asText()).filter(_.nonEmpty)
    val turnSpan = tr.begin("chat.turn", parent)
    def once(): JsonNode = {
      s.llm.startTurn(turnSpan)
      val resp = try agent.chat(question, outputType) finally s.llm.endTurn()
      tr.span("response.collect", turnSpan)(_ => materialize(resp))
    }
    def run(): Option[JsonNode] = {
      // warm-up turns are not operations of the run: a failure there is fatal
      val r = if (record) ctx.op(s"turn ${t.path("id").asText()}")(once()) else Some(once())
      tr.attr(turnSpan, "attempts", s.llm.calls.toLong)
      tr.end(turnSpan)
      r
    }
    val (result, ns) = if (record) ctx.timed(parent)(run()) else ctx.untimed(run())
    if (tr.enabled) {
      // the gate alone, replayed on every SQL the turn generated: outside
      // the turn, so it adds to the traced run's wall only
      val sqls = s.llm.sqls.toList
      tr.span("engine.gate", parent) { _ =>
        sqls.foreach(sql =>
          try SqlGate.checkTables(s.spark, agent.extractSql(sql), s.engine.knownTables)
          catch { case _: Exception => () })
      }
    }
    if (!record) return None
    ctx.sample("turn_ms", ns / 1e6)
    val o = Main.mapper.createObjectNode()
    o.put("id", t.path("id").asText())
    o.put("bank", t.path("bank").asText())
    result match {
      case Some(a) => o.set[JsonNode]("answer", a)
      case None    => o.putNull("answer")
    }
    Some(o)
  }

  /** What the user gets: the value, every row of a frame, the PNG. */
  private def materialize(resp: Response): JsonNode = {
    val o = Main.mapper.createObjectNode()
    o.put("kind", resp.kind)
    resp match {
      case NumberR(v)  => o.put("value", v)
      case StringR(v)  => o.put("value", v)
      case DataFrameR(df) => rows(o.putArray("rows"), df.collect())
      case ChartR(data, _, path) =>
        rows(o.putArray("rows"), data.collect())
        o.put("png_bytes", path.map(p => new File(p)).filter(_.isFile).map(_.length).getOrElse(0L))
      case ErrorR(msg, _) => o.put("message", msg)
    }
    o
  }

  private def rows(arr: ArrayNode, rs: Array[Row]): Unit = rs.foreach { r =>
    val a = arr.addArray()
    (0 until r.length).foreach { i =>
      r.get(i) match {
        case null                    => a.addNull()
        case n: java.lang.Integer    => a.add(n.longValue)
        case n: java.lang.Long       => a.add(n.longValue)
        case n: java.lang.Short      => a.add(n.longValue)
        case n: java.lang.Double     => a.add(n.doubleValue)
        case n: java.lang.Float      => a.add(n.doubleValue)
        case n: java.math.BigDecimal => a.add(n.doubleValue)
        case b: java.lang.Boolean    => a.add(b.booleanValue)
        case v                       => a.add(String.valueOf(v))
      }
    }
  }
}
