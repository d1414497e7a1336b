package graft.agent

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.{SparkSpec, Tables}
import graft.engine.Engine
import graft.response._

class AgentSpec extends SparkSpec {

  private def engineWithTables(): Engine = {
    val e = new Engine(spark, "/root/repo/target/graft-tmp/agent-ds")
    e.register("region", Tables.load(spark, sf, "region"))
    e.register("nation", Tables.load(spark, sf, "nation"))
    e
  }

  test("chat executes FakeLLM SQL and types the response (number for 1×1 numeric)") {
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("SELECT count(*) AS n FROM region")))
    agent.chat("how many regions?") match {
      case NumberR(v) => assert(v == 5.0)
      case other      => fail(s"expected NumberR, got $other")
    }
  }

  test("markdown fences are stripped before execution") {
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("```sql\nSELECT r_name FROM region ORDER BY r_name LIMIT 1;\n```")))
    agent.chat("first region name?") match {
      case StringR(v) => assert(v.nonEmpty)
      case other      => fail(s"expected StringR, got $other")
    }
  }

  test("chat with output_type plot returns a rendered PNG path (reference chart response)") {
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name")),
      chartDir = new java.io.File("target/graft-tmp/charts"))
    agent.chat("plot regions by count", outputType = Some("plot")) match {
      case ChartR(data, spec, Some(path)) =>
        assert(spec.contains("\"mark\": \"bar\""))
        assert(path.endsWith(".png"))
        val img = javax.imageio.ImageIO.read(new java.io.File(path))
        assert(img != null && img.getWidth == 800 && img.getHeight == 500)
        assert(data.count() == 5)
      case other => fail(s"expected a rendered ChartR, got $other")
    }
  }

  test("retry loop: bad SQL then good SQL succeeds, error context fed back") {
    val llm = new FakeLlm(Seq(
      "SELECT * FROM does_not_exist",
      "SELECT count(*) AS n FROM nation"))
    val agent = new Agent(engineWithTables(), llm)
    agent.chat("count nations") match {
      case NumberR(v) => assert(v == 25.0)
      case other      => fail(s"expected NumberR after retry, got $other")
    }
    // AgentState observability (reference agent/state.py): the failed
    // attempt stays visible as generated-but-not-executed
    assert(agent.state.lastPromptId.isDefined)
    assert(agent.state.lastSqlGenerated.contains("SELECT count(*) AS n FROM nation"))
    assert(agent.state.lastSqlExecuted.contains("SELECT count(*) AS n FROM nation"))
    assert(agent.state.lastPromptUsed.exists(_.contains("does_not_exist")))
    // the per-turn record: a failed first attempt, then the correction
    val attempts = agent.state.lastTurn
    assert(attempts.map(_.kind) == Seq("first", "correction"))
    assert(attempts.head.errorClass.contains("MaliciousQueryError"))
    assert(attempts(1).errorClass.isEmpty)
    assert(attempts.forall(a => a.promptMs >= 0 && a.llmMs >= 0 && a.executeMs >= 0))
    agent.state.add("route", "sql")
    agent.state.addMany(Map("rows" -> 25, "cached" -> false))
    assert(agent.state.get("route") == "sql" && agent.state.get("rows") == 25)
    assert(agent.state.get("missing") == "")
    agent.state.resetIntermediateValues()
    assert(agent.state.get("route") == "")
    assert(llm.prompts.size == 2)
    // correction prompt carries the failed attempt + its error
    // (correct_execute_sql_query_usage_error_prompt.tmpl shape)
    assert(llm.prompts(1).contains("You generated the following SQL query"))
    assert(llm.prompts(1).contains("SELECT * FROM does_not_exist"))
    assert(llm.prompts(1).contains("However, it resulted in the following error"))
  }

  test("logger records the chat trail when saveLogs is on (helpers/logger.py semantics)") {
    val path = s"/root/repo/target/graft-tmp/agent-${System.nanoTime()}.log"
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("SELECT * FROM nope", "SELECT count(*) AS n FROM region")),
      logger = Some(new AgentLogger(saveLogs = true, verbose = false, path = path)))
    agent.chat("how many?")
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    assert(lines.exists(_.contains("Question: how many?")))
    assert(lines.exists(_.contains("Generated SQL (attempt 1)")))
    assert(lines.exists(_.contains("Execution failed")))
    assert(lines.exists(_.contains("Response: number")))
  }

  test("output_type: wrong result shape triggers the type-correction retry") {
    val llm = new FakeLlm(Seq(
      "SELECT r_regionkey, r_name FROM region", // dataframe, not number
      "SELECT count(*) AS n FROM region"))
    val agent = new Agent(engineWithTables(), llm)
    agent.chat("how many regions?", outputType = Some("number")) match {
      case NumberR(v) => assert(v == 5.0)
      case other      => fail(s"expected NumberR after type retry, got $other")
    }
    assert(llm.prompts.size == 2)
    // first prompt declares the expected type, second is the dedicated
    // type-correction shape (correct_output_type_error_prompt.tmpl)
    assert(llm.prompts.head.contains("must be of type number"))
    assert(llm.prompts(1).contains("result type should be: number"))
    assert(llm.prompts(1).contains("does not match the expected type"))
  }

  test("output_type: matching shape returns immediately, no extra round trip") {
    val llm = new FakeLlm(Seq("SELECT count(*) AS n FROM region"))
    val agent = new Agent(engineWithTables(), llm)
    assert(agent.chat("count", outputType = Some("number")) == NumberR(5.0))
    assert(llm.prompts.size == 1)
  }

  test("prompt structure mirrors the reference templates") {
    val llm = new FakeLlm(Seq("SELECT count(*) AS n FROM region"))
    val reg0 = engineWithTables()
    val skills = new SkillRegistry(reg0)
    skills.register("double_it", "doubles a number",
      org.apache.spark.sql.functions.udf((x: Long) => x * 2))
    val agent = new Agent(reg0, llm, description = Some("You are a TPC-H analyst."),
      skills = Some(skills))
    agent.chat("how many regions?")
    val p = llm.prompts.head
    assert(p.startsWith("You are a TPC-H analyst."))
    assert(p.contains("<tables>") && p.contains("</tables>"))
    assert(p.contains("The following functions have already been provided"))
    assert(p.contains("double_it"))
    // first turn: no previous-conversation block (memory.count == 1)
    assert(!p.contains("### PREVIOUS CONVERSATION"))
    assert(p.contains("### QUERY\n how many regions?"))

    agent.chat("and nations?")
    val p2 = llm.prompts.last
    // second turn: prior turn shows under PREVIOUS CONVERSATION, current
    // question under QUERY only (generate_system_message.tmpl semantics)
    assert(p2.contains("### PREVIOUS CONVERSATION"))
    assert(p2.contains("how many regions?"))
    assert(p2.contains("### QUERY\n and nations?"))
    assert(!p2.replaceFirst("\\Q### QUERY\n and nations?\\E", "")
      .contains("### QUERY\n and nations?"))
  }

  test("exhausted retries yield ErrorR (agent/base.py:171-216 semantics)") {
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("SELECT * FROM nope")), maxRetries = 1)
    assert(agent.chat("?").isInstanceOf[ErrorR])
  }

  test("dataframe-shaped results come back as DataFrameR") {
    val agent = new Agent(engineWithTables(),
      new FakeLlm(Seq("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")))
    agent.chat("list regions") match {
      case DataFrameR(df) => assert(df.count() == 5)
      case other          => fail(s"expected DataFrameR, got $other")
    }
  }

  test("serializer emits schema + truncated head (dataframe_serializer.py:12-59)") {
    val s = Serializer.serialize("region", Tables.load(spark, sf, "region"), headN = 2)
    assert(s.contains("""table_name="region""""))
    assert(s.contains("""<column name="r_name" type="string"/>"""))
    assert(s.split("\n").count(_.startsWith("0,")) <= 1)
  }

  test("memory keeps conversation with QUERY/ANSWER tags (memory.py:39-70)") {
    val m = new Memory(memorySize = 2)
    m.add("q1", isUser = true); m.add("a1", isUser = false); m.add("q2", isUser = true)
    val conv = m.getConversation
    assert(!conv.contains("q1")) // truncated to last 2
    assert(conv.contains("### ANSWER\n a1") && conv.contains("### QUERY\n q2"))
  }

  test("memory: long answers truncate in the rendering, raw forms keep full text") {
    val m = new Memory()
    val longAnswer = "x" * 150
    m.add("the question", isUser = true)
    m.add(longAnswer, isUser = false)
    // rendered conversation truncates ANSWERS only (memory.py:30-36,46)
    assert(m.getConversation.contains("x" * 100 + " ..."))
    assert(!m.getConversation.contains("x" * 101))
    // role-tagged forms are untruncated (to_json / to_openai_messages)
    assert(m.toMessages == Seq(
      ChatMessage("user", "the question"), ChatMessage("assistant", longAnswer)))
    val withSystem = m.toChatMessages(Some("You are an analyst."))
    assert(withSystem.head == ChatMessage("system", "You are an analyst."))
    assert(withSystem.size == 3)
  }

  test("response parser validates type/value agreement (response/parser.py:32-75)") {
    assert(Response.parse("number", 3.5) == NumberR(3.5))
    assert(Response.parse("string", "hi") == StringR("hi"))
    intercept[Response.InvalidOutputValueMismatch] {
      Response.parse("dataframe", "not a frame")
    }
  }

  test("skills registry exposes UDFs to SQL (ee/skills semantics)") {
    val e = engineWithTables()
    val reg = new SkillRegistry(e)
    reg.register("double_it", "doubles a number",
      org.apache.spark.sql.functions.udf((x: Long) => x * 2))
    val out = e.executeSqlQuery("SELECT double_it(n_nationkey) AS d FROM nation ORDER BY d DESC LIMIT 1")
    assert(out.head().getLong(0) == 48)
    assert(reg.describeForPrompt.contains("double_it"))
  }

  test("train without a vector store raises the reference's error (agent/base.py:233-237)") {
    val agent = new Agent(engineWithTables(), new FakeLlm(Seq("SELECT 1")))
    val e = intercept[MissingVectorStoreError] {
      agent.train(queries = Some(Seq("q")), codes = Some(Seq("c")))
    }
    assert(e.getMessage ==
      "No vector store provided. Please provide a vector store to train the agent.")
  }

  test("train with queries xor codes raises (agent/base.py:239-242)") {
    val store = new InMemoryVectorStore(spark)
    val agent = new Agent(engineWithTables(), new FakeLlm(Seq("SELECT 1")),
      vectorstore = Some(store))
    val e = intercept[IllegalArgumentException] {
      agent.train(queries = Some(Seq("q only")))
    }
    assert(e.getMessage ==
      "If either queries or codes are provided, both must be provided.")
    intercept[IllegalArgumentException] {
      agent.train(codes = Some(Seq("c only")))
    }
  }

  test("train→chat round-trip: retrieved Q/A and docs appear in the prompt") {
    val store = new InMemoryVectorStore(spark)
    val llm = new FakeLlm(Seq("SELECT count(*) AS n FROM region"))
    val agent = new Agent(engineWithTables(), llm, vectorstore = Some(store))
    agent.train(
      queries = Some(Seq("how many regions are there?")),
      codes = Some(Seq("SELECT count(*) AS n FROM region")),
      docs = Some(Seq("The region table is the TPC-H region dimension.")))
    assert(store.qaCount == 1 && store.docsCount == 1)
    agent.chat("how many regions?") match {
      case NumberR(v) => assert(v == 5.0)
      case other      => fail(s"expected NumberR, got $other")
    }
    val prompt = llm.lastPrompt.get
    assert(prompt.contains("You can utilize these examples as a reference for generating SQL:"))
    assert(prompt.contains("Q: how many regions are there?\n A: SELECT count(*) AS n FROM region"))
    assert(prompt.contains("Here are additional documents for reference:"))
    assert(prompt.contains("The region table is the TPC-H region dimension."))
  }

  test("vector store retrieval ranks the semantically closest pair first") {
    val store = new InMemoryVectorStore(spark)
    store.addQuestionAnswer(
      Seq("total revenue by region", "count distinct customers"),
      Seq("SELECT r_name, sum(rev) FROM ...", "SELECT count(DISTINCT c_custkey) FROM ..."))
    val top = store.getRelevantQaDocuments("revenue per region total", k = 1)
    assert(top.size == 1 && top.head.contains("total revenue by region"))
    // delete semantics: by id, then clear
    val ids = store.addDocs(Seq("docA", "docB"))
    assert(store.deleteDocs(Some(Seq(ids.head))).contains(true))
    assert(store.docsCount == 1)
    assert(store.deleteQuestionAndAnswers(None).contains(true))
    assert(store.qaCount == 0)
  }

  test("untrained agent's prompt carries no trained-context block") {
    val store = new InMemoryVectorStore(spark)
    val llm = new FakeLlm(Seq("SELECT count(*) AS n FROM region"))
    val agent = new Agent(engineWithTables(), llm, vectorstore = Some(store))
    agent.chat("how many regions?")
    val prompt = llm.lastPrompt.get
    assert(!prompt.contains("utilize these examples"))
    assert(!prompt.contains("additional documents"))
  }

  private def freshTablesBlock(e: Engine): String =
    e.knownTables.toSeq.sorted.map(t => Serializer.serialize(t, e.table(t)))
      .mkString("<tables>\n", "\n\n", "\n</tables>")

  test("table blocks are serialized once per registration and shared by every Agent") {
    val e = engineWithTables()
    val store = new InMemoryVectorStore(spark)
    store.addQuestionAnswer(Seq("how many regions are there?"),
      Seq("SELECT count(*) AS n FROM region"))
    store.addDocs(Seq("The region table is the TPC-H region dimension."))
    val first = new Agent(e, new FakeLlm(Seq("SELECT 1")), vectorstore = Some(store))
    val (p1, fillJobs) = jobsOf(first.buildPrompt("how many regions?"))
    assert(fillJobs > 0) // the first prompt collects each head
    // a NEW conversation over the same engine: no head collect, no
    // retrieval job, for either prompt shape
    val second = new Agent(e, new FakeLlm(Seq("SELECT 1")), vectorstore = Some(store))
    val ((p2, c2), jobs) = jobsOf((second.buildPrompt("how many regions?"),
      second.buildCorrectionPrompt("SELECT * FROM nope", "boom", Some("number"))))
    assert(jobs == 0)
    assert(p2 == p1)
    // byte-identical to serializing every table afresh
    val fresh = freshTablesBlock(e)
    assert(p1.contains(fresh) && c2.startsWith(fresh + "\n"))
    assert(p1.contains("Q: how many regions are there?"))
  }

  test("re-registering the same frame keeps the memo; a different frame replaces the head") {
    val e = engineWithTables()
    val agent = new Agent(e, new FakeLlm(Seq("SELECT 1")))
    agent.buildPrompt("?")
    val region = e.table("region")
    val (_, jobs) = jobsOf {
      e.register("region", region)
      agent.buildPrompt("?")
    }
    assert(jobs == 0)
    val before = e.tableBlock("region")
    val later = region.where("r_regionkey >= 3")
    e.register("REGION", later)
    val after = e.tableBlock("region")
    assert(after != before)
    assert(after == Serializer.serialize("region", later))
    assert(!after.contains("\n0,AFRICA\n") && before.contains("\n0,AFRICA\n"))
    assert(agent.buildPrompt("?").contains(freshTablesBlock(e)))
  }

  test("Engine.create over an existing path, then load, serves the new rows in the prompt") {
    val root = java.nio.file.Files.createTempDirectory("graft-memo").toString
    val e = new Engine(spark, root)
    e.create("org/nums", spark.range(0, 3, 1, 1).toDF("x"))
    assert(e.tableBlock("nums").contains("\nx\n0\n1\n2\n"))
    e.create("org/nums", spark.range(40, 42, 1, 1).toDF("x"))
    e.load("org/nums")
    val block = e.tableBlock("nums")
    assert(block.contains("\nx\n40\n41\n") && !block.contains("\n0\n"))
    assert(new Agent(e, new FakeLlm(Seq("SELECT 1"))).buildPrompt("?")
      .contains(freshTablesBlock(e)))
  }

  test("concurrent conversations over one engine build the same prompt") {
    val e = engineWithTables()
    val prompts = Await.result(Future.sequence((1 to 4).map(_ => Future(
      new Agent(e, new FakeLlm(Seq("SELECT 1"))).buildPrompt("how many?")))), 2.minutes)
    assert(prompts.distinct.size == 1)
    assert(prompts.head.contains(freshTablesBlock(e)))
    val (_, jobs) = jobsOf(new Agent(e, new FakeLlm(Seq("SELECT 1"))).buildPrompt("how many?"))
    assert(jobs == 0)
  }

  test("a correction prompt carries the error message, not Spark's analyzed plan") {
    def correction(): String = {
      val llm = new FakeLlm(Seq(
        "SELECT r_name, sum(r_typo) AS t FROM region GROUP BY r_name",
        "SELECT count(*) AS n FROM region"))
      new Agent(engineWithTables(), llm).chat("total per region")
      llm.prompts(1)
    }
    val first = correction()
    assert(first.contains("UNRESOLVED_COLUMN") && first.contains("r_typo"), first)
    // expression ids (r_name#12) and plan operators are the plan's
    assert("#\\d+".r.findFirstIn(first).isEmpty, first)
    assert(!first.contains("+- ") && !first.contains("Aggregate ["), first)
    // other queries move the JVM's expression-id counter
    spark.range(3).selectExpr("id + 1 AS a", "id * 2 AS b").groupBy("a").count().collect()
    assert(correction() == first)
  }

  private val plotSql = "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name"
  private val columnSql = "SELECT n_name FROM nation WHERE n_regionkey = 1 ORDER BY n_name"

  /** A fresh agent answering `sql`, its table blocks already memoized so
    * its turns run only the attempt's own jobs. */
  private def agentFor(e: Engine, sql: String): Agent = {
    val a = new Agent(e, new FakeLlm(Seq(sql)), chartDir = new java.io.File("target/graft-tmp/charts"))
    a.buildPrompt("?")
    a
  }

  /** The rows and jobs of one warm `collect()` of `sql`. */
  private def collected(e: Engine, sql: String): (Seq[org.apache.spark.sql.Row], Int) = {
    e.executeSqlQuery(sql).collect()
    val (rows, jobs) = jobsOf(e.executeSqlQuery(sql).collect())
    (rows.toSeq, jobs)
  }

  test("a plot turn within the bound runs its SQL once; its chart data collects with no job") {
    val e = engineWithTables()
    val (want, collectJobs) = collected(e, plotSql)
    val agent = agentFor(e, plotSql)
    agent.chat("plot regions", outputType = Some("plot"))
    val (resp, turnJobs) = jobsOf(agent.chat("plot regions", outputType = Some("plot")))
    assert(collectJobs > 0 && turnJobs == collectJobs)
    resp match {
      case ChartR(data, _, Some(path)) =>
        assert(new java.io.File(path).length() > 0)
        val (rows, jobs) = jobsOf(data.collect())
        assert(jobs == 0)
        assert(rows.toSeq == want)
      case other => fail(s"expected a rendered ChartR, got $other")
    }
  }

  test("a one-column frame turn within the bound runs its SQL once; the frame collects with no job") {
    val e = engineWithTables()
    val (want, collectJobs) = collected(e, columnSql)
    assert(want.size > 1)
    val agent = agentFor(e, columnSql)
    agent.chat("nations in region 1")
    val (resp, turnJobs) = jobsOf(agent.chat("nations in region 1"))
    assert(collectJobs > 0 && turnJobs == collectJobs)
    resp match {
      case DataFrameR(df) =>
        val (rows, jobs) = jobsOf(df.collect())
        assert(jobs == 0)
        assert(rows.toSeq == want)
        assert(df.schema == e.executeSqlQuery(columnSql).schema)
      case other => fail(s"expected DataFrameR, got $other")
    }
  }

  test("a result over the bound comes back lazy, with the limit(2) probe and the caller's collect") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      val e = engineWithTables()
      val (want, collectJobs) = collected(e, columnSql)
      val (_, probeJobs) = jobsOf(e.executeSqlQuery(columnSql).limit(2).collect())
      val agent = agentFor(e, columnSql)
      agent.chat("nations in region 1")
      val (resp, turnJobs) = jobsOf(agent.chat("nations in region 1"))
      assert(probeJobs > 0 && turnJobs == probeJobs)
      resp match {
        case DataFrameR(df) =>
          assert(!df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
          val (rows, jobs) = jobsOf(df.collect())
          assert(jobs == collectJobs)
          assert(rows.toSeq == want)
        case other => fail(s"expected DataFrameR, got $other")
      }
      // a multi-column frame over the bound runs nothing until collected
      val wide = agentFor(e, "SELECT n_name, n_regionkey FROM nation")
      wide.chat("nations")
      val (wideResp, wideJobs) = jobsOf(wide.chat("nations"))
      assert(wideJobs == 0 && wideResp.isInstanceOf[DataFrameR])
    }
  }
}
