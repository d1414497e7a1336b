package graft.agent

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.engine.Engine
import graft.response.{DataFrameR, ErrorR, Response}

/** The conversational shell around the engine: prompt assembly from
  * serialized schemas+heads, an LLM trait (+ FakeLLM for tests), and the
  * retry-with-error-context loop
  * (reference: pandasai/agent/base.py:92-308, llm/fake.py:11-32).
  *
  * Design deviation (SURVEY.md §3.1): no Python exec layer — the LLM
  * contract here is "emit one SQL SELECT"; the engine validates and runs
  * it. This matches the reference's own validator requirement that all
  * heavy lifting go through execute_sql_query
  * (core/code_generation/code_validation.py:41-67).
  */
trait Llm {
  def generate(prompt: String): String
}

/** Returns canned outputs in order, repeating the last
  * (reference: pandasai/llm/fake.py:11-32). */
final class FakeLlm(outputs: Seq[String]) extends Llm {
  private var i = -1
  val prompts: mutable.Buffer[String] = mutable.Buffer.empty
  def lastPrompt: Option[String] = prompts.lastOption
  override def generate(prompt: String): String = {
    prompts += prompt
    i = math.min(i + 1, outputs.length - 1)
    outputs(i)
  }
}

/** Append-only activity log (reference: pandasai/helpers/logger.py via
  * Config.save_logs / Config.verbose — timestamped lines to a log file,
  * echoed to stdout when verbose). Dependency-free; silently disabled
  * when `saveLogs` is false and `verbose` is false.
  */
final class AgentLogger(
    val saveLogs: Boolean = true,
    val verbose: Boolean = false,
    val path: String = "graft.log",
) {
  /** Logging must never abort the query it narrates: IO failures (missing
    * parent dir is pre-created; read-only fs, disk full…) are swallowed,
    * matching the reference logger's non-raising contract. */
  def log(message: String): Unit = {
    if (!saveLogs && !verbose) return
    val line = s"${java.time.Instant.now()} $message"
    if (verbose) println(line)
    if (saveLogs) {
      try {
        Option(new java.io.File(path).getParentFile).foreach(_.mkdirs())
        val w = new java.io.FileWriter(path, true)
        try { w.write(line); w.write("\n") } finally w.close()
      } catch { case _: java.io.IOException => () }
    }
  }
}

/** One conversation message in role form (the reference's
  * to_json/to_openai_messages element shape, memory.py:72-98). */
final case class ChatMessage(role: String, content: String)

/** Conversation memory (reference: pandasai/helpers/memory.py:39-101). */
final class Memory(val memorySize: Int = 10) {
  private val msgs = mutable.Buffer.empty[(String, Boolean)] // (text, isUser)
  def add(text: String, isUser: Boolean): Unit = msgs += ((text, isUser))
  def count: Int = msgs.size
  def all: Seq[(String, Boolean)] = msgs.toSeq

  /** Assistant answers are truncated in the rendered conversation
    * (memory.py:30-36,46 — only non-user messages; raw forms below keep
    * full text). */
  private def truncate(m: String, max: Int = 100): String =
    if (m.length > max) m.take(max) + " ..." else m

  private def render(entries: Seq[(String, Boolean)]): String =
    entries.map { case (t, u) =>
      if (u) s"### QUERY\n $t" else s"### ANSWER\n ${truncate(t)}"
    }.mkString("\n")

  def getConversation: String = render(msgs.takeRight(memorySize).toSeq)
  /** Everything but the latest message (memory.py:58-63) — the prompt
    * shows the current question separately under its own heading. */
  def getPreviousConversation: String =
    render(msgs.dropRight(1).takeRight(memorySize).toSeq)

  /** Role-tagged messages, full text (memory.py:72-79 to_json). */
  def toMessages: Seq[ChatMessage] =
    msgs.toSeq.map { case (t, u) =>
      ChatMessage(if (u) "user" else "assistant", t)
    }

  /** Chat-API-shaped conversation, optional system preamble first
    * (memory.py:81-98 to_openai_messages). */
  def toChatMessages(agentDescription: Option[String] = None): Seq[ChatMessage] =
    agentDescription.map(ChatMessage("system", _)).toSeq ++ toMessages

  def clear(): Unit = msgs.clear()
}

object Serializer {
  /** Hard ceiling on head rows a prompt serialization may collect —
    * the driver-side bound that keeps Agent.chat's context assembly
    * O(tables · MaxHeadRows · maxCell) bytes regardless of corpus size
    * (see README "Driver-side bounds"). */
  val MaxHeadRows = 100

  /** Serialize a frame for the prompt: an xml-ish table tag with schema +
    * truncated head rows as CSV
    * (reference: pandasai/helpers/dataframe_serializer.py:12-59).
    * Collects at most `headN ≤ [[MaxHeadRows]]` rows of at most
    * `maxCell` rendered chars per cell — the ONLY corpus data that ever
    * reaches the prompt.
    */
  def serialize(name: String, df: DataFrame, headN: Int = 5, maxCell: Int = 100): String = {
    require(headN <= MaxHeadRows,
      s"headN ($headN) exceeds the prompt serialization cap $MaxHeadRows")
    val cols = df.schema.fields
      .map(f => s"""<column name="${f.name}" type="${f.dataType.simpleString}"/>""")
      .mkString("\n  ")
    val header = df.columns.mkString(",")
    val rows = df.limit(headN).collect().map { row =>
      row.toSeq.map { v =>
        val s = String.valueOf(v)
        val trunc = if (s.length > maxCell) s.take(maxCell) + "…" else s
        if (trunc.contains(",") || trunc.contains("\"") || trunc.contains("\n"))
          "\"" + trunc.replace("\"", "\"\"") + "\""
        else trunc
      }.mkString(",")
    }.mkString("\n")
    s"""<table dialect="spark" table_name="$name">
  $cols
<head>
$header
$rows
</head>
</table>"""
  }
}

/** Observability mirror of the reference's AgentState
  * (pandasai/agent/state.py:1-127): the last prompt/SQL the loop
  * produced and executed, a per-chat prompt id (logged on assignment,
  * state.py:90-96), the requested output type, and the intermediate-
  * values scratch map (add/add_many/get/reset, state.py:98-112). The
  * engine's tables/memory/vectorstore live on the [[Agent]] itself —
  * this class carries only the per-run observables, including where the
  * last turn's time went, attempt by attempt ([[lastTurn]]).
  */
final class AgentState(logger: Option[AgentLogger] = None) {
  private val intermediate = mutable.LinkedHashMap.empty[String, Any]
  /** The attempts of the current chat turn (the last one once it
    * returned), oldest first. */
  @volatile var lastTurn: Vector[AgentState.Attempt] = Vector.empty
  @volatile var lastSqlGenerated: Option[String] = None
  @volatile var lastSqlExecuted: Option[String] = None
  @volatile var lastPromptId: Option[java.util.UUID] = None
  @volatile var lastPromptUsed: Option[String] = None
  @volatile var outputType: Option[String] = None

  /** New id per chat turn, logged like the reference's assign_prompt_id. */
  def assignPromptId(): java.util.UUID = {
    val id = java.util.UUID.randomUUID()
    lastPromptId = Some(id)
    logger.foreach(_.log(s"Prompt ID: $id"))
    id
  }

  def add(key: String, value: Any): Unit = intermediate(key) = value
  def addMany(values: Map[String, Any]): Unit = intermediate ++= values
  def get(key: String, default: Any = ""): Any =
    intermediate.getOrElse(key, default)
  def resetIntermediateValues(): Unit = intermediate.clear()
}

object AgentState {
  /** One LLM round of a chat turn. `kind` names the prompt it answered:
    * `first`, `correction` (the previous attempt's SQL failed) or `type`
    * (the previous attempt's result had the wrong shape). The three
    * phases are wall ms from `System.nanoTime`: building the prompt,
    * the LLM call, and gating + executing + typing the result.
    * `errorClass` is the failure's exception class, `TypeMismatch` for
    * a wrong-shaped result, or None for the attempt that answered. */
  final case class Attempt(kind: String, promptMs: Double, llmMs: Double,
      executeMs: Double, errorClass: Option[String])
}

final class Agent(
    val engine: Engine,
    val llm: Llm,
    val maxRetries: Int = 3,
    val description: Option[String] = None,
    val skills: Option[SkillRegistry] = None,
    val logger: Option[AgentLogger] = None,
    val vectorstore: Option[VectorStore] = None,
    /** Where `plot` responses write their PNG (the reference writes its
      * matplotlib charts under exports/charts —
      * code_cleaning.py:138-169). */
    val chartDir: java.io.File = new java.io.File("exports/charts"),
) {
  val memory = new Memory()
  /** Per-run observables (reference agent/state.py). */
  val state = new AgentState(logger)

  private def log(msg: String): Unit = logger.foreach(_.log(msg))

  /** Store corrected Q/A pairs and reference docs in the vector store so
    * later prompts retrieve them (reference: agent/base.py:218-249,
    * including its error messages verbatim).
    */
  def train(
      queries: Option[Seq[String]] = None,
      codes: Option[Seq[String]] = None,
      docs: Option[Seq[String]] = None,
  ): Unit = {
    val store = vectorstore.getOrElse(throw new MissingVectorStoreError(
      "No vector store provided. Please provide a vector store to train the agent."))
    if (queries.exists(_.nonEmpty) != codes.exists(_.nonEmpty))
      throw new IllegalArgumentException(
        "If either queries or codes are provided, both must be provided.")
    docs.foreach(d => store.addDocs(d))
    (queries, codes) match {
      case (Some(q), Some(c)) if q.nonEmpty => store.addQuestionAnswer(q, c)
      case _ => ()
    }
    log("Agent successfully trained on the data")
  }

  /** Trained-context block: Q/A pairs and docs relevant to `question`,
    * retrieved from the vector store (the reference's
    * get_relevant_qa_documents / get_relevant_docs_documents path,
    * vectorstore.py:157-179). Empty when nothing is stored or relevant.
    */
  private def trainedContextBlock(question: String): String =
    vectorstore.fold("") { store =>
      val qas = store.getRelevantQaDocuments(question, k = 3)
      val ds = store.getRelevantDocsDocuments(question, k = 3)
      val qaPart =
        if (qas.isEmpty) ""
        else "\nYou can utilize these examples as a reference for generating SQL:\n" +
          qas.mkString("\n\n")
      val docPart =
        if (ds.isEmpty) ""
        else "\nHere are additional documents for reference:\n" + ds.mkString("\n\n")
      val both = qaPart + docPart
      if (both.isEmpty) "" else both + "\n"
    }

  /** The `<tables>` block: every registered frame serialized
    * (templates/generate_python_code_with_sql.tmpl lines 1-5 +
    * shared/dataframe.tmpl), each through the engine's per-registration
    * memo ([[Engine.tableBlock]]). */
  private def tablesBlock: String =
    engine.knownTables.toSeq.sorted.map(engine.tableBlock)
      .mkString("<tables>\n", "\n\n", "\n</tables>")

  /** Provided-functions block (shared/sql_functions.tmpl): the SQL
    * entry point plus any registered skills, advertised so generated
    * SQL may call them but never redefine them. */
  private def functionsBlock: String = {
    val skillLines = skills.map(_.describeForPrompt).filter(_.nonEmpty)
      .fold("")(s => s"\n$s")
    s"""The following functions have already been provided. Please use them as needed and do not redefine them.
<function>
executeSqlQuery(sql: String): DataFrame — runs one SELECT against the tables above
</function>$skillLines"""
  }

  /** The expected-result-type clause
    * (shared/output_type_template.tmpl, adapted to the SQL-only
    * contract: the type is determined by the result's shape). */
  private def outputTypeClause(outputType: Option[String]): String =
    outputType.fold("") {
      case "number"    => "\nThe result must be of type number: one row, one numeric column."
      case "string"    => "\nThe result must be of type string: one row, one non-numeric column."
      case "dataframe" => "\nThe result must be of type dataframe: a multi-row or multi-column table."
      case "plot"      => "\nThe result must be of type plot: a table suitable for charting."
      case other       => s"\nThe result must be of type $other."
    }

  /** First-attempt prompt (generate_python_code_with_sql.tmpl with the
    * SQL-only contract of SURVEY §3.1; system preamble per
    * generate_system_message.tmpl — agent description first, prior
    * conversation under a PREVIOUS CONVERSATION heading when present;
    * expected output type per shared/output_type_template.tmpl).
    */
  def buildPrompt(question: String, outputType: Option[String] = None): String = {
    val preamble = description.fold("You are an analytics engine.")(d => d)
    val previous =
      if (memory.count > 1) s"\n### PREVIOUS CONVERSATION\n${memory.getPreviousConversation}\n"
      else ""
    s"""$preamble
$tablesBlock

$functionsBlock
${trainedContextBlock(question)}$previous
### QUERY
 $question

Write ONE Spark SQL SELECT statement that answers the query. Return only SQL.${outputTypeClause(outputType)}

### Note: Use only relevant table for query and do aggregation, sorting, joins and groupby through sql query"""
  }

  /** Error-correction prompt
    * (correct_execute_sql_query_usage_error_prompt.tmpl, and with
    * `expectedType` the correct_output_type_error_prompt.tmpl variant):
    * tables + functions + conversation + the failed attempt + the error. */
  def buildCorrectionPrompt(failedSql: String, error: String,
      expectedType: Option[String] = None): String = {
    val fixLine = expectedType.fold(
      "Fix the sql query above and return the new sql query. Return only SQL.")(t =>
      s"Fix the sql query above and return the new sql query but the result type should be: $t. Return only SQL.")
    s"""$tablesBlock

$functionsBlock

The user asked the following question:
${memory.getConversation}

You generated the following SQL query:
$failedSql

However, it resulted in the following error:
$error

$fixLine"""
  }

  /** Strip markdown fences the LLM may wrap around the SQL. */
  def extractSql(raw: String): String = {
    val fenced = "(?s)```(?:sql)?\\s*(.*?)```".r
    (fenced.findFirstMatchIn(raw).map(_.group(1)).getOrElse(raw)).trim.stripSuffix(";")
  }

  /** chat: prompt → LLM → gate+execute → typed response, regenerating with
    * error context up to maxRetries (reference: agent/base.py:92-216).
    * With `outputType` set, a result of the wrong shape triggers the
    * type-correction retry (correct_output_type_error_prompt semantics)
    * instead of being returned.
    */
  def chat(question: String, outputType: Option[String] = None): Response = {
    memory.add(question, isUser = true)
    state.assignPromptId()
    state.outputType = outputType
    state.lastTurn = Vector.empty
    log(s"Question: $question")
    // (sql, error, expectedType) — expectedType marks a type-mismatch retry
    var failed: Option[(String, String, Option[String])] = None
    var kind = "first"
    var attempt = 0
    while (attempt <= maxRetries) {
      val t0 = System.nanoTime()
      val prompt = failed match {
        case None                      => buildPrompt(question, outputType)
        case Some((sql, error, want))  => buildCorrectionPrompt(sql, error, want)
      }
      state.lastPromptUsed = Some(prompt)
      val t1 = System.nanoTime()
      val sql = extractSql(llm.generate(prompt))
      val t2 = System.nanoTime()
      def record(errorClass: Option[String]): Unit =
        state.lastTurn :+= AgentState.Attempt(kind, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
          (System.nanoTime() - t2) / 1e6, errorClass)
      state.lastSqlGenerated = Some(sql)
      log(s"Generated SQL (attempt ${attempt + 1}): $sql")
      try {
        val out = engine.executeSqlQuery(sql)
        state.lastSqlExecuted = Some(sql)
        // a frame of several columns answers a number or string request
        // wrongly whatever its rows: the type retry needs no execution
        val resp0 =
          if (out.schema.length > 1 && outputType.exists(Set("number", "string")))
            DataFrameR(out)
          else Response.fromResult(out)
        // a plot request renders the tabular result to a real PNG, so the
        // response value carries an image path like the reference's chart
        // response (core/response/chart.py); a result with no numeric
        // column stays a dataframe and trips the type-correction retry
        val resp = (outputType, resp0) match {
          case (Some("plot"), DataFrameR(df)) =>
            val png = new java.io.File(chartDir,
              s"chart_${System.nanoTime()}.png")
            try graft.response.Charts.autoChart(df, Some(question), Some(png))
              .getOrElse(resp0)
            catch {
              case e: graft.response.Charts.ChartSpecError =>
                log(s"Chart rendering failed: ${e.msg}"); resp0
            }
          case _ => resp0
        }
        outputType match {
          case Some(want) if !Response.matchesType(resp, want) =>
            log(s"Type mismatch: got ${resp.kind}, expected $want")
            record(Some("TypeMismatch"))
            kind = "type"
            failed = Some((sql,
              s"Result type ${resp.kind} does not match the expected type", Some(want)))
            attempt += 1
          case _ =>
            memory.add(sql, isUser = false)
            log(s"Response: ${resp.kind}")
            record(None)
            return resp
        }
      } catch {
        case e: Exception =>
          record(Some(e.getClass.getSimpleName))
          kind = "correction"
          // the error message only, as the reference feeds it: an
          // AnalysisException's getMessage ends with the analyzed plan,
          // whose expression ids (b#2L) vary with what the JVM ran before
          val msg = e match {
            case a: org.apache.spark.sql.AnalysisException => a.getSimpleMessage
            case _ => e.getMessage
          }
          log(s"Execution failed: ${e.getClass.getSimpleName}: $msg")
          // keep the output-type constraint in the correction prompt so a
          // fixed query doesn't burn another retry on the wrong shape
          failed = Some((sql, s"${e.getClass.getSimpleName}: $msg", outputType))
          attempt += 1
      }
    }
    log(s"Giving up after ${maxRetries + 1} attempts")
    ErrorR(s"query failed after ${maxRetries + 1} attempts: ${failed.map(_._2).getOrElse("")}")
  }
}

/** Skills registry: named user functions advertised to the LLM and
  * registered as Spark SQL functions so generated SQL can call them
  * (reference: pandasai/ee/skills/__init__.py:76-135).
  */
final class SkillRegistry(engine: Engine) {
  private val skills = mutable.LinkedHashMap.empty[String, String]

  def register(name: String, description: String,
      udf: org.apache.spark.sql.expressions.UserDefinedFunction): Unit = {
    engine.spark.udf.register(name, udf)
    skills(name) = description
  }

  def describeForPrompt: String =
    skills.map { case (n, d) => s"- $n: $d" }.mkString("\n")

  def names: Set[String] = skills.keySet.toSet
}
