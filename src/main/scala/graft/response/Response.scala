package graft.response

import org.apache.spark.sql.DataFrame

/** Typed response envelope `{type, value}`
  * (reference: pandasai/core/response/parser.py:16-75 and
  * core/response/{string,number,dataframe,chart}.py).
  */
sealed trait Response { def kind: String }
final case class StringR(value: String) extends Response { val kind = "string" }
final case class NumberR(value: Double) extends Response { val kind = "number" }
final case class DataFrameR(value: DataFrame) extends Response { val kind = "dataframe" }
/** Chart response: aggregated data + a declarative vega-lite spec, and —
  * when rendered — the path of a real PNG, matching the reference's chart
  * response whose value is the image path
  * (pandasai/core/response/chart.py). */
final case class ChartR(data: DataFrame, spec: String,
    path: Option[String] = None) extends Response { val kind = "plot" }
final case class ErrorR(message: String, cause: Option[Throwable] = None)
    extends Response { val kind = "error" }

object Response {

  final class InvalidOutputValueMismatch(msg: String) extends RuntimeException(msg)

  /** Validation rules mirroring ResponseParser.parse
    * (core/response/parser.py:32-75): the declared type must agree with
    * the value's runtime shape.
    */
  def parse(kind: String, value: Any): Response = (kind, value) match {
    case ("string", s: String)     => StringR(s)
    case ("string", other)         => StringR(String.valueOf(other))
    case ("number", n: Number)     => NumberR(n.doubleValue())
    case ("number", s: String) if s.toDoubleOption.isDefined => NumberR(s.toDouble)
    case ("dataframe", df: DataFrame) => DataFrameR(df)
    case ("plot", df: DataFrame)   => ChartR(df, "{}")
    case (k, v) => throw new InvalidOutputValueMismatch(
      s"Result must be in the format of dictionary of type and value; got type=$k value-class=${if (v == null) "null" else v.getClass.getSimpleName}")
  }

  /** Does the response satisfy a requested output type (the
    * `output_type` contract of agent.chat, agent/base.py:92-103)?
    * A dataframe satisfies "plot" — charting consumes tabular data. */
  def matchesType(resp: Response, kind: String): Boolean = (resp, kind) match {
    case (_: NumberR, "number")                  => true
    case (_: StringR, "string")                  => true
    case (_: DataFrameR, "dataframe" | "plot")   => true
    case (_: ChartR, "plot")                     => true
    case (_: ErrorR, _)                          => true // errors pass through
    case _                                       => false
  }

  /** Infer a response from a query result the way the agent does for SQL
    * results: 1×1 numeric → number, 1×1 other → string, else dataframe.
    *
    * A result whose optimized plan Spark sizes at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes runs once: its rows are
    * collected here and a frame is returned over them as a local
    * relation, so the type probe, a chart's rows and the caller's
    * `collect()` run no further job. A larger result stays lazy, with a
    * `limit(2)` probe when it has one column. */
  def fromResult(df: DataFrame): Response = {
    val spark = df.sparkSession
    val oneColumn = df.schema.length == 1
    def scalar(v: Any): Response = v match {
      case n: Number => NumberR(n.doubleValue())
      case other     => StringR(String.valueOf(other))
    }
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold) {
      val rows = df.collect()
      if (oneColumn && rows.length == 1) scalar(rows(0).get(0))
      else DataFrameR(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
    } else if (oneColumn) {
      val rows = df.limit(2).collect()
      if (rows.length == 1) scalar(rows(0).get(0)) else DataFrameR(df)
    } else DataFrameR(df)
  }
}
