package graft.response

import org.apache.spark.sql.DataFrame

/** Chart responses: the reference renders matplotlib PNGs inside generated
  * Python (reference: pandasai/core/response/chart.py and
  * core/code_execution/environment.py:22-35). Here a chart is the
  * aggregated data plus a declarative vega-lite spec, optionally
  * rasterized to a real PNG path by [[ChartRenderer]] (Java2D — no
  * third-party deps) so `plot` responses carry an image file like the
  * reference's. The data frame is expected to be the small aggregated
  * result (chart-sized), not raw rows; `toChart` guards with a row cap
  * so nobody ships a million-point scatter to a browser.
  */
object Charts {

  final case class ChartSpecError(msg: String) extends RuntimeException(msg)

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Minimal vega-lite v5 spec. `mark` ∈ bar | line | point | area. */
  def spec(mark: String, xField: String, yField: String,
      xType: String = "nominal", yType: String = "quantitative",
      title: Option[String] = None): String = {
    require(Set("bar", "line", "point", "area").contains(mark),
      s"unsupported mark: $mark")
    val t = title.map(s => s""""title": "${esc(s)}",""").getOrElse("")
    s"""{
       |  "$$schema": "https://vega.github.io/schema/vega-lite/v5.json",
       |  $t
       |  "mark": "$mark",
       |  "encoding": {
       |    "x": {"field": "${esc(xField)}", "type": "$xType"},
       |    "y": {"field": "${esc(yField)}", "type": "$yType"}
       |  }
       |}""".stripMargin
  }

  /** Wrap an aggregated frame as a ChartR, validating the encoded fields
    * exist and the result is chart-sized: the (x, y) rows are collected
    * once, at most `maxRows` + 1 of them, and more than `maxRows` raises.
    * With `renderTo` set, those rows are also rasterized there as a PNG
    * and the response carries the path (the reference's plot-response
    * contract). */
  def toChart(df: DataFrame, mark: String, xField: String, yField: String,
      title: Option[String] = None, maxRows: Int = 10000,
      renderTo: Option[java.io.File] = None): ChartR = {
    val cols = df.columns.toSet
    for (f <- Seq(xField, yField) if !cols.contains(f))
      throw ChartSpecError(s"chart field '$f' not in result columns ${cols.mkString(", ")}")
    val rows = df.select(xField, yField).limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw ChartSpecError(
        s"chart data exceeds $maxRows rows — aggregate before charting")
    val yType = df.schema(yField).dataType.typeName match {
      case "string" | "boolean" => "nominal"
      case _                    => "quantitative"
    }
    val xType = df.schema(xField).dataType.typeName match {
      case "timestamp" | "date" | "timestamp_ntz" => "temporal"
      case "string" | "boolean"                   => "nominal"
      case _                                      => "quantitative"
    }
    val path = renderTo.map(f =>
      ChartRenderer.renderPng(rows, mark, xField, yField, title, f).getAbsolutePath)
    ChartR(df, spec(mark, xField, yField, xType, yType, title), path)
  }

  /** Auto-chart a SQL result the way the agent's `plot` output type
    * needs: x = the first non-numeric (nominal/temporal) column, falling
    * back to the first column; y = the first numeric column other than
    * x. Mark by x type: temporal → line, nominal → bar, numeric →
    * point. Returns None when no numeric y exists (the caller keeps the
    * dataframe response).
    */
  def autoChart(df: DataFrame, title: Option[String],
      renderTo: Option[java.io.File]): Option[ChartR] = {
    val fields = df.schema.fields
    def isNumeric(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def isTemporal(dt: org.apache.spark.sql.types.DataType): Boolean =
      Set("timestamp", "date", "timestamp_ntz").contains(dt.typeName)
    val x = fields.find(f => !isNumeric(f.dataType)).getOrElse(fields.head)
    val y = fields.find(f => f.name != x.name && isNumeric(f.dataType))
    y.map { yf =>
      val mark =
        if (isTemporal(x.dataType)) "line"
        else if (isNumeric(x.dataType)) "point"
        else "bar"
      toChart(df, mark, x.name, yf.name, title, renderTo = renderTo)
    }
  }
}
