package graft.response

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class ChartsSpec extends SparkSpec {

  private lazy val agg = Tables.load(spark, sf, "customer")
    .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))

  test("toChart infers encoding types and embeds a vega-lite spec") {
    val c = Charts.toChart(agg, "bar", "c_mktsegment", "n", Some("by segment"))
    assert(c.kind == "plot")
    assert(c.spec.contains("\"mark\": \"bar\""))
    assert(c.spec.contains("\"field\": \"c_mktsegment\", \"type\": \"nominal\""))
    assert(c.spec.contains("\"field\": \"n\", \"type\": \"quantitative\""))
    assert(c.spec.contains("vega-lite/v5"))
    assert(c.data.count() == 5)
  }

  test("renderPng rasterizes bar, line, and scatter to decodable PNGs") {
    val dir = new java.io.File("target/graft-tmp/charts")
    // bar over a nominal x
    val bar = Charts.toChart(agg, "bar", "c_mktsegment", "n",
      Some("by segment"), renderTo = Some(new java.io.File(dir, "bar.png")))
    // line over a temporal x
    val daily = Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderdate")).agg(sum("o_totalprice").as("total"))
      .orderBy("o_orderdate").limit(200)
    val line = Charts.toChart(daily, "line", "o_orderdate", "total",
      None, renderTo = Some(new java.io.File(dir, "line.png")))
    // scatter over a quantitative x
    val pts = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_acctbal")).limit(500)
    val scat = Charts.toChart(pts, "point", "c_custkey", "c_acctbal",
      Some("balances"), renderTo = Some(new java.io.File(dir, "scatter.png")))

    for (c <- Seq(bar, line, scat)) {
      val path = c.path.getOrElse(fail(s"no path on rendered chart $c"))
      val img = javax.imageio.ImageIO.read(new java.io.File(path))
      assert(img != null, s"$path must decode as an image")
      assert(img.getWidth == 800 && img.getHeight == 500,
        s"unexpected dims ${img.getWidth}x${img.getHeight}")
      // not a blank canvas: some pixel differs from the white background
      val marked = (0 until img.getHeight by 7).exists(y =>
        (0 until img.getWidth by 7).exists(x => img.getRGB(x, y) != 0xFFFFFFFF.toInt))
      assert(marked, s"$path rendered blank")
    }
    // without renderTo the response stays path-less (spec-only contract)
    assert(Charts.toChart(agg, "bar", "c_mktsegment", "n").path.isEmpty)
  }

  test("renderPng terminates on huge-magnitude y with a tiny spread") {
    import spark.implicits._
    // y ≈ 1e16 with range 2: the tick step falls below one ulp of the
    // tick value, so an accumulating `tick += step` loop never advances
    // — this input hung the driver until ticks went integer-indexed.
    // Same shape on the x axis for the numeric-x label loop.
    val dir = new java.io.File("target/graft-tmp/charts")
    val bigY = Seq(("a", 1.0e16), ("b", 1.0e16 + 1), ("c", 1.0e16 + 2))
      .toDF("k", "v")
    val f1 = ChartRenderer.renderPng(bigY.collect(), "line", "k", "v", None,
      new java.io.File(dir, "bigy.png"))
    assert(javax.imageio.ImageIO.read(f1) != null)
    val bigX = Seq((1.0e16, 1.0), (1.0e16 + 1, 2.0), (1.0e16 + 2, 3.0))
      .toDF("x", "y")
    val f2 = ChartRenderer.renderPng(bigX.collect(), "point", "x", "y", None,
      new java.io.File(dir, "bigx.png"))
    assert(javax.imageio.ImageIO.read(f2) != null)
  }

  test("autoChart picks nominal x + numeric y and a bar mark for a groupby result") {
    val c = Charts.autoChart(agg, Some("segments"),
      renderTo = Some(new java.io.File("target/graft-tmp/charts/auto.png")))
      .getOrElse(fail("autoChart must chart a (string, count) result"))
    assert(c.spec.contains("\"mark\": \"bar\""))
    assert(c.path.exists(p => new java.io.File(p).length() > 0))
    // no numeric column -> no chart
    val textOnly = agg.select(col("c_mktsegment"))
    assert(Charts.autoChart(textOnly, None, None).isEmpty)
  }

  test("unknown field and oversized data are rejected") {
    intercept[Charts.ChartSpecError] {
      Charts.toChart(agg, "bar", "nope", "n")
    }
    // the cap is checked on the rows the chart collects: one job
    val lineitem = Tables.load(spark, sf, "lineitem")
    val (over, jobs) = jobsOf(intercept[Charts.ChartSpecError] {
      Charts.toChart(lineitem, "point", "l_orderkey", "l_quantity", maxRows = 100)
    })
    assert(over.msg.contains("aggregate before charting") && jobs == 1)
    intercept[IllegalArgumentException] {
      Charts.spec("pie3d", "a", "b")
    }
  }
}
