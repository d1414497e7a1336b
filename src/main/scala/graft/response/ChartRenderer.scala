package graft.response

import java.awt.image.BufferedImage
import java.awt.{BasicStroke, Color, Font, Graphics2D, RenderingHints}
import java.io.File

import org.apache.spark.sql.Row

/** Pure-JDK (Java2D) rasterizer for the three chart shapes [[Charts]]
  * emits — bar, line, scatter — so a `plot` response can carry a real PNG
  * file path the way the reference's chart response does (reference:
  * pandasai/core/response/chart.py, whose value IS the rendered image
  * path, written under exports/charts by the generated matplotlib code —
  * code_cleaning.py:138-169 rewrites user paths there). The renderer
  * draws on the DRIVER over the already-aggregated, row-capped chart
  * data (Charts.toChart enforces the cap) — rendering is presentation,
  * not a distributed concern.
  */
object ChartRenderer {

  private val W = 800
  private val H = 500
  private val MarginLeft = 80
  private val MarginRight = 24
  private val MarginTop = 48
  private val MarginBottom = 64

  private val Axis = new Color(60, 60, 60)
  private val Grid = new Color(225, 225, 225)
  private val Series = new Color(70, 120, 180)
  private val TitleFont = new Font(Font.SANS_SERIF, Font.BOLD, 16)
  private val LabelFont = new Font(Font.SANS_SERIF, Font.PLAIN, 11)

  /** Render `rows` — (x, y) pairs, as [[Charts.toChart]] collects and
    * caps them; `xField`/`yField` name the axes — as `mark` into `out`
    * (PNG). `mark` ∈ bar | line | point (the marks [[Charts.spec]]
    * accepts, minus area, which renders as line). Rows with null x or y
    * are skipped; row order is preserved for bar (the caller's ORDER BY
    * is the category order), line/point sort by x. Returns `out`.
    */
  def renderPng(rows: Array[Row], mark: String, xField: String, yField: String,
      title: Option[String], out: File): File = {
    require(Set("bar", "line", "point", "area").contains(mark),
      s"unsupported mark: $mark")

    val xNominal = mark == "bar" || rows.headOption.exists(r => !numericOrTemporal(r.get(0)))
    // (label, xNumeric, y) per kept row
    val pts: Array[(String, Double, Double)] = rows.flatMap { r =>
      val (xv, yv) = (r.get(0), r.get(1))
      if (xv == null || yv == null) None
      else {
        val y = yv match {
          case n: Number => n.doubleValue()
          case other     => fail(s"y field '$yField' is not numeric: $other")
        }
        val xNum = if (xNominal) 0.0 else toNumeric(xv)
        Some((String.valueOf(xv), xNum, y))
      }
    }
    require(pts.nonEmpty, "no drawable rows (all null x or y)")

    val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_ANTIALIASING,
        RenderingHints.VALUE_ANTIALIAS_ON)
      g.setRenderingHint(RenderingHints.KEY_TEXT_ANTIALIASING,
        RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
      g.setColor(Color.WHITE)
      g.fillRect(0, 0, W, H)

      val plotX = MarginLeft
      val plotY = MarginTop
      val plotW = W - MarginLeft - MarginRight
      val plotH = H - MarginTop - MarginBottom

      // y scale: bars anchor at 0; lines/points span the data
      val ys = pts.map(_._3)
      val (yLo0, yHi0) =
        if (mark == "bar") (math.min(0.0, ys.min), math.max(0.0, ys.max))
        else (ys.min, ys.max)
      val pad = if (yHi0 == yLo0) math.max(math.abs(yHi0) * 0.1, 1.0) else 0.0
      val (yLo, yHi) = (yLo0 - pad, yHi0 + pad)
      def yPix(v: Double): Int =
        plotY + plotH - ((v - yLo) / (yHi - yLo) * plotH).round.toInt

      // gridlines + y tick labels at ~5 nice steps
      g.setFont(LabelFont)
      val step = niceStep(yHi - yLo)
      ticks(yLo, yHi, step).foreach { tick =>
        val py = yPix(tick)
        g.setColor(Grid)
        g.drawLine(plotX, py, plotX + plotW, py)
        g.setColor(Axis)
        val label = tickLabel(tick)
        val fm = g.getFontMetrics
        g.drawString(label, plotX - 8 - fm.stringWidth(label), py + 4)
      }

      g.setColor(Series)
      if (mark == "bar") {
        val n = pts.length
        val slot = plotW.toDouble / n
        val barW = math.max(1, (slot * 0.7).toInt)
        pts.zipWithIndex.foreach { case ((_, _, y), i) =>
          val x = plotX + (i * slot + (slot - barW) / 2).toInt
          val (top, bottom) = (yPix(math.max(y, 0.0)), yPix(math.min(y, 0.0)))
          g.fillRect(x, top, barW, math.max(1, bottom - top))
        }
        drawNominalLabels(g, pts.map(_._1), plotX, plotY + plotH, slot)
      } else {
        val sorted = pts.sortBy(_._2)
        val xs = sorted.map(_._2)
        val (xLo, xHi) = (xs.min, xs.max)
        val span = if (xHi == xLo) 1.0 else xHi - xLo
        def xPix(v: Double): Int =
          plotX + ((v - xLo) / span * plotW).round.toInt
        if (mark == "point") {
          sorted.foreach { case (_, x, y) =>
            g.fillOval(xPix(x) - 3, yPix(y) - 3, 6, 6)
          }
        } else { // line (area renders as line)
          g.setStroke(new BasicStroke(2f))
          sorted.sliding(2).foreach {
            case Array((_, x1, y1), (_, x2, y2)) =>
              g.drawLine(xPix(x1), yPix(y1), xPix(x2), yPix(y2))
            case _ => ()
          }
        }
        drawNumericXLabels(g, xLo, xHi, xPix, plotY + plotH)
      }

      // axes + title + axis names
      g.setColor(Axis)
      g.setStroke(new BasicStroke(1f))
      g.drawLine(plotX, plotY, plotX, plotY + plotH)
      g.drawLine(plotX, plotY + plotH, plotX + plotW, plotY + plotH)
      title.foreach { t =>
        g.setFont(TitleFont)
        g.drawString(t, plotX, MarginTop - 18)
      }
      g.setFont(LabelFont)
      g.drawString(xField, plotX + plotW / 2 - g.getFontMetrics.stringWidth(xField) / 2,
        H - 12)
      val g2 = g.create().asInstanceOf[Graphics2D]
      g2.rotate(-math.Pi / 2, 16, plotY + plotH / 2)
      g2.drawString(yField, 16 - g2.getFontMetrics.stringWidth(yField) / 2,
        plotY + plotH / 2 + 4)
      g2.dispose()
    } finally g.dispose()

    Option(out.getParentFile).foreach(_.mkdirs())
    javax.imageio.ImageIO.write(img, "png", out)
    out
  }

  private def fail(msg: String): Nothing =
    throw Charts.ChartSpecError(msg)

  private def numericOrTemporal(v: Any): Boolean = v match {
    case _: Number | _: java.sql.Date | _: java.sql.Timestamp |
        _: java.time.LocalDate | _: java.time.Instant |
        _: java.time.LocalDateTime => true
    case _ => false
  }

  private def toNumeric(v: Any): Double = v match {
    case n: Number                 => n.doubleValue()
    case d: java.sql.Date          => d.getTime.toDouble
    case t: java.sql.Timestamp     => t.getTime.toDouble
    case d: java.time.LocalDate    => d.toEpochDay.toDouble
    case i: java.time.Instant      => i.toEpochMilli.toDouble
    case d: java.time.LocalDateTime =>
      d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble
    case other => fail(s"x value is not numeric or temporal: $other")
  }

  /** Tick positions from the first multiple of `step` ≥ `lo` through
    * `hi`, computed by INTEGER index (`base + i * step`), never by
    * `tick += step`: at large magnitudes with a tiny spread (y ≈ 1e16,
    * range 2) step falls below one ulp of tick, the increment is a
    * no-op, and the accumulating loop never terminates — it hung the
    * driver in the agent's plot path. The count is bounded by
    * construction (niceStep ⇒ ~4–6 ticks) with a hard cap as a backstop;
    * the epsilon is step-relative, not absolute, so it still admits the
    * endpoint at any magnitude.
    */
  private def ticks(lo: Double, hi: Double, step: Double): Seq[Double] = {
    val base = math.ceil(lo / step) * step
    val n = math.floor((hi - base) / step + 1e-9).toInt + 1
    (0 until math.min(math.max(n, 0), 1000)).map(i => base + i * step)
  }

  /** 1/2/5-scaled step giving ~4–6 ticks over `range`. */
  private def niceStep(range: Double): Double = {
    val raw = range / 5.0
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val norm = raw / mag
    (if (norm <= 1.5) 1.0 else if (norm <= 3.5) 2.0 else if (norm <= 7.5) 5.0
     else 10.0) * mag
  }

  private def tickLabel(v: Double): String =
    if (v == v.round.toDouble && math.abs(v) < 1e15) v.round.toString
    else f"$v%.2f"

  private def drawNominalLabels(g: Graphics2D, labels: Array[String],
      plotX: Int, baseY: Int, slot: Double): Unit = {
    val fm = g.getFontMetrics
    val stride = math.max(1, math.ceil(labels.length / 16.0).toInt)
    labels.zipWithIndex.foreach { case (l, i) =>
      if (i % stride == 0) {
        val text = if (l.length > 14) l.take(13) + "…" else l
        val cx = plotX + (i * slot + slot / 2).toInt
        g.drawString(text, cx - fm.stringWidth(text) / 2, baseY + 16)
      }
    }
  }

  private def drawNumericXLabels(g: Graphics2D, xLo: Double, xHi: Double,
      xPix: Double => Int, baseY: Int): Unit = {
    val fm = g.getFontMetrics
    val span = if (xHi == xLo) 1.0 else xHi - xLo
    val step = niceStep(span)
    ticks(xLo, xHi, step).foreach { t =>
      val label = tickLabel(t)
      g.drawString(label, xPix(t) - fm.stringWidth(label) / 2, baseY + 16)
    }
  }
}
