package graftbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.pipeline.{Dedup, OperatorCache, Recrawl, TextSearch}

/** The `recrawl` workload: one `Recrawl.build` of the BM25 and shingle
  * layouts, then seeded crawl cycles. A cycle is one `Recrawl.advance`
  * (changed, new and deleted pages) followed by a burst of probes: one
  * `TextSearch.searchTopK` per seeded term set, then one
  * `Dedup.probeContamination` of a seeded blocklist sample. Then
  * `Recrawl.compact` runs and the burst repeats against the compacted
  * layouts. Whole cycles run while the next one is expected to end within
  * the run length, so every run applies the same mix of writes and reads.
  *
  * Every probe result is recorded with the cycle it ran after; the
  * checker replays the plan's deltas and recomputes each probe from the
  * logical corpus. Layout files are measured on disk after every build,
  * advance and compact, outside the timed sections.
  */
object RecrawlBench {
  private final case class Layouts(root: String) {
    val bm25 = s"$root/bm25"
    val shingles = s"$root/shingles"
    val serving = Recrawl.ServingLayouts(textIndex = Some(bm25), shingleIndex = Some(shingles))
  }

  def run(ctx: Main.Ctx): Unit = {
    val tr = ctx.tracer
    val p = ctx.plan.path("recrawl")
    val blockMod = p.path("block_modulus").asInt()
    val blockResidue = p.path("block_residue").asInt()
    val cycles = Main.nodes(p.path("cycles"))

    var spark: SparkSession = null
    var docs: DataFrame = null
    for (_ <- 1 to ctx.setupReps) {
      val t0 = System.nanoTime()
      tr.span("setup") { _ =>
        spark = ctx.newSession()
        docs = spark.read.parquet(ctx.corpus).select("doc_id", "text")
        docs.schema
      }
      ctx.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    val session = spark
    import session.implicits._
    val isBlock = pmod(col("doc_id"), lit(blockMod)) === blockResidue
    val blockText: Map[Long, String] = docs.where(isBlock).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val lay = Layouts(s"${ctx.root}/layouts")
    val layoutStats = ctx.out.putArray("layout_stats")
    // file listings are per-layer evidence: only the traced run pays them
    def measureLayouts(after: String, cycle: Int, parent: Long = 0L): Unit =
      if (tr.enabled) tr.span("layout.measure", parent) { _ =>
        val files = Seq(lay.bm25, lay.shingles).flatMap(d => dataFiles(new File(d)))
        layoutStats.addObject().put("after", after).put("cycle", cycle)
          .put("files", files.size).put("bytes", files.map(_.length).sum)
          .put("small_files", files.count(_.length < SmallFileBytes))
          .put("tombstone_files", files.count(_.getPath.contains("_tombstones")))
      }

    val corpus = docs.where(!isBlock)
    tr.span("pipeline.recrawl_build") { _ =>
      ctx.op("build")(Recrawl.build(spark, corpus, "doc_id", "text", lay.serving))
    }
    OperatorCache.releaseAll(spark)
    measureLayouts("build", 0)

    val probes = ctx.out.putArray("probes")
    def burst(ci: Int, c: JsonNode, phase: String, parent: Long): Unit = {
      def timed(kind: String, input: (String, JsonNode))(body: => ArrayNode): Unit = {
        val (r, ns) = ctx.timed(parent)(tr.span(s"pipeline.$kind", parent) { s =>
          tr.attr(s, "phase", phase)
          ctx.op(s"$kind after cycle $ci")(body)
        })
        r.foreach { rows =>
          ctx.sample("probe_ms", ns / 1e6)
          val o = probes.addObject().put("cycle", ci).put("phase", phase).put("kind", kind)
          o.set[JsonNode](input._1, input._2)
          o.set[JsonNode]("rows", rows)
        }
      }
      Main.nodes(c.path("terms")).foreach { terms =>
        timed("textsearch_probe", "terms" -> terms) {
          val a = Main.mapper.createArrayNode()
          TextSearch.searchTopK(spark, lay.bm25, Main.strings(terms), k = 10).collect()
            .foreach(r => a.addArray().add(r.getAs[Long]("doc")).add(r.getAs[Double]("score")))
          a
        }
      }
      val block = Main.longs(c.path("block"))
      timed("dedup_probe", "block" -> c.path("block")) {
        val a = Main.mapper.createArrayNode()
        Dedup.probeContamination(spark, lay.shingles,
          block.map(i => (i, blockText(i))).toDF("doc_id", "text"), "doc_id", "text",
          minOverlap = 3).collect().sortBy(_.getAs[Long]("doc"))
          .foreach(r => a.addArray().add(r.getAs[Long]("doc")).add(r.getAs[Long]("n_overlap")))
        a
      }
    }

    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val start = System.nanoTime()
    val cycleIt = cycles.iterator.zipWithIndex
    var lastCycleNs = 0L
    do {
      val cycleStart = System.nanoTime()
      val (c, idx) = cycleIt.next()
      val ci = idx + 1
      val cycle = tr.begin("recrawl.cycle")
      val changed = Main.nodes(c.path("changed")).map(n => (n.get(0).asLong(), n.get(1).asText()))
      ctx.timed(cycle)(tr.span("pipeline.recrawl_advance", cycle) { _ =>
        ctx.op(s"advance $ci")(Recrawl.advance(spark, changed.toDF("doc_id", "text"),
          Main.longs(c.path("deleted")).toDF("doc_id"), "doc_id", "text", lay.serving))
      })
      measureLayouts("advance", ci, cycle)
      burst(ci, c, "tombstoned", cycle)
      ctx.timed(cycle)(tr.span("pipeline.recrawl_compact", cycle) { _ =>
        ctx.op(s"compact $ci")(Recrawl.compact(spark, lay.serving))
      })
      measureLayouts("compact", ci, cycle)
      burst(ci, c, "compacted", cycle)
      tr.end(cycle)
      lastCycleNs = System.nanoTime() - cycleStart
    } while (cycleIt.hasNext && System.nanoTime() + lastCycleNs <= deadline)
    ctx.loopDone(start, probes.size)
  }

  private val SmallFileBytes = 64L * 1024

  /** Parquet data files under a layout directory (checksums and commit
    * markers are not data). */
  private def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Seq.empty
    else if (dir.isFile) Seq(dir).filter(f => f.getName.endsWith(".parquet"))
    else Option(dir.listFiles).toSeq.flatten.flatMap(dataFiles)
}
