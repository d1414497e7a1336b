package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Probes on one thread, `Recrawl.advance` and `Recrawl.compact` on
  * another, over the same BM25 and shingle layouts. Every lifecycle
  * write commits a state of its own — an advance's retire, then its
  * append; a compaction changes no answer — and every probe that
  * returns must equal the answer a from-scratch build of one of those
  * states gives. A probe may fail only while a compaction's commit is
  * open, with [[LayoutFiles.UnfinishedCommit]] or a missing file.
  */
class ProbeConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("join", "vector", "filter", "spark", "table", "stream",
    "window", "shard", "index", "probe", "merge", "crawl", "page", "token", "score",
    "bucket", "layout", "commit", "driver", "batch")

  private def text(rnd: scala.util.Random): String =
    Seq.fill(24)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("every probe beside advance and compact equals a committed state's answer") {
    val base = s"target/graft-tmp/probe-concurrency-${System.nanoTime()}"
    val rnd = new scala.util.Random(5)
    val initial = (1L to 16L).map(i => i -> text(rnd)).toMap
    // three crawl cycles: 3 changed pages, 2 new, 2 gone
    val cycles = (0 until 3).map { c =>
      val changed = Seq(1L + c, 5L + c, 9L + c).map(i => i -> text(rnd)) ++
        Seq(20L + 2 * c, 21L + 2 * c).map(i => i -> text(rnd))
      (changed, Seq(13L + c, 3L + 4 * c))
    }
    // the committed states: the build, then per cycle its retire, its append
    val states = cycles.scanLeft(Seq(initial)) { case (seen, (changed, gone)) =>
      val retired = seen.last -- gone -- changed.map(_._1)
      Seq(retired, retired ++ changed)
    }.flatten
    val block = Seq((100L, initial(2L)), (101L, initial(13L))).toDF("doc_id", "text")
    val termSets = Seq(Seq("join", "vector"), Seq("crawl", "token", "bucket"))

    def probes(lay: Recrawl.ServingLayouts): Seq[() => Seq[String]] =
      termSets.map(ts => () => rows(TextSearch.searchTopK(spark, lay.textIndex.get, ts, k = 5))) :+
        (() => rows(Dedup.probeContamination(spark, lay.shingleIndex.get, block, "doc_id",
          "text", minOverlap = 3)).sorted)
    def layouts(d: String) = Recrawl.ServingLayouts(Some(s"$d/bm25"), Some(s"$d/shingles"))
    def frame(m: Map[Long, String]): DataFrame = m.toSeq.toDF("doc_id", "text")

    val allowed: Seq[Set[Seq[String]]] = {
      val answers = states.zipWithIndex.map { case (st, i) =>
        val lay = layouts(s"$base/fresh-$i")
        Recrawl.build(spark, frame(st), "doc_id", "text", lay)
        probes(lay).map(_())
      }
      answers.transpose.map(_.toSet)
    }
    assert(allowed.forall(_.size > 1), "every probe's answer moves with the crawl")

    val live = layouts(s"$base/live")
    Recrawl.build(spark, frame(initial), "doc_id", "text", live)
    OperatorCache.releaseAll(spark)
    val compactsStarted = new AtomicInteger(0)
    val compactsEnded = new AtomicInteger(0)
    @volatile var writing = true
    val writer = Future {
      try cycles.foreach { case (changed, gone) =>
        Recrawl.advance(spark, changed.toDF("doc_id", "text"), gone.toDF("doc_id"),
          "doc_id", "text", live)
        compactsStarted.incrementAndGet()
        try Recrawl.compact(spark, live)
        finally compactsEnded.incrementAndGet()
      } finally writing = false
    }
    var served = 0
    var failed = Seq.empty[String]
    val live0 = probes(live)
    while (writing) live0.zipWithIndex.foreach { case (probe, i) =>
      val endedBefore = compactsEnded.get()
      val got = Try(probe())
      val overCommit = compactsStarted.get() > endedBefore
      got match {
        case Success(r) =>
          assert(allowed(i).contains(r), s"probe $i served $r, no committed state's answer")
          served += 1
        case Failure(e) =>
          assert(overCommit && (unfinished(e) || missingFile(e)),
            s"probe $i failed outside an open commit: $e")
          failed :+= e.getClass.getSimpleName
      }
    }
    Await.result(writer, 10.minutes)
    info(s"$served probes served a committed state's answer; ${failed.size} failed " +
      s"beside an open commit (${failed.groupBy(identity).view.mapValues(_.size).toMap})")
    assert(served >= 6, s"only $served probes ran beside the writer")
    // and once the writer is done, the final state
    live0.zipWithIndex.foreach { case (probe, i) =>
      assert(probe() == probes(layouts(s"$base/fresh-${states.size - 1}"))(i)())
    }
    OperatorCache.releaseAll(spark)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  private def unfinished(e: Throwable): Boolean =
    causes(e).exists(_.isInstanceOf[LayoutFiles.UnfinishedCommit])

  private def missingFile(e: Throwable): Boolean = causes(e).exists { c =>
    c.isInstanceOf[java.io.FileNotFoundException] ||
    Option(c.getMessage).exists(m => Seq("FILE_NOT_EXIST", "PATH_NOT_FOUND", "does not exist")
      .exists(m.contains))
  }
}
