package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run 4-at-a-time on the shared session (Spark's scheduler is
  * thread-safe; each query is an independent job) — cuts the 80-query
  * wall time to roughly a third vs sequential.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f)) // comma-separated name prefixes
      case _ => sys.error(
        "usage: graft.Verify <sfDir> <outDir> [namePrefix,namePrefix,...]")
    }
    val spark = Harness.session("graft-verify")
    // SPARK_GRAFT_ANSI=true runs the whole suite under ANSI SQL mode —
    // the round-close sweep that turns silent-null arithmetic
    // (div-by-zero, overflow) into loud errors (r14's cohenKappa
    // div-by-zero was this class of bug)
    spark.conf.set("spark.sql.ansi.enabled", sys.env.getOrElse("SPARK_GRAFT_ANSI", "false"))
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SFDIR} lets an oracle reference undocumented tables via
    // read_parquet('<abs path>') instead of assuming the harness
    // registered a view for them (documents/embeddings are not in
    // TESTDATA.md's table list).
    // Written BEFORE the queries run: if the process is killed mid-run
    // (driver timeout, OOM), the dumps that did finish remain checkable
    // — with the oracle file written last, a partial run scored zero.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SFDIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val selected = only match {
      case None => SparkEntry.queries.toSeq
      case Some(f) =>
        val prefixes = f.split(',').toSeq
        SparkEntry.queries.toSeq.filter { case (n, _) => prefixes.exists(n.startsWith) }
    }
    // Batches of 8 (pool still caps live jobs at 4): operator-persisted
    // frames are released BETWEEN batches, not per-query — a per-query
    // releaseAll would unpersist frames a concurrently-running query is
    // mid-scan on. Batching bounds the cache footprint at ~8 queries'
    // worth instead of the whole 100+-query session.
    selected.grouped(8).foreach { batch =>
      val futures = batch.map { case (name, fn) =>
        Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
      graft.pipeline.OperatorCache.releaseAll(spark)
    }
    pool.shutdown()
    spark.stop()
  }
}
