package graft

import org.apache.spark.sql.SparkSession

import graft.scale.{CorpusScenarios, FormatScenario, ServingScenarios, SyntheticScenarios}

/** Scale scenarios: each grows one operator family's input (replicated
  * corpora, synthetic rows, wider archives) and times its steps through
  * the shared [[Harness]] — one session config, one job counter, one
  * step line per timed call. PLANS.md cites each scenario's results.
  *
  * Usage: tools/run.sh graft.ScaleBench <scenario> [args] [--only label,...]
  *
  * `--only` runs just the steps whose label contains one of the given
  * substrings. Scenarios over a test data set (documents, embeddings,
  * events) read it from `SPARK_GRAFT_SF_DIR` — the sf0.1 set is the
  * scale the results in PLANS.md start from.
  */
object ScaleBench {

  /** A scenario's argument synopsis and body. */
  final case class Scenario(args: String, run: (Harness, Seq[String]) => Unit)

  val scenarios: Map[String, Scenario] = scala.collection.immutable.ListMap(
    "ann" -> Scenario("[replica-list=1,10,20]", ServingScenarios.ann),
    "bigram" -> Scenario("[replicas=10]", CorpusScenarios.bigram),
    "cap" -> Scenario("[smallN=5e6] [bigN=5e7]", SyntheticScenarios.cap),
    "chunk" -> Scenario("[replicas=10]", CorpusScenarios.chunk),
    "cluster" -> Scenario("[replicas=10]", CorpusScenarios.cluster),
    "format" -> Scenario("[docsDir=target/docs500k] [shards=32]", FormatScenario.run),
    "heavy" -> Scenario("[replicas=10]", CorpusScenarios.heavy),
    "ivfpq" -> Scenario("[replica-list=1,10,20] [bulk-queries=100000]", ServingScenarios.ivfpq),
    "lifecycle" -> Scenario("[docsDir=target/docs500k] [deltaPct=1]", ServingScenarios.lifecycle),
    "multimodal" -> Scenario("[assetsPerMode ...=108 1080 5400]", SyntheticScenarios.multimodal),
    "pack" -> Scenario("[replicas=10]", CorpusScenarios.pack),
    "recrawl" -> Scenario("[sfDir=$SPARK_GRAFT_SF_DIR]  (env RECRAWL_PREV_PCT=70)",
      ServingScenarios.recrawl),
    "robots" -> Scenario("[smallN=5e6] [bigN=5e7] [hosts=1e7]", SyntheticScenarios.robots),
    "sketch" -> Scenario("[replicas=10]", CorpusScenarios.sketch),
    "skew" -> Scenario("[replicas=10] [--synthetic N]", CorpusScenarios.skew),
    "span" -> Scenario("[replicas=10]", CorpusScenarios.span),
    "temporal" -> Scenario("[replicas=10]", SyntheticScenarios.temporal),
    "winnow" -> Scenario("[replicas ...=1 10 20]", CorpusScenarios.winnow),
  )

  def usage: String =
    "usage: graft.ScaleBench <scenario> [args] [--only label,...]\nscenarios:\n" +
      scenarios.map { case (n, s) => f"  $n%-11s ${s.args}" }.mkString("\n")

  /** Run the scenario `args.head` with the rest of `args` on `spark`. */
  def run(spark: SparkSession, args: Seq[String], sfDir: String): Unit = {
    val scenario = args.headOption.flatMap(scenarios.get)
      .getOrElse(throw new IllegalArgumentException(usage))
    val at = args.indexOf("--only")
    val only = if (at < 0) Nil else args.lift(at + 1).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val rest = if (at < 0) args.tail else args.tail.patch(at - 1, Nil, 2)
    val h = new Harness(spark, sfDir, only)
    try scenario.run(h, rest) finally h.close()
  }

  def main(args: Array[String]): Unit = {
    if (!args.headOption.exists(scenarios.contains)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val spark = Harness.session(s"graft-scale-${args.head}")
    try run(spark, args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", ""))
    finally spark.stop()
  }
}
