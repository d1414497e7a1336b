package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * plans/r<N>/. For lifecycle queries (which write layouts and return a
  * final probe frame) the dump is the RETURNED frame's plan; the
  * side-effecting build/advance plans are profiled via ProfileJobs.
  * `--final` executes each query first and dumps the AQE-final plan —
  * the one that shows runtime exchange/stage reuse.
  * Usage: tools/run.sh graft.PlanDump [--final] <outDir> <suffix> [queryName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val (flags, rest) = args.partition(_.startsWith("--"))
    val runFinal = flags.contains("--final")
    val outDir = rest.headOption.getOrElse("plans/r21")
    val suffix = rest.drop(1).headOption.getOrElse("before")
    val names = rest.drop(2).toSeq
    val spark = Harness.session("graft-plan-dump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"== $n: no such query")
        case Some(fn) =>
          // cleanup in finally + NonFatal only (r21 ADVICE): a failing
          // query must not strand cached operator state into the next
          // query's dumped plan, and a fatal error (OOM) must not be
          // swallowed into silently-wrong plan evidence
          try {
            val q = fn(spark, dir)
            // collect() drives THIS QueryExecution (a write would re-plan
            // a separate one), leaving the AQE-final plan behind to dump
            if (runFinal) q.collect()
            val formatted = q.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), formatted)
            println(s"== $n -> $outDir/${n}_$suffix.txt")
          } catch {
            case scala.util.control.NonFatal(e) =>
              println(s"== $n ERROR ${e.getMessage.take(120)}")
          } finally Harness.release(spark)
      }
    }
    spark.stop()
  }
}
