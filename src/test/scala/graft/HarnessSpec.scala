package graft

import org.apache.spark.sql.functions._

/** The run harness: its job counter agrees with Spark's own job
  * accounting, replicate makes distinct-id copies of unchanged rows, and
  * ScaleBench dispatches scenarios by name.
  */
class HarnessSpec extends SparkSpec {
  import spark.implicits._

  test("JobMetrics counts exactly the jobs Spark's status tracker reports") {
    val metrics = JobMetrics.install(spark)
    val sc = spark.sparkContext
    val group = s"harness-spec-${System.nanoTime()}"
    try {
      val before = metrics.settle()
      sc.setJobGroup(group, "harness spec")
      try {
        spark.range(0, 10000, 1, 4).selectExpr("sum(id)").collect()
        spark.range(0, 10000, 1, 4).groupBy(pmod(col("id"), lit(7))).count().collect()
        spark.range(0, 100, 1, 2).count()
      } finally sc.clearJobGroup()
      val delta = metrics.settle() - before
      assert(delta.jobs > 0)
      assert(delta.jobs == sc.statusTracker.getJobIdsForGroup(group).length)
      assert(delta.stages >= delta.jobs)
      assert(delta.cpuNs > 0)
    } finally sc.removeSparkListener(metrics)
  }

  test("replicate gives n distinct-id copies of every row, text unchanged") {
    val src = Seq((3L, "alpha beta"), (7L, "gamma"), (10L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val copies = Harness.replicate(src, "doc_id", 3).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(copies.length == 9)
    assert(copies.map(_._1).distinct.length == 9)
    val text = src.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // copy c of id i is i + c · (max id + 1)
    copies.foreach { case (id, t) => assert(text(id % 11) == t) }
  }

  test("an unknown ScaleBench scenario fails with a usage listing every scenario") {
    val e = intercept[IllegalArgumentException](ScaleBench.run(spark, Seq("nope"), sf))
    ScaleBench.scenarios.keys.foreach(n => assert(e.getMessage.contains(n), n))
    assert(ScaleBench.scenarios.size == 18)
  }

  test("the chunk scenario runs end to end at factor 2") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(ScaleBench.run(spark, Seq("chunk", "2", "--only", "chunkDocuments"), sf))
    val printed = out.toString("UTF-8")
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(printed.contains(s"documents x2: ${2 * docs} rows"), printed)
    assert(printed.linesIterator.exists(l => l.startsWith("chunkDocuments") && l.contains("jobs=")),
      printed)
  }
}
