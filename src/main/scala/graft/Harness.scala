package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{OperatorCache, TextAnalysis}

/** The run harness of every developer main (Bench, Verify, Smoke,
  * ProfileJobs, PlanDump, ScaleBench): one session config, one job
  * counter ([[JobMetrics]]), one timed [[step]], one corpus
  * [[Harness.replicate]]. A number from one main is comparable with a
  * number from another because they ran under the same config — r21's
  * ProfileJobs charged 8–11 s of GC to the wrong query only because its
  * session differed from Bench's.
  *
  * An instance is one scenario run: the session, the data dir its
  * scenarios read, and the `--only` step filter.
  */
final class Harness(val spark: SparkSession, val sfDir: String, only: Seq[String] = Nil) {
  val metrics: JobMetrics = JobMetrics.install(spark)

  /** Run `body` as one timed step: settle [[metrics]], time the body,
    * settle again, print one line (wall, jobs, task cpu, gc, shuffle
    * write, and the body's value when it is a number, string or row),
    * then release every cached frame ([[Harness.release]]). A step
    * whose label contains none of the `--only` substrings is skipped
    * (None). Frames a scenario shares across steps must therefore live
    * outside the cache manager — see [[input]].
    */
  def step[A](label: String)(body: => A): Option[Step[A]] =
    if (only.nonEmpty && !only.exists(label.contains)) None
    else try {
      val m0 = metrics.settle()
      val t0 = System.nanoTime()
      val value = body
      val sec = (System.nanoTime() - t0) / 1e9
      val m = metrics.settle() - m0
      val shown = value match {
        case v @ (_: Number | _: String | _: Boolean | _: Row) => s"  -> $v"
        case _ => ""
      }
      println(f"$label%-48s $sec%8.2f s  jobs=${m.jobs}%4d  cpu=${m.cpuMs / 1e3}%8.2f s  " +
        f"gc=${m.gcMs / 1e3}%6.2f s  shuffle=${m.shuffleBytes / 1e6}%9.1f MB$shown")
      Some(Step(value, sec, m))
    } finally Harness.release(spark)

  /** Table `name` of the data set at [[sfDir]]. */
  def table(name: String): DataFrame = {
    require(sfDir.nonEmpty, s"$name: set SPARK_GRAFT_SF_DIR to a test data set dir")
    Tables.load(spark, sfDir, name)
  }

  /** `df` computed once and held outside the cache manager (a local
    * checkpoint), so every later step reads it instead of recomputing
    * it; prints its row count. */
  def input(label: String)(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint()
    println(s"$label: ${pinned.count()} rows")
    pinned
  }

  /** Detach [[metrics]] from the session. */
  def close(): Unit = spark.sparkContext.removeSparkListener(metrics)
}

/** What one [[Harness.step]] returned, how long it took, and the job
  * counts it caused. */
final case class Step[A](value: A, sec: Double, metrics: JobMetrics.Snapshot)

object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local session config: [[cpus]] threads and as many shuffle
    * partitions, UTC, no UI, Tungsten execution memory off-heap.
    *
    * Off-heap: the launching JVM's -Xmx is outside a main's control, and
    * at sf0.1 a 32-thread run measurably GC-thrashes a small heap (r11:
    * p02 23.0s GC on a 24.0s wall; even an unloaded 8g-heap run pays ~40s
    * cumulative GC across the suite). Off-heap execution pages
    * (sort/agg/join buffers) are invisible to the collector, so shuffle
    * and aggregate pressure stops taxing every other thread's
    * allocations. Native memory, bounded explicitly.
    */
  def session(app: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "24g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up before the first measured query. Session,
    * noop-sink init and parquet footer reads land here; so does Janino
    * compilation of the shared plan shapes (shingle window, banded
    * aggregate, verify join, scoring project), by running the heaviest
    * generated-code family once on a 3-row corpus. Identical plans hit
    * the compile cache, so without this the FIRST query of a family pays
    * compilation its successors skip — p02 measured 0.2–0.5s above its
    * own superset p13 on identical work.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    try {
      import spark.implicits._
      val tiny = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
        .toDF("doc_id", "text")
      TextAnalysis.cleanCorpus(tiny, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () } finally release(spark)
  }

  /** End one call's footprint: unpersist every frame operators cached
    * ([[OperatorCache]]) and everything in the cache manager, then
    * collect the heap OUTSIDE the next timed section — otherwise one
    * call's garbage is collected during the next call's run, taxing
    * whichever allocates first. (Rounds 4–5: frames that outlived their
    * query degraded UNRELATED queries up to 9.8× in one session.)
    */
  def release(spark: SparkSession): Unit = {
    OperatorCache.releaseAll(spark)
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** max(`idCol`) + 1: the id offset between two [[replicate]] copies. */
  def idSpan(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head().getLong(0) + 1L

  /** `n` copies of `df`; copy c of the row with id i gets id
    * i + c · [[idSpan]], every other column unchanged. The scale
    * benches' corpus growth: rows grow ×n while each copy's content
    * (and so its near-dup and n-gram structure) repeats the source. */
  def replicate(df: DataFrame, idCol: String, n: Int): DataFrame = {
    val span = idSpan(df, idCol)
    df.withColumn("__copy", explode(sequence(lit(0L), lit(n - 1L))))
      .withColumn(idCol, col(idCol) + col("__copy") * span)
      .drop("__copy")
  }
}

/** One listener counting a session's jobs (started and ended), completed
  * stages, and the task-level cpu, GC and shuffle-write totals.
  * Listener delivery is asynchronous; [[settle]] waits for the bus to
  * drain, so the difference of two snapshots is exact rather than off
  * by whatever the bus still holds.
  */
final class JobMetrics private () extends SparkListener {
  private val jobsStarted = new AtomicInteger(0)
  private val jobsEnded = new AtomicInteger(0)
  private val stages = new AtomicInteger(0)
  private val cpuNs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val shuffleBytes = new AtomicLong(0L)

  override def onJobStart(js: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(je: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    // metrics are null for tasks that died before launching
    val m = te.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def now = JobMetrics.Snapshot(
    jobsEnded.get(), stages.get(), cpuNs.get(), gcMs.get(), shuffleBytes.get())

  /** The counters once every started job has ended and nothing moved
    * for 200 ms (at most 5 s of waiting). */
  def settle(): JobMetrics.Snapshot = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    var last = (-1, now)
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val cur = (jobsStarted.get(), now)
      if (cur != last) { last = cur; stableSince = System.nanoTime() }
      else if (cur._1 == cur._2.jobs &&
          System.nanoTime() - stableSince > 200L * 1000 * 1000)
        return cur._2
      Thread.sleep(20)
    }
    now
  }
}

object JobMetrics {
  final case class Snapshot(jobs: Int, stages: Int, cpuNs: Long, gcMs: Long, shuffleBytes: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
    def cpuMs: Long = cpuNs / 1000000L
  }

  /** A [[JobMetrics]] registered on `spark`'s listener bus. */
  def install(spark: SparkSession): JobMetrics = {
    val m = new JobMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }
}
