package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `Main <plan.json> <result.json>`.
  *
  * The plan (written by `gen.py` from the run's seed) holds every input:
  * the data directory, the workload, its generated operations and the
  * run length. This main only executes it and records what happened —
  * timings, spans, answers — into the result file; the Python side checks
  * answers and turns samples into metrics.
  */
object Main {
  val mapper = new ObjectMapper()

  /** What every workload gets: the plan, the run directory, the tracer
    * and the result document it fills in. */
  final class Ctx(val plan: JsonNode, val tracer: Tracer, val out: ObjectNode) {
    val root: String = plan.path("root").asText()
    val tablesDir: String = plan.path("tables").asText()
    val corpus: String = plan.path("corpus").asText()
    val seconds: Double = plan.path("seconds").asDouble()
    val cpus: Int = plan.path("cpus").asInt()
    val setupReps: Int = plan.path("setup_reps").asInt(3)
    val samples: ObjectNode = out.putObject("samples")
    private var attempted = 0L
    private var failed = 0L
    private val errors = out.putArray("errors")

    def sample(name: String, value: Double): Unit = {
      if (!samples.has(name)) samples.putArray(name)
      samples.withArray(name).add(value)
    }

    /** Count one operation; a thrown exception counts as failed. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          if (errors.size < 20)
            errors.add(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    }

    private var busyNs = 0L

    /** Time one operation of the timed loop. The heap is settled after
      * it, outside the timing, so one operation's garbage is not
      * collected during the next (the discipline `graft.Bench` uses). */
    def timed[T](parent: Long)(body: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val r = body
      val ns = System.nanoTime() - t0
      busyNs += ns
      tracer.span("bench.settle", parent)(_ => System.gc())
      (r, ns)
    }

    def untimed[T](body: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    }

    /** Record the timed loop: its wall, the time its operations took, and
      * the foreground operations it completed (turns, probes) — the base
      * of `ops_per_s`. */
    def loopDone(startNs: Long, ops: Int): Unit = {
      val end = System.nanoTime()
      out.put("loop_start_ns", startNs)
      out.put("loop_end_ns", end)
      out.put("timed_wall_s", (end - startNs) / 1e9)
      out.put("busy_s", busyNs / 1e9)
      out.put("ops", ops)
    }

    def finish(): Unit = {
      out.put("attempted", attempted)
      out.put("failed", failed)
    }

    private var current: Option[SparkSession] = None

    /** A fresh local session with the benchmark's fixed configuration;
      * stops the previous one first. Scratch and warehouse paths stay
      * inside the run directory. */
    def newSession(): SparkSession = {
      current.foreach { s => tracer.detach(); s.stop() }
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", "2g")
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      tracer.attach(s.sparkContext)
      current = Some(s)
      s
    }

    def stopSession(): Unit = {
      current.foreach { s => tracer.detach(); s.stop() }
      current = None
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Main <plan.json> <result.json>")
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val ctx = new Ctx(plan, new Tracer(plan.path("trace").asBoolean()), out)
    // graft's stub server and Spark leave non-daemon threads behind that
    // would keep the JVM alive for their idle timeout; exit explicitly
    var code = 1
    try {
      plan.path("workload").asText() match {
        case "chat"    => ChatBench.run(ctx)
        case "recrawl" => RecrawlBench.run(ctx)
        case other     => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      provenance(ctx)
      code = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      ctx.stopSession()
      ctx.finish()
      out.set[JsonNode]("spans", ctx.tracer.toJson)
      out.put("trace_cost_ns", ctx.tracer.costNs)
      Files.write(Paths.get(args(1)),
        mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    }
    System.exit(code)
  }

  /** Stamp the result with what it ran on: heap and the effective Spark
    * conf of the last session (nproc, SHA and seed are added by run.py). */
  private def provenance(ctx: Ctx): Unit = {
    val p = ctx.out.putObject("provenance")
    p.put("max_heap_bytes", Runtime.getRuntime.maxMemory())
    p.put("jvm", System.getProperty("java.version"))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { s =>
      val conf = p.putObject("spark_conf")
      s.sparkContext.getConf.getAll.sorted.foreach { case (k, v) =>
        // per-run values (ports, host, ids) and JVM flags are not the conf
        if (!k.startsWith("spark.app.") && !k.endsWith(".host") && !k.endsWith(".port") &&
            !k.endsWith(".id") && !k.endsWith("extraJavaOptions"))
          conf.put(k, v)
      }
      p.put("spark_version", s.version)
    }
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
  def nodes(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
