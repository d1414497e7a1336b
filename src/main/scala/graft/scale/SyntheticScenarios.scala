package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.{AsofJoin, Sessionize}
import graft.pipeline.{Curation, Multimodal, OperatorCache, Urls}
import graft.streaming.EventStreams

/** Scale scenarios over generated inputs (strata, URLs and robots
  * bodies, multimodal assets) and the replicated events table.
  */
object SyntheticScenarios {

  /** [[Curation.capPerStratum]] with UNBOUNDED strata counts — one
    * 90%-mass mega-host plus a million distinct tail hosts, the shape of
    * a real crawl. The shipped operator is the plain constant-cap rank
    * window, which Spark rewrites to WindowGroupLimit (≤ cap rows per
    * stratum map-side, so the mega-host never becomes one sort task).
    * The REJECTED alternative (clampBucket offsets joined by (stratum,
    * bucket)) stays as a measured negative result: at 50M rows it ran
    * 6.3–7.4s vs 4.7–5.1s for the window — bucket exchanges only pay off
    * when the per-stratum limit is a variable column. Asserts the two
    * agree and that the shipped plan carries WindowGroupLimit.
    */
  def cap(h: Harness, args: Seq[String]): Unit = {
    val smallN = args.headOption.map(_.toLong).getOrElse(5000000L)
    val bigN = args.lift(1).map(_.toLong).getOrElse(50000000L)
    // 90% of rows on one mega-host; the rest over 1M distinct tails
    def corpus(n: Long): DataFrame =
      h.spark.range(n).select(col("id").as("doc_id"))
        .withColumn("host",
          when(pmod(col("doc_id"), lit(10)) < 9, lit("mega.example.org"))
            .otherwise(concat(lit("h"), pmod(col("doc_id"), lit(1000000L)))))
    val cap = 100L
    def bucketed(df: DataFrame): DataFrame = {
      val gate = Curation.idGate(col("doc_id"))
      val keyed = df.withColumn("__gate", gate)
        .withColumn("__b",
          greatest(least(floor(col("__gate").cast("double") / 977), lit(1023)),
            lit(0)).cast("long"))
      val offs = keyed.groupBy(col("host"), col("__b")).agg(count(lit(1)).as("__n"))
        .withColumn("__off",
          sum("__n").over(Window.partitionBy("host").orderBy("__b")) - col("__n"))
        .select(col("host"), col("__b"), col("__off"))
      val sel = Window.partitionBy(col("host"), col("__b"))
        .orderBy(col("__gate"), col("doc_id"))
      keyed.join(offs, Seq("host", "__b"))
        .where(col("__off") < cap)
        .withColumn("__rk", row_number().over(sel) + col("__off"))
        .where(col("__rk") <= cap)
        .select(col("doc_id"), col("host"))
    }

    val probe = Curation.capPerStratum(corpus(1000L), "doc_id", "host", cap)
    require(probe.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "capPerStratum lost its WindowGroupLimit rewrite")
    val small = corpus(smallN).cache()
    val a = Curation.capPerStratum(small, "doc_id", "host", cap)
    val b = bucketed(small)
    require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "capPerStratum diverged from the bucketed variant")
    println(s"equality OK at $smallN rows (${a.count()} kept)")
    small.unpersist()

    val big = corpus(bigN)
    Seq(1, 2).foreach { round =>
      h.step(s"capPerStratum (window) n=$bigN round $round") {
        Curation.capPerStratum(big, "doc_id", "host", cap)
          .write.format("noop").mode("overwrite").save()
      }
      h.step(s"bucketed alternative   n=$bigN round $round") {
        bucketed(big).write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** The robots.txt screen: parse hosts' robots bodies into agent-`*`
    * Allow/Disallow rules, then screen URLs under RFC 9309 longest-match
    * precedence, in BOTH regimes — broadcast (right for a small rule
    * side, measured at ≤ 1M hosts: beyond that the rule table is the
    * driver/executor memory cliff) and scale (`broadcastRules = false`:
    * a narrow (id, host, path) projection joins the rules shuffled on
    * host, blocked ids anti-join back), where per-URL cost should stay
    * ~flat as hosts grow 10×. Parse cost is ∝ hosts, independent of the
    * corpus.
    */
  def robots(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val smallN = args.headOption.map(_.toLong).getOrElse(5000000L)
    val bigN = args.lift(1).map(_.toLong).getOrElse(50000000L)
    val hosts = args.lift(2).map(_.toLong).getOrElse(10000000L)
    // every host disallows /private; even hosts also /p/1 with an Allow
    // carve-out (the precedence aggregate); every fifth host a wildcard
    // rule (the regex residual); one ignored badbot group exercises the
    // group logic at full width
    def robots(nHosts: Long) = spark.range(nHosts)
      .select(concat(lit("h"), col("id"), lit(".example.org")).as("host"),
        concat(
          lit("User-agent: badbot\nDisallow: /\n\nUser-agent: *\n" +
            "Disallow: /private\n"),
          when(pmod(col("id"), lit(2)) === 0,
            lit("Disallow: /p/1\nAllow: /p/12\n")).otherwise(lit("")),
          when(pmod(col("id"), lit(5)) === 0, lit("Disallow: /p/2*3\n"))
            .otherwise(lit(""))).as("body"))
    def urls(n: Long, nHosts: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("http://h"), pmod(col("id"), lit(nHosts)),
          lit(".example.org/p/"), col("id")).as("url"))
    // the parsed rules outlive their step: a local checkpoint, freed
    // once the regime's screens are done
    def screens(regime: String, nHosts: Long, broadcastRules: Boolean): Unit =
      for (rules <- h.step(s"parse ($nHosts hosts, $regime regime)") {
          Urls.robotsDisallows(robots(nHosts), "host", "body").localCheckpoint()
        }) {
        println(s"  rules: ${rules.value.count()}")
        for (n <- Seq(smallN, bigN)) {
          h.step(s"$regime screen ($n urls, $nHosts hosts) [kept]") {
            Urls.robotsScreen(urls(n, nHosts), "url", rules.value,
              broadcastRules = broadcastRules, idCol = Some("doc_id")).count()
          }
        }
        OperatorCache.releaseCheckpoint(rules.value)
      }
    screens("broadcast", math.min(hosts, 1000000L), broadcastRules = true)
    screens("scale", hosts, broadcastRules = false)
  }

  /** The temporal operators over the events table replicated ×N with
    * remapped user_ids — key cardinality grows ×N while per-key history
    * stays constant, which is how an event log grows (more users, not
    * deeper timelines). Each operator's one key-hash shuffle spreads over
    * ×N keys with flat per-partition passes, so wall should grow
    * sublinearly in rows until the shuffle write dominates.
    *  - asof: union + running last(ignoreNulls) window
    *  - sessionize: lag + running-sum windows
    *  - window: hour-bucket groupBy (map-side combine, partial shuffle)
    */
  def temporal(h: Harness, args: Seq[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val scaled = h.input(s"events x$n")(Harness.replicate(
      h.table("events").select("event_id", "user_id", "ts", "event_type", "value"), "user_id", n))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    h.step("asof") {
      val errors = scaled.where(col("event_type") === "error")
        .select("event_id", "user_id", "ts", "value")
      val clicks = scaled.where(col("event_type") === "click")
      noop(AsofJoin.backward(errors, clicks,
        leftKey = "user_id", rightKey = "user_id",
        leftTs = "ts", rightTs = "ts",
        rightCols = Map("event_id" -> "click_id", "value" -> "click_value")))
    }
    h.step("sessionize") {
      noop(Sessionize.sessions(scaled, "user_id", "ts", gap = "12 hours",
        aggs = Seq(sum(col("value")).as("sum_value"))))
    }
    h.step("window")(noop(EventStreams.windowedStats(scaled, windowLen = "1 hour")))
  }

  /** The multimodal dedup trio over ×N generated assets (ids fanned out
    * so every payload is distinct). Decode+hash is MAP-SIDE — payload
    * bytes never enter an exchange, only fingerprints (16 B) and
    * landmarks (20 B) shuffle — so wall grows linearly in assets with a
    * flat per-asset constant. Matching is timed at the smallest size,
    * where cluster sizes resemble a deduped corpus (the fixture classes
    * repeat, so pair OUTPUT grows quadratically in class size).
    */
  def multimodal(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val sizes = if (args.nonEmpty) args.map(_.toInt) else Seq(108, 1080, 5400)
    // ids spread across 32 partitions so decode parallelizes like a real
    // asset table
    def ids(n: Int) = spark.range(0, n, 1, 32).toDF("doc_id")
    sizes.foreach { n =>
      h.step(s"image phash   n=$n [fingerprints]") {
        Multimodal.imagePhashes(spark, Multimodal.patternedAssets(spark, ids(n), "doc_id")).count()
      }
      h.step(s"audio peaks   n=$n [landmarks]") {
        Multimodal.audioPeaks(spark, Multimodal.toneAssets(spark, ids(n), "doc_id")).count()
      }
      h.step(s"video hashes  n=$n [fingerprints]") {
        Multimodal.videoFrameHashes(spark, Multimodal.videoAssets(spark, ids(n), "doc_id")).count()
      }
    }
    val base = ids(sizes.head)
    h.step(s"image match n=${sizes.head} [pairs]") {
      Multimodal.imageNearDups(spark,
        Multimodal.patternedAssets(spark, base, "doc_id"), maxHamming = 4).count()
    }
    h.step(s"audio match n=${sizes.head} [pairs]") {
      Multimodal.audioMatches(spark,
        Multimodal.toneAssets(spark, base, "doc_id"), minFrames = 5).count()
    }
    h.step(s"video match n=${sizes.head} [pairs]") {
      Multimodal.videoNearDups(spark, Multimodal.videoAssets(spark, base, "doc_id")).count()
    }
  }
}
