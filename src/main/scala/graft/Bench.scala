package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is FULLY materialized through the
  * noop sink (a bare count() would let Catalyst prune every projection
  * and under-measure expression-heavy queries); failures carry an "err"
  * marker instead of silently folding into the total.
  *
  * SELF-ATTRIBUTION: [[JobMetrics]] counts jobs/stages AND sums task-level
  * executor GC / CPU time per timed run. A slow run whose job/stage
  * counts match the fast run's did the SAME work slower — and the GC/CPU
  * numbers now say WHY: a GC delta that covers the wall-clock delta is a
  * heap-pressure artifact (r9's p44 paid 49.8s cold vs 3.9s warm on
  * identical 13 jobs with nothing in the record to show it); a CPU delta
  * without GC is neighbors/frequency. A job-count delta still means
  * recomputation (the r6/r7 broadcast-cache race signature).
  *
  * OUTPUT CONTRACT (r9 lesson): the driver protocol keeps only the LAST
  * 2,000 chars of output. r9 embedded the attribution blob in the single
  * result line and the totals were truncated away — the official record
  * for p01–p27 survived nowhere. Now the attribution JSON goes to its
  * own EARLIER line plus a file (bench/attribution.json), and the
  * compact totals line — the driver's comparison record — prints LAST.
  */
object Bench {
  // Headline set: one per operator family, the plans worth defending at
  // 100×. The full per-operator matrix runs under Verify/CORRECTNESS.
  // Package-visible so ContractSpec can assert every name resolves — the
  // .filter(qs.contains) below would otherwise let a typo silently drop
  // a query from the official record.
  private[graft] val headline = Seq(
    "r02_expression", "r04_filter", "r06_join_inner", "r07_groupby_agg",
    "r08_agg_functions", "r13_pagination", "r15_cte", "r16_window",
    "r17_topk", "u2_execute_sql", "t10_normalize", "t25_validate_foreign_key",
    "p01_dedup_exact", "p02_dedup_minhash", "p03_dedup_simhash",
    "p06_ann_bruteforce", "p08_ann_join", "p09_text_stats",
    "p10_text_analysis", "p12_stream_window", "p13_neardup_dedup",
    "p14_ann_ivf", "p15_clean_corpus", "p16_asof_join",
    "p17_range_join", "p18_sessionize", "p20_semantic_dedup",
    "p21_decontaminate", "p22_tfidf", "p23_bm25", "p24_repetition",
    "p25_pii_scrub", "p26_dup_spans", "p27_ann_sq8", "p28_lm_score",
    "p29_pack_sequences", "p30_sample_stratified",
    "p31_semantic_decontaminate", "p32_chunk_documents", "p33_bigram_lm",
    "p34_remove_shared_spans", "p35_screen_blocklist",
    "p36_sample_token_budget", "p37_encode_tokens", "p38_ann_pq",
    "p39_ann_ivfpq", "p40_quality_rules", "p41_corpus_stats",
    "p42_ann_ivfpq_residual", "p43_split_corpus", "p44_fuzzy_decontaminate",
    "p45_remove_repeated_spans", "p46_corpus_divergence",
    "p47_dedup_report", "p48_bpe_encode", "p49_curate_e2e",
    "p50_remove_shared_substrings", "p51_remove_dup_lines",
    "p52_shard_corpus", "p53_classifier_scores", "p54_corpus_manifest",
    "p55_temperature_resample", "p56_classifier_screen", "p57_export_jsonl",
    "p58_gopher_repetition", "p59_c4_line_rules", "p60_dsir_select",
    "p61_perplexity_buckets", "p62_bloom_gate", "p63_entropy_signals",
    "p64_kmv_cardinality", "p65_domain_reweight", "p66_kneser_ney",
    "p67_priority_sample", "p68_cms_frequencies", "p69_source_overlap",
    "p70_mixture_compose", "p71_filter_attribution", "p72_canonical_selection",
    "p73_curriculum_order", "p74_corpus_diff", "p75_token_pmi",
    "p76_winnow_fingerprint", "p77_image_phash", "p78_audio_fingerprint",
    "p79_video_neardup", "p80_json_props", "p81_dialogue_corpus",
    "p82_hash_embed", "p83_drift_psi", "p84_contrastive_pairs",
    "p85_profile_columns", "p86_funnel", "p87_retention_cohorts",
    "p88_event_transitions", "p89_lsh_recall_audit", "p90_ivf_recall_audit",
    "p91_pq_recall_audit", "p92_lsh_recall_sampled", "p93_calibration_card",
    "p94_langid_confusion", "p95_curate_incremental",
    "p96_ivf_recall_sampled", "p97_pq_recall_sampled",
    "p98_semantic_dedup_incremental", "p99_epoch_mixture",
    "p100_curate_chained", "p101_curate_report", "p102_text_search_topk",
    "p103_text_search_batch", "p104_leakage_safe_split",
    "p105_url_normalize", "p106_host_cap", "p107_split_leakage_audit",
    "p108_label_agreement", "p109_majority_vote", "p110_unicode_normalize",
    "p111_bpe_roundtrip", "p112_host_concentration",
    "p113_archive_decontaminate", "p114_hybrid_search",
    "p115_multimodal_curate", "p116_archive_curate", "p117_html_extract",
    "p118_multimodal_curate_incremental", "p119_html_archive_curate",
    "p120_chunk_sentences", "p121_llm_distill_screen", "p122_langid_trained",
    "p123_boilerplate_lines", "p124_ann_index_delete", "p125_text_search_delete",
    "p126_shingle_index_update", "p127_semantic_state_lifecycle",
    "p128_recrawl_serving", "p129_pack_related", "p130_rrf_search",
    "p131_robots_screen", "p132_robots_archive_curate",
    "p133_pack_materialize", "p134_training_freeze", "p135_rrf_ann",
    "p136_ann_probe_batch", "p137_training_freeze_bpe", "p138_rrf_ann_served",
    "p139_ann_residual_batch", "p140_ann_lsh_batch", "p141_retrieval_eval",
    "p142_screen_order", "p143_cjk_segmentation", "p144_rrf_residual_served",
    "p145_script_route", "p146_multilingual_screen", "p147_screen_cascade",
    "p148_multilingual_corpus",
    "s14_warc_roundtrip", "s15_webdataset_roundtrip", "s16_warc_fetch",
    "s17_wet_roundtrip")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    Harness.warmUp(spark, sfDir)

    val metrics = JobMetrics.install(spark)
    val qs = SparkEntry.queries
    // each query runs twice and reports the MIN — one-shot timings on a
    // shared box swing ±30% (JIT, page cache, neighbors); the min of two
    // is a far stabler estimate of steady-state plan cost. Each run is
    // fully SELF-CONTAINED: it materializes through the noop sink, then
    // releases every frame its operator persisted internally — a cached
    // frame's lifetime is one call, not the session. (Rounds 4–5 lesson:
    // frames that outlived their query degraded UNRELATED queries up to
    // 9.8× across the 35-query session, and run-2 re-persists of a plan
    // run 1 left cached skewed the min toward a state no single call
    // ever sees.) So each number is the cold cost one user call pays.
    final case class Run(sec: Double, jobs: Int, stages: Int, gcMs: Long, cpuMs: Long)
    // SPARK_GRAFT_BENCH_ONLY=name1,name2 restricts the run — the
    // iterate-on-one-query loop; unset = the full headline set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results: Seq[(String, Either[String, Seq[Run]])] = headline
      .filter(qs.contains)
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
        def once(): Either[String, Run] = {
          val m0 = metrics.settle()
          val t0 = System.nanoTime()
          try {
            qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            val m = metrics.settle() - m0
            Right(Run(sec, m.jobs, m.stages, m.gcMs, m.cpuMs))
          } catch {
            case e: Throwable => Left(e.getClass.getSimpleName)
          } finally Harness.release(spark)
        }
        val r = (once(), once()) match {
          case (Right(a), Right(b)) => Right(Seq(a, b))
          case (Right(a), Left(_))  => Right(Seq(a))
          case (Left(_), Right(b))  => Right(Seq(b))
          case (Left(e), _)         => Left(e)
        }
        // divergent runs get flagged at the point of measurement: a
        // job-count delta means something recomputed; same jobs means
        // the same plan ran slower, and the task metrics say why —
        // when the slow run's extra GC covers most of the wall delta
        // it's heap pressure, otherwise box load / frequency / neighbors
        r.foreach { runs =>
          if (runs.size == 2 && runs.map(_.sec).max > 1.5 * runs.map(_.sec).min) {
            val Seq(r1, r2) = runs
            val (fast, slow) = if (r1.sec <= r2.sec) (r1, r2) else (r2, r1)
            val cause =
              if (r1.jobs != r2.jobs) "JOB COUNT DIFFERS, recomputation"
              else if ((slow.gcMs - fast.gcMs).toDouble >
                  0.5 * (slow.sec - fast.sec) * 1000)
                f"same jobs, environmental (GC ${slow.gcMs}ms vs ${fast.gcMs}ms)"
              else
                f"same jobs, environmental (cpu ${slow.cpuMs}ms vs ${fast.cpuMs}ms)"
            System.err.println(
              f"[bench] $name diverged: run1 ${r1.sec}%.2fs/${r1.jobs} jobs, " +
                f"run2 ${r2.sec}%.2fs/${r2.jobs} jobs — " + cause)
          }
        }
        name -> r
      }

    val qJson = results.map {
      case (k, Right(runs)) =>
        s""""$k":${math.round(runs.map(_.sec).min * 1000) / 1000.0}"""
      case (k, Left(err))   => s""""$k":"err:$err""""
    }.mkString("{", ",", "}")
    val attrJson = results.collect { case (k, Right(runs)) =>
      val rs = runs.map(r =>
        s"""{"sec":${math.round(r.sec * 1000) / 1000.0},"jobs":${r.jobs},"stages":${r.stages},"gcMs":${r.gcMs},"cpuMs":${r.cpuMs}}""")
      s""""$k":[${rs.mkString(",")}]"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(runs)) => runs.map(_.sec).min }.sum
    val nErr = results.count(_._2.isLeft)
    // attribution: own line (NOT in the totals line) + best-effort file,
    // so the per-query evidence survives even when the driver keeps only
    // the output tail
    val attrLine = s"""{"metric":"attribution","runs":$attrJson,"sf":"$sfDir"}"""
    println(attrLine)
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("attribution.json"), attrLine)
    } catch { case _: Throwable => () }
    // full totals line: printed AND persisted to bench/ (the driver's
    // stdout capture keeps only a ~2,000-char tail, which a 150-query
    // map exceeds — r18's BENCH arrived parsed:null for exactly that
    // reason, so the file is the durable record)
    val fullLine =
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","queries":$qJson,"errors":$nErr,"sf":"$sfDir"}"""
    println(fullLine)
    // fail LOUDLY if the persist fails (r19 ADVICE): round_close copies
    // bench/totals.json as the official per-sf record; a swallowed write
    // failure would silently snapshot the PREVIOUS run's totals.
    // SUBSET runs (SPARK_GRAFT_BENCH_ONLY) go to totals_subset.json
    // instead — a filtered sweep must never overwrite the official
    // full-suite record (r21 ADVICE: a 7-query subset sat in
    // totals.json labeled as the suite total until round close).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench").resolve(
        if (only.isDefined) "totals_subset.json" else "totals.json"),
      fullLine)
    // compact totals line LAST — same contract shape, but `queries`
    // carries only the 12 slowest (the full map is in bench/totals.json
    // and the line above), so the whole line fits any tail capture
    val slowest = results.collect { case (k, Right(runs)) =>
      k -> math.round(runs.map(_.sec).min * 1000) / 1000.0
    }.sortBy(-_._2).take(12)
      .map { case (k, s) => s""""$k":$s""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","queries":$slowest,"queries_n":${results.size},"errors":$nErr,"sf":"$sfDir"}""")
    spark.stop()
  }
}
