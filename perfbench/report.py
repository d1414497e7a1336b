"""Metrics from one run's result.

End-to-end metrics (every run, measured with tracing off):
  setup_s     median of the run's set-ups
  op_p50_ms   median latency of the workload's foreground operation
              (chat: one turn; recrawl: one probe), Harrell-Davis estimate
  ops_per_s   foreground operations completed per second of the timed
              loop's operations (the recrawl loop also applies crawl
              batches and compactions, so write-side cost shows here)

Per-layer metrics (traced runs): for each span name, `.ms` is the median
self time per occurrence and the listener counters are means per
occurrence. Spans a workload never opens report 0.
"""

import statistics

import stats

E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("ops_per_s", "1/s")]

SPANS = ["agent.prompt", "agent.llm", "engine.gate", "engine.execute", "response.collect",
         "schema.load", "pipeline.recrawl_build", "pipeline.recrawl_advance",
         "pipeline.recrawl_compact", "pipeline.textsearch_probe", "pipeline.dedup_probe"]
COUNTERS = [("jobs", "count"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
            ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("output_bytes", "B")]
# spans run once per set-up or once per run, not per timed operation
OUTSIDE_LOOP = {"schema.load", "pipeline.recrawl_build"}
# what each workload's turn or crawl cycle must be fully covered by
COVERAGE = {
    "chat": ("chat.turn", {"agent.prompt", "agent.llm", "engine.execute", "response.collect"}),
    "recrawl": ("recrawl.cycle", {"pipeline.recrawl_advance", "pipeline.recrawl_compact",
                                   "pipeline.textsearch_probe", "pipeline.dedup_probe",
                                   "layout.measure", "bench.settle"}),
}
MAX_UNCOVERED = 0.05


def per_layer_names():
    names = []
    for s in SPANS:
        names.append((f"{s}.ms", "ms"))
        names.extend((f"{s}.{c}", u) for c, u in COUNTERS)
    names += [("pipeline.textsearch_probe.tombstoned_ms", "ms"),
              ("pipeline.textsearch_probe.compacted_ms", "ms"),
              ("agent.prompt.bytes", "B"), ("agent.attempts_per_turn", "count"),
              ("layout.files", "count"), ("layout.small_file_ratio", "ratio"),
              ("layout.tombstone_files", "count"), ("layout.write_amp", "ratio"),
              ("layout.compact_rewrite_bytes", "B"), ("layout.bytes_per_doc_byte", "ratio"),
              ("trace.uncovered_share", "ratio"), ("trace.overhead_ratio", "ratio"),
              ("fail_ratio", "ratio")]
    return names


def end_to_end(result):
    s = result["samples"]
    ops = s["turn_ms"] if "turn_ms" in s else s["probe_ms"]
    return {"setup_s": stats.median(s["setup_s"]),
            "op_p50_ms": stats.hd_quantile(ops),
            "ops_per_s": result["ops"] / result["busy_s"]}


def sample_summary(result):
    """Per timing: sample count, median, and the highest percentile with
    at least ten samples beyond it (None when not even the median has)."""
    out = {}
    for name, xs in result["samples"].items():
        p = stats.highest_reportable(len(xs))
        out[name] = {"n": len(xs), "median": stats.median(xs), "tail_p": p,
                     "tail": stats.percentile(xs, p) if p else None}
    return out


def _in_loop(span, result):
    return result["loop_start_ns"] <= span["start_ns"] <= result["loop_end_ns"]


def per_layer(workload, plan, result, failed):
    spans = result["spans"]
    self_ns = stats.self_times(spans)
    out = {name: 0.0 for name, _ in per_layer_names()}
    for name in SPANS:
        occ = [s for s in spans if s["name"] == name and
               (name in OUTSIDE_LOOP or _in_loop(s, result))]
        if not occ:
            continue
        out[f"{name}.ms"] = stats.median(self_ns[s["id"]] / 1e6 for s in occ)
        for c, _ in COUNTERS:
            out[f"{name}.{c}"] = statistics.fmean(s[c] for s in occ)
        if name == "pipeline.textsearch_probe":
            for phase in ("tombstoned", "compacted"):
                xs = [self_ns[s["id"]] / 1e6 for s in occ if s["attrs"].get("phase") == phase]
                if xs:
                    out[f"{name}.{phase}_ms"] = stats.median(xs)
    turns = [s for s in spans if s["name"] == "chat.turn" and _in_loop(s, result)]
    llm = [s for s in spans if s["name"] == "agent.llm" and _in_loop(s, result)]
    if turns:
        out["agent.attempts_per_turn"] = statistics.fmean(s["attrs"]["attempts"] for s in turns)
    if llm:
        out["agent.prompt.bytes"] = statistics.fmean(s["attrs"]["prompt_bytes"] for s in llm)
    if workload == "recrawl":
        out.update(layout_metrics(plan, result, spans))
    parent, kids = COVERAGE[workload]
    out["trace.uncovered_share"] = stats.uncovered_share(spans, parent, kids)
    wall = result["timed_wall_s"]
    # work only the traced run does inside the loop: gate replays and
    # layout file listings, plus the recorder's own bookkeeping
    extra_s = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                  if s["name"] in ("engine.gate", "layout.measure") and _in_loop(s, result))
    recording_s = result["trace_cost_ns"] / 1e9 + extra_s
    out["trace.overhead_ratio"] = wall / max(wall - recording_s, 1e-9)
    out["fail_ratio"] = failed / max(result["attempted"], 1)
    return out


def layout_metrics(plan, result, spans):
    import gen
    rp = plan["recrawl"]
    live_bytes = {0: sum(len(t.encode()) for t in gen.recrawl_corpus(rp)[0].values())}
    last = max(x["cycle"] for x in result["layout_stats"])
    for ci, live in gen.recrawl_states(rp):
        if ci > last:
            break
        live_bytes[ci] = sum(len(t.encode()) for t in live.values())
    samples = [x for x in result["layout_stats"] if x["after"] in ("advance", "compact")]
    out = {}
    if samples:
        out["layout.files"] = stats.median(x["files"] for x in samples)
        out["layout.small_file_ratio"] = stats.median(
            x["small_files"] / max(x["files"], 1) for x in samples)
        out["layout.tombstone_files"] = stats.median(x["tombstone_files"] for x in samples)
    amps = []
    prev = None
    for x in result["layout_stats"]:
        if x["after"] == "advance" and prev is not None:
            delta = sum(len(t.encode()) for _, t in rp["cycles"][x["cycle"] - 1]["changed"])
            amps.append((x["bytes"] - prev["bytes"]) / delta)
        prev = x
    if amps:
        out["layout.write_amp"] = stats.median(amps)
    compacts = [x for x in result["layout_stats"] if x["after"] == "compact"]
    if compacts:
        last = compacts[-1]
        out["layout.bytes_per_doc_byte"] = last["bytes"] / live_bytes[last["cycle"]]
    rewrites = [s["output_bytes"] for s in spans if s["name"] == "pipeline.recrawl_compact"]
    if rewrites:
        out["layout.compact_rewrite_bytes"] = statistics.fmean(rewrites)
    return out


def metrics(workload, plan, result, trace, failed):
    """The run's metrics as {name: {"value", "unit"}}, plus coverage
    failures of a traced run."""
    if not trace:
        vals = end_to_end(result)
        return {n: {"value": vals[n], "unit": u} for n, u in E2E}, []
    vals = per_layer(workload, plan, result, failed)
    problems = []
    if vals["trace.uncovered_share"] > MAX_UNCOVERED:
        problems.append(f"spans leave {vals['trace.uncovered_share']:.1%} of each "
                        f"{COVERAGE[workload][0]} uncovered (limit {MAX_UNCOVERED:.0%})")
    return {n: {"value": vals[n], "unit": u} for n, u in per_layer_names()}, problems
