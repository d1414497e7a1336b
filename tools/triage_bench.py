#!/usr/bin/env python3
"""Round-over-round bench triage with job and cpuMs columns (r18 VERDICT
item 8): wall-time swings with identical jobs recur every round on the
shared box, and wall alone cannot distinguish noise from regression.
Classification per mover:

  jobs equal AND cpuMs steady -> box-noise        (ignore)
  jobs equal AND cpuMs up     -> cpu-regression   (plan-constant: data or
                                                   expression cost changed
                                                   -- worth a look)
  jobs equal AND cpuMs down   -> cpu-improved
  jobs changed                -> plan-change      (deliberate? check diff)

Usage:
  triage_bench.py bench/attribution_r18.json bench/attribution_r19.json \
      [wall_flag=1.2] [cpu_band=1.25]
  triage_bench.py parent_recrawl.out change_recrawl.out [wall_flag] [cpu_band]

Each input is either a Bench attribution snapshot:
  {"metric":"attribution","runs":{"q":[{"sec":..,"jobs":..,"cpuMs":..},..]}}
Per query we take the min-sec run's jobs and the min cpuMs across runs
(cpuMs is stabler than wall but still dips on a warm second run).

Or the output of a traced perfbench run (`python3 perfbench/run.py
--workload recrawl --seed 1 --trace 1 > x.out`, or `--workload chat`):
its LAST JSON line, {"correct":..,"metrics":{..}}, is read, and every
traced layer -- `pipeline.*`, `agent.*`, `engine.*`, `response.*`,
`schema.*` -- with `.jobs` and `.task_cpu_ms` becomes one row (`.ms` as
its wall) under the same classes. A chat layer's jobs are a mean per
span, so they print with two decimals.
"""
import json
import sys

LAYERS = ("pipeline.", "agent.", "engine.", "response.", "schema.")


def load(path):
    """(rows, per_layer) of one input: per_layer is True for perfbench."""
    text = open(path).read()
    try:
        d = json.loads(text)
    except ValueError:  # perfbench output: the result is its last JSON line
        d = json.loads([ln for ln in text.splitlines() if ln.startswith("{")][-1])
    if "metrics" in d:
        return load_layers(d["metrics"]), True
    out = {}
    for q, rs in d["runs"].items():
        best = min(rs, key=lambda r: r["sec"])
        out[q] = dict(sec=best["sec"], jobs=best["jobs"],
                      cpu=min(r["cpuMs"] for r in rs))
    return out, False


def load_layers(metrics):
    """Per-layer rows of a perfbench result's metrics map, whose entries
    are {"value": v, "unit": u}."""
    def value(name):
        m = metrics.get(name)
        return m["value"] if isinstance(m, dict) else m
    out = {}
    for k in metrics:
        if not (k.startswith(LAYERS) and k.endswith(".jobs")):
            continue
        layer = k[:-len(".jobs")]
        cpu = value(layer + ".task_cpu_ms")
        if cpu is None:
            continue
        out[layer] = dict(sec=(value(layer + ".ms") or 0) / 1000,
                          jobs=value(k), cpu=int(round(cpu)))
    return out


def main():
    (a, layers), (b, _) = load(sys.argv[1]), load(sys.argv[2])
    wall_flag = float(sys.argv[3]) if len(sys.argv) > 3 else 1.2
    cpu_band = float(sys.argv[4]) if len(sys.argv) > 4 else 1.25
    common = sorted(set(a) & set(b),
                    key=lambda q: -(b[q]["sec"] / max(a[q]["sec"], 1e-9)))
    rows, counts = [], {}
    for q in common:
        x = b[q]["sec"] / max(a[q]["sec"], 1e-9)
        jeq = a[q]["jobs"] == b[q]["jobs"]
        cx = b[q]["cpu"] / max(a[q]["cpu"], 1.0)
        # sub-500ms absolute cpu jitter is box noise at any ratio: a
        # uniformly slower slot lifts every small query's cpuMs together
        material = abs(b[q]["cpu"] - a[q]["cpu"]) >= 500
        if not jeq:
            klass = "plan-change"
        elif cx > cpu_band and material:
            klass = "cpu-regression"
        elif cx < 1 / cpu_band and material:
            klass = "cpu-improved"
        else:
            klass = "box-noise"
        counts[klass] = counts.get(klass, 0) + 1
        mover = x > wall_flag or x < 1 / wall_flag
        # a traced run has a handful of layers: list every one
        if layers or mover or klass in ("plan-change", "cpu-regression"):
            rows.append((q, a[q], b[q], x, cx, klass))
    print(f"{'query':34s} {'sec0':>7s} {'sec1':>7s} {'x':>6s} "
          f"{'jobs0':>6s} {'jobs1':>6s} {'cpu0ms':>8s} {'cpu1ms':>8s} "
          f"{'cpux':>6s}  class")
    def jobs(j):
        return f"{int(j):6d}" if j == int(j) else f"{j:6.2f}"
    for q, ra, rb, x, cx, klass in rows:
        print(f"{q:34s} {ra['sec']:7.2f} {rb['sec']:7.2f} {x:6.2f} "
              f"{jobs(ra['jobs'])} {jobs(rb['jobs'])} {ra['cpu']:8d} "
              f"{rb['cpu']:8d} {cx:6.2f}  {klass}")
    t0 = sum(a[q]["sec"] for q in common)
    t1 = sum(b[q]["sec"] for q in common)
    print(f"\n{len(common)} common queries, sum {t0:.1f}s -> {t1:.1f}s "
          f"(x{t1 / max(t0, 1e-9):.3f}); movers/flags above: {len(rows)}")
    print("classes:", ", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    only_b = sorted(set(b) - set(a))
    if only_b:
        print("new queries:", ", ".join(
            f"{q}={b[q]['sec']:.2f}s/{b[q]['jobs']:g}j" for q in only_b))


if __name__ == "__main__":
    main()
