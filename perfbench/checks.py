"""Output checks: every mismatch is one failed operation.

- chat: each answer against the DuckDB result of the question's SQL over
  the same parquet tables (the same oracle engine `tools/verify_local.py`
  uses for graft's queries).
- recrawl: every probe served by the incrementally maintained layouts
  against the same probe computed from scratch over the logical corpus of
  the cycle it ran after (BM25 top-10 and blocklist shingle overlap,
  following the definitions graft's p128 oracle uses).
"""

import json
import math
import os
import re

import bank
import gen

REL_TOL = 1e-9
SCORE_TOL = 2e-6
SHINGLE_K = 8
MIN_OVERLAP = 3


def _close(a, b, rel=REL_TOL):
    if isinstance(a, str) or isinstance(b, str) or a is None or b is None:
        return a == b
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def _rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name in gen.TABLES:
        path = os.path.join(gen.TABLES_DIR, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for name, sql in bank.DUCK_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def check_chat(result):
    failures = []
    con = duck()
    expected = {}
    for a in result.get("answers", []):
        ans = a.get("answer")
        if ans is None:  # the turn threw: already counted as failed
            continue
        q = bank.BY_ID[a["bank"]]
        if a["bank"] not in expected:
            expected[a["bank"]] = [list(r) for r in con.execute(q["sql"]).fetchall()]
        want = expected[a["bank"]]
        kind = ans.get("kind")
        ok = kind == q["type"]
        if ok and kind in ("number", "string"):
            ok = len(want) == 1 and _close(ans["value"], want[0][0] if kind == "number"
                                           else str(want[0][0]))
        elif ok:
            ok = _rows_equal(ans["rows"], want) and (kind != "plot" or ans.get("png_bytes", 0) > 0)
        if not ok:
            failures.append(f"chat turn {a['id']} ({a['bank']}): got {json.dumps(ans)[:200]}")
    if not result.get("answers"):
        failures.append("chat: no turn completed")
    return failures


def tokens(text):
    """graft's raw token stream: lowercase, strip non-alphanumerics,
    split on whitespace."""
    return re.sub(r"[^a-z0-9\s]", "", text.strip().lower()).split()


def shingles(toks, k=SHINGLE_K):
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def bm25(corpus_toks, terms, k1=1.2, b=0.75):
    """BM25 score of every document matching at least one term."""
    n = len(corpus_toks)
    avgdl = sum(len(t) for t in corpus_toks.values()) / max(n, 1)
    terms = sorted(set(terms))
    df = {t: sum(1 for toks in corpus_toks.values() if t in toks) for t in terms}
    scores = {}
    for doc, toks in corpus_toks.items():
        s = 0.0
        matched = False
        for t in terms:
            tf = toks.count(t)
            if tf:
                matched = True
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf / (tf + k1 * (1.0 - b + b * len(toks) / avgdl))
        if matched:
            scores[doc] = s
    return scores


def _topk_ok(served, scores, k=10):
    """Served top-k against oracle scores, tolerant of ties and of the
    six-decimal rounding of served scores."""
    if len(served) != min(k, len(scores)):
        return False
    for (doc, score), nxt in zip(served, served[1:] + [None]):
        if doc not in scores or abs(scores[doc] - score) > SCORE_TOL:
            return False
        if nxt is not None and nxt[1] > score + SCORE_TOL:
            return False
    if len(served) == k:
        cut = served[-1][1]
        chosen = {d for d, _ in served}
        if any(s > cut + SCORE_TOL and d not in chosen for d, s in scores.items()):
            return False
    return True


def check_recrawl(plan, result):
    """Recompute every served probe from the logical corpus of the cycle
    it ran after, replayed from the plan's deltas."""
    failures = []
    rp = plan["recrawl"]
    _, block = gen.recrawl_corpus(rp)
    by_cycle = {}
    for pr in result.get("probes", []):
        by_cycle.setdefault(pr["cycle"], []).append(pr)
    cache = {}
    for ci, live in gen.recrawl_states(rp):
        if ci not in by_cycle:
            if ci > max(by_cycle, default=0):
                break
            continue
        toks = {d: cache.setdefault(t, tokens(t)) for d, t in live.items()}
        for pr in by_cycle[ci]:
            if pr["kind"] == "textsearch_probe":
                ok = _topk_ok([(r[0], r[1]) for r in pr["rows"]], bm25(toks, pr["terms"]))
                what = f"bm25 {pr['terms']}"
            else:
                sample = set().union(*(shingles(tokens(block[i])) for i in pr["block"]))
                want = sorted([d, n] for d, n in
                              ((d, len(shingles(t) & sample)) for d, t in toks.items())
                              if n >= MIN_OVERLAP)
                ok = [list(r) for r in pr["rows"]] == want
                what = f"contamination of {pr['block']}"
            if not ok:
                failures.append(f"recrawl cycle {ci} {pr['phase']} {what}: served "
                                f"{json.dumps(pr['rows'])[:200]}")
    if not result.get("probes"):
        failures.append("recrawl: no probe completed")
    return failures


def check(workload, plan, result):
    if workload == "chat":
        return check_chat(result)
    return check_recrawl(plan, result)
