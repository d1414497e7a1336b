"""The benchmark's own tests: seeded inputs, the percentile rule, span
arithmetic, the recrawl oracle and the BENCHMARK.json metric lists.

    python3 perfbench/test_perfbench.py
"""

import hashlib
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bank  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


def digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in ("chat", "recrawl"):
            self.assertEqual(json.dumps(gen.make_plan(w, 3), sort_keys=True),
                             json.dumps(gen.make_plan(w, 3), sort_keys=True))
            self.assertNotEqual(digest(gen.make_plan(w, 3)), digest(gen.make_plan(w, 4)))

    def test_plans_are_pinned(self):
        # byte-identical inputs for a given seed, across machines and runs
        self.assertEqual(digest(gen.make_plan("chat", 0))[:16], PINNED["chat"])
        self.assertEqual(digest(gen.make_plan("recrawl", 0))[:16], PINNED["recrawl"])
        h = hashlib.sha256()
        for path in [os.path.join(gen.TABLES_DIR, f"{t}.parquet") for t in gen.TABLES] + [gen.CORPUS]:
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        self.assertEqual(h.hexdigest()[:16], PINNED["data"])

    def test_every_deck_has_the_same_retries(self):
        n = len(bank.QUESTIONS)
        decks = [[t for c in deck for t in c] for deck in gen.make_plan("chat", 9)["chat"]["decks"]]
        for d, deck in enumerate(decks):
            self.assertEqual(sorted(t["bank"] for t in deck), sorted(bank.BY_ID))
            modes = [t["mode"] for t in deck]
            self.assertEqual(modes.count("sql"), modes.count("type"))
            self.assertEqual(modes.count("ok"), n - n // gen.RETRY_EVERY)
            retried = {t["bank"] for t in deck if t["mode"] != "ok"}
            want = {q["id"] for i, q in enumerate(bank.QUESTIONS) if (i + d) % gen.RETRY_EVERY == 0}
            self.assertEqual(retried, want)

    def test_questions_are_unique_and_retries_reply_twice(self):
        turns = [t for d in gen.make_plan("chat", 1)["chat"]["decks"] for c in d for t in c]
        self.assertEqual(len({t["question"] for t in turns}), len(turns))
        for t in turns:
            self.assertEqual(len(t["replies"]), 1 if t["mode"] == "ok" else 2)

    def test_recrawl_deltas_touch_live_pages_only(self):
        rp = gen.make_plan("recrawl", 2)["recrawl"]
        live, _ = gen.recrawl_corpus(rp)
        live = set(live)
        for c in rp["cycles"]:
            self.assertTrue(set(c["deleted"]) <= live)
            live -= set(c["deleted"])
            live |= {i for i, _ in c["changed"]}
        states = list(gen.recrawl_states(rp))
        self.assertEqual(set(states[-1][1]), live)

    def test_blocklist_split_follows_the_seed(self):
        residues = {gen.make_plan("recrawl", s)["recrawl"]["block_residue"] for s in range(8)}
        self.assertGreater(len(residues), 1)
        rp = gen.make_plan("recrawl", 5)["recrawl"]
        live, block = gen.recrawl_corpus(rp)
        self.assertEqual(len(live) + len(block), len(gen.corpus()))
        self.assertTrue(all(i % rp["block_modulus"] == rp["block_residue"] for i in block))
        for c in rp["cycles"]:
            self.assertTrue(set(c["block"]) <= set(block))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)

    def test_harrell_davis_median(self):
        self.assertEqual(stats.hd_quantile([5.0]), 5.0)
        self.assertAlmostEqual(stats.hd_quantile([1.0, 3.0]), 2.0, places=6)
        # n = 3: beta(2, 2) gives the top rank 1 - I_{2/3}(2, 2) = 7/27
        self.assertAlmostEqual(stats.hd_quantile([0.0, 0.0, 27.0]), 7.0, places=3)
        self.assertAlmostEqual(stats.hd_quantile(range(1, 12)), 6.0, places=6)
        self.assertAlmostEqual(stats.hd_quantile([3.0, 1.0, 2.0]), 2.0, places=6)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_reportable(19))
        self.assertEqual(stats.highest_reportable(20), 50)
        self.assertEqual(stats.highest_reportable(39), 50)
        self.assertEqual(stats.highest_reportable(40), 75)
        self.assertEqual(stats.highest_reportable(100), 90)
        self.assertEqual(stats.highest_reportable(200), 95)
        self.assertEqual(stats.highest_reportable(1000), 99)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SpanArithmeticTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, "turn", 0, 100),
                 span(2, 1, "a", 10, 30), span(3, 1, "b", 20, 50),
                 span(4, 1, "c", 80, 120),        # clipped to the parent
                 span(5, 2, "grandchild", 12, 28)]  # covered by its own parent
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 20))
        self.assertEqual(st[2], 20 - 16)
        self.assertEqual(st[5], 16)

    def test_uncovered_share(self):
        spans = [span(1, 0, "turn", 0, 100), span(2, 1, "a", 0, 40),
                 span(3, 1, "b", 50, 100), span(4, 0, "turn", 100, 200),
                 span(5, 4, "a", 100, 200)]
        self.assertAlmostEqual(stats.uncovered_share(spans, "turn", {"a", "b"}), 10 / 200)


class RecrawlOracleTest(unittest.TestCase):
    def test_tokens_follow_graft_normalization(self):
        self.assertEqual(checks.tokens("  Join, the VECTOR-filter!  "), ["join", "the", "vectorfilter"])

    def test_topk_accepts_ties_in_any_order_and_rejects_a_missing_doc(self):
        scores = {1: 2.0, 2: 1.5, 3: 1.5, 4: 1.0}
        self.assertTrue(checks._topk_ok([(1, 2.0), (2, 1.5)], scores, k=2))
        self.assertTrue(checks._topk_ok([(1, 2.0), (3, 1.5)], scores, k=2))
        self.assertFalse(checks._topk_ok([(2, 1.5), (3, 1.5)], scores, k=2))
        self.assertFalse(checks._topk_ok([(1, 2.0), (2, 1.4)], scores, k=2))


class ManifestTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_report_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         report.per_layer_names())


PINNED = {"chat": "a0918e048bce52ec", "recrawl": "cb9b3b6bbe412c57", "data": "9f2d8f35dcdee0d3"}

if __name__ == "__main__":
    unittest.main()
