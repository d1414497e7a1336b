"""Seeded inputs for the benchmark.

The base data is fixed: the sf0.01 tables the chat workload queries and
the sf0.1 corpus the recrawl workload serves, both under `data/`.
`make_plan` draws everything a run varies from the run's `--seed`: the
chat session (question order, which turns retry how) and the recrawl
blocklist split, deltas and probes. The same seed gives byte-identical
plans (see test_perfbench.py).
"""

import functools
import os

import numpy as np
import pyarrow.parquet as pq

import bank

HERE = os.path.dirname(os.path.abspath(__file__))
# the sf0.01 tables and the 5,000-page sf0.1 corpus of graft's test data,
# copied unchanged (see README.md)
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")
CORPUS = os.path.join(HERE, "data", "sf0.1", "documents.parquet")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

# a run does whole decks or crawl cycles while the next fits in its run
# length; at HEAD that is one, and the plan holds enough for a program
# several times faster
CHAT_DECKS = 12
RECRAWL_CYCLES = 8
RECRAWL_BLOCK_MODULUS = 20
RECRAWL_CHANGED = 20
RECRAWL_NEW = 10
RECRAWL_DELETED = 10
RECRAWL_EDITED_SHARE = 0.1
# terms per BM25 probe of a burst: the seed draws the terms, not how many
RECRAWL_TERM_SIZES = (1, 2, 3, 1, 2)
RECRAWL_BLOCK_SAMPLE = 5
RECRAWL_FIRST_NEW_ID = 10_000_000
# a third of the turns retry once (half after bad SQL, half after a wrong
# result shape): the median stays inside the first-attempt population
# and the retries form the tail
RETRY_EVERY = 3


@functools.lru_cache(maxsize=1)
def corpus():
    """{doc_id: text} of the whole corpus."""
    d = pq.read_table(CORPUS, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(d["doc_id"], d["text"]))


@functools.lru_cache(maxsize=1)
def vocabulary():
    return sorted({w for t in corpus().values() for w in t.split()})


def chat_plan(rng):
    """The session: decks, each the whole question bank in seeded order
    split into conversations. In deck d, question q retries when
    (q + d) % RETRY_EVERY == 0, so every deck holds the same questions and
    the same share of retries, and every question retries once every
    RETRY_EVERY decks; the seed picks the order, which of a deck's retries
    get bad SQL and which the wrong shape, and the conversation sizes."""
    questions = bank.QUESTIONS
    decks = []
    for d in range(CHAT_DECKS):
        retried = [q for q in range(len(questions)) if (q + d) % RETRY_EVERY == 0]
        kinds = ["sql", "type"] * (len(retried) // 2) + ["sql"] * (len(retried) % 2)
        mode = dict(zip(retried, (kinds[i] for i in rng.permutation(len(kinds)))))
        turns = [bank.turn(questions[int(q)], f"d{d}t{i}", mode.get(int(q), "ok"))
                 for i, q in enumerate(rng.permutation(len(questions)))]
        conversations = []
        while turns:
            size = int(rng.integers(2, 5))  # a question, then 1-3 follow-ups
            conversations.append(turns[:size])
            turns = turns[size:]
        decks.append(conversations)
    warm = [bank.turn(questions[j], f"w{j}", "ok") for j in bank.WARMUP]
    return {
        "decks": decks,
        "warmup": warm,
        "train_questions": [q for q, _ in bank.TRAINING],
        "train_sql": [s for _, s in bank.TRAINING],
        "train_docs": bank.DOCS,
    }


def recrawl_plan(rng):
    """The blocklist split (pages whose doc_id falls on a seeded residue)
    and the crawl cycles: each changes some live pages (a share of their
    words replaced), adds new pages, deletes others, and names the probe
    term sets and the blocklist sample probed after it."""
    docs = corpus()
    vocab = vocabulary()
    residue = int(rng.integers(RECRAWL_BLOCK_MODULUS))
    live = [i for i in docs if i % RECRAWL_BLOCK_MODULUS != residue]
    block = [i for i in docs if i % RECRAWL_BLOCK_MODULUS == residue]
    text = {i: docs[i] for i in live}
    lengths = [len(t.split()) for t in text.values()]
    next_id = RECRAWL_FIRST_NEW_ID
    cycles = []
    for _ in range(RECRAWL_CYCLES):
        picked = rng.choice(len(live), RECRAWL_CHANGED + RECRAWL_DELETED, replace=False)
        changed = []
        for j in picked[:RECRAWL_CHANGED]:
            words = text[live[int(j)]].split()
            for k in np.flatnonzero(rng.random(len(words)) < RECRAWL_EDITED_SHARE):
                words[k] = vocab[int(rng.integers(len(vocab)))]
            changed.append([live[int(j)], " ".join(words)])
        deleted = sorted(live[int(j)] for j in picked[RECRAWL_CHANGED:])
        for i in range(next_id, next_id + RECRAWL_NEW):
            n = lengths[int(rng.integers(len(lengths)))]
            changed.append([i, " ".join(vocab[int(k)] for k in rng.integers(0, len(vocab), n))])
        next_id += RECRAWL_NEW
        gone = set(deleted)
        live = [i for i in live if i not in gone] + [i for i, _ in changed[RECRAWL_CHANGED:]]
        text.update((i, t) for i, t in changed)
        terms = []
        for k in RECRAWL_TERM_SIZES:
            terms.append([vocab[int(j)] for j in rng.choice(len(vocab), k, replace=False)])
        sample = sorted(int(block[int(j)]) for j in
                        rng.choice(len(block), RECRAWL_BLOCK_SAMPLE, replace=False))
        cycles.append({"changed": changed, "deleted": deleted, "terms": terms,
                       "block": sample})
    return {"block_modulus": RECRAWL_BLOCK_MODULUS, "block_residue": residue,
            "cycles": cycles}


def recrawl_corpus(plan):
    """The logical corpus and blocklist the recrawl plan starts from:
    ({doc_id: text} of serving pages, {doc_id: text} of blocklist pages)."""
    mod, res = plan["block_modulus"], plan["block_residue"]
    live = {i: t for i, t in corpus().items() if i % mod != res}
    block = {i: t for i, t in corpus().items() if i % mod == res}
    return live, block


def recrawl_states(plan):
    """Yield (cycle number, logical corpus after that cycle's deltas)."""
    live, _ = recrawl_corpus(plan)
    for ci, c in enumerate(plan["cycles"], start=1):
        for i in c["deleted"]:
            del live[i]
        for i, text in c["changed"]:
            live[i] = text
        yield ci, live


def make_plan(workload, seed):
    """Everything the run varies, drawn from `seed` alone."""
    rng = np.random.default_rng([seed, 7])
    if workload == "chat":
        return {"chat": chat_plan(rng)}
    if workload == "recrawl":
        return {"recrawl": recrawl_plan(rng)}
    raise ValueError(f"unknown workload: {workload}")
