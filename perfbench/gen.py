"""Seeded input generator for the graft benchmark.

Writes the tables a workload reads, in the layout, schema and physical
types of graft's test data (one `<table>.parquet` file per table; `ts`
as TIMESTAMP(NANOS) holding whole microseconds), so `graft.sources.Tables`
and `SparkEntry.oracleSql` run on the output unchanged. Every input
property the engine's behaviour depends on comes from `inputs.json`; the
seed picks the values. Planted cases the correctness check needs (which
documents form a duplicate cluster, which strings are PII) go to
`plants.json` beside the tables, never into them.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [--tiny]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("daily_snapshot", "curate_corpus")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "es", "fr"])
OFF_LANGS = np.array(["zh", "ru"])
BLOCKED = ("slow", "merge")


def load_sizes(workload, tiny=False):
    """The workload's input properties; `tiny` overlays the self-test sizes."""
    with open(os.path.join(HERE, "inputs.json")) as f:
        spec = json.load(f)
    sizes = spec[workload]
    if tiny:
        sizes = _merge(sizes, spec["tiny"][workload])
    return sizes


def _merge(base, over):
    out = dict(base)
    for k, v in over.items():
        out[k] = _merge(base[k], v) if isinstance(v, dict) else v
    return out


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events_table(rng, p):
    """Tick feed: one random-walk price series per symbol (`user_id`).

    Symbol 0 is the hot symbol and takes `hot_symbol_share` of all ticks;
    the rest spread uniformly. `dup_share` of the ticks arrive twice with
    the same `(user_id, ts)` and a later `event_id` (a corrected price);
    `null_share` of the ticks have a null price, never a symbol's first.
    """
    n, syms = p["ticks"], p["symbols"]
    hot = p["hot_symbol_share"]
    n_hot = int(round(n * hot))
    user = np.concatenate([np.zeros(n_hot, np.int64),
                           rng.integers(1 if hot > 0 else 0, syms, n - n_hot)])
    day = rng.integers(0, p["days"], n)
    start_us = int(np.datetime64(p["start_date"], "us").astype(np.int64))
    # Ticks fall in the 09:30-16:00 UTC session, at whole microseconds.
    intraday = rng.integers(34_200_000_000, 57_600_000_000, n)
    ts = start_us + day * 86_400_000_000 + intraday
    order = np.lexsort((ts, user))
    user, ts = user[order], ts[order]
    keep = np.ones(n, bool)
    keep[1:] = (user[1:] != user[:-1]) | (ts[1:] != ts[:-1])
    user, ts = user[keep], ts[keep]
    n = len(user)
    first = np.ones(n, bool)
    first[1:] = user[1:] != user[:-1]
    # Random walk per symbol: the global cumulative sum restarted at
    # every symbol's first tick.
    base = rng.uniform(10.0, 500.0, syms)
    steps = rng.normal(0.0, 0.004, n)
    csum = np.cumsum(steps)
    starts = np.flatnonzero(first)
    offset = np.repeat(csum[starts] - steps[starts], np.diff(np.append(starts, n)))
    price = np.maximum(np.round(base[user] * np.exp(csum - offset), 2), 0.01)
    value = price.copy()
    null_mask = (rng.random(n) < p["null_share"]) & ~first
    # Feed order: ids follow event time, as an exchange feed assigns them.
    by_time = np.argsort(ts, kind="stable")
    user, ts, price, value, null_mask = (
        user[by_time], ts[by_time], price[by_time], value[by_time], null_mask[by_time])
    n_dup = int(round(n * p["dup_share"]))
    dup_src = np.sort(rng.choice(n, n_dup, replace=False)) if n_dup else np.zeros(0, np.int64)
    dup_value = np.maximum(np.round(price[dup_src] * (1 + rng.normal(0, 0.001, n_dup)), 2), 0.01)
    user = np.concatenate([user, user[dup_src]])
    ts = np.concatenate([ts, ts[dup_src]])
    value = np.concatenate([value, dup_value])
    null_mask = np.concatenate([null_mask, np.zeros(n_dup, bool)])
    total = n + n_dup
    return pa.table({
        "event_id": pa.array(np.arange(total, dtype=np.int64)),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), total)]),
        "value": pa.array(value, mask=null_mask),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, total)]),
    })


def vocabulary(rng, size):
    """`size` distinct pseudo-words of 2-4 consonant-vowel syllables.

    No word can be a blocklist term: each starts with one consonant and
    alternates, so `slow` and `merge` are unreachable.
    """
    cons, vows = list("bcdfghjklmnprstvz"), list("aeiou")
    words, seen = [], set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _pick_sizes(rng, dist, budget):
    """Draw sizes from `dist` ({size: weight}) until `budget` docs are used."""
    sizes = np.array([int(k) for k in dist])
    w = np.array(list(dist.values()), float)
    out, used = [], 0
    while used < budget:
        s = int(rng.choice(sizes, p=w / w.sum()))
        if used + s > budget:
            break
        out.append(s)
        used += s
    return out


def documents_table(rng, p):
    """Curation corpus with planted duplicates, junk and PII.

    Returns the `documents` table and the plants the check needs:
    duplicate clusters (exact copies, and near-duplicates that share a
    source and language, each a `near_dup_edit_rate` word edit of one
    base) whose every member passes the quality, language and blocklist
    gates, and the PII strings appended to singleton documents.
    """
    n = p["docs"]
    vocab = vocabulary(rng, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1, dtype=float)
    probs = ranks ** -p["zipf_exponent"]
    cdf = np.cumsum(probs / probs.sum())

    def words(k):
        return list(vocab[np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)])

    def good_text():
        return words(int(rng.integers(p["words_min"], p["words_max"] + 1)))

    def source():
        return f"src{int(rng.integers(p['sources']))}"

    def lang():
        return str(LANGS[rng.integers(len(LANGS))])

    docs = []  # (text, lang, source)
    clusters = []
    for size in _pick_sizes(rng, p["near_dup_cluster_sizes"], int(n * p["near_dup_share"])):
        base, lg, src = good_text(), lang(), source()
        members = [len(docs)]
        docs.append((" ".join(base), lg, src))
        for _ in range(size - 1):
            variant = list(base)
            for i in np.flatnonzero(rng.random(len(variant)) < p["near_dup_edit_rate"]):
                variant[i] = words(1)[0]
            members.append(len(docs))
            docs.append((" ".join(variant), lg, src))
        clusters.append({"kind": "near", "members": members})
    for copies in _pick_sizes(rng, p["exact_dup_copies"], int(n * p["exact_dup_share"])):
        text, lg = " ".join(good_text()), lang()
        members = []
        for _ in range(copies):
            members.append(len(docs))
            docs.append((text, lg, source()))
        clusters.append({"kind": "exact", "members": members})
    for _ in range(int(n * p["low_quality_share"])):
        toks = words(int(rng.integers(5, 16)))
        for i in range(0, len(toks), 2):
            toks[i] = toks[i] + str(rng.choice(["!!!", "???", "###", "..."]))
        docs.append((" ".join(toks), lang(), source()))
    for _ in range(int(n * p["blocklisted_share"])):
        toks = good_text()
        for i in np.flatnonzero(rng.random(len(toks)) < 0.15):
            toks[i] = BLOCKED[int(rng.integers(2))]
        docs.append((" ".join(toks), lang(), source()))
    for _ in range(int(n * p["off_language_share"])):
        docs.append((" ".join(good_text()), str(OFF_LANGS[rng.integers(len(OFF_LANGS))]),
                     source()))
    n_single = n - len(docs)
    if n_single < 0:
        raise ValueError("planted shares exceed the corpus size")
    pii_slots = set(rng.choice(n_single, int(n * p["pii_share"]), replace=False).tolist())
    pii_rows = {}
    for j in range(n_single):
        text = " ".join(good_text())
        if j in pii_slots:
            plant = _pii(rng)
            pii_rows[len(docs)] = plant
            text = f"{text} contact {plant}"
        docs.append((text, lang(), source()))
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids)
    texts = [docs[i][0] for i in order]
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array(texts),
        "lang": pa.array([docs[i][1] for i in order]),
        "source": pa.array([docs[i][2] for i in order]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    plants = {
        "clusters": [{"kind": c["kind"], "doc_ids": sorted(int(ids[m]) for m in c["members"])}
                     for c in clusters],
        "pii": {str(int(ids[r])): s for r, s in pii_rows.items()},
    }
    return table, plants


def _pii(rng):
    kind = int(rng.integers(4))
    a, b, c = (int(x) for x in rng.integers(0, 256, 3))
    if kind == 0:
        return f"user{a}.{b}@mail{c}.example.com"
    if kind == 1:
        return f"10.{a}.{b}.{c}"
    if kind == 2:
        return f"+1 (555) 0{a % 100:02d}-{int(rng.integers(1000, 10000))}"
    return f"acct {int(rng.integers(10**9, 10**10))}"


def generate(workload, seed, out_dir, tiny=False):
    """Write the workload's inputs for `seed` under `out_dir`; returns the sizes used."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    sizes = load_sizes(workload, tiny)
    # One stream per workload, so two workloads never share a draw.
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    if workload == "daily_snapshot":
        _write(events_table(rng, sizes["events"]), f"{out_dir}/events.parquet")
    else:
        docs, plants = documents_table(rng, sizes["documents"])
        _write(docs, f"{out_dir}/documents.parquet")
        with open(f"{out_dir}/plants.json", "w") as f:
            json.dump(plants, f)
        # The slice the all-pairs oracle can afford: a seed-random sample
        # (doc ids are a permutation), with its own directory so the
        # oracle query reads it as `documents`.
        os.makedirs(f"{out_dir}/slice", exist_ok=True)
        ids = docs.column("doc_id").to_numpy()
        _write(docs.filter(pa.array(ids < sizes["oracle_slice_docs"])),
               f"{out_dir}/slice/documents.parquet")
    return sizes


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], tiny="--tiny" in sys.argv[4:])
