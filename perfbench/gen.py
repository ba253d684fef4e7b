"""Seeded input generator for the benchmark.

Writes the program's inputs in the harness schemas (``events.parquet`` for a
ledger, ``documents.parquet`` and ``embeddings.parquet`` for a corpus) and,
next to them, the invariants the correctness checks compare against. The
invariants are computed here from the generated rows, independently of the
program. The same seed always gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Ledger and corpus sizes per workload: measured input and warm-up input.
SIZES = {
    "balance_lookups": {"txns": 30_000, "lookups": 4_000},
    "intraday_replay": {"txns": 60_000, "warm_txns": 15_000},
    "corpus_prep": {"docs": 400, "vecs": 200, "warm_docs": 100, "warm_vecs": 50},
}
CUSTOMERS_PER_TXN = 1 / 20  # 1M transactions over 50k customers
DAYS = 90
START = dt.datetime(2024, 1, 1)
TYPE_P = [0.6, 0.3, 0.1]  # earned, spent, expired
EARNED_EVENTS = np.array(["click", "view", "signup"])
TYPE_EVENT = np.array(["", "purchase", "error"])  # spent, expired
NEAR_DUP_SHARE = 0.2


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def skewed(rng, n, size):
    """Quadratic skew: index 0 is the heaviest (about n**-0.5 of draws)."""
    return np.minimum((n * rng.random(size) ** 2).astype(np.int64), n - 1)


def ledger(rng, n_txn):
    """One ledger as arrays: customer, type (0 earned, 1 spent, 2 expired),
    amount in cents, timestamp in microseconds since the epoch."""
    n_cust = max(1, int(n_txn * CUSTOMERS_PER_TXN))
    cust = skewed(rng, n_cust, n_txn)
    kind = rng.choice(3, size=n_txn, p=TYPE_P)
    cents = rng.integers(100, 20_001, size=n_txn)
    start_us = int(START.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    ts = start_us + rng.integers(0, DAYS * 86_400 * 1_000_000, size=n_txn)
    earned_event = rng.integers(0, 3, size=n_txn)
    order = np.argsort(ts, kind="stable")
    return {"cust": cust[order], "kind": kind[order], "cents": cents[order],
            "ts": ts[order], "earned_event": earned_event[order], "n_cust": n_cust}


def write_events(led, path):
    n = len(led["cust"])
    event_type = np.where(led["kind"] == 0, EARNED_EVENTS[led["earned_event"]],
                          TYPE_EVENT[led["kind"]])
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[np.arange(n) % 100]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(led["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(led["cust"]),
        "event_type": pa.array(event_type.astype(object), type=pa.string()),
        "value": pa.array(led["cents"] / 100.0),
        "props": pa.array(props.astype(object), type=pa.string()),
    })
    _write(table, path)


def ledger_invariants(led):
    n_cust = led["n_cust"]
    counts = [np.bincount(led["cust"][led["kind"] == k], minlength=n_cust) for k in range(3)]
    sums = [np.bincount(led["cust"][led["kind"] == k], weights=led["cents"][led["kind"] == k],
                        minlength=n_cust).astype(np.int64) for k in range(3)]
    return {
        "transactions": int(len(led["cust"])),
        "customers_active": int(np.count_nonzero(sum(counts))),
        "matched": int(np.minimum(counts[0], counts[1] + counts[2]).sum()),
        "earned_cents": int(sums[0].sum()),
        "spent_cents": int(sums[1].sum()),
        "expired_cents": int(sums[2].sum()),
        "counts": {t: c.tolist() for t, c in zip(("earned", "spent", "expired"), counts)},
        "sums_cents": {t: s.tolist() for t, s in zip(("earned", "spent", "expired"), sums)},
    }


def day(offset_days):
    return (START + dt.timedelta(days=int(offset_days))).strftime("%Y-%m-%d")


def lookup_plan(rng, led, inv, n):
    """A seeded Q1-Q12 mix: seven point kinds on one (skewed) customer and
    five scan kinds at a random as-of date, in seeded order, with the answers the checks
    expect for Q1, Q2, Q3 and Q12."""
    n_cust = led["n_cust"]
    signed = np.where(led["kind"] == 0, led["cents"], -led["cents"])
    by_cust = np.lexsort((led["ts"], led["cust"]))
    c_sorted, ts_sorted = led["cust"][by_cust], led["ts"][by_cust]
    cum = np.cumsum(signed[by_cust])
    lo = np.searchsorted(c_sorted, np.arange(n_cust), side="left")
    hi = np.searchsorted(c_sorted, np.arange(n_cust), side="right")
    counts = {t: np.array(v) for t, v in inv["counts"].items()}
    sums = {t: np.array(v) for t, v in inv["sums_cents"].items()}
    never_spent = int(np.count_nonzero((counts["earned"] > 0) & (counts["spent"] == 0)
                                       & (counts["expired"] == 0)))
    epoch = dt.datetime(1970, 1, 1)
    rows, expected = [], []
    # every block of twelve holds each kind once, so every run sees the same mix
    kinds = np.concatenate([rng.permutation(12) + 1 for _ in range(-(-n // 12))])[:n]
    custs = skewed(rng, n_cust, n)
    d1 = rng.integers(0, DAYS, size=n)
    d2 = rng.integers(0, DAYS, size=n)
    for i in range(n):
        k, c = int(kinds[i]), int(custs[i])
        a, b = sorted((int(d1[i]), int(d2[i])))
        b = max(b, a + 1)
        rows.append(f"{i}\t{k}\t{c}\t{day(d1[i])}\t{day(a)}\t{day(b)}\t{day(d2[i])}\t500.0")
        exp = {"idx": i, "kind": k}
        if k == 1:
            cutoff = int(((START + dt.timedelta(days=int(d1[i]))) - epoch).total_seconds()) * 1_000_000
            j = lo[c] + np.searchsorted(ts_sorted[lo[c]:hi[c]], cutoff, side="right")
            exp["balances"] = [[str(c), int(cum[j - 1] - (cum[lo[c] - 1] if lo[c] > 0 else 0))]] \
                if j > lo[c] else []
        elif k == 2:
            e, s, x = (int(sums[t][c]) for t in ("earned", "spent", "expired"))
            exp["balances"] = [[str(c), e - s - x, e, s, x]] if hi[c] > lo[c] else []
        elif k == 3:
            exp["rows"] = int(hi[c] - lo[c])
        elif k == 12:
            exp["rows"] = never_spent
        expected.append(exp)
    header = "idx\tkind\tcustomer\tas_of\tstart\tend\tday\tthreshold"
    return "\n".join([header] + rows) + "\n", expected


def corpus(rng, n_docs, n_vecs, out):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de"]
    vocab = sorted({"".join(rng.choice(syll, size=rng.integers(1, 4))) for _ in range(400)})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 30)):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = [vocab[j] for j in rng.integers(0, len(vocab), size=rng.integers(20, 90))]
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "fr"], size=n_docs, p=[0.7, 0.2, 0.1])
                         .astype(object), type=pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 5, size=n_docs)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    vecs = centers[labels] + 0.3 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vecs + 1, 64, dtype=np.int32)),
            pa.array(vecs.reshape(-1))),
        "label": pa.array(labels),
    }), os.path.join(out, "embeddings.parquet"))
    # gate shapes fixed by the gates' own parameters (5 queries, top 5;
    # six approximate rankers audited against the exact one)
    return {"documents": n_docs, "embeddings": n_vecs,
            "gate_rows": {"ann_ivf_topk": 25, "ann_recall_eval": 6}}


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out`; return the
    invariants (also written to ``out/invariants.json``)."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    if workload == "corpus_prep":
        inv = corpus(rng, size["docs"], size["vecs"], os.path.join(out, "corpus"))
        corpus(rng, size["warm_docs"], size["warm_vecs"], os.path.join(out, "warmup"))
    else:
        led = ledger(rng, size["txns"])
        write_events(led, os.path.join(out, "ledger", "events.parquet"))
        if "warm_txns" in size:
            write_events(ledger(rng, size["warm_txns"]),
                         os.path.join(out, "warmup", "events.parquet"))
        inv = ledger_invariants(led)
        if workload == "balance_lookups":
            tsv, inv["lookups"] = lookup_plan(rng, led, inv, size["lookups"])
            with open(os.path.join(out, "lookups.tsv"), "w") as f:
                f.write(tsv)
    with open(os.path.join(out, "invariants.json"), "w") as f:
        json.dump(inv, f)
    return inv


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in SIZES:
        sys.exit(f"usage: gen.py <{'|'.join(SIZES)}> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
