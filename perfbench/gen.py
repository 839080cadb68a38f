#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload dedup_corpus --seed 7 --scale 1.0 --out DIR

Writes the parquet tables one workload reads into DIR (same schemas as the
graft fixtures: lineitem, customer, documents) and, for ingest_stream, the landing files the stream consumes
(DIR/landing/docs, one micro-batch per file). The same (workload, seed,
scale) always gives byte-identical data. DIR/inputs.json records, per
table, rows and bytes, and for the corpus the near-duplicate share and the
vocabulary size, so a later change can state what share of a workload has
a property.

The corpus follows scripts/make_sf1.py's replication recipe with seeded
mutation: base documents are drawn from a fixed word list; each replica of
a base document is either a near-copy (one appended token ` r<k>`, the
make_sf1 default) or a divergent copy (every third word gains a per-replica
suffix, the make_sf1 --lowdup branch). Which replicas are near-copies is
drawn from the seed; their number is fixed by the scale, so every seed has
the same near-duplicate share.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Rows at scale 1.0, per workload. Sized so one pass fits the benchmark's
# time window on a 4-core box (see perfbench/README.md).
SIZES = {
    "features_ml": {"lineitem": 40_000, "customer": 2_000},
    "dedup_corpus": {"base_docs": 200, "replicas": 3},
    "ingest_stream": {"base_docs": 300, "replicas": 1, "landing_files": 2},
}
NEAR_SHARE = 0.5   # share of replicas that are near-copies
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01 in epoch micros


def write(table, path, groups=8):
    n = table.num_rows
    pq.write_table(table, path, row_group_size=max(64, -(-n // groups)))
    return {"rows": n, "bytes": os.path.getsize(path)}


def ts_col(micros):
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def documents(rng, base_docs, replicas):
    """(doc_id, text, lang, source, n_chars) plus corpus stats."""
    nwords = rng.integers(8, 100, size=base_docs)
    idx = rng.integers(0, len(WORDS), size=int(nwords.sum()))
    bases, off = [], 0
    for n in nwords:
        bases.append([WORDS[i] for i in idx[off:off + n]])
        off += n
    n_rep = base_docs * replicas
    near = np.zeros(n_rep, dtype=bool)
    near[rng.permutation(n_rep)[:int(round(n_rep * NEAR_SHARE))]] = True
    # replica k of base doc d gets id k * base_docs + d: dense ids, below
    # the offsets graft's registry rows add to plant in-flight clones
    ids, texts = [], []
    for d, words in enumerate(bases):
        ids.append(d)
        texts.append(" ".join(words))
        for k in range(1, replicas + 1):
            ids.append(d + k * base_docs)
            if near[d * replicas + k - 1]:
                texts.append(" ".join(words) + f" r{k}")
            else:
                texts.append(" ".join(
                    w + f"x{k}" if (i + k) % 3 == 0 else w
                    for i, w in enumerate(words, start=1)))
    order = np.argsort(ids, kind="stable")
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    n = len(ids)
    vocab = {w for t in texts for w in t.split(" ")}
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    stats = {"near_dup_share": round(int(near.sum()) / n, 6),
             "vocabulary": len(vocab)}
    return table, stats


def lineitem(rng, n):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": ts_col(EPOCH_1995 + DAY_US *
                             rng.integers(1, 2499, n)),
    })


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def landing(table, out, files):
    """Split `table` (ordered by its first column) into `files` landing
    files, one micro-batch each under maxFilesPerTrigger=1; file i holds
    the i-th id range, so arrival order is id order."""
    os.makedirs(out, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out, f"part-{i:04d}.parquet"))
    return {"files": files, "rows": n}


def generate(workload, seed, scale, out):
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = {k: (v if k in ("replicas", "landing_files")
                else max(1, int(v * scale)))
            for k, v in SIZES[workload].items()}
    os.makedirs(out, exist_ok=True)
    info = {"workload": workload, "seed": seed, "scale": scale,
            "tables": {}}
    t = info["tables"]
    p = lambda name: os.path.join(out, f"{name}.parquet")
    if workload == "features_ml":
        t["lineitem"] = write(lineitem(rng, size["lineitem"]), p("lineitem"))
        t["customer"] = write(customer(rng, size["customer"]), p("customer"))
    if workload in ("dedup_corpus", "ingest_stream"):
        docs, stats = documents(rng, size["base_docs"], size["replicas"])
        t["documents"] = dict(write(docs, p("documents")), **stats)
    if workload == "ingest_stream":
        files = size["landing_files"]
        t["landing_docs"] = landing(docs, os.path.join(out, "landing",
                                                       "docs"), files)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.scale, a.out)))


if __name__ == "__main__":
    main()
