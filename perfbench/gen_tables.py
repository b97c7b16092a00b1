#!/usr/bin/env python3
"""Seeded `documents` and `lineitem` tables for the operator_queries workload.

Same schemas and value distributions as the TPC-H-ish test tables the
queries were written against (uniform keys and flags, random word texts
from a small vocabulary), at 1 500 docs and 120 000 lineitem rows (sf0.1
has 5 000 and 600 000): one pass of the three queries then takes a few
seconds on 4 cores, most of it per-job fixed cost. The near-duplicate structure is controlled: a
copy is a base document with one word replaced, bases are 50-100 words
long and have at most two copies. So every true pair has a 3-shingle
Jaccard of at least 0.78 and unrelated pairs stay below 0.1, and MinHash
banding at the queries' settings finds the same pairs as the brute-force
oracle on every seed.

A table directory holds `documents.parquet`, `lineitem.parquet` and a
`_BENCH_FINGERPRINT` marker; `ensure` regenerates it unless the marker and
the footer row counts match.
"""
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table scan sort hash join group agg filter "
         "window stream batch merge query key value part order line "
         "customer vector spark fast slow big small").split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]

SIZES = {"documents": 1500, "lineitem": 120000}


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words_of = []
    is_copy = [False] * n
    n_copies = [0] * n
    for i in range(n):
        if i > 0 and rng.random() < 0.04:
            b = int(rng.integers(i))
            if not is_copy[b] and n_copies[b] < 2:
                n_copies[b] += 1
                is_copy[i] = True
                w = list(words_of[b])
                pos = int(rng.integers(len(w)))
                shift = 1 + int(rng.integers(len(VOCAB) - 1))
                w[pos] = VOCAB[(VOCAB.index(w[pos]) + shift) % len(VOCAB)]
                words_of.append(w)
                continue
        k = int(rng.integers(50, 101))
        words_of.append([VOCAB[int(x)] for x in rng.integers(len(VOCAB), size=k)])
    texts = [" ".join(w) for w in words_of]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(len(LANGS), size=n)],
                         pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(20, size=n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2498, size=n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(3, size=n)],
                                 pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(2, size=n)],
                                 pa.string()),
        "l_shipdate": pa.array((day0 + days).astype("datetime64[us]"),
                               pa.timestamp("us")),
    })


def fingerprint(seed: int, sizes: dict) -> str:
    return f"seed={seed} " + " ".join(f"{k}={v}" for k, v in sorted(sizes.items()))


def _complete(d: Path, fp: str, sizes: dict) -> bool:
    marker = d / "_BENCH_FINGERPRINT"
    if not marker.is_file() or marker.read_text() != fp:
        return False
    for name, rows in sizes.items():
        f = d / f"{name}.parquet"
        if not f.is_file() or pq.ParquetFile(f).metadata.num_rows != rows:
            return False
    return True


def ensure(d: Path, seed: int, sizes: dict) -> None:
    """Make the tables under `d` for `seed` unless they are there."""
    fp = fingerprint(seed, sizes)
    if _complete(d, fp, sizes):
        return
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, sizes["documents"]), d / "documents.parquet")
    pq.write_table(lineitem(rng, sizes["lineitem"]), d / "lineitem.parquet")
    (d / "_BENCH_FINGERPRINT").write_text(fp)
    if not _complete(d, fp, sizes):
        raise RuntimeError(f"tables under {d} incomplete after generation")
