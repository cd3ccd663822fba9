"""Seeded input generator for the benchmark workloads.

Every table is written as one parquet file per table in the schemas of
``FIXTURES.md`` (``<dir>/<name>.parquet``), so the engine's own loaders
(``sources.registry.load_table``) and the DuckDB oracles read them
unchanged. The same seed gives byte-identical inputs.

Each workload varies the input properties its hot layers depend on:

- ``corpus_mapreduce``: the planted near-duplicate rate of ``documents``
  (how much work the dedup operators share); the Zipf exponent (reducer
  skew) and distinct words (output volume) of a line-chunked text corpus.
- ``warehouse_stream``: the lineitem row count (per-row work against fixed
  planning cost); the event rate of ``events`` (events per hour of its
  time span), which sets how many rows the streaming replays hold in
  state, and its file count, which sets how many triggers a replay takes.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The ``documents`` vocabulary of the committed fixtures: 30 common words.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Input sizes and the varied property of each workload. lineitem is half
# of TPC-H sf0.1: on local[4] its four queries spend about twice as long
# in execution as in driver-side build (README.md, "Sizing").
CORPUS = {"docs": 600, "near_dup_rate": 0.2}
WAREHOUSE = {"lineitem": 300_000, "orders": 75_000, "customer": 7_500,
             "parts": 10_000, "suppliers": 500}
STREAM = {"events": 12_000, "users": 300, "span_days": 10, "files": 4, "files_per_trigger": 2}
MAPREDUCE = {"tokens": 40_000, "distinct_words": 60, "zipf_s": 1.1,
             "words_per_line": 12, "chunk_bytes": 16_384}


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_table(rng: np.random.Generator, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def gen_corpus(rng: np.random.Generator, out_dir: str) -> dict:
    """``documents``: ``near_dup_rate`` of the rows are edited copies of a
    base row, with 5% of their tokens replaced. The number of copies and
    the multiset of base lengths are fixed, so every seed gives the same
    amount of work; the seed only moves content and order."""
    p = CORPUS
    vocab = np.array(DOC_VOCAB)
    n_dups = round(p["docs"] * p["near_dup_rate"])
    n_base = p["docs"] - n_dups
    lengths = rng.permutation(np.linspace(10, 100, n_base).round().astype(int))
    docs = [rng.choice(vocab, n).tolist() for n in lengths]
    for base in rng.integers(0, n_base, n_dups):
        toks = list(docs[base])
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = str(rng.choice(vocab))
        docs.append(toks)
    texts = [" ".join(docs[i]) for i in rng.permutation(len(docs))]
    _write(out_dir, "documents", _doc_table(rng, texts))
    return {"near_dup_rate": p["near_dup_rate"], "planted_doc_dups": n_dups}


def _days(rng: np.random.Generator, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us"))


def gen_warehouse(rng: np.random.Generator, out_dir: str) -> dict:
    """TPC-H-style ``customer``, ``orders`` and ``lineitem``, the tables the
    warehouse operations read; value domains follow the committed fixtures."""
    p = WAREHOUSE
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    nc, no, nl = p["customer"], p["orders"], p["lineitem"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
        "o_totalprice": pa.array(money(1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, no),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, p["parts"], nl)),
        "l_suppkey": pa.array(rng.integers(0, p["suppliers"], nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl).tolist()),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, nl),
    })
    return {"lineitem_rows": nl, "orders_rows": no}


def gen_events(rng: np.random.Generator, out_dir: str) -> dict:
    """``events`` over ``span_days``, as a directory ``events.parquet`` of
    ``files`` consecutive time slices. Each file's modification time
    follows its slice, so a file stream reading ``files_per_trigger`` at a
    time replays the events in time order: the watermark advances between
    triggers and state past it is dropped. The event rate sets how many
    rows the replays keep in state, and ``files / files_per_trigger`` the
    number of data triggers per replay."""
    p = STREAM
    n = p["events"]
    span_us = p["span_days"] * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, p["users"], n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    ev_dir = os.path.join(out_dir, "events.parquet")
    os.makedirs(ev_dir)
    for k, idx in enumerate(np.array_split(np.arange(n), p["files"])):
        path = os.path.join(ev_dir, f"part-{k:05d}.parquet")
        pq.write_table(pa.table({c: pa.array(v[idx]) for c, v in cols.items()}), path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    return {"events_per_hour": round(n / (p["span_days"] * 24), 2), "span_days": p["span_days"],
            "event_files": p["files"], "files_per_trigger": p["files_per_trigger"]}


def gen_mapreduce(rng: np.random.Generator, out_dir: str) -> dict:
    """A Zipf text corpus as one file, ``corpus.txt``, to be chunked by
    ``mapreduce.io.split_file_into_chunks``. Returns its exact word
    counts under ``counts``."""
    p = MAPREDUCE
    ranks = np.arange(1, p["distinct_words"] + 1)
    probs = ranks ** -p["zipf_s"]
    probs /= probs.sum()
    words = np.array([f"w{r}" for r in ranks])
    toks = words[rng.choice(len(words), p["tokens"], p=probs)].tolist()
    wpl = p["words_per_line"]
    lines = [" ".join(toks[i:i + wpl]) for i in range(0, len(toks), wpl)]
    with open(os.path.join(out_dir, "corpus.txt"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")

    counts = Counter(toks)
    return {"zipf_s": p["zipf_s"], "distinct_words": len(counts), "lines": len(lines),
            "top_word_share": round(max(counts.values()) / len(toks), 4), "counts": counts}


GENERATORS = {
    "corpus_mapreduce": (gen_corpus, gen_mapreduce),
    "warehouse_stream": (gen_warehouse, gen_events),
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs under ``out_dir`` (nothing else may live
    there: streaming sources list the directory); return its varied
    properties plus row counts and bytes of every file written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    info = {}
    for g in GENERATORS[workload]:
        info.update(g(rng, out_dir))
    tables = {}
    for f in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, f)
        files = [os.path.join(path, g) for g in sorted(os.listdir(path))] if os.path.isdir(path) else [path]
        entry = {"bytes": sum(os.path.getsize(g) for g in files)}
        if f.endswith(".parquet"):
            entry["rows"] = sum(pq.read_metadata(g).num_rows for g in files)
            f = f[:-8]
        tables[f] = entry
    info["tables"] = tables
    return info
