#!/usr/bin/env python3
"""Tables for the batch_heavy workload, generated deterministically.

    python3 perfbench/datagen.py          # generate (if needed) and verify

Writes `bench-data/perfbench/x1` and `bench-data/perfbench/x20` (git-ignored)
with the schema of the repo's testdata tables that the batch queries read:
documents, embeddings, orders, lineitem. x1 has about the rows of testdata
sf0.01 and x20 twenty times as many (about sf0.2).
The data does not depend on the run seed, so query fingerprints are fixed.
Before use, every table is checked against the digest in manifest.json;
a mismatch is an error, never a silent regeneration of different data.
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, "bench-data", "perfbench")
MANIFEST = os.path.join(HERE, "manifest.json")
SCALES = {"x1": 1, "x20": 20}  # the same tags as Batch.Scales
VERSION = 2  # bump when the generator changes; the manifest must be re-recorded

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_1995 = 788918400  # 1995-01-01 UTC
EPOCH_2001_08 = 996624000  # 2001-08-01 UTC


def documents(rng, n):
    """Word-salad documents over the testdata vocabulary; 5% are near
    copies of an earlier document (a few words replaced, `dup` appended)
    and 0.2% exact copies, so the dedup queries find work."""
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.052:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around one centre per label."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    v = centres[label] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def days(rng, n):
    d = rng.integers(EPOCH_1995 // 86400, EPOCH_2001_08 // 86400, size=n)
    return pa.array(d.astype(np.int64) * 86400 * 1_000_000, pa.timestamp("us"))


def orders(rng, n, customers):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, size=n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), size=n).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, size=n), 2), pa.float64()),
        "o_orderdate": days(rng, n),
        "o_orderpriority": pa.array(rng.choice(prio, size=n).tolist(), pa.string()),
    })


def lineitem(rng, n, n_orders, parts, suppliers):
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), size=n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), size=n).tolist(), pa.string()),
        "l_shipdate": days(rng, n),
    })


def tables(scale):
    rng = np.random.default_rng([VERSION, scale])
    n_orders = 15000 * scale
    return {
        "documents": documents(rng, 500 * scale),
        "embeddings": embeddings(rng, 500 * scale),
        "orders": orders(rng, n_orders, 1500 * scale),
        "lineitem": lineitem(rng, 60000 * scale, n_orders, 2000 * scale, 100 * scale),
    }


def table_digest(path):
    """Digest of a parquet file's logical content (schema + rows), so the
    check does not depend on the writer's byte layout."""
    t = pq.read_table(path)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def digests():
    return {f"{s}/{name}": table_digest(os.path.join(DATA, s, f"{name}.parquet"))
            for s in SCALES for name in ("documents", "embeddings", "orders", "lineitem")}


def generate(log):
    shutil.rmtree(DATA, ignore_errors=True)
    for s, scale in SCALES.items():
        d = os.path.join(DATA, s)
        os.makedirs(d)
        for name, t in tables(scale).items():
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        log(f"generated {s} tables")


def ensure(log):
    """Generate the tables if absent, then check them against the manifest.
    Returns the data directory; raises SystemExit on a mismatch."""
    with open(MANIFEST) as fh:
        want = json.load(fh)
    if not all(os.path.exists(os.path.join(DATA, f"{k}.parquet")) for k in want["tables"]):
        generate(log)
    got = digests()
    if want.get("version") != VERSION or got != want["tables"]:
        bad = sorted(k for k in set(got) | set(want["tables"]) if got.get(k) != want["tables"].get(k))
        log(f"batch data does not match manifest.json: {bad}")
        raise SystemExit(4)
    return DATA


if __name__ == "__main__":
    def say(m):
        print(f"[perfbench] {m}", file=sys.stderr)
    if "--record-manifest" in sys.argv:
        generate(say)
        with open(MANIFEST, "w") as fh:
            json.dump({"version": VERSION, "tables": digests()}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(ensure(say))
