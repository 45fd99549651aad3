"""Deterministic input images for the benchmark.

The tables mirror the fixture star schema the engine reads
(`<dir>/<table>.parquet`, one file each; TESTDATA.md): the shapes, key
ranges and value distributions match the repo's fixture images, so the
daily mart and the ingest worker run their normal plans on them. Only the
tables the benchmark's workloads read are written.

`image(dir, sf)` writes one image from a FIXED seed: the daily mart always
sees the same data, and the benchmark's `--seed` varies only the ingest
batch assignment (`assign_batches`).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IMAGE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
DIM = 64


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def part(n, rng):
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    return {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(
            900.0 + rng.integers(0, 1000, n).astype(np.float64) / 10.0),
    }


def lineitem(n, n_orders, n_parts, n_supp, rng):
    flags = np.array(["A", "N", "R"])
    status = np.array(["O", "F"])
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng)),
    }


def documents(n, rng):
    """Random word sequences over the fixture's 30-word vocabulary; 5% of
    the documents are an exact copy of another document plus " dup" (the
    fixture's near-duplicate plant)."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(8, 101, n)]
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def embeddings(n, rng):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def image(dir_, sf):
    """Write the image for scale factor `sf` (fixture row counts: lineitem
    6M·sf, part 200k·sf, documents max(500, 50k·sf), embeddings
    max(500, 20k·sf))."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(IMAGE_SEED)
    n_parts, n_orders, n_supp = (int(200_000 * sf), int(1_500_000 * sf),
                                 max(10, int(10_000 * sf)))
    _write(dir_, "part", part(n_parts, rng))
    _write(dir_, "lineitem",
           lineitem(int(6_000_000 * sf), n_orders, n_parts, n_supp, rng))
    _write(dir_, "documents", documents(max(500, int(50_000 * sf)), rng))
    _write(dir_, "embeddings", embeddings(max(500, int(20_000 * sf)), rng))


def assign_batches(n_docs, batch_docs, seed):
    """The seed's doc-to-batch assignment: a permutation of the ingest
    corpus cut into fixed-size batches, in landing order."""
    perm = np.random.default_rng(seed).permutation(n_docs)
    return [perm[i:i + batch_docs].tolist()
            for i in range(0, n_docs - batch_docs + 1, batch_docs)]
