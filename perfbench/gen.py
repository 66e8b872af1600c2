"""Seeded input generators for the benchmark.

Everything here is NumPy + PyArrow: no Spark, so generation never shares a
timed window with the engine. The same seed always writes the same bytes.
Outputs land under the benchmark's data area and are cached by
(kind, size, seed): a second run with the same seed reuses them.

- ``corpus_tables``: the ``documents`` and ``embeddings`` catalog tables,
  with the schemas and value shapes of the engine's test tables — a
  small-vocabulary corpus with planted near-duplicates, and clustered
  64-dim unit vectors.
- ``tabular_csv``: lineitem joined to orders, eight columns, target
  ``l_returnflag``, written as CSV with holes spelled the way the reference
  workbench's users spell them (``NA``, blank, ``?``, ``null`` ...).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so stale cached inputs are never reused
GEN_VERSION = 2

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

# the eight tabular columns: five numeric, two categorical features, target
TABULAR_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "o_totalprice"]
TABULAR_TARGET = "l_returnflag"
NUMERIC_HOLES = ["NA", ""]
STRING_HOLES = ["?", "null", "N/A", "none", "."]
HOLE_RATES = {"l_quantity": 0.08, "o_totalprice": 0.05, "o_orderpriority": 0.06, "l_linestatus": 0.03}


def _write_atomically(final: Path, write) -> Path:
    """Build into a sibling temp dir, then rename: an interrupted run never
    leaves a half-written input that a later run would trust."""
    if final.exists():
        return final
    tmp = final.with_name(f"{final.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    write(tmp)
    try:
        tmp.rename(final)
    except OSError:  # a concurrent run won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(np.array(VOCAB), int(lens.sum()))
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    # planted near-duplicates: ~2% of documents repeat an earlier one with a
    # trailing marker token, the shape the dedup gates are built to find
    for d in rng.choice(np.arange(1, n_docs), max(2, n_docs // 50), replace=False):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(np.array(LANGS), n_docs, p=LANG_P)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n_vec: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n_vec)
    x = centers[label] + rng.normal(0, 0.8, (n_vec, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n_vec + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.ravel())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def corpus_tables(root: Path, seed: int, n_docs: int, n_vec: int) -> Path:
    """A catalog directory holding ``documents`` and ``embeddings``."""
    name = f"corpus-v{GEN_VERSION}-d{n_docs}-v{n_vec}-s{seed}"

    def write(d: Path) -> None:
        rng = np.random.default_rng([seed, 1])
        pq.write_table(_documents(rng, n_docs), d / "documents.parquet")
        pq.write_table(_embeddings(rng, n_vec), d / "embeddings.parquet")

    return _write_atomically(root / name, write)


def tabular_truth(seed: int, n_orders: int):
    """lineitem x orders as the engine should read it (pandas, holes as
    NaN/None), and the same frame with each hole spelled as text. Orders
    carry 1..7 lines; the target carries signal (discount, quantity,
    status) plus noise and is imbalanced, so balancing has work to do and a
    classifier beats chance by a checkable margin."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    disc = rng.integers(0, 11, n) / 100.0
    status = rng.choice(np.array(["F", "O"]), n)
    score = 3.0 * disc / 0.10 + 1.5 * (qty / 50.0) + (status == "F") + rng.normal(0, 0.7, n)
    df = pd.DataFrame(
        {
            "l_quantity": qty,
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": disc,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2)[okey],
            "o_orderpriority": rng.choice(np.array(PRIORITIES, dtype=object), n_orders)[okey],
            "l_linestatus": status.astype(object),
            "l_returnflag": np.where(score > 4.0, "R", np.where(score > 3.0, "A", "N")).astype(object),
        }
    )
    spelled = df.astype(object)
    for col, rate in HOLE_RATES.items():
        mask = rng.random(n) < rate
        numeric = col in TABULAR_NUMERIC
        df.loc[mask, col] = np.nan if numeric else None
        pool = np.array(NUMERIC_HOLES if numeric else STRING_HOLES, dtype=object)
        spelled.loc[mask, col] = rng.choice(pool, int(mask.sum()))
    return df, spelled


def tabular_csv(root: Path, seed: int, n_orders: int) -> Path:
    name = f"tabular-v{GEN_VERSION}-o{n_orders}-s{seed}"

    def write(d: Path) -> None:
        _, spelled = tabular_truth(seed, n_orders)
        for c in TABULAR_NUMERIC:
            spelled[c] = spelled[c].map(lambda v: v if isinstance(v, str) else repr(float(v)))
        with open(d / "lineitem_orders.csv", "w", newline="") as fh:
            fh.write(f"# lineitem x orders, seed={seed}, holes spelled as the workbench sees them\n")
            spelled.to_csv(fh, index=False)

    return _write_atomically(root / name, write) / "lineitem_orders.csv"
