"""The benchmark's workloads: what one pass runs, on which inputs, and how
each step's output is checked.

A workload has ``name``, ``steps``, ``prepare(data_root, seed)`` (seeded
inputs, no Spark), ``input_rows(inputs)`` and ``check(ctx, outputs, ref)``
(problems per step; ``ref`` is the cold pass's outputs, None for the cold
pass itself). A step is ``construct`` (the call into the engine's public
function — any Spark job it launches here is an eager construct-time job)
followed by an optional ``action`` that materializes the result on the
driver. Steps run one after another from a single client; later steps read
earlier steps' results through the pass state ``st``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import gen
import checks as C

# ---------------------------------------------------------------- sizes
# tabular_prep: lineitem x orders, ~10k rows (4 lines per order on average)
TABULAR_ORDERS = 2_500
# corpus_dedup: the engine's sf0.1 test-table sizes
CORPUS = {"n_docs": 5_000, "n_vec": 2_000}

TARGET = gen.TABULAR_TARGET
TEST_SIZE = 0.2
CV_FOLDS = 3
LR_PARAMS = {"maxIter": 10}

CORPUS_QUERIES = [
    "tx_quality",
    "tx_lang_id",
    "dd_minhash_pairs",
    "dd_simhash_pairs",
    "ss_brute_topk",
    "ss_ivf_topk",
]


@dataclass(frozen=True)
class Step:
    name: str  # metric prefix, e.g. "operators.profiling.missing_counts"
    construct: Callable[["Ctx", dict], Any]
    action: Callable[[Any, dict], Any] | None  # None: construct already returns the output


@dataclass
class Ctx:
    spark: Any
    seed: int
    out_root: Path
    inputs: dict


def to_pandas(df, st):
    return df.toPandas()


def materialize(*keys):
    """Action of a workbench step whose result feeds later steps: pin the
    result (eager ``localCheckpoint``, as the workbench holds each step's
    output) under ``keys`` in the pass state, then bring it to the driver
    for the check. Later steps start from the pinned result, not from a
    re-derivation of the whole chain."""

    def action(obj, st):
        frames = obj if isinstance(obj, tuple) else (obj,)
        pinned = [f.localCheckpoint(eager=True) for f in frames]
        st.update(zip(keys, pinned))
        out = [f.toPandas() for f in pinned]
        return tuple(out) if isinstance(obj, tuple) else out[0]

    return action


def to_pandas_typed(df, st):
    return {"pdf": df.toPandas(), "types": [f.dataType.simpleString() for f in df.schema.fields]}


# ------------------------------------------------------------ tabular_prep
class TabularPrep:
    name = "tabular_prep"

    def __init__(self) -> None:
        from ml_data_pipeline_spark.ml import tuning as MT
        from ml_data_pipeline_spark.operators import balancing as B
        from ml_data_pipeline_spark.operators import encoding as E
        from ml_data_pipeline_spark.operators import imputation as I
        from ml_data_pipeline_spark.operators import profiling as P
        from ml_data_pipeline_spark.operators import sampling as S
        from ml_data_pipeline_spark.plans.dataset import Dataset
        from ml_data_pipeline_spark.sources import csv_io

        self._truth = None

        def read(ctx, st):
            return csv_io.read_csv(ctx.spark, str(ctx.inputs["csv"]))

        def chain(ctx, st):
            st["ds"] = (
                Dataset.from_df(st["raw"])
                .apply(I.impute_mean, "l_quantity")
                .apply(I.impute_mean, "o_totalprice")
                .apply(I.impute_mode, "o_orderpriority")
                .apply(I.impute_mode, "l_linestatus")
                .apply(E.label_encode, "o_orderpriority")
                .apply(E.frequency_encode, "l_linestatus")
                .apply(E.one_hot_encode, "l_linestatus")
            )
            return st["ds"].df

        def under(ctx, st):
            return B.random_undersample(st["encoded"], TARGET, seed=ctx.seed)

        def split(ctx, st):
            return S.stratified_split(st["under"], TARGET, TEST_SIZE, seed=ctx.seed)

        def smote(ctx, st):
            feats = [c for c in st["encoded"].columns if c != TARGET]
            return B.smote(st["train"], TARGET, feats, seed=ctx.seed)

        def cv(ctx, st):
            return MT.cross_val_scores(
                st["bal"], TARGET, "logistic_regression", params=LR_PARAMS,
                n_folds=CV_FOLDS, seed=ctx.seed,
            )

        def save(ctx, st):
            ds = Dataset(st["encoded"], st["ds"].changes)
            info = ds.save(str(ctx.out_root / "saved"), "lineitem_orders")
            return {"version": info.version, "changes": list(ds.changes)}

        self.steps = [
            Step("sources.csv_io.read_csv", read, materialize("raw")),
            Step("operators.profiling.missing_counts", lambda ctx, st: P.missing_counts(st["raw"]), to_pandas),
            Step(
                "operators.profiling.numeric_summary",
                lambda ctx, st: P.numeric_summary(st["raw"], gen.TABULAR_NUMERIC),
                to_pandas,
            ),
            Step(
                "operators.profiling.class_distribution",
                lambda ctx, st: P.class_distribution(st["raw"], TARGET),
                to_pandas,
            ),
            Step("operators.profiling.correlation_pairs", lambda ctx, st: P.correlation_pairs(st["raw"]), to_pandas),
            Step("plans.dataset.apply", chain, materialize("encoded")),
            Step("operators.balancing.random_undersample", under, materialize("under")),
            Step("operators.sampling.stratified_split", split, materialize("train", "test")),
            Step("operators.balancing.smote", smote, materialize("bal")),
            Step("ml.tuning.cross_val_scores", cv, None),
            Step("plans.dataset.save", save, None),
        ]

    def prepare(self, data_root: Path, seed: int) -> dict:
        return {"csv": gen.tabular_csv(data_root, seed, TABULAR_ORDERS)}

    def input_rows(self, inputs: dict) -> int:
        with open(inputs["csv"]) as fh:
            return sum(1 for _ in fh) - 2  # comment line + header

    def truth(self, seed: int) -> C.TabularTruth:
        if self._truth is None:
            frame, _ = gen.tabular_truth(seed, TABULAR_ORDERS)
            self._truth = C.TabularTruth(frame, gen.TABULAR_NUMERIC, TARGET, TEST_SIZE)
        return self._truth

    def check(self, ctx: Ctx, outputs: dict, ref: dict | None) -> dict[str, list[str]]:
        t = self.truth(ctx.seed)
        out = {}
        for step in self.steps:
            n = step.name
            if n not in outputs:
                continue
            o = outputs[n]
            short = n.rsplit(".", 1)[-1]
            if short == "cross_val_scores":
                probs = t.scores(_cv_scores(o), None if ref is None else _cv_scores(ref[n]))
                if not o["mean"] >= C.SCORE_FLOOR:
                    probs.append(f"mean score {o['mean']} below the floor {C.SCORE_FLOOR}")
            elif short == "save":
                probs = self._check_save(ctx, o, t)
            elif short == "apply":
                probs = t.apply_chain(o)
            elif short == "stratified_split":
                probs = t.stratified_split(o, outputs["operators.balancing.random_undersample"])
            elif short == "smote":
                train = outputs["operators.sampling.stratified_split"][0]
                probs = t.smote(o, train[list(o.columns)])
            else:
                probs = getattr(t, short)(o)
            out[n] = probs
        return out

    def _check_save(self, ctx: Ctx, o: dict, t: C.TabularTruth) -> list[str]:
        import pyarrow.parquet as pq

        vdir = ctx.out_root / "saved" / "lineitem_orders" / f"v{o['version']}"
        try:
            meta = json.loads((vdir / "_meta.json").read_text())
            back = pq.read_table(vdir).to_pandas()
        except Exception as e:  # noqa: BLE001 - any read failure is a check failure
            return [f"saved version unreadable: {e}"]
        probs = C.same_rows(back, t.encoded)
        if meta.get("changes") != o["changes"] or len(o["changes"]) != 7:
            probs.append("saved lineage differs from the applied chain")
        return probs


def _cv_scores(o: dict) -> dict[str, float]:
    return {"mean": o["mean"], **{f"fold{i}": s for i, s in enumerate(o["scores"])}}


# ------------------------------------------------------------ corpus_dedup
class CorpusDedup:
    name = "corpus_dedup"
    tables = ["documents", "embeddings"]

    def __init__(self) -> None:
        from ml_data_pipeline_spark.queries import ALL_QUERIES

        self._oracle = None
        self.steps = [
            Step(f"queries.{q}", self._constructor(ALL_QUERIES[q]), to_pandas_typed)
            for q in CORPUS_QUERIES
        ]

    @staticmethod
    def _constructor(fn):
        return lambda ctx, st: fn(ctx.spark, str(ctx.inputs["dir"]))

    def prepare(self, data_root: Path, seed: int) -> dict:
        return {"dir": gen.corpus_tables(data_root, seed, **CORPUS)}

    def input_rows(self, inputs: dict) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f"{inputs['dir']}/{t}.parquet").num_rows for t in self.tables)

    def check(self, ctx: Ctx, outputs: dict, ref: dict | None) -> dict[str, list[str]]:
        from ml_data_pipeline_spark.oracles import ALL_ORACLES

        out = {}
        for step in self.steps:
            n = step.name
            if n not in outputs:
                continue
            q = n.split(".", 1)[1]
            pdf, types = outputs[n]["pdf"], outputs[n]["types"]
            if ref is not None:
                same = C.digest(pdf) == C.digest(ref[n]["pdf"])
                probs = [] if same else ["output differs from the cold pass"]
            elif q == "dd_minhash_pairs":
                texts = self._texts(ctx)
                probs = C.pair_problems(pdf, texts, C.planted_pairs(texts))
            elif q == "dd_simhash_pairs":
                probs = C.simhash_pair_problems(pdf, C.simhash_reference(self._texts(ctx)))
            elif q in ALL_ORACLES:
                if self._oracle is None:
                    self._oracle = C.duckdb_views(str(ctx.inputs["dir"]), self.tables)
                probs = C.oracle_problems(self._oracle, ALL_ORACLES[q], pdf, types)
            else:
                probs = ["no output check for this query"]
            out[n] = probs
        return out

    @staticmethod
    def _texts(ctx: Ctx) -> dict[int, str]:
        import pyarrow.parquet as pq

        t = pq.read_table(f"{ctx.inputs['dir']}/documents.parquet", columns=["doc_id", "text"])
        return dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


WORKLOADS = {w.name: w for w in (TabularPrep, CorpusDedup)}


def xxh64_mb_per_s(docs_path: str, budget_s: float = 0.5) -> float:
    """Direct call of the engine's NumPy XXH64 on word tokens drawn from the
    corpus; median MB/s over repeated calls."""
    import statistics
    import time

    import numpy as np
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.functions.xxh64_np import xxh64

    texts = pq.read_table(docs_path, columns=["text"])["text"].to_pylist()
    toks = [w.encode() for t in texts for w in t.split()]
    width = max(len(w) for w in toks)
    data = np.zeros((len(toks), width), dtype=np.uint8)
    for i, w in enumerate(toks):
        data[i, : len(w)] = np.frombuffer(w, dtype=np.uint8)
    lengths = np.array([len(w) for w in toks], dtype=np.int64)
    mb = lengths.sum() / 2**20
    rates, t_end = [], time.monotonic() + budget_s
    while time.monotonic() < t_end or len(rates) < 3:
        t0 = time.perf_counter()
        xxh64(data, lengths)
        rates.append(mb / (time.perf_counter() - t0))
    return statistics.median(rates)
