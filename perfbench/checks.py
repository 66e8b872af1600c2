"""Output checks, run outside every timed window.

Each check returns a list of problems (empty = pass). Three kinds:

- registry queries with a DuckDB oracle (``oracles.ALL_ORACLES``): row
  count, column names, type classes and an order-insensitive multiset of
  canonical values, via ``tools/verify_local``'s canonical compare;
- the rows-only near-duplicate gates: for MinHash, every planted duplicate
  pair with exact Jaccard >= 0.95 must be found and every reported pair must
  really be near-duplicate text (exact character-shingle Jaccard, computed
  here); for SimHash, the
  reported pair set must equal an exact all-pairs recomputation;
- the tabular workbench steps: recomputed independently in pandas from the
  generator's ground truth (counts, encodings, imputed values, split and
  balancing invariants); model scores must clear a stated floor.

Every warm pass must also reproduce the cold pass's order-insensitive
digest per step (model scores within ``SCORE_TOL``), so a pass that drifts
in a long-lived session counts as a failure.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

# cross-pass tolerance for model scores (fits are deterministic on fixed
# data up to float summation order in tree aggregation)
SCORE_TOL = 1e-6
# logistic regression on the generated target (three classes, signal from
# discount/quantity/status) scores ~0.6-0.7; chance is ~0.33
SCORE_FLOOR = 0.45
PAIR_MIN_JACCARD = 0.5
# MinHash-LSH recall is probabilistic; at exact Jaccard >= 0.95 a miss by the
# dd gate's 8x4 banding and 0.7 threshold has probability ~1e-6 per pair,
# below that (short documents, OPH densification) misses are expected
RECALL_MIN_JACCARD = 0.95
SHINGLE_K = 5


# ------------------------------------------------------------------ digests
def _norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    out = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s) or pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("float64").round(6) + 0.0
        else:
            out[c] = s.map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return pd.DataFrame(out, columns=cols)


def row_hashes(pdf: pd.DataFrame) -> np.ndarray:
    """One uint64 per row over sorted columns, floats at 6 dp — the same
    resolution as the oracle's canonical compare."""
    if len(pdf.columns) == 0:
        return np.zeros(len(pdf), dtype=np.uint64)
    return pd.util.hash_pandas_object(_norm_frame(pdf), index=False).to_numpy()


def digest(pdf: pd.DataFrame) -> str:
    h = row_hashes(pdf)
    cols = ",".join(sorted(map(str, pdf.columns)))
    s = int(h.sum(dtype=np.uint64)) if len(h) else 0
    return hashlib.sha1(f"{cols}|{len(h)}|{s}".encode()).hexdigest()[:16]


def _multiset(h: np.ndarray) -> dict[int, int]:
    u, c = np.unique(h, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


def is_submultiset(part: pd.DataFrame, whole: pd.DataFrame) -> bool:
    have = _multiset(row_hashes(whole[sorted(part.columns)]))
    for h, n in _multiset(row_hashes(part)).items():
        if have.get(h, 0) < n:
            return False
    return True


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns {sorted(a.columns)} != expected {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} != expected {len(b)}"]
    if _multiset(row_hashes(a)) != _multiset(row_hashes(b[list(a.columns)])):
        return ["row values differ from expected"]
    return []


# ------------------------------------------------------------ DuckDB oracles
def _py(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.generic):
        return _py(v.item())
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def oracle_problems(con, sql: str, pdf: pd.DataFrame, types: list[str]) -> list[str]:
    from tools.verify_local import canon_rows, type_parity_problems

    rel = con.sql(sql)
    ocols = [d[0] for d in rel.description]
    otypes = [str(t) for t in rel.types]
    orows = rel.fetchall()
    scols = list(pdf.columns)
    srows = [tuple(_py(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
    problems.extend(type_parity_problems(scols, types, ocols, otypes))
    if not problems and canon_rows(scols, srows) != canon_rows(ocols, orows):
        problems.append("values differ from the DuckDB oracle")
    return problems


def duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ----------------------------------------------------- near-duplicate pairs
def _shingles(text: str) -> set[str]:
    t = text.lower()
    return {t[i : i + SHINGLE_K] for i in range(max(len(t) - SHINGLE_K + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def planted_pairs(texts: dict[int, str]) -> set[tuple[int, int]]:
    """(a, b), a < b, for every document that is another plus ' dup'."""
    by_text: dict[str, list[int]] = {}
    for i, t in texts.items():
        by_text.setdefault(t, []).append(i)
    out = set()
    for i, t in texts.items():
        if t.endswith(" dup"):
            for j in by_text.get(t[: -len(" dup")], []):
                out.add((min(i, j), max(i, j)))
    return out


def pair_problems(pdf: pd.DataFrame, texts: dict[int, str], planted: set) -> list[str]:
    a_col, b_col = pdf.columns[0], pdf.columns[1]
    got = {(min(int(a), int(b)), max(int(a), int(b))) for a, b in zip(pdf[a_col], pdf[b_col])}
    problems = []
    if len(got) != len(pdf):
        problems.append(f"{len(pdf) - len(got)} repeated pairs")
    sure = {p for p in planted if jaccard(texts[p[0]], texts[p[1]]) >= RECALL_MIN_JACCARD}
    missed = sure - got
    if missed:
        problems.append(
            f"missed {len(missed)} of {len(sure)} planted duplicates with Jaccard >= {RECALL_MIN_JACCARD}"
        )
    weak = [p for p in got if jaccard(texts[p[0]], texts[p[1]]) < PAIR_MIN_JACCARD]
    if weak:
        problems.append(f"{len(weak)} reported pairs below Jaccard {PAIR_MIN_JACCARD}")
    return problems


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)
_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _popcount(x: np.ndarray) -> np.ndarray:
    out = np.zeros(x.shape, dtype=np.uint8)
    for shift in (0, 16, 32, 48):
        out += _POP16[((x >> np.uint64(shift)) & np.uint64(0xFFFF)).astype(np.int64)]
    return out


def simhash_reference(texts: dict[int, str]):
    """64-bit idf-weighted SimHash per document, recomputed here from the
    definition ``operators.dedup.simhash_signatures`` documents: whitespace
    tokens of the lowercased text, token hash = Spark's xxhash64 (seed 42,
    via the engine's NumPy XXH64, which tests pin bit-equal to Spark),
    weight = count * ln((N+1)/(df+1)), bit set when its vote is > 0.
    Returns (ids, signatures, unsure) where ``unsure`` marks bits whose vote
    is within float-summation noise of zero."""
    import re
    from collections import Counter

    from ml_data_pipeline_spark.functions.xxh64_np import xxh64

    ws = re.compile(_WS)
    ids = sorted(texts)
    docs = [Counter(t for t in ws.split(texts[i].lower()) if t) for i in ids]
    vocab = sorted({t for d in docs for t in d})
    col = {t: k for k, t in enumerate(vocab)}
    enc = [t.encode("utf-8") for t in vocab]
    data = np.zeros((len(enc), max(map(len, enc))), dtype=np.uint8)
    for k, b in enumerate(enc):
        data[k, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    h = xxh64(data, np.array([len(b) for b in enc]), seed=42).view(np.uint64)
    sign = np.where((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1), 1.0, -1.0)
    dfreq = Counter(t for d in docs for t in d)
    n = len(ids)
    w = np.zeros((n, len(vocab)))
    for r, d in enumerate(docs):
        for t, c in d.items():
            w[r, col[t]] = c * math.log(float(n + 1) / (dfreq[t] + 1))
    votes = w @ sign
    noise = 1e-9 * np.maximum(np.abs(w).sum(axis=1, keepdims=True), 1.0)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    sig = ((votes > 0) * weights).sum(axis=1, dtype=np.uint64)
    unsure = ((np.abs(votes) <= noise) * weights).sum(axis=1, dtype=np.uint64)
    return np.array(ids), sig, unsure


def simhash_pair_problems(pdf: pd.DataFrame, ref, max_hamming: int = 3) -> list[str]:
    """Exact all-pairs compare: every pair within ``max_hamming`` must be
    reported with its distance, and nothing else (pairs whose distance
    hinges on a float-noise bit may go either way)."""
    ids, sig, unsure = ref
    required, allowed = set(), set()
    for start in range(0, len(ids), 256):
        rows, cols = slice(start, start + 256), slice(start, None)
        u = unsure[rows, None] | unsure[None, cols]
        hmin = _popcount((sig[rows, None] ^ sig[None, cols]) & ~u)
        hmax = hmin + _popcount(u)
        upper = np.triu(np.ones(hmin.shape, dtype=bool), k=1)
        for a, b in np.argwhere(upper & (hmax <= max_hamming)):
            required.add((int(ids[start + a]), int(ids[start + b])))
        for a, b in np.argwhere(upper & (hmin <= max_hamming)):
            allowed.add((int(ids[start + a]), int(ids[start + b])))
    got = {(int(a), int(b)) for a, b in zip(pdf["id_a"], pdf["id_b"])}
    problems = []
    if len(got) != len(pdf):
        problems.append(f"{len(pdf) - len(got)} repeated pairs")
    if required - got:
        problems.append(f"missed {len(required - got)} of {len(required)} pairs within hamming {max_hamming}")
    if got - allowed:
        problems.append(f"{len(got - allowed)} reported pairs are farther than hamming {max_hamming}")
    return problems


# --------------------------------------------------------- tabular oracle
class TabularTruth:
    """Expected outputs of the tabular workbench pass, computed in pandas
    from the generator's frame (never from engine output)."""

    def __init__(self, frame: pd.DataFrame, numeric: list[str], target: str, test_size: float):
        self.raw, self.numeric, self.target, self.test_size = frame, numeric, target, test_size
        e = frame.copy()
        for c in ("l_quantity", "o_totalprice"):
            e[c] = e[c].fillna(e[c].mean())
        for c in ("o_orderpriority", "l_linestatus"):
            vc = e[c].dropna().value_counts()
            mode = sorted(vc[vc == vc.max()].index)[0]
            e[c] = e[c].fillna(mode)
        codes = {v: i for i, v in enumerate(sorted(e["o_orderpriority"].unique()))}
        e["o_orderpriority"] = e["o_orderpriority"].map(codes).astype("int64")
        freq = e["l_linestatus"].value_counts(normalize=True)
        e["l_linestatus_freq_encoded"] = e["l_linestatus"].map(freq).astype("float64")
        for v in sorted(e["l_linestatus"].unique()):
            e[f"l_linestatus_{v}"] = (e["l_linestatus"] == v).astype("int64")
        self.encoded = e.drop(columns=["l_linestatus"])

    # each returns a list of problems for the step's materialized output
    def read_csv(self, pdf) -> list[str]:
        return same_rows(pdf, self.raw)

    def missing_counts(self, pdf) -> list[str]:
        n = len(self.raw)
        miss = self.raw.isna().sum()
        rows = [
            (c, int(k), round(k * 100.0 / n, 6), bool(k * 2 > n))
            for c, k in miss.items()
            if k > 0
        ]
        rows.sort(key=lambda r: (-r[1], r[0]))
        exp = pd.DataFrame(rows, columns=["column", "n_missing", "pct_missing", "flag_over_half"])
        problems = same_rows(pdf, exp)
        if not problems and list(pdf["column"]) != list(exp["column"]):
            problems.append("missing_counts order differs")
        return problems

    def numeric_summary(self, pdf) -> list[str]:
        problems = []
        if sorted(pdf["column"]) != sorted(self.numeric):
            return [f"summary columns {list(pdf['column'])}"]
        for _, r in pdf.iterrows():
            x = self.raw[r["column"]].dropna().to_numpy()
            exact = {"minv": x.min(), "maxv": x.max(), "mean": x.mean(), "std": x.std(ddof=1)}
            for k, v in exact.items():
                if abs(r[k] - round(float(v), 6)) > 1e-6 * max(1.0, abs(v)):
                    problems.append(f"{r['column']}.{k} {r[k]} != {v}")
            xs = np.sort(x)
            for k, p in (("q25", 0.25), ("median", 0.5), ("q75", 0.75)):
                rank = np.searchsorted(xs, r[k] + 1e-6, side="right") / len(xs)
                lo = np.searchsorted(xs, r[k] - 1e-6, side="left") / len(xs)
                if not (lo - 0.01 <= p <= rank + 0.01):
                    problems.append(f"{r['column']}.{k} {r[k]} is not near the {p} quantile")
        return problems

    def class_distribution(self, pdf) -> list[str]:
        vc = self.raw[self.target].value_counts()
        rows = sorted(((k, int(v)) for k, v in vc.items()), key=lambda r: (-r[1], r[0]))[:15]
        exp = pd.DataFrame(rows, columns=[self.target, "count"])
        return same_rows(pdf, exp)

    def correlation_pairs(self, pdf) -> list[str]:
        c = self.raw[self.numeric].corr()
        rows = [
            (a, b, float(c.loc[a, b]))
            for i, a in enumerate(self.numeric)
            for b in self.numeric[i + 1 :]
        ]
        exp = pd.DataFrame(rows, columns=["column_a", "column_b", "corr"])
        if len(pdf) != len(exp):
            return [f"{len(pdf)} pairs != {len(exp)}"]
        got = pdf.set_index(["column_a", "column_b"])["corr"]
        bad = [
            (a, b) for a, b, v in rows
            if abs(got.get((a, b), np.nan) - v) > 2e-6 or math.isnan(got.get((a, b), np.nan))
        ]
        return [f"corr differs for {bad}"] if bad else []

    def apply_chain(self, pdf) -> list[str]:
        return same_rows(pdf, self.encoded)

    def random_undersample(self, pdf) -> list[str]:
        want = int(self.encoded[self.target].value_counts().min())
        counts = pdf[self.target].value_counts()
        problems = []
        if set(counts.index) != set(self.encoded[self.target]) or (counts != want).any():
            problems.append(f"class counts {counts.to_dict()} != {want} each")
        if not is_submultiset(pdf, self.encoded):
            problems.append("undersampled rows are not input rows")
        return problems

    def stratified_split(self, out, under: pd.DataFrame) -> list[str]:
        train, test = out
        problems = same_rows(pd.concat([train, test], ignore_index=True), under)
        for cls, n in under[self.target].value_counts().items():
            want_test = n - math.ceil(n * (1 - self.test_size))
            got = int((test[self.target] == cls).sum())
            if got != want_test:
                problems.append(f"test rows of class {cls}: {got} != {want_test}")
        return problems

    def smote(self, pdf, train: pd.DataFrame) -> list[str]:
        problems = []
        want = int(train[self.target].value_counts().max())
        counts = pdf[self.target].value_counts()
        if (counts != want).any() or set(counts.index) != set(train[self.target]):
            problems.append(f"class counts {counts.to_dict()} != {want} each")
        feats = [c for c in pdf.columns if c != self.target]
        if not is_submultiset(train[list(pdf.columns)], pdf):
            problems.append("original train rows missing from the SMOTE output")
        lo = train.groupby(self.target)[feats].min()
        hi = train.groupby(self.target)[feats].max()
        for cls, g in pdf.groupby(self.target):
            if ((g[feats] < lo.loc[cls] - 1e-9) | (g[feats] > hi.loc[cls] + 1e-9)).any().any():
                problems.append(f"synthetic rows of class {cls} leave the class's feature box")
        return problems

    @staticmethod
    def scores(values: dict[str, float], ref: dict[str, float] | None) -> list[str]:
        problems = []
        for k, v in values.items():
            if not (isinstance(v, float) and math.isfinite(v)):
                problems.append(f"{k}={v!r} is not a finite score")
        if ref is not None:
            drift = [k for k in ref if abs(values.get(k, math.inf) - ref[k]) > SCORE_TOL]
            if drift:
                problems.append(f"scores drifted from the cold pass: {drift}")
        return problems
