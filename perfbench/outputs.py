"""Output checks: an order-insensitive value hash for registered queries,
and a NumPy recomputation of the reference preprocessing flow.

The hash sees what the engine's oracle tests compare: the multiset of
rows, with columns taken in name order and values normalized (decimals
to float, -0.0 to 0.0, NaN to a tag, timestamps to ISO text, arrays to
tuples).  Floats are compared exactly, because registered queries round
their float outputs inside the plan on both engines.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np


def _norm(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return float(v) + 0.0
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return _norm(v.asDict())
    return v


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    """sha256 over the sorted, normalized rows (columns in name order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def spark_hash(df) -> tuple[str, int]:
    rows = [tuple(r) for r in df.collect()]
    return value_hash(list(df.columns), rows), len(rows)


# ---------------------------------------------------------------------------
# Reference preprocessing flow, recomputed in NumPy
# ---------------------------------------------------------------------------


def seeded_rank_key(seed: int, key: int) -> int:
    """The engine's documented permutation key: the first 15 hex digits
    of md5(``"{seed}:{key}"``) as an integer (ties broken by key)."""
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:15], 16)


def train_size(n: int, fraction: float, cv: int) -> int:
    """Reference train-size rule: round-half-up of ``n * fraction``,
    clamped up to ``min(cv, n)``."""
    t = int(math.floor(n * fraction + 0.5))
    return min(cv, n) if t < cv else t


def split_plan(keys: dict[int, list[int]], seed: int, fraction: float, cv: int):
    """Per class: keys in permutation order, and the train size."""
    plan = {}
    for label, ks in keys.items():
        ordered = sorted(ks, key=lambda k: (seeded_rank_key(seed, k), k))
        plan[label] = (ordered, train_size(len(ks), fraction, cv))
    return plan


def fold_of(rank: int, t: int, cv: int) -> int:
    """Linspace fold of 1-based ``rank`` inside a train segment of ``t``."""
    return (rank * cv - 1) // t


def centered_means_ok(raw: np.ndarray, got_mean: np.ndarray, tol: float = 1e-9) -> bool:
    """Whether ``got_mean`` is what the engine's centered train columns
    should average to: each dimension's mean minus that mean rounded to 6
    digits (the engine rounds the means it subtracts).  At a rounding tie
    both neighbours are accepted, because the two sides sum in different
    orders."""
    m = raw.mean(axis=0)
    if got_mean.shape != m.shape:
        return False
    frac = m * 1e6 - np.floor(m * 1e6)  # position between 6-digit neighbours
    down = np.where(frac <= 0.5 + 1e-6, frac * 1e-6, np.inf)
    up = np.where(frac >= 0.5 - 1e-6, (frac - 1.0) * 1e-6, np.inf)
    return bool(np.all((np.abs(got_mean - down) <= tol) | (np.abs(got_mean - up) <= tol)))


class FlowCheck:
    """Expected results of the reference flow for one input set."""

    def __init__(self, xs: list[np.ndarray], key_stride: int, cv: int, fraction: float):
        self.cv, self.fraction = cv, fraction
        self.features = {
            label * key_stride + sid: x[sid] for label, x in enumerate(xs) for sid in range(len(x))
        }
        self.keys = {label: [label * key_stride + s for s in range(len(x))] for label, x in enumerate(xs)}

    def _centered_ok(self, keys: list[int], got_mean: np.ndarray, extend: bool) -> bool:
        raw = np.stack([self.features[k] for k in keys])
        if extend:
            raw = np.hstack([raw, np.ones((len(raw), 1))])
        return centered_means_ok(raw, got_mean)

    def check_split(self, seed: int, train_rows, test_rows) -> list[str]:
        """``train_rows``/``test_rows``: (key, label, fold, features) tuples
        from ``generator(no=seed)`` with extend and center on."""
        problems = []
        plan = split_plan(self.keys, seed, self.fraction, self.cv)
        want_train = {k for lab, (o, t) in plan.items() for k in o[:t]}
        want_test = {k for lab, (o, t) in plan.items() for k in o[t:]}
        got_train = {r[0] for r in train_rows}
        got_test = {r[0] for r in test_rows}
        if len(got_train) != len(train_rows) or len(got_test) != len(test_rows):
            problems.append("generator: duplicate rows")
        if got_train & got_test:
            problems.append("generator: train and test overlap")
        if got_train | got_test != set(self.features):
            problems.append("generator: train and test do not cover the database")
        if got_train != want_train or got_test != want_test:
            problems.append("generator: per-class train/test membership differs")
        ranks = {k: i + 1 for lab, (o, t) in plan.items() for i, k in enumerate(o)}
        sizes = {lab: t for lab, (o, t) in plan.items()}
        for key, label, fold, _ in train_rows:
            if fold != fold_of(ranks[key], sizes[label], self.cv):
                problems.append(f"generator: key {key} in fold {fold}")
                break
        got_mean = np.asarray([r[3] for r in train_rows], dtype=np.float64).mean(axis=0)
        if not self._centered_ok(sorted(got_train), got_mean, extend=True):
            problems.append("generator: centered train means differ from NumPy")
        return problems

    def check_fold(self, fold: int, train_rows, test_rows) -> list[str]:
        """``get_cv_data(fold)`` rows: (key, label, features) tuples; the
        engine slices folds from the seed-0 permutation."""
        problems = []
        plan = split_plan(self.keys, 0, self.fraction, self.cv)
        want_test, want_train = set(), set()
        for lab, (order, t) in plan.items():
            for rank, key in enumerate(order[:t], start=1):
                (want_test if fold_of(rank, t, self.cv) == fold else want_train).add(key)
        got_train = [r[0] for r in train_rows]
        got_test = [r[0] for r in test_rows]
        if set(got_train) != want_train or len(got_train) != len(want_train):
            problems.append(f"fold {fold}: train slice differs")
        if set(got_test) != want_test or len(got_test) != len(want_test):
            problems.append(f"fold {fold}: test slice differs")
        if set(got_train) & set(got_test):
            problems.append(f"fold {fold}: train and test overlap")
        if got_train:
            got_mean = np.asarray([r[2] for r in train_rows], dtype=np.float64).mean(axis=0)
            if not self._centered_ok(sorted(want_train), got_mean, extend=False):
                problems.append(f"fold {fold}: centered fold-train means differ from NumPy")
        return problems
