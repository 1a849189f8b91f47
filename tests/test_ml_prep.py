"""Unit tests for reference ML-prep semantics against hand-computed golden
vectors from ``/root/reference/DFW/preprocess.py:155-193`` (the worked fold
examples at ``:186-187`` are the closest thing the reference has to a spec).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframework_spark.operators.ml_prep import (
    assign_folds,
    center,
    center_features,
    cv_plan,
    extend_bias,
    param_grid,
    seeded_order,
    train_test_split,
)


def _class_df(spark, sizes: dict[int, int]):
    rows = []
    i = 0
    for label, n in sizes.items():
        for _ in range(n):
            rows.append((i, label, float(i)))
            i += 1
    return spark.createDataFrame(rows, ["id", "label", "x"])


def _folds_for(spark, n: int, cv: int) -> list[list[int]]:
    """Per-class 0-based fold membership in sample order."""
    df = _class_df(spark, {0: n})
    split = train_test_split(df, "label", ["id"], train_setting=-1, cv=cv)
    rows = assign_folds(split, cv).orderBy("id").select("fold").collect()
    out: list[list[int]] = [[] for _ in range(cv)]
    for idx, r in enumerate(rows):
        out[r.fold].append(idx)
    return out


def test_fold_boundaries_golden_8_5(spark):
    # preprocess.py:186 — "8 instances, cv = 5 => [[0], [1, 2], [3], [4, 5], [6, 7]]"
    assert _folds_for(spark, 8, 5) == [[0], [1, 2], [3], [4, 5], [6, 7]]


def test_fold_boundaries_golden_7_5(spark):
    # preprocess.py:187 — "7 instances, cv = 5 => [[0], [1], [2, 3], [4], [5, 6]]"
    assert _folds_for(spark, 7, 5) == [[0], [1], [2, 3], [4], [5, 6]]


def test_fold_boundaries_match_reference_linspace(spark):
    """Property: fold assignment == floor(linspace(0, n, cv+1)) segments
    (the reference's exact construction, preprocess.py:188)."""
    import math

    import numpy as np

    for n, cv in [(5, 5), (10, 3), (23, 5), (12, 4), (100, 7)]:
        pos = [math.floor(e) for e in np.linspace(0, n, cv + 1)]
        expected = [list(range(pos[i], pos[i + 1])) for i in range(cv)]
        assert _folds_for(spark, n, cv) == expected, (n, cv)


@pytest.mark.parametrize(
    "n,setting,cv,expected_train",
    [
        (10, -1, 5, 10),  # -1 → all samples train (preprocess.py:162-163)
        (10, 0.5, 5, 5),  # fraction → round(n*f) (:164-167)
        (10, 0.2, 5, 5),  # round(2) < cv → clamp to min(n, cv) (:166-167)
        (3, 0.5, 5, 3),  # clamp capped at n
        (10, 4, 5, 5),  # int < cv → clamp to min(cv, n) (:168-171)
        (10, 7, 5, 7),  # int within range
        (10, 99, 5, 10),  # int > n → min(t, n)
        (2, 99, 5, 2),  # min(t, n) then clamp min(cv, n) = 2
    ],
)
def test_train_size_rules(spark, n, setting, cv, expected_train):
    df = _class_df(spark, {0: n})
    split = train_test_split(df, "label", ["id"], train_setting=setting, cv=cv)
    got = split.where(F.col("is_train") == 1).count()
    assert got == expected_train


def test_train_is_prefix_and_disjoint(spark):
    """Train = first train_size samples in order; train ∩ test = ∅
    (preprocess.py:176)."""
    df = _class_df(spark, {0: 10, 1: 6})
    split = train_test_split(df, "label", ["id"], train_setting=0.5, cv=3)
    rows = split.orderBy("id").collect()
    for r in rows:
        assert r.is_train == (1 if r._rn <= r._train_size else 0)
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.is_train)
    for flags in by_label.values():
        # prefix property: once test starts, no train follows
        assert flags == sorted(flags, reverse=True)


def test_rotation_regime_matches_deque(spark):
    """T2 (preprocess.py:179-184): fold i tests sample i mod train_size,
    trains on the rest — verified against a literal deque simulation."""
    from collections import deque

    n, cv = 3, 5
    df = _class_df(spark, {0: n})
    split = train_test_split(df, "label", ["id"], train_setting=-1, cv=cv)
    plan = cv_plan(split, cv).orderBy("fold", "id").collect()

    dq = deque(range(n))
    expected = {}
    for i in range(cv):
        t = dq.popleft()
        expected[i] = {"test": {t}, "train": set(dq)}
        dq.append(t)

    got: dict[int, dict[str, set]] = {}
    for r in plan:
        got.setdefault(r.fold, {"test": set(), "train": set()})[r.role].add(r.id)
    assert got == expected


def test_folds_partition_train_set(spark):
    """Property: linspace folds partition the train segment exactly."""
    df = _class_df(spark, {0: 17, 1: 9, 2: 25})
    split = train_test_split(df, "label", ["id"], train_setting=0.8, cv=4)
    folded = assign_folds(split, 4)
    train_n = split.where("is_train = 1").count()
    fold_n = folded.where("fold IS NOT NULL").count()
    assert train_n == fold_n
    assert folded.where("is_train = 0 AND fold IS NOT NULL").count() == 0


def test_center_train_mean_zero(spark):
    """Property: after centering, the train-partition mean is ~0 and test
    rows are shifted by the SAME train mean (fit/transform,
    preprocess.py:76-84)."""
    df = _class_df(spark, {0: 20, 1: 20})
    split = train_test_split(df, "label", ["id"], train_setting=0.5, cv=2)
    out = center(split, ["x"], ndigits=10)
    train_mean = (
        out.where("is_train = 1").agg(F.avg("x_centered")).collect()[0][0]
    )
    assert abs(train_mean) < 1e-6
    # test rows: centered = x - train_mean, not x - test_mean
    row = out.where("is_train = 0").orderBy("id").first()
    all_train_mean = (
        split.where("is_train = 1").agg(F.avg("x")).collect()[0][0]
    )
    assert abs((row.x - row.x_centered) - round(all_train_mean, 10)) < 1e-9


def test_center_features_by_group_equals_per_group_call(spark):
    """``by=("g",)`` centers each group by its own train means: the same
    rows as the ungrouped call run on that group's rows alone."""
    rows = [
        (i, g, int(i % 3 != 0), [float(i * (g + 1)), float((i * 7) % 5) - g, 0.5 * g])
        for g in range(3)
        for i in range(g * 10, g * 10 + 7 + g)
    ]
    df = spark.createDataFrame(rows, ["id", "g", "is_train", "f"])
    grouped = center_features(df, "f", by=("g",))
    assert grouped.columns == df.columns
    got = {r.id: r.f for r in grouped.collect()}
    for g in range(3):
        alone = center_features(df.where(F.col("g") == g), "f").collect()
        assert alone
        for r in alone:
            assert got[r.id] == r.f, (g, r.id)


def test_extend_bias_array_append(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])], ["id", "features"])
    out = extend_bias(df, features_col="features").collect()[0]
    assert out.features == [1.0, 2.0, 1.0]
    assert out.bias == 1.0


def test_param_grid_size_and_content(spark):
    """Grid size = ∏ lengths (preprocess.py:489-497)."""
    g = param_grid(spark, {"a": [1, 2, 3], "b": [0.1, 0.2], "c": ["x"]})
    rows = g.collect()
    assert len(rows) == 6
    assert {(r.a, r.b, r.c) for r in rows} == {
        (a, b, "x") for a in (1, 2, 3) for b in (0.1, 0.2)
    }


def test_seeded_order_deterministic(spark):
    """Seeded permutation (T6): same seed ⇒ identical order across runs;
    different seed ⇒ different order (the replication-index semantics)."""
    df = _class_df(spark, {0: 50})
    o1 = [r.id for r in df.orderBy(seeded_order("id", seed=7), "id").collect()]
    o2 = [r.id for r in df.orderBy(seeded_order("id", seed=7), "id").collect()]
    o3 = [r.id for r in df.orderBy(seeded_order("id", seed=8), "id").collect()]
    assert o1 == o2
    assert o1 != o3
    assert sorted(o1) == list(range(50))
