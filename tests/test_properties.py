"""Hypothesis property tests for the pure-Python layers (config broadcast,
split sizing, fold boundaries, grid shape).

These run WITHOUT Spark: the split/fold arithmetic is mirrored in plain
Python exactly as the window expressions compute it, and checked against
the reference's NumPy semantics (``/root/reference/DFW/preprocess.py``)
over randomized inputs — the properties SURVEY.md §5.4 calls for, at far
more points than the golden vectors cover.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from dataframework_spark.config import ConfigError, match_and_fill, tolist

# ---------------------------------------------------------------------------
# mirrors of the engine's SQL arithmetic (kept in lockstep with
# ml_prep._train_size_expr and ml_prep.assign_folds)
# ---------------------------------------------------------------------------


def train_size(n: int, setting, cv: int) -> int:
    if setting == -1:
        return n
    if isinstance(setting, float) and 0 < setting < 1:
        ts = int(round(n * setting + 1e-12))  # round-half-up like both engines
        return min(n, cv) if ts < cv else ts
    ts = min(int(setting), n)
    return min(cv, n) if ts < cv else ts


def fold_of(rn: int, train_size_: int, cv: int) -> int:
    return (rn * cv - 1) // train_size_


# ---------------------------------------------------------------------------
# T1: split sizing
# ---------------------------------------------------------------------------


@given(
    n=st.integers(1, 10_000),
    cv=st.integers(1, 20),
    frac=st.floats(0.01, 0.99),
)
@settings(max_examples=300, deadline=None)
def test_fraction_split_bounds(n, cv, frac):
    ts = train_size(n, frac, cv)
    assert 1 <= ts <= n or (ts == min(n, cv))
    # clamp rule: never below min(cv, n) (reference preprocess.py:162-173)
    assert ts >= min(cv, n)


@given(n=st.integers(1, 10_000), cv=st.integers(1, 20), t=st.integers(1, 20_000))
@settings(max_examples=300, deadline=None)
def test_int_split_clamps(n, cv, t):
    ts = train_size(n, t, cv)
    assert ts <= n and ts >= min(cv, n)


# ---------------------------------------------------------------------------
# T3: linspace folds — engine integer form ≡ reference floor(linspace)
# ---------------------------------------------------------------------------


@given(n=st.integers(1, 5_000), cv=st.integers(1, 20))
@settings(max_examples=300, deadline=None)
def test_fold_assignment_matches_linspace(n, cv):
    if n < cv:
        return  # rotation regime (T2), covered by its own golden test
    # reference boundaries: floor(linspace(0, n, cv+1)); fold of 0-based
    # idx = the segment containing it (preprocess.py:185-191)
    bounds = [math.floor(i * n / cv) for i in range(cv + 1)]
    for rn in range(1, n + 1):
        f = fold_of(rn, n, cv)
        idx = rn - 1
        ref_fold = next(j for j in range(cv) if bounds[j] <= idx < bounds[j + 1])
        assert f == ref_fold, (n, cv, rn, f, ref_fold)


@given(n=st.integers(1, 5_000), cv=st.integers(1, 20))
@settings(max_examples=200, deadline=None)
def test_folds_partition_and_are_contiguous(n, cv):
    if n < cv:
        return
    folds = [fold_of(rn, n, cv) for rn in range(1, n + 1)]
    assert set(folds) == set(range(cv))  # every fold non-empty, none extra
    assert folds == sorted(folds)  # contiguous segments


# ---------------------------------------------------------------------------
# C4: broadcast semantics
# ---------------------------------------------------------------------------

names_strategy = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=6, unique=True
)


@given(names=names_strategy, value=st.one_of(st.integers(), st.booleans(), st.floats(allow_nan=False)))
@settings(max_examples=200, deadline=None)
def test_scalar_broadcast_total(names, value):
    out = match_and_fill(value, names)
    assert set(out) == set(names) and all(v == value for v in out.values())


@given(names=names_strategy, data=st.data())
@settings(max_examples=200, deadline=None)
def test_positional_broadcast_requires_exact_length(names, data):
    values = data.draw(st.lists(st.integers(), min_size=1, max_size=8))
    if len(values) == len(names):
        assert match_and_fill(values, names) == dict(zip(names, values))
    elif len(values) == 1:
        # reference preprocess.py:460-464: singleton lists broadcast
        assert match_and_fill(values, names) == {n: values[0] for n in names}
    else:
        try:
            match_and_fill(values, names, "k")
            raised = False
        except ConfigError:
            raised = True
        assert raised


@given(names=names_strategy, default=st.integers(), data=st.data())
@settings(max_examples=200, deadline=None)
def test_dict_broadcast_default_fills_gaps(names, default, data):
    subset = data.draw(st.sets(st.sampled_from(names)))
    value = {n: 1 for n in subset}
    value["default"] = default
    out = match_and_fill(value, names)
    for n in names:
        assert out[n] == (1 if n in subset else default)


@given(x=st.one_of(st.integers(), st.text(), st.lists(st.integers()), st.tuples(st.integers())))
@settings(max_examples=100, deadline=None)
def test_tolist_always_list(x):
    out = tolist(x)
    assert isinstance(out, list)
    if isinstance(x, (list, tuple)):
        assert out == list(x)
    else:
        assert out == [x]


def test_skewness_kurtosis_population_moments(spark):
    # agg_stats_corr's oracle deliberately omits skewness/kurtosis: Spark
    # uses population moments while DuckDB bias-corrects.  Pin Spark's
    # definitions here against hand-computed central moments.
    import math

    from pyspark.sql import functions as F

    vals = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals) / n
    m3 = sum((v - mean) ** 3 for v in vals) / n
    m4 = sum((v - mean) ** 4 for v in vals) / n
    expected_skew = m3 / m2 ** 1.5
    expected_kurt = m4 / m2 ** 2 - 3.0

    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    row = df.agg(
        F.skewness("x").alias("s"), F.kurtosis("x").alias("k")
    ).collect()[0]
    assert math.isclose(row["s"], expected_skew, rel_tol=1e-9)
    assert math.isclose(row["k"], expected_kurt, rel_tol=1e-9)


def test_operators_handle_empty_input(spark):
    # Library operators must not blow up on empty partitions/inputs —
    # at scale, post-filter-empty partitions are routine.
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType
    )

    from dataframework_spark.operators.ml_prep import (
        assign_folds, center, train_test_split
    )
    from dataframework_spark.operators.temporal import asof_join

    schema = StructType([
        StructField("label", LongType()),
        StructField("vec_id", LongType()),
        StructField("x", DoubleType()),
    ])
    empty = spark.createDataFrame([], schema)
    split = train_test_split(empty, "label", ["vec_id"], 0.7, 5)
    assert split.count() == 0
    assert assign_folds(split, 5).count() == 0
    assert center(split, ["x"]).count() == 0

    ts_schema = StructType([
        StructField("k", LongType()),
        StructField("ts", TimestampType()),
        StructField("v", DoubleType()),
    ])
    left = spark.createDataFrame([], ts_schema)
    right = spark.createDataFrame([], ts_schema)
    assert asof_join(left, right, on="k").count() == 0


def test_power_iteration_matches_numpy(spark):
    # Planted dominant direction: x = t·u + small noise.  With a real
    # spectral gap, 12 iterations must recover u almost exactly.
    import numpy as np

    from dataframework_spark.operators.ml_prep import power_iteration_pc1

    rng = np.random.default_rng(7)
    d, n = 16, 400
    u = rng.normal(size=d)
    u /= np.linalg.norm(u)
    X = rng.normal(size=(n, 1)) * 5.0 @ u[None, :] + 0.1 * rng.normal(size=(n, d))
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "embedding: array<double>"
    )
    v = np.array(power_iteration_pc1(df, iters=12))
    cos = abs(float(v @ u))
    assert cos > 0.99, cos


def test_power_iteration_rayleigh_on_flat_spectrum(spark, sf_dir):
    # The synthetic embeddings are near-isotropic (λ2/λ1 ≈ 0.99), so no
    # method can pin the *direction* quickly; what matters is that the
    # found vector captures (almost) maximal variance.  Assert the
    # Rayleigh quotient reaches 95% of the true top eigenvalue.
    import numpy as np

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.ml_prep import power_iteration_pc1

    emb = load_table(spark, sf_dir, "embeddings", columns=["embedding"])
    v = np.array(power_iteration_pc1(emb, iters=12))

    X = np.array(emb.toPandas()["embedding"].tolist(), dtype=np.float64)
    Xc = X - X.mean(axis=0)
    S = Xc.T @ Xc
    lam1 = np.linalg.eigvalsh(S)[-1]
    rq = float(v @ S @ v) / float(v @ v)
    assert rq > 0.95 * lam1, (rq, lam1)


def test_recursive_and_window_streaks_agree(spark, sf_dir):
    # same semantics, two physical shapes: the recursive CTE and the
    # gap-and-islands window must produce identical per-user streaks over
    # the same slice (the recursive form caps observation at Jan 14 to
    # bound fixpoint depth — apply the same cap to the window form here).
    import pyspark.sql.functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.relational import sql_recursive_streaks

    a = {r["user_id"]: r["longest_streak"] for r in sql_recursive_streaks(spark, sf_dir).collect()}
    d = (
        load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
        .select("user_id", F.to_date("ts").alias("day"))
        .where(F.col("day") < F.lit("2024-01-15").cast("date"))
        .distinct()
    )
    from pyspark.sql import Window

    isl = d.withColumn(
        "island",
        F.datediff(
            F.col("day"),
            F.lit("2024-01-01").cast("date"),
        )
        - F.row_number().over(Window.partitionBy("user_id").orderBy("day")),
    )
    b = {
        r["user_id"]: r["longest_streak"]
        for r in isl.groupBy("user_id", "island")
        .count()
        .groupBy("user_id")
        .agg(F.max("count").alias("longest_streak"))
        .collect()
    }
    assert a == b and len(a) > 0


def test_hll_rollup_accuracy(spark, sf_dir):
    # the mergeable-sketch rollup must land within 5% of the exact
    # distinct count it approximates (and the union path must not lose or
    # double-count days' sketches).  Since r3 the query carries its own
    # accuracy assertion (`sketch_within_5pct`, which is what the oracle
    # hash checks); this test additionally pins the exact side against an
    # independent recomputation.
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.relational import agg_hll_rollup

    rows = agg_hll_rollup(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["sketch_within_5pct"] for r in rows), rows
    got = {r["event_type"]: r["exact_users"] for r in rows}
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events", columns=["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_bpe_merges_match_reference_impl(spark, sf_dir):
    # golden check: the distributed BPE learner must reproduce the merge
    # sequence of a straightforward single-machine BPE (Sennrich 2016)
    # over the same word-frequency table.
    import duckdb

    from dataframework_spark.operators.corpus import _BPE_ROUNDS, text_bpe_merges

    con = duckdb.connect()
    freqs = con.sql(
        rf"""
        SELECT tok, COUNT(*) AS f
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM '{sf_dir}/documents.parquet')
        GROUP BY 1
        """
    ).fetchall()
    vocab = {tuple(w): f for w, f in freqs}

    expected = []
    for _ in range(_BPE_ROUNDS):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((l, r, l + r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab

    got = [
        (row.left, row.right, row.merged, row.pair_count)
        for row in text_bpe_merges(spark, sf_dir).orderBy("round").collect()
    ]
    assert got == expected and len(got) == _BPE_ROUNDS


def test_recursive_streaks_restores_recursion_limit(spark, sf_dir):
    # ADVICE r4: the raised cteRecursionRowLimit must not leak into the
    # shared session — later queries keep the runaway-recursion valve.
    from dataframework_spark.operators.relational import sql_recursive_streaks

    key = "spark.sql.cteRecursionRowLimit"
    spark.conf.set(key, "123456")
    try:
        df = sql_recursive_streaks(spark, sf_dir)
        assert spark.conf.get(key) == "123456"
        # the returned frame is already materialised (localCheckpoint), so
        # it stays collectable after the limit is restored
        assert df.count() > 0
        assert spark.conf.get(key) == "123456"
    finally:
        spark.conf.unset(key)


def test_leakage_safe_split_invariants(spark, sf_dir):
    """The grouped split must account for every document exactly once,
    the naive-leakage bill can only come from multi-doc clusters, and a
    cluster's documents must all land in the SAME split (the operator's
    whole point) — checked by recomputing the per-doc assignment
    independently of the summary aggregate."""
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.dedup import dedup_clusters
    from dataframework_spark.operators.ml_prep import ml_leakage_safe_split

    rows = {r["split"]: r for r in ml_leakage_safe_split(spark, sf_dir).collect()}
    assert set(rows) <= {"train", "test"} and "train" in rows
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == n_docs_total
    assert sum(r["n_clusters"] for r in rows.values()) <= n_docs_total
    for r in rows.values():
        assert r["n_leaky_clusters_naive"] <= r["n_multi_doc_clusters"] <= r["n_clusters"]
    # cluster coherence: within every near-dup cluster, exactly one
    # grouped-split assignment (hash of the shared cluster id)
    comp = dedup_clusters(spark, sf_dir)
    from dataframework_spark.operators.ml_prep import (
        _LS_BUCKETS,
        _LS_SEED,
        _LS_TRAIN_BUCKETS,
        seeded_order,
    )

    bucket = seeded_order("cluster_id", seed=_LS_SEED) % _LS_BUCKETS
    per_cluster = (
        comp.select("cluster_id", (bucket < _LS_TRAIN_BUCKETS).alias("is_train"))
        .groupBy("cluster_id")
        .agg(F.count_distinct("is_train").alias("n_assignments"))
    )
    assert per_cluster.where(F.col("n_assignments") != 1).count() == 0


def test_sobel_energy_is_gradient_constant_off_wrap_seams():
    """The synthesized image is the pure linear ramp doc_id + 3x + 7y
    (mod 256) in every channel, so away from mod-256 wrap seams the
    Sobel response must be the analytic constant |Gx| + |Gy| =
    8*3 + 8*7 = 80 — an independent check of the whole
    decode -> grayscale -> stencil pipeline (the oracle recomputes the
    same stencil; this pins the stencil itself to the calculus)."""
    import numpy as np

    from dataframework_spark.operators.multimodal import _bmp_pixels, synth_bmp

    for doc_id in (0, 107, 333):
        px = _bmp_pixels(synth_bmp(doc_id)).astype("int64")
        g = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
        h, w = g.shape
        # a 3x3 neighborhood is seam-free when the underlying ramp value
        # p = doc_id + 3x + 7y stays inside one 256-window for all three
        # channel offsets (+0, +11, +22) across the whole neighborhood
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        p = doc_id + 3 * xs + 7 * ys
        lo, hi = p - 3 - 7, p + 3 + 7  # neighborhood p-range
        seam_free = (lo // 256) == ((hi + 22) // 256)
        gx = (g[:-2, 2:] + 2 * g[1:-1, 2:] + g[2:, 2:]) - (
            g[:-2, :-2] + 2 * g[1:-1, :-2] + g[2:, :-2]
        )
        gy = (g[2:, :-2] + 2 * g[2:, 1:-1] + g[2:, 2:]) - (
            g[:-2, :-2] + 2 * g[:-2, 1:-1] + g[:-2, 2:]
        )
        e = np.abs(gx) + np.abs(gy)
        mask = seam_free[1:-1, 1:-1]
        assert mask.sum() > 10, f"doc {doc_id}: degenerate seam-free set"
        vals = set(np.unique(e[mask]).tolist())
        # grayscale floor-of-3 jitter moves individual samples by <=1, so
        # the stencil constant may wobble by a few units around 80
        assert vals and all(abs(v - 80) <= 6 for v in vals), (doc_id, vals)
