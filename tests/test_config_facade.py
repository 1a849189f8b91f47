"""Config-layer + facade tests (reference C1-C11, S3-S6, P1-P5 semantics).

Golden behaviors come from /root/reference/DFW/preprocess.py:212-242,
319-372, 435-466 and tools.py:30-131 (broadcast rules, validation,
template decode); the facade end-to-end uses the embeddings table as the
long-format per-class fixture.
"""

from __future__ import annotations

import warnings

import pytest

from dataframework_spark.config import (
    ConfigError,
    adapt_train_item,
    check_item_type,
    decode_load_config,
    decode_path_template,
    decode_process_config,
    match_and_fill,
    normalize_format_item,
    remove_dict_items,
    set_default_config,
    tolist,
)
from dataframework_spark.facade import ParamGrid, PreProcessEngine

# ---------------------------------------------------------------------------
# broadcast semantics (C4)
# ---------------------------------------------------------------------------


def test_match_and_fill_scalar_broadcasts():
    assert match_and_fill(5, ["a", "b"]) == {"a": 5, "b": 5}


def test_match_and_fill_list_positional():
    assert match_and_fill([1, 2], ["a", "b"]) == {"a": 1, "b": 2}


def test_match_and_fill_singleton_list_broadcasts():
    # reference preprocess.py:460-464: len-1 lists broadcast their element,
    # deep-copied so databases never alias one mutable value
    out = match_and_fill([{"k": 1}], ["a", "b"])
    assert out == {"a": {"k": 1}, "b": {"k": 1}}
    out["a"]["k"] = 99
    assert out["b"]["k"] == 1


def test_match_and_fill_tuple_is_one_broadcast_value():
    # reference preprocess.py:438-439: tuple wraps as [item] — ONE value
    # (e.g. multiple train settings per db), never split positionally
    assert match_and_fill((0.5, 100), ["a", "b"]) == {"a": (0.5, 100), "b": (0.5, 100)}


def test_match_and_fill_list_length_mismatch():
    # len must be 1 (broadcast) or the db count (positional) — nothing else
    with pytest.raises(ConfigError, match="length"):
        match_and_fill([1, 2, 3], ["a", "b"], "cv")


def test_match_and_fill_dict_with_default():
    assert match_and_fill({"a": 1, "default": 9}, ["a", "b"]) == {"a": 1, "b": 9}


def test_match_and_fill_dict_missing_no_default():
    with pytest.raises(ConfigError, match="fallback"):
        match_and_fill({"a": 1}, ["a", "b"], "train")


def test_match_and_fill_unknown_name_warns():
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        match_and_fill({"a": 1, "zzz": 2, "default": 0}, ["a", "b"], "cv")
    assert any("zzz" in str(x.message) for x in w)


# ---------------------------------------------------------------------------
# validation / helpers (C7, C8, C9, P5, S5, S6, C6)
# ---------------------------------------------------------------------------


def test_set_default_config_merges_without_mutation():
    base, defaults = {"a": 1}, {"a": 0, "b": 2}
    merged = set_default_config(base, defaults)
    assert merged == {"a": 1, "b": 2} and base == {"a": 1} and defaults["a"] == 0


def test_check_item_type_outer_and_elements():
    spec = {"range": ((list, tuple), (int,))}
    check_item_type("range", [1, 2], spec)
    with pytest.raises(ConfigError):
        check_item_type("range", "nope", spec)
    with pytest.raises(ConfigError):
        check_item_type("range", [1, "x"], spec)


def test_tolist_and_remove_dict_items():
    assert tolist("x") == ["x"] and tolist(["x", "y"]) == ["x", "y"] and tolist(3) == [3]
    assert remove_dict_items({"a": 1, "b": 2}, ["a"]) == {"b": 2}


def test_path_template_decode_and_unresolved():
    assert decode_path_template("done_{name}.parquet", {"name": "emb"}) == "done_emb.parquet"
    with pytest.raises(ConfigError, match="no value"):
        decode_path_template("{missing}.parquet", {})


def test_normalize_format_item_case_insensitive():
    assert normalize_format_item("x.PARQUET") == "x.parquet"
    assert normalize_format_item("x") == "x.parquet"


def test_adapt_train_item_rules():
    assert adapt_train_item(-1) == (-1,)
    assert adapt_train_item([0.7, 3]) == (0.7, 3)
    for bad in (0, -2, 1.5, True):
        with pytest.raises(ConfigError):
            adapt_train_item(bad)


# ---------------------------------------------------------------------------
# load/process config decode (C2, C3)
# ---------------------------------------------------------------------------


def test_decode_load_config_full(sf_dir):
    spec = decode_load_config(
        {
            "name": ["embeddings"],
            "name_map": {"embeddings": "embeddings"},
            "root": sf_dir,
            "range": [1, 5],
        }
    )["embeddings"]
    assert spec["path"] == f"{sf_dir}/embeddings.parquet"
    assert spec["range"] == [1, 5] and spec["labeled"] is False


def test_decode_load_config_requires_name():
    with pytest.raises(ConfigError, match="name"):
        decode_load_config({"root": "/x"})


def test_decode_load_config_flat_range_broadcasts():
    specs = decode_load_config({"name": ["a", "b"], "range": [2, 3]})
    assert specs["a"]["range"] == [2, 3] and specs["b"]["range"] == [2, 3]


def test_decode_process_config_broadcast_dict():
    out = decode_process_config(
        {"cv": {"a": 3, "default": 5}, "train": 0.7, "extend": True}, ["a", "b"]
    )
    assert out["a"]["cv"] == 3 and out["b"]["cv"] == 5
    assert out["a"]["train"] == (0.7,) and out["b"]["extend"] is True


# ---------------------------------------------------------------------------
# facade end-to-end (C1, M1, M6, C5, A2)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return PreProcessEngine(
        spark,
        {
            "database": {"name": "embeddings", "root": sf_dir},
            "process": {"cv": 5, "train": 0.7, "extend": True, "center": True},
        },
    )


def test_facade_generator_split_semantics(engine):
    train, test = engine.generator()
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0
    # per-class: train = round(n * 0.7) (T1 fraction rule)
    import pyspark.sql.functions as F

    per_class = (
        train.groupBy("label").count().withColumnRenamed("count", "tr")
        .join(test.groupBy("label").count().withColumnRenamed("count", "te"), "label")
        .collect()
    )
    for r in per_class:
        n = r.tr + r.te
        assert r.tr == round(n * 0.7 + 1e-9)  # round-half-up both engines


def test_facade_generator_extend_and_center(engine):
    train, _ = engine.generator()
    row = train.limit(1).collect()[0]
    assert row.bias == 1.0 and len(row.embedding) == 65  # 64 + bias
    import pyspark.sql.functions as F

    # reference preprocess.py:76-79 — EVERY dimension of the train matrix is
    # mean-zero after center=True, not just the first (ADVICE r1)
    dim_means = (
        train.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    assert len(dim_means) == 65
    for r in dim_means:
        assert abs(r.m) < 1e-2, f"dim {r.pos} mean {r.m} not centered"


def test_facade_replication_changes_split(engine):
    t0, _ = engine.generator(no=0)
    t1, _ = engine.generator(no=1)
    ids0 = {r.vec_id for r in t0.select("vec_id").collect()}
    ids1 = {r.vec_id for r in t1.select("vec_id").collect()}
    assert ids0 != ids1 and len(ids0) == len(ids1)  # same sizes, new permutation


def test_facade_cv_slices_disjoint(engine):
    cv_train, cv_test = engine.get_cv_data(0)
    tr = {r.vec_id for r in cv_train.select("vec_id").collect()}
    te = {r.vec_id for r in cv_test.select("vec_id").collect()}
    assert tr and te and not (tr & te)


def test_facade_cv_fold_out_of_range_raises(engine):
    # like ParamGrid.row: an index outside range(cv) is an error, not two
    # empty slices
    for fold in (-1, 5, 99):
        with pytest.raises(IndexError):
            engine.get_cv_data(fold)


def test_facade_cv_folds_centered_by_fold_train_means(engine):
    """Every fold of the cached all-folds table: membership follows the
    linspace rule on the seed-0 permutation, the fold-train slice is
    mean-zero per dimension, and each fold-test vector is the raw vector
    minus that fold's train means rounded to 6 digits."""
    import hashlib

    import numpy as np

    cv = 5
    raw = {
        r.vec_id: (r.label, np.asarray(r.embedding, dtype=np.float64))
        for r in engine.database("embeddings").collect()
    }
    by_label: dict[int, list[int]] = {}
    for key, (label, _) in raw.items():
        by_label.setdefault(label, []).append(key)
    want_fold = {}  # train key -> the fold whose test slice holds it
    for keys in by_label.values():
        keys.sort(key=lambda k: (int(hashlib.md5(f"0:{k}".encode()).hexdigest()[:15], 16), k))
        train_size = max(int(len(keys) * 0.7 + 0.5), min(cv, len(keys)))
        for rank, key in enumerate(keys[:train_size], start=1):
            want_fold[key] = (rank * cv - 1) // train_size
    for fold in range(cv):
        cv_train, cv_test = engine.get_cv_data(fold)
        tr = {r.vec_id: np.asarray(r.embedding) for r in cv_train.collect()}
        te = {r.vec_id: np.asarray(r.embedding) for r in cv_test.collect()}
        assert set(te) == {k for k, f in want_fold.items() if f == fold}
        assert set(tr) == {k for k, f in want_fold.items() if f != fold}
        assert np.abs(np.mean(list(tr.values()), axis=0)).max() < 1e-6
        means = np.round(np.mean([raw[k][1] for k in tr], axis=0), 6)
        for key, vec in te.items():
            np.testing.assert_allclose(vec, raw[key][1] - means, rtol=0, atol=1e-9)


def test_facade_train_setter_replans_cv_table(spark, sf_dir):
    import pyspark.sql.functions as F

    eng = PreProcessEngine(
        spark,
        {
            "database": {"name": "embeddings", "root": sf_dir},
            "process": {"cv": 5, "train": 0.7, "center": True},
        },
    )
    cv_train, cv_test = eng.get_cv_data(0)
    assert cv_train.count() > 0  # materializes the cached table
    eng.train = 10
    cv_train, cv_test = eng.get_cv_data(0)
    both = cv_train.select("vec_id", "label").union(cv_test.select("vec_id", "label"))
    per_class = both.groupBy("label").agg(
        F.count("*").alias("n"), F.countDistinct("vec_id").alias("keys")
    ).collect()
    assert len(per_class) == 10
    assert all(r.n == r.keys == 10 for r in per_class)


def test_facade_builders_launch_no_jobs(spark, sf_dir):
    """Lazy builders: once the session has read the table, the engine's
    scans, ``generator()`` and ``get_cv_data()`` only plan — the CV table
    is a lazy ``.cache()``, not an eager materialization.  Jobs are
    counted under a job group."""
    from dataframework_spark.catalog import load_table

    load_table(spark, sf_dir, "embeddings")  # the one warm read
    sc, group = spark.sparkContext, "dfx-lazy-facade-builders"
    sc.setJobGroup(group, "lazy builder probe")
    try:
        eng = PreProcessEngine(
            spark,
            {
                "database": {"name": "embeddings", "root": sf_dir},
                "process": {"cv": 5, "train": 0.7, "extend": True, "center": True},
            },
        )
        eng.generator()
        eng.get_cv_data(0)
        eng.get_cv_data(4)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        eng.get_cv_data(1)[1].count()  # control: an action is counted
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_facade_train_setter_replans(spark, sf_dir):
    eng = PreProcessEngine(
        spark, {"database": {"name": "embeddings", "root": sf_dir}, "process": {"train": -1}}
    )
    _, test_all = eng.generator()
    assert test_all.count() == 0  # train=-1 → everything is train
    eng.train = 10
    train, _ = eng.generator()
    per_class = train.groupBy("label").count().collect()
    assert all(r["count"] == 10 for r in per_class)


def test_facade_class_num(engine):
    assert engine.class_num("embeddings") == 10


def test_facade_labeled_strips_trailing_feature(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr("concat(cast(embedding as array<double>), array(cast(label as double)))").alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "labeled.parquet")
    src.write.mode("overwrite").parquet(path)
    eng = PreProcessEngine(
        spark,
        {"database": {"name": "labeled", "root": str(tmp_path), "labeled": True}},
    )
    df = eng.database("labeled")
    row = df.limit(1).collect()[0]
    assert len(row.embedding) == 64 and isinstance(row.label, int)
    orig = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert df.count() == orig.count()
    # labels reconstructed exactly
    j = df.alias("d").join(orig.alias("o"), "vec_id")
    assert j.where("d.label <> o.label").count() == 0


# ---------------------------------------------------------------------------
# ParamGrid (G1/G2)
# ---------------------------------------------------------------------------


def test_param_grid_shape_and_rows(spark):
    g = ParamGrid(spark, {"lr": [0.1, 0.01], "reg": [1, 2, 3]})
    assert len(g) == 6 and g.k == 2
    assert g.row(0) == {"lr": 0.1, "reg": 1}
    assert g.row(1) == {"lr": 0.1, "reg": 2}
    assert g.row(3) == {"lr": 0.01, "reg": 1}  # first param varies slowest
    assert g.row(5) == {"lr": 0.01, "reg": 3}
    with pytest.raises(IndexError):
        g.row(6)
    assert g.group([1]).columns == ["reg"]
    assert g.df.count() == 6


def test_facade_two_databases_dict_broadcast(spark, sf_dir, tmp_path):
    """Two databases in one engine with dict-broadcast process config:
    per-database cv/train resolution and independent generators
    (reference C4 broadcast driving C1/M1 end-to-end)."""
    import pyspark.sql.functions as F

    # second database = embeddings with shifted labels, different file
    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src.withColumn("label", (F.col("label") + 1) % 10).write.mode("overwrite").parquet(
        str(tmp_path / "emb2.parquet")
    )
    eng = PreProcessEngine(
        spark,
        {
            "database": {
                "name": ["embeddings", "emb2"],
                "root": {"embeddings": sf_dir, "emb2": str(tmp_path)},
            },
            "process": {
                "cv": {"embeddings": 5, "default": 4},
                "train": {"embeddings": 0.7, "emb2": 10},
                "extend": False,
                "center": False,
            },
        },
    )
    assert eng.train == {"embeddings": (0.7,), "emb2": (10,)}
    t1, _ = eng.generator(database="embeddings")
    t2, _ = eng.generator(database="emb2")
    # emb2: int setting -> exactly 10 train rows per class
    counts = t2.groupBy("label").count().collect()
    assert all(r["count"] == 10 for r in counts)
    # embeddings: fraction setting -> ~70% per class
    n1 = t1.count()
    total = eng.database("embeddings").count()
    assert 0.65 < n1 / total < 0.75
