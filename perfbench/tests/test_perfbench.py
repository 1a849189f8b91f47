"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The last test starts a local Spark session (about 15 s).
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import outputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# -- self time ----------------------------------------------------------------


def _span(i, name, parent, start, end):
    return tracing.Span(i, name, parent, "r", start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "build", 0, 1.0, 4.0),
        _span(2, "catalog", 1, 1.5, 2.5),
        _span(3, "catalog", 1, 2.0, 3.0),  # overlaps its sibling: count once
        _span(4, "exec", 0, 5.0, 9.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)
    # self times of a tree with disjoint siblings add up to the root span
    assert sum(st[i] for i in (0, 1, 4)) + 1.5 == pytest.approx(10.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "a", None, 0.0, 2.0), _span(1, "b", 0, 1.0, 5.0)]
    assert tracing.self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nests_spans():
    t = tracing.Tracer("run")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_records_cpu_when_given_a_clock():
    ticks = iter([1.0, 1.5, 2.5, 4.0])
    t = tracing.Tracer("run", cpu_clock=lambda: next(ticks))
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.cpu == pytest.approx(1.0) and outer.cpu == pytest.approx(3.0)
    assert tracing.Tracer("run").spans == []  # no clock: cpu stays 0


# -- process-tree CPU -----------------------------------------------------------


def test_tree_cpu_counts_children_live_and_reaped():
    import subprocess
    import time

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    before = tracing.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.time() + 30
        while tracing.tree_cpu_s() - before < 0.3 and time.time() < deadline:
            time.sleep(0.1)
        assert tracing.tree_cpu_s() - before >= 0.3  # live child
    finally:
        child.kill()
        child.wait()
    mid = tracing.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tracing.tree_cpu_s() - mid >= 0.3  # reaped child, in cutime


# -- percentiles and sample counts --------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tracing.tail_percentile(n) == p


def test_summarize_reports_count_and_supported_percentile():
    assert tracing.summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = tracing.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == 49.5 and s["p90"] == 90.0


def test_skew_is_max_over_median():
    assert tracing.skew([10, 10, 40]) == 4.0
    assert tracing.skew([0, 0, 5]) == 5.0  # 1 ms floor on the median
    assert tracing.skew([]) == 0.0


# -- value hash -----------------------------------------------------------------


def test_value_hash_ignores_row_and_column_order():
    a = outputs.value_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = outputs.value_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != outputs.value_hash(["x", "y"], [(1, "a"), (2, "c")])
    assert outputs.value_hash(["v"], [(-0.0,)]) == outputs.value_hash(["v"], [(0.0,)])


# -- reference flow recomputation -----------------------------------------------


def test_train_size_and_folds_follow_reference_rules():
    assert outputs.train_size(10, 0.7, 5) == 7
    assert outputs.train_size(5, 0.5, 5) == 5  # round(2.5) = 3 < cv: clamp to cv
    assert outputs.train_size(3, 0.5, 5) == 3  # clamp to n when n < cv
    # floor(linspace(0, 7, 6)) = [0, 1, 2, 4, 5, 7]: fold sizes 1, 1, 2, 1, 2
    folds = [outputs.fold_of(r, 7, 5) for r in range(1, 8)]
    assert [folds.count(f) for f in range(5)] == [1, 1, 2, 1, 2]


def test_fold_check_rejects_a_wrong_slice():
    xs = [np.arange(12, dtype=float).reshape(6, 2), np.ones((6, 2))]
    flow = outputs.FlowCheck(xs, key_stride=100, cv=3, fraction=0.5)
    plan = outputs.split_plan(flow.keys, 0, 0.5, 3)
    test = [k for lab, (o, t) in plan.items() for r, k in enumerate(o[:t], 1)
            if outputs.fold_of(r, t, 3) == 0]
    train = [k for lab, (o, t) in plan.items() for k in o[:t] if k not in test]

    def rows(keys):
        return [(k, k // 100, list(flow.features[k])) for k in keys]

    # uncentered fold-train rows fail only the centering check
    problems = flow.check_fold(0, rows(train), rows(test))
    assert problems == ["fold 0: centered fold-train means differ from NumPy"]
    assert "fold 0: train slice differs" in flow.check_fold(0, rows(train[1:]), rows(test))


# -- inputs ---------------------------------------------------------------------


def test_tables_are_a_function_of_the_seed():
    a = datagen.build_tables(0.001, 7)
    b = datagen.build_tables(0.001, 7)
    c = datagen.build_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 50


def test_mat_database_reads_back_through_the_engine(tmp_path):
    from dataframework_spark.sources.matlab import adapt_range, read_mat

    xs, rs = datagen.mat_arrays(3, classes=3, samples=20, dims=4)
    path = str(tmp_path / "db.mat")
    datagen.write_mat_database(path, xs, rs)
    got = adapt_range(read_mat(path), "x", "r")
    assert all(np.array_equal(g, x) for g, x in zip(got["x"], xs))
    assert all(np.array_equal(g[0] + 1, r[0]) for g, r in zip(got["r"], rs))


# -- BENCHMARK.json ---------------------------------------------------------------


def test_benchmark_json_follows_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(workloads.QUERIES)
    metrics = spec["end_to_end"] + spec["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    assert all(name.match(n) for n in all_names)
    assert all(unit.match(m["unit"]) and m["better"] in ("lower", "higher") for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= len(spec["per_layer"]) <= 128 and 1 <= spec["run_seconds"] <= 60


def test_manifest_matches_benchmark_json_and_generator():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "manifest.json")) as f:
        manifest = json.load(f)
    assert list(manifest["per_layer"]) == [m["name"] for m in spec["per_layer"]]
    assert all(manifest["per_layer"][m["name"]]["unit"] == m["unit"] for m in spec["per_layer"])
    assert {k: v["bound"] for k, v in manifest["end_to_end"].items()} == {
        m["name"]: m["bound"] for m in spec["end_to_end"]
    }
    rows = {t: tab.num_rows for t, tab in
            datagen.build_tables(workloads.TABLE_SF, workloads.TABLE_SEED).items()}
    assert manifest["tables"]["rows"] == rows
    for name, wl in manifest["workloads"].items():
        assert wl["queries"] == workloads.QUERIES[name]
        extra = wl.get("mat_database", {}).get("samples", 0)
        assert wl["input_rows"] == sum(rows[t] for t in wl["tables"]) + extra


# -- hash invariance under shuffle partitions (starts Spark) ----------------------


@pytest.fixture(scope="module")
def spark_and_tables(tmp_path_factory):
    import run

    tmp = str(tmp_path_factory.mktemp("bench"))
    run.prepare_env(ROOT, tmp)
    data_dir = run.table_dir(tmp)
    datagen.write_tables(data_dir, workloads.TABLE_SF, workloads.TABLE_SEED)
    spark = run.start_spark(tmp, "perfbench-tests")
    yield spark, data_dir
    run.stop_spark(spark)
    run.remove_scratch(ROOT, data_dir)


@pytest.mark.parametrize(
    "query", ["q1_pricing_summary", "window_topk_per_group", "dedup_contamination"]
)
def test_output_hash_ignores_shuffle_partitions(spark_and_tables, query):
    spark, data_dir = spark_and_tables
    from dataframework_spark.registry import all_queries

    fn = all_queries()[query].fn
    with open(os.path.join(BENCH, "expected.json")) as f:
        want = json.load(f)["queries"][query]["hash"]
    hashes = []
    for parts in ("1", "7"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        hashes.append(outputs.spark_hash(fn(spark, data_dir))[0])
        spark.catalog.clearCache()
    spark.conf.unset("spark.sql.shuffle.partitions")
    assert hashes == [want, want]
