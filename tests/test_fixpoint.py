"""The fixpoint driver for iterative loops (``functions/iterate.py``).

``fixpoint`` owns the lineage cut and the halt test of the connected
components, PageRank, label propagation and k-core loops.  These tests pin
its contract: it stops at the first round that changes nothing and never
runs past its cap, its halt test rides on the round's checkpoint job, an
uncapped run reaches the true fixpoint, and the loops it drives give the
same answer whatever the shuffle partitioning, as do the in-bucket pair
emitters.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dataframework_spark.catalog import DEFAULT_SF_DIR
from dataframework_spark.functions.iterate import fixpoint
from dataframework_spark.registry import all_queries
from tests.oracle_utils import normalized_rows


def _countdown(spark, calls):
    """State ``v = id`` over ids 0..7; each round lowers every ``v`` by one
    down to 0 and keeps the old value in ``prev``.  Round 7 makes the last
    change, so round 8 is the first that changes no row."""
    state = spark.range(8).select("id", F.col("id").alias("v"))

    def step(s):
        calls.append(1)
        return s.select("id", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"), F.col("v").alias("prev"))

    return state, step


@pytest.mark.parametrize("max_rounds, rounds", [(None, 8), (20, 8), (3, 3), (1, 1)])
def test_stops_at_first_unchanged_round_within_cap(spark, max_rounds, rounds):
    calls: list[int] = []
    state, step = _countdown(spark, calls)
    out = fixpoint(state, step, max_rounds, changed=F.col("v") != F.col("prev"))
    assert len(calls) == rounds
    assert {r.id: r.v for r in out.collect()} == {i: max(i - rounds, 0) for i in range(8)}


@pytest.mark.parametrize("changed", [False, True])
def test_halt_test_costs_no_job(spark, changed):
    """A narrow step run for r rounds launches r + 1 jobs: the input's
    checkpoint and one per round, with or without the halt test."""
    calls: list[int] = []
    state, step = _countdown(spark, calls)
    test = F.col("v") != F.col("prev") if changed else None
    sc, group = spark.sparkContext, f"dfx-fixpoint:{changed}"
    sc.setJobGroup(group, "fixpoint job census")
    try:
        fixpoint(state, step, 5, test)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(calls) == 5
    assert jobs == 5 + 1


def test_connected_components_runs_past_any_round_cap(spark):
    """A 30-node path has diameter 29, past the old 20-round cap; with a
    disjoint triangle it must come back as exactly two clusters, each
    keyed by its minimum id."""
    from dataframework_spark.operators.dedup import connected_components

    path = [(i, i + 1) for i in range(100, 129)]
    triangle = [(7, 9), (9, 8), (7, 8)]
    edges = spark.createDataFrame(path + triangle, "a bigint, b bigint")
    roots = {r.node: r.root for r in connected_components(edges).collect()}
    assert roots == {**{n: 100 for n in range(100, 130)}, 7: 7, 8: 7, 9: 7}


_ITERATIVE = ["dedup_clusters", "graph_label_propagation", "graph_kcore", "graph_pagerank_nations"]
# emitters that expand in-bucket i<j pairs (``ordered_pairs``) or keep one
# doc per exact text
_PAIR_EMITTERS = [
    "dedup_minhash_lsh",
    "dedup_simhash_hamming",
    "dedup_lsh_eval",
    "join_basket_affinity",
]


def _value_hash(df) -> str:
    rows = normalized_rows(df.columns, [tuple(r) for r in df.collect()])
    return hashlib.sha256(repr((sorted(df.columns), rows)).encode()).hexdigest()


@pytest.mark.parametrize("name", _ITERATIVE + _PAIR_EMITTERS)
def test_result_invariant_under_shuffle_partitions(spark, name):
    """Each query's order-insensitive value hash at sf0.001 is the same at
    1, 7 and 32 shuffle partitions."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    hashes = {}
    try:
        for n in (1, 7, 32):
            spark.conf.set(key, str(n))
            hashes[n] = _value_hash(all_queries()[name].fn(spark, DEFAULT_SF_DIR))
    finally:
        spark.conf.set(key, prior)
    assert len(set(hashes.values())) == 1, hashes
