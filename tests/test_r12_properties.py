"""r12 property pins: LSH index compaction + the similarity-index
lifecycle completions (VERDICT r11 #1/#2).

The registered queries hash-prove compacted-serve ≡ rebuild-serve and
bill recall for the persisted similarity index; these tests pin the
mechanics a corpus-scale hash can't isolate, at unit scale:

* compaction is content-preserving and actually pays the file debt
  (sig files → 1, one file per band partition), and serving against the
  compacted index returns verdict-identical rows to the uncompacted one;
* the equality comparator is falsifiable — a dropped row or a mutated
  signature flips it;
* ``n_centroids`` parameterizes the IVF-PQ build (the cells-∝-corpus
  production knob the SIMLIFE probe measures) without disturbing the
  registered 8-cell default.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_BASE = [
    (i, f"alpha{i} bravo{i * 3} charlie{i * 7} delta{i} echo{i} foxtrot{i}")
    for i in range(20)
]


def _built_appended_index(spark, tmp_path):
    from dataframework_spark.operators.dedup import (
        lsh_index_append,
        lsh_index_build,
        minhash_signature_frame,
    )

    idx = str(tmp_path / "idx")
    lsh_index_build(spark, _docs(spark, _BASE), idx)
    extra = [(100 + i, f"golf{i} hotel{i * 5} india{i * 11} juliet{i} kilo{i} lima{i}")
             for i in range(10)]
    sigs = minhash_signature_frame(_docs(spark, extra))
    lsh_index_append(spark, sigs.where(F.col("doc_id") % 2 == 0), idx)
    lsh_index_append(spark, sigs.where(F.col("doc_id") % 2 == 1), idx)
    return idx, extra


def test_lsh_compaction_pays_file_debt_and_preserves_content(spark, tmp_path):
    from dataframework_spark.operators.dedup import LSH_LAYOUT
    from dataframework_spark.sources.index_store import compact, file_counts, read

    idx, _ = _built_appended_index(spark, tmp_path)
    cmp_idx = str(tmp_path / "idx_c")
    paths = {t: os.path.join(idx, t) for t in LSH_LAYOUT}
    cpaths = {t: os.path.join(cmp_idx, t) for t in LSH_LAYOUT}
    assert sum(file_counts(LSH_LAYOUT, idx, "sigs").values()) >= 3  # build + 2 appends
    compact(spark, LSH_LAYOUT, idx, cmp_idx)
    assert sum(file_counts(LSH_LAYOUT, cmp_idx, "sigs").values()) == 1
    bands = read(spark, LSH_LAYOUT, idx, "bands").select("band").distinct().collect()
    for (band,) in bands:
        assert file_counts(LSH_LAYOUT, cmp_idx, "bands").get(band, 0) == 1
    # content multiset-identical, both tables
    a = spark.read.parquet(paths["sigs"])
    b = spark.read.parquet(cpaths["sigs"]).select(a.columns)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    ab = spark.read.parquet(paths["bands"]).select("doc_id", "bk", "band")
    bb = spark.read.parquet(cpaths["bands"]).select("doc_id", "bk", "band")
    assert ab.exceptAll(bb).isEmpty() and bb.exceptAll(ab).isEmpty()


def test_lsh_serve_identical_against_compacted_index(spark, tmp_path):
    from dataframework_spark.operators.dedup import LSH_LAYOUT, lsh_serve
    from dataframework_spark.sources.index_store import compact

    idx, extra = _built_appended_index(spark, tmp_path)
    cmp_idx = str(tmp_path / "idx_c2")
    compact(spark, LSH_LAYOUT, idx, cmp_idx)
    # batch: one base re-crawl, one appended-doc re-crawl, one fresh doc —
    # the appended re-crawl discriminates: it exists only via the appends
    batch = [
        (900, _BASE[3][1]),
        (901, extra[4][1]),
        (902, "mike nov oscar papa quebec romeo sierra tango"),
    ]
    out = {}
    for tag, path in (("orig", idx), ("cmp", cmp_idx)):
        v, _, c = lsh_serve(spark, path, _docs(spark, batch))
        out[tag] = {r["doc_id"]: r["verdict"] for r in v.collect()}
        c.unpersist()
    assert out["orig"] == out["cmp"]
    assert out["cmp"][900] == "dup_of_base"
    assert out["cmp"][901] == "dup_of_base"  # append survived compaction
    assert out["cmp"][902] == "new"


def test_frames_equal_is_falsifiable(spark):
    from dataframework_spark.sources.index_store import frames_equal

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, s string")
    assert frames_equal(a, a)
    dropped = a.where(F.col("id") != 2)
    mutated = a.withColumn("s", F.when(F.col("id") == 2, "z").otherwise(F.col("s")))
    dup = a.unionAll(a.where(F.col("id") == 1))  # multiset: row count matters
    assert not frames_equal(a, dropped)
    assert not frames_equal(a, mutated)
    assert not frames_equal(a, dup)


def test_ivfpq_n_centroids_knob(spark, sf_dir, tmp_path):
    from dataframework_spark.operators.similarity import (
        _TOPK,
        IVFPQ_LAYOUT,
        ivfpq_persist,
        ivfpq_serve,
    )

    base = str(tmp_path / "ivfpq_k16")
    ivfpq_persist(spark, sf_dir, base, n_centroids=16)
    paths = {t: os.path.join(base, t) for t in IVFPQ_LAYOUT}
    assert spark.read.parquet(paths["centroids"]).count() == 16
    cells = spark.read.parquet(paths["codes"]).select("cid").distinct().count()
    assert cells == 16  # every cell non-empty on the gaussian corpus
    served = ivfpq_serve(spark, sf_dir, base)
    rows = served.collect()
    assert len(rows) == 8 * _TOPK
    assert all(0 <= r["cell"] < 16 for r in rows)


def test_sim_index_serve_recall_is_bounded_and_bills_the_topk(spark, sf_dir):
    from dataframework_spark.operators.similarity import (
        _N_QUERIES,
        _TOPK,
        sim_index_serve_recall,
    )

    rows = sim_index_serve_recall(spark, sf_dir).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert 0 <= r["n_hits"] <= _TOPK
        assert abs(r["recall"] - r["n_hits"] / _TOPK) < 1e-9


# ---------------------------------------------------------------------------
# r12 pre-collapse port to the batch pair emitters (VERDICT r11 #5)
# ---------------------------------------------------------------------------

_FLOOD_TXT = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


def _flood_docs(spark, n_copies=40):
    rows = [(i, _FLOOD_TXT) for i in range(n_copies)]
    rows += [(1000, _FLOOD_TXT + " kilo"),  # near-dup of the flood text
             (2000, "mike november oscar papa quebec romeo sierra tango uniform victor")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_flood_emits_star_edges_not_all_pairs(spark):
    from dataframework_spark.operators.dedup import dedup_minhash_lsh

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_lsh(spark, "", docs=_flood_docs(spark)).collect()
    }
    # 39 star edges (keeper 0 ↔ members 1..39), all at exact 1.0
    for m in range(1, 40):
        assert pairs[(0, m)] == 1.0
    # no member-member pair survives
    assert not any(1 <= a < 40 and 1 <= b < 40 for a, b in pairs)
    # the near-dup pairs with the KEEPER only, never with members
    assert (0, 1000) in pairs
    assert not any(b == 1000 and a != 0 for a, b in pairs)
    # the unrelated doc pairs with nothing
    assert not any(2000 in p for p in pairs)


def test_minhash_precollapse_off_keeps_all_pairs_form(spark):
    from dataframework_spark.operators.dedup import dedup_minhash_lsh

    docs = _flood_docs(spark, n_copies=8)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, "", docs=docs, precollapse=False).collect()
    }
    # all C(8,2) member pairs + every copy pairs with the near-dup
    assert {(a, b) for a in range(8) for b in range(a + 1, 8)} <= pairs
    assert {(m, 1000) for m in range(8)} <= pairs


def test_minhash_precollapse_preserves_connectivity(spark):
    """Components over the star-edge pair graph must equal components
    over the all-pairs graph — the property dedup_clusters relies on."""
    from dataframework_spark.operators.dedup import dedup_minhash_lsh

    docs = _flood_docs(spark, n_copies=12)

    def components(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comp = {}
        for n in parent:
            comp.setdefault(find(n), set()).add(n)
        return {frozenset(v) for v in comp.values()}

    star = components(
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, "", docs=docs).collect()
    )
    full = components(
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, "", docs=docs, precollapse=False).collect()
    )
    assert star == full and len(star) > 0


def test_minhash_star_edges_cover_unshingleable_exact_dups(spark):
    """Two identical docs too short to shingle (< 3 tokens) never meet a
    bucket — the digest decides them anyway."""
    from dataframework_spark.operators.dedup import dedup_minhash_lsh

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id bigint, text string"
    )
    rows = dedup_minhash_lsh(spark, "", docs=docs).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_simhash_hamming_flood_emits_star_edges(spark):
    """Collapsed output must be EXACTLY: star edges (keeper, member, 0)
    plus the uncollapsed pair set restricted to representatives — no
    member ever reaches the band join.  (A one-token edit can flip more
    than 3 simhash bits, so whether the near-dup doc pairs with the
    keeper is decided by the uncollapsed reference, not assumed.)"""
    from dataframework_spark.operators.dedup import dedup_simhash_hamming

    docs = _flood_docs(spark, n_copies=20)
    collapsed = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash_hamming(spark, "", docs=docs).collect()
    }
    reps_only = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash_hamming(
            spark, "", docs=docs.where(F.col("doc_id").isin(0, 1000, 2000)),
            precollapse=False,
        ).collect()
    }
    star = {(0, m): 0 for m in range(1, 20)}
    assert collapsed == {**reps_only, **star}
    assert not any(1 <= a < 20 and 1 <= b < 20 for a, b in collapsed)


def test_ivfpq_compaction_pays_file_debt_and_preserves_codes(spark, sf_dir, tmp_path):
    """The embedding-index twin of the LSH compaction pin: two append
    waves leave ≥ 2 code files in touched cells; compaction leaves
    exactly one per cell with the code rows multiset-identical, and a
    serve from the compacted index matches the uncompacted serve."""
    import os

    from dataframework_spark.operators.similarity import (
        IVFPQ_LAYOUT,
        ivfpq_append,
        ivfpq_persist,
        ivfpq_serve,
    )
    from dataframework_spark.sources.index_store import compact, file_counts, frames_equal, read

    delta = F.col("vec_id") % 10 == 9
    base, cmp_base = str(tmp_path / "idx"), str(tmp_path / "idx_c")
    ivfpq_persist(spark, sf_dir, base, predicate=~delta)
    ivfpq_append(spark, sf_dir, base, delta & (F.col("vec_id") % 2 == 0))
    ivfpq_append(spark, sf_dir, base, delta & (F.col("vec_id") % 2 == 1))
    compact(spark, IVFPQ_LAYOUT, base, cmp_base)
    paths = {t: os.path.join(base, t) for t in IVFPQ_LAYOUT}
    cpaths = {t: os.path.join(cmp_base, t) for t in IVFPQ_LAYOUT}
    cells = read(spark, IVFPQ_LAYOUT, base, "codes").select("cid").distinct().collect()
    assert cells
    assert all(
        file_counts(IVFPQ_LAYOUT, cmp_base, "codes").get(c, 0) == 1 for (c,) in cells
    )
    a = spark.read.parquet(paths["codes"]).select("vec_id", "codes")
    b = spark.read.parquet(cpaths["codes"]).select("vec_id", "codes")
    assert frames_equal(a, b)
    orig = {tuple(r) for r in ivfpq_serve(spark, sf_dir, base).collect()}
    comp = {tuple(r) for r in ivfpq_serve(spark, sf_dir, cmp_base).collect()}
    assert orig == comp and len(orig) > 0


# ---------------------------------------------------------------------------
# stream_sim_ingest: search-before-insert invariants (r12, beyond-list)
# ---------------------------------------------------------------------------


def test_stream_sim_ingest_sees_earlier_batches_never_its_own(spark):
    """The streaming ingest's load-bearing claims, checked on the actual
    sf0.001 run: (a) APPEND MATTERS — some neighbors come from earlier
    streamed batches, so the run is distinguishable from serving every
    batch against the static base index; (b) CAUSALITY — no neighbor
    ever comes from the query's own batch or a later one (those rows
    are appended after the serve)."""
    from dataframework_spark.streaming import (
        _SIM_STREAM_BATCHES,
        stream_sim_ingest,
    )

    rows = stream_sim_ingest(spark, "/root/testdata/sf0.001").collect()
    assert rows, "stream produced no served rows"

    def tag(v: int) -> int:
        return (v // 5) % _SIM_STREAM_BATCHES if (v % 5 == 4 and v >= 8) else -1

    cross = [r for r in rows if tag(r.neighbor_id) >= 0]
    assert cross, "no neighbor from any streamed batch — append had no effect"
    bad = [r for r in rows if tag(r.neighbor_id) >= r.batch and tag(r.neighbor_id) >= 0]
    assert not bad, f"neighbor from own/later batch (served before appended): {bad[:3]}"
    # per-query exactness: exactly top-5 ranks, densely numbered
    from collections import Counter

    per_q = Counter(r.query_id for r in rows)
    assert set(per_q.values()) == {5}
