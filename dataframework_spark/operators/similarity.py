"""Similarity search over the ``embeddings`` table (SURVEY.md §2.10).

No reference counterpart (Alrash/DataFramework stores dense matrices but
never compares rows — SURVEY.md §2.9).  Three tiers, mirroring how an ANN
service is actually built:

* ``sim_cosine_topk``   — brute-force exact top-k: the correctness anchor.
* ``sim_lsh_topk``      — random-hyperplane LSH buckets, search within
  bucket: the sub-linear candidate path.
* ``sim_ivf_topk``      — IVF-style coarse quantization (assign to nearest
  centroid, search own cell): the partition-pruned path.

Scale design: all vector math is double-precision ``zip_with``/
``aggregate`` expressions inside whole-stage codegen — no UDFs, no
``collect``.  Query sets are broadcast against the corpus, so the corpus
side never shuffles for the join; ranking keys are *rounded* cosines with
id tiebreaks so both engines produce identical top-k sets (float-noise-
proof ordering, SURVEY.md §7).

At 1000 executors: brute-force is a broadcast-nested-loop over a
partitioned corpus (linear scan, embarrassingly parallel); LSH/IVF first
restrict to one bucket/cell — i.e. a partition-pruning join key — which is
the standard way to make ANN shuffle-free when the corpus is bucketed by
cell id at write time.

Product quantization (flat PQ and IVF-PQ) runs on one quantizer core:
``_sq_l2`` (the squared-L2 fold), ``_assign`` (coarse cell + residual,
rejecting NULL or wrong-size vectors), ``_codebook`` (the md5-ordered
codeword sample), ``_sub_d2``/``_encode`` (subspace distances and their
argmin codes) and ``_adc`` (asymmetric distance).  The IVF-PQ build
(``_ivfpq_index``), the persisted-index serve and the frozen-quantizer
append all call it, with ``_load_quantizer`` reading the persisted
centroids and codebook back, so build, serve and append share one
quantizer by construction.  The DuckDB twins share
``_duck_ivfpq_index`` (the ``v … coded`` CTE chain) and ``_duck_adc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.arrays import (
    as_double,
    cosine_prenorm_sql,
    cosine_sql,
    dot_sql,
    duck_cosine_sql,
    duck_dot_sql,
    norm_sql,
)
from dataframework_spark.registry import register
from dataframework_spark.sources import index_store

_DIM = 64
_TOPK = 5
_N_QUERIES = 8  # queries = vec_id < 8


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]).select(
        "vec_id", as_double("embedding").alias("v")
    )


# ---------------------------------------------------------------------------
# Tier 1 — brute-force exact top-k
# ---------------------------------------------------------------------------


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for each query vector (vec_id < 8).

    The query set is broadcast; the corpus is scanned once per partition
    (no corpus shuffle).  Ranking key = (cosine rounded to 4 dp, id) —
    deterministic across engines.  This is the recall-1.0 baseline the
    LSH/IVF tiers are measured against."""
    e = _corpus(spark, sf_dir)
    # r12 opt (guide §1.2 per-task work): hoist the norms out of the pair
    # loop — ||v|| is computed once per corpus row and ||q|| once per query
    # row instead of once per (query, corpus) PAIR.  The pair expression
    # keeps the identical IEEE shape dot/(nq*nv), so every cosine is
    # bit-equal to the un-hoisted form (same ops, same order) and the
    # rounded ranking keys cannot move.
    norm = "sqrt(aggregate({0}, 0D, (acc, v) -> acc + v * v))"
    ev = e.withColumn("nv", F.expr(norm.format("v")))
    q = ev.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    scored = (
        F.broadcast(q)
        .join(ev, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.expr(f"({dot_sql('qv', 'v')}) / (nq * nv)"), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= _TOPK)


# ---------------------------------------------------------------------------
# Tier 2 — random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

_N_PLANES = 8


def _plane_coef(p: int, i: int) -> int:
    # deterministic integer "random" hyperplanes, identical in both dialects
    # (the coefs are baked as literals into the generated SQL, so any
    # deterministic Python formula is automatically cross-engine-exact)
    if p < _N_PLANES:
        # the registered 8-plane bucket function — NEVER change: every
        # sim_*/dedup_semdedup oracle hashes these buckets
        return ((1 + p * 131 + i * 31) % 13) - 6
    # extended planes for the k-grows-with-n knob (dedup_semdedup
    # n_planes > 8): the affine formula above is linear in (p, i) mod 13,
    # so its planes for different p are SHIFTS of one pattern — nearly
    # parallel, adding almost no splitting power (measured: 18 "planes"
    # gave only ~8k occupied buckets over 2M vectors).  A multiplicative
    # integer mix decorrelates them (same corpus: ~207k buckets, mean
    # occupancy 9.7, in-bucket pairs down 85x).
    h = (p * 2654435761 + i * 2246822519 + p * i * 40503) & 0xFFFFFFFF
    h ^= h >> 16
    h = (h * 2654435761) & 0xFFFFFFFF
    h ^= h >> 16
    return (h % 13) - 6


def _bucket_sql_spark(vcol: str, n_planes: int = _N_PLANES) -> str:
    bits = []
    for p in range(n_planes):
        coefs = ", ".join(f"{_plane_coef(p, i)}D" for i in range(_DIM))
        dot = (
            f"aggregate(zip_with({vcol}, array({coefs}), (x, y) -> x * y), "
            "0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return " + ".join(bits)


def _bucket_sql_duck(vcol: str, n_planes: int = _N_PLANES) -> str:
    bits = []
    for p in range(n_planes):
        coefs = ", ".join(str(_plane_coef(p, i)) for i in range(_DIM))
        dot = f"list_dot_product(({vcol})::DOUBLE[], [{coefs}]::DOUBLE[])"
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "sim_lsh_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_bucket_sql_duck('embedding')} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.bucket,
             ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4) AS cos_sim
      FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, bucket, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_TOPK}
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 within random-hyperplane LSH buckets (8 planes → 256
    buckets); exact cosine only on same-bucket candidates.

    The hyperplanes are fixed integer vectors (seeded formula) baked into
    both dialects, so bucket assignment is bit-identical.  At scale the
    corpus is written bucketed/partitioned by ``bucket``, making each
    query a partition-pruned scan of ~1/256 of the data; candidates << n
    is what turns O(n) per query into sub-linear."""
    # r12 opt audit: the norm hoist (cosine_prenorm_sql) was applied here
    # and REVERTED — this join is bucket-SELECTIVE (a corpus row matches
    # ~NQ/256 queries), so a per-row ‖v‖ costs ~d per row while the
    # per-pair norms it replaces only cost ~2d × 0.03 pairs/row; measured
    # 0.61 → 0.76 s.  The hoist stays in the DENSE pair loops
    # (`sim_cosine_topk`, `sim_rrf_fusion`, ...), where pairs/row = NQ.
    e = _corpus(spark, sf_dir).withColumn("bucket", F.expr(_bucket_sql_spark("v")))
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    scored = (
        F.broadcast(q)
        .join(e, (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            F.round(F.expr(cosine_sql("qv", "v")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= _TOPK)


# ---------------------------------------------------------------------------
# Tier 3 — IVF coarse quantization
# ---------------------------------------------------------------------------

_N_CENTROIDS = 8


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cent AS (SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
    assigned AS (
      SELECT e.vec_id, e.embedding, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({duck_cosine_sql('e.embedding', 'c.cv')}, 4) DESC, c.cid) AS rn
      FROM e CROSS JOIN cent c QUALIFY rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv, cid
          FROM assigned WHERE vec_id >= 100 AND vec_id < 100 + {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id, a.cid AS cell,
             ROUND({duck_cosine_sql('q.qv', 'a.embedding')}, 4) AS cos_sim
      FROM q JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cell, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_TOPK}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 coarse
    centroids (here: the first 8 vectors — a deterministic stand-in for a
    k-means codebook), then answer queries (vec_id 100..107) from their
    own cell only.

    Assignment = broadcast(centroids) nested-loop + per-vector argmax
    (rounded-cosine, centroid-id tiebreak — cross-engine stable).  At
    scale the corpus is *written partitioned by cell*, so a query touches
    one partition (nprobe=1); raising nprobe = scanning the next-nearest
    cells.  The codebook itself would come from Spark ML k-means offline;
    using fixed seeds keeps the operator oracle-checkable."""
    # r12 opt: ‖v‖ once per vector (not once per (vector, centroid) pair and
    # again per (query, neighbor) pair), ‖c‖ once per centroid — carried
    # through assignment so the scoring join recomputes nothing; bit-equal
    # by cosine_prenorm_sql's construction.
    e = _corpus(spark, sf_dir).withColumn("nv", F.expr(norm_sql("v")))
    cent = e.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nv").alias("ncv")
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.round(F.expr(cosine_prenorm_sql("v", "cv", "nv", "ncv")), 4).desc(), F.col("cid")
    )
    assigned = (
        e.join(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "nv", "cid")
    )
    q = assigned.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + _N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"), F.col("cid").alias("qcid"),
    )
    scored = (
        F.broadcast(q)
        .join(assigned, (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cid").alias("cell"),
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= _TOPK)


# ---------------------------------------------------------------------------
# Tier 3b — IVF with a REAL k-means codebook (Spark ML)
# ---------------------------------------------------------------------------


@register(
    "sim_ivf_kmeans",
    eager=True,
    oracle=f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS n_neighbors_ok,
           TRUE AS sims_in_range,
           TRUE AS ranks_consistent,
           TRUE AS inertia_le_global
    FROM embeddings WHERE vec_id < {_N_QUERIES}
    """,
)
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a trained coarse quantizer: Spark ML ``KMeans`` (seeded,
    k=8) learns the codebook that ``sim_ivf_topk`` stubs with fixed
    vectors; queries then search only their own cell.

    This is the production shape — train offline, ``transform`` assigns
    cells in one distributed pass, write the corpus partitioned by cell.
    Centers depend on MLlib's init sampling, so the raw top-k table has
    no cross-engine twin; instead (the ``agg_hll_rollup`` pattern,
    VERDICT r3 #3) the query emits one row per query_id with
    self-asserted invariants the run must satisfy, and the oracle holds
    both engines to the same booleans:

    * ``n_neighbors_ok`` — the cell search returned exactly
      ``min(k, cell_size - 1)`` neighbors (window/top-k logic);
    * ``sims_in_range`` / ``ranks_consistent`` — cosines in [-1, 1],
      non-increasing by rank, never the query itself;
    * ``inertia_le_global`` — the trained model's within-cluster SS is
      ≤ the one-centroid SS about the global mean, which any converged
      Lloyd solution satisfies (each center is its cluster's mean, and
      the mean minimizes within-cluster squared distance — a genuinely
      falsifiable check of the training step, not a tautology).

    The *search* code path on top of real centers is otherwise identical
    to the value-hash-checked ``sim_ivf_topk``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _corpus(spark, sf_dir).withColumn("features", array_to_vector("v"))
    km = KMeans(k=_N_CENTROIDS, seed=42, featuresCol="features", predictionCol="cell")
    model = km.fit(e)
    # one-centroid baseline: Σ_dims n·var_pop(x_dim) = Σ rows ‖x−µ‖²
    global_ss = (
        e.select(F.posexplode(F.col("v")).alias("dim", "x"))
        .groupBy("dim")
        .agg((F.var_pop("x") * F.count(F.lit(1))).alias("ss"))
        .agg(F.sum("ss").alias("ss"))
        .first()["ss"]
    )
    inertia_ok = bool(model.summary.trainingCost <= global_ss * 1.0001)
    # r12 opt: norms hoisted out of the in-cell pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    assigned = model.transform(e).select(
        "vec_id", "v", "cell", F.expr(norm_sql("v")).alias("nv")
    )
    cell_sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    q = assigned.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"), F.col("cell").alias("qcell"),
    )
    scored = (
        F.broadcast(q)
        .join(assigned, (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= _TOPK)
    per_q = (
        topk.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cos_sim").alias("min_sim"),
            F.max("cos_sim").alias("max_sim"),
            # rank order vs similarity order must agree: the rank-1 row
            # carries the max cos_sim, the last row the min
            F.max(F.struct(F.col("rank"), F.col("cos_sim"))).alias("last_by_rank"),
            F.min(F.struct(F.col("rank"), F.col("cos_sim"))).alias("first_by_rank"),
            F.sum((F.col("neighbor_id") == F.col("query_id")).cast("int")).alias("n_self"),
        )
    )
    # Left-join the invariants back onto the FULL query set so a query
    # whose cell is a singleton (no candidates → absent from topk) still
    # emits a row: a missing neighbor list then surfaces as an explicit
    # n_neighbors_ok=false instead of an opaque row-count/hash mismatch
    # (ADVICE r4).  cell_n comes from the query's own cell assignment,
    # not from topk, so it is defined even when n=0.
    full = q.select("query_id", F.col("qcell").alias("cell")).join(
        F.broadcast(cell_sizes), "cell"
    ).join(per_q, "query_id", "left")
    return full.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        (
            F.coalesce(F.col("n"), F.lit(0))
            == F.least(F.lit(_TOPK), F.col("cell_n") - 1)
        ).alias("n_neighbors_ok"),
        F.coalesce(
            (F.col("min_sim") >= -1.0001) & (F.col("max_sim") <= 1.0001), F.lit(True)
        ).alias("sims_in_range"),
        F.coalesce(
            (F.col("first_by_rank.cos_sim") == F.col("max_sim"))
            & (F.col("last_by_rank.cos_sim") == F.col("min_sim"))
            & (F.col("n_self") == 0),
            F.lit(True),
        ).alias("ranks_consistent"),
        F.lit(inertia_ok).alias("inertia_le_global"),
    )


# ---------------------------------------------------------------------------
# Recall measurement: LSH candidates vs exact top-k
# ---------------------------------------------------------------------------


@register(
    "sim_lsh_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_bucket_sql_duck('embedding')} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    exact AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4) DESC,
                 e.vec_id) <= {_TOPK}),
    hits AS (
      SELECT x.query_id,
             CAST(eb.bucket = qb.bucket AS INT) AS hit
      FROM exact x
      JOIN e eb ON eb.vec_id = x.neighbor_id
      JOIN e qb ON qb.vec_id = x.query_id)
    SELECT query_id,
           COUNT(*)                          AS k,
           CAST(SUM(hit) AS BIGINT)          AS candidates_found,
           ROUND(SUM(hit)::DOUBLE / COUNT(*), 4) AS recall_at_k
    FROM hits GROUP BY query_id
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH candidate stage against exact top-5: for each
    query, how many of its TRUE nearest neighbors share its hyperplane
    bucket.  The quantified tradeoff behind every ANN deployment — more
    planes ⇒ smaller buckets ⇒ cheaper search but lower recall; this
    query is the measurement loop that tunes plane count at scale (run it
    on a sample, pick the knee)."""
    # r12 opt: norms hoisted out of the pair loop (and materialized in the
    # cache) — bit-equal by cosine_prenorm_sql's construction.
    e = (
        _corpus(spark, sf_dir)
        .withColumn("bucket", F.expr(_bucket_sql_spark("v")))
        .withColumn("nv", F.expr(norm_sql("v")))
    )
    e = e.cache()  # reused: exact ranking + two bucket lookups
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    exact = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qb",
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket").alias("nb"),
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
    )
    hit = (F.col("nb") == F.col("qb")).cast("int")
    return exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(hit).alias("candidates_found"),
        F.round(F.sum(hit) / F.count(F.lit(1)), 4).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Recall evaluation: the ANN tier measured against the exact baseline
# ---------------------------------------------------------------------------

from dataframework_spark.registry import get_spec as _get_spec

_BRUTE_ORACLE = _get_spec("sim_cosine_topk").oracle
_LSH_ORACLE = _get_spec("sim_lsh_topk").oracle


@register(
    "sim_recall_eval",
    oracle=f"""
    WITH brute AS ({_BRUTE_ORACLE}),
    approx AS ({_LSH_ORACLE})
    SELECT b.query_id,
           COUNT(a.neighbor_id) AS n_hits,
           round(COUNT(a.neighbor_id) / {_TOPK}.0, 4) AS recall
    FROM brute b LEFT JOIN approx a
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY 1
    """,
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH tier against the exact brute-force baseline,
    per query — the evaluation loop every ANN deployment needs before
    trusting the approximate tier.  Composes the two registered queries
    (and their oracles verbatim), so the metric is itself hash-checked
    end to end.  At 100 TB the baseline runs on a sampled query set
    (exact top-k per query is one corpus scan) while the ANN tier serves
    everything — exactly this join then scores the sample."""
    brute = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = brute.join(
        # both sides are top-k outputs bounded by N_QUERIES x TOPK (40
        # rows) — but the rank window erases size stats, so Catalyst
        # falls back to sort-merge unless the broadcast is pinned (the
        # sim_ivfpq_recall precedent).
        F.broadcast(approx),
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        F.round(F.count("an") / F.lit(float(_TOPK)), 4).alias("recall"),
    )


_PQ_M = 8       # subspaces
_PQ_SUBDIM = _DIM // _PQ_M
_PQ_K = 16      # codewords per subspace


# ---------------------------------------------------------------------------
# The quantizer core: one helper per PQ / IVF-PQ step.  Flat PQ, the IVF-PQ
# build, the persisted-index serve and the frozen-quantizer append all call
# these, so build ≡ serve ≡ append holds by construction.
# ---------------------------------------------------------------------------


def _sq_l2(a: str, b: str) -> str:
    """Spark SQL: squared L2 distance of two double arrays (one
    left-to-right fold)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"


def _sub_sq_l2(a: str, b: str) -> str:
    """:func:`_sq_l2` over subspace ``m`` (a lambda variable, 0-based)."""
    return _sq_l2(*(f"slice({x}, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})" for x in (a, b)))


def _argmin(arr: str) -> str:
    """0-based position of the first minimum: ties go to the lower id."""
    return f"array_position({arr}, array_min({arr})) - 1"


def _ordered_array(*cols: str):
    """Aggregate: the last of ``cols`` collected into one array, ordered
    by ``cols`` (the 1-row broadcast form of centroids and codebooks)."""
    return F.expr(
        f"transform(array_sort(collect_list(struct({', '.join(cols)}))), s -> s.{cols[-1]})"
    )


def _assign(
    vecs: DataFrame, cents_row: DataFrame, vec: str, cid: str = "cid", r: str = "r"
) -> DataFrame:
    """Coarse IVF assignment against the 1-row ``cents`` array: ``cs``
    (squared L2 to every centroid, rounded 6 dp), ``cid`` (its argmin)
    and the residual ``r`` = vec − centroid(cid).  Zero shuffle: the
    centroids broadcast and the argmin is an in-row expression.

    A NULL vector or one whose size is not {_DIM} raises here, so build,
    serve and append never file it under a NULL cell."""
    checked = (
        f"if(size({vec}) <=> {_DIM}, cents, raise_error("
        f"'IVF-PQ vectors must be non-NULL arrays of {_DIM} doubles'))"
    )
    return (
        vecs.crossJoin(F.broadcast(cents_row))
        .withColumn("cs", F.expr(f"transform({checked}, c -> round({_sq_l2(vec, 'c')}, 6))"))
        .withColumn(cid, F.expr(_argmin("cs")).cast("int"))
        .withColumn(r, F.expr(f"zip_with({vec}, element_at(cents, {cid} + 1), (x, y) -> x - y)"))
    )


def _codebook(vecs: DataFrame, vec: str) -> DataFrame:
    """The 1-row ``cb`` codebook: ``vec`` of the {_PQ_K} rows with the
    smallest md5(vec_id) (ties on vec_id), codeword k = array position k
    (k-means init without the engine-specific iterations)."""
    h = F.md5(F.col("vec_id").cast("string")).alias("h")
    return (
        vecs.select(h, "vec_id", vec)
        .orderBy("h", "vec_id")
        .limit(_PQ_K)
        .agg(_ordered_array("h", "vec_id", vec).alias("cb"))
    )


def _sub_d2(vec: str, cb: str = "cb") -> str:
    """The {_PQ_M}×{_PQ_K} matrix of subspace distances from ``vec`` to
    every codeword of ``cb``."""
    return (
        f"transform(sequence(0, {_PQ_M - 1}), m -> transform({cb}, c -> {_sub_sq_l2(vec, 'c')}))"
    )


def _encode(vecs: DataFrame, cb_row: DataFrame, vec: str) -> DataFrame:
    """PQ-encode ``vec`` against the broadcast 1-row ``cb``: ``codes`` is
    the per-subspace argmin codeword ({_PQ_M} ints); ``cb`` rides along."""
    return vecs.crossJoin(F.broadcast(cb_row)).withColumn(
        "codes", F.expr(f"transform({_sub_d2(vec)}, ds -> cast({_argmin('ds')} as int))")
    )


def _adc(res: str) -> str:
    """Asymmetric distance (ADC), rounded 6 dp: residual ``res`` against
    the vector the row's ``codes`` reconstruct from ``cb``."""
    cw = "element_at(cb, element_at(codes, m + 1) + 1)"
    return (
        f"round(aggregate(sequence(0, {_PQ_M - 1}), 0D, "
        f"(t, m) -> t + {_sub_sq_l2(res, cw)}), 6)"
    )


@register(
    "sim_pq_codebook",
    oracle=f"""
    WITH cb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {_PQ_K}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dist AS (
      SELECT v.vec_id, g.m, cb.k,
             list_aggregate(list_transform(generate_series(1, {_PQ_SUBDIM}),
               i -> (v.e[g.m * {_PQ_SUBDIM} + i] - cb.c[g.m * {_PQ_SUBDIM} + i])
                  * (v.e[g.m * {_PQ_SUBDIM} + i] - cb.c[g.m * {_PQ_SUBDIM} + i])),
               'sum') AS d2
      FROM v, generate_series(0, {_PQ_M - 1}) g(m), cb),
    best AS (
      SELECT vec_id, m, k, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
      FROM dist)
    SELECT m AS subspace, k AS code,
           COUNT(*) AS n_vectors,
           ROUND(AVG(d2), 4) AS avg_sq_err
    FROM best WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def sim_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each {_DIM}-dim
    vector into {_PQ_M} subspaces of {_PQ_SUBDIM} dims, assign each
    subvector to its nearest of {_PQ_K} codewords, and report the code
    histogram + mean squared quantization error per (subspace, code) —
    the compression layer under IVF-PQ ANN indexes (vector → {_PQ_M}
    bytes).

    The codebook is a DETERMINISTIC sample — the {_PQ_K} vectors with
    smallest md5(vec_id) (k-means init without the engine-specific
    iterations), which is what makes the whole operator oracle-checkable:
    both engines compute subvector distances with the same left-to-right
    fold, so argmin codes match bitwise, ties break on codeword id.

    Scale shape: the codebook is {_PQ_K} rows collected into ONE
    broadcast array; assignment is a narrow per-row expression (no
    explode of the corpus until the (subspace, code) rollup, whose key
    space is {_PQ_M}×{_PQ_K}); nothing shuffles but the final tiny
    aggregate.  Training a real k-means codebook plugs into the same
    plan (swap the sample for `sim_ivf_kmeans`-style Spark ML centers,
    rows-only check)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    cbarr = _codebook(emb.select("vec_id", as_double("embedding").alias("c")), "c")
    coded = (
        emb.select("vec_id", as_double("embedding").alias("e"))
        .crossJoin(F.broadcast(cbarr))
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform({_sub_d2('e')}, (ds, m) -> struct("
                    "m as subspace, "
                    f"cast({_argmin('ds')} as bigint) as code, "
                    "array_min(ds) as d2))"
                )
            ).alias("s"),
        )
    )
    return (
        coded.groupBy(
            F.col("s.subspace").cast("bigint").alias("subspace"),
            F.col("s.code").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("s.d2"), 4).alias("avg_sq_err"),
        )
    )


@register(
    "sim_pq_recall",
    oracle=f"""
    WITH cb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {_PQ_K}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dist AS (
      SELECT v.vec_id, g.m, cb.k,
             list_aggregate(list_transform(generate_series(1, {_PQ_SUBDIM}),
               i -> (v.e[g.m * {_PQ_SUBDIM} + i] - cb.c[g.m * {_PQ_SUBDIM} + i])
                  * (v.e[g.m * {_PQ_SUBDIM} + i] - cb.c[g.m * {_PQ_SUBDIM} + i])),
               'sum') AS d2
      FROM v, generate_series(0, {_PQ_M - 1}) g(m), cb),
    best AS (
      SELECT vec_id, m, k, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
      FROM dist),
    codes AS (SELECT vec_id, m, k FROM best WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_N_QUERIES}),
    adc AS (
      SELECT q.query_id, codes.vec_id,
             ROUND(SUM(list_aggregate(list_transform(generate_series(1, {_PQ_SUBDIM}),
               i -> (q.qe[codes.m * {_PQ_SUBDIM} + i] - cb.c[codes.m * {_PQ_SUBDIM} + i])
                  * (q.qe[codes.m * {_PQ_SUBDIM} + i] - cb.c[codes.m * {_PQ_SUBDIM} + i])),
               'sum')), 6) AS d
      FROM q, codes JOIN cb ON cb.k = codes.k
      GROUP BY 1, 2),
    adc_top AS (
      SELECT query_id, vec_id FROM adc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK}),
    exact AS (
      SELECT q.query_id, v.vec_id,
             ROUND(list_aggregate(list_transform(generate_series(1, {_DIM}),
               i -> (q.qe[i] - v.e[i]) * (q.qe[i] - v.e[i])), 'sum'), 6) AS d
      FROM q, v),
    exact_top AS (
      SELECT query_id, vec_id FROM exact
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK})
    SELECT e.query_id,
           COUNT(a.vec_id) AS n_hits,
           ROUND(COUNT(a.vec_id) / {_TOPK}.0, 4) AS recall
    FROM exact_top e
    LEFT JOIN adc_top a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY 1
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOPK} of PQ asymmetric-distance search (ADC — Jégou et al.
    2011 §III) against the exact L2 top-{_TOPK}: the accept/reject metric
    for a PQ compression level before serving it.

    ADC never reconstructs vectors: each corpus vector contributes only
    its {_PQ_M} codes; a query's distance is the sum of query-to-codeword
    subspace distances.  At 100 TB the corpus side of this scan carries
    {_PQ_M} BYTES per vector (plus the broadcast codebook) — that is the
    entire point of PQ, and the recall this query reports is the price.

    Distances round to 6 dp on both engines before ranking (repo-wide
    tie discipline; ranks then break on vec_id), so the top-k sets and
    the recall hash match exactly.  Plan: one narrow encode pass over
    the corpus (broadcast codebook), one broadcast of the {_N_QUERIES}
    queries, per-query heaps via partitioned rank — the corpus never
    shuffles."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    cbarr = _codebook(emb.select("vec_id", as_double("embedding").alias("c")), "c")
    # corpus → (vec_id, e, codes[8]); the codebook rides along for ADC
    coded = _encode(emb.select("vec_id", as_double("embedding").alias("e")), cbarr, "e")
    # r12 opt (guide §1.2 per-task work): ADC's defining trick is the
    # per-query distance LOOKUP TABLE — the {_PQ_M}×{_PQ_K} subspace
    # distances are computed ONCE per query (inside the broadcast build,
    # {_N_QUERIES}×{_PQ_M}×{_PQ_K} doubles total) instead of re-running
    # the slice/zip_with/aggregate chain per (query, corpus) PAIR.  Each
    # LUT cell is the IDENTICAL expression the per-pair form evaluated,
    # and the outer sum keeps the identical m-order, so every distance is
    # bit-equal and the rounded ranking keys cannot move.
    queries = (
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe"))
        .crossJoin(F.broadcast(cbarr.select(F.col("cb").alias("qcb"))))
        .selectExpr("query_id", "qe", f"{_sub_d2('qe', 'qcb')} as lut")
    )
    paired = coded.join(F.broadcast(queries))
    adc_d = F.round(
        F.expr(
            f"aggregate(sequence(0, {_PQ_M - 1}), 0D, (acc, m) -> acc + "
            f"element_at(element_at(lut, m + 1), element_at(codes, m + 1) + 1))"
        ),
        6,
    )
    exact_d = F.round(F.expr(_sq_l2("qe", "e")), 6)
    both = paired.select("query_id", "vec_id", adc_d.alias("d_adc"), exact_d.alias("d_ex"))
    w_adc = Window.partitionBy("query_id").orderBy("d_adc", "vec_id")
    w_ex = Window.partitionBy("query_id").orderBy("d_ex", "vec_id")
    ranked = both.select(
        "query_id",
        "vec_id",
        F.row_number().over(w_adc).alias("r_adc"),
        F.row_number().over(w_ex).alias("r_ex"),
    )
    exact_top = ranked.where(F.col("r_ex") <= _TOPK).select("query_id", "vec_id")
    adc_top = ranked.where(F.col("r_adc") <= _TOPK).select(
        F.col("query_id").alias("aq"), F.col("vec_id").alias("an")
    )
    j = exact_top.join(
        adc_top,
        (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        F.round(F.count("an") / F.lit(float(_TOPK)), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Tier 4 — the IVF-PQ composite: coarse cells × residual product codes
# ---------------------------------------------------------------------------

_IVFPQ_Q0 = 100  # queries = vec_id in [100, 100 + _N_QUERIES)


def _duck_subdist(r: str, c: str, m: str) -> str:
    """DuckDB: squared L2 between subspace ``m`` of residual ``r`` and
    codeword ``c`` (1-based list indexing)."""
    return (
        f"list_aggregate(list_transform(generate_series(1, {_PQ_SUBDIM}), "
        f"i -> ({r}[{m} * {_PQ_SUBDIM} + i] - {c}[{m} * {_PQ_SUBDIM} + i])"
        f" * ({r}[{m} * {_PQ_SUBDIM} + i] - {c}[{m} * {_PQ_SUBDIM} + i])), 'sum')"
    )


def _duck_adc(qr: str) -> str:
    """DuckDB twin of :func:`_adc`: residual ``qr`` against coded row
    ``c`` reconstructed from ``cbs``."""
    return (
        f"ROUND(list_aggregate(list_transform(generate_series(0, {_PQ_M - 1}), m ->\n"
        f"               {_duck_subdist(qr, 'cbs[c.codes[m + 1] + 1]', 'm')}), 'sum'), 6)"
    )


def _duck_ivfpq_index(train: str = "TRUE") -> str:
    """DuckDB twin of :func:`_ivfpq_index`: the ``WITH v, cent, assigned,
    res, cb, coded`` CTEs every IVF-PQ oracle starts from.  ``train`` is
    the codebook training predicate over ``res`` (all rows, or the base
    snapshot of an appended index); the caller appends its own CTEs and
    final ``SELECT``."""
    return f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT list(e ORDER BY vec_id) AS cents FROM v WHERE vec_id < {_N_CENTROIDS}),
    assigned AS (
      SELECT vec_id, e, cs, list_position(cs, list_min(cs)) - 1 AS cid
      FROM (SELECT v.vec_id, v.e,
                   list_transform(cents, c -> ROUND(list_aggregate(
                     list_transform(generate_series(1, {_DIM}),
                                    i -> (e[i] - c[i]) * (e[i] - c[i])), 'sum'), 6)) AS cs
            FROM v, cent)),
    res AS (
      SELECT a.vec_id, a.cid, a.e,
             list_transform(generate_series(1, {_DIM}),
                            i -> a.e[i] - cents[a.cid + 1][i]) AS r
      FROM assigned a, cent),
    cb AS (
      SELECT list(r ORDER BY h, vec_id) AS cbs
      FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, r FROM res
            WHERE {train}
            ORDER BY h, vec_id LIMIT {_PQ_K})),
    coded AS (
      SELECT vec_id, cid,
             list_transform(generate_series(0, {_PQ_M - 1}), m ->
               list_position(
                 list_transform(cbs, c -> {_duck_subdist('r', 'c', 'm')}),
                 list_min(list_transform(cbs, c -> {_duck_subdist('r', 'c', 'm')}))) - 1
             ) AS codes
      FROM res, cb)"""


def _ivfpq_index(
    spark: SparkSession, sf_dir: str, predicate=None, n_centroids: int = _N_CENTROIDS
):
    """Build the IVF-PQ index tables shared by the nprobe variants:
    returns ``(e, centarr, assigned, coded)`` — the raw corpus, the
    1-row broadcast centroid array, the per-vector (cell, residual)
    assignment, and the per-vector {_PQ_M}-byte code rows carrying the
    broadcast codebook for ADC.

    Assignment (:func:`_assign`), codebook (:func:`_codebook`) and
    encoding (:func:`_encode`) are the quantizer core the persisted-index
    serve and append paths also call, so a built code row and a served
    or appended one come from the same expressions.

    ``n_centroids`` is the cells-∝-corpus production knob: registered
    queries pin it at {_N_CENTROIDS} for oracle-checkability, but at
    scale the cell COUNT must grow with the corpus so the cell SIZE a
    query scans stays constant — ``python tools/scale_probe.py
    sim_lifecycle`` measures exactly that (the FLAT fixed-batch serve
    claim)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    if predicate is not None:  # train/encode on a corpus subset (the
        emb = emb.where(predicate)  # incremental-append base snapshot)
    e = emb.select("vec_id", as_double("embedding").alias("e"))
    # 1-row broadcast: the n_centroids coarse centroids as an array of arrays
    centarr = e.where(F.col("vec_id") < n_centroids).agg(
        _ordered_array("vec_id", "e").alias("cents")
    )
    # zero-shuffle assignment (vs sim_ivf_topk's join+window)
    assigned = _assign(e, centarr, "e").select("vec_id", "e", "cs", "cid", "r")
    assigned = assigned.localCheckpoint()  # reused by codebook, codes, queries
    coded = _encode(assigned, _codebook(assigned, "r"), "r").select(
        "vec_id", "cid", "codes", "cb"
    )
    return e, centarr, assigned, coded


@register(
    "sim_ivfpq_recall",
    eager=True,
    oracle=f"""
    {_duck_ivfpq_index()},
    q AS (SELECT vec_id AS query_id, cid AS qcid, r AS qr, e AS qe FROM res
          WHERE vec_id >= {_IVFPQ_Q0} AND vec_id < {_IVFPQ_Q0 + _N_QUERIES}),
    adc AS (
      SELECT q.query_id, q.qcid AS cell, c.vec_id, {_duck_adc('q.qr')} AS d
      FROM q JOIN coded c ON c.cid = q.qcid AND c.vec_id <> q.query_id, cb),
    adc_top AS (
      SELECT query_id, cell, vec_id FROM adc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK}),
    exact AS (
      SELECT q.query_id, v.vec_id,
             ROUND(list_aggregate(list_transform(generate_series(1, {_DIM}),
               i -> (q.qe[i] - v.e[i]) * (q.qe[i] - v.e[i])), 'sum'), 6) AS d
      FROM q JOIN v ON v.vec_id <> q.query_id),
    exact_top AS (
      SELECT query_id, vec_id FROM exact
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK})
    SELECT e.query_id,
           CAST((SELECT qcid FROM q WHERE q.query_id = e.query_id) AS BIGINT) AS cell,
           COUNT(a.vec_id) AS n_hits,
           ROUND(COUNT(a.vec_id) / {_TOPK}.0, 4) AS recall_at_k
    FROM exact_top e
    LEFT JOIN adc_top a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY 1
    """,
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ ANN index (Jégou et al. 2011 §V: IVFADC), composed
    from the two oracle-proven halves (VERDICT r3 #8): coarse cells
    restrict the search (``sim_ivf_topk``), residual product codes
    compress what's left (``sim_pq_codebook``), asymmetric distance ranks
    candidates, and the output prices the whole index as recall@{_TOPK}
    against the exact global top-{_TOPK} — the accept/reject number an
    ANN deployment is tuned on.

    Faithful to the paper where it matters: ONE metric (L2) end-to-end —
    cell assignment, code assignment, ADC, and the exact truth all rank
    by squared Euclidean distance (a cosine coarse quantizer under an L2
    truth costs measurable recall for free); codes quantize the RESIDUAL
    ``x − centroid(cell(x))`` (not the raw vector — residual energy is
    what makes IVF-PQ beat flat PQ); queries are encoded against their
    probe cell's centroid (nprobe=1).  Deterministic stand-ins keep it
    oracle-checkable: centroids = first {_N_CENTROIDS} vectors, codebook
    = residuals of the {_PQ_K} smallest-md5 vec_ids, argmin tie-breaks
    by id (distances rounded 6 dp before ranking, repo tie discipline).

    Scale shape — why this is THE 100 TB ANN plan: the corpus is touched
    by exactly two narrow passes (assign+encode; exact-truth scoring is
    the EVALUATION, not the index) and never shuffles; everything joined
    to it is broadcast-sized (8 centroids, {_PQ_K}-codeword codebook,
    {_N_QUERIES} queries).  The serving-time state per corpus vector is
    {_PQ_M} bytes of codes + a cell id; ADC needs only the query's
    {_PQ_M}×{_PQ_K} lookup table.  Recall < 1 here is the honest price
    of nprobe=1 + {_PQ_M}-byte compression, measured not asserted."""
    e, centarr, assigned, coded = _ivfpq_index(spark, sf_dir)
    q = assigned.where(
        (F.col("vec_id") >= _IVFPQ_Q0) & (F.col("vec_id") < _IVFPQ_Q0 + _N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("qcid"),
        F.col("r").alias("qr"),
        F.col("e").alias("qe"),
    )
    w_adc = Window.partitionBy("query_id").orderBy("d", "vec_id")
    adc_top = (
        coded.join(
            F.broadcast(q),
            (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("qcid").alias("cell"), "vec_id", F.expr(_adc("qr")).alias("d"))
        .withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= _TOPK)
        .select(F.col("query_id").alias("aq"), "cell", F.col("vec_id").alias("an"))
    )
    exact_d = F.round(F.expr(_sq_l2("qe", "e")), 6)
    w_ex = Window.partitionBy("query_id").orderBy("d", "vec_id")
    exact_top = (
        e.join(F.broadcast(q.select("query_id", "qe", "qcid")), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qcid", "vec_id", exact_d.alias("d"))
        .withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") <= _TOPK)
        .select("query_id", "qcid", "vec_id")
    )
    # both sides are k×|queries| rows; the windows upstream erase size
    # estimates, so pin the broadcast rather than let Catalyst SMJ them
    j = exact_top.join(
        F.broadcast(adc_top),
        (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.first("qcid").cast("bigint").alias("cell"),
        F.count("an").alias("n_hits"),
        F.round(F.count("an") / F.lit(float(_TOPK)), 4).alias("recall_at_k"),
    )


@register(
    "sim_ivfpq_nprobe2",
    eager=True,
    oracle=f"""
    {_duck_ivfpq_index()},
    qbase AS (
      SELECT a.vec_id AS query_id, a.e AS qe, a.cid AS cell1,
             list_position(cs2, list_min(cs2)) - 1 AS cell2
      FROM (SELECT a.*,
                   list_transform(generate_series(1, {_N_CENTROIDS}),
                     i -> CASE WHEN i - 1 = a.cid THEN 'infinity'::DOUBLE
                          ELSE a.cs[i] END) AS cs2
            FROM assigned a) a
      WHERE a.vec_id >= {_IVFPQ_Q0} AND a.vec_id < {_IVFPQ_Q0 + _N_QUERIES}),
    q AS (
      SELECT query_id, qe, cell1, cell2, cell1 AS pcell,
             list_transform(generate_series(1, {_DIM}),
                            i -> qe[i] - cents[cell1 + 1][i]) AS pr
      FROM qbase, cent
      UNION ALL
      SELECT query_id, qe, cell1, cell2, cell2 AS pcell,
             list_transform(generate_series(1, {_DIM}),
                            i -> qe[i] - cents[cell2 + 1][i]) AS pr
      FROM qbase, cent),
    adc AS (
      SELECT q.query_id, c.vec_id, {_duck_adc('q.pr')} AS d
      FROM q JOIN coded c ON c.cid = q.pcell AND c.vec_id <> q.query_id, cb),
    adc_top AS (
      SELECT query_id, vec_id FROM adc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK}),
    exact AS (
      SELECT b.query_id, v.vec_id,
             ROUND(list_aggregate(list_transform(generate_series(1, {_DIM}),
               i -> (b.qe[i] - v.e[i]) * (b.qe[i] - v.e[i])), 'sum'), 6) AS d
      FROM qbase b JOIN v ON v.vec_id <> b.query_id),
    exact_top AS (
      SELECT query_id, vec_id FROM exact
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= {_TOPK})
    SELECT e.query_id,
           (SELECT CAST(cell1 AS VARCHAR) || '|' || CAST(cell2 AS VARCHAR)
            FROM qbase b WHERE b.query_id = e.query_id) AS probe_cells,
           COUNT(a.vec_id) AS n_hits,
           ROUND(COUNT(a.vec_id) / {_TOPK}.0, 4) AS recall_at_k
    FROM exact_top e
    LEFT JOIN adc_top a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY 1
    """,
)
def sim_ivfpq_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_ivfpq_recall`` with nprobe=2 — the tuning knob an IVF-PQ
    deployment actually turns: each query also scans its SECOND-nearest
    cell, with the query residual re-encoded against that cell's centroid
    (per Jégou §V, codes in a cell are residuals w.r.t. THAT centroid, so
    the ADC lookup table is per-(query, probe-cell)).  Candidates from
    both cells rank together; recall@{_TOPK} vs the exact global
    top-{_TOPK} quantifies what the second probe buys — compare this
    query's recall to ``sim_ivfpq_recall``'s on the same corpus and the
    difference IS the nprobe=1→2 point of the tuning curve, each point
    value-hash-checked cross-engine.

    Scale shape is unchanged: one extra broadcast probe row per query
    (2×{_N_QUERIES} rows), the corpus still never shuffles, and serving
    cost grows exactly linearly in probed cells — which is the knob's
    price."""
    e, centarr, assigned, coded = _ivfpq_index(spark, sf_dir)
    inf = "cast('Infinity' as double)"
    qbase = (
        assigned.where(
            (F.col("vec_id") >= _IVFPQ_Q0) & (F.col("vec_id") < _IVFPQ_Q0 + _N_QUERIES)
        )
        .crossJoin(F.broadcast(centarr))
        .withColumn(
            "cs2",
            F.expr(f"transform(cs, (v, i) -> if(i = cid, {inf}, v))"),
        )
        .withColumn(
            "cid2", (F.expr("array_position(cs2, array_min(cs2))") - 1).cast("int")
        )
        .withColumn(
            "r2", F.expr("zip_with(e, element_at(cents, cid2 + 1), (x, y) -> x - y)")
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("cid").alias("cell1"),
            "cid2",
            F.col("r").alias("r1"),
            "r2",
        )
    )
    probes = qbase.select(
        "query_id", "qe", "cell1", "cid2",
        F.col("cell1").alias("pcell"), F.col("r1").alias("pr"),
    ).unionByName(
        qbase.select(
            "query_id", "qe", "cell1", "cid2",
            F.col("cid2").alias("pcell"), F.col("r2").alias("pr"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy("d", "vec_id")
    adc_top = (
        coded.join(
            F.broadcast(probes),
            (F.col("cid") == F.col("pcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", F.expr(_adc("pr")).alias("d"))
        .withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= _TOPK)
        .select(F.col("query_id").alias("aq"), F.col("vec_id").alias("an"))
    )
    exact_d = F.round(F.expr(_sq_l2("qe", "e")), 6)
    w_ex = Window.partitionBy("query_id").orderBy("d", "vec_id")
    exact_top = (
        e.join(
            F.broadcast(qbase.select("query_id", "qe", "cell1", "cid2")),
            F.col("vec_id") != F.col("query_id"),
        )
        .select("query_id", "cell1", "cid2", "vec_id", exact_d.alias("d"))
        .withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") <= _TOPK)
        .select("query_id", "cell1", "cid2", "vec_id")
    )
    j = exact_top.join(
        F.broadcast(adc_top),
        (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.concat_ws(
            "|",
            F.first("cell1").cast("string"),
            F.first("cid2").cast("string"),
        ).alias("probe_cells"),
        F.count("an").alias("n_hits"),
        F.round(F.count("an") / F.lit(float(_TOPK)), 4).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Tier 6 — Matryoshka prefix-dimension ANN (truncated-embedding search)
# ---------------------------------------------------------------------------

_MRL_DIM = 16  # prefix dims used for the cheap ranking pass


@register(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH brute AS ({_BRUTE_ORACLE}),
    e AS (SELECT vec_id, embedding FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND({duck_cosine_sql(f'q.embedding[1:{_MRL_DIM}]', f'e.embedding[1:{_MRL_DIM}]')}, 4)
               AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.vec_id),
    approx AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
      QUALIFY rank <= {_TOPK})
    SELECT b.query_id,
           COUNT(a.neighbor_id) AS n_hits,
           round(COUNT(a.neighbor_id) / {_TOPK}.0, 4) AS recall
    FROM brute b LEFT JOIN approx a
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY 1
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding ANN (Kusupati et al. 2022): rank
    the corpus by cosine over only the FIRST {_MRL_DIM} of {_DIM} dims —
    the cheap pass a Matryoshka-trained embedding enables, cutting both
    memory bandwidth and FLOPs 4× — and price its recall@{_TOPK} against
    the exact full-dimension top-{_TOPK} per query, exactly like the
    LSH/IVF/PQ recall evals above.

    Scale shape identical to ``sim_cosine_topk``: the query set
    broadcasts, the corpus never shuffles, and the prefix slice is a
    codegen'd ``slice``/``aggregate`` expression — at 100 TB the prefix
    pass reads a {_MRL_DIM}-dim column (storable as its own narrow
    parquet column for 4× less I/O), and survivors re-rank with full
    vectors.  These test embeddings are NOT Matryoshka-trained, so
    measured recall (0–0.2 per query here) honestly shows the truncation
    cost the eval exists to price."""
    brute = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # r12 opt: prefix-norms hoisted out of the pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = _corpus(spark, sf_dir).select(
        "vec_id", F.expr(f"slice(v, 1, {_MRL_DIM})").alias("v")
    ).withColumn("nv", F.expr(norm_sql("v")))
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    )
    j = brute.join(
        # both sides are top-k outputs bounded by N_QUERIES x TOPK (40
        # rows) — but the rank window erases size stats, so Catalyst
        # falls back to sort-merge unless the broadcast is pinned (the
        # sim_ivfpq_recall precedent).
        F.broadcast(approx),
        (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        F.round(F.count("an") / F.lit(float(_TOPK)), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Tier 7 — index-persistence lifecycle: build → persist → serve (VERDICT r4 #6)
# ---------------------------------------------------------------------------


IVFPQ_LAYOUT: index_store.Layout = {
    "centroids": ("cid int, c array<double>", None),
    "codebook": ("k int, cw array<double>", None),
    "codes": ("vec_id bigint, codes array<int>, cid int", "cid"),
}


def _load_quantizer(spark: SparkSession, base: str) -> tuple[DataFrame, DataFrame]:
    """The persisted quantizer as the 1-row ``cents`` and ``cb`` frames
    :func:`_assign` and :func:`_encode` take, in the build's order."""
    cents_row = index_store.read(spark, IVFPQ_LAYOUT, base, "centroids").agg(
        _ordered_array("cid", "c").alias("cents")
    )
    cb_row = index_store.read(spark, IVFPQ_LAYOUT, base, "codebook").agg(
        _ordered_array("k", "cw").alias("cb")
    )
    return cents_row, cb_row


def ivfpq_persist(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    predicate=None,
    n_centroids: int = _N_CENTROIDS,
) -> None:
    """Build the IVF-PQ index (one corpus pass via :func:`_ivfpq_index`)
    and write it as the three tables of ``IVFPQ_LAYOUT``:

    * ``centroids`` — (cid, c): the coarse centroid vectors;
    * ``codebook``  — (k, cw): the {_PQ_K} residual codewords;
    * ``codes``     — (vec_id, codes) **partitioned by cid**: the
      {_PQ_M}-byte-per-vector serving payload, laid out so nprobe=1
      serving reads exactly one cell directory — the partition-pruned
      layout the module docstring promises ("bucketed by cell id at
      write time").

    This is the index lifecycle a real ANN deployment needs: train/encode
    once (expensive, corpus-sized), serve many times from the compact
    persisted form without ever touching the corpus again."""
    _, centarr, assigned, coded = _ivfpq_index(
        spark, sf_dir, predicate=predicate, n_centroids=n_centroids
    )
    tables = {
        "centroids": centarr.select(F.posexplode("cents").alias("cid", "c")),
        # the 1-row codebook itself, not a limit over ``coded``: Spark names
        # a limit's counter from a JVM-wide sequence, so a stage with a
        # limit compiles as a new class in every build
        "codebook": _codebook(assigned, "r").select(F.posexplode("cb").alias("k", "cw")),
        "codes": coded.select("vec_id", "codes", "cid"),
    }
    for table, frame in tables.items():
        index_store.write(frame, IVFPQ_LAYOUT, base, table)


def ivfpq_serve(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """Serve ADC top-{_TOPK} from the PERSISTED index only.

    The corpus is never rescanned: corpus vectors exist solely as their
    {_PQ_M}-byte code rows in the persisted ``codes`` table.  The only
    touch of the embeddings table is the {_N_QUERIES}-row query fetch
    (vec_id range filter, pushed to the parquet scan) — at serve time
    queries are runtime input, not index state.  Centroids and codebook
    load as two tiny parquet reads and broadcast; the query's cell and
    residual come from the build's own :func:`_assign` over the LOADED
    centroids, so build and serve share one quantizer by construction —
    the oracle rebuilds the index from scratch in DuckDB and must
    value-hash-match this served output."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    qdf = emb.where(
        (F.col("vec_id") >= _IVFPQ_Q0) & (F.col("vec_id") < _IVFPQ_Q0 + _N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe"))
    return ivfpq_serve_frame(spark, base, qdf)


def ivfpq_serve_frame(spark: SparkSession, base: str, qdf: DataFrame) -> DataFrame:
    """:func:`ivfpq_serve` parameterized over the query batch: ``qdf``
    is any (query_id, qe) frame (qe = double[{_DIM}]; anything else
    raises).  Same serve plan — loaded centroids/codebook broadcast, the
    build's :func:`_assign` and :func:`_adc`, static nprobe partition
    pruning, manifest-style cell reads; the distinct-cell bound is
    ``n_centroids``, not the batch size, so arbitrarily large batches
    keep the bounded collect."""
    cents_row, cb_row = _load_quantizer(spark, base)
    q = _assign(qdf, cents_row, "qe", cid="qcid", r="qr").select("query_id", "qcid", "qr")
    # static nprobe pruning (r12, measured by the SIMLIFE probe): the
    # query batch's cells are known BEFORE the index is read, so the
    # codes scan opens only the ≤ batch-size probed cell directories
    # (a manifest-style read: raw partition discovery listed all k cell
    # dirs before pruning, and at k = 8·M that metadata walk alone grew
    # the serve wall) instead of every cell — the dynamic join filter
    # alone scanned the whole table and made the fixed-batch serve wall
    # grow with the index.  The store keeps the cell filter on top, so
    # the pruning is also plan-visible (PartitionFilters, pinned in
    # test_plans.py).
    # bounded collect: ≤ n_centroids (8 registered) distinct cells —
    # cell-count-sized, never corpus- or batch-sized
    qcells = sorted({r["qcid"] for r in q.select("qcid").distinct().collect()})
    codes_pq = index_store.read(spark, IVFPQ_LAYOUT, base, "codes", parts=qcells)
    scored = (
        codes_pq.join(
            F.broadcast(q),
            (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .crossJoin(F.broadcast(cb_row))
        .select("query_id", F.col("qcid").alias("cell"), "vec_id", F.expr(_adc("qr")).alias("d"))
    )
    w = Window.partitionBy("query_id").orderBy("d", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("d").alias("dist"),
        )
    )


@register(
    "sim_ivfpq_persist_serve",
    eager=True,
    oracle=f"""
    {_duck_ivfpq_index()},
    q AS (SELECT vec_id AS query_id, cid AS qcid, r AS qr FROM res
          WHERE vec_id >= {_IVFPQ_Q0} AND vec_id < {_IVFPQ_Q0 + _N_QUERIES}),
    adc AS (
      SELECT q.query_id, q.qcid AS cell, c.vec_id, {_duck_adc('q.qr')} AS d
      FROM q JOIN coded c ON c.cid = q.qcid AND c.vec_id <> q.query_id, cb)
    SELECT query_id,
           CAST(cell AS BIGINT) AS cell,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS BIGINT)
             AS rank,
           vec_id AS neighbor_id,
           d AS dist
    FROM adc
    QUALIFY rank <= {_TOPK}
    """,
)
def sim_ivfpq_persist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ index lifecycle (VERDICT r4 #6): build the index from
    the corpus, PERSIST it (centroids + codebook + cell-partitioned
    codes) as parquet, then answer the standard query set from the
    persisted form alone — and prove build ≡ serve by value hash: the
    oracle rebuilds the whole index from scratch in DuckDB while the
    Spark side serves from disk, so any drift between the built and the
    persisted/reloaded index (lost precision, wrong partition mapping,
    code truncation) breaks the hash.

    Composes only green components: the index builder is
    ``sim_ivfpq_recall``'s (`similarity.py` Tier 4), the sink/read-back
    discipline is ``sources/io.py``'s.  The serve plan never rescans the
    corpus — corpus vectors exist only as {_PQ_M}-byte code rows; the
    single embeddings scan is the {_N_QUERIES}-row query fetch with the
    vec_id range filter pushed down (plan-asserted in
    ``tests/test_plans.py``).  At 100 TB: the build is the one expensive
    corpus pass, the persisted index is ~{_PQ_M} bytes/vector, and
    nprobe=1 serving reads one cell directory of the partitioned codes
    table."""
    from dataframework_spark.sources.io import _scratch

    base = _scratch(sf_dir, "ivfpq_index")
    ivfpq_persist(spark, sf_dir, base)
    return ivfpq_serve(spark, sf_dir, base)


def ivfpq_append(spark: SparkSession, sf_dir: str, base: str, predicate) -> None:
    """Incrementally append a corpus DELTA to a persisted IVF-PQ index
    with a FROZEN quantizer: new vectors are assigned to the nearest
    *loaded* centroid and coded against the *loaded* codebook (never
    retrained — the standard production practice: retraining would
    invalidate every already-stored code), then their {_PQ_M}-byte code
    rows append into the existing cell partitions.

    The delta is coded by the build's own :func:`_assign` and
    :func:`_encode` over the loaded quantizer, so append-then-serve is
    bit-identical to rebuild-then-serve over the same final corpus by
    construction — the property the registered query's oracle
    hash-checks.  At 100 TB this is the ingest path: the daily delta
    pays one narrow assign+encode pass; the corpus already indexed is
    never touched."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    vecs = emb.where(predicate).select(
        "vec_id", as_double("embedding").alias("e")
    )
    ivfpq_append_frame(spark, base, vecs)


def ivfpq_append_frame(spark: SparkSession, base: str, vecs: DataFrame) -> None:
    """:func:`ivfpq_append` parameterized over the delta rows: ``vecs``
    is any (vec_id, e) frame (e = double[{_DIM}]; anything else raises
    and appends nothing) — the shape a streaming microbatch hands over.
    Same frozen-quantizer coding plan: broadcast loaded centroids +
    codebook, the build's :func:`_assign` and :func:`_encode`, append
    into the existing cell partitions."""
    cents_row, cb_row = _load_quantizer(spark, base)
    delta_coded = _encode(_assign(vecs, cents_row, "e"), cb_row, "r").select(
        "vec_id", "codes", "cid"
    )
    index_store.write(delta_coded, IVFPQ_LAYOUT, base, "codes", "append")


@register(
    "sim_ivfpq_incremental_append",
    eager=True,
    oracle=f"""
    {_duck_ivfpq_index(train="vec_id % 10 <> 9")},
    q AS (SELECT vec_id AS query_id, cid AS qcid, r AS qr FROM res
          WHERE vec_id >= {_IVFPQ_Q0} AND vec_id < {_IVFPQ_Q0 + _N_QUERIES}),
    adc AS (
      SELECT q.query_id, q.qcid AS cell, c.vec_id, {_duck_adc('q.qr')} AS d
      FROM q JOIN coded c ON c.cid = q.qcid AND c.vec_id <> q.query_id, cb)
    SELECT query_id,
           CAST(cell AS BIGINT) AS cell,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS BIGINT)
             AS rank,
           vec_id AS neighbor_id,
           d AS dist
    FROM adc
    QUALIFY rank <= {_TOPK}
    """,
)
def sim_ivfpq_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index INGEST lifecycle, completing the persist→serve story:
    build the IVF-PQ index from a base snapshot (vec_id % 10 ≠ 9, ~90%
    of the corpus), persist it, then :func:`ivfpq_append` the remaining
    ~10% delta with the frozen quantizer and serve the standard query
    set over the union.

    The oracle rebuilds the FINAL state from scratch in DuckDB — full
    corpus coded against the base-trained codebook — so it holds the
    incremental path to the rebuild-equivalence invariant every
    incremental index must satisfy: append-then-serve ≡
    rebuild-then-serve, value-hashed.  A delta row coded against the
    wrong centroid, a retrained codebook, or an append landing in the
    wrong cell partition all break the hash.

    Scale: the delta pays one assign+encode pass (broadcast centroids +
    codebook, zero shuffles); the existing codes are NEVER rewritten —
    parquet append into cell partitions.  Queries still read one cell
    directory at nprobe=1."""
    from dataframework_spark.sources.io import _scratch

    delta_pred = F.col("vec_id") % 10 == 9
    base = _scratch(sf_dir, "ivfpq_index_incr")
    import shutil

    shutil.rmtree(base, ignore_errors=True)  # append must start from the
    ivfpq_persist(spark, sf_dir, base, predicate=~delta_pred)  # base only
    ivfpq_append(spark, sf_dir, base, delta_pred)
    return ivfpq_serve(spark, sf_dir, base)


_PERSIST_SERVE_ORACLE = _get_spec("sim_ivfpq_persist_serve").oracle
_IVFPQ_APPEND_ORACLE = _get_spec("sim_ivfpq_incremental_append").oracle


@register(
    "sim_ivfpq_index_compaction",
    eager=True,
    oracle=f"""
    WITH served AS ({_IVFPQ_APPEND_ORACLE})
    SELECT *,
           TRUE AS codes_equal_precompaction,
           TRUE AS code_files_ge_2_per_touched_cell_before,
           TRUE AS code_files_1_per_cell_after
    FROM served
    """,
)
def sim_ivfpq_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-index lifecycle, part 3 — COMPACTION, the
    ``dedup_lsh_index_compaction`` discipline applied to the embedding
    family: build + persist the base index (90% snapshot), append the
    10% delta in TWO separate ingest waves (vec_id parity split — same
    final content as one append, but real small-file debt: ≥ 2 code
    parquets in every cell the delta touched), then compact it
    (:func:`index_store.compact` over ``IVFPQ_LAYOUT``: one exchange on
    ``cid`` for the codes, centroids and codebook coalesced to one file
    each) and serve the standard query batch from the COMPACTED index
    alone.

    Three proofs in one output: the served top-k value-hashes against
    the DuckDB oracle that rebuilds the FINAL index from scratch
    (compacted-serve ≡ rebuild-serve); ``codes_equal_precompaction``
    pins the rewrite as a multiset no-op on content (two anti-diffs);
    the file-count booleans bill that the debt existed and was paid
    (every touched cell ≥ 2 files before, exactly 1 after).  Serving is
    untouched — same three tables, fewer files, and the static nprobe
    partition filter now opens one file per probed cell instead of one
    per ingest generation."""
    from dataframework_spark.sources.io import _scratch

    delta_pred = F.col("vec_id") % 10 == 9
    base = _scratch(sf_dir, "ivfpq_index_cmp")
    cmp_base = _scratch(sf_dir, "ivfpq_index_cmp_compacted")
    import shutil

    shutil.rmtree(base, ignore_errors=True)  # append must start from the base
    ivfpq_persist(spark, sf_dir, base, predicate=~delta_pred)
    # two real ingest waves over the same delta → two append generations
    ivfpq_append(spark, sf_dir, base, delta_pred & (F.col("vec_id") % 2 == 0))
    ivfpq_append(spark, sf_dir, base, delta_pred & (F.col("vec_id") % 2 == 1))

    codes = index_store.read(spark, IVFPQ_LAYOUT, base, "codes")
    touched = sorted(
        r["cid"]
        # bounded collect: ≤ _N_CENTROIDS (8) distinct cells exist at all
        for r in codes.where(delta_pred).select("cid").distinct().collect()
    )
    before = index_store.file_counts(IVFPQ_LAYOUT, base, "codes")
    before_ok = all(before.get(c, 0) >= 2 for c in touched)
    index_store.compact(spark, IVFPQ_LAYOUT, base, cmp_base)
    after = index_store.file_counts(IVFPQ_LAYOUT, cmp_base, "codes")
    after_ok = all(n == 1 for n in after.values())
    ccodes = index_store.read(spark, IVFPQ_LAYOUT, cmp_base, "codes")
    content_ok = index_store.frames_equal(ccodes, codes)
    return (
        ivfpq_serve(spark, sf_dir, cmp_base)
        .withColumn("codes_equal_precompaction", F.lit(content_ok))
        .withColumn("code_files_ge_2_per_touched_cell_before", F.lit(before_ok))
        .withColumn("code_files_1_per_cell_after", F.lit(after_ok))
    )


@register(
    "sim_index_serve_recall",
    eager=True,
    oracle=f"""
    WITH served AS ({_PERSIST_SERVE_ORACLE}),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    eq AS (SELECT vec_id AS query_id, e AS qe FROM ev
           WHERE vec_id >= {_IVFPQ_Q0} AND vec_id < {_IVFPQ_Q0 + _N_QUERIES}),
    exact AS (
      SELECT eq.query_id, ev.vec_id,
             ROUND(list_aggregate(list_transform(generate_series(1, {_DIM}),
               i -> (eq.qe[i] - ev.e[i]) * (eq.qe[i] - ev.e[i])), 'sum'), 6) AS d
      FROM eq, ev WHERE ev.vec_id <> eq.query_id),
    et AS (
      SELECT query_id, vec_id FROM exact
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id)
              <= {_TOPK})
    SELECT e.query_id,
           COUNT(s.neighbor_id) AS n_hits,
           ROUND(COUNT(s.neighbor_id) / {_TOPK}.0, 4) AS recall
    FROM et e LEFT JOIN served s
      ON s.query_id = e.query_id AND s.neighbor_id = e.vec_id
    GROUP BY 1
    """,
)
def sim_index_serve_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOPK} of the PERSISTED-index serve path against exact L2
    truth — the last line of the similarity lifecycle's bill (VERDICT
    r11 #1: "recall-vs-exact billed in the output"): the index family
    already proves build ≡ serve (``sim_ivfpq_persist_serve``) and
    append ≡ rebuild (``sim_ivfpq_incremental_append``) by value hash;
    this query prices what the approximation COSTS, measured on the
    served output itself rather than on a build-time replica of it.

    Composes two hash-checked components verbatim: the served top-k is
    ``sim_ivfpq_persist_serve``'s output (index persisted to parquet,
    corpus never rescanned at serve time — plan-pinned in
    ``tests/test_plans.py``); the truth side is one brute-force L2
    top-{_TOPK} pass with the repo tie discipline (6 dp rounding,
    vec_id tiebreak).  At 100 TB the truth pass runs on a sampled query
    batch exactly like this one (8 broadcast queries × a partitioned
    corpus scan, no corpus shuffle) while the persisted index serves
    all traffic; this query IS the acceptance gate run on that sample —
    a quantizer change that silently degrades the served ranking moves
    ``recall`` and breaks the hash."""
    served = sim_ivfpq_persist_serve(spark, sf_dir).select(
        F.col("query_id").alias("sq"), F.col("neighbor_id").alias("sn")
    )
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    q = emb.where(
        (F.col("vec_id") >= _IVFPQ_Q0) & (F.col("vec_id") < _IVFPQ_Q0 + _N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe"))
    exact_d = F.round(F.expr(_sq_l2("qe", "e")), 6)
    w = Window.partitionBy("query_id").orderBy("d", "vec_id")
    et = (
        emb.select("vec_id", as_double("embedding").alias("e"))
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", exact_d.alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id")
    )
    # both sides are top-k outputs bounded by N_QUERIES × TOPK (40 rows);
    # the rank window erases size stats, so pin the broadcast (the
    # sim_recall_eval precedent)
    j = et.join(
        F.broadcast(served),
        (F.col("query_id") == F.col("sq")) & (F.col("vec_id") == F.col("sn")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("sn").alias("n_hits"),
        F.round(F.count("sn") / F.lit(float(_TOPK)), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# NDCG — graded ranking quality of the ANN tier (recall sees hits; NDCG
# sees where the hits LAND)
# ---------------------------------------------------------------------------


@register(
    "sim_ndcg_eval",
    oracle=f"""
    WITH brute AS ({_BRUTE_ORACLE}),
    approx AS ({_LSH_ORACLE}),
    idcg AS (
      SELECT query_id,
             SUM(({_TOPK} + 1 - rank) / log2(rank + 1)) AS idcg
      FROM brute GROUP BY query_id),
    dcg AS (
      SELECT a.query_id,
             COUNT(*) AS n_listed,
             SUM(COALESCE({_TOPK} + 1 - b.rank, 0) / log2(a.rank + 1)) AS dcg
      FROM approx a LEFT JOIN brute b
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY a.query_id)
    SELECT i.query_id,
           CAST(COALESCE(d.n_listed, 0) AS BIGINT) AS n_listed,
           ROUND(COALESCE(d.dcg, 0), 4)            AS dcg,
           ROUND(i.idcg, 4)                        AS idcg,
           ROUND(COALESCE(d.dcg, 0) / i.idcg, 4)   AS ndcg
    FROM idcg i LEFT JOIN dcg d USING (query_id)
    """,
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the LSH tier against the exact baseline — the graded
    companion to ``sim_recall_eval``: recall counts how many true
    neighbors the ANN tier returns, NDCG scores WHERE they land (a true
    top-1 surfaced at position 5 costs rank-discounted credit).  Grades
    come from the exact ranking (rel = 6 - true_rank), discount is
    1/log2(pos + 1); both lists and their oracles are the registered
    queries verbatim, so the metric is hash-checked end to end.

    Queries whose LSH bucket is a singleton (empty candidate list) emit
    an explicit ndcg = 0 row from the truth side — the ``sim_ivf_kmeans``
    lesson: never let a missing group surface as a row-count mismatch.

    At 100 TB this is the same sampled-eval loop as recall: exact top-k
    on a query sample, ANN list from the serving tier, one broadcast
    join per side — both sides are top-k outputs bounded by
    N_QUERIES x TOPK, and both joins are broadcast-pinned because the
    rank windows erase the size stats (the sim_recall_eval precedent)."""
    grade = F.lit(_TOPK + 1) - F.col("rank")
    truth = sim_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank", grade.alias("rel")
    )
    approx = sim_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("rank").alias("apos"),
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1)).alias("idcg")
    )
    dcg = (
        approx.join(
            F.broadcast(truth.drop("rank")),
            (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("aq")
        .agg(
            F.count(F.lit(1)).alias("n_listed"),
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0)) / F.log2(F.col("apos") + 1)
            ).alias("dcg"),
        )
    )
    return (
        idcg.join(F.broadcast(dcg), idcg.query_id == dcg.aq, "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_listed"), F.lit(0)).alias("n_listed"),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)), 4).alias("dcg"),
            F.round(F.col("idcg"), 4).alias("idcg"),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 4).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# Radius search — ALL neighbors within a similarity threshold (top-k's
# sibling: retrieval-for-dedup wants everything above τ, not a fixed k)
# ---------------------------------------------------------------------------

_RADIUS_TAU = 0.2


@register(
    "sim_radius_search",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_bucket_sql_duck('embedding')} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    s AS (
      SELECT q.vec_id AS query_id,
             ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4) AS c,
             (e.bucket = q.bucket) AS same_bucket
      FROM q JOIN e ON e.vec_id <> q.vec_id)
    SELECT query_id,
           CAST(SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(SUM(CASE WHEN same_bucket THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN same_bucket AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(SUM(CASE WHEN same_bucket AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                 ::DOUBLE
                 / SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END), 4) AS recall
    FROM s GROUP BY query_id
    """,
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search — top-k's sibling: near-dup
    retrieval and decontamination want EVERY neighbor above a similarity
    floor, not a fixed k.  For each query: the exact count of corpus
    vectors with cosine >= {_RADIUS_TAU} (rounded to 4 dp before the
    threshold compare, the repo tie discipline), the LSH same-bucket
    candidate count, the candidates truly within the radius, and
    the resulting radius recall — the number that decides whether the
    bucketed tier may serve radius queries or must fall back to a wider
    multi-probe.

    Plan: ONE scored pass — the broadcast query set meets one corpus
    scan and every output column is an aggregate of that scan (no second
    join, no rank window).  At 100 TB: corpus never shuffles; radius
    search over the bucketed layout prunes to the query's bucket(s),
    and THIS query is the measurement that licenses the pruning."""
    # r12 opt: norms hoisted out of the pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = (
        _corpus(spark, sf_dir)
        .withColumn("bucket", F.expr(_bucket_sql_spark("v")))
        .withColumn("nv", F.expr(norm_sql("v")))
    )
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    s = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("c"),
            (F.col("bucket") == F.col("qb")).alias("same_bucket"),
        )
    )
    in_radius = (F.col("c") >= _RADIUS_TAU).cast("long")
    cand = F.col("same_bucket").cast("long")
    hit = (F.col("same_bucket") & (F.col("c") >= _RADIUS_TAU)).cast("long")
    return s.groupBy("query_id").agg(
        F.sum(in_radius).alias("n_true"),
        F.sum(cand).alias("n_candidates"),
        F.sum(hit).alias("n_hits"),
        F.round(F.sum(hit) / F.sum(in_radius), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH — the follow-up sim_radius_search's measured verdict
# forces: single-bucket radius recall is <= 0.24, so probe the Hamming
# neighborhood of the query's bucket code instead of widening the tables
# ---------------------------------------------------------------------------


def _hamming_sql(xor_expr: str) -> str:
    """Popcount of an 8-bit bucket-code XOR, written with only CASE and
    bitwise ``&`` so the identical text works in Spark SQL and DuckDB."""
    return " + ".join(
        f"(CASE WHEN (({xor_expr}) & {1 << p}) <> 0 THEN 1 ELSE 0 END)"
        for p in range(_N_PLANES)
    )


@register(
    "sim_multiprobe_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_bucket_sql_duck('embedding')} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    s AS (
      SELECT q.vec_id AS query_id,
             ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4) AS c,
             ({_hamming_sql('xor(e.bucket, q.bucket)')}) AS ham
      FROM q JOIN e ON e.vec_id <> q.vec_id)
    SELECT query_id,
           CAST(SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cand_h0,
           CAST(SUM(CASE WHEN ham = 0 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS hits_h0,
           ROUND(SUM(CASE WHEN ham = 0 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                 ::DOUBLE / SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END),
                 4) AS recall_h0,
           CAST(SUM(CASE WHEN ham <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS cand_h1,
           CAST(SUM(CASE WHEN ham <= 1 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS hits_h1,
           ROUND(SUM(CASE WHEN ham <= 1 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                 ::DOUBLE / SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END),
                 4) AS recall_h1,
           CAST(SUM(CASE WHEN ham <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS cand_h2,
           CAST(SUM(CASE WHEN ham <= 2 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS hits_h2,
           ROUND(SUM(CASE WHEN ham <= 2 AND c >= {_RADIUS_TAU} THEN 1 ELSE 0 END)
                 ::DOUBLE / SUM(CASE WHEN c >= {_RADIUS_TAU} THEN 1 ELSE 0 END),
                 4) AS recall_h2
    FROM s GROUP BY query_id
    """,
)
def sim_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH radius search — the upgrade ``sim_radius_search``'s
    measured verdict forces (single-bucket radius recall <= 0.24): instead
    of one bucket, probe every bucket whose {_N_PLANES}-bit code is within
    Hamming distance 1 (9 buckets) or 2 (37 buckets) of the query's code
    (Lv et al., VLDB'07 — flipping the least-confident hyperplane bits).
    For each query the cost/recall CURVE is billed in one row: candidate
    count and radius recall at probe depths 0, 1, and 2, against the same
    exact radius truth (cosine >= {_RADIUS_TAU}, rounded to 4 dp).  The
    number a deployment reads off: how many probes buy how much recall
    before brute force is cheaper.

    Plan/scale: the SAME one scored pass as ``sim_radius_search`` — the
    broadcast query set meets one corpus scan, the Hamming distance is a
    pure codegen'd bit expression on the two bucket codes, and every
    output column is an aggregate of that scan (no per-probe join, no
    rank window).  On a corpus bucketed by code at write time, probe
    depth h scans C(8,<=h)/256 of the layout — 9/256 then 37/256 — which
    is exactly the partition-pruning fraction this query prices."""
    # r12 opt: norms hoisted out of the pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = (
        _corpus(spark, sf_dir)
        .withColumn("bucket", F.expr(_bucket_sql_spark("v")))
        .withColumn("nv", F.expr(norm_sql("v")))
    )
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    s = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("c"),
            F.expr(_hamming_sql("bucket ^ qb")).alias("ham"),
        )
    )
    in_r = F.col("c") >= _RADIUS_TAU
    n_true = F.sum(in_r.cast("long"))
    aggs = [n_true.alias("n_true")]
    for h in (0, 1, 2):
        near = F.col("ham") <= h
        hits = F.sum((near & in_r).cast("long"))
        aggs += [
            F.sum(near.cast("long")).alias(f"cand_h{h}"),
            hits.alias(f"hits_h{h}"),
            F.round(hits / n_true, 4).alias(f"recall_h{h}"),
        ]
    return s.groupBy("query_id").agg(*aggs)


# ---------------------------------------------------------------------------
# MIPS via norm augmentation — serve MAX-INNER-PRODUCT queries on the
# cosine LSH tier (Bachrach et al. '14: append sqrt(M^2 - |x|^2) to the
# corpus, 0 to the query; inner-product order becomes cosine order)
# ---------------------------------------------------------------------------

_MIPS_K = 5


def _bucket_aug_sql_spark(vcol: str, acol: str) -> str:
    bits = []
    for p in range(_N_PLANES):
        coefs = ", ".join(f"{_plane_coef(p, i)}D" for i in range(_DIM))
        dot = (
            f"aggregate(zip_with({vcol}, array({coefs}), (x, y) -> x * y), "
            f"0D, (acc, v) -> acc + v) + {_plane_coef(p, _DIM)}D * {acol}"
        )
        bits.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return " + ".join(bits)


def _bucket_aug_sql_duck(vcol: str, acol: str) -> str:
    bits = []
    for p in range(_N_PLANES):
        coefs = ", ".join(str(_plane_coef(p, i)) for i in range(_DIM))
        dot = (
            f"list_dot_product(({vcol})::DOUBLE[], [{coefs}]::DOUBLE[])"
            f" + ({_plane_coef(p, _DIM)}) * {acol}"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "sim_mips_transform",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {duck_dot_sql('embedding', 'embedding')} AS n2
      FROM embeddings),
    m AS (SELECT MAX(n2) AS m2 FROM e),
    ea AS (
      SELECT vec_id, embedding,
             {_bucket_aug_sql_duck('embedding', 'sqrt(m.m2 - e.n2)')} AS bucket
      FROM e, m),
    q AS (
      SELECT vec_id, embedding,
             {_bucket_sql_duck('embedding')} AS qb
      FROM embeddings WHERE vec_id < {_N_QUERIES}),
    s AS (
      SELECT q.vec_id AS query_id, ea.vec_id AS nid,
             ROUND({duck_dot_sql('q.embedding', 'ea.embedding')}, 4) AS ip,
             ({_hamming_sql('xor(ea.bucket, q.qb)')}) AS ham
      FROM q JOIN ea ON ea.vec_id <> q.vec_id),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, nid) AS rnk
      FROM s)
    SELECT query_id,
           CAST(SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN ham = 0 AND rnk <= {_MIPS_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN ham = 0 AND rnk <= {_MIPS_K} THEN 1 ELSE 0 END)
                 ::DOUBLE / {_MIPS_K}, 4) AS recall,
           CAST(SUM(CASE WHEN ham <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cand_h2,
           CAST(SUM(CASE WHEN ham <= 2 AND rnk <= {_MIPS_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_h2,
           ROUND(SUM(CASE WHEN ham <= 2 AND rnk <= {_MIPS_K} THEN 1 ELSE 0 END)
                 ::DOUBLE / {_MIPS_K}, 4) AS recall_h2,
           MAX(CASE WHEN rnk = 1 THEN ip END) AS top_ip
    FROM r GROUP BY query_id
    """,
)
def sim_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search served by the COSINE LSH tier via the
    norm-augmentation reduction (Bachrach et al., RecSys'14): every
    corpus vector is extended with a coordinate sqrt(M^2 - |x|^2) (M =
    max corpus norm), queries with 0 — all augmented corpus vectors then
    share norm M, so inner-product order IS cosine order and the
    existing hyperplane buckets (extended by one plane coefficient for
    the new coordinate) serve MIPS unchanged.  The row per query bills
    what a deployment needs: same-augmented-bucket candidate count,
    exact-MIPS top-{_MIPS_K} hits among them, recall@{_MIPS_K}, the same
    three at Hamming probe depth 2 (the ``sim_multiprobe_lsh`` fix,
    applied to the augmented codes), and the true top inner product.
    This matters because recommendation scoring is MIPS, not cosine —
    and this reduction is what lets ONE bucketed index layout serve
    both.

    Plan/scale: M^2 is a 1-row aggregate broadcast onto one corpus scan
    (the tiny-aggregate crossJoin idiom); the scored pass is the family's
    broadcast-query/one-corpus-scan shape with a rank window per query.
    The corpus never shuffles; the augmentation is a codegen'd
    expression, so an existing cosine index layout needs only the one
    extra stored coordinate."""
    e = _corpus(spark, sf_dir).withColumn("n2", F.expr(dot_sql("v", "v")))
    m2 = e.agg(F.max("n2").alias("m2"))
    ea = e.crossJoin(F.broadcast(m2)).withColumn(
        "bucket", F.expr(_bucket_aug_sql_spark("v", "sqrt(m2 - n2)"))
    )
    q = (
        _corpus(spark, sf_dir)
        .where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.expr(_bucket_sql_spark("v")).alias("qb"),
        )
    )
    s = (
        F.broadcast(q)
        .join(ea, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("nid"),
            F.round(F.expr(dot_sql("qv", "v")), 4).alias("ip"),
            F.expr(_hamming_sql("bucket ^ qb")).alias("ham"),
        )
    )
    r = s.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("nid"))
        ),
    )
    topk = F.col("rnk") <= _MIPS_K
    hit0 = ((F.col("ham") == 0) & topk).cast("long")
    hit2 = ((F.col("ham") <= 2) & topk).cast("long")
    return r.groupBy("query_id").agg(
        F.sum((F.col("ham") == 0).cast("long")).alias("n_cand"),
        F.sum(hit0).alias("n_hit"),
        F.round(F.sum(hit0) / _MIPS_K, 4).alias("recall"),
        F.sum((F.col("ham") <= 2).cast("long")).alias("n_cand_h2"),
        F.sum(hit2).alias("n_hit_h2"),
        F.round(F.sum(hit2) / _MIPS_K, 4).alias("recall_h2"),
        F.max(F.when(F.col("rnk") == 1, F.col("ip"))).alias("top_ip"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal rank fusion of BM25 (lexical) and exact
# cosine (dense) rankings over the SAME aligned corpus (doc_id == vec_id)
# ---------------------------------------------------------------------------

from dataframework_spark.operators.text import _BM25_NQ as _RRF_NQ
from dataframework_spark.operators.text import _BM25_SCORED_DUCK, _bm25_scored

_RRF_K = 60  # the standard Cormack/Clarke/Buettcher constant
_RRF_N = 20  # per-system list depth fed into the fusion
_RRF_TOPK = 10


@register(
    "sim_rrf_fusion",
    oracle=f"""
    WITH {_BM25_SCORED_DUCK},
    lex AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT)
               AS lex_rank
      FROM bm25_scored WHERE doc_id <> query_id
      QUALIFY lex_rank <= {_RRF_N}),
    dense AS (
      SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4)
                          DESC,
                        e.vec_id) AS BIGINT) AS dense_rank
      FROM (SELECT * FROM embeddings WHERE vec_id < {_RRF_NQ}) q
      JOIN embeddings e ON e.vec_id <> q.vec_id
      QUALIFY dense_rank <= {_RRF_N}),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id)     AS doc_id,
             l.lex_rank, d.dense_rank,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                   + COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0), 6)
               AS rrf_score
      FROM lex l
      FULL OUTER JOIN dense d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
    SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT)
             AS rank
    FROM fused
    QUALIFY rank <= {_RRF_TOPK}
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher 2009): each of the first {_RRF_NQ} documents queries BOTH
    retrieval systems — BM25 over its tokens (lexical; shares
    ``text_bm25_topk``'s scoring verbatim) and exact cosine over its
    embedding (dense; the testdata aligns ``doc_id == vec_id``) — and the
    two top-{_RRF_N} lists fuse by ``Σ 1/({_RRF_K} + rank)``.  This is
    the production hybrid-search shape (RRF is what OpenSearch/Vespa/
    Azure AI Search run): rank-based fusion needs no score calibration
    between systems, and a document missing from one list simply
    contributes nothing.  Self-matches are excluded on both sides
    ("more-like-this", consistent with ``sim_cosine_topk``).

    Cross-engine exactness: per-system ranks are integers derived from
    already-disciplined keys (BM25 scores fixed-pointed before summing;
    cosine rounded to 4 dp; ties on id), and the fused score is a sum of
    AT MOST TWO doubles — order-independent by construction — rounded to
    6 dp before the final rank.

    Scale shape (100 TB): the lexical side reuses the BM25 plan (one
    corpus explode, broadcast df/query-term joins); the dense side
    broadcasts {_RRF_NQ} query vectors and scans the corpus once; both
    per-system top-{_RRF_N} windows partition by query; the fusion join
    touches ≤ 2·{_RRF_N} rows per query — driver-free, shuffle-light,
    and each system's list can be swapped for its ANN/IVF variant
    without changing the fusion."""
    lex_scored = _bm25_scored(spark, sf_dir).where(F.col("doc_id") != F.col("query_id"))
    wl = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(wl).cast("bigint"))
        .where(F.col("lex_rank") <= _RRF_N)
        .select("query_id", "doc_id", "lex_rank")
    )
    # r12 opt: norms hoisted out of the dense pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = _corpus(spark, sf_dir).withColumn("nv", F.expr(norm_sql("v")))
    q = e.where(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    wd = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    dense = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos"),
        )
        .withColumn("dense_rank", F.row_number().over(wd).cast("bigint"))
        .where(F.col("dense_rank") <= _RRF_N)
        .select(
            F.col("qid").alias("d_query_id"),
            F.col("vec_id").alias("d_doc_id"),
            "dense_rank",
        )
    )
    fused = lex.join(
        dense,
        (F.col("query_id") == F.col("d_query_id"))
        & (F.col("doc_id") == F.col("d_doc_id")),
        "full_outer",
    ).select(
        F.coalesce(F.col("query_id"), F.col("d_query_id")).alias("query_id"),
        F.coalesce(F.col("doc_id"), F.col("d_doc_id")).alias("doc_id"),
        "lex_rank",
        "dense_rank",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rank") <= _RRF_TOPK)
        .select("query_id", "doc_id", "lex_rank", "dense_rank", "rrf_score", "rank")
    )
