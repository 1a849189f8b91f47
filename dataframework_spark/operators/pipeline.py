"""Capstone: the full pretraining-corpus pipeline as ONE composed query.

Everything the §2.10 operators do individually, chained the way a real
training-data build chains them:

    quality filter → exact dedup → near-dup cluster resolution →
    keeper selection → token accounting

The point of this module is *composition*: each stage is the same library
logic the standalone queries use, fused into one lazy plan (plus the
iterative clustering step), and the DuckDB oracle replays the entire
pipeline in a single SQL statement — so the hash check covers stage
*interactions* (e.g. dedup only among quality-passing docs), not just
stages in isolation.

Scale shape: quality scoring and fingerprints are narrow; exact dedup is
one digest shuffle; the near-dup stage is the prefix-filtered index from
``dedup.py``; final accounting is a partial-agg rollup.  Nothing here
adds a shuffle beyond what the stages themselves need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.arrays import DUCK_TEXT_FP_SQL, DUCK_TOKENS_SQL, text_fp, tokens
from dataframework_spark.operators.dedup import _PAIRS_SQL_CTE, dedup_clusters
from dataframework_spark.operators.text import _SW_ARRAY, _SW_DUCK
from dataframework_spark.registry import register

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@register(
    "pipeline_pretrain_corpus",
    eager=True,
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_SQL_CTE},
    nodes AS (SELECT doc_a AS node FROM edges UNION SELECT doc_b FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT CASE WHEN r.node = e.doc_a THEN e.doc_b ELSE e.doc_a END, r.root
      FROM reach r JOIN edges e ON r.node IN (e.doc_a, e.doc_b)),
    comp AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
    scored AS (
      SELECT doc_id, lang, source, text, {DUCK_TOKENS_SQL} AS toks,
        CASE WHEN len({DUCK_TOKENS_SQL}) BETWEEN 30 AND 400 THEN 0.4 ELSE 0.0 END
        + CASE WHEN len(list_distinct({DUCK_TOKENS_SQL}))::DOUBLE
               / len({DUCK_TOKENS_SQL}) >= 0.3 THEN 0.3 ELSE 0.0 END
        + CASE WHEN len(list_filter({DUCK_TOKENS_SQL}, t -> t IN {_SW_DUCK}))::DOUBLE
               / len({DUCK_TOKENS_SQL}) BETWEEN 0.01 AND 0.5 THEN 0.3 ELSE 0.0 END AS q
      FROM documents),
    quality AS (SELECT * FROM scored WHERE q >= 0.7),
    exact_kept AS (
      SELECT * FROM quality
      QUALIFY row_number() OVER (
        PARTITION BY {DUCK_TEXT_FP_SQL}
        ORDER BY doc_id) = 1),
    kept AS (
      SELECT k.* FROM exact_kept k
      LEFT JOIN comp c ON c.doc_id = k.doc_id
      WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id)
    SELECT lang, source,
           COUNT(*)                                                AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT)                          AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS total_bpe_tokens
    FROM kept GROUP BY lang, source
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup → near-dup-cluster-keeper → token
    accounting, per (lang, source).

    Near-dup clustering runs over the WHOLE corpus (pairs don't care about
    quality), but keeper filtering applies to the quality-passing,
    exact-deduped survivors — the stage interaction the single-statement
    oracle pins down.  Docs in no cluster pass through; cluster members
    survive only as the cluster-min keeper."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "lang", "source"])
    t = docs.withColumn("toks", tokens())
    n = F.size("toks").cast("double")
    ttr = F.size(F.array_distinct("toks")) / n
    swr = F.expr(f"size(filter(toks, t -> array_contains({_SW_ARRAY}, t)))") / n
    q = (
        F.when(F.size("toks").between(30, 400), F.lit(0.4)).otherwise(0.0)
        + F.when(ttr >= 0.3, F.lit(0.3)).otherwise(0.0)
        + F.when(swr.between(0.01, 0.5), F.lit(0.3)).otherwise(0.0)
    )
    quality = t.where(q >= 0.7)

    from pyspark.sql.window import Window

    w_fp = Window.partitionBy(text_fp()).orderBy("doc_id")
    exact_kept = (
        quality.withColumn("_rn", F.row_number().over(w_fp)).where(F.col("_rn") == 1).drop("_rn")
    )

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "is_keeper")
    kept = exact_kept.join(clusters, "doc_id", "left").where(
        F.col("is_keeper").isNull() | (F.col("is_keeper") == 1)
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_ws_tokens"),
        F.sum(F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))).alias(
            "total_bpe_tokens"
        ),
    )


@register(
    "pipeline_semantic_dedup",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
        (SELECT CASE WHEN len(t) BETWEEN 30 AND 400 THEN 0.4 ELSE 0.0 END
              + CASE WHEN len(list_distinct(t))::DOUBLE / len(t) >= 0.3 THEN 0.3 ELSE 0.0 END
              + CASE WHEN len(list_filter(t, x -> x IN {_SW_DUCK}))::DOUBLE / len(t)
                     BETWEEN 0.01 AND 0.5 THEN 0.3 ELSE 0.0 END
         FROM (SELECT {DUCK_TOKENS_SQL} AS t)) AS quality
      FROM documents),
    e AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
                    * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))), 4) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE)))
             * sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE)))) >= 0.4)
    SELECT p.doc_a, p.doc_b, p.cos_sim,
           CASE WHEN qa.quality > qb.quality THEN p.doc_a
                WHEN qb.quality > qa.quality THEN p.doc_b
                ELSE LEAST(p.doc_a, p.doc_b) END AS keeper_doc_id
    FROM pairs p
    JOIN q qa ON qa.doc_id = p.doc_a
    JOIN q qb ON qb.doc_id = p.doc_b
    """,
)
def pipeline_semantic_dedup(
    spark: SparkSession, sf_dir: str, n_blocks: int = 4
) -> DataFrame:
    """Cross-modal semantic dedup: embedding cosine decides *duplicate*
    (pairs ≥ 0.4 from the BLAS-blocked ``dedup_embedding_cosine``), text
    quality decides *keeper* (higher heuristic quality wins, ties to the
    lower doc_id) — the policy real corpus builds use, where the survivor
    of a near-dup pair should be the better-written copy, not an
    arbitrary id.

    Composition across BOTH modal tables (documents ⋈ embeddings on
    doc_id = vec_id): the pair table is near-dup-sized (tiny), so the two
    quality lookups are hash joins keyed by doc id against a narrow
    per-doc projection — the corpus text is scanned once, never
    shuffled.  Quality scores are identical IEEE sums of the same
    constants in both engines, so the keeper choice hash-matches
    exactly."""
    from dataframework_spark.operators.dedup import dedup_embedding_cosine

    pairs = dedup_embedding_cosine(spark, sf_dir, n_blocks=n_blocks)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    t = docs.withColumn("toks", tokens())
    n = F.size("toks").cast("double")
    ttr = F.size(F.array_distinct("toks")) / n
    swr = F.expr(f"size(filter(toks, t -> array_contains({_SW_ARRAY}, t)))") / n
    q = t.select(
        "doc_id",
        (
            F.when(F.size("toks").between(30, 400), F.lit(0.4)).otherwise(0.0)
            + F.when(ttr >= 0.3, F.lit(0.3)).otherwise(0.0)
            + F.when(swr.between(0.01, 0.5), F.lit(0.3)).otherwise(0.0)
        ).alias("quality"),
    )
    qa = q.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("quality", "qa")
    qb = q.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("quality", "qb")
    keeper = (
        F.when(F.col("qa") > F.col("qb"), F.col("doc_a"))
        .when(F.col("qb") > F.col("qa"), F.col("doc_b"))
        .otherwise(F.least("doc_a", "doc_b"))
    )
    return (
        pairs.withColumnRenamed("vec_a", "doc_a")
        .withColumnRenamed("vec_b", "doc_b")
        .join(qa, "doc_a")
        .join(qb, "doc_b")
        .select("doc_a", "doc_b", "cos_sim", keeper.alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# Hybrid search capstone — ONE shared BM25 scan feeding both products
# ---------------------------------------------------------------------------

_HYBRID_K = 60  # Cormack/Clarke/Buettcher RRF constant (same as sim_rrf_fusion)
_HYBRID_N = 20  # per-system list depth fed into the fusion
_HYBRID_TOPK = 10


def _hybrid_oracle() -> str:
    from dataframework_spark.operators.text import _BM25_NQ, _BM25_SCORED_DUCK
    from dataframework_spark.functions.arrays import duck_cosine_sql

    return f"""
    WITH {_BM25_SCORED_DUCK},
    scored AS (SELECT * FROM bm25_scored WHERE doc_id <> query_id),
    lex_full AS (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT)
               AS lex_rank
      FROM scored),
    bm25_list AS (
      SELECT 'bm25' AS system, query_id, doc_id, score, lex_rank AS rank
      FROM lex_full WHERE lex_rank <= {_HYBRID_TOPK}),
    lex AS (SELECT query_id, doc_id, lex_rank
            FROM lex_full WHERE lex_rank <= {_HYBRID_N}),
    dense AS (
      SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND({duck_cosine_sql('q.embedding', 'e.embedding')}, 4)
                          DESC,
                        e.vec_id) AS BIGINT) AS dense_rank
      FROM (SELECT * FROM embeddings WHERE vec_id < {_BM25_NQ}) q
      JOIN embeddings e ON e.vec_id <> q.vec_id
      QUALIFY dense_rank <= {_HYBRID_N}),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id)     AS doc_id,
             ROUND(COALESCE(1.0 / ({_HYBRID_K} + l.lex_rank), 0)
                   + COALESCE(1.0 / ({_HYBRID_K} + d.dense_rank), 0), 6)
               AS score
      FROM lex l
      FULL OUTER JOIN dense d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
    rrf_list AS (
      SELECT 'rrf' AS system, query_id, doc_id, score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
      FROM fused
      QUALIFY rank <= {_HYBRID_TOPK})
    SELECT system, query_id, doc_id, score, rank FROM bm25_list
    UNION ALL
    SELECT system, query_id, doc_id, score, rank FROM rrf_list
    """


@register("pipeline_hybrid_search", oracle=_hybrid_oracle())
def pipeline_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid-search SERVING capstone: one shared BM25 scoring pass
    feeds BOTH retrieval products a production stack publishes — the
    standalone lexical top-{_HYBRID_TOPK} ranking AND the RRF fusion of
    lexical + dense lists (``Σ 1/({_HYBRID_K} + rank)``, Cormack/Clarke/
    Buettcher 2009).  ``sim_rrf_fusion`` recomputes its BM25 side under
    the standalone-query discipline (ROUND7.md note 5); HERE the cached
    (doc, term, tf) inverted index inside ``_bm25_scored`` is built once
    and both rankings derive from the SAME scored DataFrame — the corpus
    tokenizes exactly once (plan-pinned by
    ``tests/test_r8_properties.py``), which is what production runs and
    halves the fusion's lexical cost.

    Output: one row per (system, query, rank) — system 'bm25' carries
    the BM25 score, system 'rrf' the fused score.  Self-matches are
    excluded from both products ("more-like-this" retrieval, consistent
    with ``sim_cosine_topk``).

    Cross-engine exactness: inherited wholesale — BM25 contributions are
    fixed-pointed to integer micros before summing, cosine is rounded to
    4 dp before ranking, the fused score is a sum of at most two doubles
    (order-independent), and every rank ties on doc_id.

    Scale shape (100 TB): identical to the standalone queries it fuses —
    one corpus explode builds the cached inverted index; the dense side
    broadcasts the query vectors over one embeddings scan; every window
    partitions by query over hit rows; the fusion join touches
    ≤ 2·{_HYBRID_N} rows per query.  Serving both products from one scan
    is the capstone's point: adding a ranking variant costs one more
    window over the shared scored table, not another corpus pass."""
    from pyspark.sql.window import Window

    from dataframework_spark.functions.arrays import cosine_prenorm_sql, norm_sql
    from dataframework_spark.operators.similarity import _corpus
    from dataframework_spark.operators.text import _BM25_NQ, _bm25_scored

    scored = _bm25_scored(spark, sf_dir).where(F.col("doc_id") != F.col("query_id"))
    wl = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    # r12 opt (guide §1.2): the ranked lexical list feeds TWO products (the
    # standalone bm25 top-{_HYBRID_TOPK} and the fusion's top-{_HYBRID_N}),
    # and Catalyst does not dedupe logical subtrees — without
    # materialization the whole scored pipeline (joins + rank window over
    # the cached inverted index) ran once per product.  The cached frame is
    # ≤ NQ × {_HYBRID_N} rows.
    lex_full = (
        scored.withColumn("lex_rank", F.row_number().over(wl).cast("bigint"))
        .where(F.col("lex_rank") <= _HYBRID_N)
        .cache()
    )
    bm25_list = lex_full.where(F.col("lex_rank") <= _HYBRID_TOPK).select(
        F.lit("bm25").alias("system"),
        "query_id",
        "doc_id",
        "score",
        F.col("lex_rank").alias("rank"),
    )
    lex = lex_full.select("query_id", "doc_id", "lex_rank")
    # r12 opt: norms hoisted out of the dense pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = _corpus(spark, sf_dir).withColumn("nv", F.expr(norm_sql("v")))
    q = e.where(F.col("vec_id") < _BM25_NQ).select(
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
        .where(F.col("dense_rank") <= _HYBRID_N)
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
        F.round(
            F.coalesce(1.0 / (_HYBRID_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_HYBRID_K + F.col("dense_rank")), F.lit(0.0)),
            6,
        ).alias("score"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    rrf_list = (
        fused.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rank") <= _HYBRID_TOPK)
        .select(F.lit("rrf").alias("system"), "query_id", "doc_id", "score", "rank")
    )
    return bm25_list.unionByName(rrf_list)
