"""Deduplication operators: exact + near-dup families (SURVEY.md §2.10).

No reference counterpart (Alrash/DataFramework has no string data at all —
SURVEY.md §2.9); these are the dedup primitives of a pretraining-data
pipeline, each expressed as declarative DataFrame plans with DuckDB oracle
twins.

Scale design (the part that must survive 100 TB):

* **Exact dedup** is a hash-groupBy on a 16-byte digest — the shuffle
  carries (digest, doc_id), never the text.
* **N-gram Jaccard** uses an *inverted-index join* (explode shingles →
  self-join on shingle → count per pair), NOT an O(n²) cross join.  The
  shuffle key is the shingle; frequency-capping drops degenerate shingles
  that would create quadratic hot keys (classic skew control).
* **MinHash+LSH** banding makes candidate generation O(n · bands): docs
  collide only when a band signature matches.  Verification runs only on
  candidates.  The token dictionary (global ``row_number``) exists so the
  DuckDB oracle can replay the exact permutations; the cluster-scale
  variant would hash shingles directly with ``xxhash64`` and skip the
  dictionary entirely (noted per-op).
* **SimHash** reduces each doc to one 16-bit signature (groupBy doc) and
  buckets on signature equality.
* **Embedding near-dup** is brute-force pairwise here (correctness
  baseline); the LSH-bucketed scale path is ``sim_lsh_topk`` in
  ``similarity.py``.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.arrays import (
    DUCK_TOKENS_SQL,
    TOKENS_SQL,
    duck_cosine_sql,
    duck_shingles_sql,
    duck_tid_sql,
    ordered_pairs,
    shingles_sql,
    tid_sql,
    tokens,
)
from dataframework_spark.functions.iterate import fixpoint
from dataframework_spark.registry import register
from dataframework_spark.sources import index_store

# ---------------------------------------------------------------------------
# D1 — exact dedup (hash groupBy on normalized text)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents)
    SELECT fp,
           COUNT(*)    AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM h GROUP BY fp HAVING COUNT(*) >= 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 of whitespace/case-normalized text.

    The shuffle carries only (16-byte digest, doc_id); keeper = min doc_id
    per cluster.  This is the canonical first pass at any scale — at
    100 TB it is one scan + one digest-keyed exchange."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # regex-normalize + digest is CPU-bound; spread a single-split local
    # scan across cores (cluster scans get this from their input splits)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# D2 — n-gram Jaccard near-dup via inverted-index join
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.8  # the synthetic corpus plants 25 pairs at ≥ 0.9


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles_sql('toks')} AS sh FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter::DOUBLE / (sa.n + sb.n - p.inter), 4) AS jaccard
    FROM pair p
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE p.inter::DOUBLE / (sa.n + sb.n - p.inter) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by 3-gram shingle Jaccard ≥ 0.8, via **prefix-filtered
    inverted index** (PPJoin-family, exact — no candidate is lost).

    Two lossless pruning rules make this survive scale where the naive
    inverted-index join (every shared shingle → a pair row) drowns in
    common-shingle hot keys:

    * **prefix filter** — order each doc's shingles globally by
      (document-frequency, shingle), rarest first; a pair with
      Jaccard ≥ t MUST share a shingle inside each doc's first
      ``floor((1-t)·n) + 1`` shingles.  Candidates are generated from
      prefixes only (~1/5 of the index at t=0.8), and prefix shingles are
      by construction the *rarest* — hot keys never enter the join.
    * **size band** — Jaccard ≥ t forces ``t ≤ |A|/|B| ≤ 1/t``; enforced
      in the join condition before any counting.

    Candidates then verify with an exact ``array_intersect`` on the full
    shingle sets.  Same output as the brute formulation (the oracle *is*
    the brute formulation), ~10× less join work at sf0.1, and the gap
    widens with corpus size.

    ``docs`` (optional): a pre-filtered (doc_id, text) frame — the hook
    ``dedup_lsh_eval``'s ``sample_frac`` production knob uses to run the
    exact-truth side on a corpus sample.

    ``shingles`` (optional, r13 opt — guide §1.2): a pre-built, cached
    (doc_id, sh) raw-shingle frame shared with the LSH arm by
    ``dedup_lsh_eval`` — the xxhash64 fold then derives narrowly from
    the cache instead of re-tokenizing the corpus (VERDICT r12 #3)."""
    if shingles is not None:
        s = shingles.select(
            "doc_id",
            F.expr("transform(sh, x -> xxhash64(x))").alias("sh"),
        )
    else:
        if docs is None:
            docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
            # A small local file scans as ONE split; shingling + the index
            # joins are CPU-bound, so spread rows across cores first.  On a
            # cluster the scan's own splits provide this; the repartition
            # keeps the plan correct in both worlds (and its exchange stops
            # Catalyst from inlining the shingle transform into downstream
            # generators, which would re-evaluate it per exploded element).
            docs = docs.repartition(spark.sparkContext.defaultParallelism)
        # r12 opt (guide §2.3 narrower shuffle keys): shingle strings fold to
        # xxhash64 longs at shingling — df-count exchange, prefix window
        # sort, candidate self-join, and the exact ``array_intersect``
        # verification all run on 8-byte ids (collision ~|shingles|²/2⁶⁵; the
        # `dedup_ngram_containment` / `dedup_exact_substring` precedent).
        # The prefix filter stays lossless under ANY consistent global
        # shingle order, so the (df, hashed-id) tie-break changes candidates
        # but never verified output.
        s = docs.withColumn("toks", tokens()).select(
            "doc_id",
            F.expr(f"transform({shingles_sql('toks')}, x -> xxhash64(x))").alias("sh"),
        )
    s = s.withColumn("n", F.size("sh")).cache()  # reused: index build + verification
    inv = s.select("doc_id", "n", F.explode("sh").alias("shingle"))
    df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix length: floor((1-t)*n) + 1 smallest-df shingles per doc
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        inv.join(df_counts, "shingle")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= F.floor(F.lit(1.0 - _JACCARD_THRESHOLD) * F.col("n")) + 1)
        .select("doc_id", "n", "shingle")
    ).cache()  # ~n/5 rows; both sides of the candidate self-join reuse it
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size band: t ≤ |A|/|B| ≤ 1/t, else Jaccard < t is guaranteed
            & (F.col("a.n") >= _JACCARD_THRESHOLD * F.col("b.n"))
            & (F.col("b.n") >= _JACCARD_THRESHOLD * F.col("a.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    ver = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
    )
    jac = F.col("inter") / F.col("uni")
    return ver.where(jac >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# D3 — MinHash + LSH banding
# ---------------------------------------------------------------------------

# 16 universal-hash permutations h_i(x) = (a_i·x + b_i) mod P, banded 4×4.
# Fixed seed ⇒ identical constants are baked into the Spark plan AND the
# oracle SQL, so both engines compute bit-identical signatures.  Each
# MinHash-LSH step is declared once per engine below and shared by the
# batch query, the persisted index (build, serve, append, compact) and the
# streamed ingest: the shingle frame, the signature, the band keys and the
# exact-text keeper; the DuckDB twins are ``lsh_sig_sql``,
# ``lsh_bands_sql`` and ``keeper_ctes``.
_MH_P = 2_147_483_647
_MH_K = 16
_MH_BANDS = 4
_MH_ROWS = _MH_K // _MH_BANDS
_rng = random.Random(42)
_MH_PARAMS = [(_rng.randrange(1, _MH_P), _rng.randrange(0, _MH_P)) for _ in range(_MH_K)]


def _mh_exprs_duck() -> str:
    return ",\n      ".join(
        f"min(({a} * tid::BIGINT + {b}) % {_MH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )


def _band_cols() -> list[str]:
    """The band key of band i: its 4 signature slots joined by commas
    (the same text in both dialects)."""
    return [
        "concat_ws(',', " + ", ".join(f"h{band * _MH_ROWS + r}" for r in range(_MH_ROWS)) + ")"
        for band in range(_MH_BANDS)
    ]


def _text_digest() -> Column:
    """``xh``: the exact-text fingerprint (md5 of the UTF-8 bytes) that
    :func:`_mark_keepers` groups on."""
    return F.md5(F.encode(F.col("text"), "UTF-8")).alias("xh")


def _mark_keepers(frame: DataFrame) -> DataFrame:
    """Adds ``kid``, the min doc_id among the rows sharing ``xh``: each
    exact-text group keeps its ``doc_id = kid`` row and decides the other
    members by digest alone.  One ``xh``-keyed exchange of the narrow rows
    ``frame`` holds (the text never shuffles); a hot template text lands as
    one linear partition, never as a pair blowup."""
    return frame.withColumn("kid", F.min("doc_id").over(Window.partitionBy("xh")))


def _star_edges(marked: DataFrame, score: Column) -> DataFrame:
    """One (keeper, member) edge per non-keeper row of a
    :func:`_mark_keepers` frame: linear in the group size where all-pairs
    would be C(k, 2).  Identical text ⇒ identical signature, so the keeper
    meets every bucket a member would have: components under
    ``dedup_clusters`` are unchanged."""
    return marked.where("doc_id <> kid").select(
        F.col("kid").alias("doc_a"), F.col("doc_id").alias("doc_b"), score
    )


def _shingle_frame(docs: DataFrame, with_xh: bool) -> DataFrame:
    """(doc_id, text) → (doc_id[, xh], sh): each doc's distinct word
    3-gram shingles.  ``toks`` is a column of its own so the shingle
    lambda reads it instead of re-tokenizing per shingle."""
    return docs.withColumn("toks", tokens()).select(
        "doc_id", *([_text_digest()] if with_xh else []), F.expr(shingles_sql("toks")).alias("sh")
    )


def _signatures(s: DataFrame, *keep: str) -> DataFrame:
    """(keep..., sh) → (keep..., nsh, h0..h15): ``nsh`` shingles and the 16
    MinHash minima over the doc's md5-prefix term ids (``tid_sql``; no
    dictionary, no global sort).  Each minimum is a per-row
    ``array_min(transform(...))``: no explode, no exchange.  The term-id
    pass runs once per doc: CollapseProject does not inline the non-cheap
    ``tids`` alias that 17 expressions read.  A doc with no shingles has
    ``nsh = 0`` and NULL minima; DuckDB's unnest gives it no row."""
    tids = s.select(*keep, F.expr(f"transform(sh, t -> {tid_sql('t', _MH_P)})").alias("tids"))
    return tids.select(
        *keep,
        F.size("tids").alias("nsh"),
        *[
            F.expr(f"array_min(transform(tids, t -> pmod({a} * t + {b}, {_MH_P})))").alias(f"h{i}")
            for i, (a, b) in enumerate(_MH_PARAMS)
        ],
    )


def _lsh_band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) → (doc_id, band, bk): one row per band, from one
    ``posexplode`` pass over the signature rows."""
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(b) for b in _band_cols()])).alias("band", "bk"),
    )


def lsh_sig_sql(src: str) -> str:
    """DuckDB twin of :func:`_signatures` over a (doc_id, text) source:
    (doc_id, h0..h15), docs without shingles dropped."""
    return (
        f"SELECT doc_id, {_mh_exprs_duck()} FROM ("
        f"SELECT doc_id, {duck_tid_sql('shingle', _MH_P)} AS tid FROM ("
        f"SELECT doc_id, unnest({duck_shingles_sql('toks')}) AS shingle FROM ("
        f"SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM {src}))) GROUP BY doc_id"
    )


def lsh_bands_sql(sig: str) -> str:
    """DuckDB twin of :func:`_lsh_band_frame`."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {band} AS bk, {i} AS band FROM {sig}"
        for i, band in enumerate(_band_cols())
    )


def keeper_ctes(p: str, src: str) -> str:
    """DuckDB twin of :func:`_mark_keepers` over a (doc_id, text) source:
    ``{p}_d`` (doc_id, text, xh), ``{p}_k`` (xh, kid), ``{p}_reps``
    (doc_id, text), one keeper row per distinct text, and ``{p}_dup``
    (kid, doc_id), every other member with its keeper."""
    return f"""{p}_d AS (SELECT doc_id, text, md5(text) AS xh FROM {src}),
    {p}_k AS (SELECT xh, MIN(doc_id) AS kid FROM {p}_d GROUP BY xh),
    {p}_reps AS (
      SELECT d.doc_id, d.text FROM {p}_d d
      JOIN {p}_k k ON k.xh = d.xh AND k.kid = d.doc_id),
    {p}_dup AS (
      SELECT k.kid, d.doc_id FROM {p}_d d
      JOIN {p}_k k ON k.xh = d.xh WHERE d.doc_id <> k.kid)"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {keeper_ctes('x', 'documents')},
    t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM x_reps),
    s AS (SELECT doc_id, {duck_shingles_sql('toks')} AS sh FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    sig AS ({lsh_sig_sql('x_reps')}),
    bands AS ({lsh_bands_sql('sig')}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
    ver AS (
      SELECT c.doc_a, c.doc_b, len(list_intersect(sa.sh, sb.sh)) AS inter,
             sza.n + szb.n AS tot
      FROM cand c
      JOIN s sa ON sa.doc_id = c.doc_a JOIN s sb ON sb.doc_id = c.doc_b
      JOIN sz sza ON sza.doc_id = c.doc_a JOIN sz szb ON szb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, ROUND(inter::DOUBLE / (tot - inter), 4) AS jaccard
    FROM ver WHERE inter::DOUBLE / (tot - inter) >= {_JACCARD_THRESHOLD}
    UNION ALL
    SELECT kid AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard FROM x_dup
    """,
)
def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    precollapse: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash (16 perms) + LSH banding (4 bands × 4 rows) near-dedup.

    Candidate generation is O(docs × bands) — docs meet only on equal band
    signatures — then exact Jaccard verifies candidates.  At Jaccard 0.9
    the banding catches a pair with p ≈ 0.986; both engines compute the
    same signatures, so the oracle is still exact.

    Signatures are narrow per-doc array folds (:func:`_signatures`), so
    the only corpus-sized exchanges are the ``xh`` keeper window (8-byte
    signature slots, not shingle strings) and the verification joins.

    ``precollapse`` (default; the registered semantics): docs sharing
    ``md5(text)`` fold to their min-doc_id keeper BEFORE banding, and each
    exact-duplicate group emits linear (keeper, member) star edges at
    jaccard 1.0 (:func:`_star_edges`) instead of the C(k,2) all-pairs
    expansion.  A 100k-copy boilerplate flood then costs one bucket entry
    + 100k star rows instead of a single-task 5×10⁹-struct ``collect_set``
    array.  Star edges are digest-decided, so they also cover exact-dup
    docs too short to shingle.  ``precollapse=False`` keeps the exact
    all-pairs form (eval/truth tier).

    ``docs`` (optional): a pre-filtered (doc_id, text) frame — used by
    ``dedup_lsh_eval(sample_frac=...)`` to price the banding on a sample.

    ``shingles`` (optional): a pre-built, cached (doc_id, xh, sh)
    :func:`_shingle_frame`.  ``dedup_lsh_eval`` runs BOTH this query and
    the exact-Jaccard truth tier over the same corpus and shares one, so
    the corpus is tokenized and shingled once."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        # single-split local scan → spread CPU-bound shingling across cores
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    star = None
    if precollapse:
        if shingles is not None:
            s = shingles
        else:
            s = _shingle_frame(docs, with_xh=True)
            s.cache()  # verification + the signature branch both derive from it
        # Signatures are computed per doc BELOW the keeper window:
        # exact-dup texts have identical signatures by construction, so
        # keeper selection loses nothing, and the xh exchange moves
        # (doc_id, xh, nsh, h0..h15), ~170 B/doc, instead of a per-doc
        # shingle or term-id array.  The cost is 16 ``array_min``s per
        # duplicate doc, trivial next to the md5 term-id pass.
        marked = _mark_keepers(_signatures(s, "doc_id", "xh"))
        marked.cache()  # both branches (keeper signatures + star edges) derive from it
        sig = marked.where("doc_id = kid").where(F.col("nsh") > 0).select(
            "doc_id", *[f"h{i}" for i in range(_MH_K)]
        )
        star = _star_edges(marked, F.lit(1.0).alias("jaccard"))
        s = s.select("doc_id", "sh")
    else:
        if shingles is not None:
            s = shingles.select("doc_id", "sh")
        else:
            s = _shingle_frame(docs, with_xh=False)
            s.cache()  # reused: signature branch AND verification
        sig = _signatures(s, "doc_id").where(F.col("nsh") > 0).drop("nsh")
    bands = _lsh_band_frame(sig)
    # Candidate generation is NOT a self-join: the band table is
    # CORPUS-sized, and a self-join invites Catalyst to broadcast a side
    # whose columnar size estimate (~tens of MB) hides a 10× JVM build
    # cost — reproduced as a driver OOM at a 100× replica by
    # tools/scale_probe.py.  Instead group each (band, bucket) and expand
    # doc-id pairs NARROWLY inside the bucket (same pattern as
    # join_basket_affinity): one exchange, no join, nothing to broadcast.
    # Bucket pair expansion is quadratic in bucket size and uncapped: a
    # mega bucket is a genuine duplicate cluster, whose pairs every
    # candidate scheme must emit anyway.
    buckets = bands.groupBy("band", "bk").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    cand = (
        buckets.where(F.size("ids") >= 2)
        .select(F.explode(ordered_pairs("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Verification joins are pinned to shuffled-hash: measured against
    # the alternatives at sf0.1 AND a 100x replica, letting Catalyst
    # choose here broadcasts the shingle-set side from a stale small
    # estimate (5.0-6.6 s at sf0.1, driver OOM at 100x), while
    # shuffle_hash holds 2.7-3.4 s locally and completes at 100x.  The
    # shingle sets are the data-sized side at any real scale.  The verify
    # exchange moves 8-byte xxhash64 shingle ids, not the ~20-25 B
    # shingle strings, and the exact `array_intersect` compares longs
    # (collision odds: the repo's accepted |shingles|²/2⁶⁵ argument); the
    # signatures keep the oracle-matched md5 term ids.
    sa = s.select(
        F.col("doc_id").alias("doc_a"),
        F.expr("transform(sh, x -> xxhash64(x))").alias("sh_a"),
    ).hint("shuffle_hash")
    sb = s.select(
        F.col("doc_id").alias("doc_b"),
        F.expr("transform(sh, x -> xxhash64(x))").alias("sh_b"),
    ).hint("shuffle_hash")
    ver = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("tot", F.size("sh_a") + F.size("sh_b"))
    )
    jac = F.col("inter") / (F.col("tot") - F.col("inter"))
    out = ver.where(jac >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )
    if star is not None:
        out = out.unionByName(star)
    return out


# ---------------------------------------------------------------------------
# D4 — SimHash (16-bit) signature buckets
# ---------------------------------------------------------------------------

_SH_BITS = 16
_SH_MUL = 2_654_435_761
_SH_ADD = 104_729
_SH_MOD = 4_294_967_296  # 2^32


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash signatures — the stage under
    ``dedup_simhash``, exposed so scale probes can decompose bucket pair
    mass (same-copy structure vs cross-copy birthday collisions) without
    reimplementing the signature math."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    feat = docs.select("doc_id", F.explode(tokens()).alias("token"))
    ft = feat.select(
        "doc_id",
        F.expr(
            f"pmod({_SH_MUL}L * ({tid_sql('token', _MH_P)}) + {_SH_ADD}, {_SH_MOD})"
        ).alias("g"),
    )
    bit_sum = [
        F.sum(F.when(F.expr(f"(g >> {j}) & 1 = 1"), 1).otherwise(-1)).alias(f"s{j}")
        for j in range(_SH_BITS)
    ]
    sig = ft.groupBy("doc_id").agg(*bit_sum)
    simhash = None
    for j in range(_SH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sig.select("doc_id", simhash.alias("simhash"))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    feat AS (SELECT doc_id, unnest(toks) AS token FROM t),
    ft AS (SELECT doc_id,
           ({_SH_MUL}::BIGINT * ({duck_tid_sql('token', _MH_P)}) + {_SH_ADD}) % {_SH_MOD} AS g
           FROM feat),
    sig AS (
      SELECT doc_id,
        {" + ".join(f"(CASE WHEN SUM(CASE WHEN (g >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(_SH_BITS))}
        AS simhash
      FROM ft GROUP BY doc_id)
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
    FROM sig GROUP BY simhash HAVING COUNT(*) > 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over token multisets; buckets with > 1 doc are dup
    candidates (equal-signature LSH).

    Each doc reduces to one small integer — the groupBy(doc) shuffle
    carries (doc_id, token-hash) and the bucket join is on a 2-byte key.
    Token weights are multiset counts (duplicated tokens count), which is
    what makes shuffled near-copies collide.  Token ids come from the
    cross-dialect md5-prefix hash (``tid_sql``) — dictionary-free, so the
    only shuffle is the groupBy(doc_id) signature fold."""
    return (
        simhash_signatures(spark, sf_dir)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# D4b — 64-bit SimHash + Hamming-distance banding (the production form)
# ---------------------------------------------------------------------------

# The r9 token-rename probe (SCALEPROBE_TEXTMUT_r9.json) measured the
# 16-bit teaching hash's n²/2¹⁶ birthday term directly; this is the
# documented fix registered as an operator: 64 signature bits (birthday
# term ~n²/2⁶⁴ ≈ 0) with Charikar/Manku-style banding — split the
# signature into B = 4 contiguous 16-bit bands; two signatures within
# Hamming distance r < B must agree EXACTLY on ≥ 1 band (pigeonhole), so
# band-equality candidate generation is LOSSLESS for the r = 3 verify.

_SH64_R = 3  # Hamming radius; < _SH64_BANDS so banding loses nothing
_SH64_BANDS = 4  # 4 × 16-bit bands


def _sh64_sum_exprs_spark() -> list:
    """64 per-bit majority sums over two md5-salted 32-bit token hashes
    (bits 0-31 from salt 'sh64a:', 32-63 from 'sh64b:')."""
    out = []
    for j in range(64):
        g = "ga" if j < 32 else "gb"
        out.append(
            F.sum(
                F.when(F.expr(f"(shiftright({g}, {j % 32}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"s{j}")
        )
    return out


def _sh64_sig_sql(engine: str) -> str:
    """Bitwise-OR fold of the 64 majority verdicts into one signed
    BIGINT.  Bit 63 needs the min-bigint literal: DuckDB range-checks
    ``1::BIGINT << 63`` (Spark's shiftleft wraps, but the literal keeps
    the two expressions textually parallel)."""
    parts = []
    for j in range(64):
        one = (
            "(-9223372036854775807 - 1)"
            if j == 63
            else (f"(1::BIGINT << {j})" if engine == "duck" else f"(shiftleft(cast(1 as bigint), {j}))")
        )
        zero = "0::BIGINT" if engine == "duck" else "cast(0 as bigint)"
        parts.append(f"(CASE WHEN s{j} > 0 THEN {one} ELSE {zero} END)")
    return " | ".join(parts)


def _sh64_duck_bitsums() -> str:
    tid_a = duck_tid_sql("'sh64a:' || token", 1 << 32)
    tid_b = duck_tid_sql("'sh64b:' || token", 1 << 32)
    return ",\n      ".join(
        f"SUM(CASE WHEN ((({tid_a if j < 32 else tid_b}) >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(64)
    )


def simhash64_signatures(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Per-document 64-bit SimHash signatures — one corpus scan, one
    map-side-combinable groupBy(doc_id); the 64 conditional sums stay
    inside whole-stage codegen."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    feat = docs.select("doc_id", F.explode(tokens()).alias("token"))
    ft = feat.select(
        "doc_id",
        F.expr(tid_sql("concat('sh64a:', token)", 1 << 32)).alias("ga"),
        F.expr(tid_sql("concat('sh64b:', token)", 1 << 32)).alias("gb"),
    )
    bitsum = ft.groupBy("doc_id").agg(*_sh64_sum_exprs_spark())
    return bitsum.select("doc_id", F.expr(_sh64_sig_sql("spark")).alias("sig"))


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {keeper_ctes('x', 'documents')},
    feat AS (SELECT doc_id, unnest({DUCK_TOKENS_SQL}) AS token FROM x_reps),
    bitsum AS (SELECT doc_id, {_sh64_duck_bitsums()} FROM feat GROUP BY doc_id),
    sig AS (SELECT doc_id, {_sh64_sig_sql('duck')} AS sig FROM bitsum)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_SH64_R}
    UNION ALL
    SELECT kid AS doc_a, doc_id AS doc_b, CAST(0 AS INT) AS hamming FROM x_dup
    """,
)
def dedup_simhash_hamming(
    spark: SparkSession,
    sf_dir: str,
    precollapse: bool = True,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash within Hamming distance ≤ 3,
    via LOSSLESS band-bucket candidate generation — the production form
    of `dedup_simhash` (Manku, Jain & Sarma, WWW 2007: simhash dedup at
    web scale runs exactly this shape at f = 64, k = 3).

    ``precollapse`` (default; the registered semantics, as in
    ``dedup_minhash_lsh``): exact-duplicate docs fold to their
    min-doc_id keeper by ``md5(text)`` before the band self-join, and
    each group emits linear (keeper, member) star edges at hamming 0
    (:func:`_star_edges`) instead of C(k,2) all-pairs, so an exact-dup
    flood can no longer square the candidate join.  The digest frames
    are narrow (doc_id + 16-byte hash); the signature join that drops
    the members is on doc_id.  ``precollapse=False`` keeps the
    all-pairs form.

    Why this exists next to the 16-bit bucket version: the token-rename
    probe measured the 16-bit key's n²/2¹⁶ birthday pair
    mass directly (SCALEPROBE_TEXTMUT_r9.json) — at 64 bits that term is
    ~n²/2⁶⁴ ≈ 0, so every emitted pair is token-distribution signal,
    not key-width accident.  Equal-width SQL on both engines keeps the
    signature integer-exact: two md5-salted 32-bit token hashes supply
    the 64 bit sources, the per-bit majority fold is ONE map-side-
    combinable aggregate, and the signed-BIGINT signature is built by a
    bitwise-OR chain both dialects evaluate identically.

    Scale shape: candidates come from exploding each signature into
    {_SH64_BANDS} contiguous 16-bit bands and self-joining on
    (band_idx, band_value) — two signatures within Hamming ≤
    {_SH64_R} < {_SH64_BANDS} bands MUST share a band unchanged
    (pigeonhole), so the bucket join finds every true pair (guard-tested
    against the brute-force oracle, which IS the all-pairs formulation).
    The corpus crosses the wire once for the signature fold; the band
    exchange carries 4 × (2-byte key, doc_id, 8-byte sig) rows per doc,
    and the Hamming verify runs on candidate pairs only — at 100 TB the
    band value is the partition-pruning key and the all-pairs oracle
    formulation is what this plan exists to avoid."""
    sig = simhash64_signatures(spark, sf_dir, docs=docs)
    star = None
    if precollapse:
        if docs is None:
            docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        mem = _mark_keepers(docs.select("doc_id", _text_digest())).cache()  # star + reps
        star = _star_edges(mem, F.lit(0).cast("int").alias("hamming"))
        reps = mem.where(F.col("doc_id") == F.col("kid")).select("doc_id")
        sig = sig.join(reps.hint("shuffle_hash"), "doc_id")
    sig = sig.cache()  # both join sides
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SH64_BANDS - 1}), "
                f"b -> struct(b as band, shiftright(sig, 16 * b) & 65535 as bv))"
            )
        ).alias("g"),
    ).select("doc_id", "sig", "g.band", "g.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(sa ^ sb)")
    out = cand.where(ham <= _SH64_R).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )
    if star is not None:
        out = out.unionByName(star)
    return out


# ---------------------------------------------------------------------------
# D5 — embedding-cosine near-dup (brute-force correctness baseline)
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.4  # calibrated: synthetic embeddings max-cos ≈ 0.51


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({duck_cosine_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {duck_cosine_sql('a.embedding', 'b.embedding')} >= {_COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, n_blocks: int = 4
) -> DataFrame:
    """Embedding near-dup pairs: pairwise cosine ≥ 0.4 (threshold
    calibrated to the synthetic corpus, which has no true vector dups).

    All-pairs dense cosine is BLAS territory, not expression territory:
    Spark's higher-order lambdas (``zip_with``/``aggregate``) run
    *interpreted* per pair — O(n²·d) interpreted ops took ~60 s at sf0.1.
    This implementation is a distributed **block nested-loop GEMM** with
    nothing driver-resident (the r1 version ``toPandas()``-collected the
    whole corpus to build a broadcast matrix — driver OOM at scale):

    1. every vector is hashed into one of ``B`` blocks
       (``pmod(xxhash64(vec_id), B)``),
    2. each row is replicated to the B block-pairs it participates in
       (left side of (bid, j≥bid), right side of (i<bid, bid)) — a narrow
       explode, then ONE shuffle on the (gi, gj) group key,
    3. each ``applyInPandas`` group holds exactly two blocks (one on the
       diagonal) and runs a single f64 GEMM over them.

    Per-task memory is O((n/B)·d) for the inputs and O((n/B)²) for the
    similarity tile — ``n_blocks`` is the exposed knob (r8): the default
    4 is the registered sf-test sizing; a scale caller sizes
    B ≈ n / rows_per_block so a tile fits an executor, independent of
    corpus size.  Blocking is a PARTITION of the pair space, so the
    result is EXACT and identical for every B (guard-tested).  Exact
    all-pairs is inherently
    O(n²·d) compute; at 100 TB the *approximate* tier (LSH buckets /
    IVF cells, ``sim_lsh_topk`` partitioning) bounds candidates instead —
    this operator is the exact-correctness tier that the approximate ones
    are measured against (``dedup_lsh_eval``).  Emits each pair once
    (vec_a < vec_b)."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    participate = (
        f"concat("
        f"transform(sequence(bid, {n_blocks - 1}),"
        f" j -> struct(bid as gi, j as gj, true as is_left)),"
        f"case when bid = 0 then array()"
        f" else transform(sequence(0, bid - 1),"
        f" i -> struct(i as gi, bid as gj, false as is_left)) end"
        f")"
    )
    # inline, not explode + g.gi/g.gj: the generated projection read the
    # struct's fields in an order that could differ between builds of the
    # same plan, so a re-run could compile it as a new class
    blocks = e.withColumn(
        "bid", F.expr(f"cast(pmod(xxhash64(vec_id), {n_blocks}) as int)")
    ).select("vec_id", "embedding", F.inline(F.expr(participate)))

    def block_pairs(key, pdf):
        gi, gj = key
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        mat = np.array(pdf["embedding"].tolist(), dtype="float64")
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if gi == gj:  # diagonal: rows appear once (as left); self-GEMM
            sims = mat @ mat.T
            li, rj = np.nonzero((sims >= _COS_THRESHOLD) & (ids[:, None] < ids[None, :]))
            a, b = ids[li], ids[rj]
        else:
            left = pdf["is_left"].to_numpy(dtype=bool)
            l_ids, r_ids = ids[left], ids[~left]
            if not len(l_ids) or not len(r_ids):
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
            sims = mat[left] @ mat[~left].T
            li, rj = np.nonzero(sims >= _COS_THRESHOLD)
            a = np.minimum(l_ids[li], r_ids[rj])
            b = np.maximum(l_ids[li], r_ids[rj])
        return pd.DataFrame(
            {"vec_a": a, "vec_b": b, "cos_sim": np.round(sims[li, rj], 4)}
        )

    return blocks.groupBy("gi", "gj").applyInPandas(
        block_pairs, schema="vec_a bigint, vec_b bigint, cos_sim double"
    )


# ---------------------------------------------------------------------------
# D6 — cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

# the pair graph (same semantics as dedup_ngram_jaccard's oracle), reused
# as a CTE by the clustering oracle
_PAIRS_SQL_CTE = f"""
    t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles_sql('toks')} AS sh FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    edges AS (
      SELECT p.doc_a, p.doc_b
      FROM pair p
      JOIN sz sa ON sa.doc_id = p.doc_a
      JOIN sz sb ON sb.doc_id = p.doc_b
      WHERE p.inter::DOUBLE / (sa.n + sb.n - p.inter) >= {_JACCARD_THRESHOLD})
"""


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of the undirected graph ``edges`` (``a``,
    ``b``): one ``(node, root)`` row per node, ``root`` = the smallest node
    id in its component.  Min-label propagation: each round every node
    takes the smallest root among itself and its neighbours.  Roots only
    decrease, so :func:`fixpoint`, uncapped, stops within (component
    diameter + 1) rounds.  At 100 TB this is GraphX / GraphFrames
    connected components, kept dependency-free."""
    edges = edges.cache()  # read twice per round
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )

    def step(labels: DataFrame) -> DataFrame:
        m1 = edges.join(labels, edges.a == labels.node).select(F.col("b").alias("node"), "root")
        m2 = edges.join(labels, edges.b == labels.node).select(F.col("a").alias("node"), "root")
        return (
            labels.select("node", "root", F.col("root").alias("prev"))
            .unionByName(m1, allowMissingColumns=True)
            .unionByName(m2, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("root").alias("root"), F.min("prev").alias("prev"))
        )

    labels = fixpoint(
        nodes.withColumn("root", F.col("node")), step, None, changed=F.col("root") != F.col("prev")
    )
    return labels.select("node", "root")


@register(
    "dedup_clusters",
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
    comp AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node)
    SELECT c.doc_id, c.cluster_id,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
           CAST(c.doc_id = c.cluster_id AS INT)      AS is_keeper
    FROM comp c
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution: connected components over the near-dup pair
    graph (:func:`connected_components`), the step that turns pairwise
    matches into keep/drop decisions — pairs are NOT transitive closures
    (A~B, B~C ⇏ A~C pairwise), so real dedup clusters need this.  Keeper
    = cluster minimum, the same rule as ``dedup_exact``."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = connected_components(
        pairs.select(F.col("doc_a").cast("bigint").alias("a"), F.col("doc_b").cast("bigint").alias("b"))
    )
    w = Window.partitionBy("root")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("root").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("root")).cast("int").alias("is_keeper"),
    )


@register(
    "dedup_contamination",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles_sql('toks', 8)} AS sh FROM t),
    ev AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS shingle
           FROM s WHERE doc_id % 2 = 1),
    tr AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 2 = 0)
    SELECT ev.doc_id, ev.n_shingles,
           COUNT(*) AS n_shared,
           ROUND(COUNT(*)::DOUBLE / ev.n_shingles, 4) AS contamination
    FROM ev JOIN tr USING (shingle)
    GROUP BY ev.doc_id, ev.n_shingles
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: for every eval-split document (odd
    doc_id — stand-in for a held-out benchmark), the number and fraction of
    its 8-gram shingles that also occur anywhere in the train split — the
    n-gram-collision decontamination pass run before any benchmark is
    trusted.

    Scale shape: both sides reduce to (shingle, doc) pairs map-side; the
    train side is ``distinct``-ed so each shingle crosses the wire once,
    and the single shuffle key is the shingle — identical to the
    inverted-index discipline of ``dedup_ngram_jaccard``.  The eval side of
    a real pipeline is benchmark-sized (tiny), making the join effectively
    broadcast; here both sides come from the same table so the generic
    hash-join shape is exercised.  Two wire-cost cuts (4.3 s → 2.7 s at
    sf0.1): shingles are folded to 64-bit ``xxhash64`` keys inside the row
    (8 bytes cross the wire, not ~50-char strings; a spurious count needs
    an eval-shingle/train-shingle collision, ~n²/2⁶⁴ ≈ 1e-7 here — the
    oracle still hash-matches on the real strings), and the shingle set is
    computed once and ``cache()``d instead of re-tokenizing per side.
    8-gram docs shorter than 8 tokens have no shingles and cannot be
    flagged — the standard definition."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # tokenization + 8-gram hashing is CPU-bound; spread the single-split
    # local scan across cores before computing the cached shingle sets
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t = docs.withColumn("toks", tokens())
    s = t.select(
        "doc_id",
        F.expr(f"transform({shingles_sql('toks', 8)}, x -> xxhash64(x))").alias("sh"),
    ).cache()
    ev = s.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("shingle")
    )
    tr = s.where(F.col("doc_id") % 2 == 0).select(F.explode("sh").alias("shingle")).distinct()
    return (
        ev.join(tr, "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_shingles"), 4).alias(
                "contamination"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Latest-row compaction: CDC snapshot (keep newest row per key)
# ---------------------------------------------------------------------------


@register(
    "dedup_latest_snapshot",
    oracle="""
    SELECT user_id, event_type,
           round(arg_max(value, ts), 2) AS last_value,
           max(ts) AS last_ts,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM events GROUP BY 1, 2
    """,
)
def dedup_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: collapse an append-only change stream to the
    newest row per (user, type) key — the materialized "current state"
    every upsert sink needs.  ``max_by`` folds the pick into the SAME
    single aggregate as the version count (no row_number window, no
    second pass); (user_id, ts) uniqueness makes the winner
    deterministic.  This is the batch twin of
    ``stream_stateful_user_totals``' state and the compaction step
    upstream of ``events_scd2_state``'s history build.  One shuffle on
    the key; at 100 TB it is exactly parquet upsert-compaction."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type", "ts", "value"])
    return ev.groupBy("user_id", "event_type").agg(
        F.round(F.max_by("value", "ts"), 2).alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_versions"),
    )


# ---------------------------------------------------------------------------
# LSH banding quality: precision/recall vs the exact-Jaccard ground truth
# ---------------------------------------------------------------------------

from dataframework_spark.registry import get_spec as _get_spec

_LSH_PAIRS_ORACLE = _get_spec("dedup_minhash_lsh").oracle
_EXACT_PAIRS_ORACLE = _get_spec("dedup_ngram_jaccard").oracle


def _doc_sample_pred(frac: float, salt: str):
    """Deterministic, portable doc sample: md5-prefix hash of doc_id
    thresholded at ``frac`` (the ``sample_seeded_fraction`` discipline —
    no RNG state, identical membership on every engine and every run)."""
    expr = (
        f"cast(conv(substring(md5(concat('{salt}:', cast(doc_id as string))), "
        "1, 15), 16, 10) as bigint) % 1000000"
    )
    return F.expr(expr) < int(round(frac * 1_000_000))


def _check_frac(frac: float, name: str) -> None:
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"{name} must be in (0, 1], got {frac!r}")


@register(
    "dedup_lsh_eval",
    oracle=f"""
    WITH lsh AS ({_LSH_PAIRS_ORACLE}),
    truth AS ({_EXACT_PAIRS_ORACLE}),
    hits AS (SELECT 1 FROM lsh JOIN truth
             ON lsh.doc_a = truth.doc_a AND lsh.doc_b = truth.doc_b)
    SELECT (SELECT COUNT(*) FROM lsh)   AS n_candidates,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hits)  AS n_hits,
           CASE WHEN (SELECT COUNT(*) FROM lsh) <> 0 THEN
             round((SELECT COUNT(*) FROM hits) * 1.0
                   / (SELECT COUNT(*) FROM lsh), 4) END   AS precision,
           CASE WHEN (SELECT COUNT(*) FROM truth) <> 0 THEN
             round((SELECT COUNT(*) FROM hits) * 1.0
                   / (SELECT COUNT(*) FROM truth), 4) END AS recall
    """,
)
def dedup_lsh_eval(
    spark: SparkSession, sf_dir: str, sample_frac: float = 1.0
) -> DataFrame:
    """Precision/recall of MinHash-LSH banding against the exact
    prefix-filtered n-gram-Jaccard pairs — the tuning loop for
    bands×rows: banding trades recall for candidate count, and this
    query IS the measurement (composed from both registered queries AND
    their oracles, so the metric itself is hash-checked).

    ``sample_frac`` is the production escape hatch (VERDICT r5 #5): the
    truth side is the quadratic-ish thing LSH exists to avoid, so at
    100 TB you price the banding on a deterministic hash-sample of the
    corpus instead of all of it.  With ``sample_frac < 1`` BOTH sides
    run on the same md5-thresholded doc subset, so precision/recall stay
    unbiased estimates of the sub-corpus metric (a pair is measured iff
    both endpoints sampled — the standard pair-sampling estimator);
    membership is engine- and run-deterministic, no RNG state.  The
    registered query keeps ``sample_frac=1.0`` — exact semantics, oracle
    unchanged; the join here is pair-keyed and tiny either way.
    NULL-on-empty: a sample with zero candidates (or zero truth pairs)
    reports NULL precision (recall) explicitly on both engines rather
    than relying on Spark's non-ANSI x/0."""
    _check_frac(sample_frac, "sample_frac")
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    if sample_frac < 1.0:
        docs = docs.where(_doc_sample_pred(sample_frac, "lsheval"))
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # BOTH tiers consume the same per-doc shingle sets: one shared, cached
    # (doc_id, xh, sh) frame spares each arm its own corpus-sized
    # tokenize + shingle pass.
    shared = _shingle_frame(docs, with_xh=True).cache()
    # r12 opt (guide §1.2 "don't compute things you throw away"): each pair
    # list feeds TWO consumers (its own count + the hits join), and Catalyst
    # does not dedupe identical logical subtrees — only physically identical
    # exchanges get ReuseExchange, so without materialization the banding
    # and verification pipelines re-ran once per consumer (28 parquet scans
    # in the before-plan vs 11 after).  Both frames are candidate-pair-sized
    # (bounded output of the registered queries), so the cache is tiny.
    lsh = (
        dedup_minhash_lsh(spark, sf_dir, shingles=shared)
        .select("doc_a", "doc_b")
        .cache()
    )
    truth = (
        dedup_ngram_jaccard(spark, sf_dir, shingles=shared)
        .select(F.col("doc_a").alias("ta"), F.col("doc_b").alias("tb"))
        .cache()
    )
    hits = lsh.join(
        truth, (F.col("doc_a") == F.col("ta")) & (F.col("doc_b") == F.col("tb"))
    )
    counts = (
        lsh.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    # guard the ratios: with a small sample_frac the sampled sub-corpus can
    # legitimately yield zero candidates or zero truth pairs, and Spark's
    # non-ANSI x/0 would emit NULL silently while the intent is explicit
    # NULL-on-empty semantics on BOTH engines (r6 ADVICE; mirrors the
    # events_autocorrelation den<>0 discipline)
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_hits",
        F.when(
            F.col("n_candidates") != 0,
            F.round(F.col("n_hits") * 1.0 / F.col("n_candidates"), 4),
        ).alias("precision"),
        F.when(
            F.col("n_truth") != 0,
            F.round(F.col("n_hits") * 1.0 / F.col("n_truth"), 4),
        ).alias("recall"),
    )


_CONTAIN_T = 0.85  # containment threshold (quote / near-superset detection)


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, {duck_shingles_sql('toks')} AS sh FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter::DOUBLE / sa.n, 4) AS containment
    FROM pair p
    JOIN sz sa ON sa.doc_id = p.doc_a
    WHERE p.inter::DOUBLE / sa.n >= {_CONTAIN_T}
    """,
)
def dedup_ngram_containment(
    spark: SparkSession, sf_dir: str, probe_sample_frac: float = 1.0
) -> DataFrame:
    """DIRECTIONAL near-dup detection: ordered pairs (a → b) where
    ``|A∩B| / |A| ≥ {_CONTAIN_T}`` on 3-gram shingles — containment
    (Broder's resemblance's asymmetric sibling).  This is the
    quote/excerpt/near-superset detector: a short document embedded in a
    longer one scores high containment but LOW Jaccard, so Jaccard dedup
    misses it.

    Scale shape (asymmetric prefix filter): the probe side A can miss at
    most ``floor((1-t)·|A|)`` shingles, so it must share one of its
    ``floor((1-t)·|A|) + 1`` RAREST shingles with B — only those rows
    probe the index.  There is no size band (B may be arbitrarily
    larger), so instead the index side is SEMI-JOINED down to shingles
    that occur in at least one probe prefix — rare by construction, which
    keeps hot shingles out of the candidate exchange entirely.  Verify is
    an exact ``array_intersect`` over the full sets, so the pruning is
    lossless and the brute-force oracle matches exactly.

    ``probe_sample_frac`` is the production escape hatch (VERDICT r5 #5):
    containment is directional, so auditing a deterministic hash-sample
    of PROBE documents against the FULL index is still exact per audited
    doc — the output is precisely the full result restricted to sampled
    ``doc_a``.  Document frequencies and the index side stay global, so
    the prefix filter remains lossless.  The registered query keeps
    ``probe_sample_frac=1.0`` — exact semantics, oracle unchanged."""
    _check_frac(probe_sample_frac, "probe_sample_frac")
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # r12 opt (guide §2.3 narrower shuffle keys): shingle STRINGS are
    # folded to xxhash64 longs right after shingling and never travel
    # again — the df-count exchange, the prefix window sort, the semi
    # join, the candidate exchange, and the exact verification
    # ``array_intersect`` all run on 8-byte ids (the
    # `dedup_exact_substring` / `text_boilerplate_ngrams` precedent;
    # collision odds ~|shingles|²/2⁶⁵).  The prefix filter stays lossless
    # under ANY consistent global shingle order (rarest-by-df with hash
    # tie-break included): if A shares none of its k+1 rarest shingles
    # with B then |A\B| > (1-t)·|A|, independent of how ties rank.
    s = docs.withColumn("toks", tokens()).select(
        "doc_id",
        F.expr(f"transform({shingles_sql('toks')}, x -> xxhash64(x))").alias("sh"),
    )
    s = s.withColumn("n", F.size("sh")).cache()
    inv = s.select("doc_id", "n", F.explode("sh").alias("shingle"))
    df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # probe side only — document frequencies and the index stay global so
    # the prefix filter is still lossless w.r.t. the full corpus
    probe_inv = inv
    if probe_sample_frac < 1.0:
        probe_inv = inv.where(_doc_sample_pred(probe_sample_frac, "containment"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        probe_inv.join(df_counts, "shingle")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= F.floor(F.lit(1.0 - _CONTAIN_T) * F.col("n")) + 1)
        .select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    ).cache()  # probe side AND the index pruner reuse it
    # index side pruned to shingles that appear in some probe prefix —
    # hot shingles never reach the candidate exchange
    idx = inv.select(F.col("doc_id").alias("doc_b"), "shingle").join(
        prefix.select("shingle").distinct(), "shingle", "left_semi"
    )
    cand = (
        prefix.join(idx, "shingle")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    ver = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    cont = F.col("inter") / F.col("n_a")
    return ver.where(cont >= _CONTAIN_T).select(
        "doc_a", "doc_b", F.round(cont, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# D8 — URL canonicalization dedup (web-crawl first pass)
# ---------------------------------------------------------------------------

# Raw-URL synthesis: deterministic crawl mess so distinct raw URLs
# genuinely collide after normalization (same page id mod 97 → mixed
# host case, trailing slash, utm params, fragments vary by doc_id).
_RAW_URL_DUCK = """
      (CASE WHEN doc_id % 3 = 0
            THEN UPPER('https://www.site' || CAST(doc_id % 97 % 5 AS VARCHAR)
                       || '.example.com')
            ELSE 'https://www.site' || CAST(doc_id % 97 % 5 AS VARCHAR)
                 || '.example.com' END)
      || '/articles/page-' || CAST(doc_id % 97 AS VARCHAR)
      || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
      || (CASE doc_id % 4 WHEN 1 THEN '?utm_source=feed'
                          WHEN 2 THEN '?ref=keep'
                          WHEN 3 THEN '?utm_campaign=x&ref=keep'
                          ELSE '' END)
      || (CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END)
"""


@register(
    "dedup_url_normalize",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents),
    norm AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '#.*$', '', 'g'),
                   'utm_[^&]*&', '', 'g'),
                 '[?&]utm_[^&]*$', '', 'g'),
               '/($|\\?)', '\\1', 'g') AS canon0
      FROM raw),
    canon AS (
      SELECT doc_id, url,
             replace(canon0, '://www.', '://') AS canon_url
      FROM norm)
    SELECT canon_url,
           COUNT(*)                 AS n_copies,
           COUNT(DISTINCT url)      AS n_distinct_raw,
           MIN(doc_id)              AS keeper_doc_id
    FROM canon GROUP BY canon_url
    """,
)
def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every web
    crawl, run BEFORE any content hashing because it needs no document
    bytes at all: lowercase, strip fragments, drop ``utm_*`` tracking
    params (keeping meaningful ones), strip the trailing slash and the
    ``www.`` prefix, then group by the canonical URL.  Raw URLs are
    synthesized deterministically with realistic crawl mess (mixed-case
    hosts, trailing slashes, tracking params, fragments), identically in
    both engines — so the value hash verifies the NORMALIZER: distinct
    raw spellings must land on one canonical key (``n_distinct_raw`` > 1
    inside clusters proves the merge really happened).

    Scale shape: a narrow regex projection then ONE canonical-key
    exchange — identical cost to ``dedup_exact`` but on ~80-byte keys,
    which is why crawls run it first: it removes re-crawled spellings
    before the expensive content pass.  100 TB of URLs is still just a
    key-shuffle."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    host = F.concat(
        F.lit("https://www.site"),
        (F.col("doc_id") % 97 % 5).cast("string"),
        F.lit(".example.com"),
    )
    raw = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.upper(host)).otherwise(host),
        F.lit("/articles/page-"),
        (F.col("doc_id") % 97).cast("string"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?ref=keep"))
        .when(F.col("doc_id") % 4 == 3, F.lit("?utm_campaign=x&ref=keep"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), "#.*$", ""),
                "utm_[^&]*&", "",
            ),
            r"[?&]utm_[^&]*$", "",
        ),
        r"/($|\?)", "$1",
    )
    return (
        docs.withColumn("url", raw)
        .withColumn("canon_url", F.regexp_replace(canon, "://www\\.", "://"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("url").alias("n_distinct_raw"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# D9 — incremental dedup: a delta ingest checked against the base corpus
# ---------------------------------------------------------------------------

# Deterministic 80/20 base/fresh split (portable md5-prefix bucket, the
# sample_seeded_fraction idiom).  The delta batch is synthesized with
# realistic crawl mess — the dedup_url_normalize precedent — because the
# corpus itself plants no EXACT dups: re-crawls of known pages
# (doc_id % 5 of the base) and double-fetches inside the batch
# (doc_id % 3 of the fresh docs), each under a new ingest doc_id.
_INC_SEED = 17
INC_BUCKET_DUCK = (
    f"CAST('0x' || substr(md5('{_INC_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    " AS BIGINT) % 10"
)
_INC_BUCKET_SPARK = (
    f"cast(conv(substring(md5(concat('{_INC_SEED}:', cast(doc_id as string))), 1, 15),"
    " 16, 10) as bigint) % 10"
)
_INC_FP_DUCK = r"md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, {INC_BUCKET_DUCK} AS b FROM documents),
    base AS (SELECT doc_id, text FROM b WHERE b < 8),
    fresh AS (SELECT doc_id, text FROM b WHERE b >= 8),
    delta AS (
      SELECT doc_id, text FROM fresh
      UNION ALL
      SELECT doc_id + 100000, text FROM base WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000, text FROM fresh WHERE doc_id % 3 = 0),
    base_fps AS (SELECT DISTINCT {_INC_FP_DUCK} AS fp FROM base),
    dh AS (SELECT doc_id, {_INC_FP_DUCK} AS fp FROM delta),
    marked AS (
      SELECT d.doc_id, d.fp,
             (bf.fp IS NOT NULL) AS in_base,
             MIN(d.doc_id) OVER (PARTITION BY d.fp) AS first_doc
      FROM dh d LEFT JOIN base_fps bf USING (fp)),
    v AS (
      SELECT fp,
             CASE WHEN in_base THEN 'dup_of_base'
                  WHEN doc_id = first_doc THEN 'new'
                  ELSE 'dup_in_delta' END AS verdict
      FROM marked)
    SELECT verdict,
           COUNT(*)           AS n_docs,
           COUNT(DISTINCT fp) AS n_fps
    FROM v GROUP BY verdict
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the per-ingest shape a 100 TB pipeline actually
    runs: nobody re-deduplicates the whole corpus per crawl batch.  An
    80/20 split stands in for base corpus vs fresh content; the delta
    batch is a synthesized crawl (fresh docs + re-crawls of base pages +
    double-fetches within the batch, each under a new ingest doc_id) so
    every verdict class is NON-VACUOUS: ``dup_of_base`` (digest already
    in the corpus), ``dup_in_delta`` (first seen earlier IN THIS BATCH —
    keeper = min doc_id, the repo tie discipline), ``new`` (enters the
    corpus).

    Scale shape: the delta never carries text past the digest
    projection, and the base side is digests only — at 100 TB that side
    is the maintained digest INDEX (the ``sink_incremental_agg``
    pattern: append the ``new`` digests after each ingest), not a corpus
    rescan; here it is derived in-query so the oracle verifies the whole
    contract.  The base-vs-delta join is ``shuffle_hash``-pinned (both
    sides data-dependent — never broadcast those), and the within-batch
    first-seen window reuses the join's fp partitioning, so the delta
    pays ONE digest-keyed exchange."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # r12 opt (guide §1.2 / §8 decide with small rows): the digest is a
    # pure function of the text, so compute it ONCE per doc and drop the
    # text immediately — the base-index side and all three delta legs then
    # derive from one cached (doc_id, bucket, fp) frame instead of each
    # re-running the scan + whitespace-normalize + md5 pass (the before-
    # plan carried four documents scans).
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    bucketed = (
        docs.select("doc_id", F.expr(_INC_BUCKET_SPARK).alias("b"), fp.alias("fp"))
        .cache()
    )
    base = bucketed.where(F.col("b") < 8).select("doc_id", "fp")
    fresh = bucketed.where(F.col("b") >= 8).select("doc_id", "fp")
    delta = (
        fresh
        .unionAll(
            base.where(F.col("doc_id") % 5 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"), "fp")
        )
        .unionAll(
            fresh.where(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 200000).alias("doc_id"), "fp")
        )
    )
    base_fps = base.select("fp").distinct().withColumn("in_base", F.lit(True))
    dh = delta
    marked = dh.join(base_fps.hint("shuffle_hash"), "fp", "left")
    first_doc = F.min("doc_id").over(Window.partitionBy("fp"))
    verdict = (
        F.when(F.col("in_base"), F.lit("dup_of_base"))
        .when(F.col("doc_id") == first_doc, F.lit("new"))
        .otherwise(F.lit("dup_in_delta"))
    )
    return (
        marked.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_fps"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022): token-span level, not doc level
# ---------------------------------------------------------------------------

_ESS_W = 8  # span width in tokens (the paper uses 50 BPE tokens at web scale)


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    spans AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{_ESS_W - 1}], ' ')) AS h
      FROM t, UNNEST(generate_series(1, len(toks) - {_ESS_W} + 1)) AS u(i)
      WHERE len(toks) >= {_ESS_W}),
    marked AS (
      SELECT doc_id, pos,
             (COUNT(*) OVER (PARTITION BY h)) >= 2 AS dup
      FROM spans),
    cov AS (
      SELECT doc_id, pos,
             GREATEST(0, pos + {_ESS_W}
               - GREATEST(COALESCE(MAX(pos + {_ESS_W}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos), pos))
             AS covered
      FROM marked WHERE dup),
    per_doc AS (
      SELECT m.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN m.dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM marked m GROUP BY m.doc_id),
    per_cov AS (
      SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT)          AS n_tokens,
           COALESCE(p.n_spans, 0)               AS n_spans,
           COALESCE(p.n_dup_spans, 0)           AS n_dup_spans,
           COALESCE(c.dup_tokens, 0)            AS dup_tokens,
           ROUND(COALESCE(c.dup_tokens, 0) * 1.0 / len(t.toks), 6) AS dup_token_frac
    FROM t
    LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    LEFT JOIN per_cov c ON c.doc_id = t.doc_id
    """,
)
def dedup_exact_substring(
    spark: SparkSession,
    sf_dir: str,
    sample_frac: float = 1.0,
    broadcast_dups: bool = True,
) -> DataFrame:
    """Exact-substring (span-level) dedup accounting, the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" semantics:
    a {_ESS_W}-token span that occurs anywhere else in the corpus is
    duplicated TEXT even when neither document is a duplicate DOCUMENT —
    the memorization surface doc-level MinHash/Jaccard (``dedup_minhash_
    lsh``/``dedup_ngram_jaccard``) cannot see.  Per document it bills
    span counts, duplicated spans, and the EXACT number of tokens covered
    by >=1 duplicated span (overlapping spans merged by a running-max
    interval sweep, not double-counted) — the number a span-removal
    rewrite would delete.

    The paper builds a corpus-wide suffix array; the Spark-first form is
    the positional n-gram self-count: explode spans with positions once
    (cached), derive the duplicated-hash set from a map-side-aggregated
    (h, count) shuffle, broadcast it back, and run the interval sweep
    over DUPLICATED spans only — unique spans (the overwhelming
    majority) never cross a full-width exchange.  Scale (100 TB): span
    rows ~ token count x1 — linear; the (h, count) exchange partitions
    by the span hash so it is skew-free by construction EXCEPT the
    pathological all-equal-span corpus, which the boilerplate family's
    AQE note covers; no driver-side state, no suffix array to hold
    anywhere.

    Short docs (< {_ESS_W} tokens) have zero spans and an honest 0.0
    fraction — kept via explode_outer (one null row per short doc feeds
    the per-doc base frame) + coalesced dup counts.

    ``sample_frac`` is the production escape hatch (VERDICT r6 #3,
    completing the eval-tier knob family): a doc-level md5-deterministic
    sample of WHICH documents get audited, while span frequencies stay
    GLOBAL — a sampled doc's span is duplicated iff it repeats anywhere
    in the FULL corpus, so the sampled output is provably EQUAL to the
    full result restricted to sampled docs (the containment knob's
    lossless construction).  The registered query keeps
    ``sample_frac=1.0`` — exact semantics, oracle unchanged.

    ``broadcast_dups`` (default on): the duplicated-hash table is
    broadcast back onto the span stream.  At sf0.1 it is tiny; at a
    scale where the ≥2×-hash universe outgrows a broadcast relation,
    set False for a shuffled join — spans then cross one h-keyed
    exchange (still strictly better than the pre-r13 window shape,
    which ALSO pushed every span through a second doc-keyed exchange)."""
    _check_frac(sample_frac, "sample_frac")
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # tokenize+hash is CPU-bound; spread a single-split local scan across
    # cores (cluster scans get this from their input splits — the
    # dedup_exact / dedup_ngram_jaccard note, overlooked here until r13)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # r12 opt (guide §2.3 narrower types / §1.2 per-task work): the span key
    # only ever decides "does this exact token window occur twice" — it is
    # never emitted — so it is folded to a 64-bit ``xxhash64`` INSIDE the
    # row instead of a 32-char md5 hex string: 8 bytes cross the span-hash
    # exchange instead of ~32, and the JVM-intrinsic hash replaces a full
    # md5 per span (the dedup_contamination precedent).  A spurious dup
    # needs two DIFFERENT spans to collide in 64 bits: ~n²/2⁶⁵ ≈ 1e-7 at
    # sf0.1 — the oracle still computes md5 over the real span text and
    # hash-matches.
    # r13 opt (guide §1.2 per-task work): ``toks`` is MATERIALIZED as a
    # column before the span transform.  Higher-order-function lambdas
    # re-evaluate every subtree they embed once PER ELEMENT, so inlining
    # the split() here re-ran the whole-document regex split once per
    # span — measured 5.4 s → 0.35 s for the explode alone at sf0.1.
    # CollapseProject keeps the alias materialized (non-cheap expression
    # referenced 4×, the minhash `tids` precedent).
    toks = docs.select("doc_id", F.expr(TOKENS_SQL).alias("toks"))
    span_sql = (
        f"case when size(toks) < {_ESS_W} then array() "
        f"else transform(sequence(1, size(toks) - {_ESS_W - 1}), "
        f"i -> struct(i as pos, xxhash64(array_join(slice(toks, i, {_ESS_W}), ' ')) as h)) end"
    )
    # r13 opt (guide §2.3 aggregate-before-shuffle / §3.2 prefilter the big
    # side; VERDICT r12 #1): most spans are UNIQUE, yet the old shape pushed
    # every (doc_id, n_tokens, pos, h) row through the span-hash window
    # exchange AND the doc_id sweep exchange.  Now the span table is
    # materialized once (cache — the r12 audit measured the uncached
    # groupBy+join-back recomputing the whole tokenize+hash explode per
    # consumer, 8.3 → 10.2 s) and
    #   * the h-keyed exchange carries map-side partial-aggregated
    #     (h, count) rows — no doc_id/pos/n_tokens payload,
    #   * the ≥2× hashes broadcast back as an inner join, so ONLY
    #     duplicated spans reach the doc_id sweep exchange (the oracle's
    #     own ``FROM marked WHERE dup`` shape),
    #   * per-doc totals need no span rows at all: n_spans is determined
    #     by n_tokens (|spans| = n_tokens − W + 1 when n_tokens ≥ W,
    #     else 0 — exactly what the explode emits).
    spans = (
        toks.select(
            "doc_id",
            F.size(F.col("toks")).cast("bigint").alias("n_tokens"),
            F.explode_outer(F.expr(span_sql)).alias("s"),
        )
        .select("doc_id", "n_tokens", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
        .cache()  # one tokenize+hash pass feeds totals, frequencies, and the sweep
    )
    base = (
        spans.groupBy("doc_id")
        .agg(F.max("n_tokens").alias("n_tokens"))
        .withColumn(
            "n_spans",
            F.when(F.col("n_tokens") >= _ESS_W, F.col("n_tokens") - _ESS_W + 1)
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
    )
    dup_h = (
        spans.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("h")
    )
    if broadcast_dups:
        dup_h = F.broadcast(dup_h)
    dups = spans.where(F.col("h").isNotNull())
    if sample_frac < 1.0:
        # Knob path: frequencies stay GLOBAL (dup_h above is built from
        # ALL spans); only the billed spans and the billed docs are
        # restricted to the sample.
        pred = _doc_sample_pred(sample_frac, "exactsub")
        dups = dups.where(pred)
        base = base.where(pred)
    dups = dups.join(dup_h, "h", "inner")
    # Interval sweep per doc over DUPLICATED spans only: tokens covered by
    # >=1 dup span, overlaps merged via the running max of span ends over
    # preceding rows.  Restricting to dup rows first is value-identical —
    # non-dup rows contributed covered=0 and their (null) ends were
    # ignored by MAX — and is the oracle's own cov-CTE filter.
    wd = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = dups.withColumn(
        "covered",
        F.greatest(
            F.lit(0),
            F.col("pos")
            + _ESS_W
            - F.greatest(
                F.coalesce(F.max(F.col("pos") + _ESS_W).over(wd), F.col("pos")),
                F.col("pos"),
            ),
        ),
    )
    dupagg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum("covered").cast("bigint").alias("dup_tokens"),
    )
    return base.join(dupagg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


# ---------------------------------------------------------------------------
# D9 — SemDeDup: cluster-then-prune semantic dedup (the scalable shape)
# ---------------------------------------------------------------------------

from dataframework_spark.functions.arrays import duck_cosine_sql as _cos_duck
from dataframework_spark.operators.similarity import (
    _bucket_sql_duck as _sd_bucket_duck,
)
from dataframework_spark.operators.similarity import (
    _bucket_sql_spark as _sd_bucket_spark,
)

_SEMDEDUP_T = 0.4  # same calibration as dedup_embedding_cosine


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_sd_bucket_duck('embedding')} AS bucket
      FROM embeddings),
    p AS (
      SELECT DISTINCT b.vec_id AS pruned_id
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_cos_duck('a.embedding', 'b.embedding')} >= {_SEMDEDUP_T})
    SELECT e.vec_id, e.bucket, p.pruned_id IS NULL AS is_kept
    FROM e LEFT JOIN p ON e.vec_id = p.pruned_id
    """,
)
def dedup_semdedup(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup made
    scalable by CLUSTERING FIRST — pairwise cosine runs only WITHIN a
    cluster, never across the corpus.  A vector is pruned iff some
    smaller-id vector in its cluster is within the similarity ball
    (cos ≥ {_SEMDEDUP_T}); keep-first by vec_id makes the greedy
    deterministic (the paper keeps a random representative).  This is
    the production path that ``dedup_embedding_cosine`` (global
    all-pairs, the correctness baseline) exists to be replaced by.

    Clusters here are the deterministic random-hyperplane buckets shared
    with ``sim_lsh_topk`` (bit-identical in both engines); at 100 TB
    you'd use the TRAINED coarse cells (``sim_ivf_kmeans`` /
    ``ivfpq_persist``) — same query shape, k grows with n so cluster
    size stays ~constant and the per-cluster all-pairs cost stays
    bounded (the paper's core argument).  Plan: one bucket-keyed
    exchange for the in-cluster join, one vec_id-keyed left join for
    the verdicts; the corpus crosses the wire twice, candidates never
    leave their cluster.  Excluded from replica sweeps with the same
    enumerated reason as ``dedup_embedding_cosine``: the M× replica
    puts M copies of every vector in one bucket, so in-cluster pairs
    grow ~M² BY CONSTRUCTION — real corpora don't.

    ``n_planes`` is the k-grows-with-n production knob (VERDICT r6 #2):
    the paper's cost bound holds because cluster COUNT scales with the
    corpus, keeping cluster size ~constant — at M× data pass
    ``8 + ceil(log2 M)`` planes and the in-cluster pair count stays
    ~linear in n.  The registered query keeps ``n_planes=None`` (the
    shared 8-plane bucket; oracle unchanged).
    ``tools/probe_semdedup_scale.py`` measures exactly this on a
    perturbed NON-replica corpus (SCALEPROBE_SEMDEDUP_r7.json)."""
    bucket_sql = (
        _sd_bucket_spark("v") if n_planes is None else _sd_bucket_spark("v", n_planes)
    )
    from dataframework_spark.functions.arrays import cosine_prenorm_sql, norm_sql

    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # r12 opt: ‖v‖ once per vector, materialized in the cache, instead of
    # twice per in-cluster PAIR (bit-equal by cosine_prenorm_sql's
    # construction — same dot, same norm product, same division).
    e = (
        e.withColumn("bucket", F.expr(bucket_sql))
        .withColumn("nv", F.expr(norm_sql("v")))
        .cache()
    )
    a = e.select(
        F.col("bucket").alias("bka"), F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = e.select(
        F.col("bucket").alias("bkb"), F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    pruned = (
        a.hint("shuffle_hash")
        .join(b, (F.col("bka") == F.col("bkb")) & (F.col("a_id") < F.col("b_id")), "inner")
        .where(F.expr(cosine_prenorm_sql("va", "vb", "na", "nb")) >= _SEMDEDUP_T)
        .select(F.col("b_id").alias("pruned_id"))
        .distinct()
    )
    return e.join(
        pruned, e.vec_id == pruned.pruned_id, "left"
    ).select("vec_id", "bucket", F.col("pruned_id").isNull().alias("is_kept"))


# ---------------------------------------------------------------------------
# D10 — contamination SEVERITY: longest shared n-gram tier per eval doc
# ---------------------------------------------------------------------------

_SEV_TIERS = (8, 16, 32)  # doubling lengths — the Lee-et-al binary-search trick


def _sev_duck_tier(n: int) -> str:
    return f"""
    ev{n} AS (SELECT DISTINCT doc_id, unnest({duck_shingles_sql('toks', n)}) AS sh
              FROM t WHERE doc_id % 2 = 1),
    tr{n} AS (SELECT DISTINCT unnest({duck_shingles_sql('toks', n)}) AS sh
              FROM t WHERE doc_id % 2 = 0),
    hit{n} AS (SELECT DISTINCT doc_id, {n} AS tier FROM ev{n}
               JOIN tr{n} USING (sh))"""


@register(
    "dedup_contamination_severity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    {",".join(_sev_duck_tier(n) for n in _SEV_TIERS)},
    hits AS ({" UNION ALL ".join(f"SELECT * FROM hit{n}" for n in _SEV_TIERS)}),
    best AS (SELECT doc_id, MAX(tier) AS severity FROM hits GROUP BY 1)
    SELECT e.doc_id,
           CAST(len(e.toks) AS BIGINT)           AS n_tokens,
           CAST(COALESCE(b.severity, 0) AS BIGINT) AS severity
    FROM (SELECT doc_id, toks FROM t WHERE doc_id % 2 = 1) e
    LEFT JOIN best b ON e.doc_id = b.doc_id
    """,
)
def dedup_contamination_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SEVERITY tiers: for every eval-split document, the
    longest n-gram length in {{8, 16, 32}} at which it still shares a
    shingle with the train split — ``dedup_contamination`` counts 8-gram
    collisions (is it contaminated?), this grades HOW BADLY (a shared
    32-gram is verbatim leakage a benchmark must drop; a lone shared
    8-gram may be an idiom).  Doubling tier lengths bound the true
    longest-match length within a factor of 2 — the binary-search-over-
    lengths trick from the exact-substring dedup literature (Lee et al.
    2022), fixed to three probes so the whole audit is three shingle
    joins, not an iterative search.

    Scale shape (1000x-probed): all three tiers fold into ONE
    (tier, xxhash64) struct array inside the row — shingle STRINGS never
    leave the row (the ``dedup_contamination`` wire discipline; a draft
    that cached raw token arrays and exploded strings three times OOM'd
    the 1000x replica), the single cached table carries 8-byte hashes,
    and one tier-tagged semi-join on (tier, sh) replaces three joins.
    Eval docs shorter than a tier simply have no shingles at that tier
    (standard semantics).  Severity 0 = clean: the eval side of a real
    pipeline is benchmark-sized, so the semi-join is effectively
    broadcast there."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t = docs.withColumn("toks", tokens())
    # Hash EARLY, inside the row: the first draft cached the raw token
    # arrays and ran three string-shingle explodes over the cache — at the
    # 1000x replica that OOM'd the heap (strings dominated both the cache
    # and the explode buffers).  This shape folds all three tiers into ONE
    # (tier, xxhash64) struct array per doc, so strings never leave the
    # row, the single cached table is (doc_id, tier, 8-byte hash), and one
    # tier-tagged semi-join replaces three joins.
    tier_structs = F.concat(
        *[
            F.expr(
                f"transform({shingles_sql('toks', n)}, "
                f"x -> struct({n} as tier, xxhash64(x) as sh))"
            )
            for n in _SEV_TIERS
        ]
    )
    # r12 opt (guide §1.2): cache ONE per-doc frame holding the token count
    # and the hashed tier-shingle array, instead of caching the exploded
    # pair table and re-running tokenize+shingle a second time for
    # ``ev_docs`` (the before-plan tokenized the corpus twice).  Strings
    # still never leave the row (same 1000x OOM discipline — the cache is
    # doc_id + a long + an array of (int, 8-byte hash)); the explode now
    # runs once per join side FROM the cache, which is cheap next to the
    # tokenize/shingle/md5 work it used to repeat.
    c = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        tier_structs.alias("arr"),
    ).cache()
    flat = c.select("doc_id", F.explode("arr").alias("p")).select(
        "doc_id", "p.tier", "p.sh"
    )
    tr = flat.where(F.col("doc_id") % 2 == 0).select("tier", "sh").distinct()
    best = (
        flat.where(F.col("doc_id") % 2 == 1)
        .join(tr, ["tier", "sh"], "left_semi")
        .groupBy("doc_id")
        .agg(F.max("tier").alias("severity"))
    )
    ev_docs = c.where(F.col("doc_id") % 2 == 1).select("doc_id", "n_tokens")
    return ev_docs.join(best, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("severity"), F.lit(0)).cast("bigint").alias("severity"),
    )


# ---------------------------------------------------------------------------
# Near-dup LSH index LIFECYCLE: persist → serve → incremental append
# (VERDICT r9 "Next round" #3 — the production shape of crawl dedup)
# ---------------------------------------------------------------------------
#
# ``dedup_minhash_lsh`` rebuilds its index per run; a production crawl
# dedups each ingest batch against a PERSISTED signature/band index
# without ever rescanning the corpus (the reference's whole-corpus
# reload per run, ``DFW/preprocess.py:390-407``, is exactly what does
# not scale).  The persisted index mirrors ``sim_ivfpq_persist_serve``
# (similarity.py): two parquet tables under one base path, declared in
# ``LSH_LAYOUT`` and read/written through ``sources/index_store.py`` —
#
#   sigs/   doc_id, h0..h15          (16 × 8 B per doc — the index,
#                                     ~1e-4 of corpus bytes at 100 TB)
#   bands/  band=<i>/ bk, doc_id     (band-partitioned bucket keys)
#
# Serving a delta pays: one signature pass over the DELTA ONLY, a
# (band, bk) join against the band table, and a signature-verify join
# against sigs — the corpus text never crosses the wire again
# (plan-pinned by ``test_lsh_serve_never_scans_corpus``).  The verify
# tier is the standard signature estimate (matching components / 16 ≥
# 12/16 = 0.75 estimated Jaccard): with corpus text unavailable by
# design, the signature IS the near-dup evidence, exactly as in
# Broder's original scheme.

_LSH_MATCH = 12  # of _MH_K = 16 signature components

LSH_LAYOUT: index_store.Layout = {
    "sigs": ("doc_id bigint, " + ", ".join(f"h{i} bigint" for i in range(_MH_K)), None),
    "bands": ("doc_id bigint, bk string, band int", "band"),
}


def minhash_signature_frame(docs: DataFrame, with_xh: bool = False) -> DataFrame:
    """(doc_id, text) → (doc_id, h0..h15) with ZERO exchanges: the
    :func:`_signatures` of every doc with ≥ 3 tokens.  Shorter docs have
    no shingles and get no signature on either engine.  ``with_xh=True``
    also carries ``xh`` (:func:`_text_digest`) through the same map pass,
    for :func:`lsh_serve`'s exact pre-collapse."""
    # the no-shingles filter is on the cheap TOKEN count, not on the
    # shingle array: Catalyst pushes deterministic filters below the
    # caller's repartition, and a pushed filter re-evaluates its whole
    # expression on the pre-exchange (single-split) scan — with the
    # shingle form that serialized the entire shingling pass onto one
    # task (seen in .explain and in a 2× wall regression)
    s = _shingle_frame(docs.where(F.size(tokens()) >= 3), with_xh)
    return _signatures(s, "doc_id", *(["xh"] if with_xh else [])).drop("nsh")


def _lsh_index_write(sig: DataFrame, base: str, mode: str) -> None:
    index_store.write(sig, LSH_LAYOUT, base, "sigs", mode)
    index_store.write(_lsh_band_frame(sig), LSH_LAYOUT, base, "bands", mode)


def lsh_index_build(spark: SparkSession, docs: DataFrame, base: str) -> None:
    """One corpus pass → persisted signature + band tables (overwrite)."""
    sig = minhash_signature_frame(docs).cache()
    _lsh_index_write(sig, base, "overwrite")
    sig.unpersist()


def lsh_index_append(spark: SparkSession, sigs: DataFrame, base: str) -> None:
    """Ingest path: append already-computed signatures of a batch's
    ``new`` docs into both index tables.  No corpus access, no retrain —
    MinHash signatures are permutation-frozen by construction, so
    append-then-serve ≡ rebuild-then-serve (the property
    ``dedup_lsh_incremental_append``'s oracle value-hashes)."""
    _lsh_index_write(sigs, base, "append")


# Within-batch bucket-expansion cap: the serve path needs per-doc
# VERDICTS, not the pair list, so a bucket never justifies k²/2 pair
# structs.  Buckets of ≤ _LSH_BUCKET_CAP distinct texts keep the exact
# all-pairs expansion (any earlier member is valid first-seen
# evidence, ≤ C(64,2) = 2016 structs per bucket); bigger buckets
# compare each member against the bucket REPRESENTATIVE (min doc_id)
# only — linear in bucket size, no bucket array ever materializes.  A
# member that near-matches some other member but not the
# representative can come out `new` — the documented approximation,
# one more probabilistic layer on a banding scheme that is already
# probabilistic (both engines apply the identical rule, so the
# verdicts stay deterministic and value-hash-checkable).  Pair-OUTPUT
# operators (dedup_minhash_lsh and friends) are exempt by design:
# their contract IS the pair list, and a mega bucket there is a
# genuine duplicate cluster whose pairs every candidate scheme must
# emit.
_LSH_BUCKET_CAP = 64


def _lsh_nmatch(a_prefix: str, b_prefix: str) -> F.Column:
    terms = [
        (F.col(f"{a_prefix}{i}") == F.col(f"{b_prefix}{i}")).cast("int")
        for i in range(_MH_K)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def lsh_serve(
    spark: SparkSession, base: str, delta: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup a crawl delta against the persisted index alone.

    Returns ``(verdicts, rep_sigs, cache)``: per-doc verdict rows
    (``dup_of_base`` — ≥ 12/16 (``_LSH_MATCH``) signature match with an
    indexed doc; ``dup_in_delta`` — first seen earlier IN THIS BATCH,
    keeper = min doc_id, the repo tie discipline; ``new`` — enters the
    corpus), the signature frame of the batch's exact-distinct
    REPRESENTATIVES so the caller can append the ``new`` rows without
    recomputing (``lsh_index_append`` — every ``new`` doc is a
    representative, so the frame covers the append by construction),
    and the CACHED pre-collapse frame both branches derive from — the
    caller owns ``cache.unpersist()`` once its verdicts/appends are
    materialized (registry runs share one session).

    Hot-bucket hardening: the delta is exact-hash PRE-COLLAPSED before
    anything touches MinHash — docs sharing ``md5(text)`` are decided by
    digest alone (keeper = min doc_id stays a representative; every
    other member is ``dup_in_delta``, which is literally what it is:
    first seen earlier in this batch).  A boilerplate-heavy crawl batch
    (100k identical error pages — routine in real crawls) therefore
    contributes ONE representative to the band buckets instead of 100k
    ids in one bucket array and ~5×10⁹ pair structs.  The residual
    near-dup (non-identical) flood is bounded by ``_LSH_BUCKET_CAP``:
    oversized buckets compare members against the bucket representative
    only (see the cap note above).

    Scale shape: candidate evidence from BOTH sources — the (band, bk)
    join against the persisted band table and the within-batch bucket
    expansion — is tagged ``src`` and verified in ONE join pipeline
    ending in ONE per-doc aggregate (max(src=base), max(src=delta)),
    instead of two mb/md pipelines.  The index side stays
    ``shuffle_hash``-pinned (never broadcast the index — the measured
    dedup_minhash_lsh 100× driver-OOM precedent); the verify b-side
    joins on (xdoc, src) so a delta doc id colliding with an index id
    can never cross-wire signatures; the final per-doc flag set is
    batch-bounded and broadcast."""
    xsig = index_store.read(spark, LSH_LAYOUT, base, "sigs")
    xbands = index_store.read(spark, LSH_LAYOUT, base, "bands")
    # exact pre-collapse: signatures + xh are computed in ONE map pass
    # over the whole batch (signature cost on exact copies is wasted but
    # linear and exchange-free), then one narrow batch-sized keeper
    # window.  The MARKED frame is cached, not just the representative
    # slice: the verdict union's exdup branch is its complement, and an
    # uncached marked would re-run the whole delta scan + window exchange
    # once per verdicts materialization
    marked = _mark_keepers(minhash_signature_frame(delta, with_xh=True)).cache()
    dsig = marked.where("doc_id = kid").drop("kid", "xh")
    exdup = marked.where("doc_id <> kid").select("doc_id")
    dbands = _lsh_band_frame(dsig)

    # no .distinct() on candidates: a pair surfacing via several bands
    # just re-verifies (cheap, map-side); the per-doc aggregate at the
    # end is the only exchange that matters
    cand_x = (
        dbands.alias("d")
        .join(
            xbands.hint("shuffle_hash").alias("x"),
            (F.col("d.band") == F.col("x.band")) & (F.col("d.bk") == F.col("x.bk")),
        )
        .select(
            F.col("d.doc_id").alias("ddoc"),
            F.col("x.doc_id").alias("xdoc"),
            F.lit("base").alias("src"),
        )
    )
    # cap-aware within-batch expansion: bucket stats first (narrow agg),
    # then all-pairs for small buckets (the only place a bucket array
    # materializes, ≤ _LSH_BUCKET_CAP ids per row) and member-vs-
    # representative rows for overflow buckets (no array, linear)
    bstats = dbands.groupBy("band", "bk").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("repid")
    )
    memb = dbands.join(bstats.hint("shuffle_hash"), ["band", "bk"])
    small = (
        memb.where(F.col("n").between(2, _LSH_BUCKET_CAP))
        .groupBy("band", "bk")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
    )
    cand_small = (
        small.where(F.size("ids") >= 2)
        .select(F.explode(ordered_pairs("ids", "edoc", "ddoc")).alias("p"))
        .select(
            F.col("p.ddoc").alias("ddoc"),
            F.col("p.edoc").alias("xdoc"),  # evidence = the EARLIER doc
            F.lit("delta").alias("src"),
        )
    )
    cand_big = memb.where(
        (F.col("n") > _LSH_BUCKET_CAP) & (F.col("doc_id") != F.col("repid"))
    ).select(
        F.col("doc_id").alias("ddoc"),
        F.col("repid").alias("xdoc"),  # representative = the EARLIEST doc
        F.lit("delta").alias("src"),
    )
    cand_d = cand_small.unionByName(cand_big)
    a = dsig.select(
        F.col("doc_id").alias("ddoc"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_MH_K)],
    )
    b_all = xsig.select(
        F.col("doc_id").alias("xdoc"),
        F.lit("base").alias("src"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_MH_K)],
    ).unionByName(
        dsig.select(
            F.col("doc_id").alias("xdoc"),
            F.lit("delta").alias("src"),
            *[F.col(f"h{i}").alias(f"b{i}") for i in range(_MH_K)],
        )
    )
    flags = (
        cand_x.unionByName(cand_d)
        .join(a, "ddoc")
        .join(b_all.hint("shuffle_hash"), ["xdoc", "src"])
        .where(_lsh_nmatch("a", "b") >= _LSH_MATCH)
        .groupBy("ddoc")
        .agg(
            F.max(F.col("src") == "base").alias("in_base"),
            F.max(F.col("src") == "delta").alias("in_delta"),
        )
        .withColumnRenamed("ddoc", "doc_id")
    )
    # flags is bounded by the INGEST BATCH (dup doc ids of this delta),
    # never by the corpus — broadcast is the right side discipline here,
    # exactly opposite to the index joins above
    verdicts = (
        dsig.select("doc_id")
        .join(F.broadcast(flags), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("in_base"), F.lit("dup_of_base"))
            .when(F.col("in_delta"), F.lit("dup_in_delta"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
        # exact-copy members pre-collapsed away above: decided by digest,
        # never signed, never banded
        .unionByName(exdup.select("doc_id", F.lit("dup_in_delta").alias("verdict")))
    )
    return verdicts, dsig, marked


def _lsh_verdict_agg(v: DataFrame) -> DataFrame:
    """Membership-pinning aggregate: counts alone would let two wrong
    verdicts cancel; sum/min/max of doc_id pin the member sets."""
    return v.groupBy("verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def lsh_corpus_split(spark: SparkSession, sf_dir: str):
    """Returns ``(base, f1, f2, cached)`` — the last element is the
    cached bucket frame the first three derive from; callers own its
    ``unpersist()`` once their lifecycle run is materialized (the
    r10 ADVICE cache-leak item: registry runs share one session, so
    an op that caches must also evict)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # cached because the SYNTHESIZED deltas re-derive from these frames
    # across ~9 branch scans (build + 4 batch-1 + 4 batch-2 arms) — a
    # test-harness cost, not a lifecycle claim: a production crawl batch
    # arrives as its own table and the base corpus is scanned exactly
    # once, at index build
    b = docs.withColumn("b", F.expr(_INC_BUCKET_SPARK)).cache()
    return (
        b.where("b < 8").select("doc_id", "text"),
        b.where("b = 8").select("doc_id", "text"),
        b.where("b = 9").select("doc_id", "text"),
        b,
    )


def _lsh_delta1(base: DataFrame, f1: DataFrame) -> DataFrame:
    """Synthesized crawl batch #1 (the dedup_incremental_batch recipe,
    near-dup flavored): fresh docs, exact re-crawls of base pages, NEAR
    re-crawls (one token appended — shingle-tail churn only, so the
    signature stays ≥ 12/16 (``_LSH_MATCH``) with overwhelming
    probability and BOTH engines compute the identical outcome either
    way), and double-fetches within the batch."""
    return (
        f1.unionAll(
            base.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            base.where(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zzrecrawl")).alias("text"),
            )
        )
        .unionAll(
            f1.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )


def _lsh_delta2(base: DataFrame, f2: DataFrame, new1: DataFrame) -> DataFrame:
    """Crawl batch #2 — the append-discriminating batch: its near
    re-crawls target batch #1's ``new`` docs, which exist ONLY as
    appended index rows; a broken append classifies them ``new`` and
    breaks the oracle hash."""
    return (
        f2.unionAll(
            base.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 4000000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            new1.where(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"),
                F.concat("text", F.lit(" zzsecond")).alias("text"),
            )
        )
        .unionAll(
            f2.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 6000000).alias("doc_id"), "text"
            )
        )
    )


def _lsh_match_sql(a: str, b: str) -> str:
    s = " + ".join(
        f"CASE WHEN {a}.h{i} = {b}.h{i} THEN 1 ELSE 0 END" for i in range(_MH_K)
    )
    return f"({s}) >= {_LSH_MATCH}"


def lsh_serve_ctes(p: str, src: str, xsig: str, xbands: str) -> str:
    """CTE chain ending in ``{p}_v (doc_id, verdict)`` — the DuckDB twin
    of :func:`lsh_serve` in full: exact ``md5(text)`` pre-collapse
    (keeper = min doc_id; other members decided ``dup_in_delta`` by
    digest), representative signatures/bands (exposed as ``{p}_sig`` /
    ``{p}_bands`` so incremental chains can union them into the index),
    index joins, and the cap-aware within-batch expansion (all-pairs
    for buckets ≤ ``_LSH_BUCKET_CAP``, member-vs-representative for
    overflow buckets).

    Every CTE of the chain is ``MATERIALIZED``: DuckDB otherwise inlines
    each reference, and a second serve over an index that unions the
    first serve's signatures (``dedup_lsh_incremental_append``,
    ``dedup_lsh_index_compaction``) re-plans the first chain once per
    band arm — minutes of planning and more than 6 GB even at sf0.001."""
    shingled = f"(SELECT doc_id, text FROM {src} WHERE len({DUCK_TOKENS_SQL}) >= 3)"
    return f"""
    {keeper_ctes(p, shingled)},
    {p}_sig AS MATERIALIZED ({lsh_sig_sql(f'{p}_reps')}),
    {p}_bands AS MATERIALIZED ({lsh_bands_sql(f'{p}_sig')}),
    {p}_cand AS MATERIALIZED (
      SELECT DISTINCT d.doc_id AS ddoc, x.doc_id AS xdoc
      FROM {p}_bands d JOIN {xbands} x ON d.band = x.band AND d.bk = x.bk),
    {p}_mb AS MATERIALIZED (
      SELECT DISTINCT c.ddoc AS doc_id
      FROM {p}_cand c
      JOIN {p}_sig a ON a.doc_id = c.ddoc
      JOIN {xsig} b ON b.doc_id = c.xdoc
      WHERE {_lsh_match_sql('a', 'b')}),
    {p}_bsz AS MATERIALIZED (
      SELECT band, bk, COUNT(*) AS n, MIN(doc_id) AS repid
      FROM {p}_bands GROUP BY band, bk),
    {p}_dp AS MATERIALIZED (
      SELECT DISTINCT q.doc_id AS ddoc, pp.doc_id AS edoc
      FROM {p}_bands pp
      JOIN {p}_bands q
        ON pp.band = q.band AND pp.bk = q.bk AND pp.doc_id < q.doc_id
      JOIN {p}_bsz z ON z.band = q.band AND z.bk = q.bk
      WHERE z.n <= {_LSH_BUCKET_CAP} OR pp.doc_id = z.repid),
    {p}_md AS MATERIALIZED (
      SELECT DISTINCT g.ddoc AS doc_id
      FROM {p}_dp g
      JOIN {p}_sig a ON a.doc_id = g.ddoc
      JOIN {p}_sig b ON b.doc_id = g.edoc
      WHERE {_lsh_match_sql('a', 'b')}),
    {p}_v AS MATERIALIZED (
      SELECT s.doc_id,
             CASE WHEN mb.doc_id IS NOT NULL THEN 'dup_of_base'
                  WHEN md.doc_id IS NOT NULL THEN 'dup_in_delta'
                  ELSE 'new' END AS verdict
      FROM {p}_sig s
      LEFT JOIN {p}_mb mb ON mb.doc_id = s.doc_id
      LEFT JOIN {p}_md md ON md.doc_id = s.doc_id
      UNION ALL
      SELECT doc_id, 'dup_in_delta' AS verdict FROM {p}_dup)"""


# The lifecycle twins' CTEs are all ``MATERIALIZED``, like
# :func:`lsh_serve_ctes`: DuckDB otherwise inlines the corpus split and
# the base index into every arm that reads them (sf0.1: 2.0–2.8 s →
# 0.8–0.95 s for the append and compaction twins).
_LSH_CORPUS_SQL = f"""
    b AS MATERIALIZED (SELECT doc_id, text, {INC_BUCKET_DUCK} AS b FROM documents),
    base AS MATERIALIZED (SELECT doc_id, text FROM b WHERE b < 8),
    f1 AS MATERIALIZED (SELECT doc_id, text FROM b WHERE b = 8),
    f2 AS MATERIALIZED (SELECT doc_id, text FROM b WHERE b = 9),
    delta1 AS MATERIALIZED (
      SELECT doc_id, text FROM f1
      UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0
      UNION ALL SELECT doc_id + 2000000, text || ' zzrecrawl' FROM base
        WHERE doc_id % 11 = 0
      UNION ALL SELECT doc_id + 3000000, text FROM f1 WHERE doc_id % 3 = 0),
    xsig AS MATERIALIZED ({lsh_sig_sql('base')}),
    xbands AS MATERIALIZED ({lsh_bands_sql('xsig')})"""

# Serve batch #1, append its ``new`` signatures to the index, serve
# batch #2 over the appended index: the chain both the append and the
# compaction twins end in ``s2_v``.
_LSH_SECOND_SERVE_SQL = f"""
    WITH {_LSH_CORPUS_SQL},
    {lsh_serve_ctes('s1', 'delta1', 'xsig', 'xbands')},
    new1 AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM delta1 d
      JOIN s1_v v ON v.doc_id = d.doc_id WHERE v.verdict = 'new'),
    xsig2 AS MATERIALIZED (
      SELECT * FROM xsig
      UNION ALL SELECT s.* FROM s1_sig s JOIN new1 n ON n.doc_id = s.doc_id),
    xbands2 AS MATERIALIZED ({lsh_bands_sql('xsig2')}),
    delta2 AS MATERIALIZED (
      SELECT doc_id, text FROM f2
      UNION ALL SELECT doc_id + 4000000, text FROM base WHERE doc_id % 13 = 0
      UNION ALL SELECT doc_id + 5000000, text || ' zzsecond' FROM new1
        WHERE doc_id % 2 = 0
      UNION ALL SELECT doc_id + 6000000, text FROM f2 WHERE doc_id % 5 = 0),
    {lsh_serve_ctes('s2', 'delta2', 'xsig2', 'xbands2')}"""

_LSH_AGG_SQL = """
    SELECT verdict,
           COUNT(*)                      AS n_docs,
           CAST(SUM(doc_id) AS BIGINT)   AS sum_doc_id,
           MIN(doc_id)                   AS min_doc_id,
           MAX(doc_id)                   AS max_doc_id
    FROM {v} GROUP BY verdict"""


@register(
    "dedup_lsh_persist_serve",
    eager=True,
    oracle=f"""
    WITH {_LSH_CORPUS_SQL},
    {lsh_serve_ctes('s1', 'delta1', 'xsig', 'xbands')}
    {_LSH_AGG_SQL.format(v='s1_v')}
    """,
)
def dedup_lsh_persist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup index lifecycle, part 1 — build the MinHash band index
    from the base corpus (80% bucket split), PERSIST it as parquet
    (signatures + band-partitioned bucket keys), then dedup a
    synthesized crawl batch against the persisted form ALONE: the serve
    plan reads the index tables and the delta — never the base corpus
    (plan-pinned).  The oracle rebuilds the whole thing from scratch in
    DuckDB, so a stale index row, a lost band, or a wrong partition
    mapping breaks the value hash.

    At 100 TB: the index is 16×8 B/doc + 4 narrow band rows/doc; each
    crawl batch pays one delta-sized signature pass and two
    index-partitioned joins.  Verdict classes all non-vacuous by
    synthesis: ``dup_of_base`` (exact + near re-crawls), ``dup_in_delta``
    (double-fetches, keeper = min doc_id), ``new``.

    The serve verdicts are materialized to a results parquet inside the
    call (the ``stream_lsh_ingest`` discipline) so every cache the
    lifecycle takes — the corpus split, the delta signatures — is
    unpersisted before returning: registry runs share one session, and
    a leaked cache per query accumulates executor storage (r10 ADVICE).
    Benchmark timing therefore covers the read-back aggregate; the
    honest serve wall is inside the call, reported in round notes."""
    from dataframework_spark.sources.io import _scratch

    base_docs, f1, _, corpus_cache = lsh_corpus_split(spark, sf_dir)
    path = _scratch(sf_dir, "lsh_index")
    lsh_index_build(spark, base_docs, path)
    verdicts, _, dcache = lsh_serve(spark, path, _lsh_delta1(base_docs, f1))
    results = path + "/results_batch1"
    verdicts.write.mode("overwrite").parquet(results)
    dcache.unpersist()
    corpus_cache.unpersist()
    return _lsh_verdict_agg(spark.read.schema(verdicts.schema).parquet(results))


@register(
    "dedup_lsh_incremental_append",
    eager=True,
    oracle=f"""
    {_LSH_SECOND_SERVE_SQL}
    {_LSH_AGG_SQL.format(v='s2_v')}
    """,
)
def dedup_lsh_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup index lifecycle, part 2 — the ingest loop: build + persist
    the base index, serve crawl batch #1, APPEND batch #1's ``new``
    signatures into the persisted index (no retrain, no corpus access —
    MinHash permutations are frozen by construction), then serve crawl
    batch #2 against the appended index.

    The oracle rebuilds the FINAL index state from scratch (base ∪
    batch-1-new) in DuckDB and serves batch #2 over it — so the
    registered result hash-proves **append-then-serve ≡
    rebuild-then-serve**, the invariant every incremental index must
    satisfy (the ``sim_ivfpq_incremental_append`` discipline).  Batch #2
    plants near re-crawls of batch #1's ``new`` docs specifically: those
    exist only as appended rows, so a lost or corrupted append flips
    their verdict to ``new`` and breaks the hash.

    Batch #2's verdicts are materialized to a results parquet inside
    the call and every cache taken along the way (corpus split, delta1,
    both serves' signature frames) is unpersisted before returning —
    the r10 ADVICE cache-leak fix; honest serve walls live inside the
    call and are reported in round notes."""
    from dataframework_spark.sources.io import _scratch

    base_docs, f1, f2, corpus_cache = lsh_corpus_split(spark, sf_dir)
    path = _scratch(sf_dir, "lsh_index_inc")
    lsh_index_build(spark, base_docs, path)
    delta1 = _lsh_delta1(base_docs, f1).cache()  # batch-sized; 3 consumers
    v1, dsig1, dcache1 = lsh_serve(spark, path, delta1)
    new_ids = v1.where(F.col("verdict") == "new").select("doc_id")
    # STAGE-then-COMMIT: materialize the batch's new signatures to a
    # staging path BEFORE appending them into the index.  Appending
    # in-place invalidates every cached/derived plan that reads the
    # index path (Spark recaches by path), so a batch-1 verdict
    # re-evaluated after the append would see the batch's own rows in
    # the index and flip every `new` to `dup_of_base` — a real ingest
    # race, reproduced here and guarded by
    # ``test_lsh_new_set_is_append_stable``.  The staged parquet is the
    # immutable record of what the batch decided.
    staging = path + "/staging_batch1"
    new_sigs = dsig1.join(F.broadcast(new_ids), "doc_id")
    new_sigs.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(new_sigs.schema).parquet(staging)
    lsh_index_append(spark, staged, path)
    new_docs = delta1.join(F.broadcast(staged.select("doc_id")), "doc_id")
    v2, _, dcache2 = lsh_serve(spark, path, _lsh_delta2(base_docs, f2, new_docs))
    results = path + "/results_batch2"
    v2.write.mode("overwrite").parquet(results)
    for frame in (dcache2, dcache1, delta1, corpus_cache):
        frame.unpersist()
    return _lsh_verdict_agg(spark.read.schema(v2.schema).parquet(results))


# ---------------------------------------------------------------------------
# Index compaction — merging append generations back into big files
# (VERDICT r11 #2)
# ---------------------------------------------------------------------------


@register(
    "dedup_lsh_index_compaction",
    eager=True,
    oracle=f"""
    {_LSH_SECOND_SERVE_SQL}
    SELECT *,
           TRUE AS sigs_equal_rebuild,
           TRUE AS bands_equal_rebuild,
           TRUE AS sig_files_ge_3_before,
           TRUE AS sig_files_1_after,
           TRUE AS band_partitions_single_file
    FROM ({_LSH_AGG_SQL.format(v='s2_v')})
    """,
)
def dedup_lsh_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup index lifecycle, part 3 — COMPACTION (VERDICT r11 #2):
    build + persist the base index, serve crawl batch #1, append its
    ``new`` signatures in TWO separate generations (split by doc_id
    parity — same final content as one append, but real small-file
    debt: ≥ 3 sig parquets, ≥ 3 files per band partition), then
    compact the index (:func:`index_store.compact` over ``LSH_LAYOUT``)
    and serve crawl batch #2 against the COMPACTED form alone.

    Three proofs ride in the one output:

    * the served verdict aggregate value-hashes against a DuckDB oracle
      that rebuilds the final index FROM SCRATCH — compacted-serve ≡
      rebuild-serve, the ``dedup_lsh_incremental_append`` invariant
      carried through the rewrite;
    * ``sigs_equal_rebuild`` / ``bands_equal_rebuild`` — the compacted
      tables are multiset-equal to a from-scratch rebuild over
      base ∪ batch-1-new (two anti-diffs each, falsifiable both ways);
    * ``sig_files_ge_3_before`` / ``sig_files_1_after`` /
      ``band_partitions_single_file`` — the file-count bill: the debt
      existed and the compaction paid it (a compaction that silently
      no-ops flips the after-flags; one that loses rows flips the
      equality flags; one that corrupts a band flips the hash).

    Scale: compaction reads each index row once and writes it once —
    one exchange keyed by the band partition column, and the signature
    table coalesced to one file.  Serving is untouched: the compacted
    index is the same two tables with fewer files."""
    from dataframework_spark.sources.io import _scratch

    base_docs, f1, f2, corpus_cache = lsh_corpus_split(spark, sf_dir)
    path = _scratch(sf_dir, "lsh_index_cmp")
    cmp_path = _scratch(sf_dir, "lsh_index_cmp_compacted")
    lsh_index_build(spark, base_docs, path)
    delta1 = _lsh_delta1(base_docs, f1).cache()  # batch-sized; 3 consumers
    v1, dsig1, dcache1 = lsh_serve(spark, path, delta1)
    new_ids = v1.where(F.col("verdict") == "new").select("doc_id")
    staging = path + "/staging_batch1"
    new_sigs = dsig1.join(F.broadcast(new_ids), "doc_id")
    new_sigs.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(new_sigs.schema).parquet(staging)
    # two real append GENERATIONS (parity split: union == one append) —
    # the small-file debt this op exists to pay down
    lsh_index_append(spark, staged.where(F.col("doc_id") % 2 == 0), path)
    lsh_index_append(spark, staged.where(F.col("doc_id") % 2 == 1), path)

    sig_files_before = sum(index_store.file_counts(LSH_LAYOUT, path, "sigs").values())
    index_store.compact(spark, LSH_LAYOUT, path, cmp_path)
    sig_files_after = sum(index_store.file_counts(LSH_LAYOUT, cmp_path, "sigs").values())
    band_files = index_store.file_counts(LSH_LAYOUT, cmp_path, "bands").values()

    # rebuild-from-scratch comparison: base ∪ batch-1-new, fresh signatures
    new_docs = delta1.join(F.broadcast(staged.select("doc_id")), "doc_id")
    rebuilt = minhash_signature_frame(base_docs.unionByName(new_docs))
    rebuilt.cache()  # consumed by the sig diff AND the band diff
    csigs = index_store.read(spark, LSH_LAYOUT, cmp_path, "sigs")
    sigs_equal = index_store.frames_equal(csigs, rebuilt.select(csigs.columns))
    cbands = index_store.read(spark, LSH_LAYOUT, cmp_path, "bands")
    rbands = _lsh_band_frame(rebuilt).select(cbands.columns)
    bands_equal = index_store.frames_equal(cbands, rbands)
    rebuilt.unpersist()

    v2, _, dcache2 = lsh_serve(spark, cmp_path, _lsh_delta2(base_docs, f2, new_docs))
    results = cmp_path + "/results_batch2"
    v2.write.mode("overwrite").parquet(results)
    for frame in (dcache2, dcache1, delta1, corpus_cache):
        frame.unpersist()
    return (
        _lsh_verdict_agg(spark.read.schema(v2.schema).parquet(results))
        .withColumn("sigs_equal_rebuild", F.lit(sigs_equal))
        .withColumn("bands_equal_rebuild", F.lit(bands_equal))
        .withColumn("sig_files_ge_3_before", F.lit(sig_files_before >= 3))
        .withColumn("sig_files_1_after", F.lit(sig_files_after == 1))
        .withColumn("band_partitions_single_file", F.lit(all(n == 1 for n in band_files)))
    )
