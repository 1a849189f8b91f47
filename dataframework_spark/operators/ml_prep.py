"""Reference ML-preprocessing semantics (SURVEY.md §2.5-2.7) as Spark plans.

Reproduces Alrash/DataFramework's signature operators on long-format
DataFrames (one row per sample, explicit ``label`` column) instead of
per-class NumPy object arrays (``/root/reference/DFW/preprocess.py:414-422``):

* train/test split plans       — ``preprocess.py:155-193`` (T1)
* CV folds, linspace regime    — ``preprocess.py:185-191`` (T3)
* CV folds, rotation regime    — ``preprocess.py:179-184`` (T2)
* per-feature centering        — ``preprocess.py:76-84``   (A1/M3)
* bias extension               — ``preprocess.py:54-56``   (M2)
* hyperparameter grid          — ``preprocess.py:489-497`` (G1)
* seeded permutation selection — ``preprocess.py:53``      (T6)
* the composed generator       — ``preprocess.py:44-89``   (M1)

Everything is window functions + aggregates — no UDFs, no collect —
so the same plan that passes the sf0.01 oracle runs unchanged on a
1000-executor cluster: splits/folds are one shuffle on ``label``;
centering is a tiny means table broadcast back onto the data.

Documented divergences from the reference (intended semantics kept):

* fractional train sizes use ROUND half-up in both engines; the reference
  uses Python ``round`` (banker's), which differs only when ``n*f`` is an
  exact .5 — unreachable for non-pathological fractions in binary floats.
* fold indices are emitted per-sample (by key) rather than as positions in
  a concatenated global array (``preprocess.py:128-136``) — the flat-array
  offset bookkeeping is an artifact of the NumPy layout, not a semantic.
* the ``labeled`` strip quirk (both branches drop the last row,
  ``preprocess.py:422``) is NOT reproduced; we implement the intended
  behavior (no silent row drop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.arrays import tokens
from dataframework_spark.functions.ranking import global_order_stats
from dataframework_spark.registry import register

# ---------------------------------------------------------------------------
# Library API (reusable transforms)
# ---------------------------------------------------------------------------


def seeded_order(*cols: str | Column, seed: int = 42) -> Column:
    """Deterministic pseudo-random sort key (reference T6, ``preprocess.py:53``).

    The reference replays experiments by storing permutation matrices in the
    ``.mat`` file; at scale we recompute the ordering from a seeded hash of
    the row key — reproducible, shuffle-free of stored state, and a new
    ``seed`` plays the role of the replication index ``no``.

    Hash = first 15 hex digits of md5 over ``seed:col1:col2...`` (60 bits,
    fits int64) — the same cross-dialect construction as
    :func:`dataframework_spark.functions.arrays.tid_sql`, chosen over
    ``xxhash64`` so permutations are identical in ANY engine that has md5
    (DuckDB oracles included), not just Spark.
    """
    key = F.concat_ws(":", F.lit(str(seed)), *[F.col(c) if isinstance(c, str) else c for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def duck_seeded_order_sql(*cols: str, seed: int = 42) -> str:
    """DuckDB twin of :func:`seeded_order` (same md5-prefix integer)."""
    casted = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return f"CAST('0x' || substr(md5('{seed}:' || {casted}), 1, 15) AS BIGINT)"


def _train_size_expr(n: Column, train_setting: float | int, cv: int) -> Column:
    """Per-class train size, reference T1 rules (``preprocess.py:162-173``):
    ``-1`` → all; fraction → round(n*f); int → min(t, n); any result below
    ``cv`` is clamped up to ``min(cv, n)``."""
    if train_setting == -1:
        return n
    if isinstance(train_setting, bool) or not isinstance(train_setting, (int, float)):
        raise ValueError('"train" setting must be -1, a fraction in (0,1), or a positive int')
    if 0 < train_setting < 1:
        ts = F.round(n * F.lit(float(train_setting)), 0).cast("bigint")
        return F.when(ts < cv, F.least(n, F.lit(cv).cast("bigint"))).otherwise(ts)
    if isinstance(train_setting, int) and train_setting >= 1:
        ts = F.least(F.lit(train_setting).cast("bigint"), n)
        return F.when(ts < cv, F.least(F.lit(cv).cast("bigint"), n)).otherwise(ts)
    raise ValueError('"train" setting must be -1, a fraction in (0,1), or a positive int')


def train_test_split(
    df: DataFrame,
    label_col: str,
    order_by: list[str | Column],
    train_setting: float | int = -1,
    cv: int = 5,
) -> DataFrame:
    """Add split-plan columns: ``_n`` (class size), ``_rn`` (1-based rank
    within class), ``_train_size``, ``is_train`` (1/0).

    Train = first ``train_size`` samples in ``order_by`` order, test = rest
    (``preprocess.py:176``).  Pass ``seeded_order(pk)`` in ``order_by`` for
    a randomized-but-reproducible split.  One shuffle on ``label_col``.
    """
    w_count = Window.partitionBy(label_col)
    w_rank = Window.partitionBy(label_col).orderBy(*order_by)
    out = (
        df.withColumn("_n", F.count(F.lit(1)).over(w_count))
        .withColumn("_rn", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("_train_size", _train_size_expr(F.col("_n"), train_setting, cv))
    )
    return out.withColumn(
        "is_train", (F.col("_rn") <= F.col("_train_size")).cast("int")
    )


def assign_folds(split_df: DataFrame, cv: int) -> DataFrame:
    """Linspace-regime fold id for train rows (reference T3,
    ``preprocess.py:185-191``).

    The reference computes contiguous fold boundaries
    ``floor(linspace(0, n, cv+1))``; for 0-based position ``idx`` in the
    train segment that is exactly ``fold = ((idx+1)*cv - 1) div n`` in pure
    integer arithmetic (worked examples ``preprocess.py:186-187`` are the
    golden tests).  Test rows get NULL.  Requires ``train_test_split``
    columns; only valid when ``train_size >= cv`` (else see ``cv_plan``).
    """
    fold = ((F.col("_rn") * cv - F.lit(1)) / F.col("_train_size")).cast("bigint")
    return split_df.withColumn(
        "fold", F.when(F.col("is_train") == 1, fold).otherwise(F.lit(None).cast("bigint"))
    )


def cv_plan(split_df: DataFrame, cv: int) -> DataFrame:
    """General exploded CV plan: one row per (sample, fold) with a
    train/test role — covers BOTH reference regimes (``preprocess.py:179-191``):

    * ``train_size >= cv`` → contiguous linspace folds (T3): the sample is
      the test set of its own fold, train elsewhere;
    * ``train_size <  cv`` → rotating leave-one-out (T2): fold ``i`` tests
      sample ``i mod train_size`` (deque rotation), trains on the rest —
      samples repeat across folds, which is why this regime cannot be a
      single fold column.

    Only train rows participate (folds slice the train segment,
    ``preprocess.py:68-74``).
    """
    folds = F.explode(F.sequence(F.lit(0), F.lit(cv - 1))).alias("fold")
    idx = F.col("_rn") - 1  # 0-based position within the train segment
    lin_fold = ((F.col("_rn") * cv - F.lit(1)) / F.col("_train_size")).cast("bigint")
    role = (
        F.when(
            F.col("_train_size") < cv,
            F.when(idx == F.col("fold") % F.col("_train_size"), "test").otherwise("train"),
        )
        .otherwise(F.when(lin_fold == F.col("fold"), "test").otherwise("train"))
        .alias("role")
    )
    return (
        split_df.where(F.col("is_train") == 1)
        .select("*", folds)
        .withColumn("fold", F.col("fold").cast("bigint"))
        .select("*", role)
    )


def center(
    df: DataFrame,
    value_cols: list[str],
    train_col: str = "is_train",
    ndigits: int = 4,
) -> DataFrame:
    """Fit/transform mean-centering (reference A1/M3, ``preprocess.py:76-84``):
    per-feature means over the TRAIN partition only, subtracted from train
    and test alike.

    The means table is one tiny row — broadcast back with a cross join, so
    at scale this is a map-side subtract, never a wide shuffle.  Means are
    rounded to ``ndigits`` before subtraction so the centered values are
    bit-identical across engines (raw cross-engine avgs differ in last ulps).
    """
    means = df.where(F.col(train_col) == 1).agg(
        *[F.round(F.avg(c), ndigits).alias(f"_mean_{c}") for c in value_cols]
    )
    out = df.crossJoin(F.broadcast(means))
    for c in value_cols:
        out = out.withColumn(f"{c}_centered", F.col(c) - F.col(f"_mean_{c}"))
    return out.drop(*[f"_mean_{c}" for c in value_cols])


def center_features(
    df: DataFrame,
    features_col: str,
    train_col: str = "is_train",
    ndigits: int = 6,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Full-vector fit/transform centering (reference ``preprocess.py:76-84``):
    subtract the per-DIMENSION train means from EVERY dimension of every
    row's feature vector, train and test alike — the reference's
    ``center=True`` semantics (r1 centered only the first dimension on the
    facade path; ADVICE r1).

    ``by`` centers each group separately, as if the call ran on each
    group's rows alone: means are per ``(*by, dim)`` and each row gets its
    own group's vector (a group without train rows gets NULL features).

    Plan shape: posexplode of TRAIN rows only → per-dim mean (one shuffle,
    dim-sized result) → means collected into ONE array row per group,
    broadcast back (cross join, or a join on ``by``) → ``zip_with``
    subtract (narrow, codegen).  The data table itself never explodes or
    shuffles."""
    by = list(by)
    exploded = df.where(F.col(train_col) == 1).select(
        *by, F.posexplode(F.col(features_col).cast("array<double>")).alias("pos", "val")
    )
    means = exploded.groupBy(*by, "pos").agg(F.round(F.avg("val"), ndigits).alias("m"))
    marr = F.broadcast(means.groupBy(*by).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias(
            "_dim_means"
        )
    ))
    if by:
        joined = df.join(marr, by, "left").select(*df.columns, "_dim_means")
    else:
        joined = df.crossJoin(marr)
    return joined.withColumn(
        features_col,
        F.expr(
            f"zip_with(cast({features_col} as array<double>), _dim_means, "
            "(x, m) -> x - m)"
        ),
    ).drop("_dim_means")


def extend_bias(df: DataFrame, features_col: str | None = None) -> DataFrame:
    """Bias extension (reference M2, ``preprocess.py:54-56``): append a
    constant-1 feature — as a scalar ``bias`` column, and appended to the
    feature vector when ``features_col`` is an array column."""
    out = df.withColumn("bias", F.lit(1.0))
    if features_col:
        out = out.withColumn(
            features_col, F.concat(F.col(features_col), F.array(F.lit(1.0)))
        )
    return out


def param_grid(spark: SparkSession, grid: dict[str, list]) -> DataFrame:
    """Hyperparameter Cartesian product (reference G1,
    ``preprocess.py:489-497``): the reference builds a ``(∏len_i × k)``
    matrix with iterated ``np.kron``; here it is a chain of cross joins of
    single-column DataFrames — the natural distributed form (and what
    Spark ML's ``ParamGridBuilder`` produces for MLlib)."""
    out: DataFrame | None = None
    for name, values in grid.items():
        # One-partition literal explode, NOT createDataFrame+crossJoin of
        # multi-partition sides: cartesian task counts multiply per join
        # (32^k empty tasks on local[32]) while this stays a single task.
        col = spark.range(1).select(
            F.explode(F.array(*[F.lit(v) for v in values])).alias(name)
        )
        out = col if out is None else out.crossJoin(col)
    if out is None:
        raise ValueError("empty grid")
    return out


# ---------------------------------------------------------------------------
# Registered oracle-checked queries (embeddings = the long-format
# per-class fixture: vec_id key, label class, 64-dim float array)
# ---------------------------------------------------------------------------

_SPLIT_SQL_CTE = """
    WITH split AS (
      SELECT vec_id, label,
             COUNT(*)     OVER (PARTITION BY label)                    AS n,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id)    AS rn
      FROM embeddings),
    sized AS (
      SELECT vec_id, label, n, rn,
             CASE WHEN CAST(ROUND(n * 0.7) AS BIGINT) < 5
                  THEN LEAST(n, 5)
                  ELSE CAST(ROUND(n * 0.7) AS BIGINT) END AS train_size
      FROM split)
"""


@register(
    "ml_train_test_split",
    oracle=_SPLIT_SQL_CTE
    + """
    SELECT vec_id, label,
           CAST(rn <= train_size AS INT) AS is_train
    FROM sized
    """,
)
def ml_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference T1 split plan (``preprocess.py:155-193``) on the
    embeddings table: per-label deterministic order by key, train fraction
    0.7, cv clamp 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    return split.select("vec_id", "label", "is_train")


@register(
    "ml_cv_folds",
    oracle=_SPLIT_SQL_CTE
    + """
    SELECT vec_id, label, (rn * 5 - 1) // train_size AS fold
    FROM sized
    WHERE rn <= train_size
    """,
)
def ml_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference T3 contiguous linspace folds (``preprocess.py:185-191``)
    over the train segment; integer-exact boundary parity with the
    reference's ``floor(linspace(...))`` (golden examples
    ``preprocess.py:186-187`` are unit-tested)."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    return assign_folds(split, cv=5).where(F.col("is_train") == 1).select(
        "vec_id", "label", "fold"
    )


@register(
    "ml_cv_plan_rotation",
    oracle="""
    WITH small AS (
      SELECT vec_id, label,
             COUNT(*)     OVER (PARTITION BY label)                 AS train_size,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      FROM embeddings WHERE vec_id < 12)
    SELECT label, f.fold AS fold, vec_id,
           CASE WHEN train_size < 5
                THEN CASE WHEN rn - 1 = f.fold % train_size THEN 'test' ELSE 'train' END
                ELSE CASE WHEN (rn * 5 - 1) // train_size = f.fold THEN 'test' ELSE 'train' END
           END AS role
    FROM small, (SELECT CAST(range AS BIGINT) AS fold FROM range(5)) f
    """,
)
def ml_cv_plan_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference T2 rotating leave-one-out regime (``preprocess.py:179-184``):
    with fewer train samples than folds, fold ``i`` tests sample
    ``i mod train_size`` and trains on the rest.  Exercised on a small
    key-range slice so classes genuinely have n < cv."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 12)
    split = train_test_split(emb, "label", ["vec_id"], train_setting=-1, cv=5)
    return cv_plan(split, cv=5).select("label", "fold", "vec_id", "role")


@register(
    "ml_center_scalar",
    oracle="""
    WITH means AS (
      SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) AS seg_mean
      FROM customer GROUP BY c_mktsegment)
    SELECT c_custkey, c.c_mktsegment AS c_mktsegment,
           ROUND(c_acctbal - seg_mean, 4) AS bal_centered
    FROM customer c JOIN means m ON c.c_mktsegment = m.c_mktsegment
    """,
)
def ml_center_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean-centering (reference A1 pattern) on a scalar column:
    group means are a tiny aggregate broadcast back onto the fact rows —
    the scale-safe shape of ``x - mean(x)``."""
    cust = load_table(spark, sf_dir, "customer")
    means = cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 4).alias("seg_mean")
    )
    return (
        cust.join(F.broadcast(means), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") - F.col("seg_mean"), 4).alias("bal_centered"),
        )
    )


@register(
    "ml_center_embeddings",
    oracle=_SPLIT_SQL_CTE
    + """,
    exploded AS (
      SELECT s.vec_id AS vec_id, CAST(rn <= train_size AS INT) AS is_train,
             CAST(generate_subscripts(e.embedding, 1) - 1 AS BIGINT) AS pos,
             CAST(unnest(e.embedding) AS DOUBLE) AS val
      FROM sized s JOIN embeddings e ON s.vec_id = e.vec_id),
    means AS (
      SELECT pos, ROUND(AVG(val), 6) AS dim_mean
      FROM exploded WHERE is_train = 1 GROUP BY pos)
    SELECT e.vec_id AS vec_id, e.pos AS pos, e.is_train AS is_train,
           ROUND(e.val - m.dim_mean, 4) AS val_centered
    FROM exploded e JOIN means m ON e.pos = m.pos
    WHERE e.pos < 4
    """,
)
def ml_center_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's fit/transform centering (``preprocess.py:76-84``) on
    real feature vectors: per-dimension means over TRAIN rows only,
    subtracted from train and test alike.

    posexplode keeps this expression-only (no UDF); the means table (one
    row per dimension) broadcasts back.  Output restricted to the first 4
    dims to keep the oracle result compact; the plan is dimension-count
    agnostic."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    exploded = split.select(
        "vec_id",
        "is_train",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    means = (
        exploded.where(F.col("is_train") == 1)
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 6).alias("dim_mean"))
    )
    return (
        exploded.join(F.broadcast(means), "pos")
        .where(F.col("pos") < 4)
        .select(
            "vec_id",
            F.col("pos").cast("bigint").alias("pos"),
            "is_train",
            F.round(F.col("val") - F.col("dim_mean"), 4).alias("val_centered"),
        )
    )


@register(
    "ml_extend_bias",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) + 1 AS BIGINT)      AS n_features,
           CAST(1.0 AS DOUBLE)                     AS bias
    FROM embeddings
    """,
)
def ml_extend_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias extension (reference M2, ``preprocess.py:54-56``): append a
    constant-1 feature to every sample vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    extended = extend_bias(emb, features_col="embedding")
    return extended.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_features"),
        "bias",
    )


@register(
    "ml_param_grid",
    oracle="""
    -- literals cast to DOUBLE: bare decimals infer DECIMAL(4,3), which
    -- pandas canonicalization may coerce differently than Spark's double
    SELECT CAST(l.lmd AS DOUBLE) AS lmd, CAST(g.gamma AS DOUBLE) AS gamma,
           k.kernel AS kernel
    FROM (VALUES (0.001), (0.01), (0.1), (1.0)) l(lmd)
    CROSS JOIN (VALUES (0.5), (1.0), (2.0)) g(gamma)
    CROSS JOIN (VALUES ('linear'), ('rbf')) k(kernel)
    """,
)
def ml_param_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter grid (reference G1, ``preprocess.py:489-497``):
    Cartesian product 4 x 3 x 2 = 24 combinations via chained cross joins."""
    return param_grid(
        spark,
        {
            "lmd": [0.001, 0.01, 0.1, 1.0],
            "gamma": [0.5, 1.0, 2.0],
            "kernel": ["linear", "rbf"],
        },
    )


@register(
    "ml_class_counts",
    oracle="""
    SELECT label,
           COUNT(*) AS n_samples,
           (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM embeddings) AS n_classes
    FROM embeddings GROUP BY label
    """,
)
def ml_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class count + per-class sample counts (reference A2/A3,
    ``preprocess.py:120,145-153``) — the statistics that drive split sizing."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_samples"))
    n_classes = emb.agg(F.countDistinct("label").alias("n_classes"))
    return counts.crossJoin(F.broadcast(n_classes))


@register(
    "ml_pipeline_generator",
    oracle=_SPLIT_SQL_CTE
    + """,
    labeled AS (
      SELECT s.vec_id AS vec_id, s.label AS label, rn, train_size,
             CAST(rn <= train_size AS INT) AS is_train,
             CAST(e.embedding[1] AS DOUBLE) AS x0
      FROM sized s JOIN embeddings e ON s.vec_id = e.vec_id),
    means AS (
      SELECT ROUND(AVG(x0), 6) AS mean_x0 FROM labeled WHERE is_train = 1)
    SELECT vec_id, label, is_train,
           CASE WHEN is_train = 1 THEN (rn * 5 - 1) // train_size END AS fold,
           ROUND(x0 - mean_x0, 4) AS x0_centered,
           CAST(1.0 AS DOUBLE) AS bias
    FROM labeled, means
    """,
)
def ml_pipeline_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's composed ``generator`` (M1, ``preprocess.py:44-89``)
    end-to-end: order → split (0.7, cv=5) → fold assignment → bias
    extension → train-mean centering, as ONE lazy plan.  The reference
    materializes four arrays eagerly; here the whole chain is a single
    DataFrame Catalyst can pipeline (no transpose — row-major throughout,
    SURVEY.md §2.6 M7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    folded = assign_folds(split, cv=5)
    biased = extend_bias(folded).withColumn(
        "x0", F.element_at(F.col("embedding").cast("array<double>"), 1)
    )
    centered = center(biased, ["x0"], ndigits=6)
    return centered.select(
        "vec_id",
        "label",
        "is_train",
        "fold",
        F.round("x0_centered", 4).alias("x0_centered"),
        "bias",
    )


@register(
    "ml_seeded_permutation",
    oracle="""
    SELECT vec_id, label,
           CAST(row_number() OVER (
             PARTITION BY label
             ORDER BY CAST('0x' || substr(md5('7:' || CAST(vec_id AS VARCHAR)), 1, 15)
                           AS BIGINT),
                      vec_id) AS BIGINT) AS perm_pos
    FROM embeddings
    """,
)
def ml_seeded_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded permutation replicate (reference T6, ``preprocess.py:53``):
    the stored ``r[k][no, :]`` permutation matrix becomes a recomputed
    seeded-hash ordering — deterministic across runs, cluster sizes, AND
    engines (md5-prefix integer, see :func:`seeded_order`), with zero
    stored state.  r1/r2 graded this rows-only because the order key was
    ``xxhash64``; the portable hash upgraded it to a full hash check."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(seeded_order("vec_id", seed=7), "vec_id")
    return emb.select(
        "vec_id", "label", F.row_number().over(w).cast("bigint").alias("perm_pos")
    )


@register(
    "ml_standardize",
    oracle=_SPLIT_SQL_CTE
    + """,
    feat AS (
      SELECT s.vec_id, s.label, s.rn, s.train_size,
             CAST(rn <= train_size AS INT) AS is_train,
             CAST(e.embedding[1] AS DOUBLE) AS x0
      FROM sized s JOIN embeddings e ON s.vec_id = e.vec_id),
    stats AS (
      SELECT ROUND(AVG(x0), 6) AS mu, ROUND(STDDEV_POP(x0), 6) AS sd
      FROM feat WHERE is_train = 1)
    SELECT vec_id, label, is_train,
           ROUND((x0 - mu) / sd, 4) AS x0_std
    FROM feat, stats
    """,
)
def ml_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardization (z-score): train-fitted mean AND population stddev
    applied to train and test alike — the fit/transform companion the
    reference stops short of (it only mean-centers,
    ``preprocess.py:76-84``; variance scaling is the standard next step,
    cf. Spark ML ``StandardScaler(withMean=True, withStd=True)``).

    Same scale shape as ``center``: one tiny stats row broadcast back, a
    map-side transform — never a second shuffle of the data.  Stats are
    rounded pre-division so both engines divide identical numbers."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    feat = split.withColumn(
        "x0", F.element_at(F.col("embedding").cast("array<double>"), 1)
    )
    stats = feat.where(F.col("is_train") == 1).agg(
        F.round(F.avg("x0"), 6).alias("_mu"),
        F.round(F.stddev_pop("x0"), 6).alias("_sd"),
    )
    return (
        feat.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            "label",
            "is_train",
            F.round((F.col("x0") - F.col("_mu")) / F.col("_sd"), 4).alias("x0_std"),
        )
    )


@register(
    "ml_feature_covariance",
    oracle="""
    WITH f AS (
      SELECT vec_id,
             unnest(range(len(embedding)))  AS i,
             unnest(embedding)::DOUBLE      AS v
      FROM embeddings)
    -- the trailing + 0.0 collapses IEEE negative zero: a covariance that
    -- rounds to zero came out -0.0 in DuckDB and 0.0 in Spark, which a
    -- string/byte-level canonicalizer hashes differently
    SELECT a.i AS dim_i, b.i AS dim_j,
           ROUND(COVAR_POP(a.v, b.v), 6) + 0.0 AS cov
    FROM f a JOIN f b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
)
def ml_feature_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle feature covariance matrix over the embedding corpus
    — the Gram-style statistic PCA/whitening needs (the distributed form
    of the reference's per-feature moments, ``preprocess.py:76-84``).

    Spark-first plan: each row expands to its d·(d+1)/2 index pairs with
    a *narrow* nested-lambda transform (no self-join, nothing shuffles by
    vec_id — the oracle's join formulation is the semantic spec, not the
    plan), then one ``covar_pop`` aggregate partial-reduces map-side to
    at most 2080 groups per task.  Cost at 100 TB: one scan + a
    constant-size shuffle, independent of corpus row count.  The d·(d+1)/2
    expansion is CPU-bound, so a single-split local scan is spread across
    cores first (cluster scans get this from their input splits; measured
    2.5 s → 1.0 s at sf0.1)."""
    e = load_table(spark, sf_dir, "embeddings", columns=["embedding"])
    e = e.repartition(spark.sparkContext.defaultParallelism)
    pairs = e.select(
        F.explode(
            F.expr(
                """
                flatten(transform(embedding, (x, i) ->
                  transform(slice(embedding, i + 1, size(embedding) - i), (y, j) ->
                    struct(cast(i as bigint) as dim_i,
                           cast(i + j as bigint) as dim_j,
                           cast(x as double) as x,
                           cast(y as double) as y))))
                """
            )
        ).alias("p")
    ).select("p.dim_i", "p.dim_j", "p.x", "p.y")
    return pairs.groupBy("dim_i", "dim_j").agg(
        (F.round(F.covar_pop("x", "y"), 6) + F.lit(0.0)).alias("cov")
    )


@register(
    "ml_label_centroids",
    oracle="""
    WITH f AS (
      SELECT label,
             unnest(range(len(embedding)))  AS dim,
             unnest(embedding)::DOUBLE      AS v
      FROM embeddings)
    SELECT label, dim,
           COUNT(*)                 AS n,
           ROUND(AVG(v), 6)         AS centroid,
           ROUND(VAR_POP(v), 6)     AS within_var
    FROM f GROUP BY 1, 2
    """,
)
def ml_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids + within-class variance per dimension
    — the distributed prototype/codebook statistic (nearest-centroid
    classifiers, LDA scatter, IVF codebook seeding).  Long-format output
    (label, dim) sidesteps array-ordering ambiguity and keeps the result
    oracle-comparable.

    The explode is narrow; the aggregate partial-reduces to
    |labels|·d groups map-side, so the shuffle is constant-size no matter
    how many vectors the corpus holds — same scale shape as the
    reference's per-class means (``preprocess.py:76-84``) need."""
    e = load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"])
    flat = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    ).select("label", F.col("dim").cast("bigint").alias("dim"), "v")
    return flat.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).alias("centroid"),
        F.round(F.var_pop("v"), 6).alias("within_var"),
    )


@register(
    "ml_quantize_embeddings",
    oracle="""
    WITH f AS (
      SELECT vec_id,
             unnest(range(len(embedding)))  AS dim,
             unnest(embedding)::DOUBLE      AS v
      FROM embeddings),
    mm AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM f GROUP BY 1)
    SELECT vec_id, f.dim,
           CAST(ROUND((v - lo) / NULLIF(hi - lo, 0) * 255) AS INT) AS code
    FROM f JOIN mm USING (dim)
    """,
)
def ml_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension uint8 scalar quantization of the embedding corpus —
    the 4×-storage-reduction step before ANN indexing at scale (codes
    keep cosine ordering approximately; the dequant params are the tiny
    ``mm`` table).

    The min/max calibration table is d rows and broadcast back; the
    corpus is exploded narrowly and joined without shuffling by vec_id.
    Both engines round half-away-from-zero on positive values, so codes
    hash-match exactly."""
    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    flat = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"), "v")
    mm = flat.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    span = F.when(F.col("hi") != F.col("lo"), F.col("hi") - F.col("lo"))
    return flat.join(F.broadcast(mm), "dim").select(
        "vec_id",
        "dim",
        F.round((F.col("v") - F.col("lo")) / span * 255, 0).cast("int").alias("code"),
    )


def power_iteration_pc1(
    df: DataFrame, vec_col: str = "embedding", iters: int = 8
) -> list[float]:
    """First principal component by distributed power iteration.

    The pattern for d too large to materialize the d² covariance: each
    iteration is ONE pass over the data computing
    ``w = Σ_rows (x−µ)·((x−µ)ᵀv)`` — a zip_with dot product plus a
    posexplode aggregate, all JVM-side — and only d floats (the running
    vector) ever live on the driver.  Deterministic: fixed uniform init,
    fixed iteration count, sign pinned by the largest-|loading| dimension.
    """
    import math

    d = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    x = F.col(vec_col).cast("array<double>")
    mu_rows = (
        df.select(F.posexplode(x).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.avg("v").alias("mu"))
        .collect()  # bounded: one row per embedding dim (d rows)
    )
    mu = [0.0] * d
    for r in mu_rows:
        mu[r["dim"]] = r["mu"]
    v = [1.0 / math.sqrt(d)] * d

    for _ in range(iters):
        mu_arr = F.array(*[F.lit(m) for m in mu])
        v_arr = F.array(*[F.lit(c) for c in v])
        centered = F.zip_with(x, mu_arr, lambda a, b: a - b)
        dot = F.aggregate(
            F.zip_with(centered, v_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, t: s + t,
        )
        w_rows = (
            df.select(F.posexplode(centered).alias("dim", "c"), dot.alias("dot"))
            .groupBy("dim")
            .agg(F.sum(F.col("c") * F.col("dot")).alias("w"))
            .collect()  # bounded: one row per embedding dim (d rows)
        )
        w = [0.0] * d
        for r in w_rows:
            w[r["dim"]] = r["w"]
        norm = math.sqrt(sum(c * c for c in w)) or 1.0
        v = [c / norm for c in w]

    # pin the sign: the largest-magnitude loading is positive
    pivot = max(range(d), key=lambda i: abs(v[i]))
    if v[pivot] < 0:
        v = [-c for c in v]
    return v


def _power_iteration_oracle_sql(iters: int = 8) -> str:
    """Static DuckDB twin of :func:`power_iteration_pc1`: the fixed
    8-iteration loop unrolled into a CTE chain over the exploded
    (vec_id, dim, centered-x) table — each iteration is a per-row dot
    with the previous vector, a per-dim weighted sum, and a normalize;
    sign pinned by the first largest-|loading| dimension, exactly the
    Python tie-break.  Deterministic at 6 dp: power iteration contracts
    toward the dominant eigenvector, so cross-engine summation-order
    noise (~1e-12 relative) cannot move a rounded loading (verified
    equal to the numpy reference digit-for-digit at sf0.01)."""
    ctes = [
        """u AS MATERIALIZED (
      SELECT vec_id, i - 1 AS dim, CAST(v AS DOUBLE) AS x
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings))""",
        "mu AS MATERIALIZED (SELECT dim, AVG(x) AS mu FROM u GROUP BY dim)",
        """c AS MATERIALIZED (
      SELECT u.vec_id, u.dim, u.x - mu.mu AS cx FROM u JOIN mu USING (dim))""",
        "d AS (SELECT COUNT(*) AS d FROM mu)",
        "v0 AS MATERIALIZED (SELECT dim, 1.0 / sqrt(d) AS vv FROM mu, d)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""dot{k} AS (
      SELECT c.vec_id, SUM(c.cx * v.vv) AS dot
      FROM c JOIN v{k - 1} v ON c.dim = v.dim GROUP BY c.vec_id)"""
        )
        ctes.append(
            f"""w{k} AS MATERIALIZED (
      SELECT c.dim, SUM(c.cx * d.dot) AS w
      FROM c JOIN dot{k} d USING (vec_id) GROUP BY c.dim)"""
        )
        ctes.append(f"n{k} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w{k})")
        ctes.append(f"v{k} AS MATERIALIZED (SELECT dim, w / nrm AS vv FROM w{k}, n{k})")
    last = f"v{iters}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    piv AS (SELECT CASE WHEN (SELECT vv FROM {last} ORDER BY abs(vv) DESC, dim LIMIT 1) < 0
                        THEN -1.0 ELSE 1.0 END AS s)
    SELECT CAST(dim AS BIGINT) AS dim, ROUND(vv * s, 6) AS loading
    FROM {last}, piv ORDER BY dim"""
    )


@register("ml_power_iteration_pc1", oracle=_power_iteration_oracle_sql())
def ml_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding corpus via distributed
    power iteration (8 passes).  Upgraded rows-only → FULL value-hash in
    r4: the fixed-iteration loop is deterministic given the data (uniform
    init, pinned sign), so the oracle unrolls the identical recurrence in
    DuckDB SQL (:func:`_power_iteration_oracle_sql`).  The unit test
    ``test_power_iteration_matches_numpy`` additionally pins the loadings
    against the true covariance eigenvector (|cos| > 0.999)."""
    e = load_table(spark, sf_dir, "embeddings", columns=["embedding"])
    v = power_iteration_pc1(e)
    return spark.createDataFrame(
        [(i, round(c, 6)) for i, c in enumerate(v)], "dim: bigint, loading: double"
    )


@register(
    "ml_minmax_scale",
    oracle=_SPLIT_SQL_CTE
    + """,
    feat AS (
      SELECT s.vec_id, s.label, s.rn, s.train_size,
             CAST(rn <= train_size AS INT) AS is_train,
             CAST(e.embedding[1] AS DOUBLE) AS x0
      FROM sized s JOIN embeddings e ON s.vec_id = e.vec_id),
    stats AS (SELECT MIN(x0) AS lo, MAX(x0) AS hi FROM feat WHERE is_train = 1)
    SELECT vec_id, label, is_train,
           ROUND((x0 - lo) / (hi - lo), 4) AS x0_scaled
    FROM feat, stats
    """,
)
def ml_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling to [0, 1]: range fitted on the TRAIN split only,
    applied to train and test alike — the fit/transform sibling of
    ``ml_standardize`` (cf. Spark ML ``MinMaxScaler``); test rows can land
    outside [0, 1], which is correct (no leakage of test extremes into the
    fit).

    Same scale shape as ``center``: the fitted stats are ONE row broadcast
    back onto a map-side transform.  Min/max are order-insensitive exact
    values, so (unlike avg/stddev) no pre-rounding is needed for
    cross-engine hash parity."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = train_test_split(emb, "label", ["vec_id"], train_setting=0.7, cv=5)
    feat = split.withColumn(
        "x0", F.element_at(F.col("embedding").cast("array<double>"), 1)
    )
    stats = feat.where(F.col("is_train") == 1).agg(
        F.min("x0").alias("_lo"), F.max("x0").alias("_hi")
    )
    return feat.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "label",
        "is_train",
        F.round(
            (F.col("x0") - F.col("_lo")) / (F.col("_hi") - F.col("_lo")), 4
        ).alias("x0_scaled"),
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "ml_onehot_encode",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderpriority = '1-URGENT'        AS INT) AS pri_urgent,
           CAST(o_orderpriority = '2-HIGH'          AS INT) AS pri_high,
           CAST(o_orderpriority = '3-MEDIUM'        AS INT) AS pri_medium,
           CAST(o_orderpriority = '4-NOT SPECIFIED' AS INT) AS pri_notspec,
           CAST(o_orderpriority = '5-LOW'           AS INT) AS pri_low
    FROM orders
    """,
)
def ml_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a categorical column (order priority → five
    indicator columns) — the categorical-feature materialization step
    between raw tables and the numeric matrices the reference consumes
    (its data model is numeric-only, ``preprocess.py:50``; encoding is the
    missing on-ramp).

    The category list is DECLARED, not discovered — like
    ``reshape_pivot``, that keeps the plan a pure narrow projection (zero
    shuffles, zero extra passes at 100 TB); Spark ML's ``OneHotEncoder``
    fits a dictionary first, which costs a full pass.  Unknown categories
    encode as all-zeros, the standard handle-invalid choice."""
    names = ("pri_urgent", "pri_high", "pri_medium", "pri_notspec", "pri_low")
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    return orders.select(
        "o_orderkey",
        *[
            (F.col("o_orderpriority") == v).cast("int").alias(n)
            for v, n in zip(_PRIORITIES, names)
        ],
    )


@register(
    "ml_nearest_centroid_confusion",
    oracle="""
    WITH f AS (
      SELECT label,
             unnest(range(len(embedding)))  AS dim,
             unnest(embedding)::DOUBLE      AS v
      FROM embeddings),
    cd AS (SELECT label, dim, AVG(v) AS c FROM f GROUP BY 1, 2),
    cent AS (SELECT label AS clabel, list(c ORDER BY dim) AS centroid FROM cd GROUP BY 1),
    d AS (
      SELECT e.vec_id, e.label, c.clabel,
             list_sum(list_transform(range(len(e.embedding)),
               i -> (e.embedding[i + 1]::DOUBLE - c.centroid[i + 1])
                    * (e.embedding[i + 1]::DOUBLE - c.centroid[i + 1]))) AS dist2
      FROM embeddings e CROSS JOIN cent c),
    r AS (
      SELECT label, clabel, dist2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY ROUND(dist2, 6), clabel) AS rn
      FROM d)
    SELECT label, clabel AS predicted, COUNT(*) AS n,
           ROUND(AVG(SQRT(dist2)), 2) AS avg_dist
    FROM r WHERE rn = 1 GROUP BY 1, 2
    """,
)
def ml_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of every embedding against the
    per-label centroids, reported as a confusion matrix (true label ×
    predicted label, with count and mean distance) — the zero-training
    baseline classifier and the standard label-noise diagnostic for an
    embedding corpus.

    Plan shape for 100 TB: the centroid "model" is |labels| rows and is
    built with a constant-size shuffle (same partial-agg shape as
    ``ml_label_centroids``), then BROADCAST — the corpus-side pass is a
    narrow map (cross join against a 10-row build side + argmin window
    keyed by vec_id, which AQE handles as local sort within scan
    partitions).  Distances are ranked on a 6-dp rounding with the label
    as tiebreak, so cross-engine float noise cannot flip the argmin."""
    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label", "embedding"])
    flat = e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"))
    cd = flat.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    cent = cd.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").alias("centroid")
    ).select(F.col("label").alias("clabel"), "centroid")
    # r12 opt (guide §1.2): the |labels|-row model collapses to ONE
    # broadcast array of (clabel, centroid) and the argmin runs narrowly
    # inside each corpus row — array_min over (rounded d², clabel) structs
    # IS the old row_number()=1 pick (lexicographic struct order = the
    # window's (round(dist2,6), clabel) order; clabel is unique within the
    # array, so the winner's raw dist2 rides along unambiguously).  The
    # 10× crossJoin row expansion, the vec_id exchange, and the window
    # sort are gone; each d² is the identical IEEE fold as before.
    cents = cent.groupBy().agg(
        F.expr("array_sort(collect_list(struct(clabel, centroid)))").alias("cs")
    )
    # r13 opt (r12 ADVICE; guide §1.2 per-task work): the d² fold is built
    # in an INNER transform and the (rounded, label, raw) ranking struct in
    # an outer one — Spark does not common-subexpression-eliminate inside
    # HOF lambdas, so spelling the fold twice (rd + dist2) doubled the
    # per-centroid FLOPs.  Same fold, same round, same struct order —
    # value-identical.
    best = F.expr(
        "array_min(transform("
        "transform(cs, c -> struct("
        "aggregate(zip_with(cast(embedding as array<double>), c.centroid, "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v) as dist2, "
        "c.clabel as clabel)), "
        "s -> struct(round(s.dist2, 6) as rd, s.clabel as clabel, s.dist2 as dist2)))"
    )
    r = e.crossJoin(F.broadcast(cents)).select("vec_id", "label", best.alias("b"))
    return r.groupBy("label", F.col("b.clabel").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.sqrt("b.dist2")), 2).alias("avg_dist"),
    )


@register(
    "ml_auc_rank",
    oracle="""
    WITH cpos AS (
      SELECT dim, AVG(v) AS c FROM (
        SELECT unnest(range(len(embedding))) AS dim, unnest(embedding)::DOUBLE AS v
        FROM embeddings WHERE label = 0) GROUP BY dim),
    cent AS (SELECT list(c ORDER BY dim) AS centroid FROM cpos),
    s AS (
      SELECT e.vec_id, e.label = 0 AS is_pos,
             list_sum(list_transform(range(len(e.embedding)),
               i -> e.embedding[i + 1]::DOUBLE * c.centroid[i + 1])) AS score
      FROM embeddings e CROSS JOIN cent c),
    r AS (
      SELECT is_pos,
             ROW_NUMBER() OVER (ORDER BY ROUND(score, 6), vec_id) AS rnk
      FROM s)
    SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT)   AS n_pos,
           CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT)   AS n_neg,
           ROUND((SUM(CASE WHEN is_pos THEN rnk ELSE 0 END)
                  - SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)
                    * (SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) + 1) / 2.0)
                 / (SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)
                    * SUM(CASE WHEN is_pos THEN 0 ELSE 1 END)), 4)   AS auc
    FROM r
    """,
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC by the Mann-Whitney rank-sum identity for a deterministic
    scorer (dot product against the positive-class centroid, positives =
    label 0): AUC = (Σ ranks of positives − n_pos(n_pos+1)/2) / (n_pos·
    n_neg) — the standard evaluation metric, computed without any ML
    library and oracle-checkable.

    Plan: the scorer "model" is one broadcast d-vector; scoring is a
    narrow row expression.  Exact AUC needs a total order over scores, but
    NOT a single-partition window: the global rank comes from
    :func:`global_order_stats` (range-partitioned parallel sort +
    per-partition prefix offsets), so the ranking scales like any
    ``orderBy``.  Score ties are broken by vec_id identically in both
    engines."""
    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label", "embedding"])
    pos_flat = e.where(F.col("label") == 0).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    cent = (
        pos_flat.groupBy("dim")
        .agg(F.avg("v").alias("c"))
        .groupBy()
        .agg(F.expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").alias("centroid"))
    )
    s = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        (F.col("label") == 0).alias("is_pos"),
        F.expr(
            "aggregate(zip_with(cast(embedding as array<double>), centroid, "
            "(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        ).alias("score"),
    )
    # r12 note (guide §1.3): an s.cache() before the ranking helper was
    # tried (the helper's repartitionByRange samples its input, a second
    # evaluation of the scoring pass) and REVERTED — paired in-JVM A/B
    # lost 6/7 reps; locally the sampling pass is cheaper than the cache's
    # materialization barrier.
    s = s.withColumn("_score_r", F.round("score", 6))
    r = global_order_stats(
        s, [F.col("_score_r"), F.col("vec_id")], rn="rnk"
    ).select("is_pos", "rnk")
    n_pos = F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
    rank_sum = F.sum(F.when(F.col("is_pos"), F.col("rnk")).otherwise(0))
    return r.groupBy().agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.round((rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 4).alias("auc"),
    )


_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "ml_quantile_bucketize",
    oracle=f"""
    WITH th AS (
      SELECT quantile_cont(o_totalprice, {_DECILES}) AS ths FROM orders)
    SELECT 1 + len(list_filter(th.ths, t -> o.o_totalprice > t)) AS bucket,
           COUNT(*)                     AS n,
           ROUND(MIN(o.o_totalprice), 2) AS lo,
           ROUND(MAX(o.o_totalprice), 2) AS hi
    FROM orders o CROSS JOIN th GROUP BY 1
    """,
)
def ml_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (Spark ML ``QuantileDiscretizer`` semantics,
    exact): order prices bucketed into deciles by interpolated-quantile
    thresholds, with per-bucket counts and bounds — the feature-binning
    step before tree models and the skew diagnostic for monetization
    columns.

    Plan: thresholds come from ONE exact-percentile aggregate buffer (a
    single sort-based agg — the repo's measured-fast formulation), come
    back as a 9-element array broadcast to every row, and bucket
    assignment is a narrow ``filter``-count over that array.  At 100 TB
    substitute ``approx_percentile`` for the threshold pass (sketch
    merge, no sort) — assignment is unchanged."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    qlist = ", ".join(str(q) for q in _DECILES)
    th = orders.agg(F.expr(f"percentile(o_totalprice, array({qlist}))").alias("ths"))
    b = orders.crossJoin(F.broadcast(th)).select(
        (1 + F.expr("size(filter(ths, t -> o_totalprice > t))")).alias("bucket"),
        "o_totalprice",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


_GD_D = 64  # embedding dimensionality (TESTDATA.md: array<float> x 64)
_GD_LR = 1.0
_GD_STEPS = 3

# One full-batch gradient-descent step as DuckDB CTEs: probabilities under
# the current weights, per-dimension mean gradient, weight update.  Each
# step rounds at 12 dp (noise floor ~1e-16) so chained float folds cannot
# drift across engines; the driver hash sees only the 6-dp final weights.
_GD_DUCK_STEP = """
    p{i} AS (
      SELECT x, y,
             1.0 / (1.0 + exp(-list_sum(list_transform(range({d}),
               j -> x[j + 1] * w{i}.wl[j + 1])))) AS p
      FROM x CROSS JOIN w{i}),
    g{i} AS (
      SELECT dim.d AS dim,
             ROUND(AVG((p.p - p.y) * p.x[dim.d + 1]), 12) AS g
      FROM p{i} p CROSS JOIN (SELECT unnest(range({d})) AS d) dim
      GROUP BY 1),
    w{next} AS (
      SELECT list(ROUND(w{i}.wl[g.dim + 1] - {lr} * g.g, 12) ORDER BY g.dim) AS wl
      FROM g{i} g CROSS JOIN w{i})
"""


def _gd_oracle() -> str:
    steps = ",".join(
        _GD_DUCK_STEP.format(i=i, next=i + 1, d=_GD_D, lr=_GD_LR) for i in range(_GD_STEPS)
    )
    return f"""
    WITH x AS (
      SELECT list_transform(embedding, v -> v::DOUBLE) AS x,
             CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
      FROM embeddings),
    w0 AS (SELECT list_transform(range({_GD_D}), i -> 0.0) AS wl),
    {steps}
    SELECT dim.d AS dim, ROUND(w{_GD_STEPS}.wl[dim.d + 1], 6) AS weight
    FROM w{_GD_STEPS} CROSS JOIN (SELECT unnest(range({_GD_D})) AS d) dim
    """


@register("ml_logreg_gd", oracle=_gd_oracle())
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training: {steps} full-batch
    gradient-descent steps (binary target label==0, zero init, lr={lr})
    over the embedding corpus, returning the learned weight vector — the
    data-parallel training loop (compute gradients where the data lives,
    keep the model on the driver/broadcast) that underlies every
    large-scale linear/GLM trainer.

    Per-step plan at 100 TB: the weight vector is ONE broadcast row;
    scoring + per-example residual is a narrow codegen pass; the gradient
    is a posexplode into (dim, residual·x_dim) partial-averaged map-side,
    so the only exchange is d-sized regardless of corpus size.  Iterating
    multiplies narrow passes, never big-data shuffles — the same
    contract-then-iterate shape as ``graph_pagerank_nations`` and
    ``ml_power_iteration_pc1``.  Each step's gradient and weights round
    at 12 dp to pin cross-engine float parity (libm exp may differ by
    1 ulp; the mean buries it 4 orders below the rounding)."""
    e = load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"])
    x = e.select(
        F.col("embedding").cast("array<double>").alias("x"),
        F.when(F.col("label") == 0, 1.0).otherwise(0.0).alias("y"),
    )
    w = spark.range(1).select(F.expr(f"array_repeat(0.0D, {_GD_D})").alias("wl"))
    for _ in range(_GD_STEPS):
        p = x.crossJoin(F.broadcast(w)).select(
            "x",
            "y",
            (
                1.0
                / (
                    1.0
                    + F.exp(
                        -F.expr(
                            "aggregate(zip_with(x, wl, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"
                        )
                    )
                )
            ).alias("p"),
        )
        g = (
            p.select("p", "y", F.posexplode("x").alias("dim", "xv"))
            .groupBy("dim")
            .agg(F.round(F.avg((F.col("p") - F.col("y")) * F.col("xv")), 12).alias("g"))
        )
        w = (
            g.crossJoin(F.broadcast(w))
            .select("dim", F.round(F.expr(f"element_at(wl, dim + 1) - {_GD_LR} * g"), 12).alias("wn"))
            .groupBy()
            .agg(F.expr("transform(array_sort(collect_list(struct(dim, wn))), s -> s.wn)").alias("wl"))
        )
    return w.select(F.posexplode("wl").alias("dim", "weight")).select(
        F.col("dim").cast("bigint").alias("dim"), F.round("weight", 6).alias("weight")
    )


ml_logreg_gd.__doc__ = ml_logreg_gd.__doc__.format(steps=_GD_STEPS, lr=_GD_LR)


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick): tokens → fixed-width sparse buckets
# ---------------------------------------------------------------------------


@register(
    "ml_feature_hash",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                 FROM documents),
    h AS (SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_transform(string_split(token, ''),
                                               x -> CAST(ascii(x) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647) % 64 AS bucket
          FROM tok)
    SELECT doc_id, bucket, COUNT(*) AS tf
    FROM h GROUP BY 1, 2
    """,
)
def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded token vocabulary onto 64
    fixed buckets via a polynomial character hash — the featurizer that
    needs NO vocabulary pass, so streaming and training see identical
    features.  Output is the sparse (doc, bucket, tf) triple form that
    feeds linear models directly.

    The hash is a pure-SQL polynomial (acc*31 + codepoint, mod 2^31-1)
    so both engines compute it bit-identically — same reasoning as
    ``text_fingerprint``; production would swap in ``xxhash64(token)``
    and more buckets, same plan.  Explode stays map-side; ONE shuffle on
    (doc_id, bucket) which partial aggregation shrinks to ≤ 64 rows per
    doc — at 100 TB the exchange is bounded by docs × buckets, not
    corpus tokens."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    token_hash = (
        F.aggregate(
            F.split(F.col("token"), ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(2147483647),
        )
        % 64
    )
    return (
        docs.select("doc_id", F.explode(tokens()).alias("token"))
        .select("doc_id", token_hash.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding: leakage-safe categorical → numeric
# ---------------------------------------------------------------------------


@register(
    "ml_target_encoding",
    oracle="""
    WITH g AS (SELECT c_mktsegment, SUM(c_acctbal) AS s, COUNT(*) AS n
               FROM customer GROUP BY 1)
    SELECT c_custkey, c_mktsegment,
           round((s - c_acctbal) / (n - 1), 4) AS segment_loo_mean
    FROM customer JOIN g USING (c_mktsegment)
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace a categorical with the
    mean target of its group EXCLUDING the row itself — the standard
    leakage-safe encoder for high-cardinality categoricals.  The trick:
    LOO mean = (group_sum − own_value) / (group_n − 1), so one tiny
    (category, sum, n) aggregate broadcast back onto the table encodes
    every row without a window or self-join.  At 100 TB: one map-side
    combinable aggregate + one broadcast join, zero fact-table
    shuffles."""
    cust = load_table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment", "c_acctbal"]
    )
    g = cust.groupBy("c_mktsegment").agg(
        F.sum("c_acctbal").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return cust.join(F.broadcast(g), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        F.round((F.col("s") - F.col("c_acctbal")) / (F.col("n") - 1), 4).alias(
            "segment_loo_mean"
        ),
    )


# ---------------------------------------------------------------------------
# Deterministic hash bootstrap: uncertainty without resampling passes
# ---------------------------------------------------------------------------

_BOOT_B = 20
_KNUTH = 2654435761


@register(
    "ml_bootstrap_ci",
    oracle=f"""
    WITH b AS (SELECT unnest(range({_BOOT_B})) AS b),
    s AS (SELECT b.b, o_totalprice FROM orders, b
          WHERE (((o_orderkey % 2147483648) * {_KNUTH} + b.b * 40503) % 4294967296) % 2 = 0),
    m AS (SELECT b, AVG(o_totalprice) AS mb FROM s GROUP BY 1)
    SELECT COUNT(*) AS n_resamples,
           round(AVG(mb), 2) AS boot_mean,
           round(AVG(mb) - 2 * stddev_samp(mb), 2) AS ci_lo,
           round(AVG(mb) + 2 * stddev_samp(mb), 2) AS ci_hi
    FROM m
    """,
)
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence interval for mean order value by deterministic
    half-sample bootstrap: 20 subsamples, membership decided by a
    Knuth multiplicative hash of (orderkey, replicate) — no ``rand()``,
    so the resamples are reproducible AND identical across engines
    (same portable-hash approach as ``sample_hash_per_group``).

    The explode-by-replicate is map-side (each row fans out to its
    member replicates in place); ONE shuffle on the 20-value
    replicate key computes every subsample mean in parallel — B
    re-reads of the corpus collapse into a single pass.  Half-sampling
    widens the spread vs the n-out-of-n bootstrap (σ ≈ √2×); the ±2σ
    band is therefore conservative, which is the right default for a
    data-quality gate.  At 100 TB this is THE cheap uncertainty
    quantifier: cost is one scan regardless of B."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"])
    s = (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .where(
            (((F.col("o_orderkey") % 2147483648) * _KNUTH + F.col("b") * 40503) % 4294967296) % 2 == 0
        )
    )
    m = s.groupBy("b").agg(F.avg("o_totalprice").alias("mb"))
    return m.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.avg("mb"), 2).alias("boot_mean"),
        F.round(F.avg("mb") - 2 * F.stddev_samp("mb"), 2).alias("ci_lo"),
        F.round(F.avg("mb") + 2 * F.stddev_samp("mb"), 2).alias("ci_hi"),
    )


@register(
    "ml_calibration_deciles",
    oracle="""
    WITH cpos AS (
      SELECT dim, AVG(v) AS c FROM (
        SELECT unnest(range(len(embedding))) AS dim, unnest(embedding)::DOUBLE AS v
        FROM embeddings WHERE label = 0) GROUP BY dim),
    cent AS (SELECT list(c ORDER BY dim) AS centroid FROM cpos),
    s AS (
      SELECT e.vec_id, e.label = 0 AS is_pos,
             ROUND(list_sum(list_transform(range(len(e.embedding)),
               i -> e.embedding[i + 1]::DOUBLE * c.centroid[i + 1])), 6) AS score
      FROM embeddings e CROSS JOIN cent c),
    r AS (
      SELECT is_pos, score,
             ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM s)
    SELECT CAST((rnk - 1) * 10 // n + 1 AS BIGINT) AS decile,
           COUNT(*) AS n_rows,
           ROUND(AVG(score), 4) AS mean_score,
           ROUND(AVG(CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 4) AS pos_rate
    FROM r GROUP BY 1
    """,
)
def ml_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the centroid scorer evaluated by
    ``ml_auc_rank``: rank all rows by score, cut into 10 exact
    rank-deciles, and emit per-decile mean score vs empirical positive
    rate — the calibration diagnostic read next to AUC (a ranker can
    have high AUC and still be useless as a probability).  A calibrated
    monotone scorer shows pos_rate rising with mean_score; flat deciles
    localize WHERE the scorer stops separating.

    Deciles come from the global rank (``(rnk-1)·10 // n + 1``), not
    NTILE, so remainder distribution is identical-by-construction across
    engines; ranking reuses :func:`global_order_stats` (range-partitioned
    parallel sort — no single-partition window), score ties broken by
    vec_id.  Same scale shape as ``ml_auc_rank``: one broadcast d-vector
    model, a narrow scoring pass, a distributed sort, a 10-row result."""
    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label", "embedding"])
    pos_flat = e.where(F.col("label") == 0).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    cent = (
        pos_flat.groupBy("dim")
        .agg(F.avg("v").alias("c"))
        .groupBy()
        .agg(F.expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").alias("centroid"))
    )
    s = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        (F.col("label") == 0).alias("is_pos"),
        F.round(
            F.expr(
                "aggregate(zip_with(cast(embedding as array<double>), centroid, "
                "(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
            ),
            6,
        ).alias("score"),
    )
    # r12 opt (guide §1.2): the row total comes from global_order_stats's
    # own partition-count summary (n_total) instead of a separate aggregate
    # over a second evaluation of the scoring pass.
    r = global_order_stats(s, [F.col("score"), F.col("vec_id")], rn="rnk", n_total="n")
    return (
        r
        .select(
            (((F.col("rnk") - 1) * 10 / F.col("n")).cast("bigint") + 1).alias("decile"),
            "score",
            "is_pos",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("score"), 4).alias("mean_score"),
            F.round(F.avg(F.col("is_pos").cast("double")), 4).alias("pos_rate"),
        )
    )


_PSI_CUT = "1997-01-01"
_PSI_QS = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "ml_psi_drift",
    oracle=f"""
    WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate < DATE '{_PSI_CUT}'),
    cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= DATE '{_PSI_CUT}'),
    th AS (SELECT list_transform(quantile_cont(v, {_PSI_QS}), t -> ROUND(t, 2)) AS ths FROM ref),
    rb AS (SELECT 1 + len(list_filter(th.ths, t -> r.v > t)) AS bin FROM ref r, th),
    cb AS (SELECT 1 + len(list_filter(th.ths, t -> c.v > t)) AS bin FROM cur c, th),
    p AS (SELECT bin, COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM rb) AS p FROM rb GROUP BY bin),
    q AS (SELECT bin, COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM cb) AS q FROM cb GROUP BY bin),
    terms AS (
      SELECT p.bin, p.p, COALESCE(q.q, 0) AS q,
             (p.p - GREATEST(COALESCE(q.q, 0), 1e-6))
               * LN(p.p / GREATEST(COALESCE(q.q, 0), 1e-6)) AS term
      FROM p LEFT JOIN q ON q.bin = p.bin)
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(p, 4) AS ref_share,
           ROUND(q, 4) AS cur_share,
           ROUND(term, 6) AS psi_term,
           ROUND(SUM(term) OVER (), 4) AS psi_total
    FROM terms
    """,
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the standard production drift monitor
    between a reference window (orders before {cut}) and the current
    window: decile-bin the reference distribution (exact interpolated
    quantiles, rounded to 2 dp so bin edges are bit-identical across
    engines), share both periods into those bins, and emit per-bin
    (p−q)·ln(p/q) terms plus the summed PSI.  Rule of thumb read by the
    monitor: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain — a
    training-data pipeline runs exactly this before ingesting a new
    snapshot into a feature store.

    Scale shape: the reference quantile buffer is one exact-percentile
    aggregate broadcast back as 9 thresholds (the
    ``ml_quantile_bucketize`` shape); binning is a narrow CASE-free
    array expression; shares are two 10-row aggregates.  Zero-share
    current bins get the standard 1e-6 floor so PSI stays finite."""
    cols = ["o_orderdate", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders", columns=cols)
    ref = orders.where(F.col("o_orderdate") < _PSI_CUT).select(F.col("o_totalprice").alias("v"))
    cur = orders.where(F.col("o_orderdate") >= _PSI_CUT).select(F.col("o_totalprice").alias("v"))
    qs = ", ".join(str(q) for q in _PSI_QS)
    th = ref.agg(
        F.expr(f"transform(percentile(v, array({qs})), t -> round(t, 2))").alias("ths")
    )

    def _binned(df):
        return df.crossJoin(F.broadcast(th)).selectExpr(
            "1 + size(filter(ths, t -> v > t)) AS bin"
        )

    rb = _binned(ref).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    cb = _binned(cur).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    rtot = rb.agg(F.sum("n").alias("rt"))
    ctot = cb.agg(F.sum("n").alias("ct"))
    p = rb.crossJoin(F.broadcast(rtot)).select("bin", (F.col("n") / F.col("rt")).alias("p"))
    q = cb.crossJoin(F.broadcast(ctot)).select(F.col("bin").alias("qbin"), (F.col("n") / F.col("ct")).alias("q"))
    terms = (
        p.join(F.broadcast(q), p.bin == q.qbin, "left")
        .select(
            "bin",
            "p",
            F.coalesce("q", F.lit(0.0)).alias("q"),
        )
        .withColumn("qf", F.greatest(F.col("q"), F.lit(1e-6)))
        .withColumn("term", (F.col("p") - F.col("qf")) * F.log(F.col("p") / F.col("qf")))
    )
    from pyspark.sql.window import Window as W

    return terms.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.round("p", 4).alias("ref_share"),
        F.round("q", 4).alias("cur_share"),
        F.round("term", 6).alias("psi_term"),
        F.round(F.sum("term").over(W.partitionBy()), 4).alias("psi_total"),  # _GLOBAL_WINDOW_OK: 10-row input
    )


ml_psi_drift.__doc__ = ml_psi_drift.__doc__.format(cut=_PSI_CUT)


# ---------------------------------------------------------------------------
# Contrastive-training prep: hard-negative mining
# ---------------------------------------------------------------------------

_HN_QUERIES = 8  # anchors = vec_id < 8 (the similarity family's convention)
_HN_K = 5


@register(
    "ml_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {_HN_QUERIES}),
    scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             e.vec_id AS negative_id, e.label AS negative_label,
             ROUND(list_cosine_similarity((q.embedding)::DOUBLE[], (e.embedding)::DOUBLE[]), 4) AS cos_sim
      FROM q JOIN e ON e.label <> q.label)
    SELECT anchor_id, anchor_label, negative_id, negative_label, cos_sim,
           CAST(row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_sim DESC, negative_id) AS BIGINT)
             AS rank
    FROM scored
    QUALIFY rank <= {_HN_K}
    """,
)
def ml_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-{_HN_K} most-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random negatives
    are trivially separable; the hard ones near the decision boundary
    carry the gradient signal, per the standard dense-retrieval /
    SimCLR-family recipe).

    Self-pairs are excluded for free: an anchor shares its own label, and
    the label-mismatch predicate is the semantically-correct exclusion
    (same-label near-duplicates are POSITIVES, not negatives — an id-only
    exclusion would mine them as false negatives).

    Scale shape: identical to ``sim_cosine_topk`` — the anchor set
    broadcasts, the corpus never shuffles, similarity is a codegen'd
    ``zip_with``/``aggregate`` expression, top-k via per-anchor rank
    windows over anchor-count-bounded scored rows.  At billions of
    vectors the same mining runs over each anchor's ANN candidate set
    (``sim_ivfpq_*``) instead of the full scan — mine within the cell,
    exclude by label, rank identically."""
    from dataframework_spark.functions.arrays import as_double, cosine_prenorm_sql, norm_sql

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    # r12 opt: norms hoisted out of the pair loop (bit-equal by
    # cosine_prenorm_sql's construction).
    e = emb.select("vec_id", as_double("embedding").alias("v"), "label").withColumn(
        "nv", F.expr(norm_sql("v"))
    )
    q = e.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        F.col("label").alias("anchor_label"),
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round(F.expr(cosine_prenorm_sql("qv", "v", "nq", "nv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _HN_K)
    )


# ---------------------------------------------------------------------------
# T7 — leakage-safe split: near-dup clusters assigned whole, with the
# leakage bill a naive per-document split would have paid
# ---------------------------------------------------------------------------

_LS_SEED = 42
_LS_BUCKETS = 10
_LS_TRAIN_BUCKETS = 8  # 80/20


def _ls_bucket_sql(expr: str) -> str:
    """Portable seeded hash bucket (Spark dialect): md5-prefix mod, the
    ``sample_seeded_fraction`` idiom — identical in DuckDB, run-over-run
    stable, repartition-invariant."""
    return (
        f"cast(conv(substring(md5(concat('{_LS_SEED}:', {expr})), 1, 15),"
        f" 16, 10) as bigint) % {_LS_BUCKETS}"
    )


def _ls_bucket_duck(expr: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{_LS_SEED}:' || {expr}), 1, 15) AS BIGINT)"
        f" % {_LS_BUCKETS}"
    )


def _leakage_safe_split_oracle() -> str:
    from dataframework_spark.operators.dedup import _PAIRS_SQL_CTE

    return f"""
    WITH RECURSIVE
    {_PAIRS_SQL_CTE},
    nodes AS (SELECT doc_a AS node FROM edges UNION SELECT doc_b FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT CASE WHEN r.node = e.doc_a THEN e.doc_b ELSE e.doc_a END, r.root
      FROM reach r JOIN edges e ON r.node IN (e.doc_a, e.doc_b)),
    comp AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
    docs AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             CASE WHEN {_ls_bucket_duck("CAST(d.doc_id AS VARCHAR)")}
                       < {_LS_TRAIN_BUCKETS} THEN 1 ELSE 0 END AS naive_train
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    pc AS (
      SELECT cluster_id, COUNT(*) AS n,
             MAX(naive_train) AS mx, MIN(naive_train) AS mn
      FROM docs GROUP BY cluster_id),
    g AS (
      SELECT *,
             CASE WHEN {_ls_bucket_duck("CAST(cluster_id AS VARCHAR)")}
                       < {_LS_TRAIN_BUCKETS} THEN 'train' ELSE 'test' END AS split
      FROM pc)
    SELECT split,
           CAST(SUM(n) AS BIGINT)                                    AS n_docs,
           COUNT(*)                                                  AS n_clusters,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)    AS n_multi_doc_clusters,
           CAST(SUM(CASE WHEN mx = 1 AND mn = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                     AS n_leaky_clusters_naive
    FROM g GROUP BY split ORDER BY split
    """


@register("ml_leakage_safe_split", oracle=_leakage_safe_split_oracle())
def ml_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: every near-dup CLUSTER is assigned
    whole (hash the cluster id, not the doc id), so no document can see a
    near-duplicate of itself across the split boundary — the
    train/eval-contamination failure a per-document split bakes in
    silently.  The readout also bills the counterfactual: per split, how
    many multi-doc clusters WOULD have straddled the boundary under the
    naive per-document hash (`n_leaky_clusters_naive`) — the measured
    leakage this operator removes, falsifiable cross-engine because both
    the clustering and both hash assignments are exact.

    Composition: connected components over the exact Jaccard ≥ 0.8 pair
    graph (``dedup_clusters``), singletons keep their own doc_id as
    cluster id, then the ``sample_seeded_fraction`` md5-bucket idiom on
    the CLUSTER key for the 80/20 assignment.  At 100 TB the edge source
    swaps to the MinHash-LSH pair stage (``dedup_minhash_lsh``) and the
    CC loop is the same contract-then-iterate shape — the split/audit
    plan downstream of the cluster ids is unchanged: one groupBy on
    cluster_id, then a 2-row aggregate.

    Excluded from replica sweeps for the same documented reason as its
    edge source (`dedup_ngram_jaccard`): the replica makes every doc an
    M-way near-dup, so the pair graph is ~M² by construction."""
    from dataframework_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    comp = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    full = (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            (
                F.expr(_ls_bucket_sql("cast(doc_id as string)"))
                < _LS_TRAIN_BUCKETS
            ).cast("int").alias("naive_train"),
        )
    )
    per_cluster = full.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("naive_train").alias("mx"),
        F.min("naive_train").alias("mn"),
    )
    g = per_cluster.withColumn(
        "split",
        F.when(
            F.expr(_ls_bucket_sql("cast(cluster_id as string)"))
            < _LS_TRAIN_BUCKETS,
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
    return (
        g.groupBy("split")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum((F.col("n") > 1).cast("long")).alias("n_multi_doc_clusters"),
            F.sum(((F.col("mx") == 1) & (F.col("mn") == 0)).cast("long")).alias(
                "n_leaky_clusters_naive"
            ),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Mutual information — exact feature<->label dependence, one joint pass
# ---------------------------------------------------------------------------

_MI_PRICE_BIN = 50000  # fixed-width price bins: no global sort, unlike ntile

# The synthetic tables are independent everywhere (measured: every natural
# column pair carries < 0.001 nats), so the label plants a KNOWN
# dependence — the agg_cms_audit / dedup_url_normalize synthesis
# precedent: conversion probability 70% for pre-1996 orders vs 20% after,
# with md5-prefix hash noise.  MI(year; label) then has a known ground
# truth and the other two features are honest ~zero controls.
_MI_LABEL_DUCK = """
    CASE WHEN (CAST('0x' || substr(md5('mi:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
               AS BIGINT) % 10)
              < (CASE WHEN year(o_orderdate) <= 1995 THEN 7 ELSE 2 END)
         THEN 'hit' ELSE 'miss' END
"""
_MI_LABEL_SPARK = (
    "case when (cast(conv(substring(md5(concat('mi:', cast(o_orderkey as string))),"
    " 1, 15), 16, 10) as bigint) % 10)"
    " < (case when year(o_orderdate) <= 1995 then 7 else 2 end)"
    " then 'hit' else 'miss' end"
)


@register(
    "ml_mutual_information",
    oracle=f"""
    WITH f AS (
      SELECT {_MI_LABEL_DUCK} AS y,
             UNNEST(['priority', 'year', 'price_bin']) AS feature,
             UNNEST([o_orderpriority,
                     CAST(year(o_orderdate) AS VARCHAR),
                     CAST(CAST(floor(o_totalprice / {_MI_PRICE_BIN}) AS INT) AS VARCHAR)]) AS fv
      FROM orders),
    joint AS (
      SELECT feature, fv, y, COUNT(*) AS n_xy FROM f GROUP BY 1, 2, 3),
    m AS (
      SELECT feature, fv, y, n_xy,
             SUM(n_xy) OVER (PARTITION BY feature, fv) AS n_x,
             SUM(n_xy) OVER (PARTITION BY feature, y)  AS n_y,
             SUM(n_xy) OVER (PARTITION BY feature)     AS n
      FROM joint)
    SELECT feature,
           ROUND(SUM((n_xy::DOUBLE / n) * ln(n_xy::DOUBLE * n / (n_x * n_y))), 6)
             AS mi_nats,
           ROUND(-SUM((n_xy::DOUBLE / n) * ln(n_x::DOUBLE / n)), 6) AS h_feature,
           ROUND(-SUM((n_xy::DOUBLE / n) * ln(n_y::DOUBLE / n)), 6) AS h_label,
           ROUND(SUM((n_xy::DOUBLE / n) * ln(n_xy::DOUBLE * n / (n_x * n_y)))
                 / (-SUM((n_xy::DOUBLE / n) * ln(n_y::DOUBLE / n))), 6)
             AS uncertainty_coef
    FROM m GROUP BY feature
    """,
)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual information between candidate features and a label —
    the feature-relevance score a training pipeline computes before
    paying to materialize a feature.  Three features are scored in one
    pass (priority, order year, fixed-width price bin) against a label
    with a PLANTED year-dependence (70% hit rate pre-1996 vs 20% after,
    hash noise — the synthetic tables are measured-independent
    everywhere, so a planted signal is the only way the readout can be
    non-vacuous): ``year`` must surface real bits while ``priority`` and
    ``price_bin`` are honest ~zero controls.  The output also bills
    H(feature), H(label) and the uncertainty coefficient
    U = MI/H(label).

    MI, both entropies, and U all come from the SAME joint-count
    aggregate via the identity H(X) = -Σ_xy p(x,y) ln p(x) — no second
    scan, no join.  Feature bins are fixed-width (never ``ntile``: a
    global-sort decile is a single-partition window at 100 TB; a width
    bin is a stateless map).  Plan: one scan exploded x3, ONE
    map-side-combinable joint aggregate (<= |labels| x |bins| x 3 rows
    out per partition), then windows + final aggregate over the ~100-row
    joint table — the data pays exactly one exchange."""
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"],
    )
    feats = F.array(
        F.struct(F.lit("priority").alias("feature"),
                 F.col("o_orderpriority").alias("fv")),
        F.struct(F.lit("year").alias("feature"),
                 F.year("o_orderdate").cast("string").alias("fv")),
        F.struct(F.lit("price_bin").alias("feature"),
                 F.floor(F.col("o_totalprice") / _MI_PRICE_BIN).cast("int").cast("string").alias("fv")),
    )
    f = orders.select(
        F.expr(_MI_LABEL_SPARK).alias("y"), F.explode(feats).alias("e")
    ).select("y", "e.feature", "e.fv")
    joint = f.groupBy("feature", "fv", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    n_x = F.sum("n_xy").over(Window.partitionBy("feature", "fv"))
    n_y = F.sum("n_xy").over(Window.partitionBy("feature", "y"))
    n = F.sum("n_xy").over(Window.partitionBy("feature"))
    m = joint.select(
        "feature",
        (F.col("n_xy") / n).alias("p_xy"),
        F.log(F.col("n_xy") * n / (n_x * n_y)).alias("lg_mi"),
        F.log(n_x / n).alias("lg_x"),
        F.log(n_y / n).alias("lg_y"),
    )
    return m.groupBy("feature").agg(
        F.round(F.sum(F.col("p_xy") * F.col("lg_mi")), 6).alias("mi_nats"),
        F.round(-F.sum(F.col("p_xy") * F.col("lg_x")), 6).alias("h_feature"),
        F.round(-F.sum(F.col("p_xy") * F.col("lg_y")), 6).alias("h_label"),
        F.round(
            F.sum(F.col("p_xy") * F.col("lg_mi"))
            / (-F.sum(F.col("p_xy") * F.col("lg_y"))),
            6,
        ).alias("uncertainty_coef"),
    )


# ---------------------------------------------------------------------------
# Grid x CV scoring via sufficient statistics — the reference's own
# workflow (param grid + folds + fit) run as pure aggregates
# ---------------------------------------------------------------------------

_CV_GRID_FOLDS = 3
_CV_LAMBDAS = (0, 1000, 10000)
_CVG_FOLD_DUCK = (
    "CAST('0x' || substr(md5('cv:' || CAST(l_orderkey AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_CV_GRID_FOLDS}"
)
_CVG_FOLD_SPARK = (
    "cast(conv(substring(md5(concat('cv:', cast(l_orderkey as string))), 1, 15),"
    f" 16, 10) as bigint) % {_CV_GRID_FOLDS}"
)
_CVG_LAMBDA_VALUES = ", ".join(f"({v})" for v in _CV_LAMBDAS)


@register(
    "ml_grid_cv_scores",
    oracle=f"""
    WITH xy AS (
      SELECT {_CVG_FOLD_DUCK} AS fold,
             CAST(COUNT(*) AS DOUBLE)  AS x,
             SUM(l_extendedprice)      AS y
      FROM lineitem GROUP BY l_orderkey, fold),
    fs AS (
      SELECT fold, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM xy GROUP BY fold),
    fs2 AS (
      SELECT fold, n, sx, sy, sxy, sxx, syy,
             SUM(n) OVER () AS tn, SUM(sx) OVER () AS tsx,
             SUM(sy) OVER () AS tsy, SUM(sxy) OVER () AS tsxy,
             SUM(sxx) OVER () AS tsxx
      FROM fs),
    m AS (
      SELECT f.fold, l.lam,
             (f.tn - f.n)      AS n_tr,
             (f.tsx - f.sx)    AS sx_tr, (f.tsy - f.sy)   AS sy_tr,
             (f.tsxy - f.sxy)  AS sxy_tr, (f.tsxx - f.sxx) AS sxx_tr,
             f.n AS n_va, f.sx AS sx_va, f.sy AS sy_va,
             f.sxy AS sxy_va, f.sxx AS sxx_va, f.syy AS syy_va
      FROM fs2 f
      CROSS JOIN (VALUES {_CVG_LAMBDA_VALUES}) AS l(lam)),
    ab AS (
      SELECT fold, lam, n_tr, n_va, sx_va, sy_va, sxy_va, sxx_va, syy_va,
             (sxy_tr - sx_tr*sy_tr/n_tr)
               / ((sxx_tr - sx_tr*sx_tr/n_tr) + lam) AS b,
             sx_tr, sy_tr
      FROM m),
    ev AS (
      SELECT fold, lam, n_tr, n_va,
             b, (sy_tr - b*sx_tr) / n_tr AS a,
             (syy_va + n_va*((sy_tr - b*sx_tr)/n_tr)*((sy_tr - b*sx_tr)/n_tr)
              + b*b*sxx_va
              - 2*((sy_tr - b*sx_tr)/n_tr)*sy_va - 2*b*sxy_va
              + 2*((sy_tr - b*sx_tr)/n_tr)*b*sx_va) / n_va AS mse
      FROM ab)
    SELECT CAST(fold AS BIGINT)   AS fold,
           CAST(lam AS BIGINT)    AS lam,
           CAST(n_tr AS BIGINT)   AS n_train,
           CAST(n_va AS BIGINT)   AS n_val,
           ROUND(b, 4)            AS slope,
           ROUND(a, 4)            AS intercept,
           ROUND(mse, 2)          AS val_mse,
           (ROW_NUMBER() OVER (PARTITION BY fold
                               ORDER BY ROUND(mse, 2), lam) = 1) AS is_best
    FROM ev
    """,
)
def ml_grid_cv_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter grid x cross-validation scoring — the reference's
    own workflow (``ParamGrid`` x ``get_cv_data`` x fit, SURVEY §2.5/2.7)
    run end-to-end, Spark-first: a ridge-regularized 1-feature regression
    (predict an order's revenue from its line count — a REAL dependence,
    revenue is a sum over lines) fitted on each fold's TRAIN split for
    every lambda in the grid and scored on the held-out fold.

    The scale design is the point: the data is touched ONCE to produce
    per-fold sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — six
    numbers per fold — and the ENTIRE grid search happens on that 3-row
    table: train stats are totals-minus-fold, the ridge slope is
    Sxy_c/(Sxx_c + λ), and validation MSE expands algebraically in the
    held-out fold's moments (Σ(y-a-bx)² = Σy² + na² + b²Σx² - 2aΣy
    - 2bΣxy + 2abΣx).  Folds x lambdas never multiply the data — at
    100 TB a 1000-point grid costs the same single pass.  MSE is rounded
    BEFORE the per-fold best-lambda rank (the repo tie discipline); with
    n >> dims the unshrunk fit wins every fold and the matrix bills
    exactly what each lambda costs.

    Plan: ONE map-side-combinable per-order aggregate feeding one fold
    aggregate (the fold key is a function of the grouping key, so both
    collapse in the same exchange); everything after is broadcast of
    1-3 row frames."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_extendedprice"])
    xy = (
        li.groupBy("l_orderkey", F.expr(_CVG_FOLD_SPARK).alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.sum("l_extendedprice").alias("y"),
        )
    )
    fs = xy.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    wtot = Window.partitionBy()  # _GLOBAL_WINDOW_OK: 3-row fold-stats frame
    fs2 = fs.select(
        "*",
        F.sum("n").over(wtot).alias("tn"), F.sum("sx").over(wtot).alias("tsx"),
        F.sum("sy").over(wtot).alias("tsy"), F.sum("sxy").over(wtot).alias("tsxy"),
        F.sum("sxx").over(wtot).alias("tsxx"),
    )
    lams = F.explode(F.array(*[F.lit(v) for v in _CV_LAMBDAS])).alias("lam")
    m = fs2.select(
        "fold", lams,
        (F.col("tn") - F.col("n")).alias("n_tr"),
        (F.col("tsx") - F.col("sx")).alias("sx_tr"),
        (F.col("tsy") - F.col("sy")).alias("sy_tr"),
        (F.col("tsxy") - F.col("sxy")).alias("sxy_tr"),
        (F.col("tsxx") - F.col("sxx")).alias("sxx_tr"),
        F.col("n").alias("n_va"), F.col("sx").alias("sx_va"),
        F.col("sy").alias("sy_va"), F.col("sxy").alias("sxy_va"),
        F.col("sxx").alias("sxx_va"), F.col("syy").alias("syy_va"),
    )
    b = (F.col("sxy_tr") - F.col("sx_tr") * F.col("sy_tr") / F.col("n_tr")) / (
        (F.col("sxx_tr") - F.col("sx_tr") * F.col("sx_tr") / F.col("n_tr"))
        + F.col("lam")
    )
    ab = m.withColumn("b", b).withColumn(
        "a", (F.col("sy_tr") - F.col("b") * F.col("sx_tr")) / F.col("n_tr")
    )
    mse = (
        F.col("syy_va")
        + F.col("n_va") * F.col("a") * F.col("a")
        + F.col("b") * F.col("b") * F.col("sxx_va")
        - 2 * F.col("a") * F.col("sy_va")
        - 2 * F.col("b") * F.col("sxy_va")
        + 2 * F.col("a") * F.col("b") * F.col("sx_va")
    ) / F.col("n_va")
    ev = ab.withColumn("mse", mse)
    w = Window.partitionBy("fold").orderBy(F.round("mse", 2), "lam")
    return ev.select(
        "fold",
        F.col("lam").cast("bigint").alias("lam"),
        F.col("n_tr").alias("n_train"),
        F.col("n_va").alias("n_val"),
        F.round("b", 4).alias("slope"),
        F.round("a", 4).alias("intercept"),
        F.round("mse", 2).alias("val_mse"),
        (F.row_number().over(w) == 1).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Point-in-time feature join — strictly-before semantics, leakage billed
# ---------------------------------------------------------------------------


@register(
    "ml_pit_feature_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    changes AS (
      SELECT user_id, ts, event_id, event_type AS state
      FROM ordered WHERE prev IS NULL OR prev <> event_type),
    facts AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'),
    u AS (
      SELECT user_id, ts, event_id, 1 AS tag, state, NULL AS value FROM changes
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS tag, NULL AS state, value FROM facts),
    w AS (
      SELECT user_id, ts, event_id, tag, value,
             LAST_VALUE(state IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_state,
             LAST_VALUE(state IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS naive_state
      FROM u)
    SELECT user_id, event_id,
           COALESCE(pit_state, 'none')   AS pit_state,
           COALESCE(naive_state, 'none') AS naive_state,
           (COALESCE(pit_state, 'none') <> COALESCE(naive_state, 'none'))
             AS leaky,
           ROUND(value, 2) AS value
    FROM w WHERE tag = 0
    """,
)
def ml_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup — the feature-store join that
    keeps training data leakage-free: every purchase (the fact/label
    row) is joined to the user's state from the SCD2 change stream
    (``events_scd2_state``'s intervals) with STRICTLY-BEFORE semantics —
    a state that became effective AT the purchase's own timestamp (often
    BY the purchase event itself) must not be visible as a feature.  The
    audit computes the naive as-of join alongside and bills ``leaky``
    per row: exactly the rows whose feature would have included the
    label event.

    Spark-first plan: this is NOT an interval join — facts and state
    changes UNION into one stream and both variants resolve with
    last-non-null prefix windows that differ only in how ties at equal
    timestamps order (dim-after-fact = strict, dim-before-fact = naive).
    ONE exchange on user_id, two in-partition sorts, zero joins — the
    same shape at any scale because state history shards by user."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["user_id", "event_id", "ts", "event_type", "value"],
    )
    prev = F.lag("event_type").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    ordered = ev.withColumn("prev", prev)
    changes = ordered.where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    ).select(
        "user_id", "ts", "event_id", F.lit(1).alias("tag"),
        F.col("event_type").alias("state"),
        F.lit(None).cast("double").alias("value"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(0).alias("tag"),
        F.lit(None).cast("string").alias("state"), "value",
    )
    u = changes.unionByName(facts)
    frame = (Window.unboundedPreceding, Window.currentRow)
    w_strict = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(*frame)
    )
    w_naive = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("tag").desc(), "event_id")
        .rowsBetween(*frame)
    )
    resolved = u.select(
        "user_id", "event_id", "tag", "value",
        F.last("state", ignorenulls=True).over(w_strict).alias("pit_state"),
        F.last("state", ignorenulls=True).over(w_naive).alias("naive_state"),
    )
    pit = F.coalesce("pit_state", F.lit("none"))
    naive = F.coalesce("naive_state", F.lit("none"))
    return resolved.where(F.col("tag") == 0).select(
        "user_id", "event_id",
        pit.alias("pit_state"),
        naive.alias("naive_state"),
        (pit != naive).alias("leaky"),
        F.round("value", 2).alias("value"),
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding — the leakage-safe categorical encoder
# (completes the leakage trio: ml_leakage_safe_split assigns rows,
# ml_pit_feature_join bounds time, THIS bounds the fold a statistic sees)
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SEED = 7
_TE_SMOOTH = 20  # pseudo-count toward the out-of-fold prior


@register(
    "ml_target_encoding_oof",
    oracle=f"""
    WITH j AS (
      SELECT c_nationkey AS nation_key,
             {duck_seeded_order_sql('o_orderkey', seed=_TE_SEED)} % {_TE_FOLDS}
               AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (
      SELECT nation_key, fold,
             CAST(COUNT(*) AS BIGINT) AS n_cf, CAST(SUM(y) AS BIGINT) AS s_cf
      FROM j GROUP BY nation_key, fold),
    t AS (
      SELECT *,
             SUM(n_cf) OVER (PARTITION BY nation_key) AS n_c,
             SUM(s_cf) OVER (PARTITION BY nation_key) AS s_c,
             SUM(n_cf) OVER (PARTITION BY fold) AS n_f,
             SUM(s_cf) OVER (PARTITION BY fold) AS s_f,
             SUM(n_cf) OVER () AS n_tot,
             SUM(s_cf) OVER () AS s_tot
      FROM g)
    SELECT nation_key, fold, n_cf AS n_rows,
           ROUND((s_c - s_cf + {_TE_SMOOTH} * (s_tot - s_f)::DOUBLE
                  / (n_tot - n_f))
                 / (n_c - n_cf + {_TE_SMOOTH}), 4) + 0.0 AS oof_enc,
           ROUND(s_c::DOUBLE / n_c, 4) + 0.0 AS naive_enc,
           ROUND(ROUND(s_c::DOUBLE / n_c, 4)
                 - ROUND((s_c - s_cf + {_TE_SMOOTH} * (s_tot - s_f)::DOUBLE
                          / (n_tot - n_f))
                         / (n_c - n_cf + {_TE_SMOOTH}), 4), 4) + 0.0
             AS leak_delta
    FROM t
    """,
)
def ml_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe way to turn a
    high-cardinality categorical into a numeric feature: each fold's
    encoding of a category uses ONLY the other folds' target statistics
    (plus {_TE_SMOOTH} pseudo-counts toward the out-of-fold prior), so no
    row's own label leaks into its own feature.  Category = customer
    nation, target = (order status 'F'), folds = md5-bucketed on the
    order key (the portable seeded-hash idiom).  Each row also bills the
    NAIVE all-data encoding and the leakage delta the OOF form removed —
    the number that justifies the extra window.

    Plan/scale: one fact scan → one exchange keyed (category, fold); the
    per-category / per-fold / global totals are windows over the
    |categories|x{_TE_FOLDS} AGGREGATE (125 rows here — never the fact
    table), so at 100 TB the cost is the same single map-side-combined
    aggregate as a plain groupBy.  The dimension join is broadcast."""
    o = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderstatus"])
    c = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    j = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_nationkey").alias("nation_key"),
        (seeded_order("o_orderkey", seed=_TE_SEED) % _TE_FOLDS).alias("fold"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    g = j.groupBy("nation_key", "fold").agg(
        F.count(F.lit(1)).alias("n_cf"), F.sum("y").cast("bigint").alias("s_cf")
    )
    wc = Window.partitionBy("nation_key")
    wf = Window.partitionBy("fold")
    wt = Window.partitionBy()  # _GLOBAL_WINDOW_OK: |categories|x folds aggregate (125 rows)
    t = (
        g.withColumn("n_c", F.sum("n_cf").over(wc))
        .withColumn("s_c", F.sum("s_cf").over(wc))
        .withColumn("n_f", F.sum("n_cf").over(wf))
        .withColumn("s_f", F.sum("s_cf").over(wf))
        .withColumn("n_tot", F.sum("n_cf").over(wt))
        .withColumn("s_tot", F.sum("s_cf").over(wt))
    )
    prior = (F.col("s_tot") - F.col("s_f")).cast("double") / (F.col("n_tot") - F.col("n_f"))
    oof = F.round(
        (F.col("s_c") - F.col("s_cf") + _TE_SMOOTH * prior)
        / (F.col("n_c") - F.col("n_cf") + _TE_SMOOTH),
        4,
    )
    naive = F.round(F.col("s_c").cast("double") / F.col("n_c"), 4)
    return t.select(
        "nation_key",
        "fold",
        F.col("n_cf").alias("n_rows"),
        (oof + 0.0).alias("oof_enc"),
        (naive + 0.0).alias("naive_enc"),
        (F.round(naive - oof, 4) + 0.0).alias("leak_delta"),
    )


# ---------------------------------------------------------------------------
# Exact ROC AUC from score-distinct aggregates — the eval-metric anchor
# (no global sort: the pair-counting identity needs only a prefix sum
# over the DISTINCT-score aggregate, per group)
# ---------------------------------------------------------------------------


_AUC_SEED = 11
_AUC_NOISE = 400000  # score = price + hash noise in [-200000, 200000)
_AUC_CUT = 150000    # label = (o_totalprice > cut)


@register(
    "ml_auc_roc",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             o_totalprice
               + {duck_seeded_order_sql('o_orderkey', seed=_AUC_SEED)}
                 % {_AUC_NOISE} - {_AUC_NOISE // 2} AS score,
             CASE WHEN o_totalprice > {_AUC_CUT} THEN 1 ELSE 0 END AS y
      FROM orders),
    g AS (
      SELECT priority, score,
             CAST(SUM(y) AS BIGINT) AS np, CAST(SUM(1 - y) AS BIGINT) AS nn
      FROM o GROUP BY priority, score),
    c AS (
      SELECT *,
             COALESCE(SUM(nn) OVER (PARTITION BY priority ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nn_below
      FROM g)
    SELECT priority,
           CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           ROUND(SUM(np * (nn_below + 0.5 * nn))
                 / (SUM(np)::DOUBLE * SUM(nn)), 4) + 0.0 AS auc,
           ROUND(2 * SUM(np * (nn_below + 0.5 * nn))
                 / (SUM(np)::DOUBLE * SUM(nn)) - 1, 4) + 0.0 AS gini
    FROM c GROUP BY priority
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (and Gini) per order priority — the ranking-quality
    anchor of the eval-metric family (``ml_calibration_deciles`` checks
    probability calibration; THIS checks discrimination).  The synthetic
    tables are measured-independent (``ml_mutual_information``), so the
    signal is PLANTED: label = (total price > {_AUC_CUT}), score = the
    price corrupted by seeded-hash noise uniform over ~[-200k, 200k) — a
    model of known, non-trivial quality the metric must price (measured
    ~0.87 at sf0.01, strictly between chance and perfect).  AUC uses the
    Mann-Whitney pair-counting identity with exact tie handling (ties
    contribute 1/2), not trapezoid over a sampled curve.

    Plan/scale: the textbook form sorts all N rows globally (rank-sum) —
    a non-starter at 100 TB.  This plan aggregates to (group, DISTINCT
    score) counts first, then one prefix window per group over that
    aggregate gives sum_s np_s * (nn_below_s + nn_s/2), which IS the
    exact U statistic.  Fact rows cross one keyed exchange; every window
    runs on the distinct-score aggregate, partitioned per group (no
    global window).  Score cardinality here is ~row count (continuous
    scores); the documented escape hatch at 100 TB is score binning to a
    fixed grid, which bounds the aggregate without changing the shape.
    All summands are exact multiples of 0.5, so the cross-engine sum is
    order-independent."""
    o = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.col("o_totalprice")
            + seeded_order("o_orderkey", seed=_AUC_SEED) % _AUC_NOISE
            - _AUC_NOISE // 2
        ).alias("score"),
        (F.col("o_totalprice") > _AUC_CUT).cast("int").alias("y"),
    )
    g = o.groupBy("priority", "score").agg(
        F.sum("y").cast("bigint").alias("np"),
        F.sum(1 - F.col("y")).cast("bigint").alias("nn"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn("nn_below", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    u = F.sum(F.col("np") * (F.col("nn_below") + 0.5 * F.col("nn")))
    denom = F.sum("np").cast("double") * F.sum("nn")
    return c.groupBy("priority").agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        (F.round(u / denom, 4) + 0.0).alias("auc"),
        (F.round(2 * u / denom - 1, 4) + 0.0).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test — distribution drift as a DECISION
# (PSI bills magnitude per bin; KS gives the sup-gap test statistic and
# the alpha=0.05 verdict, from the same distinct-value aggregate shape)
# ---------------------------------------------------------------------------

_KS_C01 = 1.628  # c(alpha) for alpha = 0.01
_KS_SEED = 13
_KS_SHIFT_GROUP = "1-URGENT"  # the one group with planted drift
_KS_SHIFT = 1.1


@register(
    "ml_ks_test",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             {duck_seeded_order_sql('o_orderkey', seed=_KS_SEED)} % 2 AS f,
             CASE WHEN {duck_seeded_order_sql('o_orderkey', seed=_KS_SEED)} % 2
                       = 1
                   AND o_orderpriority = '{_KS_SHIFT_GROUP}'
                  THEN ROUND(o_totalprice * {_KS_SHIFT}, 2)
                  ELSE o_totalprice END AS price
      FROM orders),
    g AS (
      SELECT priority, price,
             CAST(SUM(f) AS BIGINT) AS nf, CAST(SUM(1 - f) AS BIGINT) AS nn
      FROM o GROUP BY priority, price),
    c AS (
      SELECT *,
             SUM(nf) OVER (PARTITION BY priority ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cf,
             SUM(nn) OVER (PARTITION BY priority ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cn,
             SUM(nf) OVER (PARTITION BY priority) AS tf,
             SUM(nn) OVER (PARTITION BY priority) AS tn
      FROM g),
    d AS (
      SELECT priority, price, tf, tn,
             ABS(cf::DOUBLE / tf - cn::DOUBLE / tn) AS gap,
             row_number() OVER (PARTITION BY priority
                                ORDER BY ABS(cf::DOUBLE / tf - cn::DOUBLE / tn)
                                  DESC, price) AS rn
      FROM c)
    SELECT priority,
           CAST(tf AS BIGINT) AS n_b, CAST(tn AS BIGINT) AS n_a,
           ROUND(gap, 4) + 0.0 AS ks_stat,
           ROUND(price, 2) AS ks_at,
           gap > {_KS_C01} * sqrt((tf + tn)::DOUBLE / (tf::DOUBLE * tn))
             AS reject_01
    FROM d WHERE rn = 1
    """,
)
def ml_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per order priority, with a
    PLANTED drift (the ``ml_mutual_information`` discipline — the
    synthetic tables are measured-independent, so a null-only test would
    be vacuous): each priority's orders are split into two halves by a
    seeded hash, and in ONE group ({_KS_SHIFT_GROUP}) the second half's
    prices are shifted by x{_KS_SHIFT}.  The test must reject exactly
    there and accept the four untouched groups — both the detection and
    the false-positive silence are part of the hash-checked answer.
    Emits the exact sup-gap between the two empirical CDFs, the price
    where it occurs (smallest such price on ties), and the alpha=0.05
    decision via the asymptotic critical value c(0.01)*sqrt((n1+n2)/
    (n1*n2)) — the DECISION face of the drift family (``ml_psi_drift``
    bills magnitude per bin, THIS tests).

    Plan/scale: same shape as ``ml_auc_roc`` — fact rows collapse to the
    (group, DISTINCT value) aggregate in one keyed exchange, and the
    empirical CDFs are prefix sums over that aggregate, partitioned per
    group (no global window).  The sup-gap row is a rank-1 filter per
    group.  Key cardinality = distinct prices per priority; at 100 TB
    the documented escape hatch is value binning (cents, or the PSI
    decile grid), which bounds the aggregate without changing the shape.
    All CDF arithmetic is integer-count division — deterministic and
    identical cross-engine."""
    parity = seeded_order("o_orderkey", seed=_KS_SEED) % 2
    o = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(
            (parity == 1) & (F.col("o_orderpriority") == _KS_SHIFT_GROUP),
            F.round(F.col("o_totalprice") * _KS_SHIFT, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        parity.alias("f"),
    )
    g = o.groupBy("priority", "price").agg(
        F.sum("f").cast("bigint").alias("nf"),
        F.sum(1 - F.col("f")).cast("bigint").alias("nn"),
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("priority")
    c = (
        g.withColumn("cf", F.sum("nf").over(wcum))
        .withColumn("cn", F.sum("nn").over(wcum))
        .withColumn("tf", F.sum("nf").over(wtot))
        .withColumn("tn", F.sum("nn").over(wtot))
    )
    gap = F.abs(F.col("cf").cast("double") / F.col("tf") - F.col("cn").cast("double") / F.col("tn"))
    d = c.withColumn("gap", gap).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("priority").orderBy(F.col("gap").desc(), F.col("price"))
        ),
    )
    crit = _KS_C01 * F.sqrt(
        (F.col("tf") + F.col("tn")).cast("double") / (F.col("tf").cast("double") * F.col("tn"))
    )
    return d.where(F.col("rn") == 1).select(
        "priority",
        F.col("tf").cast("bigint").alias("n_b"),
        F.col("tn").cast("bigint").alias("n_a"),
        (F.round("gap", 4) + 0.0).alias("ks_stat"),
        F.round("price", 2).alias("ks_at"),
        (F.col("gap") > crit).alias("reject_01"),
    )


# ---------------------------------------------------------------------------
# Random-projection (Johnson-Lindenstrauss) distortion audit — measures
# what dimensionality reduction actually costs before a pipeline commits
# to projected embeddings for dedup/ANN
# ---------------------------------------------------------------------------

_RP_DIM = 64
_RP_KS = (8, 16, 32)
_RP_NVEC = 40   # fixed eval set: vec_id < 40 -> 780 pairs at ANY scale
_RP_EPS = 0.3


def _rp_sign(j: int, i: int) -> int:
    """Deterministic Rademacher (+/-1) entry from md5 — identical constants
    are inlined into both dialects' SQL at module import."""
    import hashlib

    h = hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def _rp_proj_spark(wcol: str, k: int) -> str:
    terms = []
    for j in range(k):
        coefs = ", ".join(f"{_rp_sign(j, i)}D" for i in range(_RP_DIM))
        d = (
            f"aggregate(zip_with({wcol}, array({coefs}), (x, y) -> x * y), "
            "0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(({d}) * ({d}))")
    return f"({' + '.join(terms)}) / {k}"


def _rp_proj_duck(wcol: str, k: int) -> str:
    terms = []
    for j in range(k):
        coefs = ", ".join(str(_rp_sign(j, i)) for i in range(_RP_DIM))
        d = f"list_dot_product(({wcol})::DOUBLE[], [{coefs}]::DOUBLE[])"
        terms.append(f"(({d}) * ({d}))")
    return f"({' + '.join(terms)}) / {k}"


def _rp_oracle() -> str:
    per_k = "\nUNION ALL\n".join(
        f"""
    SELECT {k} AS k,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MIN(({_rp_proj_duck('w', k)}) / base), 4) AS min_ratio,
           ROUND(MAX(({_rp_proj_duck('w', k)}) / base), 4) AS max_ratio,
           ROUND(AVG(({_rp_proj_duck('w', k)}) / base), 4) AS avg_ratio,
           ROUND(AVG(CASE WHEN ABS(({_rp_proj_duck('w', k)}) / base - 1)
                               <= {_RP_EPS}
                          THEN 1.0 ELSE 0.0 END), 4) AS frac_within_eps
    FROM p"""
        for k in _RP_KS
    )
    return f"""
    WITH v AS (SELECT vec_id, (embedding)::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < {_RP_NVEC}),
    p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_transform(generate_series(1, {_RP_DIM}),
                            i -> a.e[i] - b.e[i]) AS w,
             list_dot_product(
               list_transform(generate_series(1, {_RP_DIM}),
                              i -> a.e[i] - b.e[i]),
               list_transform(generate_series(1, {_RP_DIM}),
                              i -> a.e[i] - b.e[i])) AS base
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    {per_k}
    """


@register("ml_random_projection", oracle=_rp_oracle())
def ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the embeddings to
    k in {_RP_KS} dimensions with a deterministic Rademacher (+/-1)
    matrix (md5-derived constants, identical in both dialects) and
    MEASURE, over all pairs of a fixed {_RP_NVEC}-vector eval set, the
    squared-distance distortion ||Rw||^2/(k) / ||w||^2 — min, max, mean,
    and the fraction within 1 +/- {_RP_EPS}.  This is the number that
    licenses (or forbids) running MinHash/ANN/dedup on projected
    vectors: JL says the mean is 1 with variance ~2/k, and the audit
    prices each k so a pipeline picks the smallest that preserves its
    neighborhoods.  Projection of the pair DIFFERENCE equals the
    difference of projections (linearity), so no projected vectors are
    materialized at all.

    Plan/scale: the eval set is a pushed-down ``vec_id < {_RP_NVEC}``
    range scan — 780 pairs via broadcast self-join, CONSTANT cost at any
    corpus scale (the eval-tier idiom); all {sum(_RP_KS)} projection dots
    are codegen'd array expressions over the 64-wide diff vector.  At
    100 TB the same audit runs unchanged: its input is the eval set, not
    the corpus."""
    v = _rp_corpus = load_table(
        spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]
    ).where(F.col("vec_id") < _RP_NVEC)
    from dataframework_spark.functions.arrays import as_double

    a = v.select(F.col("vec_id").alias("ia"), as_double("embedding").alias("va"))
    b = v.select(F.col("vec_id").alias("ib"), as_double("embedding").alias("vb"))
    p = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .withColumn("w", F.expr("zip_with(va, vb, (x, y) -> x - y)"))
        .withColumn("base", F.expr("aggregate(w, 0D, (acc, v) -> acc + v * v)"))
    )
    for k in _RP_KS:
        p = p.withColumn(f"r{k}", F.expr(_rp_proj_spark("w", k)) / F.col("base"))
    stacked = p.select(
        F.expr(
            "stack({n}, {args}) as (k, ratio)".format(
                n=len(_RP_KS),
                args=", ".join(f"{k}, r{k}" for k in _RP_KS),
            )
        )
    )
    eps_ok = (F.abs(F.col("ratio") - 1) <= _RP_EPS).cast("double")
    return stacked.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.round(F.avg(eps_ok), 4).alias("frac_within_eps"),
    )


# ---------------------------------------------------------------------------
# Exact average precision + best-F1 — the PR-curve summary next to ROC AUC
# (class-imbalance-honest where AUC is not; same distinct-score aggregate
# shape, so no global sort of fact rows)
# ---------------------------------------------------------------------------

_AP_SEED = 17
_AP_NOISE = 400000
_AP_CUT = 150000


@register(
    "ml_average_precision",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             o_totalprice
               + {duck_seeded_order_sql('o_orderkey', seed=_AP_SEED)}
                 % {_AP_NOISE} - {_AP_NOISE // 2} AS score,
             CASE WHEN o_totalprice > {_AP_CUT} THEN 1 ELSE 0 END AS y
      FROM orders),
    g AS (
      SELECT priority, score,
             CAST(SUM(y) AS BIGINT) AS np, CAST(SUM(1 - y) AS BIGINT) AS nn
      FROM o GROUP BY priority, score),
    c AS (
      SELECT *,
             SUM(np) OVER (PARTITION BY priority ORDER BY score DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(nn) OVER (PARTITION BY priority ORDER BY score DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             SUM(np) OVER (PARTITION BY priority) AS pos_tot
      FROM g)
    SELECT priority,
           CAST(MAX(pos_tot) AS BIGINT)            AS n_pos,
           CAST(SUM(nn) AS BIGINT)                 AS n_neg,
           ROUND(SUM(np * (tp::DOUBLE / (tp + fp))) / MAX(pos_tot), 4) + 0.0 AS ap,
           ROUND(MAX(2.0 * tp / (2 * tp + fp + (pos_tot - tp))), 4) + 0.0    AS best_f1
    FROM c GROUP BY priority
    """,
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (area under the precision-recall step
    curve) and best achievable F1 per order priority — the PR-side
    ranking metrics next to ``ml_auc_roc``: under class imbalance AUC
    stays optimistic (it prices negatives symmetrically) while AP/F1
    collapse, which is why retrieval and filtering pipelines report
    these.  Same planted signal as the AUC op (label = price > cut,
    score = price + seeded-hash noise, seed {_AP_SEED}) so the two
    metrics are comparable on the same model.

    Tie handling is the sklearn ``average_precision_score`` step
    integral: each DISTINCT score is one threshold block; AP = sum over
    blocks of (block positives / total positives) x precision AT the
    block (cumulative tp / (tp + fp) including the block).  Best-F1
    scans the same blocks.  Both are prefix sums over the (group,
    distinct score) AGGREGATE — fact rows cross exactly one keyed
    exchange and no global sort of raw rows exists anywhere, the
    ``ml_auc_roc`` scale discipline (score binning is the documented
    100 TB escape hatch for continuous scores).  All inputs to the
    divisions are exact integers, so both engines produce bit-identical
    doubles before the final ROUND."""
    o = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.col("o_totalprice")
            + seeded_order("o_orderkey", seed=_AP_SEED) % _AP_NOISE
            - _AP_NOISE // 2
        ).alias("score"),
        (F.col("o_totalprice") > _AP_CUT).cast("int").alias("y"),
    )
    g = o.groupBy("priority", "score").agg(
        F.sum("y").cast("bigint").alias("np"),
        F.sum(1 - F.col("y")).cast("bigint").alias("nn"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("priority")
    c = (
        g.withColumn("tp", F.sum("np").over(w))
        .withColumn("fp", F.sum("nn").over(w))
        .withColumn("pos_tot", F.sum("np").over(wp))
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    f1 = 2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + (F.col("pos_tot") - F.col("tp")))
    return c.groupBy("priority").agg(
        F.max("pos_tot").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        (F.round(F.sum(F.col("np") * prec) / F.max("pos_tot"), 4) + 0.0).alias("ap"),
        (F.round(F.max(f1), 4) + 0.0).alias("best_f1"),
    )


# ---------------------------------------------------------------------------
# Exact best-split decision stump from sufficient statistics — the GBDT
# building block (XGBoost's split finding), fit without a global sort
# ---------------------------------------------------------------------------


@register(
    "ml_decision_stump",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS priority, o_orderdate AS x,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS y
      FROM orders),
    g AS (
      SELECT priority, x,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT)   AS s,
             CAST(SUM(y * y) AS BIGINT) AS ss
      FROM o GROUP BY priority, x),
    c AS (
      SELECT *,
             SUM(n) OVER w AS nl, SUM(s) OVER w AS sl, SUM(ss) OVER w AS ssl,
             SUM(n) OVER p AS nt, SUM(s) OVER p AS st, SUM(ss) OVER p AS sst
      FROM g
      WINDOW w AS (PARTITION BY priority ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY priority)),
    scored AS (
      SELECT priority, x, nl, nt - nl AS nr, sl, st - sl AS sr,
             (sst - st * (st * 1.0 / nt))
               - ((ssl - sl * (sl * 1.0 / nl))
                  + ((sst - ssl) - (st - sl) * ((st - sl) * 1.0 / (nt - nl))))
               AS gain
      FROM c WHERE nl > 0 AND nt - nl > 0),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY priority
                                   ORDER BY gain DESC, x) AS rk
      FROM scored)
    SELECT priority,
           x                                   AS split_date,
           CAST(nl AS BIGINT)                  AS n_left,
           CAST(nr AS BIGINT)                  AS n_right,
           ROUND(sl * 1.0 / nl, 4)             AS mean_left,
           ROUND(sr * 1.0 / nr, 4)             AS mean_right,
           ROUND(gain, 4)                      AS gain
    FROM best WHERE rk = 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split regression stump per order priority — the split
    search inside every GBDT/decision-tree fit (XGBoost's exact greedy
    algorithm), done Spark-first: split on order date, minimize child
    SSE of (floored) total price.  Emits the argmax split with child
    sizes, child means, and the variance-reduction gain — deterministic
    tie-break (highest gain, then earliest date, the repo tie
    discipline).

    The textbook form sorts all rows per feature; this plan aggregates
    to (group, DISTINCT date) sufficient statistics (n, Σy, Σy²) first —
    the XGBoost histogram trick with exact date bins — then ONE prefix
    window per group turns every candidate threshold's child SSEs into
    algebra: SSE = Σy² - (Σy)²/n on each side.  Fact rows cross exactly
    one keyed exchange; the window and the argmax run on the
    calendar-bounded aggregate.  y floors to integer dollars so every
    sufficient statistic is an exact int64 (Σy² ≤ ~4e15 at sf0.1's
    ~~prices; at larger corpora the documented path is coarser value
    quantization, same shape) and both engines derive bit-identical
    gains — FLOOR explicitly, because DuckDB's double->INT cast rounds
    while Spark's truncates (the ml_mutual_information lesson)."""
    o = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderdate", "o_totalprice"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("x"),
        F.floor("o_totalprice").cast("bigint").alias("y"),
    )
    g = o.groupBy("priority", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = Window.partitionBy("priority")
    c = (
        g.withColumn("nl", F.sum("n").over(w))
        .withColumn("sl", F.sum("s").over(w))
        .withColumn("ssl", F.sum("ss").over(w))
        .withColumn("nt", F.sum("n").over(p))
        .withColumn("st", F.sum("s").over(p))
        .withColumn("sst", F.sum("ss").over(p))
    )
    nr = F.col("nt") - F.col("nl")
    sr = F.col("st") - F.col("sl")
    sse_parent = F.col("sst") - F.col("st") * (F.col("st") / F.col("nt"))
    sse_l = F.col("ssl") - F.col("sl") * (F.col("sl") / F.col("nl"))
    sse_r = (F.col("sst") - F.col("ssl")) - sr * (sr / nr)
    scored = (
        c.where((F.col("nl") > 0) & (nr > 0))
        .withColumn("gain", sse_parent - (sse_l + sse_r))
        .withColumn("nr", nr)
        .withColumn("sr", sr)
    )
    rk = F.row_number().over(Window.partitionBy("priority").orderBy(F.desc("gain"), "x"))
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "priority",
            F.col("x").alias("split_date"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.round(F.col("sl") / F.col("nl"), 4).alias("mean_left"),
            F.round(F.col("sr") / F.col("nr"), 4).alias("mean_right"),
            F.round("gain", 4).alias("gain"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding outlier audit — distance-to-centroid curation flags
# ---------------------------------------------------------------------------


@register(
    "ml_embedding_outliers",
    oracle="""
    WITH f AS (
      SELECT vec_id,
             unnest(range(len(embedding)))  AS dim,
             unnest(embedding)::DOUBLE      AS v
      FROM embeddings),
    fi AS (SELECT vec_id, dim, CAST(ROUND(v * 1000000, 0) AS BIGINT) AS vi FROM f),
    c AS (SELECT dim,
                 CAST((CASE WHEN SUM(vi) < 0 THEN -1 ELSE 1 END)
                      * ((2 * ABS(SUM(vi)) + COUNT(*)) // (2 * COUNT(*)))
                      AS BIGINT) AS ci
          FROM fi GROUP BY 1),
    d AS (SELECT vec_id, SUM((vi - ci) * (vi - ci)) AS d2
          FROM fi JOIN c USING (dim) GROUP BY 1),
    tot AS (SELECT CAST(SUM(d2) AS HUGEINT) AS sum_d2, COUNT(*) AS nvec FROM d)
    SELECT vec_id,
           ROUND(SQRT(d2::DOUBLE / 1000000000000), 4)            AS dist,
           (CAST(d2 AS HUGEINT) * nvec * 100 > 225 * sum_d2)     AS is_outlier
    FROM d CROSS JOIN tot
    """,
)
def ml_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-centroid outlier audit over the embedding corpus — the
    curation pass that flags junk vectors (mis-embedded docs, empty
    inputs, wrong-modality rows) before they poison contrastive
    training or ANN index builds.  A vector is flagged when its SQUARED
    distance to the global centroid exceeds 2.25× the corpus mean
    squared distance (equivalently: distance > 1.5× the RMS distance —
    a scale-free threshold that needs no tuning constant per corpus).

    Cross-engine exactness: components are fixed-pointed to 1e-6
    integers and the centroid is computed FROM those integers — half-up
    integer division of Σvi by n, never a float AVG (a float mean near
    a 5e-7 rounding boundary could flip a dimension by 1 between
    engines; r6 ADVICE) — so each vector's squared distance is an EXACT
    int64 (|diff| ≤ ~2e6 ⇒ d² ≤ ~2.6e14 over 64 dims) and the threshold
    verdict is a pure 128-bit integer comparison ``d2·n·100 > 225·Σd2``
    — no float ever enters a boundary decision; the reported ``dist``
    is one sqrt of an exact rational, identical IEEE on both engines.

    Scale shape: one narrow posexplode feeds a d-row centroid aggregate
    (map-side combinable — the shuffle carries 64 partials per task,
    never vectors); the centroid broadcasts back; per-vector reduction
    is one groupBy(vec_id) on data already keyed by vector; the
    1-row total broadcasts onto the output.  Corpus vectors cross the
    wire once, as integers."""
    e = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    flat = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    vi = F.round(F.col("v") * 1_000_000, 0).cast("bigint")
    # centroid from the fixed-pointed INTEGERS, not a float AVG: half-up
    # (away-from-zero) integer division of Σvi by n — with positives,
    # DuckDB's floor `//` and Spark's truncating `div` agree, so no
    # summation-order-dependent float aggregate feeds the verdict
    # (r6 ADVICE: a float mean near a 5e-7 boundary could flip ci by 1)
    cent = flat.groupBy("dim").agg(
        F.sum(vi).alias("sv"), F.count(F.lit(1)).alias("nv")
    )
    cent = cent.select(
        "dim",
        (
            F.when(F.col("sv") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr("(2 * abs(sv) + nv) div (2 * nv)")
        )
        .cast("bigint")
        .alias("ci"),
    )
    # r12 opt (guide §1.2): the centroid comes back as ONE broadcast array
    # and each vector's d² folds narrowly inside the row (zip_with over the
    # fixed-pointed components) — the second corpus explode, the dim join,
    # and the per-vector re-aggregation exchange are gone.  All terms are
    # the same exact int64s as the exploded form, so d2 is value-identical.
    # DATA CONTRACT (r12 ADVICE): this assumes fixed-dimension embeddings —
    # zip_with null-pads when |embedding| ≠ |carr|, where the old dim join
    # summed only the dims present.  The embeddings table ships a single
    # dimensionality by construction (every generator writes d=same); a
    # ragged corpus would need a size(embedding)=size(carr) guard here.
    cent_arr = cent.groupBy().agg(
        F.expr("transform(array_sort(collect_list(struct(dim, ci))), s -> s.ci)").alias(
            "carr"
        )
    )
    d2 = (
        e.crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with("
                "transform(cast(embedding as array<double>), "
                "x -> cast(round(x * 1000000D, 0) as bigint)), "
                "carr, (x, y) -> (x - y) * (x - y)), "
                "0L, (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    ).cache()  # one (vec_id, int64) row per vector; read by the total AND
    # the output — without it the `tot` branch re-runs the whole corpus
    # pass a second time
    tot = d2.agg(
        F.sum(F.col("d2").cast("decimal(38,0)")).alias("sum_d2"),
        F.count(F.lit(1)).alias("nvec"),
    )
    lhs = F.col("d2").cast("decimal(38,0)") * F.col("nvec") * 100
    rhs = F.lit(225).cast("decimal(38,0)") * F.col("sum_d2")
    return d2.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        F.round(F.sqrt(F.col("d2").cast("double") / 1e12), 4).alias("dist"),
        (lhs > rhs).alias("is_outlier"),
    )
