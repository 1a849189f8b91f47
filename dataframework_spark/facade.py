"""Engine facade: the reference's ``PreProcessTransfer`` API on Spark.

Reference lifecycle (SURVEY.md §3):

* ``PreProcessTransfer(config)``     → :class:`PreProcessEngine` (C1,
  ``preprocess.py:24-42``): decode load config, build lazy scans, decode
  process config, plan splits.
* ``generator(train, database, no)`` → :meth:`PreProcessEngine.generator`
  (M1, ``preprocess.py:44-89``): permute → bias-extend → split → fold →
  center, returning **(train_df, test_df)** DataFrames instead of four
  NumPy arrays.
* ``pp.train = ...``                 → the :attr:`train` setter (C5,
  ``preprocess.py:244-267,292-298``): stores the settings and drops the
  cached CV table; every other plan is lazy and simply re-reads them.
* ``get_cv_data(cv)``                → :meth:`get_cv_data` (M6,
  ``preprocess.py:91-96``): two filters over ONE cached table that holds
  every fold, as the reference slices indices it computed once.
* ``Lambda(group)``                  → :class:`ParamGrid` (G1/G2,
  ``preprocess.py:482-517``).

Where the reference eagerly loads ``.mat`` files into RAM
(``preprocess.py:317,390``), every step here stays a lazy DataFrame until
the caller acts — the semantic *upgrade* SURVEY.md §1.4 calls out: same
results, scan-time column pruning, and nothing driver-resident.

The one exception is the CV table: ``.cache()`` is lazy too, but the first
action on any fold materializes all folds in executor storage, and later
folds read that snapshot — the reference's eager-load semantics, once per
database instead of once per fold and side.

Scale: per-class ops are window functions over ``partitionBy(label)`` (one
shuffle); centering broadcasts a small means table (one row, or one per
fold); the permutation is a seeded hash ordering (no stored ``r``
matrices, ``preprocess.py:53``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframework_spark.config import (
    ConfigError,
    adapt_train_item,
    decode_load_config,
    decode_process_config,
)
from dataframework_spark.operators.ml_prep import (
    center_features,
    cv_plan,
    extend_bias,
    param_grid,
    seeded_order,
    train_test_split,
)


class PreProcessEngine:
    """Config-driven preprocessing session (reference C1).

    ``config`` mirrors the reference's two-part dict::

        {
          "database": {"name": [...], "root": ..., "format": ...,
                        "range": ..., "labeled": ..., "key": ...,
                        "label": ..., "features": ...},
          "process":  {"cv": ..., "train": ..., "extend": ..., "center": ...},
        }

    with the reference's broadcast semantics (scalar / positional list /
    dict-with-default) on every key.
    """

    def __init__(self, spark: SparkSession, config: dict[str, Any]) -> None:
        if "database" not in config:
            raise ConfigError('config requires a "database" section')
        self.spark = spark
        self._scan_specs = decode_load_config(config["database"])
        self._names = list(self._scan_specs)
        self._process = decode_process_config(config.get("process", {}), self._names)
        self._data = {n: self._load(spec) for n, spec in self._scan_specs.items()}
        self._cv_tables: dict[str, DataFrame] = {}

    # -- loading (S3/S4/P1/P2/P3) -------------------------------------------

    def _load(self, spec: dict[str, Any]) -> DataFrame:
        """One lazy scan per database: projection pushed to the reader (P1),
        1-based inclusive class-range filter (P2, ``preprocess.py:413-419``,
        ``[-1, -1]`` = all), and the *intended* ``labeled`` semantics (P3):
        when the feature vector carries the label as its trailing element,
        split it out instead of silently dropping a row
        (``preprocess.py:422`` drops unconditionally — divergence recorded
        in SURVEY.md §2.2)."""
        df = self.spark.read.parquet(spec["path"])
        if spec["columns"]:
            df = df.select(*spec["columns"])
        lo, hi = spec["range"]
        if [lo, hi] != [-1, -1]:
            # reference classes are 1-based in config, 0-based in data
            df = df.where(F.col(spec["label"]).between(lo - 1, hi - 1))
        if spec["labeled"]:
            feats = spec["features"]
            df = df.withColumn(
                spec["label"], F.element_at(F.col(feats), -1).cast("int")
            ).withColumn(feats, F.expr(f"slice({feats}, 1, size({feats}) - 1)"))
        return df

    def database(self, name: str) -> DataFrame:
        if name not in self._data:
            raise ConfigError(f"unknown database {name!r} (have {self._names})")
        return self._data[name]

    # -- statistics (A2/A3) --------------------------------------------------

    def class_num(self, name: str) -> int:
        """Class count (reference ``preprocess.py:280-281``)."""
        spec = self._scan_specs[name]
        return self.database(name).select(spec["label"]).distinct().count()

    # -- re-planning (C5) ----------------------------------------------------

    @property
    def train(self) -> dict[str, tuple]:
        return {n: p["train"] for n, p in self._process.items()}

    @train.setter
    def train(self, value: Any) -> None:
        """Runtime reconfiguration (reference ``preprocess.py:292-298``):
        stores the new settings and drops the cached CV tables, which the
        next :meth:`get_cv_data` re-plans from them."""
        for n in self._names:
            self._process[n]["train"] = adapt_train_item(value)
        for table in self._cv_tables.values():
            table.unpersist()
        self._cv_tables.clear()

    # -- execution (M1) ------------------------------------------------------

    def generator(
        self,
        train_setting: float | int | None = None,
        database: str | None = None,
        no: int = 0,
    ) -> tuple[DataFrame, DataFrame]:
        """The reference's execute operator (``preprocess.py:44-89``) as one
        lazy plan: seeded permutation (replication ``no`` folds into the
        hash seed, T6) → optional bias extension (M2) → per-class
        train/test split (T1) → fold assignment (T3) → optional train-mean
        centering of EVERY feature dimension (A1/M3,
        ``preprocess.py:76-79``: the full per-feature mean vector is
        subtracted from train AND test).

        Returns ``(train_df, test_df)``; labels are already columns (M4 is
        a no-op in long format), folds ride along as a ``fold`` column —
        use :meth:`get_cv_data` to slice one fold."""
        name = database or self._names[0]
        spec, proc = self._scan_specs[name], self._process[name]
        setting = proc["train"][0] if train_setting is None else train_setting
        cv = proc["cv"]
        df = self.database(name)

        order = [seeded_order(spec["key"], seed=no), spec["key"]]
        split = train_test_split(df, spec["label"], order, setting, cv)
        from dataframework_spark.operators.ml_prep import assign_folds

        planned = assign_folds(split, cv)
        if proc["extend"]:
            planned = extend_bias(planned, features_col=spec["features"])
        if proc["center"]:
            planned = center_features(planned, spec["features"])
        keep = [c for c in planned.columns if c not in ("_n", "_rn", "_train_size")]
        planned = planned.select(*keep)
        train_df = planned.where(F.col("is_train") == 1)
        test_df = planned.where(F.col("is_train") == 0)
        return train_df, test_df

    def get_cv_data(self, fold: int, database: str | None = None) -> tuple[DataFrame, DataFrame]:
        """Fold ``fold``'s (cv_train, cv_test) slices (M6,
        ``preprocess.py:91-96``): two filters over the database's cached
        all-folds table (:meth:`_cv_table`), as the reference slices the
        fold indices it computed once.  ``fold`` outside ``range(cv)``
        raises ``IndexError``, as :meth:`ParamGrid.row` does.

        The table is lazy until the first action on any fold; from then on
        every fold reads that one materialization — a snapshot, like the
        reference's eager load, so a later rewrite of the source files is
        not seen until the :attr:`train` setter drops the table."""
        name = database or self._names[0]
        self.database(name)  # unknown names raise ConfigError first
        if not 0 <= fold < self._process[name]["cv"]:
            raise IndexError(fold)
        plan = self._cv_table(name).where(F.col("fold") == fold)
        return plan.where(F.col("role") == "train"), plan.where(F.col("role") == "test")

    def _cv_table(self, name: str) -> DataFrame:
        """Every fold of the seed-0 split at once, cached: one row per
        (train sample, fold) with its ``role`` — the exploded general plan
        (T2+T3, covers both the linspace and the rotating leave-one-out
        regime).

        When ``center`` is configured, each fold is re-centered by its OWN
        fold-train per-dimension means (reference ``preprocess.py:80-84``
        re-centers every CV slice after the global pass) — fold-test rows
        get the fold-train means subtracted, exactly like the outer
        train/test pair.  One grouped means aggregate serves all folds.

        ``spark.catalog.clearCache()`` leaves the stored frame correct but
        uncached: each later action recomputes every fold."""
        table = self._cv_tables.get(name)
        if table is not None:
            return table
        spec, proc = self._scan_specs[name], self._process[name]
        df = self.database(name)
        order = [seeded_order(spec["key"], seed=0), spec["key"]]
        split = train_test_split(df, spec["label"], order, proc["train"][0], proc["cv"])
        plan = cv_plan(split, proc["cv"])
        keep = [c for c in plan.columns if c not in ("_n", "_rn", "_train_size")]
        plan = plan.select(*keep)
        if proc["center"]:
            plan = center_features(
                plan.withColumn(
                    "_is_fold_train", (F.col("role") == "train").cast("int")
                ),
                spec["features"],
                train_col="_is_fold_train",
                by=("fold",),
            ).drop("_is_fold_train")
        table = self._cv_tables[name] = plan.cache()
        return table


class ParamGrid:
    """Hyperparameter grid (reference ``Lambda``, ``preprocess.py:482-517``).

    The Cartesian product lives as a DataFrame (G1); the reference's
    row/column accessors (G2) are provided for API parity — they act on
    the *grid*, which is small by construction, never on data."""

    def __init__(self, spark: SparkSession, grid: dict[str, list]) -> None:
        if not grid:
            raise ConfigError("empty parameter grid")
        self.names = list(grid)
        self._values = [list(v) for v in grid.values()]
        self.lengths = [len(v) for v in self._values]
        self.df = param_grid(spark, grid)

    def __len__(self) -> int:  # reference shape count, ``preprocess.py:513-517``
        n = 1
        for length in self.lengths:
            n *= length
        return n

    @property
    def k(self) -> int:
        return len(self.names)

    def row(self, i: int) -> dict[str, Any]:
        """Choice ``i`` in the reference's kron expansion order (first param
        varies slowest, user list order preserved —
        ``preprocess.py:489-497``).  Mixed-radix decode on the grid
        definition: the product is structural, so no data is touched."""
        if not 0 <= i < len(self):
            raise IndexError(i)
        out: dict[str, Any] = {}
        for name, values in zip(reversed(self.names), reversed(self._values)):
            i, r = divmod(i, len(values))
            out[name] = values[r]
        return {n: out[n] for n in self.names}

    def group(self, positions: list[int]) -> DataFrame:
        """Column group by position (reference ``preprocess.py:499-511``)."""
        return self.df.select(*[self.names[p] for p in positions])
