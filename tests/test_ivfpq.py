"""IVF-PQ index lifecycle pins (``operators/similarity.py``).

Build, serve and append code vectors with one quantizer core
(``_assign`` → ``_codebook`` → ``_encode``).  The registered lifecycle
queries prove build ≡ serve and append ≡ rebuild through a top-k value
hash, which a code change that leaves the top-k alone would pass; these
tests pin the code rows themselves, and that malformed vectors are
rejected instead of filed under a NULL cell.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

_OFFSET = 1_000_000_000  # re-appended vectors get vec_id + _OFFSET


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    from dataframework_spark.operators.similarity import ivfpq_persist

    base = str(tmp_path_factory.mktemp("ivfpq") / "index")
    ivfpq_persist(spark, sf_dir, base)
    return base


def _codes(spark, base):
    return spark.read.parquet(os.path.join(base, "codes"))


def test_append_codes_equal_build_codes(spark, sf_dir, index):
    """Re-appending built vectors under offset ids through the frozen
    quantizer reproduces each vector's built ``(cid, codes)`` exactly."""
    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.similarity import as_double, ivfpq_append_frame

    sample = (
        load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        .where(F.col("vec_id") % 7 == 3)
        .select((F.col("vec_id") + _OFFSET).alias("vec_id"), as_double("embedding").alias("e"))
    )
    n = sample.count()
    assert n > 0
    ivfpq_append_frame(spark, index, sample)

    codes = _codes(spark, index)
    built = codes.where(F.col("vec_id") < _OFFSET).select(
        "vec_id", F.col("cid").alias("b_cid"), F.col("codes").alias("b_codes")
    )
    appended = codes.where(F.col("vec_id") >= _OFFSET).select(
        (F.col("vec_id") - _OFFSET).alias("vec_id"), "cid", "codes"
    )
    pairs = appended.join(built, "vec_id", "left").collect()
    assert len(pairs) == n
    mismatched = [
        r.vec_id for r in pairs if (r.cid, list(r.codes)) != (r.b_cid, list(r.b_codes or []))
    ]
    assert not mismatched, f"appended codes differ from the build's: {mismatched[:10]}"


_MALFORMED = {"short": [0.5, -0.5], "null": None}


@pytest.mark.parametrize("vector", sorted(_MALFORMED))
@pytest.mark.parametrize("path", ["append", "serve"])
def test_malformed_vector_rejected(spark, index, path, vector):
    """A NULL vector or one of the wrong size raises in the shared assign
    step; an append of it writes nothing (no NULL ``cid`` partition)."""
    from dataframework_spark.operators.similarity import (
        ivfpq_append_frame,
        ivfpq_serve_frame,
    )

    bad = spark.createDataFrame(
        [(_OFFSET + 7, _MALFORMED[vector])], "vec_id bigint, e array<double>"
    )
    n_before = _codes(spark, index).count()
    with pytest.raises(SparkRuntimeException, match="non-NULL arrays of 64 doubles"):
        if path == "append":
            ivfpq_append_frame(spark, index, bad)
        else:
            qdf = bad.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
            ivfpq_serve_frame(spark, index, qdf).collect()
    codes_dir = os.path.join(index, "codes")
    assert not any("__HIVE_DEFAULT_PARTITION__" in d for d in os.listdir(codes_dir))
    assert _codes(spark, index).count() == n_before
