"""The ANN-index lifecycle a vector-search deployment runs, on this engine.

Every stage composes registered, oracle-checked components
(`operators/similarity.py`); together they are the operational playbook
for serving approximate nearest neighbors over a 100 TB corpus:

1. BUILD+PERSIST — one corpus pass assigns IVF cells and product-
   quantizes residuals; the index lands as three parquet tables
   (centroids, codebook, cell-partitioned codes ≈ 8 bytes/vector)
   (``ivfpq_persist`` / the build half of ``sim_ivfpq_persist_serve``).
2. SERVE        — ADC top-k from the persisted form alone: the only
   corpus touch is the query fetch; candidates come from the query's
   cell directory (``ivfpq_serve``).
3. INGEST       — a new-vector delta is encoded against the FROZEN
   quantizer and appended into the cell partitions; existing code
   files are never rewritten (``ivfpq_append`` /
   ``sim_ivfpq_incremental_append``).
4. RE-SERVE     — the same queries now see base + delta neighbors,
   bit-identically to a from-scratch rebuild (the registered query's
   DuckDB oracle proves that equivalence by value hash).
5. PRICE        — recall@5 vs the exact top-k says what nprobe=1 +
   8-byte codes cost (``sim_ivfpq_recall`` / ``sim_ivfpq_nprobe2``).

Runnable as-is (~40 s on local[4]):

    python examples/ann_lifecycle.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from dataframework_spark.operators.similarity import (  # noqa: E402
    IVFPQ_LAYOUT,
    ivfpq_append,
    ivfpq_persist,
    ivfpq_serve,
)
from dataframework_spark.sources import index_store  # noqa: E402
from dataframework_spark.registry import all_queries  # noqa: E402
from dataframework_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = get_spark(app_name="ann-lifecycle", cpus=4)
    q = {name: spec.fn for name, spec in all_queries().items()}
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "example_ann_index",
    )
    shutil.rmtree(base, ignore_errors=True)
    delta_pred = F.col("vec_id") % 10 == 9

    print("== 1. build + persist (base snapshot, ~90% of the corpus) ==")
    ivfpq_persist(spark, SF_DIR, base, predicate=~delta_pred)
    n_codes = index_store.read(spark, IVFPQ_LAYOUT, base, "codes").count()
    n_cells = index_store.read(spark, IVFPQ_LAYOUT, base, "centroids").count()
    print(f"  {n_codes} vectors coded into {n_cells} cells under {base}")

    print("== 2. serve from the persisted index ==")
    for r in ivfpq_serve(spark, SF_DIR, base).orderBy("query_id", "rank").collect()[:5]:
        print(f"  q{r.query_id} cell={r.cell} rank={r.rank} -> vec {r.neighbor_id} (d={r.dist})")

    print("== 3. ingest the delta with the frozen quantizer ==")
    ivfpq_append(spark, SF_DIR, base, delta_pred)
    n_after = index_store.read(spark, IVFPQ_LAYOUT, base, "codes").count()
    print(f"  codes: {n_codes} -> {n_after} (append-only; existing files untouched)")

    print("== 4. re-serve over base + delta ==")
    served = ivfpq_serve(spark, SF_DIR, base).orderBy("query_id", "rank").collect()
    n_delta_hits = sum(1 for r in served if r.neighbor_id % 10 == 9)
    print(f"  {len(served)} result rows; {n_delta_hits} neighbors come from the new delta")

    print("== 5. price the index: recall@5 vs exact (nprobe=1 then 2) ==")
    r1 = q["sim_ivfpq_recall"](spark, SF_DIR).agg(F.avg("recall_at_k")).first()[0]
    r2 = q["sim_ivfpq_nprobe2"](spark, SF_DIR).agg(F.avg("recall_at_k")).first()[0]
    print(f"  mean recall@5: nprobe=1 {r1:.3f} -> nprobe=2 {r2:.3f}")

    spark.stop()


if __name__ == "__main__":
    main()
