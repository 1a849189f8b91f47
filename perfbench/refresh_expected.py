"""Rebuild ``expected.json``: each workload query's value hash from its
DuckDB twin on the generated tables.

Every query is also run on Spark; a query whose twin disagrees is listed
under ``excluded`` with the reason, and the runner leaves it out of its
workload.  Run from the repository root after changing the generator,
the table scale or a query's registered semantics:

    python3 perfbench/refresh_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import datagen
import outputs
import run
import workloads


def main() -> None:
    root = run.repo_root()
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    try:
        data_dir = run.table_dir(tmp)
        rows = datagen.write_tables(data_dir, workloads.TABLE_SF, workloads.TABLE_SEED)
        import duckdb

        con = duckdb.connect()
        for name in rows:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        run.prepare_env(root, tmp)
        spark = run.start_spark(tmp, app_name="dfx-perfbench-refresh")
        from dataframework_spark.registry import all_queries

        specs = all_queries()
        expected, excluded = {}, {}
        for wl, names in workloads.QUERIES.items():
            for name in names:
                res = con.execute(specs[name].oracle)
                cols = [d[0] for d in res.description]
                duck = outputs.value_hash(cols, res.fetchall())
                got, n = outputs.spark_hash(specs[name].fn(spark, data_dir))
                spark.catalog.clearCache()
                if got == duck:
                    expected[name] = {"hash": duck, "rows": n}
                else:
                    excluded[name] = "DuckDB twin and Spark disagree on the generated tables"
                print(f"{wl:15s} {name:28s} rows={n:6d} {'ok' if got == duck else 'MISMATCH'}",
                      file=sys.stderr)
        spark.stop()
        record = {
            "table_sf": workloads.TABLE_SF,
            "table_seed": workloads.TABLE_SEED,
            "queries": expected,
            "excluded": excluded,
        }
        with open(os.path.join(os.path.dirname(__file__), "expected.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        run.remove_scratch(root, run.table_dir(tmp))


if __name__ == "__main__":
    main()
