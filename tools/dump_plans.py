"""Dump ``explain("formatted")`` for named queries into a directory.

Usage:
    python tools/dump_plans.py OUT_DIR before dedup_exact_substring dedup_lsh_eval ...
    python tools/dump_plans.py OUT_DIR after --headline      # the bench.py HEADLINE set

Writes ``OUT_DIR/<query>_<suffix>.txt`` (e.g. ``OUT_DIR=.scratch/plans``) — the
before/after plan evidence that plan-shape claims are checked against.
Reads the tables from the directory in ``SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframework_spark.plans.explain import plan_string  # noqa: E402
from dataframework_spark.registry import all_queries  # noqa: E402
from dataframework_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    if suffix not in ("before", "after"):
        raise SystemExit("second arg must be 'before' or 'after'")
    names = sys.argv[3:]
    if "--headline" in names:
        from bench import HEADLINE

        names = [n for n in names if n != "--headline"] + list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dfx-dump-plans", cpus=cpus)
    specs = all_queries()
    for name in names:
        if name not in specs:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        df = specs[name].fn(spark, sf_dir)
        txt = plan_string(df, mode="formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        spark.catalog.clearCache()
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
