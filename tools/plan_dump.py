"""Dump .explain('formatted') for every catalog + bench-extra query.

Usage: python tools/plan_dump.py <outdir> [suffix] [only_name ...]

Writes <outdir>/<query>_<suffix>.txt (suffix default 'before').
Expression ids (``#123``, ``#123L``), ``plan_id=`` numbers and the
``_pyspark_<uuid>.`` qualifier of a ``spark.sql`` DataFrame argument's
per-build view are stripped, so dumps taken from two checkouts diff
cleanly.
Planning only — no job executes; safe to run alongside other work.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: per-session numbering that differs between two identical plans
_IDS = re.compile(r"#\d+L?|(?<=plan_id=)\d+|_pyspark_[0-9a-f]{32}\.")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    os.makedirs(outdir, exist_ok=True)

    import bench
    from gus_spark.queries import catalog
    from gus_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="gus_spark-plan-dump")
    specs = catalog()
    extras = bench.extra_queries()
    names = sorted(set(specs) | set(extras))
    for name in names:
        if only and name not in only:
            continue
        fn = specs[name].fn if name in specs else extras[name]
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001 — record, keep dumping
            plan = f"PLANNING FAILED: {exc!r}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(_IDS.sub("", plan))
        print(name, flush=True)


if __name__ == "__main__":
    main()
