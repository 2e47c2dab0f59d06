"""Scaling-curve bench: headline queries across sf0.001 → 0.01 → 0.1.

The correctness suite proves the answers; this proves the SHAPE — how
runtime grows as the data does. Each query is timed (warm + min-of-2,
`noop` sink: full computation, no driver serialization) at every scale
factor present under /root/testdata, and the per-query growth ratio for
each 10× data step is reported alongside the log-log slope ("exponent":
1.0 = perfectly linear, <1 = fixed-overhead-dominated, >1 = super-linear
and a scale risk).

At these local scale factors, Spark's per-query fixed cost (planning,
task launch) dominates, so healthy ratios sit well BELOW 10× — the
point of the gate is to catch any query whose ratio approaches or
exceeds the data growth, which is what an O(n²) stage or a collapsed
partitioning looks like before it becomes a 100 TB incident.

Run: python tools/scaling_bench.py
Prints one JSON line:
  {"metric": "scaling_curve", "sfs": [...],
   "queries": {name: {"secs": {sf: s}, "exponent": e}},
   "max_exponent": e, "unit": "sec"}
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]
TESTDATA = "/root/testdata"

# the per-family representatives: one shuffle-agg, one broadcast join,
# one window, one event rollup + sessionization, and the three scale-
# sensitive families (minhash LSH, ANN LSH, text) most at risk of a
# super-linear stage
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_orders_analytics",
    "events_hourly_rollup",
    "events_sessionization",
    "dedup_exact_representatives",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "decontaminate_docs",
    "similarity_ann_lsh",
    "text_profile",
    "repetition_profile",
    "redact_pii_documents",
    "q21_suppliers_waiting",
    "curate_documents",
    # the bridge family's two poles: dimension-sized (q2) and the
    # two-key fact join (q9)
    "q2_min_cost_supplier",
    "q9_product_type_profit",
]


def main() -> None:
    from gus_spark.queries import catalog
    from gus_spark.session import get_spark

    spark = get_spark(app_name="gus_spark-scaling-bench")
    specs = catalog()
    sfs = [sf for sf in SFS if os.path.isdir(f"{TESTDATA}/sf{sf}")]
    dirs = {sf: f"{TESTDATA}/sf{sf}" for sf in sfs}
    # one decade beyond the shipped testdata: a synthesized,
    # key-consistent 10x scale-up of sf0.1 (tools/make_sf1.py) — the
    # point where data cost starts to beat fixed cost locally
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/gus_sf1")
    if "1" not in sfs:
        if not os.path.isdir(sf1_dir):
            from tools.make_sf1 import make_sf1

            make_sf1(spark, sf1_dir)
        sfs.append("1")
        dirs["1"] = sf1_dir
    # a FIFTH decade, opt-in (generation + timing cost ~20 min): an
    # sf10 corpus composed by re-applying the same 10x scale-up to the
    # sf1 output (tools/make_sf1.make_sf1 with src=sf1; the word salt
    # composes to `word_i_j`, keeping copies shingle-disjoint). Present
    # only when the directory already exists — the default run stays
    # four points so driver-invoked runs keep their budget.
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/gus_sf10")
    if "10" not in sfs and os.path.isdir(sf10_dir):
        sfs.append("10")
        dirs["10"] = sf10_dir
    # rotated-out-of-catalog queries keep their scaling lines through
    # the same extras fallback bench.py uses (text_profile /
    # repetition_profile folded into text_repetition_profile late r10)
    from bench import extra_queries

    extras = extra_queries()
    out: dict[str, dict] = {}
    for name in QUERIES:
        fn = specs[name].fn if name in specs else extras[name]
        secs: dict[str, float] = {}
        for sf in sfs:
            sf_dir = dirs[sf]
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
            secs[sf] = round(best, 3)
        # least-squares log-log slope across the measured scale factors
        xs = [math.log10(float(sf)) for sf in sfs]
        ys = [math.log10(max(secs[sf], 1e-3)) for sf in sfs]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        denom = sum((x - mx) ** 2 for x in xs)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
        out[name] = {"secs": secs, "exponent": round(slope, 3)}
    print(
        json.dumps(
            {
                "metric": "scaling_curve",
                "sfs": [float(sf) for sf in sfs],
                "queries": out,
                "max_exponent": max(q["exponent"] for q in out.values()),
                "unit": "sec",
            }
        )
    )


if __name__ == "__main__":
    main()
