#!/usr/bin/env python3
"""Core-count scaling probe at ~sf1 (VERDICT r14 item 3).

sf0.1 is job-dispatch/Catalyst-latency bound, so the driver's 8-vs-32-core
ratios there are uninformative (r14 read ~1.0 everywhere). This probe times
the most expensive queries at the 10x id-distinct replica (~sf1 — the
sf1_checkpoint construction: documents token-salted, facts key-shifted,
dims 1x) under THIS session's core count ($SPARK_GRAFT_CPUS via
session.get_spark), where per-query data is millions of rows and core
scaling is observable. Run it once per core count; each run writes
.tmp/SCALING_SF1_c<cpus>.json, and when both files exist the second run
also writes the combined ratio table .tmp/SCALING_SF1_r15.json. .tmp/ is
gitignored: the committed SCALING_SF1_*.json change only by a deliberate
copy.

Methodology is bench.py's (``bench.prepare`` + ``bench.time_query``):
noop sink, terminal-sort strip, synth topics materialized untimed, session
memos + disk artifacts wiped once before the timed region (family sharing
inside the run mirrors the bench's order).

Usage:  SPARK_GRAFT_CPUS=32 python scripts/sf1_scaling.py [K]
        SPARK_GRAFT_CPUS=8  python scripts/sf1_scaling.py [K]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".tmp")
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

#: the expensive, data-bound end of the headline suite (bench order)
PROBE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "range_join_bands",
    "cdc_order_detail_wide",
    "dws_brand_order_window",
    "text_boilerplate",
    "llm_clean_corpus",
    "dedup_components",
    "dedup_cross_source",
    "embed_near_dup",
    "llm_bpe_train",
]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from sf1_replica import (
        build_distinct_documents,
        build_distinct_facts,
        build_scaled_dir,
    )

    import bench as B
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.session import get_spark

    spark = get_spark(app_name=f"sf1-scaling-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    # reuse an already-built replica (marker-stamped) so 8/32-core runs can
    # alternate back-to-back — host speed drifts ~1.5-2x within an hour, and
    # the ratio is only readable when the two runs are adjacent in time
    marker = f"/tmp/gmall_scale_x{k}/.distinct_built"
    if os.path.exists(marker):
        scaled = f"/tmp/gmall_scale_x{k}"
    else:
        scaled = build_scaled_dir(base, k)
        build_distinct_documents(spark, scaled, base, k)
        build_distinct_facts(spark, scaled, base, k)
        with open(marker, "w") as fh:
            fh.write("built")

    queries = all_queries()
    calib = B.prepare(spark, scaled)

    rows: dict[str, float] = {}
    for name in PROBE_QUERIES:
        rows[name] = B.time_query(spark, queries[name], scaled)
        print(f"c{cpus} {name}: {rows[name]:.2f}s", flush=True)

    out = {
        "metric": f"sf1 ({k}x) scaling probe at {cpus} cores",
        "cpus": cpus,
        "k": k,
        "calib_sec": calib,
        "total_sec": round(sum(rows.values()), 2),
        "queries": rows,
    }
    os.makedirs(OUT, exist_ok=True)
    mine = os.path.join(OUT, f"SCALING_SF1_c{cpus}.json")
    with open(mine, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"cpus": cpus, "total_sec": out["total_sec"]}))

    others = [
        os.path.join(OUT, f"SCALING_SF1_c{c}.json")
        for c in (8, 32)
        if c != cpus
    ]
    if others and os.path.exists(others[0]):
        with open(others[0]) as fh:
            other = json.load(fh)
        lo, hi = sorted((out, other), key=lambda d: d["cpus"])
        ratios = {
            q: round(lo["queries"][q] / hi["queries"][q], 2)
            for q in hi["queries"]
            if q in lo["queries"] and hi["queries"][q] > 0
        }
        combined = {
            "metric": f"sf1 ({k}x) 8-vs-32-core scaling",
            "cpus_low": lo["cpus"],
            "cpus_high": hi["cpus"],
            "calib_low": lo["calib_sec"],
            "calib_high": hi["calib_sec"],
            "total_low_sec": lo["total_sec"],
            "total_high_sec": hi["total_sec"],
            "ratio_low_over_high": ratios,
        }
        with open(os.path.join(OUT, "SCALING_SF1_r15.json"), "w") as fh:
            json.dump(combined, fh, indent=1)
        print(json.dumps(combined["ratio_low_over_high"]))
    spark.stop()


if __name__ == "__main__":
    main()
