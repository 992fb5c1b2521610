#!/usr/bin/env python3
"""One-decade scale checkpoint (VERDICT r10 task 7): time the r01-headline
bench subset at sf0.1 AND at a 10x-fact replica of it (~sf1: 6M lineitem
rows, 1M orders, 1M events, 600k docs) in ONE session, and write the
per-query ratio table to .tmp/BENCH_LOCAL_sf1.json (gitignored: the
committed BENCH_LOCAL_sf1.json changes only by a deliberate copy).

No sf1 testdata exists in this environment, so the decade comes from the
sf1_replica construction (dims stay 1x — at scale dims grow far slower
than facts): documents materialize as 10 ID-DISTINCT token-salted
replicas (symlink replication is dedup-adversarial), and orders /
lineitem / events materialize as 10 ID-DISTINCT key-shifted replicas
(symlinked ids made every fact-fact equi-join fan out xK per matched
pair — output xK^2 per join edge, the cdc_order_detail_wide x42.5
artifact of the first r11 run). Only embeddings stay symlinked:
annotate, don't hide, the replication caveats (exact-dup vectors inflate
near-dup pair families; see SCALE.md r11).

Per query: one warm-up run at sf0.1 (codegen out of the clock), then one
timed run per scale, memos cleared between scales so nothing is served
from a warm cache of the other scale. A ratio near 10 = linear in rows;
well under 10 = fixed overhead still dominates at sf1; well over 10 = a
super-linear suspect to explain or fix.

Usage: python scripts/sf1_checkpoint.py [K]   (default 10)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sf1_replica import (
        build_distinct_documents,
        build_distinct_facts,
        build_scaled_dir,
    )

    import bench as B
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.session import get_spark
    from gmall_flink_spark.sources.tables import clear_session_memos

    spark = get_spark(app_name="sf1-checkpoint")
    spark.sparkContext.setLogLevel("ERROR")
    scaled = build_scaled_dir(base, k)
    build_distinct_documents(spark, scaled, base, k)
    # relational facts id-distinct too (r11 second pass): symlinked ids
    # made every fact-fact join fan out xK^2 (cdc_order_detail_wide x42.5)
    build_distinct_facts(spark, scaled, base, k)

    queries = all_queries()
    subset = B.HEADLINE[: B.R1_HEADLINE_N]
    # synthesized topics at BOTH scales before the clock starts
    calib = B.prepare(spark, base, scaled)

    rows = {}
    errors = {}
    for name in subset:
        try:
            B.time_query(spark, queries[name], base)  # warm-up: codegen out of the clock
            clear_session_memos(sf_dir=base)
            t1 = B.time_query(spark, queries[name], base)
            clear_session_memos(sf_dir=scaled)
            tk = B.time_query(spark, queries[name], scaled)
            rows[name] = {
                "sf01_sec": t1,
                "sf1_sec": tk,
                "ratio": round(tk / t1, 2) if t1 > 0 else None,
            }
            print(f"{name:28s} {t1:7.2f} {tk:8.2f} x{rows[name]['ratio']}", flush=True)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"{name:28s} ERROR {errors[name][:80]}", flush=True)

    ratios = sorted(r["ratio"] for r in rows.values() if r["ratio"])
    out = {
        "metric": "r01 headline subset, sf0.1 vs ~sf1 (10x facts)",
        "k": k,
        "base": base,
        "calib_sec": calib,
        "sf01_total_sec": round(sum(r["sf01_sec"] for r in rows.values()), 2),
        "sf1_total_sec": round(sum(r["sf1_sec"] for r in rows.values()), 2),
        "ratio_median": ratios[len(ratios) // 2] if ratios else None,
        "errors": errors,
        "queries": rows,
    }
    os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)
    with open(os.path.join(REPO, ".tmp", "BENCH_LOCAL_sf1.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({kk: out[kk] for kk in
                      ("sf01_total_sec", "sf1_total_sec", "ratio_median")}))
    spark.stop()


if __name__ == "__main__":
    main()
