#!/usr/bin/env python3
"""Per-query isolated profiler (optimization round 1 tooling, guide §1).

For each named registry query: clear every session memo (and, by default,
this SF's write-once disk artifacts), time the COLD execution through the
bench's noop-sink + terminal-sort-strip methodology, then time N WARM
re-runs in the same session. Writes one JSON with cold/warm seconds plus
the calibration pair so readings normalize across host states, and
optionally dumps `explain("formatted")` of the cold-built DataFrame per
query (the consumer plan — producer stages behind eager localCheckpoint
memos do not appear in it; the explain audit's cold_shuffles column covers
those).

Usage:
  python scripts/qprof.py OUT.json q1 q2 ... [--sf DIR] [--warm N]
      [--plans DIR] [--suffix TAG] [--keep-artifacts]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--plans", default=None, help="dir for <query><suffix>.txt plans")
    ap.add_argument("--suffix", default="", help="plan filename suffix (_before/_after)")
    ap.add_argument(
        "--keep-artifacts",
        action="store_true",
        help="keep write-once disk artifacts (measure the consumer posture)",
    )
    args = ap.parse_args()

    import bench
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.session import get_spark
    from gmall_flink_spark.sources.tables import clear_session_memos

    spark = get_spark(
        app_name="qprof", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # the bench prelude, minus its disk wipe: each cold run below wipes
    # (or, with --keep-artifacts, keeps) this SF's artifacts itself
    calib = bench.prepare(spark)
    bench.materialize_topics(spark, args.sf)
    out: dict[str, dict] = {"_calib": calib, "_sf": args.sf}

    for name in args.names:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        clear_session_memos(sf_dir=None if args.keep_artifacts else args.sf)
        built = []

        def cold_fn(spark, sf_dir):
            built.append(queries[name](spark, sf_dir))
            return built[0]

        spark.sparkContext.setJobDescription(f"qprof cold: {name}")
        cold = bench.time_query(spark, cold_fn, args.sf)
        warms = []
        for i in range(args.warm):
            spark.sparkContext.setJobDescription(f"qprof warm{i}: {name}")
            warms.append(bench.time_query(spark, queries[name], args.sf))
        out[name] = {"cold": cold, "warm": warms}
        print(f"{name}: cold {cold}s warm {warms}", flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan = bench.explain_str(bench.unsorted_form(built[0]), "formatted")
            with open(
                os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
