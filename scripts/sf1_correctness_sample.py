#!/usr/bin/env python3
"""sf1-scale correctness SPOT-SWEEP (VERDICT r11 task 6).

The sf1 decade checkpoint (scripts/sf1_checkpoint.py) TIMED queries at
the 10x id-distinct replica dir but never oracle-checked any there; the
gate SFs (0.01 / 0.001) can't exercise bigger aggregates, deeper hash
spaces, or collision exposure. This script runs ~16 representative
registry queries — one per family: TPC-H scan-agg + multi-join, CDC wide
join + delta, window aggs, exact UV / D6 returning, dedup keep-first,
LSH->CC components, exact-substring spans, unigram encode, packing, log
split, quality battery, IVF top-k — against the DuckDB oracle at the
SAME ~sf1 construction, with the driver's type-strict comparison.

Construction = sf1_checkpoint's: documents as 10 id-distinct
token-salted replicas, orders/lineitem/events as 10 id-distinct
key-shifted replicas, dims 1x. EMBEDDINGS STAY 1x (single copy, not the
checkpoint's 10 symlinks): symlink replication duplicates vec_id, which
breaks the key semantics of every similarity query (queries/centroids
are selected BY vec_id), and float-replica synthesis would introduce
tie-ordering hazards that make rank-window parity nondeterministic — so
the sim_ivf_topk row is parity-at-1x-embeddings, annotated here rather
than hidden.

Oracle views glob the multi-file table dirs ('<table>.parquet/*.parquet')
instead of oracle_harness's single-file form; the comparison itself is
the identical _norm_pdf typing.

Usage: python scripts/sf1_correctness_sample.py [K]   (default 10)
Writes CORRECTNESS_LOCAL_sf1_sample.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
sys.path.insert(0, os.path.join(REPO, "scripts"))

SAMPLE = [
    "q1_pricing_summary",      # TPC-H scan-agg over 6M lineitem
    "q3_shipping_priority",    # multi-join with selective filters
    "cdc_order_detail_wide",   # CDC wide fact-fact join (the sf1 outlier)
    "cdc_cart_add",            # CDC insert-or-increase delta
    "window_event_counts",     # tumbling window agg over 1M events
    "dws_brand_order_window",  # windowed decimal sums
    "uv_daily",                # exact per-day UV (distinct explosion)
    "returning_users_daily",   # D6 7-day returning
    "dedup_keep_first",        # D1 keep-first
    "dedup_components",        # LSH -> verify -> connected components, 600k docs
    "substr_dup_spans",        # exact-substring span dedup (W-gram inversion)
    "llm_unigram_encode",      # unigram-LM encode (10x distinct salted words)
    "llm_pack_sequences",      # sequence packing
    "log_split_counts",        # 5-way log split conditional aggregate
    "text_quality",            # quality battery
    "sim_ivf_topk",            # IVF ANN (embeddings 1x — see module doc)
    "media_jpeg_meta",         # r12: JPEG marker walk, 10x image ids
    "llm_wordpiece_encode",    # r12: greedy WordPiece over 10x salted words
    "llm_tokenizer_compare",   # r13: all three trainer oracle chains at 10x
    "dedup_containment_stats", # r14: one-sided prefix filter vs brute-force
                               # truth on the 10x sample (completeness proof
                               # at scale)
]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from bench import materialize_topics
    from oracle_harness import _norm_pdf
    from sf1_replica import (
        build_distinct_documents,
        build_distinct_facts,
        build_scaled_dir,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("sf1-correctness-sample")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    scaled = build_scaled_dir(base, k)
    build_distinct_documents(spark, scaled, base, k)
    build_distinct_facts(spark, scaled, base, k)
    # embeddings at 1x: drop the K symlink copies (duplicate vec_ids break
    # the similarity queries' key semantics — module docstring)
    emb = os.path.join(scaled, "embeddings.parquet")
    for n in sorted(os.listdir(emb))[1:]:
        os.unlink(os.path.join(emb, n))

    # one-time synthesized-topic builds OUTSIDE the per-query timing
    materialize_topics(spark, scaled)

    def run_oracle_scaled(sql: str):
        con = duckdb.connect()
        tables = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
        for t in tables:
            p = os.path.join(scaled, f"{t}.parquet")
            src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        try:
            return con.execute(sql).df()
        finally:
            con.close()

    queries, oracle = entry.queries(), entry.oracle_sql()
    results: dict[str, dict] = {}
    fails = 0
    t_start = time.time()
    for i, name in enumerate(SAMPLE):
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "spark_sec": None, "oracle_sec": None}
        try:
            t0 = time.time()
            s_pdf = queries[name](spark, scaled).toPandas()
            rec["spark_sec"] = round(time.time() - t0, 1)
            rec["spark_rows"] = len(s_pdf)
            t0 = time.time()
            o_pdf = run_oracle_scaled(oracle[name])
            rec["oracle_sec"] = round(time.time() - t0, 1)
            rec["oracle_rows"] = len(o_pdf)
            rec["rows_match"] = len(s_pdf) == len(o_pdf)
            rec["schema_match"] = sorted(s_pdf.columns) == sorted(o_pdf.columns)
            rec["hash_match"] = (
                rec["rows_match"]
                and rec["schema_match"]
                and _norm_pdf(s_pdf) == _norm_pdf(o_pdf)
            )
        except Exception:
            rec["err"] = traceback.format_exc(limit=3).strip().splitlines()[-1]
        ok = rec["err"] is None and bool(
            rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        )
        fails += 0 if ok else 1
        print(f"[{i + 1}/{len(SAMPLE)}] {name}: "
              f"{'ok' if ok else 'FAIL ' + str(rec)} "
              f"(spark {rec['spark_sec']}s, oracle {rec['oracle_sec']}s)",
              flush=True)
        results[name] = rec

    out = os.path.join(REPO, "CORRECTNESS_LOCAL_sf1_sample.json")
    with open(out, "w") as fh:
        json.dump({"k": k, "base": base, "embeddings": "1x (see script doc)",
                   "results": results}, fh, indent=2)
    n = len(SAMPLE)
    print(f"wrote {out}: {n - fails}/{n} green in {time.time() - t_start:.0f}s")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
