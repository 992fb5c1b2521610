#!/usr/bin/env python3
"""sf1-scale DEDUP RECALL + component-agreement evidence (VERDICT r12
task 1): the sampled-exact pair-graph audits — lsh_recall_audit,
dedup_allpairs_exact, dedup_components_exact — run against the SAME
~sf1 construction as scripts/sf1_correctness_sample.py (10 id-distinct
token-salted document replicas, ~600k docs), each with the
driver-identical DuckDB oracle comparison, and their VALUES recorded:
this is the round's independent evidence that the LSH index quality and
the exact-graph closure measured at sf0.01 hold a decade up.

On top of the three parity rows, the script computes the
exact-vs-engine COMPONENT AGREEMENT on the audit sample — a pair-level
Rand-style statistic between the production LSH->verify->components
clustering (queries/llm_dedup._components) and the exact prefix-filter
closure (_sample_components), restricted to the deterministic
1-in-AUDIT_MOD sample:

  - co-membership pair counts are computed ARITHMETICALLY from group
    sizes (sum of C(n,2) over components, and over the (engine, exact)
    contingency cells) — never by materializing pairs, so the stat is
    computable at any scale;
  - docs absent from a mapping count as singletons (coalesce to their
    own doc_id), contributing zero pairs;
  - reported: engine_pairs, exact_pairs, both_pairs (intersection),
    jaccard_x10000 of the two co-membership relations, and the
    engine-side recall of exact co-membership
    (both_pairs / exact_pairs, x10000).

Round 14: the production pair rule now unions the exact-fingerprint
pre-pass AND stars still-over-cap fine buckets (VERDICT r13 weak #1 +
task 2), so the lsh_recall_audit row reads exact-class recall = total.
The pre-adoption rule's numbers live in RECALL_SF1_r14_pre.json (run at
the old rule) — the adopted-vs-previous comparison the posture decision
used is between that artifact and this script's current output; the
script no longer rebuilds an "alternative" rule that is now byte-
identical to production (review r14: that section doubled the script's
heaviest work to reproduce numbers the component-agreement block
already measures).

Usage: python scripts/sf1_recall_audit.py [K] [round_tag]  (default 10 r14)
Writes RECALL_SF1_{round_tag}.json (referenced from SCALE.md).
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

AUDITS = ["lsh_recall_audit", "dedup_allpairs_exact", "dedup_components_exact"]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    tag = sys.argv[2] if len(sys.argv) > 2 else "r14"
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import duckdb
    from pyspark.sql import SparkSession, functions as F

    import __spark_entry__ as entry
    from oracle_harness import _norm_pdf
    from sf1_replica import build_distinct_documents, build_scaled_dir

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("sf1-recall-audit")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    scaled = build_scaled_dir(base, k)
    build_distinct_documents(spark, scaled, base, k)

    def run_oracle_scaled(sql: str):
        con = duckdb.connect()
        p = os.path.join(scaled, "documents.parquet")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'"
        )
        try:
            return con.execute(sql).df()
        finally:
            con.close()

    queries, oracle = entry.queries(), entry.oracle_sql()
    results: dict[str, dict] = {}
    fails = 0
    t_start = time.time()
    for i, name in enumerate(AUDITS):
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "values": None, "err": None, "spark_sec": None, "oracle_sec": None}
        try:
            t0 = time.time()
            s_pdf = queries[name](spark, scaled).toPandas()
            rec["spark_sec"] = round(time.time() - t0, 1)
            t0 = time.time()
            o_pdf = run_oracle_scaled(oracle[name])
            rec["oracle_sec"] = round(time.time() - t0, 1)
            rec["rows_match"] = len(s_pdf) == len(o_pdf)
            rec["schema_match"] = sorted(s_pdf.columns) == sorted(o_pdf.columns)
            rec["hash_match"] = (
                rec["rows_match"]
                and rec["schema_match"]
                and _norm_pdf(s_pdf) == _norm_pdf(o_pdf)
            )
            # the evidence itself: the audit's value rows, committed
            rec["values"] = json.loads(s_pdf.to_json(orient="records"))
        except Exception:
            rec["err"] = traceback.format_exc(limit=3).strip().splitlines()[-1]
        ok = rec["err"] is None and bool(rec["hash_match"])
        fails += 0 if ok else 1
        print(f"[{i + 1}/{len(AUDITS)}] {name}: "
              f"{'ok' if ok else 'FAIL ' + str(rec)} "
              f"(spark {rec['spark_sec']}s, oracle {rec['oracle_sec']}s)",
              flush=True)
        results[name] = rec

    # --- component agreement helper (pair counts from contingency sizes,
    # never materialized pairs; docs absent from a mapping are singletons)
    def co_membership(sample, eng, exa) -> dict:
        m = (
            sample.join(eng.withColumnRenamed("component", "ec"), "doc_id", "left")
            .join(exa.withColumnRenamed("component", "xc"), "doc_id", "left")
            .select(
                F.coalesce("ec", F.col("doc_id")).alias("ec"),
                F.coalesce("xc", F.col("doc_id")).alias("xc"),
            )
        )
        pairs = F.expr("CAST(sum(n * (n - 1) DIV 2) AS BIGINT)")
        eng_pairs = (
            m.groupBy("ec").agg(F.count(F.lit(1)).alias("n"))
            .agg(pairs.alias("p")).first()["p"]
        )
        exa_pairs = (
            m.groupBy("xc").agg(F.count(F.lit(1)).alias("n"))
            .agg(pairs.alias("p")).first()["p"]
        )
        both_pairs = (
            m.groupBy("ec", "xc").agg(F.count(F.lit(1)).alias("n"))
            .agg(pairs.alias("p")).first()["p"]
        )
        union = eng_pairs + exa_pairs - both_pairs
        return dict(
            sample_doc_ct=m.count(),
            engine_pairs=int(eng_pairs),
            exact_pairs=int(exa_pairs),
            both_pairs=int(both_pairs),
            jaccard_x10000=int(10000 * both_pairs // union) if union else 10000,
            engine_recall_of_exact_x10000=(
                int(10000 * both_pairs // exa_pairs) if exa_pairs else 10000
            ),
        )

    from gmall_flink_spark.queries.llm_dedup import (
        AUDIT_MOD,
        _components,
        _sample_components,
    )
    from gmall_flink_spark.sources.tables import table

    sample = (
        table(spark, scaled, "documents")
        .select("doc_id")
        .where(F.pmod(F.col("doc_id"), F.lit(AUDIT_MOD)) == 0)
    )

    # --- exact-vs-engine component agreement on the audit sample ---
    agreement: dict = {"err": None}
    try:
        t0 = time.time()
        agreement.update(
            co_membership(
                sample,
                _components(spark, scaled),
                _sample_components(spark, scaled),
            ),
            sec=round(time.time() - t0, 1),
        )
        print(f"agreement: {agreement}", flush=True)
    except Exception:
        agreement["err"] = traceback.format_exc(limit=3).strip().splitlines()[-1]
        print(f"agreement FAILED: {agreement['err']}", flush=True)

    out = os.path.join(REPO, f"RECALL_SF1_{tag}.json")
    with open(out, "w") as fh:
        json.dump(
            {"k": k, "base": base, "audit_mod": "AUDIT_MOD sample (1-in-4)",
             "results": results, "component_agreement": agreement},
            fh, indent=2,
        )
    n = len(AUDITS)
    # agreement status reported separately: fails counts PARITY audits
    # only, so the evidence line can never misattribute an agreement
    # error to an audit (review r13)
    agree_ok = agreement["err"] is None
    print(f"wrote {out}: {n - fails}/{n} audits green, "
          f"agreement {'ok' if agree_ok else 'FAILED'} "
          f"in {time.time() - t_start:.0f}s")
    spark.stop()
    sys.exit(1 if fails or not agree_ok else 0)


if __name__ == "__main__":
    main()
