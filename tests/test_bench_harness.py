"""The bench harness is gate-critical (BENCH_r{N}.json): these pin the
public-API terminal-sort stripper and the lineage-keyed replay marker."""

from __future__ import annotations

import os

from tests.conftest import SF_SMOKE


def test_terminal_sort_stripped_only_when_terminal(spark):
    """A query returning its orderBy result is timed without the global
    sort; one that chains past the sort (top-k limit) keeps its plan."""
    from pyspark.sql import functions as F

    from bench import track_terminal_sort, unsorted_form

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
    with track_terminal_sort():
        ordered = df.groupBy("k").count().orderBy("k")
        topk = df.orderBy(F.desc("id")).limit(3)
    assert unsorted_form(ordered) is not ordered
    from bench import explain_str

    opt = explain_str(unsorted_form(ordered), "extended").split(
        "== Optimized Logical Plan =="
    )[1]
    assert "Sort" not in opt
    assert unsorted_form(topk) is topk
    # and the patch is gone outside the context
    plain = df.orderBy("id")
    assert unsorted_form(plain) is plain


def test_strip_preserves_rows(spark):
    from bench import track_terminal_sort, unsorted_form
    from gmall_flink_spark.registry import all_queries

    q = all_queries()["q1_pricing_summary"]
    with track_terminal_sort():
        df = q(spark, SF_SMOKE)
        stripped = unsorted_form(df)
    assert sorted(map(tuple, stripped.collect()), key=repr) == sorted(
        map(tuple, df.collect()), key=repr
    )


def test_merged_batch_marker_is_lineage_keyed(tmp_path):
    """A fresh checkpoint restarts batch ids at 0: the marker must not
    skip those batches just because an old lineage once merged batch 7."""
    from gmall_flink_spark.sinks._bucketed import (
        last_merged_batch,
        record_merged_batch,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    assert last_merged_batch(state, "qid-a") == -1
    record_merged_batch(state, 7, "qid-a")
    assert last_merged_batch(state, "qid-a") == 7  # same lineage: skip <=7
    assert last_merged_batch(state, "qid-b") == -1  # fresh checkpoint: merge
    # pre-queryId (bare batch id) markers carry no lineage: honored only
    # for equally lineage-less callers (query_id ""), read as "nothing
    # merged" for any streaming lineage — merging a delivered batch twice
    # is recoverable state-dir hygiene, silently skipping a fresh
    # checkpoint's batches is data loss. Corrupted empty markers always
    # read as "nothing merged".
    with open(os.path.join(state, "_LAST_BATCH"), "w") as fh:
        fh.write("5")
    assert last_merged_batch(state, "") == 5
    assert last_merged_batch(state, "any-stream-lineage") == -1
    with open(os.path.join(state, "_LAST_BATCH"), "w") as fh:
        fh.write("")
    assert last_merged_batch(state, "") == -1


def test_session_memo_invalidates_on_source_rewrite(spark, tmp_path):
    """The shared-stage memos must rebuild when the source parquet is
    rewritten in-session (same path, new content) — serving the stale
    localCheckpoint would silently diverge from a fresh oracle read."""
    import shutil
    import time as _time

    from gmall_flink_spark.queries.text import _winnow_docs

    sf = str(tmp_path)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")
    first = _winnow_docs(spark, sf)
    assert _winnow_docs(spark, sf) is first  # memo hit on unchanged content
    n_first = first.count()
    # rewrite the table under the same path: fewer docs, new mtime
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{SF_SMOKE}/documents.parquet' "
        f"WHERE doc_id % 2 = 0) TO '{sf}/documents.half.parquet' (FORMAT PARQUET)"
    )
    con.close()
    _time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    shutil.move(f"{sf}/documents.half.parquet", f"{sf}/documents.parquet")
    second = _winnow_docs(spark, sf)
    assert second is not first
    assert second.count() < n_first


def test_headline_names_resolve_in_registry():
    """Every benched name must be a registered query (a rename or typo
    here would crash the driver's bench run, not just a local script)."""
    from bench import HEADLINE, R1_HEADLINE_N
    from gmall_flink_spark.registry import all_queries

    qs = all_queries()
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, f"HEADLINE entries not in registry: {missing}"
    assert len(set(HEADLINE)) == len(HEADLINE), "duplicate HEADLINE entries"
    assert R1_HEADLINE_N <= len(HEADLINE)


def test_compact_line_fits_the_stdout_budget():
    """Only the tail of the bench's stdout is kept and parsed, so the one
    JSON line must fit 1900 chars even when every query is slow (round
    2's line was cut and its result lost). Kept timings are a HEADLINE
    prefix, and the truncation is flagged."""
    import json

    from bench import HEADLINE, R1_HEADLINE_N, compact_line

    timings = {name: 999.99 for name in HEADLINE}
    detail = {
        "metric": "headline query suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "query_ct": len(timings),
        "r01_comparable_sec": round(999.99 * R1_HEADLINE_N, 3),
        "failed_ct": 0,
        "errors": {},
        "calib_sec": {"jvm": 999.999, "py": 999.999},
        "r01_comparable_warm_sec": 99999.999,
        "r01_comparable_warm_runs": [99999.999] * 3,
        "r01_comparable_warm_min_sec": 99999.999,
        "r01_comparable_warm_median_sec": 99999.999,
        "queries": timings,
        "streaming": {"rows_per_sec": 99_999_999},
        "streaming_stateful": {"rows_per_sec": 99_999_999},
        "sf": 0.001,
    }
    line = compact_line(detail)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert parsed["queries_truncated"] is True
    kept = list(parsed["queries"])
    assert kept and kept == HEADLINE[: len(kept)]
