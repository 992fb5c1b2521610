"""Z-order layout: multi-column file skipping, measured from parquet
row-group statistics (what a reader's min/max pruning actually uses)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gmall_flink_spark.sinks.layout import write_zordered
from gmall_flink_spark.sources.tables import table

SF = "/root/testdata/sf0.01"


def _hit_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of row groups whose [min, max] for ``col`` intersects
    [lo, hi] — the row groups a stats-pruning reader must scan."""
    total = hits = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or (st.min <= hi and st.max >= lo):
                hits += 1
    assert total > 0
    return hits / total


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-ordering events on (user_id, value) must let a narrow predicate
    on EITHER column prune most row groups, where the unsorted layout
    prunes (almost) nothing — the multi-dimensional clustering contract.
    Bounds are loose (<= 0.5 vs >= 0.9) because Morton locality is
    statistical, not exact."""
    ev = table(spark, SF, "events").select("event_id", "user_id", "value")
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zorder")
    ev.repartition(64).write.mode("overwrite").parquet(plain)
    write_zordered(ev, zord, ["user_id", "value"], n_files=64)

    # same rows either way
    assert (
        spark.read.parquet(zord).count() == spark.read.parquet(plain).count()
    )

    stats = ev.agg(
        F.expr("percentile(user_id, 0.45)").alias("u_lo"),
        F.expr("percentile(user_id, 0.55)").alias("u_hi"),
        F.expr("percentile(value, 0.45)").alias("v_lo"),
        F.expr("percentile(value, 0.55)").alias("v_hi"),
    ).collect()[0]

    for col, lo, hi in (
        ("user_id", int(stats.u_lo), int(stats.u_hi)),
        ("value", float(stats.v_lo), float(stats.v_hi)),
    ):
        z = _hit_fraction(zord, col, lo, hi)
        p = _hit_fraction(plain, col, lo, hi)
        assert z <= 0.5, f"{col}: zorder layout did not prune ({z:.2f})"
        assert p >= 0.9, f"{col}: unsorted layout unexpectedly pruned ({p:.2f})"


def test_zorder_handles_non_numeric_columns(spark, tmp_path):
    """zorder_key over a string + a date column must produce a varying
    Morton key for both dimensions (regression: the approxQuantile path
    once cast strings to double -> all-null -> constant bucket)."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.sinks.layout import zorder_key

    df = spark.range(0, 2000).select(
        F.concat(F.lit("cc_"), F.lpad((F.col("id") % 97).cast("string"), 3, "0")).alias("code"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 365).cast("int")).alias("d"),
        F.col("id").alias("v"),
    )
    keyed = zorder_key(df, ["code", "d"])
    stats = keyed.agg(
        F.countDistinct("_zkey").alias("nk"),
        F.min("_zkey").alias("lo"),
        F.max("_zkey").alias("hi"),
    ).collect()[0]
    assert stats["nk"] > 50, "z-key collapsed — a dimension contributed a constant"
    # both dimensions contribute: keys restricted to one code still vary by date
    one_code = keyed.where(F.col("code") == "cc_001")
    assert one_code.select("_zkey").distinct().count() > 1


def test_materialized_cache_invalidates_on_data_rewrite(spark, tmp_path):
    """The synth-topic cache must version on DATA, not just builder code
    (r12 sf1 lesson: a rebuilt scaled dir kept serving topics cached from
    its previous contents — every CDC query answered for the old corpus).
    Rewriting a source table under sf_dir must produce a fresh cache dir
    whose content reflects the new data; the unchanged dir keeps serving
    the same cache path (no spurious rebuilds)."""
    import time

    from pyspark.sql import functions as F

    from gmall_flink_spark.sources.materialize import materialized

    sf = str(tmp_path)
    spark.range(0, 5).write.parquet(f"{sf}/orders.parquet")

    def build():
        return spark.read.parquet(f"{sf}/orders.parquet").withColumn(
            "v", F.col("id") * 2
        )

    first = sorted(r["v"] for r in materialized(spark, sf, "t", build).collect())
    assert first == [0, 2, 4, 6, 8]
    again = sorted(r["v"] for r in materialized(spark, sf, "t", build).collect())
    assert again == first  # same stamp -> same cache, no rebuild surprise

    time.sleep(0.05)  # distinct mtime for the rewrite
    spark.range(10, 13).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    refreshed = sorted(r["v"] for r in materialized(spark, sf, "t", build).collect())
    assert refreshed == [20, 22, 24], refreshed  # new data, never the stale topic


def test_data_stamp_memoized_no_rehash_on_hit(spark, tmp_path, monkeypatch):
    """_data_stamp is on every materialized() access path: an unchanged dir
    serves the memo without re-hashing (VERDICT r12 task 6 — the scan
    itself is ONE bounded scandir sweep per call by design since r14); a
    rewrite busts the memo AND changes the stamp (staleness safety from
    test_materialized_cache_invalidates_on_data_rewrite is preserved),
    including an IN-PLACE part rewrite and — the ADVICE r13 #1 hole — a
    parquet file nested ≥2 directory levels below sf_dir (partitionBy
    layouts)."""
    import hashlib
    import os
    import time

    from gmall_flink_spark.sources import materialize as M

    sf = str(tmp_path)
    spark.range(0, 5).write.parquet(f"{sf}/orders.parquet")

    M._STAMP_MEMO.clear()
    first = M._data_stamp(sf)

    hashes = []
    real_md5 = hashlib.md5
    monkeypatch.setattr(
        hashlib, "md5", lambda *a, **k: hashes.append(1) or real_md5(*a, **k)
    )
    assert M._data_stamp(sf) == first
    assert hashes == [], "cache-hit access still recomputed the stamp"

    time.sleep(0.05)  # distinct mtime for the rewrite
    spark.range(10, 13).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    second = M._data_stamp(sf)
    assert second != first, "rewrite must change the stamp"
    assert len(hashes) == 1  # exactly one re-hash, then memoized again
    assert M._data_stamp(sf) == second and len(hashes) == 1

    # IN-PLACE part-file rewrite: only the inner file's mtime moves (the
    # parent dir's does not — no create/delete happened)
    part = next(
        os.path.join(f"{sf}/orders.parquet", n)
        for n in os.listdir(f"{sf}/orders.parquet")
        if n.endswith(".parquet")
    )
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    third = M._data_stamp(sf)
    assert third != second, "in-place rewrite must bust the memo"

    # DEEP layout (ADVICE r13 #1): a partitionBy-style parquet file three
    # levels down participates in the stamp, and its in-place rewrite
    # (parent dirs untouched) busts the memo too
    deep_dir = os.path.join(sf, "events.parquet", "p=1", "q=2")
    os.makedirs(deep_dir)
    spark.range(0, 3).coalesce(1).write.parquet(os.path.join(deep_dir, "inner"))
    fourth = M._data_stamp(sf)
    assert fourth != third, "deep parquet files must participate in the stamp"
    deep_part = next(
        os.path.join(deep_dir, "inner", n)
        for n in os.listdir(os.path.join(deep_dir, "inner"))
        if n.endswith(".parquet")
    )
    st = os.stat(deep_part)
    os.utime(deep_part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert M._data_stamp(sf) != fourth, "depth-4 in-place rewrite must bust the memo"


def test_clear_session_memos_covers_every_memo():
    """clear_session_memos is the ONE wipe the probes, the explain audit,
    and every cold-cost measurement rely on; a stage it misses silently
    serves warm state to a measurement that believes it cleared
    everything (r14 finding: a hand-rolled _WP_STATE dict was never
    registered, so the explain audit's WordPiece rows read the
    tokenizer-compare run's warm trainer). Every shared stage is a
    sources.tables.session_stage, which registers itself: import the
    whole package, poison every registered stage, wipe, and require all
    empty. The stage count is pinned, so adding or removing a stage is a
    deliberate edit here."""
    import importlib
    import pkgutil

    import gmall_flink_spark
    from gmall_flink_spark.sources import tables

    for mod in pkgutil.walk_packages(gmall_flink_spark.__path__, "gmall_flink_spark."):
        importlib.import_module(mod.name)
    stages = list(tables._STAGES)
    names = [f"{s.__module__}.{s.__name__}" for s in stages]
    assert len(stages) == 24, names
    sentinel = ("__clear_session_memos_coverage_test__",)
    for stage in stages:
        stage.memo[sentinel] = None
    tables.clear_session_memos()
    missed = [n for n, s in zip(names, stages) if s.memo]
    assert not missed, f"stages NOT cleared by clear_session_memos: {missed}"


def test_clear_session_memos_wipes_only_the_given_corpus(tmp_path, monkeypatch):
    """A disk wipe reaches exactly one corpus's component artifact, and
    only when asked: wiping every corpus raced a concurrent sweep reading
    another corpus's mapping (FILE_NOT_EXIST mid-scan)."""
    from gmall_flink_spark.sources import materialize, tables

    monkeypatch.setattr(materialize, "CACHE_ROOT", str(tmp_path))
    artifacts = {}
    for sf in ("/data/sf_a", "/data/sf_b"):
        d = tmp_path / materialize.cache_key(sf) / "neardup_components-stamp"
        d.mkdir(parents=True)
        artifacts[sf] = d
    tables.clear_session_memos()
    assert all(d.exists() for d in artifacts.values())
    tables.clear_session_memos(sf_dir="/data/sf_a")
    assert not artifacts["/data/sf_a"].exists()
    assert artifacts["/data/sf_b"].exists()


def test_no_hand_rolled_session_memos():
    """Static guard behind the registry test: a module-level
    ``dict[tuple, ...]`` memo or a hand-computed stage key outside
    sources.tables.session_stage would bypass the registry (and the
    per-stage build lock), so it fails here the round it lands."""
    import pathlib
    import re

    import gmall_flink_spark

    pkg_root = pathlib.Path(gmall_flink_spark.__file__).parent
    offenders = []
    for path in sorted(pkg_root.rglob("*.py")):
        text = path.read_text()
        rel = path.relative_to(pkg_root)
        for m in re.finditer(r"^\w+\s*:\s*dict\[tuple", text, re.M):
            offenders.append(f"{rel}: {m.group(0)}")
        for m in re.finditer(r"\bmemo_key\s*\(|import[^\n]*\bmemo_key\b", text):
            offenders.append(f"{rel}: {m.group(0)}")
        if str(rel) != "sources/tables.py" and "applicationId" in text:
            offenders.append(f"{rel}: keys on applicationId outside session_stage")
    assert not offenders, offenders


def test_no_hand_rolled_bucket_merge():
    """Static guard behind sinks._bucketed.merge_buckets: the bucketed MERGE
    protocol (bucket-count check, touched buckets, prior read, swap) and
    the on-disk layout (the bucket-count meta, the bucket directory
    names) live in that module only. A sink that re-spells any of them
    is a hand-rolled copy of the protocol, so it fails here."""
    import pathlib
    import re

    import gmall_flink_spark

    pkg_root = pathlib.Path(gmall_flink_spark.__file__).parent
    pattern = re.compile(
        r"\b(swap_buckets|read_prior|touched_buckets|check_buckets)\s*\("
        r"|\"_N_BUCKETS\"|\"__bucket=\""
    )
    offenders = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(pkg_root)
        if str(rel) == "sinks/_bucketed.py":
            continue
        for m in pattern.finditer(path.read_text()):
            offenders.append(f"{rel}: {m.group(0)}")
    assert not offenders, offenders


def test_bucketed_reads_pass_a_schema():
    """Static guard behind the recorded ``_SCHEMA``: every parquet read in
    sinks/_bucketed.py passes the state's schema, so a merge or a
    read_state runs no footer-inference job. The one exception is
    ``_state_schema``'s inference for a state dir written before schemas
    were recorded."""
    import ast
    import pathlib

    import gmall_flink_spark

    src = pathlib.Path(gmall_flink_spark.__file__).parent / "sinks" / "_bucketed.py"
    tree = ast.parse(src.read_text())

    def chain(node):
        """The attribute names of a call chain, outermost last."""
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
            node = node.func if isinstance(node, ast.Call) else node.value
        return names[::-1]

    inferring = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                names = chain(node.func)
                if names[-1] == "parquet" and "read" in names and "schema" not in names:
                    inferring.append(fn.name)
    assert inferring == ["_state_schema"], inferring


def test_one_connected_components_path():
    """Static guard behind llm.dedup's one CC path: connected_components
    takes only the edges and merge_components only (mapping, new_edges),
    so no caller can pick a mode; and the package holds one union-find,
    ``llm/dedup.py::union_find``. A union-find is spotted by its find
    loop, ``while parent[x] != ...``; a top-level function or class whose
    body walks one is a union-find."""
    import ast
    import inspect
    import pathlib

    import gmall_flink_spark
    from gmall_flink_spark.llm.dedup import connected_components, merge_components

    hits = []
    if list(inspect.signature(connected_components).parameters) != ["edges"]:
        hits.append("connected_components takes more than edges")
    if list(inspect.signature(merge_components).parameters) != ["mapping", "new_edges"]:
        hits.append("merge_components takes more than (mapping, new_edges)")

    def is_find_loop(node):
        return (
            isinstance(node, ast.While)
            and isinstance(node.test, ast.Compare)
            and isinstance(node.test.left, ast.Subscript)
            and isinstance(node.test.ops[0], ast.NotEq)
        )

    pkg_root = pathlib.Path(gmall_flink_spark.__file__).parent
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(pkg_root)
        for top in ast.parse(path.read_text()).body:
            if any(is_find_loop(n) for n in ast.walk(top)):
                hits.append(f"{rel}::{getattr(top, 'name', type(top).__name__)}")
    assert hits == ["llm/dedup.py::union_find"], hits
