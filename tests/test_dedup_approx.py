"""HLL bound check for the approx-UV mode (not oracle-checkable: an
approximation has no deterministic SQL twin, so it lives here instead of
the driver registry)."""

from __future__ import annotations

import pytest

from gmall_flink_spark.queries.dedup import uv_daily_approx
from tests.conftest import SF_ORACLE


def test_uv_daily_approx_within_rsd_bound(spark):
    rows = uv_daily_approx(spark, SF_ORACLE).collect()
    assert rows, "expected at least one day of UV"
    for r in rows:
        # approx_count_distinct(rsd=0.01); allow 5x slack on the standard
        # deviation — HLL++ error is probabilistic, not a hard cap.
        assert abs(r.uv_approx - r.uv_exact) <= max(5, 0.05 * r.uv_exact), (
            f"{r.cur_date}: approx {r.uv_approx} vs exact {r.uv_exact}"
        )


def test_uv_daily_kmv_within_error_bound(spark):
    """Unlike HLL, the KMV sketch (uv_daily_kmv, oracle-checked in the
    registry) is deterministic — pin its relative error at ~2 sigma of the
    1/sqrt(k) KMV bound (k=64 -> 12.5% sigma, cap 30%)."""
    from gmall_flink_spark.queries.dedup import uv_daily_kmv

    rows = uv_daily_kmv(spark, SF_ORACLE).collect()
    assert rows, "expected at least one day of UV"
    for r in rows:
        assert abs(r.kmv_ct - r.exact_ct) <= max(5, 0.30 * r.exact_ct), (
            f"{r.cur_date}: kmv {r.kmv_ct} vs exact {r.exact_ct}"
        )


def test_doc_set_stats_equals_aggregates(spark):
    """llm/dedup.doc_set_stats (map-only n/setfp from the token arrays —
    optimization r15) must be bit-identical to the aggregate forms it
    replaced: n == count of distinct exploded units, setfp ==
    token_set_fingerprint's sorted-collect_set md5, and token-less docs
    excluded from both."""
    from gmall_flink_spark.llm.dedup import (
        distinct_tokens,
        doc_set_stats,
        doc_tokens,
        token_set_fingerprint,
    )
    from pyspark.sql import functions as F
    from gmall_flink_spark.sources.tables import table

    docs = table(spark, SF_ORACLE, "documents").limit(500)
    toked = doc_tokens(docs)
    units = distinct_tokens(docs)
    fast = {r.doc_id: (r.n, r.setfp) for r in doc_set_stats(toked).collect()}
    agg = {
        r.doc_id: (r.n, r.setfp)
        for r in units.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(token_set_fingerprint(None, units=units), "doc_id")
        .collect()
    }
    assert fast == agg
    assert fast, "expected non-empty stats"


def test_exact_fingerprint_pairs_full_and_star(spark):
    """llm/dedup.exact_fingerprint_pairs: token-SET identity grouping (order
    and multiplicity ignored — the is_exact definition of the recall
    audits), full clique pairing at or under the group cap, star fallback
    to the group minimum above it."""
    from gmall_flink_spark.llm.dedup import exact_fingerprint_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "c b a a"),      # same token set as 1 (order/mult differ)
            (3, "a b c"),        # third member of the clique
            (4, "x y"),
            (5, "y x"),          # pair with 4
            (6, "lonely"),
        ],
        "doc_id bigint, text string",
    )
    full = sorted(map(tuple, exact_fingerprint_pairs(docs).collect()))
    assert full == [(1, 2), (1, 3), (2, 3), (4, 5)]
    # cap of 2: the 3-clique degenerates to the star around doc 1
    star = sorted(map(tuple, exact_fingerprint_pairs(docs, max_group=2).collect()))
    assert star == [(1, 2), (1, 3), (4, 5)]


def test_simhash_exact_recall_floor(spark):
    """The VERDICT r09 weak-#2 regression pin: the production SimHash pair
    set (banded + exact-fingerprint pre-pass) must recall ALL sampled
    exact (jaccard-1) pairs — the oracle mirrors whatever the engine
    emits, so this floor must live in pytest, not the parity gate."""
    from gmall_flink_spark.queries.llm_dedup import simhash_recall_audit

    by_class = {r["is_exact"]: r for r in simhash_recall_audit(spark, SF_ORACLE).collect()}
    exact = by_class[1]
    assert exact["true_ct"] > 0 and exact["miss_ct"] == 0, dict(exact.asDict())


def test_lsh_exact_recall_floor(spark):
    """The VERDICT r13 weak-#1 regression pin, MinHash side: the
    production pair rule (two-level banding + star fine fallback + the
    exact-fingerprint pre-pass) must recall ALL sampled exact (jaccard-1)
    pairs — same reasoning as the SimHash floor above: the oracle mirrors
    whatever the engine emits, so only pytest can hold this floor.
    RECALL_SF1_r14.json is the same floor held at the 10x construction
    (22,450/22,450)."""
    from gmall_flink_spark.queries.llm_dedup import lsh_recall_audit

    by_class = {r["is_exact"]: r for r in lsh_recall_audit(spark, SF_ORACLE).collect()}
    exact = by_class[1]
    assert exact["true_ct"] > 0 and exact["miss_ct"] == 0, dict(exact.asDict())


@pytest.mark.slow
def test_components_artifact_persists_and_invalidates(spark, tmp_path):
    """The near-dup component mapping is a WRITE-ONCE disk artifact
    (VERDICT r09 task 8): first call builds the bucketed table under the
    content stamp; a second call — even after the session memo is cleared
    of entries — reads it back identically without rebuilding; REWRITING
    the documents parquet changes the stamp, so a stale mapping can never
    be served (a fresh artifact directory appears and the mapping follows
    the new corpus)."""
    import os
    import time

    from gmall_flink_spark.queries.llm_dedup import (
        _components,
        _components_artifact_path,
    )

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", "s", "en") for i in range(4)]
        + [(9, "unrelated words entirely here now", "s", "en")],
        "doc_id bigint, text string, source string, lang string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    first = sorted(map(tuple, _components(spark, sf).collect()))
    p1 = _components_artifact_path(sf)
    assert os.path.exists(p1) and first, (p1, first)
    build_mark = os.path.getmtime(p1)

    _components.clear()  # drop the L1 stage; the artifact must serve the read
    again = sorted(map(tuple, _components(spark, sf).collect()))
    assert again == first
    assert os.path.getmtime(p1) == build_mark  # read, not rebuilt

    time.sleep(0.05)  # ensure a distinct mtime stamp for the rewrite
    docs.limit(3).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    p2 = _components_artifact_path(sf)
    assert p2 != p1  # content stamp moved with the rewrite
    refreshed = sorted(map(tuple, _components(spark, sf).collect()))
    assert os.path.exists(p2)
    assert {d for d, _ in refreshed} < {d for d, _ in first}


def test_components_stamp_covers_every_producer_layer(tmp_path, monkeypatch):
    """VERDICT r11 task 3 pin: the artifact stamp must move when ANY
    layer the mapping derives from changes — the verify threshold
    (hoisted into VERIFY_J_NUM/DEN constants), a producer function's
    source (_verified_pairs et al.), and the tokenize rule — so six
    consumer queries can never read a stale cross-session mapping. The
    producers are session_stage wrappers: the stamp must hash each
    builder's OWN body, not the wrapper's (which is identical for all
    seven, so an edited producer would keep its stamp)."""
    import inspect

    from gmall_flink_spark.queries import llm_dedup as qd

    hashed = inspect.getsource(qd._verified_pairs)
    assert "def _verified_pairs(" in hashed and "VERIFY_J_DEN" in hashed

    sf = str(tmp_path)  # no parquet needed: the stamp falls back to "0:0"
    base = qd._components_stamp(sf)
    assert qd._components_stamp(sf) == base  # deterministic

    # 1) verify-threshold constant: the exact edit ADVICE r11 named
    monkeypatch.setattr(qd, "VERIFY_J_NUM", 8)
    assert qd._components_stamp(sf) != base
    monkeypatch.undo()
    assert qd._components_stamp(sf) == base

    # 2) producer-function source: simulate an edited _verified_pairs
    def _edited_verified_pairs(spark, sf_dir):
        return None  # different source text is all the stamp sees

    monkeypatch.setattr(qd, "_verified_pairs", _edited_verified_pairs)
    assert qd._components_stamp(sf) != base
    monkeypatch.undo()

    # 3) tokenize rule: a re-sourced tokenizer must invalidate too
    import gmall_flink_spark.functions.text as ftext

    def _edited_tokenize(col):
        return col

    monkeypatch.setattr(ftext, "tokenize", _edited_tokenize)
    assert qd._components_stamp(sf) != base
    monkeypatch.undo()
    assert qd._components_stamp(sf) == base


def test_merge_components_equals_full_rebuild(spark):
    """Incremental component maintenance (VERDICT r10 task 2): split the
    real verified near-dup pair graph into a v1 slice and a delta slice
    (every pair touching a doc_id % 5 == 0 doc — the corpus_version_diff
    'added docs' shape), build the v1 mapping, then merge_components over
    the delta edges must equal connected_components rebuilt on the FULL
    graph — including merged clusters, relabeled old rows, and brand-new
    nodes."""
    from gmall_flink_spark.llm.dedup import connected_components, merge_components
    from gmall_flink_spark.queries.llm_dedup import _verified_pairs
    from pyspark.sql import functions as F

    pairs = _verified_pairs(spark, SF_ORACLE).select("doc_a", "doc_b")
    is_delta = (F.col("doc_a") % 5 == 0) | (F.col("doc_b") % 5 == 0)
    v1 = pairs.where(~is_delta)
    delta = pairs.where(is_delta)
    assert delta.count() > 0 and v1.count() > 0, "split degenerated"

    mapping1 = connected_components(v1)
    merged = merge_components(mapping1, delta)
    rebuilt = connected_components(pairs)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_merge_components_artifact_equals_rebuild(spark, tmp_path):
    """The bucketed-artifact form of the incremental merge: fold the delta
    edges into a persisted v1 mapping table in place; the table must then
    equal the full rebuild, and UNTOUCHED doc_id buckets must not be
    rewritten (the per-delta I/O contract)."""
    from gmall_flink_spark.llm.dedup import connected_components
    from gmall_flink_spark.queries.llm_dedup import (
        COMPONENTS_N_BUCKETS,
        _verified_pairs,
        merge_components_artifact,
    )
    from gmall_flink_spark.sinks._bucketed import read_state, with_bucket, write_bucket_dir
    from pyspark.sql import functions as F

    pairs = _verified_pairs(spark, SF_ORACLE).select("doc_a", "doc_b")
    is_delta = (F.col("doc_a") % 5 == 0) | (F.col("doc_b") % 5 == 0)
    path = str(tmp_path / "components_v1")
    mapping1 = connected_components(pairs.where(~is_delta))
    write_bucket_dir(
        with_bucket(mapping1, ["doc_id"], COMPONENTS_N_BUCKETS), path, COMPONENTS_N_BUCKETS
    )

    merge_components_artifact(spark, path, pairs.where(is_delta))
    rebuilt = connected_components(pairs)
    assert sorted(map(tuple, read_state(spark, path).collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_merge_components_artifact_rewrites_touched_buckets_only(spark, tmp_path):
    """The per-delta I/O contract of the artifact maintainer: a delta whose
    changed rows land in few doc_id buckets must leave the other bucket
    directories untouched on disk (checked by mtime) — the property that
    makes incremental maintenance cheaper than a rebuild at scale."""
    import os
    import time

    from gmall_flink_spark.queries.llm_dedup import merge_components_artifact
    from gmall_flink_spark.sinks._bucketed import (
        BUCKET_COL,
        read_state,
        with_bucket,
        write_bucket_dir,
    )

    n_buckets = 16
    path = str(tmp_path / "components_small")
    # 20 two-doc clusters: mapping rows spread across many buckets
    mapping = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 40, 2)]
        + [(i, i) for i in range(0, 40, 2)],
        "doc_id bigint, component bigint",
    )
    write_bucket_dir(with_bucket(mapping, ["doc_id"], n_buckets), path, n_buckets)
    time.sleep(0.05)
    before = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=")
    }
    # one new doc joins one existing cluster: <= 2 changed/new rows
    delta = spark.createDataFrame([(100, 0)], "doc_a bigint, doc_b bigint")
    merge_components_artifact(spark, path, delta, n_buckets=n_buckets)
    got = {r["doc_id"]: r["component"] for r in read_state(spark, path).collect()}
    assert got[100] == 0 and got[0] == 0 and got[1] == 0
    after = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=")
    }
    touched = [d for d in after if before.get(d) != after[d]]
    untouched = [d for d in before if before[d] == after.get(d)]
    assert 1 <= len(touched) <= 2, (
        f"expected <=2 rewritten/new buckets for a 1-row delta, got {touched}"
    )
    assert len(untouched) >= len(before) - 2, (
        f"too many prior buckets rewritten: {sorted(set(before) - set(untouched))}"
    )


def test_bloom_prefilter_no_false_negatives_and_measurable_fp(spark):
    """The bloom contract on both sides of the geometry: at production
    (m, k) every inserted key probes maybe_dup=1 (no false negatives);
    at a deliberately TINY m the filter saturates — inserted keys STILL
    all read 1 (the contract is geometry-independent) while uninserted
    keys show measurable false positives (the quantity
    dedup_bloom_prefilter's ledger reports)."""
    from gmall_flink_spark.operators.sketch import bloom_build, bloom_probe

    prior = spark.createDataFrame([(f"k{i}",) for i in range(200)], "f string")
    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)]        # inserted
        + [(f"new{i}",) for i in range(150)],  # never inserted
        "f string",
    )
    for m, expect_fp in ((None, False), (64, True)):
        kw = {} if m is None else {"m": m}
        bloom = bloom_build(prior, "f", **kw)
        v = {r["f"]: r["maybe_dup"] for r in bloom_probe(probe, "f", bloom, **kw).collect()}
        assert all(v[f"k{i}"] == 1 for i in range(50)), f"false negative at m={m}"
        fp = sum(v[f"new{i}"] for i in range(150))
        if expect_fp:
            assert fp > 0, "tiny filter saturated but no FP measured"
        else:
            assert fp <= 5, f"production geometry FP rate implausible: {fp}/150"


def test_length_ratio_prune_is_lossless_at_threshold(spark):
    """jaccard_pairs(ratio=(9,10)) must keep EXACTLY the pairs that clear
    j >= 0.9 — the prune's no-false-negative proof (j <= min/max sizes)
    checked against the unpruned verify on real candidates, plus evidence
    the prune actually removes candidate work before the unit join."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.llm.dedup import (
        jaccard_pairs,
        lsh_bands,
        lsh_candidates,
        minhash_signatures,
    )
    from gmall_flink_spark.queries.llm_dedup import (
        LSH_MAX_BUCKET,
        MINHASH_K,
        ROWS_PER_BAND,
        _doc_toks,
    )

    units = _doc_toks(spark, "/root/testdata/sf0.01").select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("shingle")
    )
    cands = lsh_candidates(
        lsh_bands(minhash_signatures(units, MINHASH_K), ROWS_PER_BAND),
        max_bucket=LSH_MAX_BUCKET,
    ).localCheckpoint(eager=True)

    def verified(jac):
        return sorted(
            map(
                tuple,
                jac.where(10 * F.col("inter") >= 9 * F.col("uni"))
                .select("doc_a", "doc_b", "inter", "uni")
                .collect(),
            )
        )

    full = jaccard_pairs(units, cands)
    pruned = jaccard_pairs(units, cands, ratio=(9, 10))
    assert verified(pruned) == verified(full)
    # the prune must actually drop scored candidates (not be a no-op here)
    assert pruned.count() < full.count()


@pytest.mark.slow
def test_lsh_star_fallback_keeps_family_connected(spark):
    """oversize='star' on a homogeneous over-cap bucket: the star edges to
    the bucket's min doc_id verify at j>=0.9 and connected components
    still merge the family — at O(B) pairs where drop mode loses it
    entirely."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.llm.dedup import (
        connected_components,
        distinct_tokens,
        jaccard_pairs,
        lsh_bands,
        lsh_candidates,
        minhash_signatures,
    )

    # 12 docs sharing 29 of 30 tokens pairwise (one unique token each):
    # every pair has j = 29/31 > 0.9 and identical minhash signatures are
    # overwhelmingly likely, forming one over-cap (cap=8) bucket per band
    base = " ".join(f"tok{i}" for i in range(29))
    rows = [(i, f"{base} unique{i}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    units = distinct_tokens(docs, spread_input=False)
    bands = lsh_bands(minhash_signatures(units, 12), 3)

    dropped = lsh_candidates(bands, max_bucket=8, oversize="drop")
    starred = lsh_candidates(bands, max_bucket=8, oversize="star")
    assert dropped.count() == 0
    n_star = starred.count()
    assert 0 < n_star <= 11, f"star must be O(B), got {n_star}"

    verified = jaccard_pairs(units, starred).where(
        10 * F.col("inter") >= 9 * F.col("uni")
    )
    comp = connected_components(verified.select("doc_a", "doc_b"))
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 12


def test_two_level_lsh_refines_within_megabuckets(spark):
    """lsh_candidates_two_level: over-cap coarse-bucket members re-band at
    the fine width, and sub-cap fine buckets pair — candidates appear
    where single-level drop mode produces none, and never exceed the
    sub-cap-pairing bound."""
    from gmall_flink_spark.llm.dedup import (
        distinct_tokens,
        lsh_candidates,
        lsh_candidates_two_level,
        matrix_bands,
        minhash_matrix,
    )

    base = " ".join(f"tok{i}" for i in range(29))
    rows = [(i, f"{base} unique{i}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    units = distinct_tokens(docs, spread_input=False)
    mx = minhash_matrix(units, 12)

    dropped = lsh_candidates(matrix_bands(mx, 3), max_bucket=8, oversize="drop")
    # cap 8 still over-caps the 12-member coarse buckets; fine 6-row bands
    # of an identical-signature family stay one bucket too, so grant the
    # fine level a cap that admits it (the heterogeneous-corpus case where
    # fine buckets split below the cap is exercised on real testdata by
    # lsh_recall_audit)
    two = lsh_candidates_two_level(mx, 3, 6, max_bucket=8)
    refined = lsh_candidates_two_level(mx, 3, 6, max_bucket=12)
    assert dropped.count() == 0 and two.count() == 0
    assert refined.count() == 12 * 11 // 2


def test_matrix_bands_equals_lsh_bands(spark):
    """matrix_bands (map-only banding of the wide minhash matrix) must be
    row-identical to the long-form lsh_bands at every width — including a
    width that does NOT divide k (trailing partial band). This pins the
    band_sig string format the two-level candidate rule and the streaming
    LSH sink both key on."""
    from gmall_flink_spark.llm.dedup import (
        distinct_tokens,
        lsh_bands,
        matrix_bands,
        minhash_matrix,
        minhash_signatures,
    )

    rows = [(i, f"alpha beta w{i} x{i * 7 % 5} y{i % 3} z{i * i % 11}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    units = distinct_tokens(docs, spread_input=False)
    for width in (3, 6, 5):  # 5 leaves a 2-seed partial band at k=12
        via_matrix = sorted(
            map(tuple, matrix_bands(minhash_matrix(units, 12), width).collect())
        )
        via_long = sorted(
            map(tuple, lsh_bands(minhash_signatures(units, 12), width).collect())
        )
        assert via_matrix == via_long, f"width {width} diverged"


def test_jaccard_pairs_ratio_applies_on_selfjoin_path(spark):
    """ratio=(q,scale) on the pairs=None path must drop exactly the pairs
    the length bound excludes (j <= min/max can't reach q/scale) and keep
    the rest identical to the unpruned self-join."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.llm.dedup import distinct_tokens, jaccard_pairs

    rows = [
        (1, "a b c d e f g h i j"),   # 10 toks
        (2, "a b c d e f g h i k"),   # 10 toks, j(1,2)=9/11
        (3, "a b c"),                 # 3 toks — fails 10*3 >= 9*10 vs both
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    units = distinct_tokens(docs, spread_input=False)
    full = {(r.doc_a, r.doc_b) for r in jaccard_pairs(units).collect()}
    pruned = {(r.doc_a, r.doc_b) for r in jaccard_pairs(units, ratio=(9, 10)).collect()}
    assert full == {(1, 2), (1, 3), (2, 3)}
    assert pruned == {(1, 2)}


def _substr_edge_corpus(spark, tmp_path):
    """The every-edge substring corpus, written once per test tmpdir:
    cross-doc overlap chain (docs 0/1), within-doc repetition with a
    gap > W (doc 2), a sub-W doc (doc 3), and touching vs gapped
    adjacent grams (docs 4/5). Returns (sf_dir, duckdb connection with
    the documents view registered) — the single place the corpus lives,
    so the span and cut tests can never drift onto different inputs."""
    import duckdb

    a = " ".join(f"a{i}" for i in range(10))      # 10-token shared span
    b8 = " ".join(f"b{i}" for i in range(8))
    d8 = " ".join(f"d{i}" for i in range(8))
    e8 = " ".join(f"e{i}" for i in range(8))
    rows = [
        (0, a + " u1 u2 u3 u4 u5"),               # dup pos 0,1,2 -> 1 span
        (1, "v1 v2 " + a + " w1 w2 w3"),          # dup pos 2,3,4 -> 1 span
        (2, b8 + " z1 " + b8),                    # pos 0,9: gap 9 > 8 -> 2 spans
        (3, "c1 c2 c3"),                          # < W tokens: no row
        (4, d8 + " " + e8),                       # pos 0,8: gap 8 == W -> merged
        (5, "x " + d8 + " y " + e8),              # pos 1,10: gap 9 -> 2 spans
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", f"s{i % 2}", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    return sf, con


@pytest.mark.slow
def test_substr_span_merge_semantics(spark, tmp_path):
    """ExactSubstr interval merge, pinned on a corpus with every edge the
    rule has: cross-doc shared span (overlapping gram chain -> ONE span),
    within-doc repetition (gap > W -> TWO spans), touching intervals
    (gap == W -> merged), and a sub-W doc (excluded). Engine and DuckDB
    oracle must agree row-for-row on the same parquet."""
    from gmall_flink_spark.queries.llm_dedup import ORACLE, substr_dup_spans

    sf, con = _substr_edge_corpus(spark, tmp_path)
    got = [tuple(r) for r in substr_dup_spans(spark, sf).collect()]
    assert got == [
        (0, 15, 3, 1, 10, 10 / 15),
        (1, 15, 3, 1, 10, 10 / 15),
        (2, 17, 2, 2, 16, 16 / 17),
        (4, 16, 2, 1, 16, 1.0),
        (5, 18, 2, 2, 16, 16 / 18),
    ], got
    assert got == con.sql(ORACLE["substr_dup_spans"]).fetchall()


def test_substr_hashed_matches_plain(spark):
    """The production 8-byte xxhash64 gram keys must produce the same
    span report as grouping the gram strings themselves (collision-free
    at gate SF — the documented trade in llm/substring.py)."""
    from gmall_flink_spark.llm.dedup import doc_tokens
    from gmall_flink_spark.llm.substring import dup_span_stats
    from gmall_flink_spark.sources.tables import table

    toked = doc_tokens(table(spark, SF_ORACLE, "documents"))
    hashed = sorted(map(tuple, dup_span_stats(toked, hashed=True).collect()))
    plain = sorted(map(tuple, dup_span_stats(toked, hashed=False).collect()))
    assert hashed == plain and len(hashed) > 0


@pytest.mark.slow
def test_substr_cut_plan_keeps_one_copy(spark, tmp_path):
    """Keep-one-copy on the same every-edge corpus: the globally first
    (doc_id, pos) occurrence of each duplicated gram survives, every
    other occurrence is cut — so doc0 (the a-span keeper) and doc4 (both
    grams' keeper) lose nothing, while doc1/doc2/doc5 lose exactly the
    non-canonical copies. Engine == DuckDB oracle row-for-row."""
    from gmall_flink_spark.queries.llm_dedup import ORACLE, substr_cut_plan

    sf, con = _substr_edge_corpus(spark, tmp_path)
    got = [tuple(r) for r in substr_cut_plan(spark, sf).collect()]
    assert got == [
        (1, 15, 3, 1, 10, 5),
        (2, 17, 1, 1, 8, 9),
        (5, 18, 2, 2, 16, 2),
    ], got
    assert got == con.sql(ORACLE["substr_cut_plan"]).fetchall()


@pytest.mark.slow
def test_substr_randomized_corpus_matches_oracle(spark, tmp_path):
    """Seeded random corpus (shared phrase pool, so duplicated spans of
    every length/overlap shape occur by construction): engine and DuckDB
    oracle must agree row-for-row on both the span report and the cut
    plan — broader than the hand-built edge corpus, still deterministic."""
    import random

    import duckdb

    from gmall_flink_spark.queries.llm_dedup import (
        ORACLE,
        substr_cut_plan,
        substr_dup_spans,
    )

    rng = random.Random(0xC0FFEE)
    phrases = [
        [f"p{k}_{i}" for i in range(rng.randint(8, 14))] for k in range(6)
    ]
    rows = []
    for doc_id in range(60):
        toks: list[str] = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.6:
                toks += rng.choice(phrases)
            toks += [f"u{doc_id}_{i}" for i in range(rng.randint(0, 9))]
        rows.append((doc_id, " ".join(toks)))
    docs = spark.createDataFrame(
        [(i, t, "en", f"s{i % 3}", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    for fn, key in ((substr_dup_spans, "substr_dup_spans"),
                    (substr_cut_plan, "substr_cut_plan")):
        got = [tuple(r) for r in fn(spark, sf).collect()]
        want = con.sql(ORACLE[key]).fetchall()
        assert got == want and len(got) > 10, (key, len(got))


def test_lsh_sensitivity_curve_matches_theory(spark):
    """The integer S-curve must agree with float theory within fixed-point
    error and be strictly monotone: P = 1-(1-t^r)^b at the production
    (r, b) pairs, crossover of the coarse curve near (1-(1/2)^(1/b))^(1/r)
    ~ 0.54 — the number that says 'the coarse banding is a ~0.5-jaccard
    candidate net', which is why the j >= 0.9 verify keeps precision."""
    from gmall_flink_spark.queries.llm_dedup import (
        FINE_ROWS_PER_BAND,
        LSH_CURVE_Q,
        MINHASH_K,
        ROWS_PER_BAND,
        lsh_sensitivity_curve,
    )

    rows = {
        r["pct"]: (r["p_cand_coarse_q"], r["p_cand_fine_q"])
        for r in lsh_sensitivity_curve(spark, "unused").collect()
    }
    assert len(rows) == 19
    prev = (-1, -1)
    for pct in sorted(rows):
        t = pct / 100
        for got, r in ((rows[pct][0], ROWS_PER_BAND), (rows[pct][1], FINE_ROWS_PER_BAND)):
            b = MINHASH_K // r
            want = (1 - (1 - t**r) ** b) * LSH_CURVE_Q
            # per-band integer floor loses < b units of Q each fold
            assert abs(got - want) <= 4 * b + 2, (pct, r, got, want)
        assert rows[pct] > prev, "curve not strictly monotone"
        prev = rows[pct]
    # coarse curve crosses 50% between 50% and 55% jaccard (theory 0.542)
    assert rows[50][0] < LSH_CURVE_Q // 2 < rows[55][0]


@pytest.mark.slow
def test_lsh_bucket_cap_plan_accounting(spark, tmp_path):
    """lsh_bucket_cap_plan's per-cap accounting on a hand-built corpus:
    identical docs land in one bucket per band, so bucket sizes are
    known; over/under splits and the sub-cap pair volume must match the
    closed-form Σ n·(n−1)/2."""
    from gmall_flink_spark.queries.llm_dedup import (
        LSH_CAP_GRID,
        lsh_bucket_cap_plan,
    )

    # 7 identical docs + 2 identical docs + 1 unique -> per band: buckets
    # of size 7, 2, 1 (tokens chosen to be distinct across groups)
    rows = (
        [(i, "alpha beta gamma", "en", "s0", 10) for i in range(7)]
        + [(i, "delta epsilon", "en", "s0", 10) for i in range(7, 9)]
        + [(9, "zeta eta theta iota", "en", "s0", 10)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["cap"]: r for r in lsh_bucket_cap_plan(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(LSH_CAP_GRID)
    # 4 bands x 3 buckets each
    for cap, r in got.items():
        assert r["bucket_ct"] == 12
        assert r["max_bucket"] == 7
        if cap >= 10:  # all buckets sub-cap: pairs = 4 bands x (21 + 1 + 0)
            assert r["over_bucket_ct"] == 0 and r["over_doc_slots"] == 0
            assert r["subcap_pair_ct"] == 4 * (21 + 1)


def test_recall_audit_total_past_fp_group_cap(spark, tmp_path):
    """Review r14: above EXACT_FP_MAX_GROUP the production pre-pass emits
    the STAR encoding (hub->member edges), whose component closure still
    holds every exact pair but whose edge list alone misses hub-less
    member pairs. The audits measure the RULE (sample-scoped uncapped
    fingerprint pairs), so exact-class recall must stay total on a corpus
    with an over-cap duplicate group — pinned here engine-side AND against
    the DuckDB oracle twin, since the parity gate corpora never exceed
    the cap."""
    import duckdb

    from gmall_flink_spark.llm.dedup import EXACT_FP_MAX_GROUP
    from gmall_flink_spark.queries.llm_dedup import (
        ORACLE,
        _exact_pairs,
        lsh_recall_audit,
    )
    from tests.oracle_harness import _norm_pdf

    n = EXACT_FP_MAX_GROUP + 50  # one fingerprint group, 5% past the cap
    rows = [(i, "alpha beta gamma delta", "en", "src0", 22) for i in range(n)]
    rows.append((n, "totally different words here", "en", "src1", 28))
    sf = str(tmp_path / "sf_capcase")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).repartition(4).write.parquet(f"{sf}/documents.parquet")

    # production edge list: star form past the cap (linear, hub = min id)
    prod = _exact_pairs(spark, sf)
    assert prod.count() == n - 1, "expected the O(group) star encoding"
    assert prod.agg({"doc_a": "max"}).first()[0] == 0, "hub must be the group min"

    audit = lsh_recall_audit(spark, sf)
    s_pdf = audit.toPandas()
    by_class = {int(r["is_exact"]): r for _, r in s_pdf.iterrows()}
    exact = by_class[1]
    # sampled truth: C(ceil(n/4), 2) identical pairs, every one recalled
    assert exact["true_ct"] > EXACT_FP_MAX_GROUP, "sample must exceed trivial size"
    assert exact["miss_ct"] == 0, dict(exact)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    try:
        o_pdf = con.execute(ORACLE["lsh_recall_audit"]).df()
    finally:
        con.close()
    assert sorted(s_pdf.columns) == sorted(o_pdf.columns)
    assert _norm_pdf(s_pdf) == _norm_pdf(o_pdf)


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """dedup_containment_stats: a short doc whose token set sits entirely
    inside a much longer doc (the quote/excerpt shape) must surface as a
    one-way, beyond-jaccard containment pair; identical docs must read as
    mutual. Pinned engine-side AND against the brute-force DuckDB oracle
    on a synthetic corpus (ids multiples of AUDIT_MOD so the sample keeps
    them)."""
    import duckdb

    from gmall_flink_spark.queries.llm_dedup import ORACLE, dedup_containment_stats
    from tests.oracle_harness import _norm_pdf

    short = " ".join(f"w{i}" for i in range(10))
    long_ = " ".join([f"w{i}" for i in range(10)] + [f"x{i}" for i in range(90)])
    rows = [
        (0, short, "en", "src0", len(short)),       # contained in 4
        (4, long_, "en", "src0", len(long_)),       # container
        (8, "aa bb cc dd", "en", "src1", 11),       # identical pair with 12
        (12, "dd cc bb aa", "en", "src1", 11),
        (16, "zz yy", "en", "src2", 5),             # unrelated
    ]
    sf = str(tmp_path / "sf_contain")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{sf}/documents.parquet")

    s_pdf = dedup_containment_stats(spark, sf).toPandas()
    r = s_pdf.iloc[0]
    # pairs: (0,4) one-way beyond-jaccard (j=0.1), (8,12) mutual exact
    assert r["pair_ct"] == 2 and r["mutual_ct"] == 1 and r["oneway_ct"] == 1
    assert r["beyond_jaccard_ct"] == 1
    assert r["a_id_sum"] == 0 + 8 and r["b_id_sum"] == 4 + 12

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    try:
        o_pdf = con.execute(ORACLE["dedup_containment_stats"]).df()
    finally:
        con.close()
    assert _norm_pdf(s_pdf) == _norm_pdf(o_pdf)
