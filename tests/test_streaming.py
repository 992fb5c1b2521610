"""Streaming-vs-batch equivalence (SURVEY §5.3): the same transform run as
a batch query and as an incremental availableNow streaming query must agree
— the semantic contract of Structured Streaming and the basis for claiming
the reference's continuous pipelines are covered by our batch-twin oracles.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gmall_flink_spark.operators.dedup import daily_new_flags, first_per_day, keep_last
from gmall_flink_spark.operators.log_split import log_split_sinks, parse_page_log, split_log
from gmall_flink_spark.operators.windows import tumble_agg
from gmall_flink_spark.sinks.upsert import upsert_writer
from gmall_flink_spark.sources.log_synth import page_log_json
from gmall_flink_spark.sources.tables import table
from gmall_flink_spark.streaming.core import run_available_now, split_into_files, stream_table
from gmall_flink_spark.streaming.stateful import (
    first_per_day_stream,
    keep_first_stream,
    new_user_flags_stream,
)

SF = "/root/testdata/sf0.001"
TMP = "/tmp/gmall_stream_tests"


def rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


@pytest.fixture(scope="module")
def events_slices(spark):
    """events as 4 event-time-ordered files (a replayed in-order topic)."""
    out = os.path.join(TMP, "events_slices")
    split_into_files(table(spark, SF, "events"), 4, "ts", out)
    return out


def stream_from(spark, path, template):
    return spark.readStream.schema(template.schema).option("maxFilesPerTrigger", "1").parquet(path)


def test_window_agg_complete_equals_batch(spark):
    ev = table(spark, SF, "events")
    aggs = [F.count(F.lit(1)).alias("pv"), F.sum("value").alias("val_sum")]
    batch = tumble_agg(ev, "ts", "1 hour", ["event_type"], aggs)
    sdf = stream_table(spark, SF, "events")
    stream = run_available_now(
        tumble_agg(sdf, "ts", "1 hour", ["event_type"], aggs), output_mode="complete"
    )
    assert rows(batch) == rows(stream)


def test_watermark_append_emits_closed_windows(spark, events_slices):
    """W1+W4: with a watermark, append mode emits exactly the windows closed
    by the final watermark (= max event time); the tail window stays open."""
    ev = table(spark, SF, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = tumble_agg(ev, "ts", "1 hour", [], [F.count(F.lit(1)).alias("pv")])
    expected = [
        r
        for r in rows(batch, ["stt", "edt", "pv"])
        if r[1] <= max_ts.strftime("%Y-%m-%d %H:%M:%S")
    ]
    sdf = stream_from(spark, events_slices, ev).withWatermark("ts", "0 seconds")
    got = run_available_now(
        tumble_agg(sdf, "ts", "1 hour", [], [F.count(F.lit(1)).alias("pv")]),
        output_mode="append",
    )
    assert rows(got, ["stt", "edt", "pv"]) == expected


def test_session_window_stream_emits_closed_sessions(spark, events_slices):
    """Session windows (30 min gap) in streaming append mode: every emitted
    session must match the batch session agg exactly (same user, bounds,
    count); sessions still open at the final watermark are withheld."""
    ev = table(spark, SF, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("ev_ct"))
        .select("user_id", F.col("w.start").alias("stt"), F.col("w.end").alias("edt"), "ev_ct")
    )
    sdf = stream_from(spark, events_slices, ev).withWatermark("ts", "0 seconds")
    got = run_available_now(
        sdf.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("ev_ct"))
        .select("user_id", F.col("w.start").alias("stt"), F.col("w.end").alias("edt"), "ev_ct"),
        output_mode="append",
    )
    got_rows = set(rows(got))
    batch_rows = set(rows(batch))
    assert got_rows, "no sessions emitted"
    assert got_rows <= batch_rows, "streamed session not in batch result"


def test_keep_first_stream_matches_batch_keys(spark, events_slices):
    """D1/D2: dropDuplicatesWithinWatermark emits one row per key; the key
    set equals the batch first_per_day key set (first-arrival vs first-by-ts
    may pick different rows on ts ties, so keys are the contract)."""
    ev = table(spark, SF, "events").withColumn(
        "cur_date", F.date_format("ts", "yyyy-MM-dd")
    )
    batch = first_per_day(table(spark, SF, "events"), "user_id")
    sdf = stream_from(spark, events_slices, table(spark, SF, "events")).withColumn(
        "cur_date", F.date_format("ts", "yyyy-MM-dd")
    )
    got = run_available_now(
        keep_first_stream(sdf, ["user_id", "cur_date"], "ts", "1 minute")
    )
    assert rows(got, ["user_id", "cur_date"]) == rows(batch, ["user_id", "cur_date"])
    assert got.count() == batch.count()


def test_first_per_day_stream_matches_batch_keys(spark, events_slices):
    ev = table(spark, SF, "events")
    batch = first_per_day(ev, "user_id")
    sdf = stream_from(spark, events_slices, ev)
    got = run_available_now(first_per_day_stream(sdf, "user_id"))
    assert rows(got, ["user_id", "cur_date"]) == rows(batch, ["user_id", "cur_date"])


def test_run_available_now_sizes_state_partitions_to_cores(spark, events_slices):
    """A stateful availableNow query keeps one state-store partition per
    core, not one per session shuffle partition, and hands the session its
    own shuffle partition count back, also when the query times out."""
    import time

    from gmall_flink_spark.streaming import core

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    ckpts = os.path.join(core._STREAM_TMP, "ckpt")
    before = set(os.listdir(ckpts)) if os.path.isdir(ckpts) else set()
    prior = spark.conf.get(key)
    spark.conf.set(key, str(2 * cores))
    try:
        ev = table(spark, SF, "events")
        sdf = stream_from(spark, events_slices, ev)
        got = run_available_now(first_per_day_stream(sdf, "user_id"))
        assert spark.conf.get(key) == str(2 * cores)
        (ckpt,) = set(os.listdir(ckpts)) - before
        state = os.path.join(ckpts, ckpt, "state", "0")
        assert sorted(int(p) for p in os.listdir(state) if p.isdigit()) == list(range(cores))
        cols = ["user_id", "cur_date", "ts"]
        assert rows(got, cols) == rows(first_per_day(ev, "user_id"), cols)

        with pytest.raises(TimeoutError):
            run_available_now(
                stream_from(spark, events_slices, ev),
                foreach_batch=lambda df, batch_id: time.sleep(2),
                timeout_s=0.5,
            )
        assert spark.conf.get(key) == str(2 * cores)
    finally:
        spark.conf.set(key, prior)


def test_new_user_flags_stream_matches_batch(spark, events_slices):
    """D5: per-key per-day rows with the first-ever flag — exact match with
    the batch twin (output is key+date+flag, no row ambiguity)."""
    ev = table(spark, SF, "events")
    batch = daily_new_flags(ev, "user_id")
    sdf = stream_from(spark, events_slices, ev)
    got = run_available_now(new_user_flags_stream(sdf, "user_id"))
    assert rows(got) == rows(batch)


def test_upsert_sink_reaches_batch_final_state(spark, events_slices):
    """K3/K4: replaying the changelog through the foreachBatch upsert MERGE
    ends at exactly the batch keep-last state."""
    state = os.path.join(TMP, "upsert_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    ev = table(spark, SF, "events")
    sdf = stream_from(spark, events_slices, ev)
    run_available_now(
        sdf, foreach_batch=upsert_writer(state, ["user_id"], ["ts", "event_id"])
    )
    from gmall_flink_spark.sinks.upsert import read_state

    got = read_state(spark, state)
    batch = keep_last(ev, ["user_id"], ["ts", "event_id"])
    assert rows(got) == rows(batch)


def test_log_split_streaming_fanout_equals_batch(spark):
    """M1: the five-way foreachBatch fan-out writes exactly the batch split."""
    raw_dir = os.path.join(TMP, "log_raw")
    sink_dir = os.path.join(TMP, "log_sinks")
    for d in (raw_dir, sink_dir):
        if os.path.exists(d):
            shutil.rmtree(d)
    raw = page_log_json(spark, SF)
    raw.coalesce(2).write.parquet(raw_dir)
    sdf = spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", "1").parquet(raw_dir)
    run_available_now(sdf, foreach_batch=log_split_sinks(sink_dir))
    batch_splits = split_log(parse_page_log(raw))
    for name, bdf in batch_splits.items():
        got = spark.read.parquet(os.path.join(sink_dir, name))
        assert rows(got) == rows(bdf), f"split {name} diverged"


def test_topic_router_partitions_by_sink_table(spark):
    """K2: per-record dynamic routing — each sink_table lands in its own
    directory and the union of routed rows equals the input."""
    from gmall_flink_spark.sinks.upsert import topic_router

    out = os.path.join(TMP, "routed")
    if os.path.exists(out):
        shutil.rmtree(out)
    df = spark.createDataFrame(
        [(i, f"t{i % 3}") for i in range(30)], "id int, sink_table string"
    )
    topic_router(out)(df, 0)
    for t in ("t0", "t1", "t2"):
        got = spark.read.parquet(os.path.join(out, f"sink_table={t}"))
        assert sorted(r["id"] for r in got.collect()) == list(range(int(t[1]), 30, 3))


def test_day_watermark_delay_parses_units():
    """ADVICE r10 #2: the day-grain window watermark must be computed from
    the PARSED dedup_delay, not by assuming a day-denominated string —
    '2 weeks' widens to 15 days, sub-day delays round UP, and an unknown
    unit is a loud error instead of a silently-short watermark."""
    from gmall_flink_spark.streaming.pipelines import _day_watermark_delay

    assert _day_watermark_delay("3650 days") == "3651 days"
    assert _day_watermark_delay("1 day") == "2 days"
    assert _day_watermark_delay("2 weeks") == "15 days"
    assert _day_watermark_delay("36 hours") == "3 days"
    assert _day_watermark_delay("30 minutes") == "2 days"
    with pytest.raises(ValueError):
        _day_watermark_delay("2 months")
    with pytest.raises(ValueError):
        _day_watermark_delay("3650")


def test_topic_router_replay_after_publish_before_marker(spark):
    """K2 exactly-once (ADVICE r10 #3): the crash window AFTER the parquet
    publish but BEFORE the lineage marker must not duplicate on replay —
    the deterministic (lineage, batch) file tags let the replay scrub and
    re-publish the same content exactly once. Also covers the mid-publish
    crash (some files moved, marker absent)."""
    from gmall_flink_spark.sinks._bucketed import _LAST_BATCH
    from gmall_flink_spark.sinks.upsert import topic_router

    out = os.path.join(TMP, "routed_replay")
    if os.path.exists(out):
        shutil.rmtree(out)
    df = spark.createDataFrame(
        [(i, f"t{i % 3}") for i in range(30)], "id int, sink_table string"
    )
    writer = topic_router(out)
    writer(df, 0)
    once = rows(spark.read.parquet(out))

    # crash window 1: publish complete, marker lost — replay the batch
    os.remove(os.path.join(out, _LAST_BATCH))
    writer(df, 0)
    assert rows(spark.read.parquet(out)) == once

    # crash window 2: partial publish (one file missing) + no marker
    os.remove(os.path.join(out, _LAST_BATCH))
    pubs = sorted(
        os.path.join(d, n)
        for d, _, ns in os.walk(out)
        for n in ns
        if n.endswith(".parquet")
    )
    os.remove(pubs[0])
    writer(df, 0)
    assert rows(spark.read.parquet(out)) == once

    # marker present: replay is the fast-path no-op
    writer(df, 0)
    assert rows(spark.read.parquet(out)) == once


def test_topic_router_compaction_preserves_content_and_replay(spark):
    """K2 file-count growth (VERDICT r10 task 6): the append sink adds one
    file per (topic, batch); compact_topics folds PUBLISHED batches into
    one file per topic, preserving content exactly, and a replay of an
    already-marked batch after compaction is still a marker-skipped no-op
    (compaction never touches unmarked batches, so the deterministic
    scrub tags of an in-flight batch survive)."""
    import glob

    from gmall_flink_spark.sinks.upsert import compact_topics, topic_router

    out = os.path.join(TMP, "routed_compact")
    if os.path.exists(out):
        shutil.rmtree(out)
    writer = topic_router(out)
    n_batches = 6
    for b in range(n_batches):
        df = spark.createDataFrame(
            [(b * 100 + i, f"t{i % 2}") for i in range(10)],
            "id int, sink_table string",
        )
        writer(df, b)
    before = rows(spark.read.parquet(out))

    def file_ct(topic):
        return len(glob.glob(os.path.join(out, f"sink_table={topic}", "*.parquet")))

    # at least one file per batch (several when the batch has multiple
    # partitions): the unbounded growth compaction exists to stop
    assert file_ct("t0") >= n_batches
    stats = compact_topics(spark, out, max_files=2)
    assert set(stats) == {"sink_table=t0", "sink_table=t1"}
    assert file_ct("t0") == 1 and file_ct("t1") == 1
    assert rows(spark.read.parquet(out)) == before  # content preserved

    # replay of a published batch after compaction: marker fast path
    writer(
        spark.createDataFrame(
            [(0, "t0")], "id int, sink_table string"
        ),
        n_batches - 1,
    )
    assert rows(spark.read.parquet(out)) == before

    # idempotent: nothing left over max_files
    assert compact_topics(spark, out, max_files=2) == {}


def test_compact_topics_no_marker_treats_nothing_as_published(spark):
    """ADVICE r11 medium: with NO marker file, a live lineage's unmarked
    pub files must pass through the compactor untouched (previously they
    were misclassified as a dead lineage and merged, stranding the replay
    scrub — the restarted query then re-published a second copy)."""
    import glob

    from gmall_flink_spark.sinks._bucketed import _LAST_BATCH
    from gmall_flink_spark.sinks.upsert import compact_topics, topic_router

    out = os.path.join(TMP, "routed_nomarker")
    if os.path.exists(out):
        shutil.rmtree(out)
    writer = topic_router(out)
    df = spark.createDataFrame(
        [(i, "t0") for i in range(12)], "id int, sink_table string"
    )
    for b in range(4):
        writer(df.withColumn("id", df.id + b * 100), b)
    once = rows(spark.read.parquet(out))
    # simulate the crash window: batches published, marker lost entirely
    os.remove(os.path.join(out, _LAST_BATCH))
    pubs_before = sorted(
        glob.glob(os.path.join(out, "sink_table=t0", "pub-*.parquet"))
    )

    assert compact_topics(spark, out, max_files=1) == {}  # nothing eligible
    assert (
        sorted(glob.glob(os.path.join(out, "sink_table=t0", "pub-*.parquet")))
        == pubs_before
    )

    # the replay scrub still finds its tags: re-delivery lands exactly once
    for b in range(4):
        writer(df.withColumn("id", df.id + b * 100), b)
    assert rows(spark.read.parquet(out)) == once


def test_compact_topics_announce_protects_new_lineage(spark):
    """The residual window ADVICE r11's no-marker rule alone cannot close:
    an OLD marker names lineage L1; a fresh-checkpoint restart (L2)
    publishes its first batch and crashes BEFORE its marker write. The
    lineage-announce (topic_router records L2/-1 before publishing) must
    make the compactor see L2's files as live passthrough — L1's files
    stay compactable as genuinely dead."""
    import glob

    from gmall_flink_spark.sinks._bucketed import _LAST_BATCH
    from gmall_flink_spark.sinks.upsert import compact_topics, topic_router

    out = os.path.join(TMP, "routed_announce")
    if os.path.exists(out):
        shutil.rmtree(out)
    df = spark.createDataFrame(
        [(i, "t0") for i in range(12)], "id int, sink_table string"
    )
    sc = spark.sparkContext
    writer = topic_router(out)
    try:
        sc.setLocalProperty("sql.streaming.queryId", "L1")
        for b in range(3):
            writer(df.withColumn("id", df.id + b * 100), b)
        once_l1 = rows(spark.read.parquet(out))

        # fresh checkpoint: new lineage L2 publishes batch 0, crashes
        # before record_merged_batch — the announce leaves the marker at
        # (L2, -1), which is exactly what we restore after the completed
        # test write (it recorded (L2, 0))
        sc.setLocalProperty("sql.streaming.queryId", "L2")
        writer(df.withColumn("id", df.id + 900), 0)
        after_l2 = rows(spark.read.parquet(out))
        with open(os.path.join(out, _LAST_BATCH), "w") as fh:
            fh.write("L2\n-1")  # the announce is all the crash left behind

        compact_topics(spark, out, max_files=1)
        # L2's unmarked pub files survived; only dead L1 was merged
        l2_pubs = glob.glob(os.path.join(out, "sink_table=t0", "pub-L2-*.parquet"))
        assert l2_pubs, "live lineage's unmarked files were compacted"
        assert not glob.glob(
            os.path.join(out, "sink_table=t0", "pub-L1-*.parquet")
        ), "dead lineage should have been compacted"
        assert rows(spark.read.parquet(out)) == after_l2

        # L2 replays its batch: scrub finds its tags, lands exactly once
        writer(df.withColumn("id", df.id + 900), 0)
        assert rows(spark.read.parquet(out)) == after_l2
        assert sorted(after_l2) != sorted(once_l1)  # L2 rows really there
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def test_compact_topics_survives_unparseable_filename(spark):
    """ADVICE r11 low: a stray parquet whose name matches the lineage but
    has a non-numeric batch segment must be treated as unpublished
    passthrough, not abort the compaction with ValueError."""
    import glob

    from gmall_flink_spark.sinks.upsert import compact_topics, topic_router

    out = os.path.join(TMP, "routed_strayfile")
    if os.path.exists(out):
        shutil.rmtree(out)
    writer = topic_router(out)
    df = spark.createDataFrame(
        [(i, "t0") for i in range(12)], "id int, sink_table string"
    )
    for b in range(4):
        writer(df.withColumn("id", df.id + b * 100), b)
    # lineage is '' -> tag prefix 'pub-nolineage-'; craft a stray file
    # with a non-numeric batch segment under the SAME lineage
    tdir = os.path.join(out, "sink_table=t0")
    donor = sorted(glob.glob(os.path.join(tdir, "pub-*.parquet")))[0]
    stray = os.path.join(tdir, "pub-nolineage-notanumber-00000.parquet")
    shutil.copyfile(donor, stray)
    before = rows(spark.read.parquet(out))

    stats = compact_topics(spark, out, max_files=2)  # must not raise
    assert stats  # the real published files did compact
    assert os.path.exists(stray)  # stray passed through untouched
    assert rows(spark.read.parquet(out)) == before


@pytest.mark.slow
def test_components_writer_stream_equals_rebuild(spark):
    """Continuously maintained near-dup clustering: verified pair edges
    replayed in 3 micro-batches through components_writer (contracted-
    graph merge per batch, touched buckets only) must leave the persisted
    mapping equal to connected components over ALL edges — and re-merging
    a delivered batch must be a no-op (idempotence under checkpoint
    replay: already-merged edges contract to self-loops)."""
    from gmall_flink_spark.llm.dedup import connected_components
    from gmall_flink_spark.queries.llm_dedup import (
        _verified_pairs,
        components_writer,
    )
    from gmall_flink_spark.sinks._bucketed import read_state

    pairs = _verified_pairs(spark, SF).select("doc_a", "doc_b")
    slices = os.path.join(TMP, "comp_edge_slices")
    split_into_files(pairs, 3, "doc_a", slices)
    state = os.path.join(TMP, "comp_state")
    if os.path.exists(state):
        shutil.rmtree(state)

    writer = components_writer(state)
    run_available_now(stream_from(spark, slices, pairs), foreach_batch=writer)
    want = rows(connected_components(pairs))
    assert rows(read_state(spark, state)) == want and want

    # replay the whole edge set as one extra batch: no-op
    writer(pairs, 99)
    assert rows(read_state(spark, state)) == want


@pytest.mark.slow
def test_streaming_trained_unigram_equals_batch(spark):
    """Unigram-LM training over a STREAM: the word-frequency table is the
    trainer's sufficient statistic (the NB-classifier pattern — counts
    merge algebraically), so maintaining it through the rollup sink per
    micro-batch and training on the final state must equal the batch
    trainer bit-for-bit: same vocab, same counts, same ranks/costs."""
    from gmall_flink_spark.llm.unigram import unigram_train, word_counts
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    docs = table(spark, SF, "documents")
    slices = os.path.join(TMP, "unigram_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "unigram_wordcounts")
    if os.path.exists(state):
        shutil.rmtree(state)

    writer = rollup_writer(
        state,
        ["word"],
        lambda b: word_counts(b).withColumnRenamed("wcount", "w_ct"),
    )
    run_available_now(stream_from(spark, slices, docs), foreach_batch=writer)

    streamed_words = read_state(spark, state).withColumnRenamed("w_ct", "wcount")
    got = rows(unigram_train(streamed_words))
    want = rows(unigram_train(word_counts(docs)))
    assert got == want and got


@pytest.mark.slow
def test_streaming_trained_wordpiece_equals_batch(spark):
    """WordPiece training over a STREAM: like the unigram twin above, the
    frequency-weighted distinct-word frame is the trainer's sufficient
    statistic, so maintaining it through the rollup sink per micro-batch
    and training on the final state must equal the batch trainer
    bit-for-bit — same merges, same likelihood-score inputs per round."""
    from gmall_flink_spark.queries.datasel import _wp_words
    from gmall_flink_spark.llm.wordpiece import (
        WP_MAX_WORD_LEN,
        wordpiece_train_state,
    )
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer
    from gmall_flink_spark.functions.text import tokenize

    docs = table(spark, SF, "documents")
    slices = os.path.join(TMP, "wordpiece_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "wordpiece_wordcounts")
    if os.path.exists(state):
        shutil.rmtree(state)

    def batch_counts(b):
        return (
            b.select(F.explode(tokenize("text")).alias("word"))
            .where(F.length("word") <= WP_MAX_WORD_LEN)
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("w_ct"))
        )

    writer = rollup_writer(state, ["word"], batch_counts)
    run_available_now(stream_from(spark, slices, docs), foreach_batch=writer)

    streamed = read_state(spark, state).withColumnRenamed("w_ct", "wcount")
    got = rows(wordpiece_train_state(streamed)[0])
    want = rows(wordpiece_train_state(_wp_words(spark, SF))[0])
    assert got == want and got


def test_compact_topics_heals_crashed_swap(spark):
    """compact_topics crash window: a crash between the move-aside and the
    install leaves `<topic>.__old__` present and the live dir missing; the
    next call must restore the aside copy before doing anything else (the
    swap_buckets recovery discipline), so no rows are ever lost."""
    from gmall_flink_spark.sinks.upsert import compact_topics, topic_router

    out = os.path.join(TMP, "routed_heal")
    if os.path.exists(out):
        shutil.rmtree(out)
    writer = topic_router(out)
    for b in range(3):
        writer(
            spark.createDataFrame(
                [(b * 10 + i, "t0") for i in range(5)],
                "id int, sink_table string",
            ),
            b,
        )
    before = rows(spark.read.parquet(out))
    # simulate the crash: live dir moved aside, install never happened
    live = os.path.join(out, "sink_table=t0")
    os.replace(live, live + ".__old__")
    # plus an orphaned staging dir from a crashed publish: swept, and its
    # contents never enter the table
    orphan = os.path.join(out, "__stage_deadbeef")
    os.makedirs(orphan)
    compact_topics(spark, out, max_files=1)
    assert rows(spark.read.parquet(out)) == before
    assert os.path.exists(live) and not os.path.exists(live + ".__old__")
    assert not os.path.exists(orphan)


@pytest.mark.slow
def test_rollup_sink_file_count_bounded_across_batches(spark):
    """The MERGE sink family does NOT need compaction: swap_buckets
    REWRITES each touched bucket per batch, so a bucket's file count is
    bounded by write parallelism, not by how many batches ever merged —
    pinned here so the append-vs-merge file-growth distinction (SCALE.md
    r11) stays true in code."""
    import glob

    from gmall_flink_spark.sinks.rollup import merge_rollup, read_state

    state = os.path.join(TMP, "rollup_filecount")
    if os.path.exists(state):
        shutil.rmtree(state)
    n_batches = 6
    counts = []
    for b in range(n_batches):
        df = spark.createDataFrame(
            [(f"k{i}", 1) for i in range(8)], "k string, v_ct bigint"
        )
        merge_rollup(state, df, ["k"], n_buckets=4)
        counts.append(len(glob.glob(os.path.join(state, "__bucket=*", "*.parquet"))))
    assert counts[-1] <= counts[0] + 4, f"file counts grew with batches: {counts}"
    got = {r["k"]: r["v_ct"] for r in read_state(spark, state).collect()}
    assert got == {f"k{i}": n_batches for i in range(8)}


@pytest.mark.slow
def test_interval_join_stream_equals_batch(spark, events_slices):
    """J5: stream-stream event-time interval join (the pay-suc join shape,
    DwdTradePayDetailSuc.java:100-127) — watermarked streaming inner join
    over in-order replay equals the batch join."""
    ev = table(spark, SF, "events")

    def sides(df):
        a = df.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("u"), F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_id"),
        )
        b = df.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("u2"), F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
        return a, b

    cond = (
        "u = u2 AND b_ts >= a_ts AND b_ts <= a_ts + interval 1 hour"
    )
    ba, bb = sides(ev)
    batch = ba.join(bb, F.expr(cond)).select("u", "a_id", "b_id")

    sa, sb = sides(stream_from(spark, events_slices, ev))
    got = run_available_now(
        sa.withWatermark("a_ts", "0 seconds")
        .join(sb.withWatermark("b_ts", "0 seconds"), F.expr(cond))
        .select("u", "a_id", "b_id")
    )
    assert rows(got) == rows(batch)


@pytest.mark.parametrize("state_store", [None, "rocksdb", "rocksdb_changelog"])
def test_returning_flags_stream_matches_batch(spark, events_slices, state_store):
    """D6: 7-day returning-user flags — streaming state machine equals the
    batch lag() twin under in-order replay. The 'rocksdb' variant (VERDICT
    r10 task 1) proves the CUSTOM applyInPandasWithState operator family
    runs identically under RocksDBStateStoreProvider — the off-heap state
    posture the per-user last-active-day map needs at 100× keys. The
    'rocksdb_changelog' variant additionally enables changelog
    checkpointing (checkpoint cost ∝ per-batch state delta, not snapshot
    — the large-state/small-churn knob), asserting the answer is
    provider- AND checkpoint-mode-invariant."""
    from gmall_flink_spark.operators.dedup import returning_flags
    from gmall_flink_spark.streaming.stateful import returning_flags_stream

    ev = table(spark, SF, "events")
    batch = returning_flags(ev, "user_id", "ts", gap_days=7)
    sdf = stream_from(spark, events_slices, ev)
    got = run_available_now(
        returning_flags_stream(sdf, "user_id", gap_days=7), state_store=state_store
    )
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_config_route_streaming_foreachbatch(spark):
    """J6 streaming: config re-read + broadcast-routed per micro-batch, fanned
    out by sink_table (the DimApp/DwdBaseApp loop) — equals the batch route."""
    from gmall_flink_spark.operators.cdc import drop_bootstrap, route_with_config
    from gmall_flink_spark.queries.cdc import _config_df
    from gmall_flink_spark.sinks.upsert import topic_router
    from gmall_flink_spark.sources.cdc_synth import topic_db_envelope

    out = os.path.join(TMP, "route_sinks")
    if os.path.exists(out):
        shutil.rmtree(out)
    env = topic_db_envelope(spark, SF)
    env_dir = os.path.join(TMP, "topic_db_env")
    if not os.path.exists(env_dir):
        env.write.parquet(env_dir)

    def route(batch_df, batch_id):
        routed = route_with_config(drop_bootstrap(batch_df), _config_df(spark))
        routed.select(
            "sink_table", F.element_at("data_pruned", "id").alias("id")
        ).write.mode("append").partitionBy("sink_table").parquet(out)

    sdf = spark.readStream.schema(env.schema).option("maxFilesPerTrigger", "1").parquet(env_dir)
    run_available_now(sdf, foreach_batch=route)

    got = spark.read.parquet(out).select("sink_table", "id")
    batch = route_with_config(drop_bootstrap(env), _config_df(spark)).select(
        "sink_table", F.element_at("data_pruned", "id").alias("id")
    )
    assert rows(got) == rows(batch)


def test_is_new_repair_stream_matches_batch(spark, events_slices):
    """D8: is_new repair — keyed first-seen state equals the batch
    min-day-over-key twin under in-order replay."""
    from gmall_flink_spark.operators.dedup import repair_is_new
    from gmall_flink_spark.streaming.stateful import is_new_repair_stream

    claimed = (F.col("event_id") % 5 == 0).cast("int")
    ev = table(spark, SF, "events").withColumn("claimed", claimed)
    batch = repair_is_new(ev, "user_id", "ts", F.col("claimed"))
    sdf = stream_from(spark, events_slices, table(spark, SF, "events")).withColumn(
        "claimed", claimed
    )
    got = run_available_now(is_new_repair_stream(sdf, "user_id", "ts", "claimed"))
    cols = ["event_id", "is_new_fixed"]
    assert rows(got, cols) == rows(batch, cols)


def test_checkpoint_resume_no_duplicates(spark):
    """W11 exactly-once: stop after the first files, restart from the SAME
    checkpoint with more files present — the append sink sees every row
    exactly once."""
    src = os.path.join(TMP, "ckpt_src")
    sink = os.path.join(TMP, "ckpt_sink")
    ckpt = os.path.join(TMP, "ckpt_state")
    for d in (src, sink, ckpt):
        if os.path.exists(d):
            shutil.rmtree(d)
    os.makedirs(src)
    ev = table(spark, SF, "events").select("event_id", "user_id")

    def write_slice(i, lo, hi):
        part = ev.where((F.col("event_id") % 4 >= lo) & (F.col("event_id") % 4 < hi))
        tmp = os.path.join(src, f"_t{i}")
        part.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        os.replace(os.path.join(tmp, f), os.path.join(src, f"s{i}.parquet"))
        shutil.rmtree(tmp)

    def run_once():
        sdf = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_slice(1, 0, 2)
    run_once()
    write_slice(2, 2, 4)
    run_once()

    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    want = sorted(r["event_id"] for r in ev.collect())
    assert got == want


def test_dws_window_pipeline_stream_equals_batch(spark, events_slices):
    """Composite DWS pipeline in streaming: D4-style dedup keys + windowed
    counters over the replayed stream (complete mode) equals the batch
    composition — the full DWS shape, not just single operators."""
    from gmall_flink_spark.operators.dedup import first_per_day

    ev = table(spark, SF, "events")
    batch_first = first_per_day(ev, "user_id").select("user_id", "cur_date")
    batch = (
        batch_first.groupBy("cur_date")
        .agg(F.count(F.lit(1)).alias("uu_ct"))
    )
    sdf = stream_from(spark, events_slices, ev)
    stream = run_available_now(
        first_per_day_stream(sdf, "user_id")
        .groupBy("cur_date")
        .agg(F.count(F.lit(1)).alias("uu_ct")),
        output_mode="complete",
    )
    assert rows(stream) == rows(batch)


@pytest.mark.slow
def test_left_outer_stream_join_null_padding(spark, events_slices):
    """J2 streaming: left-outer stream-stream join emits matched pairs
    immediately and null-padded rows once the watermark closes the join
    window (no retractions — cleaner than the reference's changelog storm,
    SURVEY §2.4 J2). Expected = batch inner part + batch-unmatched lefts
    whose window closed before the final watermark."""
    ev = table(spark, SF, "events")

    def sides(df):
        a = df.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("u"), F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_id"),
        )
        b = df.where(F.col("event_type") == "signup").select(
            F.col("user_id").alias("u2"), F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_id"),
        )
        return a, b

    cond = "u = u2 AND b_ts >= a_ts AND b_ts <= a_ts + interval 1 hour"
    ba, bb = sides(ev)
    batch = [
        (r["u"], r["a_id"], r["b_id"], r["a_ts"])
        for r in ba.join(bb, F.expr(cond), "left").select("u", "a_id", "b_id", "a_ts").collect()
    ]
    matched = {(u, a, b) for u, a, b, _ in batch if b is not None}
    all_rows = {(u, a, b) for u, a, b, _ in batch}
    # null emission uses the watermark as of the last *data-advancing* batch
    # (the final slice's rows haven't raised it yet), so the guaranteed
    # bound is the max event time of the first n-1 slices
    import glob as _glob

    penult = spark.read.parquet(
        *sorted(_glob.glob(os.path.join(events_slices, "slice-*.parquet")))[:-1]
    ).agg(F.max("ts")).collect()[0][0]
    must_nulls = {
        (u, a, None)
        for u, a, b, a_ts in batch
        if b is None and a_ts.timestamp() + 3600 < penult.timestamp() - 1
    }

    sa, sb = sides(stream_from(spark, events_slices, ev))
    got = {
        tuple(r)
        for r in run_available_now(
            sa.withWatermark("a_ts", "0 seconds")
            .join(sb.withWatermark("b_ts", "0 seconds"), F.expr(cond), "leftOuter")
            .select("u", "a_id", "b_id")
        ).collect()
    }
    assert matched <= got          # every true pair emitted, no retractions
    assert must_nulls <= got       # closed windows null-padded
    assert got <= all_rows         # nothing fabricated


def test_incremental_rollup_equals_full_recompute(spark, events_slices):
    """Continuous-aggregate maintenance: merging per-batch partials into the
    rollup table ends exactly at the full-recompute aggregate (algebraic
    merge: count/sum/min/max)."""
    from gmall_flink_spark.sinks.rollup import rollup_writer

    state = os.path.join(TMP, "rollup_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    ev = table(spark, SF, "events")

    def partial(df):
        return df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("ev_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
            F.min("event_id").alias("eid_min"),
            F.max("event_id").alias("eid_max"),
        )

    sdf = stream_from(spark, events_slices, ev)
    from gmall_flink_spark.sinks.rollup import read_state

    run_available_now(sdf, foreach_batch=rollup_writer(state, ["day", "event_type"], partial))
    got = read_state(spark, state)
    batch = partial(ev)
    assert rows(got) == rows(batch)


def test_stateful_resume_across_restart(spark, events_slices):
    """W11 + D4: a stateful query stopped after half the input and restarted
    from the SAME checkpoint keeps its keyed state — the union of both runs'
    emissions equals the one-shot batch key set, with no re-emissions."""
    import glob as _glob

    src = os.path.join(TMP, "resume_src")
    sink = os.path.join(TMP, "resume_sink")
    ckpt = os.path.join(TMP, "resume_ckpt")
    for d in (src, sink, ckpt):
        if os.path.exists(d):
            shutil.rmtree(d)
    os.makedirs(src)
    ev = table(spark, SF, "events")
    slices = sorted(_glob.glob(os.path.join(events_slices, "slice-*.parquet")))

    def run_phase():
        sdf = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = (
            first_per_day_stream(sdf, "user_id")
            .select("user_id", "cur_date")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    for f in slices[:2]:
        shutil.copy(f, src)
    run_phase()
    for f in slices[2:]:
        shutil.copy(f, src)
    run_phase()

    got = spark.read.parquet(sink)
    batch = first_per_day(ev, "user_id")
    assert rows(got, ["user_id", "cur_date"]) == rows(batch, ["user_id", "cur_date"])


def test_stateful_resume_rocksdb_changelog(spark, events_slices):
    """W11 under RocksDB CHANGELOG checkpointing: the restart path is
    where the mode differs from snapshot checkpointing — state is
    reconstructed by REPLAYING .changelog files over the last uploaded
    snapshot, so a stop/restart across it is the real proof. Same
    stop-halfway/restart shape as test_stateful_resume_across_restart,
    with the provider + changelog conf pinned for both phases; also
    asserts .changelog files actually appeared in the checkpoint (the
    mode was active, not silently ignored by the provider)."""
    import glob as _glob

    from gmall_flink_spark.session import STATE_STORE_PROVIDERS

    src = os.path.join(TMP, "clog_resume_src")
    sink = os.path.join(TMP, "clog_resume_sink")
    ckpt = os.path.join(TMP, "clog_resume_ckpt")
    for d in (src, sink, ckpt):
        if os.path.exists(d):
            shutil.rmtree(d)
    os.makedirs(src)
    ev = table(spark, SF, "events")
    slices = sorted(_glob.glob(os.path.join(events_slices, "slice-*.parquet")))

    _PK = "spark.sql.streaming.stateStore.providerClass"
    _CK = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prior_p, prior_c = spark.conf.get(_PK, None), spark.conf.get(_CK, None)
    spark.conf.set(_PK, STATE_STORE_PROVIDERS["rocksdb"])
    spark.conf.set(_CK, "true")
    try:

        def run_phase():
            sdf = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            q = (
                first_per_day_stream(sdf, "user_id")
                .select("user_id", "cur_date")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        for f in slices[:2]:
            shutil.copy(f, src)
        run_phase()
        for f in slices[2:]:
            shutil.copy(f, src)
        run_phase()
    finally:
        for key, prior in ((_PK, prior_p), (_CK, prior_c)):
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)

    changelogs = _glob.glob(
        os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
    )
    assert changelogs, "changelog checkpointing produced no .changelog files"
    got = spark.read.parquet(sink)
    batch = first_per_day(ev, "user_id")
    assert rows(got, ["user_id", "cur_date"]) == rows(batch, ["user_id", "cur_date"])


@pytest.mark.slow
def test_keep_last_timer_stream_matches_batch(spark, events_slices):
    """D3/W8: timer-based keep-last — ValueState + event-time timer at
    last_ts + 5s (the reference's DwsLeftJoinDuplication03Last semantics).
    Two heartbeat files an hour past max(ts) advance the watermark so every
    real key's timer fires; the emitted rows must equal the batch keep_last
    state exactly."""
    import glob as _glob

    from gmall_flink_spark.streaming.stateful import keep_last_timer_stream

    ev = table(spark, SF, "events")
    src = os.path.join(TMP, "keep_last_timer_src")
    if os.path.exists(src):
        shutil.rmtree(src)
    shutil.copytree(events_slices, src)
    base = max(os.path.getmtime(p) for p in _glob.glob(os.path.join(src, "*.parquet")))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for i in (1, 2):
        beat = spark.createDataFrame(
            [(-i, max_ts + __import__("datetime").timedelta(hours=i), -1, "heartbeat", 0.0, "{}")],
            schema=ev.schema,
        )
        tmp = os.path.join(TMP, f"beat_{i}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        beat.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"zzz-beat-{i}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (base + 10 + i, base + 10 + i))
        shutil.rmtree(tmp)

    sdf = stream_from(spark, src, ev)
    got = run_available_now(
        keep_last_timer_stream(sdf, ["user_id"], "ts", delay="5 seconds")
    ).where(F.col("user_id") >= 0)
    batch = keep_last(ev, ["user_id"], ["ts", "event_id"])
    assert rows(got) == rows(batch)


def test_hash_sample_stream_equals_batch(spark):
    """Deterministic hash sampling is stateless → identical row set whether
    applied to the batch table or a replayed stream (the property that makes
    it safe for versioned dataset cuts in a streaming ingest)."""
    from gmall_flink_spark.llm.corpus import hash_sample
    from gmall_flink_spark.streaming.core import stream_table

    docs = table(spark, SF, "documents")
    batch = hash_sample(docs, F.col("doc_id"), pct=5)
    sdf = hash_sample(stream_table(spark, SF, "documents"), F.col("doc_id"), pct=5)
    got = run_available_now(sdf.select("doc_id"))
    assert rows(got) == rows(batch.select("doc_id"))


@pytest.mark.slow
def test_streaming_clean_corpus_equals_batch_keep_set(spark):
    """The streaming clean-corpus ingest (quality -> decontaminate ->
    cross-batch dedup, plans/clean_corpus_stream.py) replayed over 3
    micro-batches must keep exactly the docs the batch pipeline keeps."""
    from gmall_flink_spark.functions.text import fingerprint
    from gmall_flink_spark.llm.dedup import word_shingles
    from gmall_flink_spark.operators.dedup import keep_first
    from gmall_flink_spark.plans.clean_corpus_stream import (
        clean_corpus_writer,
        quality_keep,
    )
    from gmall_flink_spark.sinks.dedup_sink import read_state

    docs = table(spark, SF, "documents")
    bench_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bench_sh = word_shingles(bench_docs, n=5)

    slices = os.path.join(TMP, "clean_corpus_slices")
    split_into_files(corpus, 3, "doc_id", slices)
    state = os.path.join(TMP, "clean_corpus_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, corpus)
    run_available_now(sdf, foreach_batch=clean_corpus_writer(state, bench_sh))

    q = quality_keep(corpus)
    contaminated = (
        word_shingles(q, n=5)
        .join(bench_sh.select("shingle").distinct(), "shingle")
        .select("doc_id")
        .distinct()
    )
    from gmall_flink_spark.functions.text import tokenize as _tokenize

    survivors = q.join(contaminated, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        fingerprint("text", prefix_tokens=8).alias("fp"),
        F.size(_tokenize("text")).cast("bigint").alias("tok"),
    )
    batch = keep_first(survivors, ["fp"], ["doc_id"])
    assert rows(read_state(spark, state)) == rows(batch)


@pytest.mark.slow
def test_streaming_corpus_build_card_equals_batch(spark):
    """The epoch sign-off as CONTINUOUSLY MAINTAINED state: documents
    stream through the clean-corpus ingest (quality → decontaminate →
    cross-batch dedup, plus the per-source totals rollup) and the card
    derived from the two states must equal the batch llm_corpus_build
    EXACTLY — same keep set, same token mass, same temperature-mix
    allocations, same shard spread and membership checksums (the mix
    arithmetic is literally the shared corpus_mix_report). The stream is
    fed RAW documents (benchmark slice included): the writer's own
    BENCH_MOD exclusion must make the denominators agree by construction
    (ADVICE r10 #4), not a pre-filtered fixture."""
    from gmall_flink_spark.llm.dedup import word_shingles
    from gmall_flink_spark.plans.clean_corpus_stream import (
        clean_corpus_writer,
        corpus_build_card,
    )
    from gmall_flink_spark.queries.llm_pipeline import BENCH_MOD
    from gmall_flink_spark.registry import all_queries

    docs = table(spark, SF, "documents")
    bench_docs = docs.where(F.col("doc_id") % BENCH_MOD == 0)
    bench_sh = word_shingles(bench_docs, n=5)

    slices = os.path.join(TMP, "cbuild_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "cbuild_state")
    totals = os.path.join(TMP, "cbuild_totals")
    for p in (state, totals):
        if os.path.exists(p):
            shutil.rmtree(p)
    sdf = stream_from(spark, slices, docs)
    run_available_now(
        sdf, foreach_batch=clean_corpus_writer(state, bench_sh, totals_path=totals)
    )
    got = corpus_build_card(spark, state, totals)
    batch = all_queries()["llm_corpus_build"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_streaming_span_scrub_equals_batch_scrub(spark):
    """The SPAN-LEVEL scrub inside the streaming clean-corpus writer
    (VERDICT r12 task 4): hit documents are kept with exactly the
    benchmark-covered token positions removed from their carried mass —
    the arithmetic is the shared covered_positions kernel, so the final
    dedup-sink state must equal the batch composition (quality → span
    scrub → keep-first) ROW FOR ROW, token totals included. The shingle
    dictionary includes n-grams lifted from known quality-kept docs so
    the scrub provably fires (the gate corpus alone has one marginal
    hit; a vacuous pass is not accepted)."""
    from gmall_flink_spark.functions.text import fingerprint, tokenize
    from gmall_flink_spark.llm.dedup import word_shingles
    from gmall_flink_spark.operators.dedup import keep_first
    from gmall_flink_spark.plans.clean_corpus_stream import (
        clean_corpus_writer,
        quality_keep,
    )
    from gmall_flink_spark.queries.llm_pipeline import (
        BENCH_MOD,
        NGRAM_N,
        covered_positions,
    )
    from gmall_flink_spark.sinks.dedup_sink import read_state

    docs = table(spark, SF, "documents")
    corpus = docs.where(F.col("doc_id") % BENCH_MOD != 0)
    q = quality_keep(corpus)

    # dictionary = the real benchmark slice's shingles + one leading
    # NGRAM_N-gram lifted from each of three quality-kept docs
    # (deterministic pick, collected to literals so every stream batch
    # sees the identical dictionary)
    lifted = [
        (r["sh"],)
        for r in q.select(tokenize("text").alias("toks"))
        .where(F.size("toks") >= NGRAM_N)
        .select(F.concat_ws(" ", F.slice("toks", 1, NGRAM_N)).alias("sh"))
        .orderBy("sh")
        .limit(3)
        .collect()
    ]
    bench_sh = (
        word_shingles(docs.where(F.col("doc_id") % BENCH_MOD == 0), n=NGRAM_N)
        .select("shingle")
        .unionByName(spark.createDataFrame(lifted, "shingle string"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    slices = os.path.join(TMP, "scrub_slices")
    split_into_files(docs, 3, "doc_id", slices)  # RAW feed, bench included
    state = os.path.join(TMP, "scrub_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    run_available_now(
        stream_from(spark, slices, docs),
        foreach_batch=clean_corpus_writer(state, bench_sh, scrub_spans=True),
    )
    got = rows(read_state(spark, state).select("doc_id", "source", "tok"))

    # batch twin from the same public pieces
    toked = q.select("doc_id", "source", "text", tokenize("text").alias("toks"))
    cut = (
        covered_positions(toked, bench_sh)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cut"))
    )
    per_doc = toked.join(cut, "doc_id", "left").select(
        "doc_id",
        "source",
        fingerprint("text", prefix_tokens=8).alias("fp"),
        (F.size("toks") - F.coalesce("cut", F.lit(0))).cast("bigint").alias("tok"),
        F.size("toks").cast("bigint").alias("raw_tok"),
    )
    want = keep_first(per_doc, ["fp"], ["doc_id"])
    assert got == rows(want.select("doc_id", "source", "tok")) and got
    # non-vacuous: kept docs actually lost tokens to the scrub
    assert want.where(F.col("tok") < F.col("raw_tok")).count() >= 1


@pytest.mark.slow
def test_cross_batch_dedup_sink_equals_batch_keep_first(spark):
    """Streaming corpus exact-dedup: replay documents in 3 micro-batches
    through the bucketed seen-fingerprint sink; the final survivor set must
    equal batch keep_first on the fingerprint (first doc_id owns it)."""
    from gmall_flink_spark.functions.text import fingerprint
    from gmall_flink_spark.operators.dedup import keep_first
    from gmall_flink_spark.sinks.dedup_sink import dedup_writer, read_state

    docs = table(spark, SF, "documents").select(
        "doc_id", fingerprint("text", prefix_tokens=8).alias("fp")
    )
    slices = os.path.join(TMP, "doc_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "dedup_sink_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, docs)
    run_available_now(sdf, foreach_batch=dedup_writer(state, "fp", ["doc_id"]))
    batch = keep_first(docs, ["fp"], ["doc_id"])
    assert rows(read_state(spark, state)) == rows(batch)


@pytest.mark.slow
def test_supervised_restart_recovers_from_transient_failure(spark, events_slices):
    """W12 fixed-delay restart: a foreachBatch sink that fails once (transient)
    is restarted from the same checkpoint and converges to the batch twin with
    no duplicates (W11 resume) — the Flink fixedDelayRestart twin
    (app/lab/DimAndDwdApp.java:51)."""
    from gmall_flink_spark.sinks.upsert import read_state, upsert_writer
    from gmall_flink_spark.streaming.supervise import run_supervised

    ev = table(spark, SF, "events")
    state = os.path.join(TMP, "supervised_state")
    ckpt = os.path.join(TMP, "supervised_ckpt")
    marker = os.path.join(TMP, "supervised_fail_once")
    for p in (state, ckpt):
        if os.path.exists(p):
            shutil.rmtree(p)
    if os.path.exists(marker):
        os.remove(marker)

    inner = upsert_writer(state, ["user_id"], ["ts", "event_id"])

    def flaky(batch_df, batch_id):
        if batch_id == 1 and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("transient sink failure")
        inner(batch_df, batch_id)

    restarts = run_supervised(
        lambda: stream_from(spark, events_slices, ev), flaky, ckpt, max_restarts=3
    )
    assert restarts == 1
    batch = keep_last(ev, ["user_id"], ["ts", "event_id"])
    assert rows(read_state(spark, state)) == rows(batch)


def test_upsert_rejects_mismatched_bucket_count(spark):
    """Merging into state created with a different n_buckets must fail loudly
    (keys would scatter across wrong bucket dirs and duplicate silently)."""
    import pytest

    from gmall_flink_spark.sinks.upsert import upsert_into

    state = os.path.join(TMP, "bucketed_upsert_meta")
    if os.path.exists(state):
        shutil.rmtree(state)
    ev = table(spark, SF, "events").limit(10)
    upsert_into(state, ev, ["user_id"], ["ts", "event_id"], n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=16"):
        upsert_into(state, ev, ["user_id"], ["ts", "event_id"], n_buckets=8)


def test_upsert_rewrites_only_touched_buckets(spark):
    """Bucketed-state contract: a batch containing one key rewrites only
    that key's bucket directory, as one parquet file; every other bucket's
    files (paths + bytes) are untouched — per-batch I/O tracks the batch,
    not total state. The merge into existing state is one hash exchange
    and no eager count: its job count is pinned."""
    from gmall_flink_spark.sinks.upsert import read_state, upsert_into

    state = os.path.join(TMP, "bucketed_upsert_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    ev = table(spark, SF, "events")
    upsert_into(state, ev, ["user_id"], ["ts", "event_id"])

    def snapshot():
        out = {}
        for b in os.listdir(state):
            d = os.path.join(state, b)
            if os.path.isdir(d):
                out[b] = sorted(
                    (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
                    for f in os.listdir(d)
                )
        return out

    def parquet_files(bucket_files):
        return [f for f, _, _ in bucket_files if f.endswith(".parquet")]

    before = snapshot()
    assert len(before) > 1, "expected multiple bucket dirs"
    assert all(len(parquet_files(fs)) == 1 for fs in before.values()), before
    one = ev.orderBy("user_id", "ts", "event_id").limit(1)
    sc = spark.sparkContext
    sc.setJobGroup("upsert_one", "one-row upsert into existing state")
    try:
        upsert_into(state, one, ["user_id"], ["ts", "event_id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the touched-bucket collect (which fills the pinned batch: map stage +
    # result) and the clustered write (map stage + write) — the per-stage
    # jobs of adaptive execution. The prior state is read with its
    # recorded schema, so no schema-inference job runs.
    assert len(sc.statusTracker().getJobIdsForGroup("upsert_one")) == 4
    after = snapshot()
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1, f"expected 1 touched bucket, got {changed}"
    assert len(parquet_files(after[changed[0]])) == 1
    # and the merge is still correct
    batch = keep_last(ev, ["user_id"], ["ts", "event_id"])
    assert rows(read_state(spark, state)) == rows(batch)


@pytest.mark.slow
def test_scd2_sink_equals_batch_history(spark):
    """Incremental SCD2: replay a changelog in 3 micro-batches through the
    bucketed history sink; the final table must equal the batch
    scd2_versions over the whole changelog (versions renumbered and
    valid_to re-closed as later versions arrive across batches)."""
    from gmall_flink_spark.operators.scd2 import scd2_versions
    from gmall_flink_spark.sinks.scd2 import read_state, scd2_writer

    changelog = (
        table(spark, SF, "lineitem")
        .where(F.col("l_partkey") % 5 == 0)
        .select(
            F.col("l_partkey").alias("sku_id"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
            F.col("l_quantity").cast("bigint").alias("sku_num"),
            F.col("l_shipdate").cast("timestamp").cast("long").alias("ts"),
        )
    )
    slices = os.path.join(TMP, "scd2_slices")
    split_into_files(changelog, 3, "id", slices)
    state = os.path.join(TMP, "scd2_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, changelog)
    run_available_now(
        sdf, foreach_batch=scd2_writer(state, "sku_id", ["ts", "id"], "ts")
    )
    batch = scd2_versions(changelog, "sku_id", ["ts", "id"], "ts")
    assert rows(read_state(spark, state)) == rows(batch)


@pytest.mark.slow
def test_burst_alert_stream_matches_batch(spark, events_slices):
    """CEP-style burst detection: the streaming twin (last-two-event-times
    state) over replayed in-order slices must emit exactly the batch lag(2)
    window query's alerts."""
    from gmall_flink_spark.queries.windows import BURST_WINDOW_US, events_burst_alert
    from gmall_flink_spark.streaming.stateful import burst_alert_stream

    batch = events_burst_alert(spark, SF)
    ev = table(spark, SF, "events")
    sdf = (
        stream_from(spark, events_slices, ev)
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("us"))
    )
    got = run_available_now(
        burst_alert_stream(
            sdf, ["user_id", "event_type"], window_us=BURST_WINDOW_US
        )
    )
    cols = ["user_id", "event_type", "event_id", "span_us"]
    assert rows(got.select(*cols), cols) == rows(batch, cols)


def test_kmv_sink_estimates_equal_batch_sketch(spark, events_slices):
    """Mergeability pin: the KMV sketch maintained incrementally across
    replayed micro-batches must yield EXACTLY the batch query's estimates —
    min-k of a union is insensitive to batching."""
    from gmall_flink_spark.queries.dedup import uv_daily_kmv
    from gmall_flink_spark.sinks.kmv_sink import kmv_estimates, kmv_writer

    ev = table(spark, SF, "events")
    state = os.path.join(TMP, "kmv_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, events_slices, ev).select(
        F.date_format("ts", "yyyy-MM-dd").alias("cur_date"), "user_id"
    )
    run_available_now(sdf, foreach_batch=kmv_writer(state, "cur_date", "user_id"))
    got = kmv_estimates(spark, state, "cur_date")
    batch = uv_daily_kmv(spark, SF).select("cur_date", "kmv_ct")
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_lsh_index_sink_equals_batch_bands_and_candidates(spark):
    """Streaming near-dup index: replay documents in 3 micro-batches through
    the LSH band-index sink; the accumulated index must equal the batch band
    frame EXACTLY, and the candidate view over the state must equal the
    batch lsh_candidates with the same degenerate-bucket cap."""
    from gmall_flink_spark.llm.dedup import (
        distinct_tokens,
        lsh_bands,
        lsh_candidates,
        minhash_signatures,
    )
    from gmall_flink_spark.sinks.lsh_sink import lsh_index_writer, lsh_state_candidates
    from gmall_flink_spark.sinks._bucketed import read_state

    docs = table(spark, SF, "documents")
    slices = os.path.join(TMP, "lsh_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "lsh_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, docs)
    run_available_now(sdf, foreach_batch=lsh_index_writer(state))

    batch_bands = lsh_bands(minhash_signatures(distinct_tokens(docs), k=12), 3)
    assert rows(read_state(spark, state)) == rows(batch_bands)
    got = lsh_state_candidates(spark, state, max_bucket=50)
    want = lsh_candidates(batch_bands, max_bucket=50)
    assert rows(got) == rows(want)


@pytest.mark.slow
def test_ivf_index_sink_equals_batch_assign(spark):
    """Streaming IVF maintenance: replay embeddings in 3 micro-batches
    through the cluster-bucketed assignment sink; the accumulated index
    must equal batch ivf_assign over the full table."""
    from gmall_flink_spark.llm.similarity import ivf_assign, prep
    from gmall_flink_spark.sinks.ivf_sink import ivf_index_assignments, ivf_index_writer

    emb = prep(table(spark, SF, "embeddings"))
    cents = emb.where(F.col("vec_id") < 10)
    slices = os.path.join(TMP, "ivf_slices")
    split_into_files(emb, 3, "vec_id", slices)
    state = os.path.join(TMP, "ivf_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, emb)
    run_available_now(sdf, foreach_batch=ivf_index_writer(state, cents))

    got = ivf_index_assignments(spark, state)
    want = ivf_assign(emb, cents).select("vec_id", "cluster")
    assert rows(got) == rows(want)


def test_transition_stream_matches_batch(spark, events_slices):
    """Path analysis: aggregating the streaming twin's per-arrival
    transition edges (last-event-type state) must reproduce the batch
    lead() transition matrix exactly."""
    from gmall_flink_spark.queries.analytic import events_transition_matrix
    from gmall_flink_spark.streaming.stateful import transition_stream

    batch = events_transition_matrix(spark, SF)
    ev = table(spark, SF, "events")
    sdf = stream_from(spark, events_slices, ev).select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    edges = run_available_now(transition_stream(sdf, "user_id"))
    got = (
        edges.groupBy("from_type", "to_type")
        .agg(
            F.count(F.lit(1)).alias("trans_ct"),
            F.countDistinct("user_id").alias("user_ct"),
        )
        .orderBy("from_type", "to_type")
    )
    assert rows(got) == rows(batch)


def test_stateful_twins_survive_arrow_chunk_splitting(spark, events_slices):
    """Regression pin for the cross-chunk ordering fix: with Arrow batches
    capped at 7 rows, a group's micro-batch arrives as many chunks in
    arbitrary relative order — the twins must still equal their batch
    forms (they concat + sort once instead of trusting chunk order)."""
    from gmall_flink_spark.queries.analytic import events_transition_matrix
    from gmall_flink_spark.streaming.stateful import transition_stream

    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        batch = events_transition_matrix(spark, SF)
        ev = table(spark, SF, "events")
        sdf = stream_from(spark, events_slices, ev).select(
            "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
        )
        edges = run_available_now(transition_stream(sdf, "user_id"))
        got = (
            edges.groupBy("from_type", "to_type")
            .agg(
                F.count(F.lit(1)).alias("trans_ct"),
                F.countDistinct("user_id").alias("user_ct"),
            )
            .orderBy("from_type", "to_type")
        )
        assert rows(got) == rows(batch)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", before)


@pytest.mark.slow
def test_watermark_drops_late_rows_observably(spark, tmp_path):
    """W10: rows older than the watermark are DROPPED by the stateful dedup
    operator, observable in StreamingQueryProgress
    (numRowsDroppedByWatermark) — the ops counter a production pipeline
    alerts on. Needs real sequential triggers: Trigger.AvailableNow plans
    every batch's offsets (and watermark metadata) at query start, so a
    whole-replay run never advances the filter watermark mid-run and drops
    nothing — the same reason the availableNow equivalence harness can
    replay history without losing it."""
    import json as _json
    import time as _time
    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    d = str(tmp_path / "wm_stream")
    os.makedirs(d)
    fresh = _pd.DataFrame(
        {"user_id": [1, 2], "ts": _pd.to_datetime(["2024-01-02 10:00:00",
                                                   "2024-01-02 11:00:00"])}
    )
    late = _pd.DataFrame(
        {"user_id": [3, 4], "ts": _pd.to_datetime(["2024-01-01 09:00:00",
                                                   "2024-01-01 09:30:00"])}
    )
    # micros, not pandas-default nanos — the declared stream schema says
    # TIMESTAMP and the session reads parquet nanos as long
    fresh["ts"] = fresh["ts"].astype("datetime64[us]")
    late["ts"] = late["ts"].astype("datetime64[us]")
    _pq.write_table(_pa.Table.from_pandas(fresh), f"{d}/a.parquet")

    sdf = spark.readStream.schema("user_id long, ts timestamp").parquet(d)
    dedup = sdf.withWatermark("ts", "0 seconds").dropDuplicates(["user_id", "ts"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("wm_drop_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        for _ in range(120):  # wait for the fresh batch to commit
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            _time.sleep(0.5)
        # The de-flake (VERDICT r13 wrong #2): "fresh batch committed" is
        # NOT "filter watermark advanced" — the watermark the drop filter
        # uses updates on the batch AFTER the one that saw the rows. Under
        # host load that gap stretches; landing the late file inside it
        # admits the day-1 rows instead of dropping them. Poll the
        # reported watermark itself (no-data micro-batches keep emitting
        # progress under the processingTime trigger) until it passes the
        # fresh rows' max event time.
        wm = ""
        deadline = _time.time() + 60
        while _time.time() < deadline:
            lp = q.lastProgress or {}
            wm = (lp.get("eventTime") or {}).get("watermark", "") or ""
            if wm >= "2024-01-02T11:00:00":
                break
            _time.sleep(0.25)
        assert wm >= "2024-01-02T11:00:00", f"watermark never advanced: {wm!r}"
        # now the filter watermark is 2024-01-02 11:00; land day-1 rows, late
        _pq.write_table(_pa.Table.from_pandas(late), f"{d}/b.parquet")
        deadline = _time.time() + 60
        dropped = 0
        while _time.time() < deadline and dropped < 2:
            _time.sleep(0.5)
            dropped = sum(
                op.get("numRowsDroppedByWatermark", 0)
                for prog in q.recentProgress
                for op in _json.loads(prog.json).get("stateOperators", [])
            )
    finally:
        q.stop()
    assert dropped == 2, f"expected both day-1 rows dropped, got {dropped}"
    got = spark.sql("SELECT * FROM wm_drop_test")
    assert sorted(r["user_id"] for r in got.collect()) == [1, 2]


def test_rollup_replay_of_merged_batch_is_noop(spark):
    """foreachBatch is at-least-once; re-delivering an already-merged batch
    id must not double-count the rollup sums (idempotency marker)."""
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "rollup_replay_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v int")

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("ev_ct"),
            F.sum("v").cast("bigint").alias("v_sum"),
        )

    write = rollup_writer(state, ["k"], partial, n_buckets=4)
    write(df, 0)
    before = rows(read_state(spark, state))
    write(df, 0)  # redelivery of batch 0 after a checkpoint-commit crash
    assert rows(read_state(spark, state)) == before
    write(df, 1)  # a genuinely new batch still merges
    after = {r[0]: r for r in rows(read_state(spark, state), ["k", "ev_ct", "v_sum"])}
    assert after["a"][1:] == (4, 6) and after["b"][1:] == (2, 10)


def test_bucketed_state_survives_empty_first_batch(spark):
    """An empty first micro-batch writes no bucket, so the state dir holds
    only the rollup writer's _LAST_BATCH marker; the next batch's
    prior-state read must treat that as empty instead of crashing schema
    inference on a parquet-less dir."""
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "rollup_empty_first")
    if os.path.exists(state):
        shutil.rmtree(state)
    schema = "k string, v int"
    empty = spark.createDataFrame([], schema)
    df = spark.createDataFrame([("a", 3)], schema)

    def partial(d):
        return d.groupBy("k").agg(F.sum("v").cast("bigint").alias("v_sum"))

    write = rollup_writer(state, ["k"], partial, n_buckets=4)
    write(empty, 0)
    write(df, 1)
    assert rows(read_state(spark, state)) == [("a", 3)]


def test_empty_batch_runs_no_write_job(spark, tmp_path):
    """A batch with no rows touches no bucket: upsert_into and a rollup
    writer run only the touched-bucket collect, never a write job for an
    empty staging dir, and create no bucket state. They record only the
    state's meta files (the rollup writer also the batch id)."""
    from gmall_flink_spark.sinks._bucketed import has_bucket_dirs
    from gmall_flink_spark.sinks.rollup import rollup_writer
    from gmall_flink_spark.sinks.upsert import upsert_into

    empty = spark.createDataFrame([], "k string, v int, ts bigint")
    sc = spark.sparkContext

    def jobs(group, merge):
        sc.setJobGroup(group, "empty batch into a bucketed sink")
        try:
            merge()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    upsert_state = str(tmp_path / "upsert")
    assert jobs("empty_upsert", lambda: upsert_into(upsert_state, empty, ["k"], ["ts"])) == 1
    assert not has_bucket_dirs(upsert_state)
    assert sorted(os.listdir(upsert_state)) == ["_N_BUCKETS", "_SCHEMA"]

    rollup_state = str(tmp_path / "rollup")
    # a per-row partial (no groupBy): the collect is then a single job
    write = rollup_writer(
        rollup_state, ["k"], lambda d: d.select("k", F.col("v").cast("bigint").alias("v_sum"))
    )
    assert jobs("empty_rollup", lambda: write(empty, 0)) == 1
    assert sorted(os.listdir(rollup_state)) == ["_LAST_BATCH", "_N_BUCKETS", "_SCHEMA"]


def test_read_state_after_only_empty_batches(spark, tmp_path):
    """A sink that has only seen empty batches still has a state: its
    schema is recorded from the analyzed merge, so read_state returns
    zero rows with the state's columns instead of failing on a dir with
    no parquet."""
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer
    from gmall_flink_spark.sinks.upsert import upsert_into

    empty = spark.createDataFrame([], "k string, v int, ts bigint")

    upsert_state = str(tmp_path / "upsert")
    upsert_into(upsert_state, empty, ["k"], ["ts"])
    upsert_into(upsert_state, empty, ["k"], ["ts"])
    got = read_state(spark, upsert_state)
    assert got.collect() == []
    assert got.schema.simpleString() == "struct<k:string,v:int,ts:bigint>"

    rollup_state = str(tmp_path / "rollup")
    write = rollup_writer(
        rollup_state, ["k"], lambda d: d.groupBy("k").agg(F.sum("v").cast("bigint").alias("v_sum"))
    )
    write(empty, 0)
    got = read_state(spark, rollup_state)
    assert got.collect() == []
    assert got.schema.simpleString() == "struct<k:string,v_sum:bigint>"
    # the next batch with rows merges into the recorded, empty state
    write(spark.createDataFrame([("a", 2, 1)], empty.schema), 1)
    assert rows(read_state(spark, rollup_state)) == [("a", 2)]



def test_state_without_schema_record_reads_until_next_write(spark, tmp_path):
    """A state dir written before schemas were recorded (no _SCHEMA) is
    read by inference, and its next merge records the schema."""
    from gmall_flink_spark.sinks.upsert import read_state, upsert_into

    state = str(tmp_path / "upsert")
    schema = "k bigint, ts bigint, v string"
    upsert_into(state, spark.createDataFrame([(1, 0, "a"), (2, 0, "b")], schema), ["k"], ["ts"])
    os.remove(os.path.join(state, "_SCHEMA"))
    assert rows(read_state(spark, state)) == [(1, 0, "a"), (2, 0, "b")]
    upsert_into(state, spark.createDataFrame([(1, 1, "c")], schema), ["k"], ["ts"])
    assert os.path.exists(os.path.join(state, "_SCHEMA"))
    assert rows(read_state(spark, state)) == [(1, 1, "c"), (2, 0, "b")]


def _bucketed_merge_cases():
    """name -> (merge(spark, state_path, rows_df), schema, rows(batch_no))
    for every bucketed MERGE sink, on a few literal rows. Batch 1 rows
    sort after batch 0 rows wherever the merge keeps a first arrival."""
    from gmall_flink_spark.llm.similarity import pq_train
    from gmall_flink_spark.queries.llm_dedup import merge_components_artifact
    from gmall_flink_spark.sinks.allpairs_sink import units_index_merge
    from gmall_flink_spark.sinks.dedup_sink import dedup_append
    from gmall_flink_spark.sinks.ivf_sink import ivf_index_merge
    from gmall_flink_spark.sinks.kmv_sink import kmv_merge
    from gmall_flink_spark.sinks.lsh_sink import lsh_index_merge
    from gmall_flink_spark.sinks.pq_sink import ivfpq_index_merge
    from gmall_flink_spark.sinks.rollup import merge_rollup
    from gmall_flink_spark.sinks.scd2 import scd2_merge
    from gmall_flink_spark.sinks.upsert import upsert_into

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
    vec = "vec_id bigint, vec array<double>"

    def text(i):
        return " ".join(words[(i + j) % len(words)] for j in range(8))

    def vectors(b):
        return [(i, [float(i % 3), 1.0, float(i % 5), 2.0 - i % 2]) for i in range(b * 6, b * 6 + 6)]

    def centroids(spark):
        return spark.createDataFrame([(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])], vec)

    def ivfpq(spark, path, df):
        books = pq_train(spark.createDataFrame(vectors(0) + vectors(1), vec), 2, 2, 2)
        ivfpq_index_merge(path, df, centroids(spark), books, 2, 2, n_buckets=4)

    return {
        "upsert": (
            lambda spark, path, df: upsert_into(path, df, ["k"], ["ts"], n_buckets=4),
            "k bigint, ts bigint, v string",
            lambda b: [(b * 3 + i, b, f"v{b}{i}") for i in range(6)],
        ),
        "rollup": (
            lambda spark, path, df: merge_rollup(path, df, ["k"], n_buckets=4),
            "k string, v_ct bigint, v_sum bigint, v_min bigint, v_max bigint",
            lambda b: [(f"k{(b + i) % 7}", 1, i, b + i, b * i) for i in range(6)],
        ),
        "kmv": (
            lambda spark, path, df: kmv_merge(path, df, "g", "u", n_buckets=4),
            "g string, u bigint",
            lambda b: [(f"g{i % 3}", b * 5 + i) for i in range(9)],
        ),
        "dedup": (
            lambda spark, path, df: dedup_append(path, df, "fp", ["doc_id"], n_buckets=4),
            "doc_id bigint, fp string",
            lambda b: [(b * 10 + i, f"f{(b + i) % 7}") for i in range(6)],
        ),
        "scd2": (
            lambda spark, path, df: scd2_merge(path, df, "sku_id", ["ts", "id"], "ts", n_buckets=4),
            "sku_id bigint, id bigint, sku_num bigint, ts bigint",
            lambda b: [(i % 3, b * 10 + i, i, b * 100 + i) for i in range(6)],
        ),
        "lsh": (
            lambda spark, path, df: lsh_index_merge(path, df, n_buckets=4),
            "doc_id bigint, text string",
            lambda b: [(b * 10 + i, text(b + i)) for i in range(4)],
        ),
        "allpairs": (
            lambda spark, path, df: units_index_merge(path, df, n_buckets=4),
            "doc_id bigint, text string",
            lambda b: [(b * 10 + i, text(b + i)) for i in range(4)],
        ),
        "ivf": (
            lambda spark, path, df: ivf_index_merge(path, df, centroids(spark), n_buckets=4),
            vec,
            vectors,
        ),
        "ivfpq": (ivfpq, vec, vectors),
        "components": (
            lambda spark, path, df: merge_components_artifact(spark, path, df, n_buckets=4),
            "doc_a bigint, doc_b bigint",
            lambda b: [(b * 4 + i, b * 4 + i + 1) for i in range(3)],
        ),
    }


@pytest.mark.parametrize("sink", list(_bucketed_merge_cases()))
def test_bucketed_merge_is_batching_invariant(spark, tmp_path, sink):
    """The merge contract every bucketed sink keeps: merging batch 0 then
    batch 1 leaves the same state as merging their union once (the first
    merge runs on an empty prior, the second on existing state)."""
    from gmall_flink_spark.sinks._bucketed import read_state

    merge, schema, make_rows = _bucketed_merge_cases()[sink]
    b0, b1 = make_rows(0), make_rows(1)
    stepwise, once = str(tmp_path / "stepwise"), str(tmp_path / "once")
    merge(spark, stepwise, spark.createDataFrame(b0, schema))
    merge(spark, stepwise, spark.createDataFrame(b1, schema))
    merge(spark, once, spark.createDataFrame(b0 + b1, schema))
    got, want = read_state(spark, stepwise), read_state(spark, once)
    assert got.count() > 0
    assert rows(got) == rows(want)


def test_bucket_swap_crash_recovery(spark):
    """A crash between move-aside and install leaves a bucket only at
    <dir>.__old__; the next read must restore it (previously the live dir
    was rmtree'd first, losing the bucket's state outright)."""
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "rollup_crash_recovery")
    if os.path.exists(state):
        shutil.rmtree(state)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")

    def partial(d):
        return d.groupBy("k").agg(F.sum("v").cast("bigint").alias("v_sum"))

    rollup_writer(state, ["k"], partial, n_buckets=4)(df, 0)
    before = rows(read_state(spark, state))
    # simulate the crash window: a bucket moved aside, replacement missing
    bucket_dirs = [n for n in os.listdir(state) if n.startswith("__bucket=")]
    victim = os.path.join(state, bucket_dirs[0])
    os.replace(victim, victim + ".__old__")
    assert rows(read_state(spark, state)) == before


def test_interval_ms_units():
    """Timer delays must honor the unit: '1 minute' is 60 000 ms, not 1 s;
    unknown units raise instead of silently meaning seconds."""
    from gmall_flink_spark.streaming.stateful import _interval_ms

    assert _interval_ms("5 seconds") == 5_000
    assert _interval_ms("1 minute") == 60_000
    assert _interval_ms("500 milliseconds") == 500
    assert _interval_ms("2 hours") == 7_200_000
    with pytest.raises(ValueError):
        _interval_ms("5 fortnights")
    with pytest.raises(ValueError):
        _interval_ms("5")


def test_streaming_vocab_rollup_equals_batch(spark):
    """Vocabulary maintenance as a continuous aggregate: per-batch token
    counts merged through the rollup sink end exactly at the batch
    llm_vocab_topk-style global counts — token frequency is algebraic
    (count-sum), so the vocab table is maintainable per micro-batch on the
    bucketed state layer instead of recomputed from the corpus."""
    from gmall_flink_spark.functions.text import tokenize
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "vocab_rollup_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("doc_id", "text")
    src = os.path.join(TMP, "docs_slices")
    split_into_files(docs, 3, "doc_id", src)

    def partial(df):
        return (
            df.select(F.explode(tokenize("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("token_ct"))
        )

    sdf = stream_from(spark, src, docs)
    run_available_now(sdf, foreach_batch=rollup_writer(state, ["token"], partial))
    got = read_state(spark, state)
    assert rows(got) == rows(partial(docs))


def test_streaming_chunk_accounting_rollup_equals_batch(spark):
    """Chunk-split accounting as a continuous aggregate: per-batch span
    stats (chunk/token counts per source) merged through the rollup sink
    equal the batch llm_chunk_split audit — chunk accounting is algebraic
    (pure sums), so the audit table maintains per micro-batch as docs land."""
    from gmall_flink_spark.functions.text import token_count
    from gmall_flink_spark.llm.corpus import chunk_spans
    from gmall_flink_spark.queries.llm_pipeline import CHUNK_SIZE, CHUNK_STRIDE
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "chunk_rollup_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("source", "doc_id", "text")
    src = os.path.join(TMP, "chunk_docs_slices")
    split_into_files(docs, 3, "doc_id", src)

    def partial(df):
        per_doc = df.select(
            "source", token_count("text").cast("bigint").alias("n")
        ).withColumn("spans", chunk_spans(F.col("n"), CHUNK_SIZE, CHUNK_STRIDE))
        return per_doc.groupBy("source").agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("n").alias("token_sum"),
            F.sum(F.size("spans").cast("bigint")).alias("chunk_ct"),
            F.sum(
                F.aggregate(
                    "spans", F.lit(0).cast("bigint"), lambda a, sp: a + sp["len"]
                )
            ).alias("chunktok_sum"),
        )

    sdf = stream_from(spark, src, docs)
    run_available_now(sdf, foreach_batch=rollup_writer(state, ["source"], partial))
    assert rows(read_state(spark, state)) == rows(partial(docs))


@pytest.mark.slow
def test_ivfpq_index_sink_equals_batch_encode(spark):
    """Streaming IVF-PQ maintenance: replay embeddings in 3 micro-batches
    through the cluster-bucketed packed-code sink; the accumulated index
    must equal batch ivf_assign + pq_encode over the full table."""
    from gmall_flink_spark.llm.similarity import ivf_assign, pq_encode, pq_train, prep
    from gmall_flink_spark.sinks.pq_sink import ivfpq_index_rows, ivfpq_index_writer

    emb = prep(table(spark, SF, "embeddings"))
    cents = emb.where(F.col("vec_id") < 10)
    books = pq_train(emb, 8, 8, 16).localCheckpoint(eager=True)
    slices = os.path.join(TMP, "ivfpq_slices")
    split_into_files(emb, 3, "vec_id", slices)
    state = os.path.join(TMP, "ivfpq_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, emb)
    run_available_now(
        sdf, foreach_batch=ivfpq_index_writer(state, cents, books, 8, 8)
    )

    got = ivfpq_index_rows(spark, state).select(
        "vec_id", "cluster", F.col("codes").cast("array<int>").alias("codes")
    )
    packed = (
        pq_encode(emb, books, 8, 8)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).cast("array<int>").alias("codes")
        )
    )
    want = ivf_assign(emb, cents).select("vec_id", "cluster").join(packed, "vec_id")
    assert rows(got) == rows(want)

    # the read path: ADC top-k served from the streamed state must equal
    # the same search over the batch-built index, and be well-formed
    from gmall_flink_spark.sinks.pq_sink import ivfpq_search

    queries = emb.where(F.col("vec_id") < 5)
    from_state = ivfpq_search(
        ivfpq_index_rows(spark, state), queries, books, cents, 8, 8, k=5
    )
    from_batch = ivfpq_search(want, queries, books, cents, 8, 8, k=5)
    cols = ["q_id", "neighbor_id", "rk", "adc_e6"]
    got_rows = rows(from_state, cols)
    assert got_rows == rows(from_batch, cols)
    assert {r[0] for r in got_rows} == {0, 1, 2, 3, 4}


def test_cms_sketch_stream_equals_batch(spark, events_slices):
    """Count-min counters maintained per micro-batch through the generic
    additive rollup sink (cell sums merge; no CMS-specific sink code) must
    equal the batch sketch over the full event stream."""
    from gmall_flink_spark.operators.sketch import cms_counters
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    ev = table(spark, SF, "events")
    state = os.path.join(TMP, "cms_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, events_slices, ev)
    run_available_now(
        sdf,
        foreach_batch=rollup_writer(
            state, ["depth", "bucket"], lambda b: cms_counters(b, "user_id")
        ),
    )
    got = read_state(spark, state).select("depth", "bucket", "ct")
    want = cms_counters(ev, "user_id")
    assert rows(got) == rows(want)


@pytest.mark.slow
def test_boilerplate_df_stream_equals_batch(spark):
    """The boilerplate shingle-frequency dictionary is an additive rollup:
    per-batch (source, shingle) counts merged through the generic rollup
    sink must equal the batch df table text_boilerplate builds — i.e. the
    template dictionary can be maintained as a continuous aggregate while
    docs stream in."""
    from gmall_flink_spark.functions.text import tokenize
    from gmall_flink_spark.queries.text import BP_N
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    docs = table(spark, SF, "documents")

    def shingle_counts(df):
        toked = df.select("source", "doc_id", tokenize("text").alias("toks")).where(
            F.size("toks") >= BP_N
        )
        sh = F.transform(
            F.sequence(F.lit(0), F.size("toks") - BP_N),
            lambda i: F.array_join(F.slice("toks", i + 1, BP_N), " "),
        )
        return (
            toked.select("source", F.explode(F.array_distinct(sh)).alias("shingle"))
            .groupBy("source", "shingle")
            .agg(F.count(F.lit(1)).alias("df_ct"))
        )

    slices = os.path.join(TMP, "bp_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "bp_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, docs)
    run_available_now(
        sdf, foreach_batch=rollup_writer(state, ["source", "shingle"], shingle_counts)
    )
    got = read_state(spark, state).select("source", "shingle", "df_ct")
    want = shingle_counts(docs)
    assert rows(got) == rows(want)


@pytest.mark.slow
def test_payment_uu_window_stream_matches_batch(spark):
    """DwsTradePaymentWindow streaming recipe (plans/pipelines.py): the P7
    pay-suc fact stream through new_user_flags_stream (D5) + the day
    tumble agg must equal the dws_payment_uu_window batch query."""
    from gmall_flink_spark.operators.cdc import (
        d,
        drop_bootstrap,
        src_filter,
        status_transition,
    )
    from gmall_flink_spark.operators.windows import tumble_agg
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope

    env = drop_bootstrap(orders_envelope(spark, SF))
    pays = src_filter(env, "order_info").where(
        status_transition("order_status", to="1005", from_="1002")
    ).select(
        d("user_id").cast("bigint").alias("user_id"),
        F.timestamp_seconds("ts").alias("rt"),
    )
    out = os.path.join(TMP, "pay_slices")
    if os.path.exists(out):
        shutil.rmtree(out)
    split_into_files(pays, 4, "rt", out)
    sdf = stream_from(spark, out, pays)
    flags = run_available_now(new_user_flags_stream(sdf, "user_id", "rt"))
    got = tumble_agg(
        flags.withColumn("day_ts", F.to_timestamp("cur_date")),
        "day_ts",
        "1 day",
        [],
        [
            F.count(F.lit(1)).alias("payment_suc_uu_ct"),
            F.sum("is_first_ever").alias("payment_suc_new_user_ct"),
        ],
    ).select("stt", "edt", "payment_suc_uu_ct", "payment_suc_new_user_ct")
    batch = all_queries()["dws_payment_uu_window"](spark, SF)
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_allpairs_index_sink_equals_batch_exact_graph(spark):
    """Streaming EXACT near-dup: replay documents in 3 micro-batches
    through the token-unit index sink; the accumulated state must equal
    the batch distinct-token frame, and the verified pair view over the
    state must equal the batch prefix-filter + jaccard pipeline — prefixes
    are (correctly) recomputed against the final df order at read time."""
    from gmall_flink_spark.llm.dedup import (
        distinct_tokens,
        jaccard_pairs,
        prefix_filter_candidates,
    )
    from gmall_flink_spark.sinks._bucketed import read_state
    from gmall_flink_spark.sinks.allpairs_sink import (
        allpairs_state_verified,
        units_index_writer,
    )

    docs = table(spark, SF, "documents")
    slices = os.path.join(TMP, "allpairs_slices")
    split_into_files(docs, 3, "doc_id", slices)
    state = os.path.join(TMP, "allpairs_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    sdf = stream_from(spark, slices, docs)
    run_available_now(sdf, foreach_batch=units_index_writer(state))

    batch_units = distinct_tokens(docs)
    assert rows(read_state(spark, state)) == rows(batch_units)
    got = allpairs_state_verified(spark, state, 9, 10)
    want = jaccard_pairs(
        batch_units, prefix_filter_candidates(batch_units, 9, 10), ratio=(9, 10)
    ).where(10 * F.col("inter") >= 9 * F.col("uni"))
    assert rows(got) == rows(want)
    assert got.count() > 0


@pytest.mark.slow
def test_sku_order_window_pipeline_end_to_end(spark):
    """DwsTradeSkuOrderWindow as ONE availableNow query — envelope source →
    D2 dedup → J7 broadcast enrich → A3/A6 window agg → memory sink —
    equals the batch twin dws_brand_order_window exactly (VERDICT r07 #3).
    Far-future sentinel slices close every real window; their sku_id can't
    join `part`, so they add no output."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import detail_envelope
    from gmall_flink_spark.streaming.pipelines import (
        sentinel_envelope_slices,
        sku_order_window_stream,
    )

    env = detail_envelope(spark, SF)
    slices = os.path.join(TMP, "sku_env_slices")
    split_into_files(env, 4, "ts", slices)
    far = int(env.agg(F.max("ts")).collect()[0][0]) + 2_160_000_000  # +10k days
    sentinel_envelope_slices(
        spark, slices, "order_detail",
        {"id": "-1", "order_id": "-1", "sku_id": "-1", "sku_num": "1",
         "split_total_amount": "0"},
        far,
    )
    got = run_available_now(
        sku_order_window_stream(stream_from(spark, slices, env), table(spark, SF, "part"))
    )
    batch = all_queries()["dws_brand_order_window"](spark, SF)
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_order_detail_wide_pipeline_end_to_end(spark):
    """DwdTradeOrderDetail as ONE availableNow query — four envelope streams,
    D keep-first on the detail side, J1 inner + J2×2 left stream-stream
    joins with watermark-bounded state (J4), K3 upsert sink — final sink
    state equals the batch twin cdc_order_detail_wide (VERDICT r07 #3).
    Each stream gets far-future sentinels with mutually NON-joinable ids
    (distinct negatives) so the global watermark (min across inputs) passes
    every join window and all left-outer nulls emit."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sinks.upsert import read_state, upsert_writer
    from gmall_flink_spark.sources.cdc_synth import (
        activity_envelope,
        coupon_envelope,
        detail_envelope,
        orders_envelope,
    )
    from gmall_flink_spark.streaming.pipelines import (
        order_detail_wide_stream,
        sentinel_envelope_slices,
    )

    specs = {
        "od": (detail_envelope(spark, SF), "order_detail",
               {"id": "-1", "order_id": "-1", "sku_id": "-1", "sku_num": "1",
                "split_total_amount": "0"}),
        "oi": (orders_envelope(spark, SF), "order_info",
               {"id": "-2", "user_id": "-2"}),
        "oa": (activity_envelope(spark, SF), "order_detail_activity",
               {"order_detail_id": "-3", "activity_id": "-3"}),
        "oc": (coupon_envelope(spark, SF), "order_detail_coupon",
               {"order_detail_id": "-4", "coupon_id": "-4"}),
    }
    streams = {}
    for name, (env, tbl, data) in specs.items():
        slices = os.path.join(TMP, f"odw_{name}_slices")
        split_into_files(env, 4, "ts", slices)
        far = int(env.agg(F.max("ts")).collect()[0][0]) + 2_160_000_000
        # 4 sentinels: 3 chained joins cascade null emission one stateful
        # stage per batch (see sentinel_envelope_slices docstring)
        sentinel_envelope_slices(spark, slices, tbl, data, far, n=4)
        streams[name] = stream_from(spark, slices, env)

    wide = order_detail_wide_stream(
        streams["od"], streams["oi"], streams["oa"], streams["oc"]
    )
    state = os.path.join(TMP, "odw_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    # K3 sink: keys=id. The detail stream is already key-compacted by the
    # in-stream keep-first, so per-id re-emissions only occur for
    # value-identical join copies — last-wins merge lands the same rows the
    # batch twin's keep-first compaction does.
    run_available_now(
        wide,
        foreach_batch=upsert_writer(
            state, ["id"], ["ts", "sku_num", "split_total_amount"]
        ),
    )
    got = read_state(spark, state).drop("ts")
    batch = all_queries()["cdc_order_detail_wide"](spark, SF)

    def nrows(df):  # NULL-safe sort (bare tuple '<' raises on None cells)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)

    assert nrows(got) == nrows(batch)


@pytest.mark.slow
def test_cart_add_uu_window_pipeline_end_to_end(spark):
    """DwsTradeCartAddUuWindow as ONE availableNow query — cart envelope
    source → W5 coalesce event time → D4 dedup-on-(sku, day) → A5 daily UU
    window — equals the batch twin cart_uu_daily exactly. The sentinel's
    far-future create_time drives the watermark (rt is a DATA column here,
    not the envelope ts); its own day-window never closes, so it adds no
    output row."""
    from datetime import datetime, timezone

    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import cart_envelope
    from gmall_flink_spark.streaming.pipelines import (
        cart_add_uu_window_stream,
        sentinel_envelope_slices,
    )

    env = cart_envelope(spark, SF)
    slices = os.path.join(TMP, "cart_env_slices")
    split_into_files(env, 4, "ts", slices)
    far = int(env.agg(F.max("ts")).collect()[0][0]) + 864_000_000  # +10k days
    far_str = datetime.fromtimestamp(far, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    sentinel_envelope_slices(
        spark, slices, "cart_info",
        {"id": "-1", "sku_id": "-1", "sku_num": "1", "create_time": far_str},
        far,
    )
    got = run_available_now(
        cart_add_uu_window_stream(stream_from(spark, slices, env))
    )
    batch = all_queries()["cart_uu_daily"](spark, SF)
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_traffic_grain_window_pipeline_end_to_end(spark):
    """DwsTrafficVcChArIsNewPageViewWindow as ONE availableNow query — raw
    JSON log source → parse → page split → self-union exact-uv trick →
    day-window grain agg — equals the batch twin log_traffic_grain_window
    exactly. The sentinel is a parseable far-future page line whose own
    window never closes, so it drives the watermark without adding output."""
    import json

    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.log_synth import page_log_json
    from gmall_flink_spark.streaming.pipelines import (
        sentinel_value_slices,
        traffic_grain_window_stream,
    )

    raw = page_log_json(spark, SF)
    slices = os.path.join(TMP, "traffic_log_slices")
    split_into_files(raw.withColumn("ts", F.get_json_object("value", "$.ts")),
                     4, "ts", slices)
    far_ms = (int(raw.agg(
        F.max(F.get_json_object("value", "$.ts").cast("long"))
    ).collect()[0][0]) + 864_000_000_000)  # +10k days
    sentinel = json.dumps({
        "common": {"mid": "sentinel", "vc": "v0", "ch": "web", "ar": "0",
                   "is_new": "0"},
        "page": {"page_id": "home", "during_time": 0},
        "ts": far_ms,
    })
    sentinel_value_slices(spark, slices, sentinel)
    stream = stream_from(spark, slices, raw).select("value")
    got = run_available_now(traffic_grain_window_stream(stream))
    batch = all_queries()["log_traffic_grain_window"](spark, SF)
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_streaming_substr_gram_index_equals_batch(spark):
    """ExactSubstr's corpus gram index as a continuous aggregate: per-batch
    W-gram occurrence counts merged through the rollup sink end exactly at
    the batch-built index, so the duplicated-gram set (occ >= min_occ) —
    the corpus-wide half of llm/substring.py — is maintainable per
    micro-batch as docs stream in; the per-doc span merge stays a map-side
    pass over each new batch."""
    from gmall_flink_spark.llm.dedup import doc_tokens
    from gmall_flink_spark.llm.substring import (
        SUBSTR_MIN_OCC,
        duplicated_keys,
        position_grams,
    )
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "substr_gram_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("doc_id", "text")
    src = os.path.join(TMP, "substr_docs_slices")
    split_into_files(docs, 3, "doc_id", src)

    def partial(df):
        return (
            position_grams(doc_tokens(df, spread_input=False))
            .groupBy("gram_key")
            .agg(F.count(F.lit(1)).alias("occ_ct"))
        )

    sdf = stream_from(spark, src, docs)
    run_available_now(sdf, foreach_batch=rollup_writer(state, ["gram_key"], partial))
    got = (
        read_state(spark, state)
        .where(F.col("occ_ct") >= SUBSTR_MIN_OCC)
        .select("gram_key")
    )
    batch = duplicated_keys(position_grams(doc_tokens(docs)))
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_payment_uu_window_pipeline_end_to_end(spark):
    """DwsTradePaymentWindow as ONE availableNow query — order_info
    envelope source → P7 1002→1005 transition filter → D5 via the
    retraction twin daily_new_flags_stream → day windows — equals the
    batch twin dws_payment_uu_window exactly. The
    sentinel must be an UPDATE envelope carrying old.order_status=1002:
    the transition filter sits upstream of the watermark node, so a
    plain insert sentinel would be dropped before advancing it."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope
    from gmall_flink_spark.streaming.pipelines import (
        payment_uu_window_stream,
        sentinel_envelope_slices,
    )

    env = orders_envelope(spark, SF)
    slices = os.path.join(TMP, "payment_env_slices")
    split_into_files(env, 4, "ts", slices)
    far = int(env.agg(F.max("ts")).collect()[0][0]) + 864_000_000  # +10k days
    sentinel_envelope_slices(
        spark, slices, "order_info",
        {"id": "-9", "user_id": "-9", "order_status": "1005"},
        far,
        type_="update",
        old={"order_status": "1002"},
    )
    got = run_available_now(
        payment_uu_window_stream(stream_from(spark, slices, env))
    )
    batch = all_queries()["dws_payment_uu_window"](spark, SF)
    assert rows(got) == rows(batch)


@pytest.mark.slow
def test_payment_uu_pipeline_corrects_under_disorder(spark):
    """The payment pipeline's default D5 must move the first-ever-payer
    credit when an EARLIER-day payment arrives in a LATER batch (the
    unordered-topic case the arrival-order dual-dedup form gets wrong):
    u1 pays on Jan 5 (slice 1), then a LATE Jan 2 payment lands (slice
    2) — the new-payer credit must end on Jan 2, and a same-day
    duplicate (slice 3) must not double-count. Hand-expected windows, so
    this is ground truth, not twin-vs-twin."""
    import datetime as dt

    from gmall_flink_spark.schemas import CDC_ENVELOPE
    from gmall_flink_spark.streaming.pipelines import (
        payment_uu_window_stream,
        sentinel_envelope_slices,
    )

    def ep(y, m, day, h=12):
        return int(dt.datetime(y, m, day, h, tzinfo=dt.timezone.utc).timestamp())

    def pay(oid, uid, ts):
        return (
            "gmall_flink", "order_info", "update", ts,
            {"id": str(oid), "user_id": str(uid), "order_status": "1005"},
            {"order_status": "1002"},
        )

    arrivals = [  # (arrival slice, envelope)
        (0, pay(1, 1, ep(2024, 1, 5))),       # u1 day 5 arrives first
        (0, pay(2, 2, ep(2024, 1, 2))),       # u2 day 2
        (1, pay(3, 1, ep(2024, 1, 2))),       # u1's EARLIER day 2, late
        (1, pay(4, 2, ep(2024, 1, 3))),       # u2 day 3, in order
        (2, pay(5, 1, ep(2024, 1, 5, 18))),   # u1 day-5 duplicate
    ]
    env = spark.createDataFrame(
        [(a, *row) for a, row in arrivals],
        "arrival int, " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in CDC_ENVELOPE.fields
        ),
    )
    slices = os.path.join(TMP, "pay_disorder_slices")
    split_into_files(env, 3, "arrival", slices)
    far = ep(2024, 1, 5) + 864_000_000
    sentinel_envelope_slices(
        spark, slices, "order_info",
        {"id": "-9", "user_id": "-9", "order_status": "1005"},
        far, type_="update", old={"order_status": "1002"},
    )
    got = run_available_now(
        payment_uu_window_stream(stream_from(spark, slices, env).drop("arrival"))
    )
    want = [
        ("2024-01-02 00:00:00", "2024-01-03 00:00:00", 2, 2),  # credit moved here
        ("2024-01-03 00:00:00", "2024-01-04 00:00:00", 1, 0),
        ("2024-01-05 00:00:00", "2024-01-06 00:00:00", 1, 0),  # u1 no longer new
    ]
    cols = ["stt", "edt", "payment_suc_uu_ct", "payment_suc_new_user_ct"]
    assert rows(got, cols) == want


@pytest.mark.slow
def test_pay_detail_suc_pipeline_end_to_end(spark):
    """DwdTradePayDetailSuc as ONE availableNow query — order_info +
    order_detail envelope streams, P7 pay-suc transition filter → J3
    broadcast dict lookup → J5 interval join (the only composition that
    chains an interval join into a lookup-enriched stream) → K3 upsert
    sink keyed on order_detail_id — final sink state equals the batch
    twin cdc_pay_detail_suc exactly. Inner-join emission is immediate,
    so no sentinel slices are needed (every row that will ever match
    emits when its partner arrives; availableNow drains both sides)."""
    from gmall_flink_spark.queries.cdc import PAY_DICT_ROWS
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sinks.upsert import read_state, upsert_writer
    from gmall_flink_spark.sources.cdc_synth import detail_envelope, orders_envelope
    from gmall_flink_spark.streaming.pipelines import pay_detail_suc_stream

    streams = {}
    for name, env in (
        ("oi", orders_envelope(spark, SF)),
        ("od", detail_envelope(spark, SF)),
    ):
        slices = os.path.join(TMP, f"pds_{name}_slices")
        split_into_files(env, 4, "ts", slices)
        streams[name] = stream_from(spark, slices, env)
    dic = spark.createDataFrame(PAY_DICT_ROWS, "dic_code string, dic_name string")
    wide = pay_detail_suc_stream(streams["oi"], streams["od"], dic)
    state = os.path.join(TMP, "pds_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    run_available_now(
        wide,
        foreach_batch=upsert_writer(
            state, ["order_detail_id"],
            ["pay_ts", "sku_num", "split_payment_amount"],
        ),
    )
    got = read_state(spark, state)
    batch = all_queries()["cdc_pay_detail_suc"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_streaming_link_graph_rollup_equals_batch_pagerank(spark):
    """The corpus link graph as a continuous aggregate: per-batch
    (src, dst) edge counts merged through the rollup sink, ranks
    recomputed at read time from the maintained weights — PageRank over
    the streamed graph must equal the batch operator exactly (integer
    ranks make this bit-for-bit, not approximately). The 100 TB posture:
    crawl batches stream in, the host graph accretes additively, the
    rank report is a read-time query over the small maintained table."""
    from gmall_flink_spark.llm.graph import pagerank, pagerank_from_weights
    from gmall_flink_spark.queries.datasel import _dst_domain
    from gmall_flink_spark.functions.web import normalize_url, registered_domain
    from gmall_flink_spark.queries.llm_pipeline import _raw_url
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "linkgraph_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("doc_id", "text", "source")
    src_dir = os.path.join(TMP, "linkgraph_slices")
    split_into_files(docs, 3, "doc_id", src_dir)

    def edges(df):
        return df.select(
            registered_domain(normalize_url(_raw_url())).alias("src"),
            _dst_domain().alias("dst"),
        ).where(F.col("src") != F.col("dst"))

    def partial(df):
        return edges(df).groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w_ct"))

    sdf = stream_from(spark, src_dir, docs)
    run_available_now(
        sdf, foreach_batch=rollup_writer(state, ["src", "dst"], partial)
    )
    streamed = pagerank_from_weights(
        read_state(spark, state).withColumnRenamed("w_ct", "w")
    )
    batch = pagerank(edges(docs))
    assert rows(streamed) == rows(batch) and streamed.count() > 0


def test_streaming_dsir_bucket_counts_equal_batch(spark):
    """DSIR's target/raw hashed-feature model is two bucket-count tables —
    algebraic, so the selection model is maintainable per micro-batch
    through the rollup sink as corpus and benchmark docs stream in; the
    lambda table and per-doc scores are read-time derivations over the
    DSIR_BUCKETS-row state."""
    from gmall_flink_spark.functions.text import md5_long, tokenize
    from gmall_flink_spark.queries.datasel import DSIR_BUCKETS
    from gmall_flink_spark.queries.llm_pipeline import BENCH_MOD
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    state = os.path.join(TMP, "dsir_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("doc_id", "text")
    src_dir = os.path.join(TMP, "dsir_slices")
    split_into_files(docs, 3, "doc_id", src_dir)

    def sided_buckets(df):
        return df.select(
            F.when(F.col("doc_id") % BENCH_MOD == 0, "p").otherwise("q").alias("side"),
            F.explode(tokenize("text")).alias("t"),
        ).withColumn("b", F.pmod(md5_long(F.col("t")), F.lit(DSIR_BUCKETS)))

    def partial(df):
        return sided_buckets(df).groupBy("side", "b").agg(
            F.count(F.lit(1)).alias("occ_ct")
        )

    sdf = stream_from(spark, src_dir, docs)
    run_available_now(
        sdf, foreach_batch=rollup_writer(state, ["side", "b"], partial)
    )
    got = read_state(spark, state)
    batch = sided_buckets(docs).groupBy("side", "b").agg(
        F.count(F.lit(1)).alias("occ_ct")
    )
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_user_login_window_pipeline_end_to_end(spark):
    """DwsUserUserLoginWindow as ONE availableNow query — login filter →
    D6 returning-flags state machine → daily uu/returner day windows —
    equals the batch twin (returning_flags → tumble_agg) exactly. The
    distinctive composition: a custom applyInPandasWithState operator
    feeding a downstream watermarked window aggregation in one query,
    with event time re-based on the emitted cur_date; far-future
    sentinel logins (all carrying the SAME timestamp, so their own
    window can never close and they self-exclude from the append
    output) close the last real window."""
    from gmall_flink_spark.operators.dedup import returning_flags
    from gmall_flink_spark.streaming.pipelines import (
        _append_sentinel_slices,
        user_login_window_stream,
    )

    ev = table(spark, SF, "events")
    src_dir = os.path.join(TMP, "login_window_slices")
    if os.path.exists(src_dir):
        shutil.rmtree(src_dir)
    split_into_files(ev, 4, "ts", src_dir)

    def sentinel(j):
        return ev.limit(1).select(
            F.lit(-1).cast("bigint").alias("event_id"),
            F.to_timestamp(F.lit("2199-01-01 00:00:00")).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast(ev.schema["props"].dataType).alias("props"),
        )

    _append_sentinel_slices(src_dir, sentinel, 2)

    sdf = stream_from(spark, src_dir, ev)
    got = run_available_now(user_login_window_stream(sdf))

    login = ev.where(F.col("event_type") == "click")
    batch = (
        tumble_agg(
            returning_flags(login, "user_id", "ts", gap_days=7).withColumn(
                "rt", F.to_timestamp("cur_date")
            ),
            "rt",
            "1 day",
            [],
            [
                F.count(F.lit(1)).alias("uu_ct"),
                F.sum("is_back").alias("back_ct"),
            ],
        )
    ).select("stt", "edt", "uu_ct", "back_ct")
    assert rows(got) == rows(batch) and got.count() > 0
    # the composition must actually exercise the returner path
    assert batch.agg(F.sum("back_ct")).collect()[0][0] > 0


@pytest.mark.slow
def test_home_detail_uv_window_pipeline_end_to_end(spark):
    """DwsTrafficHomeDetailPageViewWindow as ONE availableNow query — raw
    JSON log source → parse → home/good_detail filter → (mid, page_id,
    day) dedup → pairwise UV day windows — equals the REGISTERED batch
    twin dws_home_detail_uv exactly (stream stt mapped to its cur_date).
    Sentinel: a parseable far-future home page line whose own window
    never closes."""
    import json

    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.log_synth import page_log_json
    from gmall_flink_spark.streaming.pipelines import (
        home_detail_uv_window_stream,
        sentinel_value_slices,
    )

    raw = page_log_json(spark, SF)
    slices = os.path.join(TMP, "home_detail_log_slices")
    if os.path.exists(slices):
        shutil.rmtree(slices)
    split_into_files(raw.withColumn("ts", F.get_json_object("value", "$.ts")),
                     4, "ts", slices)
    far_ms = (int(raw.agg(
        F.max(F.get_json_object("value", "$.ts").cast("long"))
    ).collect()[0][0]) + 864_000_000_000)
    sentinel = json.dumps({
        "common": {"mid": "sentinel", "vc": "v0", "ch": "web", "ar": "0",
                   "is_new": "0"},
        "page": {"page_id": "home", "during_time": 0},
        "ts": far_ms,
    })
    sentinel_value_slices(spark, slices, sentinel)
    stream = stream_from(spark, slices, raw).select("value")
    got = run_available_now(home_detail_uv_window_stream(stream)).select(
        F.date_format("stt", "yyyy-MM-dd").alias("cur_date"),
        "home_uv_ct",
        "detail_uv_ct",
    )
    batch = all_queries()["dws_home_detail_uv"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_display_item_window_pipeline_end_to_end(spark):
    """The keyword-window SHAPE (lateral explode → windowed per-value
    counts) as ONE availableNow query over display items — equals the
    batch twin (display explode → tumble_agg) exactly. Sentinel: a
    parseable far-future line carrying one display entry."""
    import json

    from gmall_flink_spark.operators.log_split import parse_page_log, split_log
    from gmall_flink_spark.sources.log_synth import page_log_json
    from gmall_flink_spark.streaming.pipelines import (
        display_item_window_stream,
        sentinel_value_slices,
    )

    raw = page_log_json(spark, SF)
    slices = os.path.join(TMP, "display_item_log_slices")
    if os.path.exists(slices):
        shutil.rmtree(slices)
    split_into_files(raw.withColumn("ts", F.get_json_object("value", "$.ts")),
                     4, "ts", slices)
    far_ms = (int(raw.agg(
        F.max(F.get_json_object("value", "$.ts").cast("long"))
    ).collect()[0][0]) + 864_000_000_000)
    sentinel = json.dumps({
        "common": {"mid": "sentinel", "vc": "v0", "ch": "web", "ar": "0",
                   "is_new": "0"},
        "page": {"page_id": "home", "during_time": 0},
        "displays": [{"display_type": "promotion", "item": "-1",
                      "item_type": "sku_id", "order": 1, "pos_id": "0"}],
        "ts": far_ms,
    })
    sentinel_value_slices(spark, slices, sentinel)
    stream = stream_from(spark, slices, raw).select("value")
    got = run_available_now(display_item_window_stream(stream))

    disp = split_log(parse_page_log(raw))["display"].withColumn(
        "rt", F.timestamp_millis("ts")
    )
    batch = tumble_agg(
        disp, "rt", "1 day", ["item"], [F.count(F.lit(1)).alias("item_ct")]
    ).select("stt", "edt", "item", "item_ct")
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
@pytest.mark.parametrize("state_store", [None, "rocksdb", "rocksdb_changelog"])
def test_order_uu_window_pipeline_end_to_end(spark, state_store):
    """DwsTradeOrderWindow fed by the DWD wide join IN THE SAME QUERY —
    five chained stateful operators (detail dedup, three stream-stream
    joins, the D5 seen-days state machine, the window aggregate) under
    one availableNow trigger — equals the registered batch twin
    dws_order_uu_window exactly. The sentinels form a FULL four-way
    match (od id -1 / order -9; oi -9; oa/oc referencing detail -1) so
    the far-future row takes the joins' immediate-match path and reaches
    the D5 node — a partial match would be held captive waiting for a
    null-pad the watermark can never trigger (see the pipeline
    docstring).

    The 'rocksdb' variant (VERDICT r10 task 1) runs the SAME five-state
    query under RocksDBStateStoreProvider — the 100×-state posture where
    keyed state (join buffers, seen-day maps, window partials) lives
    off-heap on local disk instead of the on-heap HDFSBacked store."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import (
        activity_envelope,
        coupon_envelope,
        detail_envelope,
        orders_envelope,
    )
    from gmall_flink_spark.streaming.pipelines import (
        order_uu_window_stream,
        sentinel_envelope_slices,
    )

    specs = {
        "od": (detail_envelope(spark, SF), "order_detail",
               {"id": "-1", "order_id": "-9", "sku_id": "-1", "sku_num": "1",
                "split_total_amount": "0"}),
        "oi": (orders_envelope(spark, SF), "order_info",
               {"id": "-9", "user_id": "-9"}),
        "oa": (activity_envelope(spark, SF), "order_detail_activity",
               {"order_detail_id": "-1", "activity_id": "-3"}),
        "oc": (coupon_envelope(spark, SF), "order_detail_coupon",
               {"order_detail_id": "-1", "coupon_id": "-4"}),
    }
    streams = {}
    for name, (env, tbl, data) in specs.items():
        slices = os.path.join(TMP, f"ouw_{name}_slices")
        if os.path.exists(slices):
            shutil.rmtree(slices)
        split_into_files(env, 4, "ts", slices)
        far = int(env.agg(F.max("ts")).collect()[0][0]) + 2_160_000_000
        sentinel_envelope_slices(spark, slices, tbl, data, far, n=4)
        streams[name] = stream_from(spark, slices, env)

    got = run_available_now(
        order_uu_window_stream(
            streams["od"], streams["oi"], streams["oa"], streams["oc"]
        ),
        state_store=state_store,
    )
    batch = all_queries()["dws_order_uu_window"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


def test_daily_new_flags_stream_corrects_under_disorder(spark):
    """The retraction-style D5: when a chronologically EARLIER day
    arrives in a LATER batch (the stream-stream-join emission pattern),
    the first-ever credit must move via a correction pair, so the summed
    deltas per (user, day) equal the batch daily_new_flags exactly —
    precisely what the arrival-pinned new_user_flags_stream gets wrong."""
    import datetime as dt

    from gmall_flink_spark.operators.dedup import daily_new_flags
    from gmall_flink_spark.streaming.stateful import daily_new_flags_stream

    rows = [
        # u1: day 5 arrives first (batch 0), then day 2 (batch 1) -> correct
        (1, dt.datetime(2024, 1, 5, 10), 0),
        (1, dt.datetime(2024, 1, 2, 9), 1),
        # u2: in-order days across batches
        (2, dt.datetime(2024, 1, 1, 8), 0),
        (2, dt.datetime(2024, 1, 3, 8), 1),
        # u3: three days arriving 4, 1, 2 -> chained correction
        (3, dt.datetime(2024, 1, 4, 7), 0),
        (3, dt.datetime(2024, 1, 1, 7), 1),
        (3, dt.datetime(2024, 1, 2, 7), 2),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, arrival int")
    src = os.path.join(TMP, "d5_disorder_slices")
    if os.path.exists(src):
        shutil.rmtree(src)
    split_into_files(ev, 3, "arrival", src)
    sdf = stream_from(spark, src, ev)
    got = (
        run_available_now(daily_new_flags_stream(sdf, "user_id", ts="ts"))
        .groupBy("user_id", "cur_date")
        .agg(F.sum("uu").alias("uu"), F.sum("new_delta").alias("is_first_ever"))
    )
    batch = daily_new_flags(ev, "user_id", "ts").select(
        "user_id", "cur_date", F.lit(1).alias("uu"), "is_first_ever"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


@pytest.mark.slow
def test_streaming_nb_model_equals_batch_confusion(spark):
    """INCREMENTAL CLASSIFIER TRAINING: multinomial NB's sufficient
    statistic is pure counts, so the model trains as a rollup merge while
    labeled docs stream in (no gradient passes, no replay of old data).
    The grid/priors derived from the accumulated state must score the
    held-out split into EXACTLY the batch twin's confusion matrix — the
    quantized-integer arithmetic makes stream-trained == batch-trained
    bit-for-bit, not approximately."""
    from gmall_flink_spark.functions.text import tokenize
    from gmall_flink_spark.llm.classify import (
        nb_count_partial,
        nb_score,
        nb_state_model,
    )
    from gmall_flink_spark.queries.classify import NB_HOLDOUT_MOD, nb_lang_confusion
    from gmall_flink_spark.sinks.rollup import rollup_writer

    state = os.path.join(TMP, "nb_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents").select("doc_id", "lang", "text")
    train_docs = docs.where(F.pmod("doc_id", F.lit(NB_HOLDOUT_MOD)) != 0)
    src_dir = os.path.join(TMP, "nb_train_slices")
    split_into_files(train_docs, 3, "doc_id", src_dir)

    sdf = stream_from(spark, src_dir, train_docs)
    run_available_now(
        sdf,
        foreach_batch=rollup_writer(
            state, ["kind", "cls", "t"], nb_count_partial(label_col="lang")
        ),
    )
    grid, priors = nb_state_model(spark, state)
    holdout = docs.where(F.pmod("doc_id", F.lit(NB_HOLDOUT_MOD)) == 0).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(tokenize("text")).alias("t"),
    )
    got = (
        nb_score(holdout, grid, priors, keep_cols=("true_lang",))
        .where(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cls").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("doc_ct"), F.sum("total").alias("score_sum"))
    )
    batch = nb_lang_confusion(spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_nation_order_window_pipeline_end_to_end(spark):
    """DwsTradeProvinceOrderWindow as ONE availableNow query — order_info
    insert envelopes → broadcast geo enrichment → self-union EXACT
    distinct-user branch (dedup on (user, 30-day epoch bucket)) → A4/A6
    window agg — equals the batch twin dws_nation_order_window exactly,
    including the countDistinct column. The sentinel's user_id can never
    join customer, so the watermark sits above the join."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope
    from gmall_flink_spark.streaming.pipelines import (
        nation_order_window_stream,
        sentinel_envelope_slices,
    )

    env = orders_envelope(spark, SF)
    slices = os.path.join(TMP, "nation_env_slices")
    split_into_files(env, 4, "ts", slices)
    far = int(env.agg(F.max("ts")).collect()[0][0]) + 864_000_000  # +10k days
    sentinel_envelope_slices(
        spark, slices, "order_info",
        {"id": "-9", "user_id": "-9", "total_amount": "0"},
        far,
    )
    got = run_available_now(
        nation_order_window_stream(
            stream_from(spark, slices, env),
            table(spark, SF, "customer"),
            table(spark, SF, "nation"),
        )
    )
    batch = all_queries()["dws_nation_order_window"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_streaming_datasheet_card_equals_batch(spark):
    """INCREMENTAL DATASET-CARD maintenance: the card's algebraic columns
    (volume, quality mass, language spread) accumulate through the rollup
    sink as the corpus streams in; the state-derived card must equal the
    batch corpus_datasheet's corresponding columns exactly — governance
    that stays fresh per micro-batch without rescanning history."""
    from gmall_flink_spark.llm.corpus import datasheet_partial, datasheet_state_card
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sinks.rollup import rollup_writer

    state = os.path.join(TMP, "datasheet_state")
    if os.path.exists(state):
        shutil.rmtree(state)
    docs = table(spark, SF, "documents")
    src_dir = os.path.join(TMP, "datasheet_slices")
    split_into_files(docs, 3, "doc_id", src_dir)
    run_available_now(
        stream_from(spark, src_dir, docs),
        foreach_batch=rollup_writer(
            state, ["kind", "source", "lang"], datasheet_partial()
        ),
    )
    got = datasheet_state_card(spark, state)
    cols = ["source", "doc_ct", "token_ct", "lang_ct", "score_sum"]
    batch = all_queries()["corpus_datasheet"](spark, SF).select(*cols)
    assert rows(got, cols) == rows(batch, cols) and got.count() > 0


def test_refund_region_pipeline_end_to_end(spark):
    """DwdTradeRefundOrderDetail as ONE availableNow query in COMPLETE
    mode — the suite's one non-windowed continuous aggregate: transition
    filter → 3 broadcast dims → region running totals. The transform IS
    the batch twin's function, so equality pins a single implementation;
    no sentinels needed (complete mode has no watermark to drain)."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope
    from gmall_flink_spark.streaming.pipelines import refund_region_stream

    env = orders_envelope(spark, SF)
    slices = os.path.join(TMP, "refund_env_slices")
    split_into_files(env, 4, "ts", slices)
    got = run_available_now(
        refund_region_stream(
            stream_from(spark, slices, env),
            table(spark, SF, "customer"),
            table(spark, SF, "nation"),
            table(spark, SF, "region"),
        ),
        output_mode="complete",
    )
    batch = all_queries()["cdc_refund_region"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


def test_cancel_segment_pipeline_end_to_end(spark):
    """DwdCancelOrderDetail as ONE availableNow query in COMPLETE mode —
    P6 any→1003 transition filter → broadcast customer lookup →
    segment running totals; the transform IS the batch twin's function
    (cancel_segment_frame), so equality pins one implementation."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope
    from gmall_flink_spark.streaming.pipelines import cancel_segment_stream

    env = orders_envelope(spark, SF)
    slices = os.path.join(TMP, "cancel_env_slices")
    split_into_files(env, 4, "ts", slices)
    got = run_available_now(
        cancel_segment_stream(
            stream_from(spark, slices, env), table(spark, SF, "customer")
        ),
        output_mode="complete",
    )
    batch = all_queries()["cdc_cancel_enrich"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


def test_refund_pay_suc_pipeline_end_to_end(spark):
    """DwdTradeRefundPaySuc as ONE availableNow query in COMPLETE mode —
    P7 exact 1001→1004 transition → two chained broadcast lookups →
    nation running totals; transform shared verbatim with
    cdc_refund_pay_suc (refund_pay_suc_frame)."""
    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.sources.cdc_synth import orders_envelope
    from gmall_flink_spark.streaming.pipelines import refund_pay_suc_stream

    env = orders_envelope(spark, SF)
    slices = os.path.join(TMP, "refundpay_env_slices")
    split_into_files(env, 4, "ts", slices)
    got = run_available_now(
        refund_pay_suc_stream(
            stream_from(spark, slices, env),
            table(spark, SF, "customer"),
            table(spark, SF, "nation"),
        ),
        output_mode="complete",
    )
    batch = all_queries()["cdc_refund_pay_suc"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_bloom_index_sink_equals_batch_build(spark):
    """Streaming bloom maintenance: bit positions accrete through the
    rollup sink while document batches stream in (a bloom is a pure OR —
    position-count merge subsumes it); the accumulated position set must
    equal the batch bloom_build, and probing with the streamed filter
    must yield identical verdicts — the ingest-time dedup pre-filter as
    continuously-maintained state."""
    from gmall_flink_spark.functions.text import tokenize
    from gmall_flink_spark.operators.sketch import (
        bloom_build,
        bloom_positions,
        bloom_probe,
    )
    from gmall_flink_spark.sinks.rollup import read_state, rollup_writer

    docs = table(spark, SF, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize("text"))))
        ).alias("f"),
    )
    prior = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
    slices = os.path.join(TMP, "bloom_slices")
    split_into_files(prior, 3, "doc_id", slices)
    state = os.path.join(TMP, "bloom_state")
    if os.path.exists(state):
        shutil.rmtree(state)

    def partial(df):
        return (
            df.select(F.explode(bloom_positions(F.col("f"))).alias("pos"))
            .groupBy("pos")
            .agg(F.count(F.lit(1)).alias("hit_ct"))
        )

    run_available_now(
        stream_from(spark, slices, prior),
        foreach_batch=rollup_writer(state, ["pos"], partial),
    )
    streamed = read_state(spark, state).select("pos")
    batch = bloom_build(prior, "f")
    assert rows(streamed) == rows(batch)

    probe = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
    got = bloom_probe(probe, "f", streamed)
    want = bloom_probe(probe, "f", batch)
    assert rows(got) == rows(want) and got.where("maybe_dup = 1").count() > 0


@pytest.mark.slow
def test_dim_app_supervised_end_to_end(spark):
    """DimApp as a SUPERVISED end-to-end run (P1/P2→J6→P8→K4 under W12,
    app/dim/DimApp.java:37-109 + the reference's fixed-delay restart):
    topic_db envelope stream → config route → per-table keyed MERGE into
    the dim store, with a transient failure injected on the second batch
    — run_supervised restarts from the checkpoint and the final per-table
    state equals the batch composition's keep-last-per-PK exactly (the
    MERGE is idempotent, so the replayed batch lands once)."""
    from gmall_flink_spark.operators.dedup import keep_last
    from gmall_flink_spark.plans.pipelines import run as run_plan
    from gmall_flink_spark.queries.cdc import _config_df
    from gmall_flink_spark.sinks._bucketed import read_state
    from gmall_flink_spark.sinks.upsert import dim_store_writer
    from gmall_flink_spark.sources.cdc_synth import topic_db_envelope
    from gmall_flink_spark.streaming.pipelines import dim_app_stream
    from gmall_flink_spark.streaming.supervise import run_supervised

    env = topic_db_envelope(spark, SF)
    slices = os.path.join(TMP, "dimapp_env_slices")
    split_into_files(env, 4, "ts", slices)
    store = os.path.join(TMP, "dimapp_store")
    ckpt = os.path.join(TMP, "dimapp_ckpt")
    for p in (store, ckpt):
        if os.path.exists(p):
            shutil.rmtree(p)

    writer = dim_store_writer(store)
    calls = {"n": 0}

    def flaky(batch_df, batch_id):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected transient dim-store failure")
        writer(batch_df, batch_id)

    restarts = run_supervised(
        lambda: dim_app_stream(stream_from(spark, slices, env), _config_df(spark)),
        flaky,
        ckpt,
    )
    assert restarts == 1

    batch = run_plan("DimApp", spark, SF).withColumn(
        "pk", F.element_at("data_pruned", "id").cast("bigint")
    )
    want = keep_last(batch, ["pk"], ["ts"]).select(
        "pk", "type", F.map_entries("data_pruned").alias("kv"), "ts"
    )
    got = read_state(spark, os.path.join(store, "dim_order_info")).select(
        "pk", "type", F.map_entries("data_pruned").alias("kv"), "ts"
    )
    def kvrows(df):
        return sorted(
            (r["pk"], r["type"], tuple(sorted(map(tuple, r["kv"]))), r["ts"])
            for r in df.collect()
        )
    assert kvrows(got) == kvrows(want) and got.count() > 0


@pytest.mark.slow
def test_dwd_base_app_supervised_end_to_end(spark):
    """DwdBaseApp as a SUPERVISED end-to-end run (P1/P2→J6→P8→K2 under
    W12, app/dwd/DwdBaseApp.java:37-110): config-routed fan-out through
    the replay-guarded topic_router, with a failure injected AFTER batch
    1's append — the restart redelivers batch 1 and the lineage marker
    must skip it, so the per-topic content equals the batch route with
    ZERO duplicates (the at-least-once append hole the marker closes)."""
    from gmall_flink_spark.operators.cdc import drop_bootstrap, route_with_config
    from gmall_flink_spark.queries.cdc import _config_df
    from gmall_flink_spark.sinks.upsert import topic_router
    from gmall_flink_spark.sources.cdc_synth import topic_db_envelope
    from gmall_flink_spark.streaming.pipelines import dwd_base_app_stream
    from gmall_flink_spark.streaming.supervise import run_supervised

    env = topic_db_envelope(spark, SF)
    slices = os.path.join(TMP, "dwdbase_env_slices")
    split_into_files(env, 4, "ts", slices)
    out = os.path.join(TMP, "dwdbase_topics")
    ckpt = os.path.join(TMP, "dwdbase_ckpt")
    for p in (out, ckpt):
        if os.path.exists(p):
            shutil.rmtree(p)

    writer = topic_router(out)
    fails = {"armed": True}

    def flaky(batch_df, batch_id):
        writer(batch_df, batch_id)
        if batch_id == 1 and fails["armed"]:
            fails["armed"] = False
            raise RuntimeError("injected post-append failure")

    restarts = run_supervised(
        lambda: dwd_base_app_stream(
            stream_from(spark, slices, env), _config_df(spark)
        ),
        flaky,
        ckpt,
    )
    assert restarts == 1

    got = spark.read.parquet(out).select("sink_table", "id", "ts")
    batch = route_with_config(drop_bootstrap(env), _config_df(spark)).select(
        "sink_table", F.element_at("data_pruned", "id").cast("bigint").alias("id"), "ts"
    )
    assert rows(got) == rows(batch) and got.count() > 0


@pytest.mark.slow
def test_dim_and_dwd_combined_supervised_end_to_end(spark):
    """The lab DimAndDwdApp (M3 dual-sink routing) as ONE SUPERVISED
    stream: each micro-batch of the single topic_db stream MERGEs its
    dim routes into the per-table store AND appends its dwd routes
    through the marker-guarded topic router. A failure injected BETWEEN
    the two writes exercises the crash-safety ordering: on replay the
    dim MERGE re-applies idempotently and the append (not yet marked)
    lands exactly once — both final states equal their batch
    compositions."""
    from gmall_flink_spark.operators.cdc import drop_bootstrap, route_with_config
    from gmall_flink_spark.operators.dedup import keep_last
    from gmall_flink_spark.plans.pipelines import run as run_plan
    from gmall_flink_spark.queries.cdc import _config_df
    from gmall_flink_spark.sinks._bucketed import read_state
    from gmall_flink_spark.sources.cdc_synth import topic_db_envelope
    from gmall_flink_spark.streaming.pipelines import dim_and_dwd_writer
    from gmall_flink_spark.streaming.supervise import run_supervised

    env = topic_db_envelope(spark, SF)
    slices = os.path.join(TMP, "dimdwd_env_slices")
    split_into_files(env, 4, "ts", slices)
    store = os.path.join(TMP, "dimdwd_store")
    topics = os.path.join(TMP, "dimdwd_topics")
    ckpt = os.path.join(TMP, "dimdwd_ckpt")
    for p in (store, topics, ckpt):
        if os.path.exists(p):
            shutil.rmtree(p)

    config = _config_df(spark)
    fails = {"armed": True}

    def inject(batch_id):
        if batch_id == 1 and fails["armed"]:
            fails["armed"] = False
            raise RuntimeError("injected failure between the dual sinks")

    writer = dim_and_dwd_writer(config, store, topics, between=inject)
    restarts = run_supervised(
        lambda: stream_from(spark, slices, env), writer, ckpt
    )
    assert restarts == 1

    batch_dim = run_plan("DimApp", spark, SF).withColumn(
        "pk", F.element_at("data_pruned", "id").cast("bigint")
    )
    want_dim = keep_last(batch_dim, ["pk"], ["ts"]).select(
        "pk", F.map_entries("data_pruned").alias("kv")
    )
    got_dim = read_state(spark, os.path.join(store, "dim_order_info")).select(
        "pk", F.map_entries("data_pruned").alias("kv")
    )
    def kvrows(df):
        return sorted(
            (r["pk"], tuple(sorted(map(tuple, r["kv"])))) for r in df.collect()
        )
    assert kvrows(got_dim) == kvrows(want_dim) and got_dim.count() > 0

    got_dwd = spark.read.parquet(topics).select("sink_table", "id", "ts")
    want_dwd = route_with_config(drop_bootstrap(env), config).select(
        "sink_table",
        F.element_at("data_pruned", "id").cast("bigint").alias("id"),
        "ts",
    )
    assert rows(got_dwd) == rows(want_dwd) and got_dwd.count() > 0


@pytest.mark.slow
def test_user_register_window_pipeline_end_to_end(spark):
    """DwsUserUserRegisterWindow as ONE availableNow query — events
    stream → D4 (user, day) dedup → per-day unique counts in day
    windows — equals the batch twin uv_daily exactly. Two same-timestamp
    far-future sentinel events close every real window and self-exclude
    (their own window never closes)."""
    import datetime as dt

    from gmall_flink_spark.registry import all_queries
    from gmall_flink_spark.streaming.pipelines import (
        _append_sentinel_slices,
        user_register_window_stream,
    )

    ev = table(spark, SF, "events").select("user_id", "ts")
    slices = os.path.join(TMP, "register_ev_slices")
    split_into_files(ev, 4, "ts", slices)
    far = ev.agg(F.max("ts")).collect()[0][0] + dt.timedelta(days=10_000, hours=6)
    _append_sentinel_slices(
        slices,
        lambda j: spark.createDataFrame([(-9, far)], "user_id bigint, ts timestamp"),
        2,
    )
    got = run_available_now(
        user_register_window_stream(stream_from(spark, slices, ev))
    )
    batch = all_queries()["uv_daily"](spark, SF)
    assert rows(got) == rows(batch) and got.count() > 0
