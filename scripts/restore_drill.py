#!/usr/bin/env python3
"""Checkpoint RESTORE drill — the recovery axis the r14 cadence probe
left unmeasured (CHANGELOG_KNOBS_r14.json reading #3).

The cadence sweep showed maintenance interval does NOT move checkpoint
volume (retention equalizes it) and barely moves wall; what it DOES move
is the changelog replay tail a restore must pay: a restore loads the
newest uploaded snapshot per state-store partition and replays every
.changelog version after it. Fewer snapshot uploads (longer interval) =
a longer replay tail. This drill measures that directly on the deepest
pipeline at the 100x construction (``build_deepest_inputs``, the inputs
the r14 changelog-knob probe ran on):

per maintenance interval (60s default / 600s ≈ never within the run):
  1. run the pipeline under changelog checkpointing for ~interrupt_s
     seconds of REAL progress, then stop() mid-stream (a crash stand-in);
  2. record the replay-tail shape from the checkpoint dir: per-partition
     max uploaded snapshot version vs max changelog version — the replay
     depth a restore will pay;
  3. restart from the same checkpoint and measure time-to-first-batch
     (dominated by state reload: snapshot download + changelog replay)
     and total time to drain the remaining input (availableNow);
  4. assert the final answer equals the uninterrupted run's hash recorded
     in CHANGELOG_KNOBS_r14.json (when that artifact matches this K/base).
     The sink is the parquet FILE sink — the memory sink refuses to
     restart from a checkpoint — whose commit log gives exactly-once
     across the interrupt, so the output dir holds the complete answer
     with no replay dedup needed. A restore must never change the answer;
     both the cross-interval and the cross-artifact equality are hard
     failures, not recorded notes.

Usage: python scripts/restore_drill.py [K] [base_sf_dir] [interrupt_s] [tags]
       (defaults: K=100, $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, 240,
        all runs; tags = comma-separated run tags to execute, e.g.
        "min_deltas_2" to add one knob run without re-paying the others)
Writes one JSON document to stdout; recorded in SCALE.md and committed
as RESTORE_DRILL_r14.json. Run on a QUIET host.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

TMP = "/tmp/gmall_restore_drill"

#: the drill matrix: (tag, maintenanceInterval override, minDeltasForSnapshot
#: override). The third run pins WHY the first two uploaded zero snapshots —
#: RocksDBConf honors minDeltasForSnapshot (default 10) and runs of this
#: shape commit fewer deltas, so promotion never fires; at 2 it fires
#: within-run and bounds the replay tail (see SCALE.md round-14).
_RUNS = (
    ("maint_60s_default", None, None),
    ("maint_600s", "600s", None),
    ("min_deltas_2", None, 2),
)
RUN_TAGS = [t for t, _, _ in _RUNS]
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
_MAINT_KEY = "spark.sql.streaming.stateStore.maintenanceInterval"
_MIN_DELTAS_KEY = "spark.sql.streaming.stateStore.minDeltasForSnapshot"


def replay_tail(state_dir: str) -> dict:
    """Per-partition snapshot-vs-changelog version gap: for every state
    store partition dir, max <v>.zip version and max <v>.changelog
    version. The restore replay depth for a partition is
    max(changelog) - max(zip_at_or_below_it); report the fleet max/mean."""
    gaps = []
    zips = 0
    for d, _, names in os.walk(state_dir):
        vz = [int(m.group(1)) for n in names if (m := re.match(r"^(\d+)\.zip$", n))]
        vc = [
            int(m.group(1))
            for n in names
            if (m := re.match(r"^(\d+)\.changelog$", n))
        ]
        if not vc:
            continue
        zips += len(vz)
        base = max([v for v in vz if v <= max(vc)], default=0)
        gaps.append(max(vc) - base)
    if not gaps:
        return {"partitions": 0}
    return {
        "partitions": len(gaps),
        "snapshot_zips": zips,
        "replay_depth_max": max(gaps),
        "replay_depth_mean": round(sum(gaps) / len(gaps), 1),
    }


def build_deepest_inputs(spark, base: str, k: int, tmp: str) -> dict:
    """Kx id-distinct envelope slice dirs for the deepest pipeline — the
    construction the r13 100x state-size probe and the r14 changelog-knob
    probe measured on (both retired; CHANGELOG_KNOBS_r14.json holds the
    uninterrupted answer hash). Returns {name: (slices_dir, schema)}."""
    from pyspark.sql import functions as F

    from sf1_replica import build_distinct_facts, build_scaled_dir

    from gmall_flink_spark.sources.cdc_synth import (
        activity_envelope,
        coupon_envelope,
        detail_envelope,
        orders_envelope,
    )
    from gmall_flink_spark.streaming.core import split_into_files
    from gmall_flink_spark.streaming.pipelines import sentinel_envelope_slices

    scaled = build_scaled_dir(base, k)
    build_distinct_facts(spark, scaled, base, k)
    specs = {
        "od": (detail_envelope(spark, scaled), "order_detail",
               {"id": "-1", "order_id": "-9", "sku_id": "-1",
                "sku_num": "1", "split_total_amount": "0"}),
        "oi": (orders_envelope(spark, scaled), "order_info",
               {"id": "-9", "user_id": "-9"}),
        "oa": (activity_envelope(spark, scaled), "order_detail_activity",
               {"order_detail_id": "-1", "activity_id": "-3"}),
        "oc": (coupon_envelope(spark, scaled), "order_detail_coupon",
               {"order_detail_id": "-1", "coupon_id": "-4"}),
    }
    pipe_inputs = {}
    for name, (env, tbl, data) in specs.items():
        slices = os.path.join(tmp, f"ouw_{name}")
        split_into_files(env, 4, "ts", slices)
        far = int(env.agg(F.max("ts")).collect()[0][0]) + 2_160_000_000
        sentinel_envelope_slices(spark, slices, tbl, data, far, n=4)
        pipe_inputs[name] = (slices, env.schema)
    return pipe_inputs


def deepest_stream(spark, pipe_inputs: dict):
    """The deepest pipeline (3 stream-stream joins + windowed distinct)
    over the slice dirs from build_deepest_inputs."""
    from gmall_flink_spark.streaming.pipelines import order_uu_window_stream

    streams = {
        name: spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(slices)
        for name, (slices, schema) in pipe_inputs.items()
    }
    return order_uu_window_stream(
        streams["od"], streams["oi"], streams["oa"], streams["oc"]
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    base = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    interrupt_s = int(sys.argv[3]) if len(sys.argv) > 3 else 240
    only_tags = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    if only_tags is not None:
        unknown = only_tags - set(RUN_TAGS)
        assert not unknown, (
            f"unknown run tags {sorted(unknown)}; have {RUN_TAGS}"
            " — a typo here would silently run zero drills"
        )

    from pyspark.sql import functions as F

    from gmall_flink_spark.session import STATE_STORE_PROVIDERS, get_spark

    spark = get_spark(app_name="restore-drill")
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.exists(TMP):
        shutil.rmtree(TMP)
    os.makedirs(TMP)
    pipe_inputs = build_deepest_inputs(spark, base, k, TMP)

    def answer_hash(res) -> str:
        cols = sorted(res.columns)
        return str(
            res.select(
                F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
                .alias("h")
            )
            .agg(
                F.sum(
                    F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)")
                )
            )
            .collect()[0][0]
        )

    def drill(maint: str | None, min_deltas: int | None = None) -> dict:
        name = f"d{uuid.uuid4().hex[:10]}"
        ckpt = os.path.join(TMP, "ckpt", name)
        # a RECOVERABLE sink is required (the memory sink refuses to
        # restart from a checkpoint); the parquet file sink's commit log
        # gives exactly-once across the interrupt, so the output dir
        # holds the complete answer with no replay dedup needed
        outdir = os.path.join(TMP, "out", name)
        confs = {
            _PROVIDER_KEY: STATE_STORE_PROVIDERS["rocksdb"],
            _CHANGELOG_KEY: "true",
        }
        if maint:
            confs[_MAINT_KEY] = maint
        if min_deltas is not None:
            confs[_MIN_DELTAS_KEY] = str(min_deltas)
        priors = {key: spark.conf.get(key, None) for key in confs}
        for key, val in confs.items():
            spark.conf.set(key, val)

        def start():
            return (
                deepest_stream(spark, pipe_inputs)
                .writeStream.option("checkpointLocation", ckpt)
                .option("path", outdir)
                .trigger(availableNow=True)
                .format("parquet")
                .outputMode("append")
                .start()
            )

        try:
            # phase 1: run, then interrupt mid-stream
            q = start()
            finished_early = q.awaitTermination(interrupt_s)
            pre_batches = None
            if q.lastProgress:
                pre_batches = q.lastProgress["batchId"]
            q.stop()
            state_dir = os.path.join(ckpt, "state")
            tail = replay_tail(state_dir)
            # phase 2: restore from the checkpoint and drain the rest
            t0 = time.perf_counter()
            q2 = start()
            first_commit_sec = None

            def _new_batch(lp) -> bool:
                return bool(lp) and (
                    pre_batches is None or lp["batchId"] > pre_batches
                )

            while first_commit_sec is None:
                if _new_batch(q2.lastProgress):
                    first_commit_sec = round(time.perf_counter() - t0, 2)
                    break
                if not q2.isActive:
                    # the query can terminate between polls (small K, or a
                    # near-drained pre-interrupt run): re-read the FINAL
                    # progress once after termination so the headline
                    # metric is never silently None when a batch committed
                    # — measured here it equals drain time, a true upper
                    # bound on time-to-first-commit
                    if _new_batch(q2.lastProgress):
                        first_commit_sec = round(time.perf_counter() - t0, 2)
                    break
                time.sleep(0.2)
            if not q2.awaitTermination(7200):
                q2.stop()
                raise TimeoutError("restore drain exceeded 7200s")
            drain_sec = round(time.perf_counter() - t0, 2)
            full = spark.read.parquet(outdir)
            out = {
                "maintenance_interval": maint or "60s (default)",
                "min_deltas_for_snapshot": min_deltas or "10 (default)",
                "interrupted_after_s": interrupt_s,
                "finished_before_interrupt": bool(finished_early),
                "batches_before_interrupt": pre_batches,
                "replay_tail": tail,
                "restore_first_commit_sec": first_commit_sec,
                "restore_drain_sec": drain_sec,
                "rows_out": full.count(),
                "answer_hash": answer_hash(full),
            }
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(outdir, ignore_errors=True)
            return out
        finally:
            for key, val in priors.items():
                if val is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, val)

    # the uninterrupted-run truth: every knob run in the r14 cadence probe
    # produced this hash; a restored run must reassemble exactly it
    ref = None
    knobs_path = os.path.join(REPO, "CHANGELOG_KNOBS_r14.json")
    if os.path.exists(knobs_path):
        with open(knobs_path) as fh:
            knobs = json.load(fh)
        if knobs.get("k") == k and knobs.get("base") == base:
            hashes = {r["answer_hash"] for r in knobs["runs"].values()}
            if len(hashes) == 1:
                ref = hashes.pop()

    result = {"k": k, "base": base, "uninterrupted_ref_hash": ref, "runs": {}}
    drill_ref = None
    runs = _RUNS
    for tag, maint, min_deltas in runs:
        if only_tags is not None and tag not in only_tags:
            continue
        t0 = time.time()
        r = drill(maint, min_deltas)
        r["matches_uninterrupted_ref"] = (ref is None) or (r["answer_hash"] == ref)
        assert r["matches_uninterrupted_ref"], (
            f"{tag}: restored answer hash {r['answer_hash']} != uninterrupted "
            f"reference {ref} from CHANGELOG_KNOBS_r14.json — a restore "
            "changed the ANSWER"
        )
        result["runs"][tag] = r
        if drill_ref is None:
            drill_ref = r["answer_hash"]
        else:
            assert r["answer_hash"] == drill_ref, f"{tag}: restore changed the ANSWER"
        print(
            f"# {tag}: first_commit {r['restore_first_commit_sec']}s "
            f"drain {r['restore_drain_sec']}s tail {r['replay_tail']} "
            f"(wall {round(time.time() - t0)}s)",
            file=sys.stderr,
            flush=True,
        )

    print(json.dumps(result, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
