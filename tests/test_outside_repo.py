"""The package runs from a cwd outside the repo with PYTHONPATH unset.

A foreign driver puts the package on its own ``sys.path`` only; Spark's
Python workers then cannot import it, so every function a worker calls
must reach them by value (``gmall_flink_spark/__init__.py``). pytest runs
from the repo root, where the workers can import the package, which hides
a by-reference function; this test runs a child driver from ``tmp_path``
instead. The child also checks that its workers run under the
package's worker daemon (``gmall_flink_spark/_worker``) and still
cannot import the package.

Process hygiene: the child stops its session in a ``finally``; the parent
starts it in a new session, kills whatever of that session is still
running at the end, and fails if anything survives (pyspark's worker
daemon sits in its own process group, so killing the child's group alone
could miss it).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 300

CHILD = r"""
import os
import sys
import traceback

repo, work, sf = sys.argv[1:4]
sys.path.insert(0, repo)  # the driver's sys.path only; workers never see it

from gmall_flink_spark.session import get_spark
from gmall_flink_spark.streaming import core

core._STREAM_TMP = os.path.join(work, "stream")
spark = get_spark(
    "outside-repo", master="local[2]", shuffle_partitions=2,
    extra_conf={"spark.driver.memory": "1g"},
)


def rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def stream():
    from gmall_flink_spark.operators.dedup import first_per_day
    from gmall_flink_spark.sources.tables import table
    from gmall_flink_spark.streaming.core import run_available_now, split_into_files
    from gmall_flink_spark.streaming.stateful import first_per_day_stream

    ev = table(spark, sf, "events")
    path = split_into_files(ev, 1, "ts", os.path.join(work, "slices"))
    sdf = spark.readStream.schema(ev.schema).parquet(path)
    got = run_available_now(first_per_day_stream(sdf, "user_id"), timeout_s=120)
    cols = ["user_id", "cur_date"]
    want = rows(first_per_day(ev, "user_id"), cols)
    assert want and rows(got, cols) == want, "stream differs from its batch twin"


def media():
    from gmall_flink_spark.llm.multimodal import decode_media, media_real_table

    got = decode_media(media_real_table(spark, sf)).collect()
    assert got, "no media rows"
    for r in got:
        mid = r["media_id"]
        if mid % 3 == 0:
            w, h = mid % 31 + 1, mid % 17 + 1
            rgb = mid % 256 + mid * 7 % 256 + mid * 13 % 256
            assert (r["decoder"], r["width"], r["height"], r["content_sum"]) == (
                "png", w, h, w * h * rgb), mid
        elif mid % 3 == 1:
            n, rate = mid % 50 + 10, 8000 + mid % 3 * 4000
            total = sum((mid * 31 + i * 17) % 65536 - 32768 for i in range(n))
            assert (r["decoder"], r["sample_rate"], r["content_sum"]) == (
                "wav", rate, total), mid
        else:
            assert (r["decoder"], r["byte_len"]) == ("stub", mid % 100 + 1), mid


def daemon():
    def probe(_):
        import sys

        try:
            import gmall_flink_spark  # noqa: F401

            importable = True
        except ImportError:
            importable = False
        yield sys.modules["__main__"].__spec__.name, importable

    got = set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect())
    assert got == {("gmall_daemon", False)}, got


try:
    for part in (stream, media, daemon):
        try:
            part()
            print(f"{part.__name__}: ok", flush=True)
        except Exception as exc:
            traceback.print_exc()
            print(f"{part.__name__}: FAIL {type(exc).__name__}: "
                  f"{str(exc).splitlines()[0][:300] if str(exc) else ''}", flush=True)
finally:
    spark.stop()
"""


def _session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (field 6 of /proc/<pid>/stat)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _end_session(sid: int, grace_s: float) -> None:
    """Give the processes of session ``sid`` ``grace_s`` seconds to exit on
    their own (the JVM exits when its Python driver has gone, the worker
    daemon when the JVM has), then SIGKILL whatever is left."""
    deadline = time.monotonic() + grace_s
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.2)


def test_stream_and_codecs_run_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD, REPO, str(tmp_path), SF_SMOKE],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _end_session(proc.pid, grace_s=0)
        proc.communicate()
        raise
    finally:
        _end_session(proc.pid, grace_s=20)
    assert not _session_pids(proc.pid), "a process outlived the child driver"
    report = [ln for ln in out.splitlines() if ln.startswith(("stream:", "media:", "daemon:"))]
    assert report == ["stream: ok", "media: ok", "daemon: ok"], (
        f"exit {proc.returncode}\n{out[-2000:]}\n{err[-4000:]}"
    )
    assert proc.returncode == 0, err[-4000:]
