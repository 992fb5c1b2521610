"""The Python worker daemon (``gmall_flink_spark/_worker/gmall_daemon.py``)
skips re-reading unchanged zip archives on each task; files shipped to
the workers after they started must still import."""

from __future__ import annotations

import uuid
import zipfile


def test_py_files_added_after_a_task_import_on_later_tasks(spark, tmp_path):
    """A zip and a plain .py added with ``addPyFile`` after a first Python
    task import on a later task of the same session: the per-task cache
    invalidation still sees new archives and new files in the workers'
    files directory."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    zipped, plain = f"daemon_probe_zip_{tag}", f"daemon_probe_py_{tag}"

    def ping(_):
        yield 1

    assert sc.parallelize(range(2), 2).mapPartitions(ping).collect() == [1, 1]

    archive = tmp_path / f"{zipped}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{zipped}.py", "VALUE = 'zip'\n")
    source = tmp_path / f"{plain}.py"
    source.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(source))

    def probe(_):
        import importlib

        yield tuple(importlib.import_module(m).VALUE for m in (zipped, plain))

    assert sc.parallelize(range(2), 2).mapPartitions(probe).collect() == [("zip", "py")] * 2


def test_changed_archive_is_reread(spark, tmp_path):
    """A zip already on a worker's ``sys.path`` that changes between two
    jobs is re-read: tasks of the second job import a module the first
    job's copy of the archive did not have, also on workers that opened
    the archive in the first job."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    archive = str(tmp_path / f"daemon_probe_{tag}.zip")
    first, second = f"daemon_probe_a_{tag}", f"daemon_probe_b_{tag}"

    def write(modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for m in modules:
                zf.writestr(f"{m}.py", f"VALUE = {m!r}\n")

    def run(module):
        def probe(_):
            import importlib
            import sys

            seen = archive in sys.path_importer_cache
            if archive not in sys.path:
                sys.path.insert(0, archive)
            yield seen, importlib.import_module(module).VALUE

        return sc.parallelize(range(8), 8).mapPartitions(probe).collect()

    write([first])
    assert {value for _, value in run(first)} == {first}
    write([first, second])
    got = run(second)
    assert {value for _, value in got} == {second}
    assert any(seen for seen, _ in got), "no worker was reused across the two jobs"
