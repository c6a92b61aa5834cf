"""The Python worker daemon (d3d_etl_spark/worker_daemon.py) and its wiring
in session.get_spark."""

from __future__ import annotations

import importlib
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

from d3d_etl_spark.worker_daemon import install_zip_guard

REPO = pathlib.Path(__file__).resolve().parents[1]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Repeated invalidation of an unchanged archive reads its directory
    no more; an archive rewritten with a new module is reread, and the new
    module imports."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first": "X = 1\n"})
    # restored at teardown, so the guard leaves this process as it found it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    install_zip_guard()
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_first").X == 1
        importlib.invalidate_caches()  # the importer records the archive's key
        del reads[:]
        for _ in range(5):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zg_second").Y == 2
    finally:
        for name in ("zg_first", "zg_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_WIRING = """
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from d3d_etl_spark.session import get_spark

spark = get_spark(app_name="worker-daemon-wiring", shuffle_partitions=2)

def argv0(batches):
    import sys
    for b in batches:
        yield pa.RecordBatch.from_arrays([pa.array([sys.argv[0]] * b.num_rows)], ["a"])

rows = spark.range(8).repartition(2).mapInArrow(argv0, "a string").distinct().collect()
print("ARGV0", *sorted(r.a for r in rows))
spark.stop()
"""


def test_daemon_wiring_from_another_directory(tmp_path):
    """A session started outside the repo, with no PYTHONPATH, still runs
    a by-value Python UDF, and its worker forked from worker_daemon: the
    package root reaches the workers through spark.executorEnv.PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", _WIRING.format(repo=str(REPO))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    line = next(ln for ln in done.stdout.splitlines() if ln.startswith("ARGV0"))
    argv0 = line.split()[1:]
    assert argv0 and all(a.endswith("worker_daemon.py") for a in argv0), line
