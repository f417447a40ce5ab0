"""The engine's Python worker daemon (`usgs_lidar_spark/worker_daemon.py`):
an archive is re-read only if it changed, and the session's workers run
under the daemon."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pyarrow as pa

from usgs_lidar_spark import worker_daemon
from usgs_lidar_spark.session import PACKAGE_ROOT


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_wrapper_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a": "X = 1\n"})
    reads = []
    reread = worker_daemon._reread

    def counting(importer):
        reads.append(importer.archive)
        reread(importer)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    importer = zipimport.zipimporter(str(archive))

    worker_daemon.invalidate_caches(importer)  # the first call always reads
    assert len(reads) == 1
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 1  # unchanged archive: not re-read
    assert importer.find_spec("mod_b") is None

    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2  # rewritten archive: re-read once
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2

    spec = importer.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_python_tasks_run_under_the_engine_daemon(spark):
    def wrapper_name(batches):
        f = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"name": [f"{f.__module__}:{f.__qualname__}"] * b.num_rows}
            )

    rows = (
        spark.range(4, numPartitions=1)
        .mapInArrow(wrapper_name, "name string")
        .collect()
    )
    assert {r.name for r in rows} == {
        "usgs_lidar_spark.worker_daemon:invalidate_caches"
    }


def test_get_spark_sets_daemon_and_worker_path(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "usgs_lidar_spark.worker_daemon"
    )
    path = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert path[0] == PACKAGE_ROOT
    assert os.path.isfile(
        os.path.join(PACKAGE_ROOT, "usgs_lidar_spark", "worker_daemon.py")
    )
