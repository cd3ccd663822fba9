"""The engine's Python worker daemon (gomapreduce_spark.worker_daemon)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from gomapreduce_spark import worker_daemon

_ENGINE_FN = "gomapreduce_spark.worker_daemon.invalidate_caches"
_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))

    worker_daemon.invalidate_caches(imp)
    files = imp._files
    worker_daemon.invalidate_caches(imp)
    assert imp._files is files, "unchanged archive was re-read"
    assert imp.find_spec("added") is None

    _write_zip(archive, {"first": "X = 1\n", "added": "Y = 2\n"})
    worker_daemon.invalidate_caches(imp)
    assert imp._files is not files
    spec = imp.find_spec("added")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_invalidate_caches_falls_back_when_archive_is_gone(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(imp)
    archive.unlink()
    worker_daemon.invalidate_caches(imp)  # the stock re-read: empties _files
    assert imp._files == {}


def test_import_does_not_patch_zipimport():
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches


def _task_fn():
    import zipimport as zi

    f = zi.zipimporter.invalidate_caches
    return f"{f.__module__}.{f.__qualname__}"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily; no patch")
def test_rdd_and_map_in_pandas_tasks_run_under_the_engine_daemon(spark):
    import pandas as pd

    rdd_seen = spark.sparkContext.parallelize([0], 1).mapPartitions(
        lambda _: [_task_fn()]
    ).collect()

    def mip(batches):
        name = _task_fn()
        for _ in batches:
            pass
        yield pd.DataFrame({"fn": [name]})

    pandas_seen = [r.fn for r in spark.range(0, 1, 1, 1).mapInPandas(mip, "fn string").collect()]
    assert rdd_seen == [_ENGINE_FN]
    assert pandas_seen == [_ENGINE_FN]


def test_daemon_starts_outside_the_repo_without_pythonpath(tmp_path):
    """The daemon is found through the session's executorEnv PYTHONPATH,
    not through the JVM's working directory or the caller's environment."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {_REPO_DIR!r})\n"
        "from gomapreduce_spark.session import get_spark\n"
        "s = get_spark('daemon_cwd', cpus=1)\n"
        "s.sparkContext.setLogLevel('ERROR')\n"
        "print('RESULT', s.sparkContext.parallelize([1, 2, 3], 1).map(lambda x: x * 2).sum())\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT 12" in proc.stdout
