"""The Python worker daemon (`flink_parent_spark.worker_daemon`): its
`invalidate_caches` keeps zip archive directories, still refreshes directory
finders, and is what the workers of a `get_spark` session run, while the
driver keeps the stdlib function."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from flink_parent_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _isolate_import_state(monkeypatch, *entries):
    """Put `entries` first on a copy of `sys.path` and give the test its own
    `sys.path_importer_cache`; monkeypatch restores both."""
    monkeypatch.setattr(sys, "path", [str(e) for e in entries] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))


def test_zip_archive_directory_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("fps_zipped_mod.py", "VALUE = 7\n")
    _isolate_import_state(monkeypatch, archive)
    monkeypatch.delitem(sys.modules, "fps_zipped_mod", raising=False)

    assert importlib.import_module("fps_zipped_mod").VALUE == 7
    monkeypatch.delitem(sys.modules, "fps_zipped_mod")
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    directory = zipimport._zip_directory_cache[str(archive)]  # noqa: SLF001

    worker_daemon.invalidate_caches()
    assert zipimport._zip_directory_cache[str(archive)] is directory  # noqa: SLF001
    assert importlib.import_module("fps_zipped_mod").VALUE == 7

    # the stdlib call is the one that re-reads (or drops) the directory
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache.get(str(archive)) is not directory  # noqa: SLF001


def test_directory_finders_are_still_invalidated(tmp_path, monkeypatch):
    pkg_dir = tmp_path / "on_path"
    pkg_dir.mkdir()
    _isolate_import_state(monkeypatch, pkg_dir)
    assert importlib.util.find_spec("fps_late_mod") is None  # caches the listing

    # Keep the directory's mtime, so only an invalidation (not FileFinder's
    # own mtime check) can reveal the new file.
    before = os.stat(pkg_dir)
    (pkg_dir / "fps_late_mod.py").write_text("VALUE = 11\n")
    os.utime(pkg_dir, ns=(before.st_atime_ns, before.st_mtime_ns))
    assert importlib.util.find_spec("fps_late_mod") is None

    worker_daemon.invalidate_caches()
    monkeypatch.delitem(sys.modules, "fps_late_mod", raising=False)
    assert importlib.import_module("fps_late_mod").VALUE == 11
    monkeypatch.delitem(sys.modules, "fps_late_mod")


def test_none_finder_entries_are_dropped(tmp_path, monkeypatch):
    _isolate_import_state(monkeypatch)
    missing = str(tmp_path / "no_such_dir")
    sys.path_importer_cache[missing] = None

    worker_daemon.invalidate_caches()
    assert missing not in sys.path_importer_cache


def test_workers_run_the_daemon_and_the_driver_keeps_stdlib(spark):
    def worker_invalidate_module(batches):
        import pandas as pd  # noqa: PLC0415

        for _ in batches:
            pass
        yield pd.DataFrame({"module": [importlib.invalidate_caches.__module__]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(worker_invalidate_module, "module string")
        .collect()
    )
    assert {r["module"] for r in rows} == {"flink_parent_spark.worker_daemon"}
    assert importlib.invalidate_caches.__module__ == "importlib"


_CWD_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from flink_parent_spark.session import get_spark

spark = get_spark("worker_daemon_cwd", cpus=1)

@F.pandas_udf("long")
def plus_one(v: pd.Series) -> pd.Series:
    return v + 1

got = sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect())
assert got == [1, 2, 3], got
print("PANDAS-UDF-OK")
"""


def test_session_started_outside_the_checkout_runs_a_pandas_udf(tmp_path):
    """The daemon module imports from the checkout root that `get_spark`
    puts on the workers' PYTHONPATH, whatever the driver's directory."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=240,
    )
    assert "PANDAS-UDF-OK" in out.stdout, out.stderr[-2000:]
