"""Python-worker-side import cost: the engine's worker daemon and the
lazy ``plans`` package.

``worker_daemon`` makes ``zipimporter.invalidate_caches`` re-read an
archive only when its ``(st_mtime_ns, st_size)`` changed; the first
three tests drive that patch without Spark, on a throwaway archive.
The Spark tests check that local-master workers fork from that daemon,
and that unpickling a ``plans.similarity`` helper in a fresh worker
does not import the whole query registry.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (
    worker_daemon,
)

PACKAGE = "real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = ("zdaemon_probe_a", "zdaemon_probe_b")


def _write_archive(path, names) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one module, imported once through
    its ``zipimporter``; yields (path, list of archives each
    ``_read_directory`` call read). ``zipimporter.invalidate_caches``,
    ``sys.path`` and ``sys.modules`` are restored afterwards."""
    path = str(tmp_path / "lib.zip")
    _write_archive(path, MODULES[:1])
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(MODULES[0]).NAME == MODULES[0]
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    for name in MODULES:
        sys.modules.pop(name, None)


# 3.13+ invalidates lazily itself, and install() leaves it alone
patched_only = pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13+")


@patched_only
def test_unchanged_archive_is_read_once(archive):
    path, reads = archive
    worker_daemon.install()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    # importers of one archive share one read
    other = zipimport.zipimporter(path)
    other.invalidate_caches()
    assert reads.count(path) == 1
    assert other._files is sys.path_importer_cache[path]._files


@patched_only
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    worker_daemon.install()
    importlib.invalidate_caches()
    _write_archive(path, MODULES)
    with pytest.raises(ImportError):  # the importer still holds the old directory
        importlib.import_module(MODULES[1])
    importlib.invalidate_caches()
    assert importlib.import_module(MODULES[1]).NAME == MODULES[1]
    # an archive os.stat cannot see is re-read on every call, as before
    os.remove(path)
    n = reads.count(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == n + 2
    assert sys.path_importer_cache[path]._files == {}


def test_install_is_a_no_op_from_python_3_13(archive, monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_local_workers_fork_from_engine_daemon(spark):
    import pandas as pd

    def report(batches):
        import sys
        import zipimport

        for _ in batches:
            yield pd.DataFrame(
                {
                    "main": [sys.modules["__main__"].__spec__.name],
                    "invalidate": [zipimport.zipimporter.invalidate_caches.__qualname__],
                }
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(report, "main string, invalidate string")
        .collect()
    )
    assert {r.main for r in rows} == {worker_daemon.__name__}
    patched = sys.version_info < (3, 13)
    assert {r.invalidate for r in rows} == {
        "_stat_keyed.<locals>.invalidate_caches" if patched else "zipimporter.invalidate_caches"
    }


# runs in its own process: the session fixture's workers are reused and
# may have imported anything an earlier test unpickled
_SIGN_BANDS_PASS = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
from {PACKAGE} import get_spark
from {PACKAGE}.plans.similarity import _sign_bands
from {PACKAGE}.sources.tables import load_table

spark = get_spark("lazy-plans", cpus=1)
bands = _sign_bands(load_table(spark, "embeddings", sys.argv[1])).count()

def loaded(batches):
    import sys
    for _ in batches:
        yield pd.DataFrame({{m: [f"{PACKAGE}.plans.{{m}}" in sys.modules]
                             for m in ("similarity", "registry")}})

row = spark.range(1, numPartitions=1).mapInPandas(
    loaded, "similarity boolean, registry boolean").collect()[0]
print(json.dumps({{"bands": bands, **row.asDict()}}))
spark.stop()
"""


def test_sign_bands_worker_does_not_import_registry(sf_dir):
    """One local[1] worker runs a ``_sign_bands`` pass, then reports
    which plan modules it holds: ``similarity`` (it unpickled the
    kernel's helpers) and not ``registry``."""
    out = subprocess.run(
        [sys.executable, "-c", _SIGN_BANDS_PASS, sf_dir],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["bands"] > 0
    assert (got["similarity"], got["registry"]) == (True, False)
