"""pin_zip_importers: on a Python worker, importlib.invalidate_caches() must
stop re-reading the zip archives on sys.path, and later imports from those
archives must still resolve; the scan task functions pin as the kernel
closure does.  Runs without Spark: the worker flag is set by hand."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from rs_trafilatura_spark.plans.job import pin_zip_importers
from rs_trafilatura_spark.sources.fastscan import _bin_task
from rs_trafilatura_spark.streaming.pipeline import _parse_archives

PKG = "zip_pin_probe_pkg"


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package of two modules in a zip on sys.path, with the first
    module imported; yields the package's zip importer."""
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        zf.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        zf.writestr(f"{PKG}/second.py", "VALUE = 2\n")
    # a private importer cache: the pin must not leak into the session's
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(str(archive))
    for name in (PKG, f"{PKG}.first", f"{PKG}.second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module(f"{PKG}.first")
    importers = [imp for key, imp in sys.path_importer_cache.items()
                 if key.startswith(str(archive))]
    assert importers and all(
        type(imp) is zipimport.zipimporter for imp in importers)
    yield importers
    for name in (PKG, f"{PKG}.first", f"{PKG}.second"):
        sys.modules.pop(name, None)


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_pinned_importers_skip_archive_reads(zipped_pkg, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads, "an unpinned zip importer re-reads its archive"

    pin_zip_importers()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert all(isinstance(imp, zipimport.zipimporter) for imp in zipped_pkg)
    # a module of the same archive that was not imported yet still imports
    second = importlib.import_module(f"{PKG}.second")
    assert second.VALUE == 2


def test_pin_is_a_no_op_outside_a_worker(zipped_pkg, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    pin_zip_importers()
    assert all(type(imp) is zipimport.zipimporter for imp in zipped_pkg)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads


@pytest.mark.parametrize("task", [_bin_task([["a.parquet"]], iter),
                                  _parse_archives],
                         ids=["scan_bins", "read_warc_stream"])
def test_scan_task_functions_pin(zipped_pkg, monkeypatch, task):
    """A scan task function pins before it scans: a worker that runs no
    kernel closure is pinned too."""
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    reads = _count_reads(monkeypatch)
    assert list(task(iter([]))) == []
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
