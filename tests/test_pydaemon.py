"""remine_spark.pydaemon: task start-up keeps the stock cache invalidation
but re-reads a zip archive's directory only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport
from importlib import _bootstrap_external

import pandas as pd
import pytest
from pyspark import worker_util

from remine_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_python_task_runs_the_shim(spark):
    def probe(batches):
        import pyspark.worker_util as wu
        from remine_spark import pydaemon as pd_

        for _ in batches:
            pass
        yield pd.DataFrame({
            "shim": [wu.importlib.invalidate_caches is pd_.invalidate_caches],
            "archives": [sorted(pd_._read_at)],
        })

    rows = (spark.range(2, numPartitions=2)
            .mapInPandas(probe, "shim boolean, archives array<string>")
            .collect())
    assert [r.shim for r in rows] == [True, True]
    # the daemon recorded pyspark.zip before forking the worker
    assert all(any(a.endswith("pyspark.zip") for a in r.archives)
               for r in rows)


def test_shim_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe_mods.zip")
    _write_zip(archive, {"pydaemon_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(pydaemon, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("pydaemon_probe_a").X == 1
        pydaemon.record_archives()
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        sys.path_importer_cache["relative/entry"] = None
        sys.path_importer_cache[str(tmp_path / "gone")] = None
        epoch = _bootstrap_external._NamespacePath._epoch
        pydaemon.invalidate_caches()
        assert archive not in reads
        assert "relative/entry" not in sys.path_importer_cache
        assert str(tmp_path / "gone") not in sys.path_importer_cache
        assert _bootstrap_external._NamespacePath._epoch == epoch + 1

        importlib.invalidate_caches()  # the stock call re-reads it
        assert archive in reads

        reads.clear()
        _write_zip(archive, {"pydaemon_probe_a": "X = 1\n",
                             "pydaemon_probe_b": "Y = 2\n"})
        pydaemon.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("pydaemon_probe_b").Y == 2

        reads.clear()
        pydaemon.invalidate_caches()
        assert archive not in reads
    finally:
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.parametrize("has_importlib", [True, False])
def test_main_shims_worker_util_or_falls_back(monkeypatch, has_importlib):
    from pyspark import daemon

    managed = []
    monkeypatch.setattr(daemon, "manager", lambda: managed.append(True))
    monkeypatch.setattr(pydaemon, "_read_at", {})
    if has_importlib:
        monkeypatch.setattr(worker_util, "importlib", importlib)
    else:
        monkeypatch.delattr(worker_util, "importlib")

    pydaemon.main()

    assert managed == [True]
    if has_importlib:
        assert (worker_util.importlib.invalidate_caches
                is pydaemon.invalidate_caches)
        assert worker_util.importlib.import_module is importlib.import_module
    else:
        assert not hasattr(worker_util, "importlib")
        assert pydaemon._read_at == {}
