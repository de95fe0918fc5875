"""session.py: the worker-side zip directory stat cache and the Spark
session helpers it sits beside.

Contracts: once installed, importlib.invalidate_caches() keeps an
unchanged archive's zip directory (no re-read) and re-reads a
rewritten one, whose new modules then import; Spark Python workers
running engine code install it, the driver never does."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pisa_spark import session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip directories lazily itself",
)
def test_stat_cache_keeps_unchanged_and_rereads_changed_zips(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pisa_zip_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    import pisa_zip_probe_a

    assert pisa_zip_probe_a.VALUE == 1
    monkeypatch.delitem(sys.modules, "pisa_zip_probe_a")
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    session.install_zip_stat_cache()
    session.install_zip_stat_cache()  # idempotent
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.stat_checked
    importlib.invalidate_caches()  # the first call reads once
    files = importer._files
    for _ in range(3):
        importlib.invalidate_caches()
        assert importer._files is files  # unchanged: nothing re-read

    _write_zip(
        archive,
        {"pisa_zip_probe_a": "VALUE = 1\n", "pisa_zip_probe_b": "VALUE = 2\n"},
    )
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importer._files is not files
    import pisa_zip_probe_b

    assert pisa_zip_probe_b.VALUE == 2
    monkeypatch.delitem(sys.modules, "pisa_zip_probe_b")


def test_workers_install_the_stat_cache_and_the_driver_does_not(spark):
    # the driver imported pisa_spark (conftest) and stays unpatched
    assert not getattr(
        zipimport.zipimporter.invalidate_caches, "stat_checked", False
    )
    if sys.version_info >= (3, 13):
        return  # the stat cache is CPython 3.13's own behaviour

    def probe(batches):
        # referencing pisa_spark makes the worker import it when it
        # unpickles this function, as every engine kernel does
        session.task_wave_partitions
        for _ in batches:
            pass
        yield pd.DataFrame({
            "installed": [bool(getattr(
                zipimport.zipimporter.invalidate_caches,
                "stat_checked", False,
            ))],
        })

    one = spark.range(1).coalesce(1)
    for _ in range(2):
        rows = one.mapInPandas(probe, "installed boolean").collect()
    assert rows[0]["installed"]
    assert not getattr(
        zipimport.zipimporter.invalidate_caches, "stat_checked", False
    )
