"""The Arrow kernels' per-task cost in Spark Python workers.

``operators/pyworker.install_zip_stat_check`` makes
``zipimporter.invalidate_caches`` re-read an archive's directory only when
its stat changed; the MinHash and SimHash kernels install it in the
workers they run in. The package root loads the compiler lazily, so a
worker that unpickles a kernel imports the kernel and not the compiler."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from duckdb_psql_spark.operators import pyworker

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kernel_import_skips_compiler():
    code = (
        "import sys\n"
        "import duckdb_psql_spark.operators.arrowhash\n"
        "import duckdb_psql_spark.operators.pyworker\n"
        "print(sorted(m for m in ('duckdb_psql_spark.compiler', 'pyspark.sql')"
        " if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, check=True, capture_output=True, text=True
    )
    assert out.stdout.strip() == "[]"


def test_package_root_names_still_import():
    from duckdb_psql_spark import PsqlSession, default_spark
    from duckdb_psql_spark.session import PsqlSession as S, default_spark as d

    assert PsqlSession is S and default_spark is d
    with pytest.raises(AttributeError):
        import duckdb_psql_spark

        duckdb_psql_spark.no_such_name  # noqa: B018


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def fresh_install(monkeypatch):
    """Run the install against this process, undone at teardown; yields
    a per-archive count of ``_read_directory`` calls."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_stdlib_invalidate", None)
    monkeypatch.setattr(pyworker, "_read", {})
    reads: dict = {}
    real = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"psql_zmod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import psql_zmod_a  # noqa: F401 — puts a zipimporter in sys.path_importer_cache

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    for m in ("psql_zmod_a", "psql_zmod_b"):
        sys.modules.pop(m, None)


def test_unchanged_archive_not_reread(zip_on_path, fresh_install):
    pyworker.install_zip_stat_check()
    pyworker.install_zip_stat_check()  # idempotent
    assert pyworker._stdlib_invalidate.__module__ == "zipimport"
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert fresh_install.get(zip_on_path, 0) == 0


def test_rewritten_archive_is_reread(zip_on_path, fresh_install):
    pyworker.install_zip_stat_check()
    _write_zip(zip_on_path, {"psql_zmod_a": "A = 1\n", "psql_zmod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert fresh_install[zip_on_path] == 1
    import psql_zmod_b

    assert psql_zmod_b.B == 2
    importlib.invalidate_caches()  # the new stat counts as read now
    assert fresh_install[zip_on_path] == 1


def test_stat_failure_falls_back_to_stdlib(zip_on_path, fresh_install):
    pyworker.install_zip_stat_check()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert fresh_install[zip_on_path] == 1
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_noop_from_cpython_3_13(fresh_install, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert pyworker._stdlib_invalidate is None


def test_kernel_installs_in_workers_only(spark):
    """After a MinHash run, one ``importlib.invalidate_caches()`` in a
    worker that ran the kernel reads no archive (16 reads without the
    helper); the driver keeps the stdlib function."""
    from duckdb_psql_spark.operators import dedup

    # built in the JVM: a createDataFrame source would run Python tasks too
    df = spark.range(64, numPartitions=4).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 11), j -> concat('w', (id * 7 + j) % 50))) AS text",
    )
    out = dedup.minhash_dup_pairs(
        df, id_col="doc_id", text_col="text", num_perm=16, bands=4,
        shingle_k=3, unique_ids=True,
    )
    out.collect()
    for p in dedup.take_pins(out):
        p.unpersist()

    def probe(batches):
        import importlib as il
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        n = [0]
        real = zi._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        installed = zi.zipimporter.invalidate_caches.__module__ != "zipimport"
        yield pa.RecordBatch.from_arrays(
            [pa.array([installed]), pa.array([n[0]], pa.int32())], names=["installed", "reads"]
        )

    # idle workers are handed out oldest first, so the probe runs enough
    # tasks to reach the workers the kernel stage just used
    res = (
        spark.range(64, numPartitions=32)
        .mapInArrow(probe, "installed boolean, reads int")
        .collect()
    )
    assert any(r.installed for r in res), res
    assert all(r.reads == 0 for r in res if r.installed), res
    assert all(r.reads > 0 for r in res if not r.installed), res
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
