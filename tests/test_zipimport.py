"""Lazy ``zipimport`` cache invalidation (``agnostic_blockchain_etl_spark/
_zipimport.py``): Spark's Python worker invalidates import caches at the
start of every task, which before Python 3.13 re-read every zip archive's
directory once per importer. These tests pin the semantics (a rewritten
archive is seen after invalidation), the laziness (invalidation reads
nothing; the next lookup reads once for all importers of the archive) and
that the Spark workers run with it installed. No timing asserts."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import agnostic_blockchain_etl_spark  # noqa: E402,F401 — installs the backport

ENGINE_MODULE = ("agnostic_blockchain_etl_spark._zipimport"
                 if sys.version_info < (3, 13) else "zipimport")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path):
    """An archive path plus unique module names; cleans ``sys.path``,
    the importer cache and ``sys.modules`` afterwards."""
    archive = str(tmp_path / "mods.zip")
    tag = uuid.uuid4().hex[:8]
    names = (f"zmod_a_{tag}", f"zmod_b_{tag}")
    entries = [archive, os.path.join(archive, "sub")]
    yield archive, names, entries
    for e in entries:
        if e in sys.path:
            sys.path.remove(e)
        sys.path_importer_cache.pop(e, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for n in names:
        sys.modules.pop(n, None)


def test_installed_on_this_interpreter():
    assert zipimport.zipimporter.invalidate_caches.__module__ == ENGINE_MODULE


def test_rewritten_archive_is_seen_after_invalidation(zip_on_path):
    archive, (a, b), _ = zip_on_path
    _write_zip(archive, {f"{a}.py": "X = 1\n"})
    sys.path.insert(0, archive)
    assert importlib.import_module(a).X == 1

    _write_zip(archive, {f"{a}.py": "X = 1\n", f"{b}.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(b).Y == 2
    del sys.modules[a]
    assert importlib.import_module(a).X == 1


def test_invalidation_reads_nothing_until_the_next_lookup(
        zip_on_path, monkeypatch):
    archive, (a, b), (root, sub) = zip_on_path
    _write_zip(archive, {f"{a}.py": "X = 1\n", f"sub/{b}.py": "Y = 2\n"})
    sys.path[:0] = [root, sub]          # two importers of one archive
    importlib.import_module(a)
    importlib.import_module(b)
    assert isinstance(sys.path_importer_cache[root], zipimport.zipimporter)
    assert isinstance(sys.path_importer_cache[sub], zipimport.zipimporter)

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()
    assert archive not in reads

    # the next lookups re-read the directory once, for both importers
    for n in (a, b):
        del sys.modules[n]
        importlib.import_module(n)
    assert reads.count(archive) == 1


def test_installed_in_every_python_worker():
    """A UDF job over 8 partitions: each task reports, from inside its
    Python worker, which ``zipimporter.invalidate_caches`` is installed.
    The UDF references an engine module, so unpickling it imports the
    engine package, as any engine UDF does."""
    from pyspark.sql.functions import pandas_udf

    from agnostic_blockchain_etl_spark.functions import hex as hexmod
    from agnostic_blockchain_etl_spark.session import get_session
    spark = get_session(master="local[8]",
                        conf={"spark.sql.shuffle.partitions": "8"})

    @pandas_udf("string")
    def installed(ids):
        import zipimport as zi
        hexmod.evm_hex_encode_int(0)
        return ids.map(lambda _: zi.zipimporter.invalidate_caches.__module__)

    rows = (spark.range(0, 8, numPartitions=8)
            .select(installed("id").alias("m")).collect())
    assert len(rows) == 8
    assert {r["m"] for r in rows} == {ENGINE_MODULE}
