"""The engine's Python worker daemon (``trace_parquet_spark.worker_daemon``):
the zip-importer invalidation it installs still picks up a changed
archive and skips an unchanged one, the session's workers run it, and
they import the engine whatever the driver's working directory is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trace_parquet_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tps_zip_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("tps_zip_a", "tps_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tps_zip_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    importlib.invalidate_caches()  # first call: no stamp yet, reads
    _write_zip(archive, {"tps_zip_a.py": "X = 1\n", "tps_zip_b.py": "Y = 2\n"})
    importlib.invalidate_caches()  # the archive changed: reads again
    assert importlib.import_module("tps_zip_b").Y == 2
    assert len(reads) == 2

    importlib.invalidate_caches()  # unchanged: no read
    assert len(reads) == 2

    os.remove(archive)  # stat fails: the stock invalidation runs
    importlib.invalidate_caches()
    assert len(reads) == 3
    assert sys.path_importer_cache.pop(archive)._files == {}


def test_workers_run_the_engine_daemon(spark):
    @F.pandas_udf(T.StringType())
    def invalidation_source(s: pd.Series) -> pd.Series:
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return s.map(lambda _: os.path.basename(code.co_filename))

    got = spark.range(4).select(invalidation_source("id").alias("f")).collect()
    assert {r.f for r in got} == {"worker_daemon.py"}


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    """The engine is on the driver's sys.path only, not in PYTHONPATH,
    and the driver runs outside the repo: a UDF that lives in the
    engine still runs on the workers."""
    script = textwrap.dedent(
        f"""
        import gzip
        import sys

        sys.path.insert(0, {REPO!r})
        from trace_parquet_spark.functions.gzip_codec import gunzip_utf8
        from trace_parquet_spark.session import get_spark

        spark = get_spark(app_name="cwd-check", cpus=1, driver_memory="1g")
        df = spark.createDataFrame([(gzip.compress(b'{{"v": 1}}'),)], "b binary")
        print("ROW", df.select(gunzip_utf8("b")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert 'ROW {"v": 1}' in out.stdout
