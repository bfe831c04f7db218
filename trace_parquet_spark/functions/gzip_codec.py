"""GZIP codec — the one true UDF of the faithful core (SURVEY §2 S3).

The reference gunzips each row's BLOB into UTF-8 JSON
(reference: util/GzipUtil.java:19-35, call site
service/ParquetConversionService.java:98-106). Spark has no builtin
that decompresses a full gzip member, so this is a pandas UDF:
Arrow-vectorized batches, decompression loop in C (zlib), no
row-at-a-time pickling. Throughput note for 100 TB: decompression
parallelism == partition count; repartition upstream if the source
delivers few large row groups.

``gunzip_text`` is the per-value decode. The UDF maps it over each
Arrow batch on the executors; the HTTP bytes path calls it on the
driver over the rows it collected.

Failure semantics follow the reference (E5): a corrupt payload aborts
the task (fail-fast), no skip-bad-records mode.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def gunzip_text(b: bytes | None) -> str | None:
    """gzip member → UTF-8 string; None passes through."""
    return None if b is None else gzip.decompress(bytes(b)).decode("utf-8")


@F.pandas_udf(T.StringType())
def gunzip_utf8(blobs: pd.Series) -> pd.Series:
    """binary (gzip member) → UTF-8 string; None passes through."""
    return blobs.map(gunzip_text)


@F.pandas_udf(T.BinaryType())
def gzip_compress(texts: pd.Series) -> pd.Series:
    """string → gzip bytes (mtime=0 for determinism).

    Symmetric helper used by fixture generation / the DB-seed path
    (reference: config/DataInitializer.java:81-92).
    """
    return texts.map(
        lambda s: None
        if s is None
        else gzip.compress(s.encode("utf-8"), mtime=0)
    )
