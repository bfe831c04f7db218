"""The registry's schema memo follows a file rewritten in place: a
second ``load_table`` after the file got a new schema sees the new
columns, not the first schema's columns read as nulls."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from trace_parquet_spark.sources.registry import load_table


def test_schema_memo_sees_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]

    pq.write_table(
        pa.table({"doc_id": [3], "lang": ["en"], "score": [0.5]}), path
    )
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "lang", "score"]
    assert [tuple(r) for r in df.collect()] == [(3, "en", 0.5)]
