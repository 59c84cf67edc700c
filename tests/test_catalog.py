"""Catalog schema resolution: the pyarrow footer fast path must agree
with Spark's own inference for every testdata table, and fall back to
Spark inference when pyarrow can't resolve the footer (round-4 advice:
the equivalence was asserted only in a comment, and a Spark-written
DIRECTORY table broke the fast path outright)."""

from __future__ import annotations

import os

import pytest

from open_rust_timeseries_db_spark.sources.catalog import (
    TABLES,
    _ensure_read_confs,
    _file_schema,
    load_table,
    table_rows,
)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.parametrize("name", sorted(TABLES))
def test_file_schema_matches_spark_inference(spark, name):
    """_file_schema(path) == spark.read.parquet(path).schema, field by
    field (name, dataType, nullability), for every table."""
    _ensure_read_confs(spark)  # nanosAsLong + UTC, same as load_table
    path = os.path.join(SF_DIR, f"{name}.parquet")
    fast = _file_schema(path)
    inferred = spark.read.parquet(path).schema
    assert [f.name for f in fast] == [f.name for f in inferred]
    for ff, fi in zip(fast, inferred):
        assert ff.dataType == fi.dataType, f"{name}.{ff.name}"
        assert ff.nullable == fi.nullable, f"{name}.{ff.name}"


def test_directory_table_falls_back_to_spark_inference(spark, tmp_path):
    """A Spark-written directory 'table' (part files + _SUCCESS) breaks
    pyarrow's single-file footer read; load_table must fall back to
    spark.read.parquet instead of raising."""
    src = load_table(spark, SF_DIR, "region")
    dir_sf = tmp_path / "sfdir"
    out = str(dir_sf / "region.parquet")
    src.write.parquet(out)
    got = load_table(spark, str(dir_sf), "region")
    assert sorted(got.columns) == sorted(src.columns)
    assert got.count() == src.count()


def test_table_rows_counts_footers(tmp_path):
    """Footer row counts for a file table and a directory of chunk
    files; -1 only for a table that is missing or not parquet."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    assert table_rows("/root/testdata/sf0.01", "events") == 10_000
    chunks = tmp_path / "ticks.parquet" / "chunk=0"
    chunks.mkdir(parents=True)
    for i, n in enumerate((3, 5)):
        papq.write_table(pa.table({"x": list(range(n))}),
                         chunks / f"part-{i}.parquet")
    (chunks.parent / "_SUCCESS").touch()
    assert table_rows(str(tmp_path), "ticks") == 8
    assert table_rows(str(tmp_path), "missing") == -1
    (tmp_path / "junk.parquet").write_text("not parquet")
    assert table_rows(str(tmp_path), "junk") == -1
