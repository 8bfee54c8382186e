"""One parquet codec: ``get_spark`` sets zstd as the session codec and
every writer that names none follows it. Codecs are read from the
written files' footers with pyarrow, not from Spark."""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
import pytest

from mysql2parquet_spark import io
from mysql2parquet_spark.cli import main


def _codecs(path: str) -> set[str]:
    """Every column chunk's codec in the parquet file(s) at ``path``."""
    files = (
        [path]
        if os.path.isfile(path)
        else [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not os.path.basename(f).startswith((".", "_"))
        ]
    )
    assert files, path
    out = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            out |= {rg.column(c).compression for c in range(rg.num_columns)}
    return out


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return io.load_table(spark, sf_dir, "orders")


def test_session_codec_is_zstd(spark):
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"


def test_write_parquet_dir_and_single_file(orders, tmp_path):
    d = str(tmp_path / "dir")
    io.write_parquet(orders, d)
    assert _codecs(d) == {"ZSTD"}
    p = str(tmp_path / "one.parquet")
    io.write_parquet(orders, p, single_file=True)
    assert os.path.isfile(p) and _codecs(p) == {"ZSTD"}
    part = str(tmp_path / "part")
    io.write_parquet(orders, part, partition_by=["o_orderstatus"])
    assert _codecs(part) == {"ZSTD"}


def test_layout_and_compaction_writers(spark, orders, tmp_path):
    clustered = str(tmp_path / "clustered")
    io.write_clustered(orders, clustered, cluster_by="o_orderkey", n_files=2)
    assert _codecs(clustered) == {"ZSTD"}
    z = str(tmp_path / "z")
    io.write_zordered(orders, z, ["o_custkey", "o_orderdate"], n_files=2)
    assert _codecs(z) == {"ZSTD"}
    compact = str(tmp_path / "compact")
    io.compact_parquet(spark, clustered, compact)
    assert _codecs(compact) == {"ZSTD"}
    bucketed = str(tmp_path / "bucketed")
    try:
        io.write_bucketed(
            orders, "codec_bt", bucket_by="o_custkey", num_buckets=2, path=bucketed
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS codec_bt")
    assert _codecs(bucketed) == {"ZSTD"}


def test_publish_snapshot(orders, tmp_path):
    path = io.publish_snapshot(orders, str(tmp_path / "snaps"))
    assert _codecs(path) == {"ZSTD"}


def test_cli_parquet_and_snapshot_root(spark, sf_dir, tmp_path):
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    out = str(tmp_path / "export")
    snaps = str(tmp_path / "snaps")
    query = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
    try:
        assert main(["--tables-dir", sf_dir, "--query", query, "--parquet", out]) == 0
        assert main([
            "--tables-dir", sf_dir, "--query", query,
            "--snapshot-root", snaps, "--merge-keys", "o_orderkey",
        ]) == 0
    finally:
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name not in views:
                spark.catalog.dropTempView(t.name)
    assert _codecs(out) == {"ZSTD"}
    assert _codecs(os.path.join(snaps, "v=0")) == {"ZSTD"}


def test_no_snappy_literal_in_package():
    """The codec is one session fact; no writer pins its own."""
    import mysql2parquet_spark

    root = os.path.dirname(mysql2parquet_spark.__file__)
    hits = []
    for f in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(f, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if re.search(r"""["']snappy["']""", line, re.IGNORECASE):
                    hits.append(f"{f}:{n}")
    assert not hits, hits
