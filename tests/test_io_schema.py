"""Job-free parquet schema resolution: ``io.read_parquet`` takes the
schema from one footer read on the driver (``io._footer_schema``) and
must agree with Spark's own inference, field metadata included; every
case the helper declines goes through Spark's inference unchanged."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from conftest import SF_TEST_DIR
from mysql2parquet_spark import io

TESTDATA = os.path.dirname(SF_TEST_DIR)
FIXTURE_TABLES = sorted(
    glob.glob(os.path.join(TESTDATA, "sf0.001", "*.parquet"))
    + glob.glob(os.path.join(TESTDATA, "sf0.1", "*.parquet"))
)


def _jobs(spark, group, fn):
    """(result of ``fn()``, Spark jobs it submitted) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_parity(spark, path):
    """The footer schema is returned, costs no job, and reads the same
    DataFrame schema (names, types, nullability, metadata) as Spark's
    inference."""
    schema, n = _jobs(spark, f"footer-{path}", lambda: io._footer_schema(spark, path))
    assert schema is not None, path
    assert n == 0, (path, n)
    want = spark.read.parquet(path).schema
    assert spark.read.schema(schema).parquet(path).schema == want
    assert [f.metadata for f in schema.fields] == [f.metadata for f in want.fields]


@pytest.mark.parametrize(
    "path", FIXTURE_TABLES, ids=lambda p: "/".join(p.split(os.sep)[-2:])
)
def test_footer_schema_matches_inference_on_fixture_tables(spark, path):
    _assert_parity(spark, path)


def test_fixture_tables_present():
    assert len(FIXTURE_TABLES) >= 20, FIXTURE_TABLES


def test_footer_schema_matches_on_snapshot_version_dir(spark, tmp_path):
    """A Spark-written ``v=N`` directory: part files, ``_SUCCESS``,
    ``.crc`` side files, non-nullable columns and field metadata."""
    df = spark.range(50).select(
        F.col("id").alias("k", metadata={"comment": "key"}),
        (F.col("id") * 2).cast("decimal(18,2)").alias("amt"),
        F.lit("x").alias("tag"),
    ).repartition(3)
    path = io.publish_snapshot(df, str(tmp_path / "snaps"))
    assert os.path.basename(path) == "v=0"
    assert any(n.startswith(".") for n in os.listdir(path))
    _assert_parity(spark, path)
    assert io._footer_schema(spark, path)["k"].metadata == {"comment": "key"}
    got = io.read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())


def test_footer_schema_reads_first_data_file(spark, tmp_path):
    """Spark's inference reads the first data file by name; a later file
    with another column set does not change the schema."""
    d = tmp_path / "t"
    d.mkdir()
    spark.createDataFrame([(1, "a")], "k bigint, a string").coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    spark.createDataFrame([(2, 2.0)], "k bigint, b double").coalesce(1).write.parquet(
        str(tmp_path / "w2")
    )
    (f1,) = glob.glob(str(tmp_path / "w1" / "part-*.parquet"))
    (f2,) = glob.glob(str(tmp_path / "w2" / "part-*.parquet"))
    os.rename(f2, d / "part-0.parquet")
    os.rename(f1, d / "part-1.parquet")
    _assert_parity(spark, str(d))
    assert io._footer_schema(spark, str(d)).names == ["k", "b"]


def test_events_nanos_under_nanos_as_long(spark, tmp_path):
    """TIMESTAMP(NANOS) reads as bigint under the nanosAsLong conf on
    both paths, and read_parquet still converts ``ts`` to µs NTZ."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        path,
    )
    schema = io._footer_schema(spark, path)
    assert schema["ts"].dataType.simpleString() == "bigint"
    _assert_parity(spark, path)
    df, n = _jobs(spark, "events-ns", lambda: io.read_parquet(spark, path))
    assert n == 0
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    got = {r["event_id"]: r["ts_us"] for r in df.select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    ).collect()}
    assert got == {1: ns[0] // 1000, 2: ns[1] // 1000}


def _raises_like_spark(spark, path):
    """read_parquet fails exactly when, and with the type, Spark's own
    read fails."""
    try:
        spark.read.parquet(path).schema
    except Exception as e:  # noqa: BLE001 — the type is the contract
        want = type(e)
    else:
        want = None
    try:
        io.read_parquet(spark, path)
    except Exception as e:  # noqa: BLE001
        got = type(e)
    else:
        got = None
    assert got is want, (path, got, want)
    return got


def test_fallback_hive_partitioned_dir(spark, tmp_path):
    path = str(tmp_path / "hive")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, p string").write.partitionBy(
        "p"
    ).parquet(path)
    assert io._footer_schema(spark, path) is None
    got = io.read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert "p" in got.columns


def test_fallback_empty_dir_and_zero_byte_file(spark, tmp_path):
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    zero = tmp_path / "zero.parquet"
    zero.write_bytes(b"")
    for p in (str(empty), str(zero)):
        assert io._footer_schema(spark, p) is None
    assert issubclass(_raises_like_spark(spark, str(empty)), AnalysisException)
    assert _raises_like_spark(spark, str(zero)) is not None


def test_fallback_zero_byte_part_in_dir(spark, tmp_path):
    d = tmp_path / "t"
    spark.createDataFrame([(1,)], "k bigint").coalesce(1).write.parquet(str(d))
    (d / "part-00000-zero.parquet").write_bytes(b"")
    assert io._footer_schema(spark, str(d)) is None
    _raises_like_spark(spark, str(d))


def test_listing_rule_is_sparks(tmp_path):
    """``_has_data_files`` and the footer helper share Spark's listing
    filter: ``._COPYING_`` files and ``_``/``.`` names are not data, a
    ``_k=v`` partition directory is."""
    copying = tmp_path / "copying"
    copying.mkdir()
    (copying / "part-0.parquet._COPYING_").write_bytes(b"PAR1")
    (copying / ".part-0.parquet.crc").write_bytes(b"crc")
    (copying / "_meta").write_bytes(b"meta")
    assert not io._has_data_files(str(copying))
    assert io._first_data_file(str(copying)) is None
    part = tmp_path / "part"
    (part / "_k=1").mkdir(parents=True)
    (part / "_k=1" / "part-0.parquet").write_bytes(b"PAR1")
    assert io._has_data_files(str(part))
    assert io._first_data_file(str(part)) is None  # a subdirectory: inference


def test_fallback_unlistable_dir(spark, tmp_path, monkeypatch):
    """A directory that can be stat'ed but not listed (mode 0o311): the
    helper declines and the read is Spark's, its errors included, never
    a Python OSError. Root lists any mode, so there the listing is made
    to fail the way it would for another user."""
    d = tmp_path / "t"
    spark.createDataFrame([(1,)], "k bigint").coalesce(1).write.parquet(str(d))
    os.chmod(d, 0o311)
    try:
        if os.access(d, os.R_OK):

            def denied(path):
                raise PermissionError(13, "Permission denied", path)

            monkeypatch.setattr(io.os, "scandir", denied)
        assert os.path.isdir(d)
        assert io._footer_schema(spark, str(d)) is None
        _raises_like_spark(spark, str(d))
    finally:
        monkeypatch.undo()
        os.chmod(d, 0o755)


def test_fallback_file_gone_mid_listing(spark, tmp_path, monkeypatch):
    """A data file removed between the listing and its stat."""
    d = tmp_path / "t"
    spark.createDataFrame([(1,)], "k bigint").coalesce(1).write.parquet(str(d))

    class Gone:
        name = "part-00000-gone.parquet"

        def is_file(self):
            return True

        def stat(self):
            raise FileNotFoundError(2, "No such file or directory", self.name)

    class Listing:
        def __enter__(self):
            return iter([Gone()])

        def __exit__(self, *exc):
            return False

    monkeypatch.setattr(io.os, "scandir", lambda path: Listing())
    assert io._first_data_file(str(d)) is None
    monkeypatch.undo()
    assert io.read_parquet(spark, str(d)).schema == spark.read.parquet(str(d)).schema


def test_fallback_corrupt_footer_raises_like_spark(spark, tmp_path):
    """A corrupt footer fails the read itself, with Spark's exception
    type, and ``load_tables`` lets it propagate."""
    bad = tmp_path / "corrupt.parquet"
    bad.write_bytes(b"this is not parquet at all")
    assert io._footer_schema(spark, str(bad)) is None
    want = _raises_like_spark(spark, str(bad))
    assert want is not None
    d = tmp_path / "tables"
    d.mkdir()
    (d / "corrupt.parquet").write_bytes(b"this is not parquet at all")
    with pytest.raises(want):
        io.load_tables(spark, str(d))


def test_fallback_missing_path_and_glob(spark, sf_dir, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    assert io._footer_schema(spark, missing) is None
    assert issubclass(_raises_like_spark(spark, missing), AnalysisException)
    pattern = os.path.join(sf_dir, "nation*.parquet")
    assert io._footer_schema(spark, pattern) is None
    assert io.read_parquet(spark, pattern).schema == spark.read.parquet(pattern).schema


def test_fallback_summary_files(spark, tmp_path):
    d = tmp_path / "t"
    spark.createDataFrame([(1,)], "k bigint").coalesce(1).write.parquet(str(d))
    (part,) = glob.glob(str(d / "part-*.parquet"))
    (d / "_common_metadata").write_bytes(open(part, "rb").read())
    assert io._footer_schema(spark, str(d)) is None
    assert io.read_parquet(spark, str(d)).schema == spark.read.parquet(str(d)).schema


def test_fallback_session_merge_schema(spark, sf_dir):
    path = os.path.join(sf_dir, "nation.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert io._footer_schema(spark, path) is None
        _, n = _jobs(spark, "merge-schema", lambda: io.read_parquet(spark, path))
        assert n >= 1  # Spark's inference ran
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


# ---------------------------------------------------------------- job budget

SF001 = os.path.join(TESTDATA, "sf0.01")


@pytest.mark.skipif(not os.path.isdir(SF001), reason="sf0.01 fixtures absent")
def test_reads_and_query_construction_submit_no_jobs(spark):
    """Loading tables and building the DataFrames of tpch_q1,
    tpch_q3_shape and dedup_exact runs no Spark job: schemas come from
    footers, and nothing else in their construction touches data."""
    from mysql2parquet_spark.queries import all_queries

    qs = all_queries()
    budget = {
        "load_table": lambda: io.load_table(spark, SF001, "lineitem"),
        "register_tables": lambda: io.register_tables(
            spark, SF001, only=["customer", "orders", "lineitem"]
        ),
        "tpch_q1": lambda: qs["tpch_q1"](spark, SF001),
        "tpch_q3_shape": lambda: qs["tpch_q3_shape"](spark, SF001),
        "dedup_exact": lambda: qs["dedup_exact"](spark, SF001),
    }
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    try:
        got = {name: _jobs(spark, f"budget-{name}", fn)[1] for name, fn in budget.items()}
    finally:
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name not in views:
                spark.catalog.dropTempView(t.name)
    assert got == {name: 0 for name in budget}, got
