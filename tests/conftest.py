from __future__ import annotations

import os

import pytest

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mysql2parquet_spark.session import get_spark

    s = get_spark("mysql2parquet_spark-tests", master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"), shuffle_partitions=8)
    yield s
    s.stop()


# conf-map hash -> its spark.sql.* entries: reading every entry costs one
# driver round trip each, the hash one in total, and tests rarely change
# the confs, so each distinct state is read in full once.
_SQL_CONFS_BY_HASH: dict[int, dict[str, str]] = {}


def _sql_confs(session) -> dict[str, str]:
    confs = session._jsparkSession.conf().getAllAsJava()
    key = confs.hashCode()
    if key not in _SQL_CONFS_BY_HASH:
        _SQL_CONFS_BY_HASH[key] = {
            k: v for k, v in dict(confs).items() if k.startswith("spark.sql.")
        }
    return _SQL_CONFS_BY_HASH[key]


@pytest.fixture(autouse=True)
def _no_session_conf_leaks():
    """Fail any test that leaves the shared session's ``spark.sql.*``
    confs changed: every later test would silently run under them.
    Restores the confs first, so one leak does not cascade. A key a
    test sets and then puts back to its default value is not a leak."""
    from pyspark import SparkContext
    from pyspark.errors import SparkNoSuchElementException
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    before = _sql_confs(session) if session is not None else None
    yield
    if before is None or SparkContext._active_spark_context is None:
        return
    after = _sql_confs(session)
    if after is before:
        return
    leaks = {}
    for k in after.keys() - before.keys():
        session.conf.unset(k)
        try:
            default = session.conf.get(k)
        except SparkNoSuchElementException:  # not a registered conf
            default = None
        if default != after[k]:
            leaks[k] = (None, after[k])
    for k, v in before.items():
        if after.get(k) != v:
            session.conf.set(k, v)
            leaks[k] = (v, after.get(k))
    if leaks:
        pytest.fail(f"test left session confs changed (before, after): {leaks}")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR


def target_feeds_anti_directly(plan_text: str) -> bool:
    """True iff some LeftAnti join's left branch reaches a parquet scan
    through narrow nodes only (Project/Filter/columnar glue) — i.e. the
    merge target is scanned straight into the broadcast anti-join with
    no Exchange/Sort interposed. Textual but structural: an exchanged
    target would print Exchange/Sort lines between the join and its
    scan. Use with mode='simple' explain output (formatted mode hides
    operator arguments, making substring asserts vacuous)."""
    lines = plan_text.splitlines()
    for i, ln in enumerate(lines):
        if "LeftAnti" not in ln:
            continue
        # walk down the left branch while the nodes stay narrow — no
        # fixed window, so a deeper Project/Filter chain still matches
        for nxt in lines[i + 1 :]:
            if "FileScan parquet" in nxt:
                return True
            if not any(
                o in nxt for o in ("Project", "Filter", "ColumnarToRow")
            ):
                break  # Exchange, Sort, another join, RDD scan, ...
    return False


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
