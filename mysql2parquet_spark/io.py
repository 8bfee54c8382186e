"""Sources and sinks.

Reference parity (cited against /root/reference/main.go):
- A2/A3 MySQL source: single connection + full-query pushdown
  (main.go:87-110). Spark equivalent is the JDBC source; unlike the
  reference's single cursor we expose partitioned reads
  (partitionColumn/lowerBound/upperBound/numPartitions + fetchsize) so a
  100 TB extract parallelizes across executors instead of one socket.
- A7 Parquet sink: parquet-go JSONWriter over one local file, writer
  parallelism hardcoded 4 (main.go:165-173). Spark equivalent is the
  distributed parquet writer; parallelism = DataFrame partitions.
  ``single_file=True`` reproduces the reference's one-file layout for
  small compat exports (NOT for scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(
    spark: SparkSession, path: str, *, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan. Catalyst pushes filters/projections into this scan
    (verify with .explain: PushedFilters/ReadSchema).

    ``merge_schema=True`` unions schemas across files (columns added
    over a table's lifetime read as NULL in older files) — the standard
    evolved-lake read. Off by default: merging footers of millions of
    files has a real planning cost at 100 TB, so evolved tables should
    carry an explicit schema or flip this knob deliberately.

    Parquet TIMESTAMP(NANOS) is not a Spark type (PARQUET_TYPE_ILLEGAL);
    we read nanos as long (legacy conf, runtime-settable) and convert any
    long column named ``ts`` to a microsecond timestamp — the same
    ns→µs truncation DuckDB/Arrow apply, so oracles agree.

    Without ``merge_schema`` the schema comes from ONE footer read on
    the driver (``_footer_schema``), so building the DataFrame runs no
    Spark job; the cases that helper declines go through Spark's own
    inference, errors included.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        schema = _footer_schema(spark, path)
        if schema is not None:
            reader = reader.schema(schema)
    df = reader.parquet(path)
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", _ns_to_ntz("ts"))
    return df


def _ns_to_ntz(col: str):
    """Nanosecond epoch (long) → TIMESTAMP_NTZ.

    Two correctness constraints, both caught by oracle probes:
    - integer DIV, not `/1000`: double division rounds the last
      microsecond up for half the values (Arrow/DuckDB truncate);
    - TIMESTAMP_NTZ, not timestamp_micros (LTZ): an LTZ value formats
      through the session timezone, so any non-UTC driver session would
      shift every windowed/formatted result; NTZ is wall-clock stable,
      matching how DuckDB reads the same parquet."""
    return F.expr(
        f"timestampadd(MICROSECOND, {col} DIV 1000, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def _footer_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    footer through the driver JVM instead of a Spark job: the footer of
    the file Spark's inference reads, converted by Spark's own
    ``readSchemaFromFooter`` under the session's parquet confs.

    Only a local single file, or a flat directory of non-empty data
    files (hidden ``_``/``.`` entries skipped, as Spark lists them),
    qualifies. Everything else returns None and stays with Spark's
    inference: glob patterns, other filesystems, subdirectories
    (hive partitions), summary files (Spark merges them with the data
    file), empty entries, zero-byte files, unreadable footers, and a
    session with ``spark.sql.parquet.mergeSchema=true``."""
    if any(c in path for c in "*?[]{}") or (
        spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
    ):
        return None
    import json

    from py4j.protocol import Py4JJavaError
    from pyspark.sql.types import StructType

    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = hpath.getFileSystem(hconf)
        if fs.getScheme() != "file":
            return None
        first = _first_data_file(fs.makeQualified(hpath).toUri().getPath())
        if first is None:
            return None
        fpath = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(first))
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf,
            fpath,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        )
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(fpath, meta),
            parquet.ParquetToSparkSchemaConverter(state.conf()),
        )
    except Py4JJavaError:
        return None
    return StructType.fromJson(json.loads(schema.json()))


def _hidden(name: str) -> bool:
    """Spark's listing filter: entries its file index never reads as
    data (``_x=y`` partition directories stay visible)."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _first_data_file(local: str) -> str | None:
    """The data file Spark's non-merging inference reads under ``local``
    (a file, or the first visible file of a flat directory by name), or
    None where that choice is not a plain one — an unlistable directory
    or a file gone mid-listing included."""
    try:
        if os.path.isfile(local):
            ok = not _hidden(os.path.basename(local)) and os.path.getsize(local) > 0
            return local if ok else None
        if not os.path.isdir(local):
            return None
        names = []
        with os.scandir(local) as entries:
            for e in entries:
                if e.name.startswith(("_metadata", "_common_metadata")):
                    return None
                if _hidden(e.name):
                    continue
                if not e.is_file() or e.stat().st_size == 0:
                    return None
                names.append(e.name)
    except OSError:
        return None
    return os.path.join(local, min(names)) if names else None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every ``<name>.parquet`` table under ``sf_dir`` — through
    ``read_parquet`` so the ns→TIMESTAMP_NTZ conversion applies uniformly
    (a bare spark.read.parquet would register events.ts as raw bigint
    nanoseconds and every CLI SQL timestamp operation would diverge).

    Known fixture tables come first (stable order for tests); any OTHER
    ``*.parquet`` entry (file or directory) registers under its stem —
    a user's --tables-dir is not limited to the fixture names."""
    out: dict[str, DataFrame] = {}
    if not os.path.isdir(sf_dir):
        # missing dir registers nothing; the caller's spark.sql then
        # fails with a clean table-not-found, not a raw FileNotFoundError
        return out
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = read_parquet(spark, p)
    for entry in sorted(os.listdir(sf_dir)):
        if not entry.endswith(".parquet"):
            continue
        name = entry[: -len(".parquet")]
        if name in out or not name.isidentifier():
            continue  # non-identifier stems can't be SQL view names
        path = os.path.join(sf_dir, entry)
        if not _has_data_files(path):
            # genuinely empty entry (empty dir / zero-byte file): nothing
            # to register, skip quietly
            continue
        # Entries WITH data are read without a catch: a corrupt footer
        # raises from the read itself, and swallowing it here would
        # surface as a misleading TABLE_OR_VIEW_NOT_FOUND when the query
        # references the table — the parquet error itself must propagate.
        out[name] = read_parquet(spark, path)
    return out


def _has_data_files(path: str) -> bool:
    """True if ``path`` is a non-empty file or a directory containing at
    least one non-empty data file that Spark's listing keeps (``_hidden``:
    ``_SUCCESS``/dotfiles don't count) — the precondition for attempting
    a parquet read."""
    if os.path.isfile(path):
        return os.path.getsize(path) > 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for f in filenames:
            if _hidden(f):
                continue
            if os.path.getsize(os.path.join(dirpath, f)) > 0:
                return True
    return False


def register_tables(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load and register temp views so ``spark.sql`` works over the test
    tables — the Spark-native analogue of the reference handing its query
    string to a server that already has the tables (main.go:106).
    ``only`` restricts registration (skips footer reads of unused
    tables)."""
    dfs = (
        {n: load_table(spark, sf_dir, n) for n in only}
        if only
        else load_tables(spark, sf_dir)
    )
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    infer: bool = False,
) -> DataFrame:
    """CSV source. At scale ALWAYS pass an explicit schema: inference
    costs a full extra pass over the data and types can drift between
    files. ``infer=True`` is the exploration convenience only."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, *, schema=None, multiline: bool = False
) -> DataFrame:
    """JSON-lines source (one object per line; ``multiline`` for
    whole-file documents — NOT splittable, avoid at scale). Explicit
    schema skips the inference pass and keeps corrupt records visible."""
    reader = spark.read.option("multiLine", str(multiline).lower()).option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt_record")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def parse_corpus(
    spark: SparkSession,
    path: str,
    schema,
    *,
    fmt: str = "jsonl",
    delimiter: str = ",",
) -> DataFrame:
    """Raw text-corpus landing → typed rows + per-line quarantine flag,
    in ONE splittable text scan.

    Reads ``path`` with the ``text`` source (splittable, no inference
    pass) and parses each line JVM-side with ``from_json`` /
    ``from_csv`` — whole-stage-codegen expressions, no Python. A line
    that fails to parse keeps its raw bytes in ``_raw`` with
    ``_corrupt = true``; parsed lines carry their typed columns.

    This deliberately avoids ``spark.read.json`` PERMISSIVE mode's
    corrupt-record column for the split: Spark disallows queries that
    reference ONLY the corrupt column without caching the parsed
    relation (SPARK-21610), and caching a 100 TB landing dir is not a
    plan. Here ``_corrupt`` is an ordinary projected column, so the
    good/bad split is two plain filters over one text scan each —
    pushdown-friendly, cache-free.

    ``fmt``: ``jsonl`` (one object per line) or ``csv`` (no header
    line; headers belong to schema declarations, not 100 TB of data
    files). Schema is REQUIRED: inference is a second full pass and
    drifts across files.
    """
    if fmt not in ("jsonl", "csv"):
        raise ValueError(f"unsupported corpus format: {fmt!r} (jsonl|csv)")
    if any(f.name == "_cr" for f in schema.fields):
        raise ValueError("schema field name _cr is reserved for corrupt records")
    from pyspark.sql.types import StringType, StructField, StructType

    # The corrupt marker is a FIELD of the parse schema, so malformed
    # lines (bad JSON, type-coercion failures, wrong CSV arity) land in
    # it per-row — verified behavior of both parsers. This sidesteps
    # spark.read.json's SPARK-21610 restriction (queries referencing
    # only the corrupt column require caching the relation): here
    # ``_corrupt`` is an ordinary projected boolean.
    pschema = StructType(list(schema.fields) + [StructField("_cr", StringType())])
    opts = {"columnNameOfCorruptRecord": "_cr", "mode": "PERMISSIVE"}
    raw = spark.read.text(path).withColumnRenamed("value", "_raw")
    if fmt == "jsonl":
        parsed = F.from_json("_raw", pschema, opts)
    else:
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in pschema.fields
        )
        parsed = F.from_csv("_raw", F.lit(ddl), dict(opts, sep=delimiter))
    out = (
        raw.filter(F.length(F.trim("_raw")) > 0)  # blank lines are noise
        .select("_raw", parsed.alias("_parsed"))
        .withColumn("_corrupt", F.col("_parsed._cr").isNotNull())
    )
    return out.select(
        *[F.col(f"_parsed.{f.name}").alias(f.name) for f in schema.fields],
        "_raw",
        "_corrupt",
    )


def ingest_corpus(
    spark: SparkSession,
    src: str,
    dest: str,
    schema,
    *,
    fmt: str = "jsonl",
    delimiter: str = ",",
    quarantine_dir: str | None = None,
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Land a raw JSONL/CSV corpus as typed parquet, quarantining
    malformed lines instead of failing the job or silently dropping
    them (the two default behaviors Spark offers).

    Good rows → ``dest`` as parquet (optionally hive-partitioned);
    corrupt raw lines → ``quarantine_dir`` as text for replay after a
    parser fix. Returns ``{"good": n, "quarantined": m}`` so a nightly
    job can alert on a quarantine-rate spike — at 100 TB a 0.1% bad-line
    rate is a hundred gigabytes of silently lost data if unmonitored.

    Two passes over the text source (one per sink) rather than a cached
    single pass: the landing dir never fits in cluster memory, and the
    text scan is the cheapest operator in the plan.
    """
    parsed = parse_corpus(spark, src, schema, fmt=fmt, delimiter=delimiter)
    good = parsed.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")
    w = good.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dest)
    n_good = spark.read.parquet(dest).count()
    n_bad = 0
    if quarantine_dir is not None:
        bad = parsed.filter(F.col("_corrupt")).select(F.col("_raw").alias("value"))
        bad.write.mode("overwrite").text(quarantine_dir)
        n_bad = spark.read.text(quarantine_dir).count()
    return {"good": n_good, "quarantined": n_bad}


def write_csv(
    df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True
) -> None:
    writer = df.write.mode(mode).option("header", str(header).lower())
    writer.csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


#: Driver class Spark loads for jdbc:mysql URLs when none is given —
#: pinned here (rather than left to driver-manager scanning) so the
#: contract a live MySQL run depends on is explicit and unit-tested.
MYSQL_DRIVER_CLASS = "com.mysql.cj.jdbc.Driver"


def jdbc_options(
    url: str,
    *,
    query: str | None = None,
    table: str | None = None,
    user: str = "root",
    password: str = "",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    session_init: str | None = None,
    driver: str | None = None,
) -> dict[str, str]:
    """Build the EXACT option map handed to Spark's jdbc source — a pure
    function so the dialect contract (driver class, query-vs-dbtable
    routing, sessionInitStatement, partitioned-cursor bounds) is pinned
    by unit tests without a live server (tests/test_jdbc_dialect.py);
    the sandbox has no MySQL server, so a future live run relies on this
    map being right."""
    if (query is None) == (table is None):
        raise ValueError("exactly one of query= or table= is required")
    opts: dict[str, str] = {
        "url": url,
        "user": user,
        "password": password,
        "fetchsize": str(fetchsize),
    }
    if driver is None and url.startswith("jdbc:mysql:"):
        driver = MYSQL_DRIVER_CLASS
    if driver is not None:
        opts["driver"] = driver
    if query is not None:
        opts["query"] = query
    else:
        opts["dbtable"] = table  # type: ignore[assignment]
    if session_init:
        opts["sessionInitStatement"] = session_init
    if partition_column is not None:
        if query is not None:
            raise ValueError(
                "partitioned JDBC reads require table=, not query= "
                "(Spark restriction)"
            )
        opts["partitionColumn"] = partition_column
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
        opts["numPartitions"] = str(num_partitions or 32)
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    *,
    query: str | None = None,
    table: str | None = None,
    user: str = "root",
    password: str = "",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    session_init: str | None = None,
    driver: str | None = None,
) -> DataFrame:
    """JDBC (MySQL) source with full-query pushdown.

    Mirrors the reference's contract — the raw SQL string goes to the
    server verbatim (main.go:106 ``db.Query(*fQuery)``) — via Spark's
    ``query`` option. ``session_init`` carries the reference's documented
    ``SET ...`` session-tuning prelude (main.go:41-47, multiStatements DSN
    at main.go:89) as the JDBC ``sessionInitStatement``.

    Scale: the reference reads through ONE cursor (main.go:87-110). Here,
    passing ``partition_column/lower_bound/upper_bound/num_partitions``
    splits the read into range-parallel cursors, one per task.
    """
    opts = jdbc_options(
        url,
        query=query,
        table=table,
        user=user,
        password=password,
        partition_column=partition_column,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
        num_partitions=num_partitions,
        fetchsize=fetchsize,
        session_init=session_init,
        driver=driver,
    )
    reader = spark.read.format("jdbc")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    single_file: bool = False,
) -> None:
    """Parquet sink (reference A7, main.go:165-203).

    ``partition_by`` produces hive-style layout for partition pruning on
    later scans — the 100 TB default. ``single_file=True`` writes ONE
    literal parquet FILE at exactly ``path`` — byte-layout parity with
    the reference's one local file (main.go:165). Spark only writes
    directories, so the part-file is moved out of a temp dir afterward;
    local-filesystem compat exports only, never the scale path.

    No writer here names a codec: the session's
    ``spark.sql.parquet.compression.codec`` decides (zstd under
    ``get_spark``, a host session's own codec otherwise).
    """
    if single_file:
        if partition_by:
            raise ValueError("single_file and partition_by are exclusive")
        import glob
        import shutil

        # Honor mode BEFORE clobbering the destination (the tmp-dir write
        # below is always overwrite; mode applies to `path` itself).
        m = mode.lower()
        exists = os.path.exists(path)
        if m == "append":
            raise ValueError(
                "single_file does not support mode='append' — a single "
                "parquet FILE cannot be appended to; write a directory"
            )
        if m in ("error", "errorifexists") and exists:
            raise FileExistsError(f"path already exists: {path}")
        if m == "ignore" and exists:
            return

        tmp = path + "._single_tmp"
        try:
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
            if not parts:
                raise ValueError(
                    "single_file write produced no part-file (zero-"
                    "partition DataFrame?) — nothing to place at "
                    f"{path}"
                )
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif exists:
                os.remove(path)
            shutil.move(parts[0], path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: str | list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout (``CLUSTER BY`` for a file lake):
    ``repartitionByRange`` on the cluster keys + ``sortWithinPartitions``
    so every output file owns a disjoint, sorted key range.

    This is the serving-layout step at 100 TB: parquet footers carry
    per-column min/max, so a range/point predicate on the cluster key
    skips whole files (and row groups within them) at scan time —
    without the cardinality limits of hive partitioning (which needs
    low-cardinality keys; clustering handles timestamps/ids directly).
    The range exchange samples key quantiles, so skew distributes evenly
    across ``n_files`` regardless of the key distribution.
    """
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    if not cols:
        raise ValueError("cluster_by needs at least one column")
    out = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    out = out.sortWithinPartitions(*cols)
    out.write.mode(mode).parquet(path)


def _zorder_numeric(df: DataFrame, col: str):
    """A double-valued expression for a cluster column: numerics cast,
    dates/timestamps go through their epoch forms (ANSI forbids a direct
    temporal→double cast)."""
    from pyspark.sql import types as _T

    dt = df.schema[col].dataType
    if isinstance(dt, _T.DateType):
        return F.unix_date(F.col(col)).cast("double")
    if isinstance(dt, _T.TimestampType) or isinstance(dt, _T.TimestampNTZType):
        return F.unix_micros(F.col(col).cast("timestamp")).cast("double")
    if isinstance(dt, _T.NumericType):
        return F.col(col).cast("double")
    raise ValueError(
        f"write_zordered: column {col!r} has unsupported type {dt} "
        "(numeric/date/timestamp only)"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    *,
    n_files: int | None = None,
    bits: int = 16,
    mode: str = "error",
) -> None:
    """Multi-column clustered layout via a Z-order (Morton) key: scale
    each cluster column to a ``bits``-bit integer against its observed
    min/max, interleave the bits, then range-partition + sort on the
    interleaved key. Every output file owns a small BOUNDING BOX in the
    cluster-column space, so parquet min/max stats prune files for
    predicates on ANY of the columns — where 1-D clustering
    (``write_clustered``) prunes only its leading column.

    The at-100 TB layout answer to "we filter by customer AND by date":
    one z-ordered write serves both predicate families from file-level
    stats without partitioning by either (and without the tiny-file
    explosion hive-partitioning on a high-cardinality key causes).

    Cost shape: one tiny min/max aggregate over the cluster columns
    (bounded metadata: 2 values/column to the driver), one projection
    (pure bit arithmetic in codegen), one range exchange — the same
    shuffle count as ``write_clustered``. Skewed columns skew the
    z-key, but the range partitioner samples its quantiles, so FILE
    SIZES stay balanced regardless; skew only widens those files'
    boxes. NULLs scale to bucket 0 (the bottom corner). ``bits=16``
    gives 65 536 buckets/column — far more resolution than a file
    count; raise it only past ~10⁵ files or >4 columns (the interleaved
    key must stay under 63 bits: bits × n_cols ≤ 62).
    """
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    if len(cols) < 2:
        raise ValueError(
            "write_zordered needs >=2 cluster columns (use "
            "write_clustered for one)"
        )
    if bits * len(cols) > 62:
        raise ValueError(
            f"bits*len(cluster_by) = {bits * len(cols)} exceeds 62 — "
            "the interleaved key must fit a signed long"
        )
    nums = {c: _zorder_numeric(df, c) for c in cols}
    row = df.agg(
        *[F.min(nums[c]).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(nums[c]).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]  # bounded-metadata: 2 scalars per cluster column

    top = (1 << bits) - 1
    n_cols = len(cols)
    zkey = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = row[f"lo_{i}"]
        hi = row[f"hi_{i}"]
        span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        scaled = (F.coalesce(nums[c], F.lit(lo or 0.0)) - F.lit(lo or 0.0)) / F.lit(span) * top
        bucket = F.least(
            F.lit(top).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.floor(scaled)),
        )
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1).cast("long"))
            zkey = zkey.bitwiseOR(F.shiftleft(bit, b * n_cols + i))
    keyed = df.withColumn("_zkey", zkey)
    out = (
        keyed.repartitionByRange(n_files, "_zkey")
        if n_files
        else keyed.repartitionByRange("_zkey")
    )
    (
        out.sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    num_buckets: int,
    sort_by: str | list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed parquet table — the co-located-join layout.

    ``bucketBy(n, keys)`` pre-hashes rows into ``n`` files per partition
    by the join/agg key, recorded in the catalog, so a later
    join-on-key between two tables bucketed the SAME way (same keys,
    same ``n``) needs NO Exchange on either side, and a groupBy on the
    key needs none at all — the shuffle was paid ONCE at write time and
    amortizes over every subsequent query. At 100 TB this is the
    difference between re-shuffling both fact tables on every run and
    a scan+sort-merge straight off disk (``tests/test_io.py`` pins the
    Exchange-free plans).

    ``sort_by`` additionally sorts within each bucket file so the
    sort-merge join can skip its sort. Mismatched bucket counts still
    work (Spark shuffles the smaller side only).

    Catalog caveat: bucket metadata lives in the session catalog —
    in-memory by default, a persistent metastore in production — and
    reads must go through ``spark.table(table)``; a bare
    ``spark.read.parquet(path)`` sees plain files and loses the layout.
    ``path`` makes it an external table (data at ``path``, metadata in
    the catalog) so the files live beside the rest of the lake.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    if not keys:
        raise ValueError("write_bucketed needs at least one bucket column")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"bucket columns not in DataFrame: {missing}")
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *keys)
    if sort_by is not None:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sorts)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction (lake-maintenance OPTIMIZE): rewrite a
    parquet directory into ~``target_file_mb`` files. Returns the file
    count written.

    Thousands of tiny files are the classic scan-killer at 100 TB
    (per-file open/footer cost dominates; task scheduling overwhelms the
    driver). The target count comes from the directory's actual on-disk
    bytes via the Hadoop FileSystem API — works on any supported
    filesystem, not just local. Writes to a NEW directory: atomic swap
    is the caller's (or the table format's) job; silently rewriting in
    place would race concurrent readers.
    """
    if target_file_mb <= 0:
        raise ValueError(f"target_file_mb must be positive, got {target_file_mb}")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    (
        read_parquet(spark, path)
        .repartition(int(n_files))
        .write.mode("error")
        .parquet(out_path)
    )
    return int(n_files)


# --------------------------------------------------------------------------
# Versioned snapshots (write-audit-publish) — the layout the incremental
# export (operators/merge.py) folds CDC batches into. The reference
# rewrites one file per nightly run (/root/reference/main.go:165); at
# scale the snapshot is a directory per version, readers pin the latest
# COMMITTED version, and a new version lands fully before anyone sees it.
# --------------------------------------------------------------------------

_VERSION_PREFIX = "v="


def snapshot_versions(spark: SparkSession, root: str) -> dict[int, bool]:
    """Version number → committed? for every ``v=N`` directory under
    ``root``. Committed = Spark's ``_SUCCESS`` marker present (the audit
    half of write-audit-publish). Hadoop FileSystem API, so any
    supported filesystem works, not just local. Missing root → {}."""
    jvm = spark._jvm
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hroot):
        return {}
    out: dict[int, bool] = {}
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(_VERSION_PREFIX)):
            continue
        try:
            n = int(name[len(_VERSION_PREFIX):])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        out[n] = bool(fs.exists(marker))
    return out


def latest_snapshot(spark: SparkSession, root: str) -> str:
    """Path of the highest COMMITTED snapshot version. Uncommitted
    (crashed-mid-write) directories are invisible to readers."""
    committed = [n for n, ok in snapshot_versions(spark, root).items() if ok]
    if not committed:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return os.path.join(root, f"{_VERSION_PREFIX}{max(committed)}")


_CLAIM_SUFFIX = ".claim"


def _claimed_versions(jvm, fs, hroot) -> set[int]:
    """Version numbers with a ``v=N.claim`` sentinel under ``root`` —
    claimed by some publisher (committed, in-flight, or crashed)."""
    if not fs.exists(hroot):
        return set()
    out: set[int] = set()
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (
            st.isFile()
            and name.startswith(_VERSION_PREFIX)
            and name.endswith(_CLAIM_SUFFIX)
        ):
            continue
        try:
            out.add(int(name[len(_VERSION_PREFIX):-len(_CLAIM_SUFFIX)]))
        except ValueError:
            continue
    return out


def publish_snapshot(
    df: DataFrame, root: str, *, partition_by: list[str] | None = None
) -> str:
    """Write ``df`` as the NEXT snapshot version and return its path.

    ``partition_by`` hive-partitions every version's layout (e.g. by a
    date or tenant column) so downstream readers get partition pruning
    inside each snapshot; Spark still drops the _SUCCESS commit marker
    at the VERSION root, so the audit/publish contract is unchanged.

    Version allocation is protected by an atomic CLAIM sentinel: the
    publisher targets max(existing ∪ claimed) + 1 and must win
    ``FileSystem.createNewFile`` on ``v=N.claim`` (O_EXCL semantics on
    local FS, atomic create-if-absent on HDFS) before writing. Two
    concurrent publishers racing the same version therefore cannot both
    write into one directory — exactly one wins the claim; the loser
    raises a clean error instead of corrupting the ledger. (True
    multi-writer TRANSACTIONS — e.g. merge-then-publish read-write
    conflicts — still need a table format with a commit protocol
    (Delta/Iceberg); the claim only serializes version allocation.)

    A crashed publisher leaves a claim (and possibly a partial dir) that
    skips its version number forever: it never gets a _SUCCESS, so
    ``latest_snapshot`` never serves it; ``vacuum_snapshots`` removes
    dead claims below the retention cut. The _SUCCESS marker Spark drops
    on successful job commit is the publish step; readers flip
    atomically from vN to vN+1.
    """
    spark = df.sparkSession
    jvm = spark._jvm
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(spark._jsc.hadoopConfiguration())
    versions = snapshot_versions(spark, root)
    claimed = _claimed_versions(jvm, fs, hroot)
    nxt = max(set(versions) | claimed, default=-1) + 1
    fs.mkdirs(hroot)
    claim = jvm.org.apache.hadoop.fs.Path(
        hroot, f"{_VERSION_PREFIX}{nxt}{_CLAIM_SUFFIX}"
    )
    if not fs.createNewFile(claim):
        raise RuntimeError(
            f"concurrent publisher detected: version {nxt} already "
            f"claimed under {root} — exactly one publisher may allocate "
            "a version; re-run to target the next one"
        )
    path = os.path.join(root, f"{_VERSION_PREFIX}{nxt}")
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def vacuum_snapshots(spark: SparkSession, root: str, keep: int) -> list[int]:
    """Delete committed snapshot versions older than the newest ``keep``
    and return the deleted version numbers (sorted).

    Retention for the nightly incremental-export loop: without it,
    ``--snapshot-root`` accumulates ``v=N`` directories forever. Safety
    contract:

    - ``keep >= 1`` — the latest committed version is NEVER deleted.
    - Only COMMITTED (_SUCCESS-marked) directories below the cut are
      removed; an uncommitted dir is never touched — it may be a
      publisher mid-write, and a crashed partial is invisible to
      readers anyway (garbage-collect those offline, with the publisher
      stopped).
    - A root with no committed version refuses to vacuum (FileNotFoundError)
      rather than silently no-op on a half-written layout.
    - Dead claim sentinels below the cut are removed with their versions.
    """
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    jvm = spark._jvm
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(spark._jsc.hadoopConfiguration())
    versions = snapshot_versions(spark, root)
    committed = sorted(n for n, ok in versions.items() if ok)
    if not committed:
        raise FileNotFoundError(
            f"no committed snapshot under {root} — refusing to vacuum"
        )
    if len(committed) <= keep:
        return []
    cut = committed[-keep]  # oldest version that survives
    deleted: list[int] = []
    for n in committed:
        if n >= cut:
            continue
        vdir = jvm.org.apache.hadoop.fs.Path(
            hroot, f"{_VERSION_PREFIX}{n}"
        )
        fs.delete(vdir, True)
        claim = jvm.org.apache.hadoop.fs.Path(
            hroot, f"{_VERSION_PREFIX}{n}{_CLAIM_SUFFIX}"
        )
        if fs.exists(claim):
            fs.delete(claim, False)
        deleted.append(n)
    # Dead claims with no directory at all (publisher crashed before
    # writing) below the cut are ledger noise — sweep them too.
    for n in _claimed_versions(jvm, fs, hroot):
        if n < cut and n not in versions:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    hroot, f"{_VERSION_PREFIX}{n}{_CLAIM_SUFFIX}"
                ),
                False,
            )
    return deleted


def read_snapshot(
    spark: SparkSession, root: str, *, version: int | None = None
) -> DataFrame:
    """Time-travel read: a specific COMMITTED snapshot version, or the
    latest when ``version`` is None. Uncommitted directories stay
    invisible (same contract as ``latest_snapshot``); asking for one —
    or for a number that never existed — is an explicit error, not an
    empty DataFrame."""
    if version is None:
        return read_parquet(spark, latest_snapshot(spark, root))
    committed = snapshot_versions(spark, root)
    if version not in committed:
        raise FileNotFoundError(f"no snapshot {_VERSION_PREFIX}{version} under {root}")
    if not committed[version]:
        raise FileNotFoundError(
            f"snapshot {_VERSION_PREFIX}{version} under {root} is uncommitted "
            "(crashed mid-write?) — refusing to read partial data"
        )
    return read_parquet(spark, os.path.join(root, f"{_VERSION_PREFIX}{version}"))


def snapshot_diff(
    spark: SparkSession,
    root: str,
    v_old: int,
    v_new: int,
    keys: list[str],
    *,
    include_old: bool = False,
) -> DataFrame:
    """Keyed row-level diff between two committed snapshot versions:
    one row per changed key with ``change`` ∈ {'I','U','D'} — inserts
    and updates carry the NEW values, deletes the last-seen OLD values.

    ``include_old=True`` additionally emits ``old_<col>`` for every
    value column (NULL on inserts) — the form downstream incremental
    maintenance needs (``incremental_agg_update`` subtracts the old
    contribution of a U/D row and adds the new one of an I/U row).

    This is the consumer-side answer to "what changed between last
    night's export and tonight's": the reference's users diff full
    exports out-of-band; here it is one full-outer join on the snapshot
    keys (one shuffle per side — or none, if the snapshots were
    bucketed on the keys) with null-safe per-column comparison, never a
    driver materialization. Unchanged keys drop out before anything
    else happens to them.
    """
    if not keys:
        raise ValueError("snapshot_diff requires at least one key column")
    old = read_snapshot(spark, root, version=v_old)
    new = read_snapshot(spark, root, version=v_new)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs "
            f"{sorted(new.columns)} — diff needs a shared column set"
        )
    missing = [k for k in keys if k not in new.columns]
    if missing:
        raise ValueError(f"diff keys missing from snapshots: {missing}")
    vals = [c for c in new.columns if c not in keys]
    reserved = {"change"} | ({f"old_{c}" for c in vals} if include_old else set())
    clash = reserved & set(new.columns)
    if clash:
        raise ValueError(
            f"snapshot_diff output names collide with snapshot columns: "
            f"{sorted(clash)} — rename them before diffing"
        )
    # explicit presence markers, NOT key-null checks: eqNullSafe joins
    # match NULL keys, so a nullable key column must not double as the
    # "row exists on this side" signal.
    o = old.select(
        F.lit(True).alias("_o_present"),
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_ov_{c}") for c in vals],
    )
    n = new.select(
        F.lit(True).alias("_n_present"),
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_nv_{c}") for c in vals],
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    same = F.lit(True)
    for c in vals:
        same = same & F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
    change = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(~same, F.lit("U"))
        .otherwise(F.lit(None))
    )
    out_cols = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    # I/U rows carry new values; D rows the old ones (there are no new)
    out_cols += [
        F.when(in_new, F.col(f"_nv_{c}")).otherwise(F.col(f"_ov_{c}")).alias(c)
        for c in vals
    ]
    if include_old:
        out_cols += [F.col(f"_ov_{c}").alias(f"old_{c}") for c in vals]
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select("change", *out_cols)
    )


def fold_merge_snapshot(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    keys: list[str],
    *,
    order_col: str | None = None,
    broadcast_source: bool = True,
    partition_by: list[str] | None = None,
) -> str:
    """One incremental-export step for FULL-ROW deltas (no CDC op/seq
    columns): read the latest committed snapshot, MERGE the delta in on
    ``keys`` (last-event-wins by ``order_col``; without it duplicate
    delta keys are a runtime error, like MERGE INTO), publish the next
    version. The plain-export sibling of ``fold_cdc_snapshot`` — for
    producers that re-export changed rows rather than emit change
    events."""
    from mysql2parquet_spark.operators.merge import merge_upsert

    current = read_parquet(spark, latest_snapshot(spark, root))
    merged = merge_upsert(
        current,
        delta,
        keys,
        broadcast_source=broadcast_source,
        order_col=order_col,
    )
    return publish_snapshot(merged, root, partition_by=partition_by)


def fold_cdc_snapshot(
    spark: SparkSession,
    root: str,
    events: DataFrame,
    keys: list[str],
    *,
    op_col: str = "op",
    seq_col: str = "seq",
    delete_op: str = "D",
    broadcast_source: bool = True,
    partition_by: list[str] | None = None,
) -> str:
    """One incremental-export step: read the latest committed snapshot,
    fold a raw CDC event batch in (``operators/merge.apply_cdc`` —
    compaction, tombstones, zero snapshot-side shuffle), publish the
    next version (hive-partitioned when ``partition_by`` is given —
    pass the same columns every fold so the layout stays stable).
    Returns the new version's path."""
    from mysql2parquet_spark.operators.merge import apply_cdc

    current = read_parquet(spark, latest_snapshot(spark, root))
    merged = apply_cdc(
        current,
        events,
        keys,
        op_col=op_col,
        seq_col=seq_col,
        delete_op=delete_op,
        broadcast_source=broadcast_source,
    )
    return publish_snapshot(merged, root, partition_by=partition_by)
