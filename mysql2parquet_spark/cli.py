"""CLI with the reference's flag surface (/root/reference/main.go:27-85)
plus engine-native extensions.

Reference contract reproduced:
- flags: --user --password --host --port --database --query --parquet
  (defaults user=root host=127.0.0.1 port=3306, main.go:59-66)
- --help / --version exit 0 (main.go:71-78); missing required flag
  prints usage and exits 1 (main.go:79-85)
- the query string is executed as-is (full pushdown, main.go:106); the
  documented multi-statement `SET ...; SELECT ...` prelude (main.go:41-47)
  is honored: SET statements become the JDBC sessionInitStatement.

Engine extensions (not in the reference):
- --tables-dir: run the query with Spark SQL over local parquet tables
  (no MySQL server in the loop — the engine owns execution).
- --compat: apply the reference type projection (DECIMAL→double,
  temporal→string, NULL→"") instead of native types.
- --single-file: one output file like main.go:165 (default: directory).
- --partition-by: hive-style partitioned output for scale.
- --jdbc partitioned-read knobs: --partition-column/--lower/--upper/
  --num-partitions (the reference reads through ONE cursor; we don't).
- incremental export (--merge-into): the reference re-exports the WHOLE
  table every run (main.go:87-165). With --merge-into the query result
  is treated as a DELTA and folded into an existing parquet snapshot on
  --merge-keys (MERGE semantics, operators/merge.py); --parquet is the
  NEXT snapshot version (write-audit-publish — it must differ from
  --merge-into). --cdc-op-column/--cdc-seq-column switch to raw CDC
  event batches (compact to final event per key, apply tombstones);
  --order-column gives plain last-event-wins; --no-broadcast-delta is
  the backfill-sized fallback.
- versioned snapshots (--snapshot-root): same merge semantics but the
  engine manages the version paths (io.publish_snapshot: ROOT/v=N dirs,
  _SUCCESS-committed, readers pin the latest committed; version
  allocation claim-locked against concurrent publishers). First run
  bootstraps v=0 from the query result; runs with --merge-keys fold the
  result in as a delta and publish the next version. --keep-versions N
  vacuums old committed versions after each publish. One command for
  the whole nightly-job lifecycle.
- SCD2 history export (--scd2-history): the query result is a CDC
  event log; export the full Type 2 history table (one row per key
  version, effective_from/effective_to/is_current) instead of the
  current state — the reference's consumers reconstruct this by
  diffing nightly full exports; here it is one command.
- snapshot diff export (--diff-versions OLD NEW): the consumer-side
  "what changed between two nightly exports" — a keyed I/U/D row diff
  between two committed versions of --snapshot-root, written to
  --parquet (--diff-include-old adds old_<col> for incremental-rollup
  consumers, operators/rollup.py).
- sketch sidecars (--with-sketches col,col / --sidecars
  hll:col,cms:col,hist:col:lo:hi,kmv:col,bloom:col,cat:col[:k]): every
  export — plain or versioned snapshot — also ships mergeable sketches
  of the named columns: HLL distinct counts (<base>_sketches),
  count-min key frequencies (<base>_cms), fixed-geometry histograms
  (<base>_hist), KMV k-minima for cross-corpus overlap/Jaccard
  (<base>_kmv), Bloom membership filters (<base>_bloom), top-k category
  counts (<base>_cat — the categorical drift input; per-version
  artifact, not a rollup family).
  Successive nightly sidecars roll up (merge_sketch_estimates /
  cms_merge / histogram_merge / kmv_merge / bloom_merge) to any period's statistics
  without re-scanning a single export; with --snapshot-root each
  committed version carries its sidecars under <root>/sidecars/v=N_*
  and vacuum drops them with their version.
- audit gate (--audit-rules rules.json): run a declarative data-quality
  rule list (operators/constraints.py) on the final result BEFORE any
  write; violations abort with exit code 3 and a per-rule report — the
  audit half of write-audit-publish, so a nightly job cannot publish a
  corrupt snapshot.
- drift report (--drift-versions OLD NEW): PSI / Jensen-Shannon /
  total-variation divergence per column between two committed versions'
  sidecars — histogram sidecars for numeric columns, top-k category
  sidecars for categorical ones (operators/drift.py) — "did tonight's
  data stop looking like last night's" answered from KB-scale
  artifacts, never re-reading either export; --drift-gate turns a
  drifted verdict into exit code 3 (the audit-gate contract) so a
  training pipeline can refuse a distribution-shifted export.
- streaming folds (--stream-events + --checkpoint): fold every delta
  parquet file landed in a directory into --snapshot-root, one
  committed version per file, exactly-once across restarts via the
  streaming checkpoint (foreachBatch → io.fold_cdc_snapshot for CDC
  event files, io.fold_merge_snapshot for full-row last-event-wins
  deltas). Drains what's landed and exits; rerunning catches up on new
  files only.
"""

from __future__ import annotations

import argparse
import sys

from mysql2parquet_spark import __version__

USAGE_EPILOG = """examples:
  # reference-style MySQL extract (requires a reachable MySQL server):
  mysql2parquet-spark --user root --password s3cr3t --database db \\
      --query "SELECT * FROM users" --parquet /tmp/users

  # engine-native: run SQL over local parquet tables, no server:
  mysql2parquet-spark --tables-dir /root/testdata/sf0.01 \\
      --query "SELECT l_returnflag, count(*) c FROM lineitem GROUP BY 1" \\
      --parquet /tmp/out
"""


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mysql2parquet-spark",
        description="Export SQL query results to Parquet, Spark-native.",
        epilog=USAGE_EPILOG,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--user", default="root", help="MySQL user (default root)")
    p.add_argument("--password", default=None, help="MySQL password")
    p.add_argument("--host", default="127.0.0.1", help="MySQL host")
    p.add_argument("--port", default=3306, type=int, help="MySQL port")
    p.add_argument("--database", default=None, help="MySQL database")
    p.add_argument("--query", default=None, help="SQL to execute")
    p.add_argument("--parquet", default=None, help="output path")
    p.add_argument("--version", action="store_true", help="print version")
    # engine extensions
    p.add_argument("--tables-dir", default=None,
                   help="run query over parquet tables in this dir (no MySQL)")
    p.add_argument("--compat", action="store_true",
                   help="reference type-mapping output (lossy, NULL->'')")
    p.add_argument("--single-file", action="store_true",
                   help="coalesce output to one file (reference layout)")
    p.add_argument("--partition-by", default=None,
                   help="comma-separated partition columns: hive-style "
                        "layout for the export, or for every published "
                        "version in --snapshot-root mode")
    p.add_argument("--partition-column", default=None,
                   help="JDBC partitioned-read column")
    p.add_argument("--lower", type=int, default=None)
    p.add_argument("--upper", type=int, default=None)
    p.add_argument("--num-partitions", type=int, default=32)
    p.add_argument("--master", default=None, help="Spark master override")
    # incremental export (MERGE/CDC)
    p.add_argument("--merge-into", default=None,
                   help="existing parquet snapshot; query result is a "
                        "delta merged into it, written to --parquet")
    p.add_argument("--merge-keys", default=None,
                   help="comma-separated merge key columns")
    p.add_argument("--order-column", default=None,
                   help="last-event-wins ordering column for duplicate "
                        "delta keys (default: duplicates are an error)")
    p.add_argument("--cdc-op-column", default=None,
                   help="CDC op column (I/U/D events); needs --cdc-seq-column")
    p.add_argument("--cdc-seq-column", default=None,
                   help="CDC sequence column (binlog position / LSN)")
    p.add_argument("--cdc-delete-op", default="D",
                   help="op value marking deletes (default D)")
    p.add_argument("--no-broadcast-delta", action="store_true",
                   help="shuffled anti-join instead of broadcasting the "
                        "delta (backfill-sized batches)")
    p.add_argument("--snapshot-root", default=None,
                   help="versioned-snapshot mode: publish the query "
                        "result into ROOT/v=N (bootstrap on first run; "
                        "with --merge-keys, fold as a delta into the "
                        "latest committed version). Replaces --parquet/"
                        "--merge-into path management. Version "
                        "allocation is claim-locked: concurrent "
                        "publishers on one root fail loudly rather "
                        "than corrupt the ledger")
    p.add_argument("--keep-versions", type=int, default=None,
                   help="with --snapshot-root: after publishing, vacuum "
                        "committed versions older than the newest N "
                        "(never the latest; never an uncommitted dir)")
    p.add_argument("--stream-events", default=None,
                   help="streaming fold mode: watch this landing "
                        "directory for delta parquet files and fold "
                        "each one into --snapshot-root as the next "
                        "version (foreachBatch, exactly-once via "
                        "--checkpoint; processes everything landed, "
                        "then exits — rerun to catch up). Replaces "
                        "--query; requires --snapshot-root --merge-keys "
                        "--checkpoint, an already-bootstrapped root, "
                        "and a fold mode: --cdc-op-column/"
                        "--cdc-seq-column (CDC events) or "
                        "--order-column (full-row last-event-wins)")
    p.add_argument("--checkpoint", default=None,
                   help="streaming checkpoint dir (with --stream-events); "
                        "reusing it across runs is what makes restarts "
                        "exactly-once")
    p.add_argument("--scd2-history", action="store_true",
                   help="transform the query result (a CDC event log) "
                        "into an SCD Type 2 history table instead of a "
                        "current-state export: one row per key version "
                        "with effective_from/effective_to/is_current "
                        "(operators/merge.py::scd2_history). Requires "
                        "--merge-keys and --cdc-seq-column; "
                        "--cdc-op-column marks delete events (optional "
                        "— omit for a pure attribute-change log); "
                        "--cdc-tiebreak-column totally orders "
                        "same-sequence events")
    p.add_argument("--cdc-tiebreak-column", default=None,
                   help="tiebreak column for --scd2-history when the "
                        "sequence column alone can collide (e.g. an "
                        "event id beside a timestamp)")
    p.add_argument("--diff-versions", nargs=2, type=int, default=None,
                   metavar=("OLD", "NEW"),
                   help="with --snapshot-root and --merge-keys: export "
                        "the keyed row-level diff between two committed "
                        "snapshot versions to --parquet — one row per "
                        "changed key, change in {I,U,D}; inserts/updates "
                        "carry new values, deletes the last-seen old "
                        "row. Replaces --query (the versions are the "
                        "source). --diff-include-old adds old_<col> "
                        "columns for incremental-rollup consumers")
    p.add_argument("--diff-include-old", action="store_true",
                   help="with --diff-versions: emit old_<col> beside "
                        "each value column (NULL on inserts)")
    p.add_argument("--drift-versions", nargs=2, type=int, default=None,
                   metavar=("OLD", "NEW"),
                   help="with --snapshot-root: compare two committed "
                        "versions' sidecars — histogram (numeric, "
                        "published with --sidecars hist:col:lo:hi) and "
                        "top-k category (categorical, cat:col) — and "
                        "print one line per column and family: PSI / "
                        "Jensen-Shannon / total-variation divergence + "
                        "verdict (psi<0.1 stable, <0.25 moderate, else "
                        "drifted). Reads KB-scale sidecar artifacts, "
                        "never the exports themselves. Replaces --query "
                        "and --parquet (the report prints to stdout)")
    p.add_argument("--drift-gate", action="store_true",
                   help="with --drift-versions: any drifted column "
                        "aborts with exit code 3 (same contract as the "
                        "--audit-rules gate) so a pipeline can refuse "
                        "to train on a distribution-shifted export")
    p.add_argument("--with-sketches", default=None, metavar="COLS",
                   help="comma-separated columns: after the export, "
                        "also write mergeable HLL distinct-count "
                        "sketches of those columns to "
                        "<parquet>_sketches (one row per column: "
                        "column, sketch, n_rows). Sidecars from "
                        "successive nightly exports roll up with "
                        "operators/sketches.merge_sketch_estimates "
                        "(group by 'column') without re-scanning any "
                        "export. With --snapshot-root, each published "
                        "version gets its own sidecar under "
                        "<root>/sidecars/v=N_sketches, built by "
                        "reading back the committed version (the "
                        "version commit itself stays atomic; a "
                        "sidecar is derived metadata, rebuildable "
                        "from its version at any time). Shorthand "
                        "for --sidecars hll:col,...")
    p.add_argument("--sidecars", default=None, metavar="SPEC",
                   help="comma-separated sidecar spec covering the "
                        "five mergeable sketch families: hll:col "
                        "(distinct counts), cms:col (count-min key "
                        "frequencies, written to <base>_cms), "
                        "hist:col:lo:hi (fixed-geometry histogram "
                        "over [lo,hi), written to <base>_hist), "
                        "kmv:col (k-minimum-values for cross-corpus "
                        "overlap/Jaccard estimates, <base>_kmv), "
                        "bloom:col (membership filters — probe a key "
                        "against an export without reading it, "
                        "<base>_bloom), cat:col or cat:col:k (top-k "
                        "exact category counts + __other__/__null__ "
                        "buckets, <base>_cat — the categorical input "
                        "for --drift-versions; per-version artifact, "
                        "not an exact-merge rollup family). "
                        "The other families merge across nightly exports by "
                        "hll_union_agg / plain SUM respectively "
                        "(operators/sketches.py) — no export is ever "
                        "re-scanned. Combines with --with-sketches, "
                        "--snapshot-root, and --stream-events (one "
                        "sidecar set per folded version); vacuumed "
                        "versions drop their sidecars too")
    p.add_argument("--audit-rules", default=None,
                   help="JSON file with a data-quality rule list "
                        "(operators/constraints.py schema). The rules "
                        "run on the final result BEFORE anything is "
                        "written; any violation aborts with exit code 3 "
                        "and a per-rule report on stderr — the audit "
                        "half of write-audit-publish. Referential "
                        "rules resolve parents against --tables-dir")
    return p


def _first_line(e: BaseException) -> str:
    """First line of an exception's message: the one-line CLI error
    instead of a Python/Java traceback."""
    text = str(e).strip()
    return text.splitlines()[0] if text else repr(e)


def _fail(kind: str, e: BaseException) -> int:
    print(f"{kind} error: {_first_line(e)}", file=sys.stderr)
    return 2


def _split_session_prelude(query: str) -> tuple[str | None, str]:
    """Split the reference's documented `SET ...; SET ...; SELECT ...`
    multi-statement form (main.go:41-47): leading SET statements become
    the JDBC sessionInitStatement; the final statement is the query."""
    parts = [s.strip() for s in query.split(";") if s.strip()]
    if len(parts) <= 1:
        return None, query
    sets = [s for s in parts[:-1] if s.upper().startswith("SET ")]
    return ("; ".join(sets) or None), parts[-1]


def _run_audit(df, args, spark) -> int | None:
    """--audit-rules: run the constraint report on the final DataFrame
    before any write. Returns an exit code to abort with, or None to
    proceed. The report is rule-count-sized (one row per rule), so
    materializing it here is bounded metadata, not a data collect."""
    import json as _json

    from mysql2parquet_spark.operators.constraints import validate

    try:
        with open(args.audit_rules) as fh:
            rules = _json.load(fh)
        if not isinstance(rules, list):
            raise ValueError("audit rules file must contain a JSON list")
        for r in rules:
            if r.get("type") == "referential":
                r["on"] = [tuple(pair) for pair in r["on"]]
        parents = {
            r["parent"]: df.sparkSession.table(r["parent"])
            for r in rules
            if r.get("type") == "referential"
        }
        report = validate(df, rules, tables=parents)
        # one row per RULE, never per data row — bounded-metadata
        bad = report.filter(report.violations > 0).collect()  # bounded-metadata
    except Exception as e:
        return _fail("audit", e)
    if bad:
        for r in bad:
            print(f"audit FAILED: {r.rule}: {r.violations} violations", file=sys.stderr)
        return 3
    return None


#: dtypes Spark's hll_sketch_agg can digest
_HLL_TYPES = ("int", "bigint", "smallint", "tinyint", "string", "binary")
#: numeric dtypes a fixed-geometry histogram can bin
_HIST_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double")


def _sidecar_precheck(df, plan) -> str | None:
    """Validate every sidecar entry against the FINAL export schema
    (post --scd2-history etc.) so a bad entry fails before the possibly
    hours-long export, never after. Returns an error message or None."""
    dt = dict(df.dtypes)
    missing = [
        c
        for c in (
            plan["hll"]
            + plan["cms"]
            + plan["kmv"]
            + plan["bloom"]
            + [h[0] for h in plan["hist"]]
            + [c0 for c0, _k in plan["cat"]]
        )
        if c not in dt
    ]
    if missing:
        return f"columns not in result: {sorted(set(missing))}"
    bad = [f"{c}:{dt[c]}" for c in plan["hll"] if dt[c] not in _HLL_TYPES]
    if bad:
        return (
            "hll_sketch_agg supports integral/string/binary columns "
            f"only, got {bad}"
        )
    for fam in ("cms", "kmv", "bloom", "cat"):
        cols = (
            [c for c, _k in plan[fam]] if fam == "cat" else plan[fam]
        )
        bad = [
            f"{c}:{dt[c]}"
            for c in cols
            if dt[c].startswith(("array", "map", "struct"))
        ]
        if bad:
            return f"{fam} sidecars need atomic key columns, got {bad}"
    bad = [
        f"{c}:{dt[c]}"
        for c, _lo, _hi in plan["hist"]
        if dt[c] not in _HIST_TYPES and not dt[c].startswith("decimal")
    ]
    if bad:
        return f"hist sidecars need numeric columns, got {bad}"
    return None


def _write_sidecars(spark, plan, read_path: str, out_base: str) -> int | None:
    """Write the requested sketch sidecars by READING BACK the export
    just written (not by re-running the source query — a JDBC source
    can change between the export read and a second read, and the
    sidecar must describe the parquet it ships beside). Shard-artifact
    definitions come from operators/sketches so the geometry can never
    drift from the library's; the *_multi builders compute every column
    of a family in ONE scan of the export (per-column builds would
    re-read the just-written table once per column — at 100 TB the scan
    count is the cost; pinned by the builders' single-scan plan tests).
    One sidecar file per family — ``<out_base>_sketches`` (HLL),
    ``_cms``, ``_hist``, ``_kmv``, ``_bloom`` — each tagged with the
    source column (and, for hist, its [lo,hi,bins] geometry, which is
    part of the sketch identity). Returns an exit code on failure,
    None on success."""
    from mysql2parquet_spark.operators.sketches import (
        bloom_sketch_multi,
        category_sketch_multi,
        cms_sketch_multi,
        distinct_sketches_multi,
        histogram_sketch_multi,
        kmv_sketch_multi,
    )

    try:
        back = spark.read.parquet(read_path)
        if plan["hll"]:
            distinct_sketches_multi(back, plan["hll"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_sketches")
        if plan["cms"]:
            cms_sketch_multi(back, plan["cms"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_cms")
        if plan["hist"]:
            histogram_sketch_multi(back, plan["hist"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_hist")
        if plan["kmv"]:
            kmv_sketch_multi(back, plan["kmv"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_kmv")
        if plan["bloom"]:
            bloom_sketch_multi(back, plan["bloom"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_bloom")
        if plan["cat"]:
            category_sketch_multi(back, plan["cat"]).write.mode(
                "overwrite"
            ).parquet(out_base + "_cat")
    except Exception as e:
        return _fail("sketch", e)
    return None


def _run_drift(spark, args) -> int:
    """--drift-versions OLD NEW: drift report between two committed
    versions' sidecars — HISTOGRAM sidecars for numeric columns and
    CATEGORY (top-k count) sidecars for categorical ones. The whole
    computation touches KB-scale artifacts; comparing two 100 TB
    nightly exports never re-reads either export. Histogram geometry
    must match exactly (lo/hi/bins are part of the sketch identity);
    columns or whole families present on only one side are reported as
    notes, not silently dropped and not an error — adding a sidecar
    spec to tonight's publish shouldn't break comparisons against last
    night."""
    import os as _os

    from pyspark.sql import functions as F

    from mysql2parquet_spark.operators.drift import (
        count_drift,
        histogram_drift,
    )

    v_old, v_new = args.drift_versions
    fam_names = {"hist": "histogram", "cat": "category"}
    comparable: dict[str, tuple] = {}
    missing: list[str] = []
    for fam, label in fam_names.items():
        paths = {
            v: _os.path.join(args.snapshot_root, "sidecars", f"v={v}_{fam}")
            for v in (v_old, v_new)
        }
        exists = {v: _os.path.exists(p) for v, p in paths.items()}
        if all(exists.values()):
            comparable[fam] = (
                spark.read.parquet(paths[v_old]),
                spark.read.parquet(paths[v_new]),
            )
        else:
            for v in (v_old, v_new):
                if not exists[v]:
                    missing.append(
                        f"no {label} sidecar for version {v} ({paths[v]})"
                    )
            if any(exists.values()):
                have = v_old if exists[v_old] else v_new
                lack = v_new if exists[v_old] else v_old
                print(
                    f"drift note: {label} sidecar exists for version "
                    f"{have} but not {lack} — family skipped",
                    file=sys.stderr,
                )
    if not comparable:
        print(
            "drift error: "
            + "; ".join(missing)
            + " — publish with --sidecars hist:col:lo:hi (numeric) "
            "and/or cat:col (categorical)",
            file=sys.stderr,
        )
        return 2

    def common_columns(fam, a, b, tagged):
        """Intersect the per-column tags; note asymmetric columns."""
        ca = {r["column"] for r in tagged(a)}
        cb = {r["column"] for r in tagged(b)}
        for c in sorted(ca ^ cb):
            side = "old" if c in ca else "new"
            print(
                f"drift note: column {c!r} has a {fam_names[fam]} only "
                f"in the {side} version — skipped",
                file=sys.stderr,
            )
        return sorted(ca & cb)

    reports = []
    if "hist" in comparable:
        a, b = comparable["hist"]

        def geom(df):
            rows = df.select("column", "lo", "hi", "bins").distinct().collect()  # bounded-metadata: one row per (column, geometry)
            return {r["column"]: (r["lo"], r["hi"], r["bins"]) for r in rows}

        ga, gb = geom(a), geom(b)
        for c in sorted(set(ga) ^ set(gb)):
            side = "old" if c in ga else "new"
            print(
                f"drift note: column {c!r} has a histogram only in the "
                f"{side} version — skipped",
                file=sys.stderr,
            )
        common = sorted(set(ga) & set(gb))
        bad = {c: (ga[c], gb[c]) for c in common if ga[c] != gb[c]}
        if bad:
            print(
                f"drift error: incomparable histogram geometry "
                f"(lo, hi, bins) between versions: {bad} — sketches "
                "only compare at identical geometry",
                file=sys.stderr,
            )
            return 2
        if common:
            reports.append((
                "hist",
                histogram_drift(
                    a.filter(F.col("column").isin(common)).select(
                        "column", "bin", "cnt"
                    ),
                    b.filter(F.col("column").isin(common)).select(
                        "column", "bin", "cnt"
                    ),
                    ["column"],
                ),
            ))
    if "cat" in comparable:
        a, b = comparable["cat"]
        common = common_columns(
            "cat", a, b,
            lambda df: df.select("column").distinct().collect(),  # bounded-metadata: one row per sketched column
        )
        if common:
            reports.append((
                "cat",
                count_drift(
                    a.filter(F.col("column").isin(common)),
                    b.filter(F.col("column").isin(common)),
                    ["column"],
                ),
            ))
    if not reports:
        print(
            "drift error: the two versions share no sidecar columns",
            file=sys.stderr,
        )
        return 2
    out_rows = []
    for kind, rep in reports:
        rows = rep.orderBy("column").collect()  # bounded-metadata: one row per drifted column
        out_rows += [(kind, r) for r in rows]
    for kind, r in out_rows:
        print(
            f"{r['column']}\t{kind}\tpsi={r['psi']}\tjs={r['js_div']}\t"
            f"tv={r['tv_dist']}\tn_old={r['n_a']}\tn_new={r['n_b']}\t"
            f"{r['verdict']}"
        )
    if args.drift_gate:
        drifted = [
            f"{r['column']} ({kind})"
            for kind, r in out_rows
            if r["verdict"] == "drifted"
        ]
        if drifted:
            print(
                f"drift gate: drifted columns: {', '.join(drifted)}",
                file=sys.stderr,
            )
            return 3
    return 0


def _snapshot_sidecar_base(root: str, version_path: str) -> str:
    """Sidecar base path for a published version: sidecars live under
    ``<root>/sidecars/`` (the name cannot collide with ``v=N`` version
    discovery) keyed by the version dir name, so vacuuming v=N knows
    exactly which sidecar files to drop."""
    import os as _os

    return _os.path.join(root, "sidecars", _os.path.basename(version_path))


def _vacuum_sidecars(spark, root: str, dropped: list[int]) -> None:
    """Drop the sidecar files of vacuumed snapshot versions (Hadoop FS
    so any supported filesystem works). Best-effort: a sidecar is
    derived metadata; a leftover one merely wastes kilobytes."""
    from mysql2parquet_spark.io import _VERSION_PREFIX

    jvm = spark._jvm
    for n in dropped:
        for suffix in ("_sketches", "_cms", "_hist", "_kmv", "_bloom", "_cat"):
            # per-path try: one transient FS error must not fail a run
            # whose versions are all committed (the leftover is derived
            # metadata, rebuildable and kilobyte-scale)
            try:
                p = jvm.org.apache.hadoop.fs.Path(
                    f"{root}/sidecars/{_VERSION_PREFIX}{n}{suffix}"
                )
                fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
                if fs.exists(p):
                    fs.delete(p, True)
            except Exception as e:
                print(
                    f"note: could not vacuum sidecar v={n}{suffix}: {e}",
                    file=sys.stderr,
                )


def _run_stream_fold(spark, args, part_cols: list[str] | None = None) -> int:
    """--stream-events: the proven streaming fold (tests/test_cdc_e2e.py
    — foreachBatch + fold_cdc_snapshot, exactly-once across restarts via
    the checkpoint), exposed as a CLI surface. Two fold modes: CDC event
    files (--cdc-op-column/--cdc-seq-column) or full-row delta files
    resolved last-event-wins (--order-column). Each landed delta file
    becomes one committed snapshot version (maxFilesPerTrigger=1); the
    run drains everything currently landed and exits — the reference's
    nightly cron (main.go:87-165) becomes "rerun to catch up",
    processing only what's new."""
    from mysql2parquet_spark.io import (
        fold_cdc_snapshot,
        fold_merge_snapshot,
        latest_snapshot,
        snapshot_versions,
        vacuum_snapshots,
    )
    from mysql2parquet_spark.streaming.sources import foreach_batch_sink

    committed = [
        n
        for n, ok in snapshot_versions(spark, args.snapshot_root).items()
        if ok
    ]
    if not committed:
        print(
            "snapshot error: cannot stream deltas into an empty root — "
            "publish an initial full load first (run once with --query "
            "and without delta flags)",
            file=sys.stderr,
        )
        return 2
    try:
        # Schema from the files already landed: a file stream needs a
        # declared schema, and the deltas themselves are the contract.
        schema = spark.read.parquet(args.stream_events).schema
    except Exception as e:
        msg = _first_line(e)
        print(
            f"stream error: no readable delta files under "
            f"{args.stream_events}: {msg}",
            file=sys.stderr,
        )
        return 2
    if args.sidecar_plan:
        # Fail fast, before any fold commits: every folded version has
        # the current snapshot's schema (CDC op/seq columns never reach
        # the snapshot), so a bad sidecar entry is knowable up front.
        err = _sidecar_precheck(
            spark.read.parquet(latest_snapshot(spark, args.snapshot_root)),
            args.sidecar_plan,
        )
        if err:
            print(f"sketch error: {err}", file=sys.stderr)
            return 2
    keys = [k.strip() for k in args.merge_keys.split(",") if k.strip()]
    sidecar_failures: list[str] = []

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return  # no-op trigger must not publish a no-op version
        if args.cdc_op_column:
            path = fold_cdc_snapshot(
                batch_df.sparkSession,
                args.snapshot_root,
                batch_df,
                keys,
                op_col=args.cdc_op_column,
                seq_col=args.cdc_seq_column,
                delete_op=args.cdc_delete_op,
                broadcast_source=not args.no_broadcast_delta,
                partition_by=part_cols,
            )
        else:
            path = fold_merge_snapshot(
                batch_df.sparkSession,
                args.snapshot_root,
                batch_df,
                keys,
                order_col=args.order_column,
                broadcast_source=not args.no_broadcast_delta,
                partition_by=part_cols,
            )
        if args.sidecar_plan:
            # The version is already committed; a sidecar failure must
            # NOT abort the stream (raising here would make the
            # checkpoint reprocess — and thus re-publish — a batch that
            # succeeded). Sidecars are rebuildable derived metadata:
            # record the failure, keep folding, fail the run at the end.
            rc = _write_sidecars(
                batch_df.sparkSession,
                args.sidecar_plan,
                path,
                _snapshot_sidecar_base(args.snapshot_root, path),
            )
            if rc is not None:
                sidecar_failures.append(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(args.stream_events)
    )
    q = foreach_batch_sink(stream, args.checkpoint, fold)
    try:
        q.processAllAvailable()
    except Exception as e:
        return _fail("stream", e)
    finally:
        q.stop()
    if args.keep_versions is not None:
        dropped = vacuum_snapshots(
            spark, args.snapshot_root, args.keep_versions
        )
        if dropped:
            # versions published by earlier (batch) runs may carry
            # sidecars even when this run requested none — drop theirs
            # with them, same as the batch-publish path
            _vacuum_sidecars(spark, args.snapshot_root, dropped)
            print(
                "vacuumed versions: " + ", ".join(str(n) for n in dropped),
                file=sys.stderr,
            )
    if sidecar_failures:
        print(
            "note: all versions committed, but sidecars failed for: "
            + ", ".join(sidecar_failures),
            file=sys.stderr,
        )
        return 2
    print(latest_snapshot(spark, args.snapshot_root))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)

    if args.version:
        print(__version__)
        return 0

    missing = [
        name
        for name, val in (
            ("--query", args.query),
            ("--parquet", args.parquet),
        )
        if val is None
    ]
    if args.stream_events:
        need = [
            name
            for name, val in (
                ("--snapshot-root", args.snapshot_root),
                ("--merge-keys", args.merge_keys),
                ("--checkpoint", args.checkpoint),
            )
            if not val
        ]
        if need:
            print(
                f"--stream-events requires {' '.join(need)}",
                file=sys.stderr,
            )
            return 1
        if not args.cdc_op_column and not args.order_column:
            # two fold modes, both explicit: CDC event batches
            # (op+seq) or full-row deltas resolved last-event-wins
            print(
                "--stream-events needs a fold mode: --cdc-op-column/"
                "--cdc-seq-column for CDC event files, or "
                "--order-column for full-row delta files "
                "(last-event-wins)",
                file=sys.stderr,
            )
            return 1
        if args.query:
            print(
                "--stream-events replaces --query (the landing "
                "directory is the source)",
                file=sys.stderr,
            )
            return 1
        if args.audit_rules:
            # per-batch auditing inside the fold is a different contract
            # (partial failure mid-stream); refuse rather than silently
            # skip the audit
            print(
                "--audit-rules is not supported with --stream-events "
                "(audit the query-result paths; stream folds validate "
                "via the merge-key contract)",
                file=sys.stderr,
            )
            return 1
        missing = [m for m in missing if m != "--query"]
    elif args.checkpoint:
        print("--checkpoint requires --stream-events", file=sys.stderr)
        return 1
    if args.snapshot_root:
        # versioned mode owns the output path; --parquet is not used
        missing = [m for m in missing if m != "--parquet"]
        if (args.parquet and args.diff_versions is None) or args.merge_into:
            print(
                "--snapshot-root replaces --parquet/--merge-into "
                "(the engine manages version paths; --parquet is only "
                "an output for --diff-versions)",
                file=sys.stderr,
            )
            return 1
        if (args.compat or args.single_file) and args.diff_versions is None:
            # the publish path doesn't run the compat projection or the
            # single-file coalesce — silently unused flags mislead
            # (--diff-versions is an EXPORT, where both apply)
            print(
                "--compat/--single-file are not supported with "
                "--snapshot-root publishes",
                file=sys.stderr,
            )
            return 1
        if args.keep_versions is not None and args.keep_versions < 1:
            print(
                "--keep-versions must be >= 1 (the latest committed "
                "version is never deleted)",
                file=sys.stderr,
            )
            return 1
        if not args.merge_keys:
            dependent = [
                flag
                for flag, val in (
                    ("--cdc-op-column", args.cdc_op_column),
                    ("--cdc-seq-column", args.cdc_seq_column),
                    ("--order-column", args.order_column),
                    ("--no-broadcast-delta", args.no_broadcast_delta or None),
                )
                if val
            ]
            if dependent:
                # silently ignoring these would publish the raw delta
                # (CDC events, tombstones included) as a full snapshot
                print(
                    f"{' '.join(dependent)} require(s) --merge-keys",
                    file=sys.stderr,
                )
                return 1
    if args.scd2_history:
        conflicts = [
            flag
            for flag, val in (
                ("--merge-into", args.merge_into),
                ("--snapshot-root", args.snapshot_root),
                ("--stream-events", args.stream_events),
                ("--order-column", args.order_column),
            )
            if val
        ]
        if conflicts:
            print(
                f"--scd2-history conflicts with {' '.join(conflicts)} "
                "(the history table IS the output — it is not a "
                "current-state snapshot to merge into or version)",
                file=sys.stderr,
            )
            return 1
        need = [
            flag
            for flag, val in (
                ("--merge-keys", args.merge_keys),
                ("--cdc-seq-column", args.cdc_seq_column),
            )
            if not val
        ]
        if need:
            print(f"--scd2-history requires {' '.join(need)}", file=sys.stderr)
            return 1
    elif args.cdc_tiebreak_column:
        print(
            "--cdc-tiebreak-column requires --scd2-history",
            file=sys.stderr,
        )
        return 1
    if args.with_sketches is not None or args.sidecars is not None:
        if args.diff_versions is not None:
            print(
                "--with-sketches/--sidecars describe a table, not a "
                "change set — not valid with --diff-versions",
                file=sys.stderr,
            )
            return 1
        # canonical plan: {"hll": [col...], "cms": [col...],
        # "hist": [(col, lo, hi)...]}, deduped preserving order — a
        # repeated entry would write duplicate sidecar rows whose
        # n_rows/cnt double-count on merge
        plan: dict[str, list] = {
            "hll": [], "cms": [], "hist": [], "kmv": [], "bloom": [],
            "cat": [],
        }
        entries: list[str] = []
        if args.with_sketches is not None:
            entries += [
                f"hll:{c.strip()}"
                for c in args.with_sketches.split(",")
                if c.strip()
            ]
            if not entries:
                print(
                    "--with-sketches must name at least one column",
                    file=sys.stderr,
                )
                return 1
        if args.sidecars is not None:
            spec_entries = [
                e.strip() for e in args.sidecars.split(",") if e.strip()
            ]
            if not spec_entries:
                print(
                    "--sidecars must contain at least one entry",
                    file=sys.stderr,
                )
                return 1
            entries += spec_entries
        for e in entries:
            parts = e.split(":")
            fam = parts[0]
            if fam in ("hll", "cms", "kmv", "bloom"):
                if len(parts) != 2 or not parts[1]:
                    print(
                        f"bad --sidecars entry {e!r}: expected "
                        f"{fam}:column",
                        file=sys.stderr,
                    )
                    return 1
                if parts[1] not in plan[fam]:
                    plan[fam].append(parts[1])
            elif fam == "hist":
                if len(parts) != 4 or not parts[1]:
                    print(
                        f"bad --sidecars entry {e!r}: expected "
                        "hist:column:lo:hi",
                        file=sys.stderr,
                    )
                    return 1
                try:
                    lo, hi = float(parts[2]), float(parts[3])
                except ValueError:
                    print(
                        f"bad --sidecars entry {e!r}: lo/hi must be "
                        "numbers",
                        file=sys.stderr,
                    )
                    return 1
                if not hi > lo:
                    print(
                        f"bad --sidecars entry {e!r}: need hi > lo "
                        "(the [lo,hi) geometry is part of the sketch "
                        "identity and must match across every shard "
                        "that will merge)",
                        file=sys.stderr,
                    )
                    return 1
                ent = (parts[1], lo, hi)
                if ent not in plan["hist"]:
                    plan["hist"].append(ent)
            elif fam == "cat":
                if len(parts) not in (2, 3) or not parts[1]:
                    print(
                        f"bad --sidecars entry {e!r}: expected "
                        "cat:column or cat:column:k",
                        file=sys.stderr,
                    )
                    return 1
                k = 100
                if len(parts) == 3:
                    try:
                        k = int(parts[2])
                    except ValueError:
                        k = 0
                    if k < 1:
                        print(
                            f"bad --sidecars entry {e!r}: k must be a "
                            "positive integer",
                            file=sys.stderr,
                        )
                        return 1
                ent = (parts[1], k)
                if ent not in plan["cat"]:
                    plan["cat"].append(ent)
            else:
                print(
                    f"bad --sidecars entry {e!r}: family must be "
                    "hll, cms, kmv, bloom, hist, or cat",
                    file=sys.stderr,
                )
                return 1
        args.sidecar_plan = plan
        # back-compat alias used by the HLL pre-check/tests
        args.sketch_cols = plan["hll"]
    else:
        args.sidecar_plan = None
    if args.diff_versions is not None:
        need = [
            flag
            for flag, val in (
                ("--snapshot-root", args.snapshot_root),
                ("--merge-keys", args.merge_keys),
                ("--parquet", args.parquet),
            )
            if not val
        ]
        if need:
            print(f"--diff-versions requires {' '.join(need)}", file=sys.stderr)
            return 1
        if args.query:
            print(
                "--diff-versions replaces --query (the two versions are "
                "the source)",
                file=sys.stderr,
            )
            return 1
        missing = [m for m in missing if m not in ("--query", "--parquet")]
    elif args.diff_include_old:
        print("--diff-include-old requires --diff-versions", file=sys.stderr)
        return 1
    if args.drift_versions is not None:
        if not args.snapshot_root:
            print("--drift-versions requires --snapshot-root", file=sys.stderr)
            return 1
        if args.query:
            print(
                "--drift-versions replaces --query (the two versions' "
                "sidecars are the source)",
                file=sys.stderr,
            )
            return 1
        missing = [m for m in missing if m not in ("--query", "--parquet")]
    elif args.drift_gate:
        print("--drift-gate requires --drift-versions", file=sys.stderr)
        return 1
    if (
        args.tables_dir is None
        and args.stream_events is None
        and args.diff_versions is None
        and args.drift_versions is None
    ):
        missing += [
            name
            for name, val in (
                ("--password", args.password),
                ("--database", args.database),
            )
            if val is None
        ]
    if args.keep_versions is not None and not args.snapshot_root:
        print(
            "--keep-versions requires --snapshot-root (only the "
            "versioned layout has versions to vacuum)",
            file=sys.stderr,
        )
        return 1
    if args.partition_by and args.single_file:
        print(
            "--single-file and --partition-by are exclusive (a "
            "partitioned layout is a directory tree by definition)",
            file=sys.stderr,
        )
        return 1
    part_cols = (
        [c.strip() for c in args.partition_by.split(",") if c.strip()]
        if args.partition_by
        else None
    )
    if args.partition_by and not part_cols:
        print(
            "--partition-by must name at least one column",
            file=sys.stderr,
        )
        return 1
    if args.merge_into and not args.merge_keys:
        missing += ["--merge-keys"]
    if args.snapshot_root and args.cdc_op_column and not args.merge_keys:
        missing += ["--merge-keys"]
    if not args.merge_into and not args.snapshot_root and not args.scd2_history:
        stray = [
            flag
            for flag, val in (
                ("--merge-keys", args.merge_keys),
                ("--cdc-op-column", args.cdc_op_column),
                ("--cdc-seq-column", args.cdc_seq_column),
                ("--order-column", args.order_column),
                ("--no-broadcast-delta", args.no_broadcast_delta or None),
            )
            if val
        ]
        if stray:
            # Silently ignoring these would export raw CDC events
            # (deleted keys included) as a "snapshot".
            print(
                f"{' '.join(stray)} require(s) --merge-into or --snapshot-root",
                file=sys.stderr,
            )
            return 1
    if missing:
        parser.print_usage(sys.stderr)
        print(f"missing required flags: {' '.join(missing)}", file=sys.stderr)
        return 1
    if args.merge_into or args.snapshot_root:
        if args.merge_into:
            import os as _os

            # realpath both sides: '/data//snap', './snap', and symlinked
            # aliases of the snapshot dir must not slip past the guard —
            # the overwrite-mode export would delete the snapshot being
            # read
            if _os.path.realpath(args.merge_into) == _os.path.realpath(
                args.parquet or ""
            ):
                print(
                    "--parquet must differ from --merge-into (write-audit-"
                    "publish: never overwrite the snapshot being read)",
                    file=sys.stderr,
                )
                return 1
        if args.merge_keys is not None and not [
            k.strip() for k in args.merge_keys.split(",") if k.strip()
        ]:
            print(
                "--merge-keys must name at least one column",
                file=sys.stderr,
            )
            return 1
        if bool(args.cdc_op_column) != bool(args.cdc_seq_column):
            print(
                "--cdc-op-column and --cdc-seq-column go together",
                file=sys.stderr,
            )
            return 1
        if args.cdc_op_column and args.order_column:
            print(
                "--order-column conflicts with CDC mode (ordering comes "
                "from --cdc-seq-column); drop one",
                file=sys.stderr,
            )
            return 1

    from mysql2parquet_spark.compat import export, reference_type_projection
    from mysql2parquet_spark.io import read_jdbc, register_tables
    from mysql2parquet_spark.session import _running_session, get_spark

    # Session ownership: as a console process there is never an active
    # session — main() creates one and stops it on exit, exactly as
    # before. Embedded callers (a host application or the test suite
    # driving main() in-process) may already hold a session; getOrCreate
    # returns it, and stopping a session we did not create would kill
    # the host's SparkContext out from under it (SparkContext is
    # process-global). So: stop only what we started. This is also what
    # makes the CLI contract tests runnable in-process instead of one
    # ~12 s JVM boot per invocation (r15).
    _preexisting = _running_session()
    spark = get_spark("mysql2parquet-spark-cli", master=args.master)
    try:
        if args.stream_events:
            return _run_stream_fold(spark, args, part_cols)
        if args.drift_versions is not None:
            return _run_drift(spark, args)
        if args.diff_versions is not None:
            from mysql2parquet_spark.io import snapshot_diff

            keys = [k.strip() for k in args.merge_keys.split(",") if k.strip()]
            v_old, v_new = args.diff_versions
            try:
                diff = snapshot_diff(
                    spark,
                    args.snapshot_root,
                    v_old,
                    v_new,
                    keys,
                    include_old=args.diff_include_old,
                )
            except Exception as e:
                return _fail("diff", e)
            if args.audit_rules:
                # referential rules resolve parents via spark.table();
                # register --tables-dir views first (the main export path
                # does this as its source step, the diff path must too)
                if args.tables_dir:
                    try:
                        register_tables(spark, args.tables_dir)
                    except Exception as e:  # corrupt table file, ...
                        return _fail("tables", e)
                rc = _run_audit(diff, args, spark)
                if rc is not None:
                    return rc
            export(
                diff,
                args.parquet,
                compat=args.compat,
                single_file=args.single_file,
                partition_by=part_cols,
            )
            return 0
        if args.tables_dir:
            try:
                register_tables(spark, args.tables_dir)
            except Exception as e:  # corrupt table file, ...
                return _fail("tables", e)
            try:
                df = spark.sql(args.query)
            except Exception as e:  # clean one-line SQL errors, not tracebacks
                return _fail("query", e)
        else:
            session_init, query = _split_session_prelude(args.query)
            url = f"jdbc:mysql://{args.host}:{args.port}/{args.database}"
            df = read_jdbc(
                spark,
                url,
                query=None if args.partition_column else query,
                table=f"({query}) q" if args.partition_column else None,
                user=args.user,
                password=args.password,
                session_init=session_init,
                partition_column=args.partition_column,
                lower_bound=args.lower,
                upper_bound=args.upper,
                num_partitions=args.num_partitions,
            )
        if args.merge_into:
            from mysql2parquet_spark.operators.merge import (
                snapshot_apply_cdc,
                snapshot_merge,
            )

            keys = [k.strip() for k in args.merge_keys.split(",") if k.strip()]
            try:
                if args.cdc_op_column:
                    df = snapshot_apply_cdc(
                        spark,
                        args.merge_into,
                        df,
                        keys,
                        op_col=args.cdc_op_column,
                        seq_col=args.cdc_seq_column,
                        delete_op=args.cdc_delete_op,
                        broadcast_source=not args.no_broadcast_delta,
                    )
                else:
                    df = snapshot_merge(
                        spark,
                        args.merge_into,
                        df,
                        keys,
                        broadcast_source=not args.no_broadcast_delta,
                        order_col=args.order_column,
                    )
            except Exception as e:  # missing snapshot, bad key column, ...
                return _fail("merge", e)
        if args.snapshot_root:
            # Versioned-snapshot mode: one command for the whole
            # lifecycle — first run bootstraps v=0 from the query result;
            # later runs with --merge-keys fold the result in as a delta
            # (MERGE or CDC) and publish the next committed version. The
            # merge itself goes through the owning helpers
            # (snapshot_apply_cdc / snapshot_merge) so the snapshot-read
            # invariants live in one place.
            import os as _os

            from mysql2parquet_spark.io import (
                _VERSION_PREFIX,
                publish_snapshot,
                snapshot_versions,
                vacuum_snapshots,
            )
            from mysql2parquet_spark.operators.merge import (
                _dedupe_source,
                snapshot_apply_cdc,
                snapshot_merge,
            )

            try:
                committed = [
                    n
                    for n, ok in snapshot_versions(
                        spark, args.snapshot_root
                    ).items()
                    if ok
                ]
                if not committed and args.cdc_op_column:
                    # CDC events are never a valid snapshot: bootstrapping
                    # would commit op/seq columns and tombstone rows as
                    # live data
                    print(
                        "snapshot error: cannot bootstrap a snapshot from "
                        "raw CDC events — publish an initial full load "
                        "first (run once without --cdc-op-column)",
                        file=sys.stderr,
                    )
                    return 2
                if not committed and args.merge_keys:
                    # Bootstrap with merge keys declared: the first batch
                    # must honor the same key-uniqueness contract later
                    # folds enforce — resolve duplicates last-event-wins
                    # via --order-column, or fail on them like strict
                    # MERGE would. Otherwise a duplicated-key v=0 gets
                    # committed and carried forward by every later fold.
                    keys = [
                        k.strip()
                        for k in args.merge_keys.split(",")
                        if k.strip()
                    ]
                    df = _dedupe_source(df, keys, args.order_column)
                if committed and args.merge_keys:
                    keys = [
                        k.strip()
                        for k in args.merge_keys.split(",")
                        if k.strip()
                    ]
                    latest = _os.path.join(
                        args.snapshot_root,
                        f"{_VERSION_PREFIX}{max(committed)}",
                    )
                    if args.cdc_op_column:
                        df = snapshot_apply_cdc(
                            spark,
                            latest,
                            df,
                            keys,
                            op_col=args.cdc_op_column,
                            seq_col=args.cdc_seq_column,
                            delete_op=args.cdc_delete_op,
                            broadcast_source=not args.no_broadcast_delta,
                        )
                    else:
                        df = snapshot_merge(
                            spark,
                            latest,
                            df,
                            keys,
                            broadcast_source=not args.no_broadcast_delta,
                            order_col=args.order_column,
                        )
                if args.sidecar_plan:
                    err = _sidecar_precheck(df, args.sidecar_plan)
                    if err:
                        print(f"sketch error: {err}", file=sys.stderr)
                        return 2
                if args.audit_rules:
                    rc = _run_audit(df, args, spark)
                    if rc is not None:
                        return rc
                path = publish_snapshot(
                    df, args.snapshot_root, partition_by=part_cols
                )
                if args.sidecar_plan:
                    # built by reading back the COMMITTED version — the
                    # same read-back contract as the plain-export path.
                    # The version commit is already atomic; the sidecar
                    # is derived metadata, rebuildable from v=N if this
                    # write dies.
                    rc = _write_sidecars(
                        spark,
                        args.sidecar_plan,
                        path,
                        _snapshot_sidecar_base(args.snapshot_root, path),
                    )
                    if rc is not None:
                        print(
                            f"note: version already committed at {path}; "
                            "only its sidecar failed",
                            file=sys.stderr,
                        )
                        return rc
                if args.keep_versions is not None:
                    dropped = vacuum_snapshots(
                        spark, args.snapshot_root, args.keep_versions
                    )
                    if dropped:
                        _vacuum_sidecars(spark, args.snapshot_root, dropped)
                        print(
                            "vacuumed versions: "
                            + ", ".join(str(n) for n in dropped),
                            file=sys.stderr,
                        )
            except Exception as e:
                return _fail("snapshot", e)
            print(path)
            return 0
        if args.scd2_history:
            from mysql2parquet_spark.operators.merge import scd2_history

            keys = [k.strip() for k in args.merge_keys.split(",") if k.strip()]
            try:
                df = scd2_history(
                    df,
                    keys,
                    seq_col=args.cdc_seq_column,
                    op_col=args.cdc_op_column,
                    delete_op=args.cdc_delete_op,
                    tiebreak_cols=(
                        [args.cdc_tiebreak_column]
                        if args.cdc_tiebreak_column
                        else None
                    ),
                )
            except Exception as e:
                return _fail("scd2", e)
        if args.sidecar_plan:
            # fail BEFORE the (possibly hours-long) export: unknown
            # column or a type a family cannot digest must not cost a
            # completed export. Runs AFTER --scd2-history so the check
            # sees the transformed schema the sidecars will actually be
            # built from (is_current etc. accepted, the dropped op
            # column rejected here, not post-export) — and against the
            # POST---compat projection for the same reason: sidecars
            # read back the export, where --compat has already turned
            # temporals into strings (hll-able) and floats into strings
            # (not hist-able); checking the pre-compat schema would
            # reject the former and wave the latter through to a
            # post-export failure.
            check_df = (
                reference_type_projection(df) if args.compat else df
            )
            err = _sidecar_precheck(check_df, args.sidecar_plan)
            if err:
                print(f"sketch error: {err}", file=sys.stderr)
                return 2
        if args.audit_rules:
            rc = _run_audit(df, args, spark)
            if rc is not None:
                return rc
        export(
            df,
            args.parquet,
            compat=args.compat,
            single_file=args.single_file,
            partition_by=part_cols,
        )
        if args.sidecar_plan:
            exported = args.parquet + (".parquet" if args.single_file else "")
            rc = _write_sidecars(
                spark, args.sidecar_plan, exported, args.parquet
            )
            if rc is not None:
                return rc
        return 0
    finally:
        if _preexisting is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
