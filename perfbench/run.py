"""Benchmark entry point.

    python3 perfbench/run.py --workload {relational,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, runs the workload in its own process (own TMPDIR and
SPARK_LOCAL_DIRS, ``local[nproc]``), checks every operation's output
against DuckDB, appends one JSONL record to ``perfbench/runs/records.jsonl``
and prints one line per metric, then the result JSON as the last line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "runs")
DEADLINE_S = 170.0  # the whole run, generation and checks included

sys.path.insert(0, HERE)

from workloads import JDBC_QUERIES, JDBC_TABLES, WORKLOADS, writes  # noqa: E402

# metrics printed and recorded beside those BENCHMARK.json lists: they
# read 0 on a correct run (fail_ratio), vary with the JVM heap's growth
# (peak_rss_mb), summarise a handful of unlike operations (op_p50_s,
# op_tail_s), or are layer times a workload may not use at all
EXTRA_UNITS = {
    "fail_ratio": "ratio", "peak_rss_mb": "MB", "op_p50_s": "s", "op_tail_s": "s",
    "operators.sort_time_s": "s", "io.read_jdbc_s": "s", "io.write_parquet_s": "s", "cli.main_s": "s",
    "cli.overhead_s": "s", "trace.overhead_share": "ratio",
}


def host_probe_s() -> float:
    """Seconds a fixed single-thread SHA-256 loop takes: the host's speed
    at the start and end of the run, for the record."""
    t = time.perf_counter()
    h = b""
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_rev() -> str | None:
    """HEAD of the repository, or None in a checkout without git."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest() -> str:
    """Digest of the package's and the benchmark's source files: runs of
    the same code share it, with or without git."""
    h = hashlib.sha256()
    files = [*glob.glob(os.path.join(ROOT, "mysql2parquet_spark", "**", "*.py"), recursive=True),
             *glob.glob(os.path.join(HERE, "*.py"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def find_jdbc_jar() -> str | None:
    jar = os.environ.get("PERFBENCH_DUCKDB_JDBC_JAR")
    if jar and os.path.isfile(jar):
        return jar
    hits = sorted(glob.glob(
        os.path.expanduser("~/.cache/coursier/**/duckdb_jdbc*.jar"), recursive=True))
    return hits[-1] if hits else None


def spawn_child(args, run_dir: str, run_id: str, extra: list[str]) -> subprocess.Popen:
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    n = str(os.cpu_count() or 1)
    env = dict(
        os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local, PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS=n, SPARK_GRAFT_SHUFFLE=n,
        OMP_NUM_THREADS="1", PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
        "--run-dir", run_dir, "--run-id", run_id,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spawn-time", repr(time.time()), *extra,
    ]
    with open(os.path.join(run_dir, "child.log"), "w") as log:
        return subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)


def wait_child(p: subprocess.Popen, run_dir: str, budget: float) -> dict:
    try:
        rc = p.wait(timeout=max(budget, 1.0))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the JVM and the Python workers share the child's process group
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "child.log")) as f:
            tail = f.read()[-3000:]
        fail(f"workload process {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def duck(workload: str, data_dir: str, jdbc_db: str | None = None, threads: int = 1):
    """DuckDB connection with the workload's tables as views."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {threads}")
    for t in WORKLOADS[workload]["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    if jdbc_db:
        con.execute(f"ATTACH '{jdbc_db}' AS src (READ_ONLY)")
    return con


def oracle_expectations(workload: str, data_dir: str) -> dict:
    import checks
    from mysql2parquet_spark.queries import all_oracles

    oracles = all_oracles()
    ops = [op for op in WORKLOADS[workload]["ops"] if op in oracles]
    if not ops:
        return {}
    con = duck(workload, data_dir)
    try:
        return {op: checks.oracle_expectation(con, oracles[op]) for op in ops}
    finally:
        con.close()


def check_samples(res: dict, args, data_dir: str, jdbc_db: str | None, wants: dict,
                  source: str) -> dict:
    """Set every sample's ``failure`` (None when its output is right);
    returns the rows-only digests."""
    import checks

    groups: dict[str, list[dict]] = {}
    for s in res["samples"]:
        if "error" in s:
            s["failure"] = s["error"]
        else:
            groups.setdefault(s["op"], []).append(s)
    earlier = earlier_digests(args, source)
    digests = {}
    con = duck(args.workload, data_dir, jdbc_db, threads=os.cpu_count() or 1)
    for op, ss in groups.items():
        if "check" in ss[0]:
            for s in ss:
                c = s["check"]
                written = (f"SELECT * FROM read_parquet('{s['out']}/**/*.parquet', "
                           "hive_partitioning = false)")
                if c["on"] == "jdbc":
                    con.execute("USE src")
                    expected = checks.declared_unsigned(con, c["sql"])
                    s["failure"] = checks.check_export(con, written, expected)
                    con.execute("USE memory")
                else:
                    s["failure"] = checks.check_export(con, written, c["sql"])
        elif op in wants:
            for s in ss:
                s["failure"] = checks.check_oracled(s, wants[op])
        else:
            bad = checks.check_rows_only(ss, earlier.get(op))
            for i, s in enumerate(ss):
                s["failure"] = bad.get(i)
            digests[op] = ss[0]["digest"]
    con.close()
    return digests


def earlier_digests(args, source: str) -> dict:
    path = os.path.join(RUNS, "records.jsonl")
    if not os.path.exists(path):
        return {}
    out = {}
    with open(path) as f:
        for line in f:
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if (r.get("workload"), r.get("seed"), r.get("source")) == (args.workload, args.seed, source):
                out.update(r.get("rows_only_digests", {}))
    return out


def e2e_metrics(res: dict, workload: str) -> tuple[dict, dict]:
    measured = [s for s in res["samples"] if s["pass"] > 0 and not s.get("traced") and "t" in s]
    per_op: dict[str, list[dict]] = {}
    for s in measured:
        per_op.setdefault(s["op"], []).append(s)
    # each operation's latency is its best of the measured passes (the
    # JIT still settles between passes, and a pass can catch a stall);
    # a run holds a few samples of a few different operations, too few
    # for pooled percentiles, so the summaries are across operations
    best = {op: min(x["t"] for x in ss) for op, ss in per_op.items()}
    lat = sorted(best.values())
    # output rate and size: of the parquet written, where the workload
    # writes; else of the rows returned to the client
    out = [op for op, ss in per_op.items() if "bytes" in ss[0] or not writes(workload)]
    rows = sum(per_op[op][0]["rows"] for op in out)
    out_bytes = sum(per_op[op][0]["bytes" if writes(workload) else "out_bytes"] for op in out)
    # set-up 1 launches the JVM; the later ones repeat the set-up in it
    setups = [r["setup_s"] for r in res["setups"][1:]]
    n = len(measured) // max(len(per_op), 1)
    m = {
        "setup_s": statistics.median(setups),
        "wall_s": sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": lat[-1],
        "rows_per_s": rows / sum(best[op] for op in out),
        "out_bytes_per_row": out_bytes / max(rows, 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    notes = {
        "setup_s": f"median of {len(setups)} set-ups after the first (JVM launch: "
                   f"{res['setups'][0]['setup_s']:.3g} s)",
        "wall_s": f"one pass: sum over {len(lat)} ops of each op's best of {n} passes",
        "op_p50_s": f"median over {len(lat)} ops of each op's best of {n} passes",
        "op_tail_s": f"p100: slowest of {len(lat)} ops, each its best of {n} passes",
        "rows_per_s": f"{rows} rows {'written' if writes(workload) else 'returned'} per pass by {len(out)} ops",
        "out_bytes_per_row": "parquet bytes written" if writes(workload) else "pickled result bytes",
        "peak_rss_mb": "benchmark process + JVM",
    }
    return m, notes


def layer_metrics(res: dict) -> tuple[dict, dict]:
    traced = [s for s in res["samples"] if s.get("layers")]
    passes: dict[int, dict] = {}
    for s in traced:
        acc = passes.setdefault(s["pass"], {})
        for k, v in s["layers"].items():
            acc[k] = max(acc.get(k, 0.0), v) if k in ("exec.task_skew", "operators.peak_memory_bytes") \
                else acc.get(k, 0.0) + v
    keys = sorted({k for p in passes.values() for k in p})
    med = {k: statistics.median(p.get(k, 0.0) for p in passes.values()) for k in keys}
    setups = res["setups"][1:]
    m = {
        "session.get_spark_s": statistics.median(r["session.get_spark_s"] for r in setups),
        "queries.load_s": statistics.median(r["queries.load_s"] for r in setups),
    }
    for k in keys:
        if k.startswith(("queries.", "catalyst.", "exec.", "io.", "cli.", "operators.")):
            m[k] = med[k]
    m["queries.construct_share"] = med.get("queries.construct_s", 0.0) / med["op_s"] if med.get("op_s") else 0.0
    tr = [p["t"] for p in res["passes"] if p["traced"]]
    un = [p["t"] for p in res["passes"] if not p["traced"]]
    m["trace.overhead_s"] = statistics.mean(tr) - statistics.mean(un)
    m["trace.overhead_share"] = m["trace.overhead_s"] / statistics.mean(un)
    notes = {
        "trace.overhead_s": f"mean traced pass ({len(tr)}) - mean untraced pass ({len(un)})",
        "trace.overhead_share": "tracing overhead / mean untraced pass",
        "exec.task_skew": "max over ops of the slowest stage's max/median task run time",
        "operators.peak_memory_bytes": "max over SQL nodes",
        "queries.construct_share": "construction self time / operation time",
    }
    for k in m:
        notes.setdefault(k, f"median of {len(setups)} set-ups after the first"
                         if k in ("session.get_spark_s", "queries.load_s")
                         else f"per pass, summed over ops; median of {len(passes)} traced passes")
    return m, notes


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "mysql2parquet_spark")):
        fail(f"no mysql2parquet_spark package under {ROOT}: run from a repository checkout", 2)
    sys.path.insert(0, ROOT)
    import checks
    import gen

    missed = checks.self_check()
    if missed:
        fail("output checks failed their self-check: " + "; ".join(missed), 3)
    spec = WORKLOADS[args.workload]
    uses_jdbc = any(op in JDBC_QUERIES for op in spec["ops"])
    jar = find_jdbc_jar() if uses_jdbc else None
    if uses_jdbc and jar is None:
        fail("the JDBC operations need the DuckDB JDBC driver jar "
             "(set PERFBENCH_DUCKDB_JDBC_JAR or place it in the coursier cache)", 2)
    os.makedirs(RUNS, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(t_start)}"
    run_dir = os.path.join(RUNS, run_id)
    load_start = os.getloadavg()
    probe_start = host_probe_s()
    source = source_digest()
    try:
        data_dir = os.path.join(run_dir, "data")
        jdbc_db = os.path.join(run_dir, "source.duckdb") if uses_jdbc else None
        extra = ["--data-dir", data_dir]
        if jdbc_db:
            extra += ["--jdbc-db", jdbc_db, "--jdbc-jar", jar]
        # the inputs are generated while the workload process boots Spark;
        # it waits for them before its first set-up registers them
        os.makedirs(run_dir)
        child = spawn_child(args, run_dir, run_id, extra)
        try:
            t = time.time()
            rows_in = gen.generate(data_dir, args.seed, spec["tables"], spec["scale"])
            if jdbc_db:
                gen.duckdb_source(data_dir, jdbc_db, JDBC_TABLES)
            gen_s = time.time() - t
            open(os.path.join(run_dir, "inputs.ready"), "w").close()
            # oracle answers, while the workload process is still booting
            wants = oracle_expectations(args.workload, data_dir)
        except BaseException:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            raise
        res = wait_child(child, run_dir, DEADLINE_S - 25.0 - (time.time() - t_start))
        t = time.time()
        digests = check_samples(res, args, data_dir, jdbc_db, wants, source)
        check_s = time.time() - t
        samples = res["samples"]
        failures = [f"{s['op']}#{s['pass']}: {s['failure']}" for s in samples if s.get("failure")]
        attempted, failed = len(samples), len(failures)
        e2e, e2e_notes = e2e_metrics(res, args.workload)
        layers, layer_notes = layer_metrics(res) if args.trace else ({}, {})
        record = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "git_rev": git_rev(), "source": source,
            "trace": args.trace, "seconds": args.seconds, "nproc": res["nproc"],
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "host_probe_s": [probe_start, host_probe_s()],
            "input_rows": rows_in, "scale": spec["scale"], "gen_s": gen_s, "check_s": check_s,
            "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
            "failures": failures, "metrics": e2e, "metric_notes": e2e_notes,
            "layers": layers, "layer_notes": layer_notes, "setups": res["setups"],
            "warmup_s": res["warmup_s"], "prepare_s": res["prepare_s"], "passes": res["passes"],
            "confs": res["confs"], "conf_changes": res["conf_changes"],
            "rows_only_digests": digests,
            "ops": [{k: v for k, v in s.items() if k not in ("cols", "check")} for s in samples],
        }
        if res.get("spans"):
            spans = os.path.join(RUNS, f"spans-{run_id}.jsonl")
            shutil.move(res["spans"], spans)
            record["spans"] = os.path.relpath(spans, ROOT)
        with open(os.path.join(RUNS, "records.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    values = {**e2e, **layers, "fail_ratio": failed / attempted}
    notes = {**e2e_notes, **layer_notes, "fail_ratio": f"n={attempted}, failed={failed}"}
    extra = {"fail_ratio", *(layers if args.trace else e2e)}
    shown = [k for k in EXTRA_UNITS if k in extra]
    for k in [*listed, *shown]:
        unit = listed.get(k) or EXTRA_UNITS[k]
        print(f"metric {k} = {values.get(k, 0.0):.6g} {unit} ({notes.get(k, 'not used by this workload')})")
    out = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in listed.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
