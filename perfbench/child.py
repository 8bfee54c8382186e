"""One workload run, in its own process: set-up rounds, a warm-up pass,
then a closed loop (one client) over the workload's operations for at
least ``MEASURED_PASSES`` passes and ``--seconds`` of timed operation
time. Writes a result JSON for ``run.py``; output checks happen there,
outside the timed region.

Set-up is done ``SETUP_ROUNDS`` times. Round 1 runs from process start
(JVM launch included); later rounds stop the session, drop the
package's modules and the persisted ``m2p_*`` artifacts, and build
everything again in the same JVM.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import (  # noqa: E402
    PACKAGE,
    Rest,
    Tracer,
    count_exchanges,
    outermost,
    self_times,
    ui_time,
)
from workloads import (  # noqa: E402
    CLI_EXPORT_QUERY,
    JDBC_DRIVER,
    JDBC_QUERIES,
    SNAPSHOT_BOOTSTRAP,
    SNAPSHOT_KEY,
    WORKLOADS,
    fold_query,
    snapshot_expected,
)

SETUP_ROUNDS = 3
MEASURED_PASSES = 3
CONF_KEYS_SKIP = ("spark.app.", "spark.driver.host", "spark.driver.port", "spark.executor.id",
                  "spark.sql.execution.root.id", "spark.ui.", "spark.jobGroup",
                  "spark.job.", "spark.sql.execution.id", "spark.repl.")


def _vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _purge_package() -> None:
    for name in list(sys.modules):
        if name == PACKAGE or name.startswith(PACKAGE + "."):
            del sys.modules[name]


def _dir_stats(path: str) -> dict:
    import pyarrow.parquet as pq

    files = sorted(
        p for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith((".", "_"))
    )
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(p) for p in files),
        "rows": sum(pq.read_metadata(p).num_rows for p in files),
    }


class Run:
    def __init__(self, a):
        self.a = a
        self.spec = WORKLOADS[a.workload]
        self.nproc = os.cpu_count() or 1
        self.tracer = Tracer(a.run_id)
        self.spark = None
        self.fold = 0
        self.samples: list[dict] = []
        self.conf_changes: list[dict] = []
        self.confs: dict = {}
        self.out_root = os.path.join(a.run_dir, "out")

    # -- set-up ----------------------------------------------------------
    def setup_round(self, r: int) -> dict:
        t0 = self.a.spawn_time if r == 0 else time.time()
        if self.spark is not None:
            self.spark.stop()
            _purge_package()
            for p in glob.glob(os.path.join(tempfile.gettempdir(), "m2p_*")):
                shutil.rmtree(p, ignore_errors=True)
        ph = {}
        t = time.time()
        from mysql2parquet_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.a.jdbc_jar:
            conf["spark.jars"] = self.a.jdbc_jar
        self.spark = get_spark(
            f"perfbench-{self.a.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        ph["session.get_spark_s"] = time.time() - t
        t = time.time()
        from mysql2parquet_spark.queries import all_queries

        self.qs = all_queries()
        ph["queries.load_s"] = time.time() - t
        import mysql2parquet_spark.cli as cli
        import mysql2parquet_spark.io as io

        self.io, self.cli = io, cli
        if self.a.trace:
            self.tracer.install({
                "io.write_parquet": self._sink_hook("io.write_parquet"),
                "io.publish_snapshot": self._sink_hook("io.publish_snapshot"),
            })
            # the installed wrappers replaced the module attributes
            self.io, self.cli = sys.modules[io.__name__], sys.modules[cli.__name__]
        t = time.time()
        self._wait_inputs()
        ph["inputs_wait_s"] = time.time() - t
        t = time.time()
        self.io.register_tables(self.spark, self.a.data_dir, only=self.spec["tables"])
        ph["io.register_tables_s"] = time.time() - t
        self.confs = self._confs()
        ph["setup_s"] = time.time() - t0
        return ph

    def _wait_inputs(self) -> None:
        """run.py generates the inputs while this process boots Spark."""
        ready = os.path.join(self.a.run_dir, "inputs.ready")
        deadline = time.time() + 120
        while not os.path.exists(ready):
            if time.time() > deadline:
                raise TimeoutError("inputs were not generated")
            time.sleep(0.02)

    def bootstrap_snapshot(self) -> None:
        """The snapshot root ``cli_fold`` folds into: version 0 published
        by the CLI from the source table."""
        self.snap = os.path.join(self.out_root, "snapshot")
        self._cli(["--tables-dir", self.a.data_dir, "--query", SNAPSHOT_BOOTSTRAP,
                   "--snapshot-root", self.snap, "--merge-keys", SNAPSHOT_KEY])

    def _confs(self) -> dict:
        return {
            k: v for k, v in sorted(self.spark.conf.getAll.items())
            if not k.startswith(CONF_KEYS_SKIP)
        }

    def _sink_hook(self, name: str):
        tracer = self.tracer

        def factory(fn):
            def traced(df, *args, **kwargs):
                if not tracer.enabled:
                    return fn(df, *args, **kwargs)
                with tracer.span(name, "io"):
                    with tracer.span("catalyst.plan", "catalyst") as s:
                        s["exchanges"] = count_exchanges(
                            df._jdf.queryExecution().executedPlan().toString()
                        )
                    with tracer.span("exec.action", "exec"):
                        return fn(df, *args, **kwargs)

            return traced

        return factory

    # -- operations --------------------------------------------------------
    def span(self, name, layer):
        return self.tracer.span(name, layer) if self.tracer.enabled else nullcontext({})

    def run_op(self, op: str, k: int) -> dict:
        rec = {"op": op, "pass": k, "traced": self.tracer.enabled}
        self.tracer.ctx = {"op": op, "pass": k}
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{op}#{k}", op)
        try:
            t0 = time.time()
            if op in self.qs:
                self._registry_op(op, rec)
            elif op in JDBC_QUERIES:
                self._jdbc_op(op, k, rec)
            elif op == "cli_export":
                self._cli_export(k, rec)
            elif op == "cli_fold":
                self._cli_fold(rec)
            else:
                raise KeyError(f"unknown operation {op}")
            rec["t0"], rec["t"] = t0, rec.pop("t_end") - t0
        except Exception as e:  # counted as a failed operation, never dropped
            first = str(e).strip().splitlines()[0][:300] if str(e).strip() else ""
            rec["error"] = f"{type(e).__name__}: {first}"
            rec["traceback"] = traceback.format_exc()[-4000:]
        finally:
            sc.setJobGroup(None, None)
        confs = self._confs()
        if confs != self.confs:
            self.conf_changes.append({
                "op": op, "pass": k,
                "changed": {key: [self.confs.get(key), confs.get(key)]
                            for key in set(confs) | set(self.confs)
                            if confs.get(key) != self.confs.get(key)},
            })
            self.confs = confs
        return rec

    def _registry_op(self, op: str, rec: dict) -> None:
        from mysql2parquet_spark.canon import canon

        t0 = time.time()
        with self.span("queries.construct", "queries"):
            df = self.qs[op](self.spark, self.a.data_dir)
        t1 = time.time()
        if self.tracer.enabled:
            with self.span("catalyst.plan", "catalyst") as s:
                s["exchanges"] = count_exchanges(
                    df._jdf.queryExecution().executedPlan().toString()
                )
        t2 = time.time()
        with self.span("exec.action", "exec"):
            rows = df.collect()
        t3 = time.time()
        rec.update(t_end=t3, construct_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2,
                   phases={"construct": [t0, t1], "action": [t2, t3]})
        cols = df.columns
        rec.update(
            rows=len(rows), cols=cols,
            types=[f.dataType.simpleString() for f in df.schema.fields],
            digest=hashlib.sha256("\n".join(canon(rows, cols)).encode()).hexdigest(),
            out_bytes=len(pickle.dumps([tuple(r) for r in rows])),
        )

    def _jdbc_op(self, op: str, k: int, rec: dict) -> None:
        out = os.path.join(self.out_root, op, str(k))
        t0 = time.time()
        df = self.io.read_jdbc(
            self.spark, f"jdbc:duckdb:{self.a.jdbc_db}", query=JDBC_QUERIES[op],
            driver=JDBC_DRIVER,
        )
        t1 = time.time()
        self.io.write_parquet(df, out)
        t2 = time.time()
        rec.update(t_end=t2, construct_s=t1 - t0, action_s=t2 - t1,
                   phases={"construct": [t0, t1], "action": [t1, t2]},
                   out=out, check={"sql": JDBC_QUERIES[op], "on": "jdbc"}, **_dir_stats(out))

    def _cli(self, argv: list[str]) -> float:
        """Run ``cli.main`` in this process; returns its end time."""
        rc = self.cli.main(argv)
        t1 = time.time()
        if rc != 0:
            raise RuntimeError(f"cli.main exited {rc}")
        return t1

    def _cli_export(self, k: int, rec: dict) -> None:
        out = os.path.join(self.out_root, "cli_export", str(k))
        t0 = time.time()
        t1 = self._cli(["--tables-dir", self.a.data_dir, "--query", CLI_EXPORT_QUERY,
                        "--parquet", out])
        rec.update(t_end=t1, phases={"cli": [t0, t1]}, out=out,
                   check={"sql": CLI_EXPORT_QUERY, "on": "parquet"}, **_dir_stats(out))

    def _cli_fold(self, rec: dict) -> None:
        self.fold += 1
        t0 = time.time()
        t1 = self._cli(["--tables-dir", self.a.data_dir, "--query", fold_query(self.fold),
                        "--snapshot-root", self.snap, "--merge-keys", SNAPSHOT_KEY])
        out = os.path.join(self.snap, f"v={self.fold}")
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            raise RuntimeError(f"fold {self.fold} did not commit {out}")
        rec.update(t_end=t1, phases={"cli": [t0, t1]}, out=out,
                   check={"sql": snapshot_expected(self.fold), "on": "parquet"},
                   **_dir_stats(out))

    def run_pass(self, k: int) -> list[dict]:
        recs = [self.run_op(op, k) for op in self.spec["ops"]]
        if self.tracer.enabled:
            for r in recs:
                if "error" not in r:
                    r["layers"] = self.op_layers(r)
        self.samples += recs
        return recs

    # -- attribution (traced passes only, after the pass) ------------------
    def op_layers(self, rec: dict) -> dict:
        rest = self.rest
        spans = [s for s in self.tracer.spans if s.get("op") == rec["op"] and s.get("pass") == rec["pass"]]
        selft = self_times(spans)
        t0, t1 = rec["t0"], rec["t0"] + rec["t"]
        jobs = rest.jobs_between(t0, t1)
        ids = {j["jobId"] for j in jobs}
        L = {f"exec.{k}": v for k, v in rest.stage_metrics(jobs).items()}
        L["exec.jobs"] = len(jobs)
        for k, v in rest.sql_metrics(ids).items():
            L[f"operators.{k}"] = v

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs_in(ss):
            return sum(1 for j in jobs for s in ss
                       if s["start"] - 0.005 <= ui_time(j["submissionTime"]) <= s["end"] + 0.005)

        L["queries.construct_s"] = sum(selft[s["id"]] for s in spans if s["name"] == "queries.construct")
        cons = [s for s in spans if s["name"] == "queries.construct"]
        L["queries.construct_jobs"] = jobs_in(cons)
        L["catalyst.plan_s"] = total("catalyst.plan")
        L["catalyst.exchanges"] = sum(s.get("exchanges", 0) for s in spans)
        L["exec.action_s"] = total("exec.action")
        loads = outermost(spans, lambda s: s["name"] in (
            "io.read_parquet", "io.load_table", "io.load_tables", "io.register_tables"))
        L["io.load_table_s"] = sum(s["end"] - s["start"] for s in loads)
        L["io.load_table_jobs"] = jobs_in(loads)
        L["io.read_jdbc_s"] = total("io.read_jdbc")
        writes = outermost(spans, lambda s: s["name"] in ("io.write_parquet", "io.publish_snapshot"))
        L["io.write_parquet_s"] = sum(s["end"] - s["start"] for s in writes)
        L["io.read_tasks"] = L["exec.tasks"] if rec["op"] in JDBC_QUERIES else 0
        L["io.files_written"] = rec.get("files", 0)
        L["io.bytes_written"] = rec.get("bytes", 0)
        L["cli.main_s"] = total("cli.main")
        by_id = {s["id"]: s for s in spans}

        def under_cli(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == "cli.main":
                    return True
                p = by_id[p]["parent"]
            return False

        L["cli.overhead_s"] = L["cli.main_s"] - sum(
            s["end"] - s["start"] for s in spans if s["name"] == "exec.action" and under_cli(s))
        L["op_s"] = rec["t"]
        return L

    # -- the run -----------------------------------------------------------
    def main(self) -> dict:
        setups = [self.setup_round(r) for r in range(SETUP_ROUNDS)]
        self.rest = Rest(self.spark)
        t = time.time()
        if "cli_fold" in self.spec["ops"]:
            self.bootstrap_snapshot()
        prepare_s = time.time() - t
        # warm-up (JIT, code generation, Python workers): checked like
        # every pass, not measured
        t = time.time()
        self.run_pass(0)
        warmup_s = time.time() - t
        timed, k, passes = 0.0, 0, []
        # a fixed number of passes at least, so every run takes each op's
        # best of the same sample count. A traced run adds one pass and
        # traces passes in the order T U U T: a drift across passes
        # cancels out of the tracing overhead.
        passes_min = MEASURED_PASSES + (1 if self.a.trace else 0)
        while timed < self.a.seconds or k < passes_min:
            k += 1
            traced = bool(self.a.trace) and k % 4 in (0, 1)
            self.tracer.enabled = traced
            recs = self.run_pass(k)
            self.tracer.enabled = False
            timed += sum(r.get("t", 0.0) for r in recs)
            passes.append({"pass": k, "traced": traced, "t": sum(r.get("t", 0.0) for r in recs)})
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vmhwm_mb(os.getpid()) + _vmhwm_mb(jvm_pid)
        result = {
            "workload": self.a.workload, "nproc": self.nproc, "setups": setups,
            "warmup_s": warmup_s, "prepare_s": prepare_s, "passes": passes, "samples": self.samples,
            "timed_s": timed, "peak_rss_mb": rss, "confs": self.confs,
            "conf_changes": self.conf_changes,
        }
        if self.a.trace:
            spans_path = os.path.join(self.a.run_dir, "spans.jsonl")
            self.tracer.dump(spans_path)
            result["spans"] = spans_path
        self.spark.stop()
        return result


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--data-dir", required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--spawn-time", type=float, required=True)
    p.add_argument("--jdbc-db", default=None)
    p.add_argument("--jdbc-jar", default=None)
    a = p.parse_args()
    result = Run(a).main()
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
