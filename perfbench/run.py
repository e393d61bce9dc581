"""Benchmark of the hadoop_hive_analysis_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run generates the workload's inputs from
the seed, starts the engine's session (``session.get_spark``) once, runs
the workload's untimed warm-up, then runs timed passes until their summed
wall reaches ``--seconds`` (at least one), checking every result outside
the timed part. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``) or the
per-layer metrics plus a span file under ``.perfbench/traces/``
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from ledger import JobLedger, JobRecord, StreamingStats, block_mb, covered_s, tree_cpu_s
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_DIR = os.path.join(ROOT, ".perfbench", "oracle")
MB = 1e6
MODULES = (
    "operators.dedup", "operators.components", "operators.similarity",
    "operators.text_analysis", "operators.text_pipeline", "operators.retrieval",
    "operators.vectors", "operators.sketches", "operators.events",
    "operators.multimodal", "streaming.events", "plans.pipeline",
    "plans.relational_ext", "plans.testdata_queries",
)
# Job-heavy queries ROADMAP direction 2 targets, among the pinned pack.
TARGET_QUERIES = ("dedup_collapse", "doc_hybrid_search_rrf")
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_geomean_s": "s", "cpu_s": "s",
    "peak_mem_mb": "MB",
}
ERROR_LINE = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


def _per_layer_units() -> dict[str, str]:
    units = {"plans.build_s": "s", "plans.build_jobs": "count"}
    for m in MODULES:
        units |= {f"{m}.build_s": "s", f"{m}.sink_s": "s", f"{m}.jobs": "count"}
    for q in TARGET_QUERIES:
        units |= {f"query.{q}.jobs": "count", f"query.{q}.wall_s": "s"}
    units |= {
        "trace.wall_s": "s", "driver.self_s": "s", "plans.catalyst_s": "s",
        "sources.csv.scan_s": "s", "sources.input_mb": "MB",
        "sources.input_rows": "count", "sources.sinks.write_s": "s",
        "sources.output_mb": "MB", "exec.sink_s": "s", "exec.sink_jobs": "count",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.job_s": "s", "exec.cpu_s": "s", "exec.run_s": "s",
        "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
        "exec.spill_mb": "MB", "exec.gc_s": "s", "session.ckpt_block_mb": "MB",
        "streaming.batches": "count", "streaming.input_rows": "count",
        "streaming.state_rows": "count", "streaming.batch_s": "s",
        "session.release_s": "s", "session.release_residual": "count",
        "exec.failed_tasks": "count", "driver.error_lines": "count",
    }
    return units


# Every per-layer metric name with its unit, in report order.
PER_LAYER = _per_layer_units()


class Tracer:
    """Spans kept in memory (name, start, end, parent, pass) and written
    out when the run ends; a disabled tracer only times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Yield the span's record; its ``seconds`` are set on exit."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "start": time.time()}
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["seconds"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Runner:
    def __init__(self, args, run_dir: str, log_path: str):
        self.args = args
        self.run_dir = run_dir
        self.log_path = log_path
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # ------------------------------------------------------------ session
    def start_session(self):
        from hadoop_hive_analysis_spark.session import get_spark

        local = os.path.join(self.run_dir, "spark-local")
        tmp = os.path.join(self.run_dir, "tmp")
        # -Xms1g: the heap starts at the default driver -Xmx, so the JVM's
        # peak RSS does not depend on when G1 chose to grow it
        self.spark = get_spark("perfbench", extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g",
            "spark.ui.showConsoleProgress": "false",
        })
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -------------------------------------------------------------- steps
    def run_step(self, step, sink: str, ledger=None) -> dict:
        """Build, sink and (outside the timed part) check one step."""
        from hadoop_hive_analysis_spark.sources.sinks import write_parquet

        rec = {"name": step.name, "module": step.module, "out": step.out}
        self.attempted += 1
        try:
            j0 = ledger.next_job_id() if ledger else 0
            cpu0 = tree_cpu_s(os.getpid())
            with self.tracer.span(step.name) as s_step:
                with self.tracer.span(f"{step.module}.build") as s:
                    df = step.build()
                rec["build_s"] = s["seconds"]
                j1 = ledger.next_job_id() if ledger else 0
                rec["catalyst_s"] = 0.0
                if self.tracer.enabled:
                    with self.tracer.span("plans.catalyst") as s:
                        df._jdf.queryExecution().executedPlan()
                    rec["catalyst_s"] = s["seconds"]
                rows = None
                with self.tracer.span(f"sink.{sink}") as s:
                    if sink == "collect":
                        rows = df.collect()
                    elif sink == "parquet":
                        write_parquet(df, step.out)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                rec["sink_s"] = s["seconds"]
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["window"] = (s_step["start"], s_step["end"])
            if ledger:
                rec["build_jobs"], rec["sink_jobs"] = ledger.read(
                    [j0, j1, ledger.next_job_id()]
                )
            self.workload.check(step, df, rows)
        except Exception as exc:  # a failing query is counted, not fatal
            self.failed += 1
            self.errors.append(f"{step.name}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc()
            rec["error"] = True
        return rec

    def release(self, rec: dict) -> None:
        from hadoop_hive_analysis_spark.session import release_cached_blocks

        rec["ckpt_mb"] = block_mb(self.spark)
        with self.tracer.span("session.release") as s:
            res = release_cached_blocks(self.spark)
        rec["release_s"] = s["seconds"]
        rec["residual"] = res.residual

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        args = self.args
        self.workload = WORKLOADS[args.workload](
            os.path.join(self.run_dir, "data"), args.seed, ORACLE_DIR
        )
        # One session. Set-up is its start (the JVM launch) plus the
        # untimed warm-up steps (class loading, JIT, cold first queries),
        # counted like wall_s: without the checks and releases.
        self.tracer.pass_id = "setup"
        with self.tracer.span("session.get_spark") as s:
            spark = self.start_session()
        setup_s = s["seconds"]
        steps = self.workload.steps(spark)
        for step in steps[:self.workload.warmup_steps]:
            rec = self.run_step(step, step.sink)
            setup_s += rec.get("build_s", 0) + rec.get("catalyst_s", 0) + rec.get("sink_s", 0)
            self.release(rec)

        ledger = JobLedger(spark)
        stream = None
        if self.tracer.enabled:
            stream = StreamingStats()
            spark.streams.addListener(stream)

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/clear_refs", "w") as f:
            f.write("5")  # restart the JVM's peak-RSS count for the timed window
        log_at = os.path.getsize(self.log_path)
        passes = []
        while sum(p["trace.wall_s"] for p in passes) < args.seconds or not passes:
            self.tracer.pass_id = f"pass{len(passes)}"
            recs = []
            with self.tracer.span("pass"):
                for step in steps:
                    rec = self.run_step(step, step.sink, ledger)
                    self.release(rec)
                    recs.append(rec)
                scan = self.workload.scan_step(spark) if self.tracer.enabled else None
                scan_rec = self.run_step(scan, scan.sink, ledger) if scan else None
            passes.append(self.pass_metrics(recs, scan_rec, stream))
        peak_mb = _vm_hwm_kb(jvm_pid) * 1024 / MB
        with open(self.log_path, "rb") as f:
            f.seek(log_at)
            error_lines = len(ERROR_LINE.findall(f.read()))

        if self.tracer.enabled:
            self.tracer.write(os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-s{args.seed}.jsonl"
            ))
            metrics = {
                k: statistics.median(p[k] for p in passes)
                for k in PER_LAYER if k in passes[0]
            }
            metrics["driver.error_lines"] = error_lines / len(passes)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(p["trace.wall_s"] for p in passes),
                "query_geomean_s": statistics.median(p["geomean_s"] for p in passes),
                "cpu_s": statistics.median(p["cpu_s"] for p in passes),
                "peak_mem_mb": peak_mb,
            }
            units = END_TO_END
        return {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}

    def pass_metrics(self, recs: list[dict], scan_rec, stream) -> dict:
        m: dict[str, float] = {}
        ok = [r for r in recs if "error" not in r]
        if not ok:
            raise RuntimeError("every query of the pass failed")
        step_s = [r["build_s"] + r["catalyst_s"] + r["sink_s"] for r in ok]
        m["trace.wall_s"] = sum(step_s)
        m["cpu_s"] = sum(r["cpu_s"] for r in ok)
        m["geomean_s"] = math.exp(sum(math.log(t) for t in step_s) / len(step_s))
        total = JobRecord()
        sink_total = JobRecord()
        build_total = JobRecord()
        covered = 0.0
        for r in ok:
            build, sink = r["build_jobs"], r["sink_jobs"]
            build_total.add(build)
            sink_total.add(sink)
            covered += covered_s(build.intervals + sink.intervals, *r["window"])
            mod = r["module"]
            if mod in MODULES:
                m[f"{mod}.build_s"] = m.get(f"{mod}.build_s", 0) + r["build_s"]
                m[f"{mod}.sink_s"] = m.get(f"{mod}.sink_s", 0) + r["catalyst_s"] + r["sink_s"]
                m[f"{mod}.jobs"] = m.get(f"{mod}.jobs", 0) + build.jobs + sink.jobs
            if r["name"] in TARGET_QUERIES:
                m[f"query.{r['name']}.jobs"] = build.jobs + sink.jobs
                m[f"query.{r['name']}.wall_s"] = r["build_s"] + r["catalyst_s"] + r["sink_s"]
        total.add(build_total)
        total.add(sink_total)
        sums = total.sums
        m |= {
            "plans.build_s": sum(r["build_s"] for r in ok),
            "plans.build_jobs": build_total.jobs,
            "plans.catalyst_s": sum(r["catalyst_s"] for r in ok),
            "driver.self_s": m["trace.wall_s"] - covered,
            "sources.input_mb": sums["input_bytes"] / MB,
            "sources.input_rows": sums["input_rows"],
            "sources.sinks.write_s": sum(r["sink_s"] for r in ok if r["out"]),
            "sources.output_mb": sums["output_bytes"] / MB,
            "exec.sink_s": sum(r["sink_s"] for r in ok),
            "exec.sink_jobs": sink_total.jobs,
            "exec.jobs": total.jobs,
            "exec.stages": total.stages,
            "exec.tasks": sums["tasks"],
            "exec.job_s": total.job_s,
            "exec.cpu_s": sums["cpu_ns"] / 1e9,
            "exec.run_s": sums["run_ms"] / 1e3,
            "exec.shuffle_read_mb": sums["shuffle_read_bytes"] / MB,
            "exec.shuffle_write_mb": sums["shuffle_write_bytes"] / MB,
            "exec.spill_mb": sums["spill_bytes"] / MB,
            "exec.gc_s": sums["gc_ms"] / 1e3,
            "exec.failed_tasks": sums["failed_tasks"],
            "session.ckpt_block_mb": sum(r["ckpt_mb"] for r in recs),
            "session.release_s": sum(r["release_s"] for r in recs),
            "session.release_residual": sum(r["residual"] for r in recs),
        }
        if scan_rec and "error" not in scan_rec:
            m["sources.csv.scan_s"] = scan_rec["build_s"] + scan_rec["sink_s"]
        if stream is not None:
            m |= stream.take()
        return m


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError("no VmHWM in /proc status")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # The JVM inherits fds 1 and 2: both go to the run's log, so Spark's
    # ERROR lines can be counted and the result stays the last stdout line.
    log_path = os.path.join(run_dir, "driver.log")
    out, err = os.fdopen(os.dup(1), "w"), os.fdopen(os.dup(2), "w")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    # Same layout every run: the engine's temp-dir caches and replay
    # checkpoints start empty, and local[N] matches the cores available.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    runner = Runner(args, run_dir, log_path)
    try:
        import hadoop_hive_analysis_spark  # noqa: F401  (fail fast without the engine)

        metrics = runner.run()
    except Exception:
        traceback.print_exc(file=err)
        err.write(f"perfbench: run failed; log kept at {log_path}\n")
        return 1
    finally:
        runner.stop_session()
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    for e in runner.errors:
        err.write(f"perfbench: {e}\n")
    err.flush()
    out.write(json.dumps(result) + "\n")
    out.flush()
    if runner.failed:
        err.write(f"perfbench: outputs wrong; log kept at {log_path}\n")
        return 1
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
