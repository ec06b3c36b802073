"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0

Run it from the repository root. Spark runs in local mode on every core
the process may use, inside a private working directory under
``.perfbench_work/`` that the run deletes when it ends. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``BENCHMARK.json`` and ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "data_ingestion_experiment_otp_spark"

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "items_per_s": "1/s",
    "cpu_s.per_op": "s",
}
# per-layer metric name prefixes each workload must report in a traced
# run; a metric under another workload's prefix reads 0 (not applicable)
COMMON_LAYERS = ("setup.", "spark.", "trace.", "check.", "proc.")
WORKLOAD_LAYERS = {
    "queries": ("query.",),
    "corpus_ingest": ("ingest.",),
    "otp_push": ("otp.", "sinks.", "watermark."),
}


def _per_layer() -> dict[str, str]:
    import corpus
    import probe
    import queries

    units = {f"setup.{k}_s": "s" for k in ("session", "inputs", "artifacts", "warmup")}
    for k in probe.SPARK_KEYS:
        unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
        units[f"spark.{k}"] = "ratio" if k == "task_skew.max" else unit
    units["spark.utilization"] = "ratio"
    for q in queries.QUERIES:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s"})
    units.update({f"ingest.stage.{s}_s": "s" for s in corpus.STAGES})
    units.update({"ingest.tail_wall_s": "s", "ingest.tail_overlap": "ratio", "ingest.glue_s": "s"})
    units.update({f"ingest.index_mb.{s}": "MB" for s in corpus.INDEXES})
    units.update({"ingest.files_written": "count", "ingest.bytes_written_mb": "MB"})
    units.update({f"ingest.admit_ratio.{g}": "ratio" for g, _, _ in corpus.GATES})
    units.update(
        {
            f"otp.{k}": "s"
            for k in (
                "start_s",
                "stop_s",
                "trigger_s",
                "add_batch_s",
                "query_planning_s",
                "get_batch_s",
                "latest_offset_s",
                "wal_commit_s",
                "commit_offsets_s",
            )
        }
    )
    units["otp.batches_per_cycle"] = "count"
    units.update({"sinks.parquet_cursor_s": "s", "sinks.signal_s": "s"})
    units.update(
        {
            "watermark.state_rows": "count",
            "watermark.state_mb": "MB",
            "watermark.dropped_late": "count",
            "watermark.dup_dropped": "count",
        }
    )
    units.update({"otp.gen_lag_s.max": "s", "otp.backlog_files.max": "count"})
    units.update({"trace.setup_s": "s", "trace.op_s.p50": "s", "check.failed_ratio": "ratio"})
    units.update({"proc.peak_rss_mb": "MB", "proc.steal_ratio": "ratio"})
    return units


def pin_environment(root: str, work: str, trace: bool) -> dict[str, str]:
    """Everything the run depends on from its host, set before Spark starts."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    tmp = os.path.join(work, "tmp")
    conf = os.path.join(work, "conf")
    for d in (tmp, conf, os.path.join(work, "eventlog")):
        os.makedirs(d)
    defaults = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        # uncompressed and non-rolling, so probe.event_log_profile reads
        # it with plain json
        defaults.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_CONF_DIR": conf,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR: the package keys its artifact stores under it
    os.chdir(work)
    return {**env, "cwd": work, "trace": str(int(trace)), "host_mem_gb": str(mem_gb)}


class Harness:
    """Session lifecycle, private directories and timed windows for one run."""

    def __init__(self, work: str, seconds: int):
        self.work = work
        self.seconds = seconds
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self._dirs = 0

    def start_session(self) -> float:
        """Start the session the way the package does; returns seconds."""
        from data_ingestion_experiment_otp_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    @contextlib.contextmanager
    def timed(self):
        """CPU seconds and peak RSS of the Spark process tree, and the
        host's CPU steal share, over the block."""
        import probe

        cpu0 = probe.ProcTree.cpu_s()
        steal0 = probe.host_cpu()
        with probe.ProcTree() as tree:
            yield tree
            tree.cpu_s = probe.ProcTree.cpu_s() - cpu0
            steal1 = probe.host_cpu()
            busy = sum(steal1) - sum(steal0)
            tree.steal_ratio = (steal1[1] - steal0[1]) / busy if busy else 0.0

    def stop(self) -> None:
        """Stop Spark and wait for every process this run started."""
        import probe
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while (left := probe.descendants()) and time.time() < deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGTERM)
            time.sleep(0.2)
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass


def run(workload, h: Harness, trace: bool) -> dict:
    import probe

    session_s = h.start_session()
    t0 = time.perf_counter()
    workload.inputs(h, h.fresh_dir("inputs"))
    inputs_s = time.perf_counter() - t0
    workload.artifacts(h)
    artifacts_s = time.perf_counter() - t0 - inputs_s

    med = statistics.median
    warmup_s = workload.begin(h, trace)
    m = workload.measure(h, trace)
    bad, errors, layers = workload.finish(h)
    h.spark.stop()  # closes the event log of a traced run
    h.spark = None
    attempted = 1 + m["attempted"]
    failed = bad + m["failed"]
    for e in errors + m["errors"]:
        print(f"perfbench: {workload.name}: {e}", file=sys.stderr)
    ops = m["ops"] or [0.0]
    setup_s = session_s + inputs_s + artifacts_s + warmup_s

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "op_s.p50": med(ops),
            "items_per_s": m["items"] / m["items_s"] if m["items_s"] else 0.0,
            "cpu_s.per_op": m["cpu_s"] / max(1, m["n_ops"]),
        }
        units = END_TO_END
    else:
        units = _per_layer()
        metrics = {
            k: 0.0 for k in units if not k.startswith(COMMON_LAYERS + WORKLOAD_LAYERS[workload.name])
        }
        metrics.update(
            {
                "setup.session_s": session_s,
                "setup.inputs_s": inputs_s,
                "setup.artifacts_s": artifacts_s,
                "setup.warmup_s": warmup_s,
                "trace.setup_s": setup_s,
                "trace.op_s.p50": med(ops),
                "proc.peak_rss_mb": m["peak_rss_mb"],
                "proc.steal_ratio": m["steal_ratio"],
            }
        )
        metrics.update(m["layers"])
        metrics.update(layers)
        prof = probe.event_log_profile(os.path.join(h.work, "eventlog"), m["groups"])
        for k in probe.SPARK_KEYS:
            vals = [g[k] for g in prof.values()]
            metrics[f"spark.{k}"] = max(vals, default=0.0) if k == "task_skew.max" else sum(vals) / max(1, m["n_ops"])
        wall = sum(m["groups"].values())
        metrics["spark.utilization"] = sum(g["executor_run_s"] for g in prof.values()) / (wall * h.cores) if wall else 0.0
        missing = [k for k in units if k not in metrics and k != "check.failed_ratio"]
        if missing:
            print(f"perfbench: {workload.name}: traced run produced no {', '.join(missing)}", file=sys.stderr)
            failed += 1
            metrics.update(dict.fromkeys(missing, 0.0))
        metrics["check.failed_ratio"] = failed / attempted
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root; {PACKAGE}/ not found in {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import corpus
    import otp
    import queries

    workloads = {"queries": queries.Queries, "corpus_ingest": corpus.CorpusIngest, "otp_push": otp.OtpPush}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    h = None
    try:
        env = pin_environment(root, work, bool(args.trace))
        print(json.dumps({"perfbench_env": env}), flush=True)
        h = Harness(work, args.seconds)
        result = run(workloads[args.workload](args.seed), h, bool(args.trace))
    finally:
        if h is not None:
            h.stop()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
