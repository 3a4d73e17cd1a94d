#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {headline_batch,cdc_live,cdc_backlog} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are made from ``--seed``; the
workload measures for ``--seconds``; every result is checked (DuckDB
oracles, the view against the live Postgres table, decoded event
counts). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a report with the configuration
echo, per-workload figures and any failures. Exits non-zero
when a check fails or the program cannot be run.

See perfbench/README.md for the workloads, the metrics and which
end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline_batch", "cdc_live", "cdc_backlog")


class Run:
    """State of one benchmark run: arguments, scratch directory,
    operation counts, the tracer and the metrics gathered so far."""

    def __init__(self, args, stack: contextlib.ExitStack) -> None:
        from perfbench.metrics import Tracer

        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.root = ROOT
        self.stack = stack
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tracer = Tracer(run=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=self.trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        # local[N] and N shuffle partitions; capped so that hosts with
        # more cores run the same plans the workloads were sized on
        self.cpus = min(4, len(os.sched_getaffinity(0)))

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def env(self) -> dict:
        """Environment for every child process: the repository on
        PYTHONPATH (Spark's Python DataSource workers import it) and
        all temporary files inside the run's scratch directory."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM="2g",
            PYSPARK_SUBMIT_ARGS=(
                f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')} "
                "pyspark-shell"
            ),
        )
        return env

    def start_spark(self, alongside):
        """Start the Spark session; ``alongside()`` runs in a thread while
        the JVM starts (input generation, server provisioning)."""
        os.environ.update(self.env())
        err: list[BaseException] = []

        def side() -> None:
            try:
                alongside()
            except BaseException as e:  # re-raised in the caller below
                err.append(e)

        t = threading.Thread(target=side)
        t.start()
        from postrack_spark.session import get_spark

        try:
            spark = get_spark(f"perfbench-{self.workload}", cpus=self.cpus)
            self.stack.callback(_stop_spark, spark)
        finally:
            t.join()
        if err:
            raise err[0]
        sc = spark.sparkContext
        self.info.update(
            cpus=self.cpus, master=sc.master,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark=spark.version,
        )
        return spark


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes, and would otherwise outlive us."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):  # other runs may share the parent
        os.rmdir(os.path.dirname(work))


def _on_term(signum, _frame):
    raise SystemExit(128 + signum)


def _layer_metrics(run: Run, names: list[str]) -> dict[str, float]:
    """Every per-layer metric BENCHMARK.json lists; a layer this
    workload leaves idle reads 0 (measured: it did no work)."""
    for name, t in run.tracer.self_times().items():
        run.layer.setdefault(f"self.{name}_s", t)
    return {n: float(run.layer.get(n, 0.0)) for n in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "postrack_spark", os.path.join("scripts", "capture_daemon.py"),
                 os.path.join("tests", "oracle_harness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} missing under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import selfcheck

    selfcheck.run_all()

    signal.signal(signal.SIGTERM, _on_term)
    signal.signal(signal.SIGHUP, _on_term)
    ok = True
    with contextlib.ExitStack() as stack:
        run = Run(args, stack)
        os.makedirs(run.work, exist_ok=True)
        stack.callback(_remove_work, run.work)
        try:
            if args.workload == "headline_batch":
                from perfbench import headline as wl
            else:
                from perfbench import cdc as wl
            # spans cover the measured phase and the checks, not setup
            run.tracer.enabled = False
            t0 = time.perf_counter()
            state = wl.setup(run)
            run.e2e["setup_s"] = time.perf_counter() - t0
            run.tracer.enabled = run.trace
            t1 = time.perf_counter()
            wl.measure(run, state)
            t2 = time.perf_counter()
            wl.check(run, state)
            run.info.update(measure_s=t2 - t1, check_s=time.perf_counter() - t2)
        except Exception:
            traceback.print_exc()
            run.fail(f"{args.workload} aborted: {traceback.format_exc(limit=1).strip()[-300:]}")
            ok = False
        if run.trace and run.tracer.spans:
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            run.tracer.dump(os.path.join(ROOT, ".perfbench_traces", f"{run.tracer.run}.jsonl"))
    attempted = max(1, run.attempted)
    failed = len(run.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "config": run.info, "ops_failed_ratio": failed / attempted,
        "end_to_end": run.e2e, "failures": run.failures[:20],
    }
    print(json.dumps(report, default=str))
    correct = ok and not failed
    if args.trace:
        wanted = spec["per_layer"]
        values = _layer_metrics(run, [m["name"] for m in wanted]) if correct else {}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: float(run.e2e[m["name"]]) for m in wanted if m["name"] in run.e2e}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] in values},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
