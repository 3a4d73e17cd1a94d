"""``headline_batch``: headline queries over seeded tables into the
noop sink, warmed first. Only the ``queries`` and ``exec`` layers work;
every CDC layer is idle.

One operation is one pass over QUERIES, due when the pass starts and
visible when its last noop write returns, so ``visible_p50_s`` here is
the median pass total (the sum of the queries' wall times).
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import sparkstats
from perfbench.metrics import median, tree_cpu_s
from perfbench.tables import generate

# A subset of bench.py's HEADLINE list: two of the relational core and
# every headline query an open performance item names. A warm pass of
# all 27 takes ~22 s and a cold one ~53 s on a 4-core host, which does
# not fit a run.
QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "cdc_latest_per_key_materialize",
    "dedup_minhash_lsh",
    "text_language_id",
]
SF = 0.01
# Every run of a given --seconds makes the same number of timed passes
# (one per PASS_S seconds; a pass takes ~5 s on a 4-core host): the JIT
# keeps speeding passes up for several passes after the warm-up, so a
# time-boxed pass count would compare early passes with late ones.
PASS_S = 4


def _pass(spark, specs, sf_dir: str, tag: str, run) -> tuple[float, dict, float]:
    """One pass over QUERIES; returns (total wall s, per-query walls,
    CPU s of every process of the run)."""
    sc = spark.sparkContext
    walls = {}
    cpu0 = tree_cpu_s()
    with run.tracer.span("pass"):
        for name in QUERIES:
            sc.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            with run.tracer.span("queries"):
                df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            with run.tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            walls[name] = (t1 - t0, t2 - t1)
    sc.setJobGroup("bench", "bench")
    total = sum(a + b for a, b in walls.values())
    return total, walls, tree_cpu_s() - cpu0


def setup(run) -> dict:
    sf_dir = os.path.join(run.work, "data", f"sf{SF}")
    sizes = {}
    spark = run.start_spark(lambda: sizes.update(generate(sf_dir, SF, run.seed)))
    from postrack_spark.queries import load_all

    st = {"spark": spark, "specs": load_all(), "sf_dir": sf_dir}
    _oracle_pass(run, st)
    run.info.update(sf=SF, queries=len(QUERIES), rows=sizes)
    return st


def measure(run, st: dict) -> None:
    spark, specs, sf_dir = st["spark"], st["specs"], st["sf_dir"]
    totals = {False: [], True: []}
    cpus, per_query, groups = [], {n: [] for n in QUERIES}, set()
    passes = max(2 if run.trace else 1, int(run.seconds // PASS_S))
    # Traced runs alternate untraced and traced passes, so tracing
    # overhead is traced minus untraced within one run.
    for i in range(passes):
        traced = run.trace and i % 2 == 1
        run.tracer.enabled = traced
        tag = f"pass{i}"
        run.attempted += len(QUERIES)
        total, walls, cpu = _pass(spark, specs, sf_dir, tag, run)
        totals[traced].append(total)
        cpus.append(cpu)
        for n, (plan, ex) in walls.items():
            per_query[n].append((plan, ex))
            if traced:
                groups.add(f"{tag}:{n}")
    run.tracer.enabled = run.trace
    plain = totals[False]
    run.e2e.update(visible_p50_s=median(plain), cpu_s=median(cpus))
    run.info.update(passes=passes, headline_total_s=median(plain),
                    pass_totals_s=[round(t, 4) for t in plain])
    if run.trace:
        run.layer["trace.overhead_s"] = median(totals[True]) - median(plain)
        stats = sparkstats.group_totals(spark, groups)
        for k, v in stats.items():  # per traced pass
            run.layer[f"exec.{k}"] = v / len(totals[True])
        run.layer["queries.plan_build_s"] = median([sum(p[k][0] for p in per_query.values())
                                                    for k in range(passes)])
        run.layer["exec.wall_s"] = median([sum(p[k][1] for p in per_query.values())
                                           for k in range(passes)])
        for n in QUERIES:
            run.layer[f"q.{n}.wall_s"] = median([a + b for a, b in per_query[n]])


def _oracle_pass(run, st: dict) -> None:
    """Every query's result against its DuckDB oracle. This pass is also
    the warm-up: it runs each query once, cold, before the timed passes."""
    sys.path.insert(0, os.path.join(run.root, "tests"))
    from oracle_harness import compare, duckdb_connection

    con = duckdb_connection(st["sf_dir"])
    try:
        for name in QUERIES:
            spec = st["specs"][name]
            run.attempted += 1
            r = compare(name, spec.fn(st["spark"], st["sf_dir"]), con, spec.oracle)
            if not r.ok:
                run.fail(f"oracle {name}: {r.detail}")
    finally:
        con.close()


def check(run, st: dict) -> None:
    """Nothing left to check: the oracle pass ran during setup."""
