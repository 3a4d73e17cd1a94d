"""Executor-side counters Spark already keeps, summed per job group.

Reads the application status store through py4j (it is populated with
``spark.ui.enabled=false`` too). Streaming queries run their jobs under
the query's ``runId`` as job group, so a drain's work is found the same
way as a batch query's.
"""

from __future__ import annotations

FIELDS = {
    # StageData getter -> (metric suffix, scale to the reported unit)
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "numCompleteTasks": ("tasks", 1),
}


def group_totals(spark, groups: set[str]) -> dict[str, float]:
    """Sum the FIELDS over every stage of every job whose group is in
    ``groups``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if group.isDefined() and group.get() in groups:
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    out = {suffix: 0.0 for suffix, _ in FIELDS.values()}
    empty = gw.jvm.java.util.ArrayList()
    no_q = gw.new_array(gw.jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False, no_q)
        for a in range(attempts.size()):
            st = attempts.apply(a)
            for getter, (suffix, scale) in FIELDS.items():
                out[suffix] += getattr(st, getter)() * scale
    return out
