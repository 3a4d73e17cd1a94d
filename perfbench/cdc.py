"""The two CDC workloads against a throwaway local Postgres 15.

``cdc_live``: an open loop of transactions (``perfbench/gen.py``, its
own process) while ``scripts/capture_daemon.py --transport pgwire``
captures and a drain loop runs ``foreach_batch_apply_changes`` into a
versioned view. Each batch is small and the stored view is large, so
per-drain fixed cost and the sink's rewrite of the view dominate. One
operation is one transaction: due at its scheduled send time, visible
at the first streaming progress event whose observed max ``seq``
covers it.

``cdc_backlog``: a committed backlog with deletes mixed in is caught up
in one go: the daemon captures until the slot's confirmed_flush_lsn
covers it, then one ``foreach_batch_apply_changes`` pass compacts it
onto a small view. One operation is one catch-up, from daemon start
until the view is committed.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time

from perfbench import sparkstats
from perfbench.metrics import (
    highest_percentile,
    median,
    percentile,
    proc_cpu_s,
    tree_cpu_s,
    visible_times,
)
from perfbench.pgserver import (
    Daemon,
    PgServer,
    commit_marked,
    die_with_parent,
    confirmed_flush,
    current_lsn,
    drop_slot,
    wait_acked,
)

ACK_INTERVAL_S = 0.5  # daemon --ack-interval (default 5 s)
LIVE_RATE = 150  # transactions per second
WARM_UPDATES = 50  # merged into the preloaded view by the warm-up drain
LIVE_PRELOAD = 20_000  # keys in the table (and the view) before the run
BACKLOG_KEYS = 4_000
BACKLOG_EVENTS = 40_000  # ~10 events per key; ~8% are deletes
BACKLOG_TXN_ROWS = 400  # rows changed per backlog transaction
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


# ---------------------------------------------------------------- shared

def setup(run) -> dict:
    st = {"server": PgServer(run.work)}
    live = run.workload == "cdc_live"
    st["server"].initdb()
    run.stack.callback(st["server"].stop)
    st["server"].start()
    st["sql"] = st["server"].connect()
    run.stack.callback(st["sql"].close)
    # Tables, slot and the first committed changes are made while the
    # JVM starts; the thread only talks SQL.
    spark = run.start_spark(lambda: _live_prepare(run, st) if live
                            else st.update(warm=_backlog_prepare(run, st, 0)))
    run.stack.callback(_drop_slots, st)
    from postrack_spark.sources.postgres_cdc import register

    register(spark)
    st["spark"] = spark
    run.info.update(postgres=st["server"].version, ack_interval_s=ACK_INTERVAL_S,
                    seed=run.seed)
    (_live_setup if live else _backlog_setup)(run, st)
    return st


def measure(run, st: dict) -> None:
    (_live_measure if run.workload == "cdc_live" else _backlog_measure)(run, st)


def check(run, st: dict) -> None:
    (_live_check if run.workload == "cdc_live" else _backlog_check)(run, st)


def _provision(st: dict, slot: str, table: str) -> None:
    """Slot and publication first, so every later commit is captured.
    The slot is remembered and dropped on every exit path."""
    from postrack_spark.api import Conn, Table
    from postrack_spark.sources.pgwire import PgWireExecutor

    st.setdefault("slots", []).append(slot)
    ex = PgWireExecutor("127.0.0.1", st["server"].port, "postgres", "postgres")
    try:
        conn = Conn(st["server"].dsn, executor=ex)
        conn.set_slot(slot)
        conn.set_publication(Table("public", table))
    finally:
        ex.close()


def _drop_slots(st: dict) -> None:
    for slot in st.get("slots", []):
        try:
            drop_slot(st["sql"], slot)
        except (OSError, RuntimeError) as e:
            print(f"perfbench: could not drop slot {slot}: {e}", file=sys.stderr)


def _daemon(run, st: dict, slot: str, frames: str) -> Daemon:
    d = Daemon(st["server"], slot, frames, ACK_INTERVAL_S, run.env())
    run.stack.callback(d.stop)
    return d


def _stream(spark, frames: str):
    from pyspark.sql import functions as F

    return (
        spark.readStream.format("postgres_cdc").option("capture_dir", frames).load()
        .observe("bench", F.max(F.col("after")["seq"].cast("long")).alias("max_seq"))
    )


def _key():
    from pyspark.sql import functions as F

    return F.coalesce(F.col("after")["id"], F.col("before")["id"])


def _drain(run, st: dict, stream, view: str, ckpt: str) -> dict:
    """One availableNow pass of foreach_batch_apply_changes; returns its
    wall time, progress events and the bytes of new view versions."""
    from postrack_spark.streaming.sinks import foreach_batch_apply_changes

    before = _version_bytes(view)
    with run.tracer.span("stream"):
        t0 = time.time()
        _, q = foreach_batch_apply_changes(stream, _key(), target_dir=view, checkpoint_dir=ckpt)
        q.awaitTermination()
        t1 = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    progress = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]
    after = _version_bytes(view)
    new_bytes = sum(b for v, b in after.items() if v not in before)
    return {"start": t0, "end": t1, "progress": progress, "run_id": str(q.runId),
            "new_bytes": new_bytes, "new_versions": len(set(after) - set(before))}


def _version_bytes(view: str) -> dict[str, int]:
    out = {}
    if os.path.isdir(view):
        for name in os.listdir(view):
            path = os.path.join(view, name)
            if name.startswith("v") and os.path.isdir(path):
                out[name] = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return out


def _progress_time(p: dict) -> float:
    """When a progress event was emitted: trigger start + its duration."""
    from datetime import datetime

    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return ts + p["durationMs"].get("triggerExecution", 0) / 1e3


def _observed(drain: dict) -> list[tuple[float, int | None]]:
    """(emission time, observed max seq) of each progress event."""
    return [(_progress_time(p), ((p.get("observedMetrics") or {}).get("bench") or {}).get("max_seq"))
            for p in drain["progress"]]


def _stream_layers(run, spark, drains: list[dict], events: int) -> None:
    """Per-layer stream, sink and source metrics from Spark's progress;
    ``events`` is the number of change events the drains applied.
    numInputRows counts every read of the source within a batch, so it
    exceeds the events when a batch reads its input more than once."""
    batches = [p for d in drains for p in d["progress"] if p.get("numInputRows", 0) > 0]
    if not batches:
        return
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    run.layer["stream.drain_p50_ms"] = median([(d["end"] - d["start"]) * 1e3 for d in drains])
    run.layer["stream.overhead_p50_ms"] = median([
        (d["end"] - d["start"]) * 1e3 - sum(dur(p, "triggerExecution") for p in d["progress"])
        for d in drains])
    run.layer["stream.rows_per_batch_p50"] = median([p["numInputRows"] for p in batches])
    run.layer["sink.add_batch_p50_ms"] = median([dur(p, "addBatch") for p in batches])
    run.layer["sink.commit_p50_ms"] = median([dur(p, "walCommit") + dur(p, "commitOffsets")
                                             for p in batches])
    run.layer["sink.bytes_written_per_event"] = sum(d["new_bytes"] for d in drains) / events
    run.layer["sink.versions"] = sum(d["new_versions"] for d in drains)
    run.layer["source.latest_offset_p50_ms"] = median([dur(p, "latestOffset")
                                                      for d in drains for p in d["progress"]])
    run.layer["source.files_per_batch_p50"] = median([
        s["endOffset"]["file_index"] - (s["startOffset"] or {"file_index": 0})["file_index"]
        for p in batches for s in p["sources"]])
    stats = sparkstats.group_totals(spark, {d["run_id"] for d in drains})
    for k, v in stats.items():
        run.layer[f"exec.{k}"] = v


def _frame_files(frames: str) -> list[str]:
    return sorted(os.path.join(frames, f) for f in os.listdir(frames) if f.endswith(".pgout"))


def _decode_all(run, frames: str) -> dict:
    """Single-threaded decode of every frame file, one DecoderState per
    file as the DataSource does: event counts by op, parse errors,
    commit-to-ack per transaction (file mtime minus commit time) and
    the one-lane decode rate."""
    from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream
    from postrack_spark.sources.postgres_cdc import read_frame_file

    files = _frame_files(frames)
    loaded = [(path, os.stat(path).st_mtime, read_frame_file(path)) for path in files]
    ops: dict[str, int] = {}
    errors, decoded, to_ack = 0, 0, []
    busy = 0.0
    with run.tracer.span("decode"):
        for path, mtime, frs in loaded:
            state = DecoderState()
            t0 = time.perf_counter()
            rows = decode_xlogdata_stream(frs, state)
            busy += time.perf_counter() - t0
            errors += state.parse_errors
            seen = set()
            for r in rows:
                ops[r["op"]] = ops.get(r["op"], 0) + 1
                if r["txid"] not in seen and r["commit_ts"] is not None:
                    seen.add(r["txid"])
                    to_ack.append((mtime - r["commit_ts"].timestamp()) * 1e3)
            decoded += len(rows)
    return {"ops": ops, "events": decoded, "parse_errors": errors, "busy_s": busy,
            "commit_to_ack_ms": to_ack, "bytes": sum(os.path.getsize(p) for p in files)}


def _decode_layers(run, dec: dict) -> None:
    run.layer["decode.events_per_s"] = dec["events"] / dec["busy_s"] if dec["busy_s"] else 0.0
    run.layer["decode.parse_errors"] = dec["parse_errors"]
    run.layer["capture.bytes_per_event"] = dec["bytes"] / max(1, dec["events"])


def _check_decoded(run, dec: dict, want: dict[str, int], what: str) -> None:
    run.attempted += 1
    got = {k: v for k, v in dec["ops"].items() if v}
    if got != want or dec["parse_errors"]:
        run.fail(f"{what}: decoded {got} with {dec['parse_errors']} parse errors; "
                 f"committed {want}")


def _check_view(run, st: dict, view: str, table: str, cols: list[str]) -> None:
    """The materialized view row-for-row against the live table."""
    from pyspark.sql import functions as F

    from postrack_spark.streaming.sinks import read_view

    run.attempted += 1
    got = {tuple(r) for r in read_view(st["spark"], view)
           .select(*[F.col("after")[c] for c in cols]).collect()}
    want = set(st["sql"].query(f"SELECT {', '.join(cols)} FROM public.{table}"))
    if got != want:
        run.fail(f"view {table}: {len(got)} rows vs {len(want)} in Postgres; "
                 f"{len(got - want)} extra, {len(want - got)} missing")


def _source_and_materialize(run, st: dict, frames: str) -> None:
    """The source alone (postgres_cdc batch read into noop) and
    apply_changes over it (into noop), each warm, each under a job
    group; materialize.s excludes the read."""
    from postrack_spark.cdc.materialize import apply_changes

    spark = st["spark"]
    sc = spark.sparkContext
    read = lambda: spark.read.format("postgres_cdc").option("capture_dir", frames).load()  # noqa: E731
    read().write.format("noop").mode("overwrite").save()  # warm the batch reader
    sc.setJobGroup("probe:source", "source")
    with run.tracer.span("source"):
        t0 = time.perf_counter()
        read().write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
    sc.setJobGroup("probe:materialize", "materialize")
    with run.tracer.span("materialize"):
        t2 = time.perf_counter()
        apply_changes(read(), _key()).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    sc.setJobGroup("bench", "bench")
    run.layer["source.read_s"] = t1 - t0
    run.layer["materialize.s"] = (t3 - t2) - (t1 - t0)
    stats = sparkstats.group_totals(spark, {"probe:materialize"})
    run.layer["materialize.shuffle_write_bytes"] = stats["shuffle_write_bytes"]


class _LagPoller:
    """Polls pg_current_wal_lsn() minus the slot's confirmed_flush_lsn on
    its own connection while the workload runs."""

    def __init__(self, server: PgServer, slot: str, period_s: float = 0.1) -> None:
        self.server, self.slot, self.period = server, slot, period_s
        self.max_lag = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.error: BaseException | None = None

    def _loop(self) -> None:
        conn = self.server.connect()
        try:
            while not self._stop.is_set():
                lag = current_lsn(conn) - confirmed_flush(conn, self.slot)
                self.max_lag = max(self.max_lag, lag)
                self._stop.wait(self.period)
        except (OSError, RuntimeError) as e:
            self.error = e
        finally:
            conn.close()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)
        if self.error is not None and exc[0] is None:
            raise RuntimeError(f"slot lag poll failed: {self.error}")


# ---------------------------------------------------------------- live

LIVE_TABLE, LIVE_SLOT = "kv", "bench_live"
LIVE_COLS = ["id", "v", "seq", "due_us", "pad"]


def _live_prepare(run, st: dict) -> None:
    sql = st["sql"]
    sql.query(f"CREATE TABLE public.{LIVE_TABLE} (id bigint PRIMARY KEY, v bigint NOT NULL, "
              "seq bigint NOT NULL, due_us bigint NOT NULL, pad text NOT NULL)")
    _provision(st, LIVE_SLOT, LIVE_TABLE)
    st["preload_lsn"] = commit_marked(
        sql, f"INSERT INTO public.{LIVE_TABLE} SELECT g, 0, 0, 0, md5((g + {run.seed})::text) "
             f"FROM generate_series(0, {LIVE_PRELOAD - 1}) g")


def _live_setup(run, st: dict) -> None:
    """Capture the preload (the daemon starts after it is committed, so
    this is a small catch-up), drain it into the view cold, then merge a
    few small transactions into it warm, like the timed drains."""
    sql = st["sql"]
    st["frames"] = os.path.join(run.work, "frames")
    st["view"] = os.path.join(run.work, "view")
    st["ckpt"] = os.path.join(run.work, "ckpt")
    st["daemon"] = _daemon(run, st, LIVE_SLOT, st["frames"])
    t0 = time.time()
    st["daemon"].start()
    t1 = wait_acked(sql, LIVE_SLOT, st["preload_lsn"], st["daemon"])
    st["preload_capture_s"] = t1 - t0
    st["stream"] = _stream(st["spark"], st["frames"])
    _drain(run, st, st["stream"], st["view"], st["ckpt"])
    rng = random.Random(run.seed ^ 0x5EED)
    for _ in range(WARM_UPDATES):
        k = rng.randrange(LIVE_PRELOAD)
        lsn = commit_marked(sql, f"UPDATE public.{LIVE_TABLE} SET v = v + 1 WHERE id = {k}")
    wait_acked(sql, LIVE_SLOT, lsn, st["daemon"])
    _drain(run, st, st["stream"], st["view"], st["ckpt"])
    run.info.update(rate_txn_per_s=LIVE_RATE, preload_keys=LIVE_PRELOAD,
                    preload_capture_s=st["preload_capture_s"])


def _live_measure(run, st: dict) -> None:
    n = int(LIVE_RATE * run.seconds)
    start = time.time() + 1.0  # let the generator process start before seq 1 is due
    drains: list[dict] = []
    daemon_pid = st["daemon"].proc.pid
    d_cpu0, cpu0 = proc_cpu_s(daemon_pid), tree_cpu_s()
    result, gen_log = os.path.join(run.work, "gen.json"), os.path.join(run.work, "gen.log")
    with open(gen_log, "wb") as log:
        gen = subprocess.Popen(
            [sys.executable, GEN, "--port", str(st["server"].port), "--table", f"public.{LIVE_TABLE}",
             "--keys", str(LIVE_PRELOAD), "--rate", str(LIVE_RATE), "--seconds", str(run.seconds),
             "--seed", str(run.seed), "--start", repr(start), "--out", result],
            env=run.env(), stdout=log, stderr=subprocess.STDOUT,
            preexec_fn=die_with_parent(signal.SIGKILL),
        )
    run.stack.callback(lambda: gen.poll() is None and (gen.kill(), gen.wait()))
    seen_max = 0
    deadline = start + run.seconds + 60
    # Drain until the generator is done and every seq is visible.
    # Traced runs alternate untraced and traced drains.
    with _LagPoller(st["server"], LIVE_SLOT) if run.trace else contextlib.nullcontext() as poller:
        while gen.poll() is None or seen_max < n:
            if time.time() > deadline:
                raise RuntimeError(f"seq {seen_max} of {n} visible after the deadline")
            if gen.poll() not in (None, 0):
                with open(gen_log) as f:
                    raise RuntimeError(f"generator failed: {f.read()[-400:]}")
            run.tracer.enabled = run.trace and len(drains) % 2 == 1
            d = _drain(run, st, st["stream"], st["view"], st["ckpt"])
            d["traced"] = run.tracer.enabled
            drains.append(d)
            run.attempted += 1
            seen_max = max([seen_max] + [s for _, s in _observed(d) if s is not None])
    run.tracer.enabled = run.trace
    cpu = tree_cpu_s() - cpu0
    d_cpu = proc_cpu_s(daemon_pid) - d_cpu0
    with open(result) as f:
        g = json.load(f)
    run.attempted += g["sent"]
    for _ in range(g["failed"]):
        run.fail("generator transaction failed (see gen.log)")
    st["gen"] = g
    due = {seq: us / 1e6 for seq, us in enumerate(g["due_us"], start=1)}
    points = [pt for d in drains for pt in _observed(d)]
    vis = visible_times(points, list(due))
    for seq in due:
        if seq not in vis:
            run.fail(f"transaction seq {seq} never became visible")
    lat = [vis[s] - due[s] for s in due if s in vis]
    p = highest_percentile(len(lat))
    run.e2e.update(visible_p50_s=median(lat), cpu_s=cpu / n)
    run.info.update(
        transactions=n, drains=len(drains), visible_p50_s=median(lat),
        **({f"visible_p{p:g}_s": percentile(lat, p)} if p else {}),
        visible_samples=len(lat), gen_late_max_ms=g["late_max_ms"],
        window_s=time.time() - start,
    )
    st["drains"] = drains
    if run.trace:
        traced_at = {t: d["traced"] for d in drains for t, _ in _observed(d)}
        by = {flag: [vis[s] - due[s] for s in vis if traced_at[vis[s]] == flag]
              for flag in (False, True)}
        if by[False] and by[True]:
            run.layer["trace.overhead_s"] = median(by[True]) - median(by[False])
        _stream_layers(run, st["spark"], drains, 2 * n)
        run.layer["gen.late_max_ms"] = g["late_max_ms"]
        run.layer["capture.cpu_s"] = d_cpu
        run.layer["capture.slot_lag_bytes_max"] = poller.max_lag
        run.layer["capture.events_per_s"] = LIVE_PRELOAD / st["preload_capture_s"]


def _live_check(run, st: dict) -> None:
    n = st["gen"]["sent"]
    _check_view(run, st, st["view"], LIVE_TABLE, LIVE_COLS)
    dec = _decode_all(run, st["frames"])
    _check_decoded(run, dec, {"INSERT": LIVE_PRELOAD + n, "UPDATE": WARM_UPDATES + n},
                   "live frames")
    if run.trace:
        _decode_layers(run, dec)
        run.layer["capture.commit_to_ack_p50_ms"] = median(dec["commit_to_ack_ms"][-n:])
        _source_and_materialize(run, st, st["frames"])
        run.layer["materialize.events_per_key"] = dec["events"] / (LIVE_PRELOAD + n)


# ---------------------------------------------------------------- backlog

BACKLOG_COLS = ["id", "v", "pad"]


def _backlog_sql(table: str, seed: int) -> tuple[list[str], dict[str, int]]:
    """A seeded backlog of BACKLOG_EVENTS row changes over at most
    BACKLOG_KEYS keys, in transactions of BACKLOG_TXN_ROWS rows: first
    the inserts, then updates of live keys with deletes and re-inserts
    mixed in. Returns the statements and the committed events by op."""
    rng = random.Random(seed)
    live: list[int] = []
    dead: list[int] = []
    events = {"INSERT": 0, "UPDATE": 0, "DELETE": 0}
    stmts = []
    next_key = 0
    while sum(events.values()) < BACKLOG_EVENTS:
        r = rng.random()
        n = min(BACKLOG_TXN_ROWS, BACKLOG_EVENTS - sum(events.values()))
        if next_key < BACKLOG_KEYS:  # load the keys first
            keys = list(range(next_key, min(BACKLOG_KEYS, next_key + n)))
            next_key += len(keys)
            live.extend(keys)
            op = "INSERT"
        elif r < 0.08 and len(live) > n:
            keys = rng.sample(live, n)
            gone = set(keys)
            live = [k for k in live if k not in gone]
            dead.extend(keys)
            op = "DELETE"
        elif r < 0.16 and len(dead) >= n:
            keys, dead = dead[:n], dead[n:]
            live.extend(keys)
            op = "INSERT"
        else:
            keys = rng.sample(live, n)
            op = "UPDATE"
        ids = ",".join(map(str, keys))
        if op == "INSERT":
            stmts.append(f"INSERT INTO public.{table} SELECT k, 0, md5((k * {seed})::text) "
                         f"FROM unnest(ARRAY[{ids}]::bigint[]) k")
        elif op == "UPDATE":
            stmts.append(f"UPDATE public.{table} SET v = v + 1 WHERE id = ANY(ARRAY[{ids}]::bigint[])")
        else:
            stmts.append(f"DELETE FROM public.{table} WHERE id = ANY(ARRAY[{ids}]::bigint[])")
        events[op] += len(keys)
    return stmts, events


def _backlog_prepare(run, st: dict, i: int) -> dict:
    """Table, slot and committed backlog for catch-up ``i``."""
    table, slot = f"bl{i}", f"bench_bl{i}"
    sql = st["sql"]
    sql.query(f"CREATE TABLE public.{table} (id bigint PRIMARY KEY, v bigint NOT NULL, "
              "pad text NOT NULL)")
    _provision(st, slot, table)
    stmts, events = _backlog_sql(table, run.seed * 1000 + i)
    for s in stmts[:-1]:
        sql.query(s)
    end_lsn = commit_marked(sql, stmts[-1])
    return {"table": table, "slot": slot, "events": events, "end_lsn": end_lsn,
            "frames": os.path.join(run.work, f"frames{i}"), "view": os.path.join(run.work, f"view{i}"),
            "ckpt": os.path.join(run.work, f"ckpt{i}")}


def _catch_up(run, st: dict, b: dict) -> dict:
    """Daemon start until the view is committed (timed), then the
    daemon is stopped."""
    daemon = _daemon(run, st, b["slot"], b["frames"])
    cpu0 = tree_cpu_s()
    with run.tracer.span("catchup"):
        t0 = time.time()
        daemon.start()
        with run.tracer.span("capture"):
            acked = wait_acked(st["sql"], b["slot"], b["end_lsn"], daemon)
        d = _drain(run, st, _stream(st["spark"], b["frames"]), b["view"], b["ckpt"])
        t1 = time.time()
    cpu = tree_cpu_s() - cpu0
    daemon.stop()
    drop_slot(st["sql"], b["slot"])
    return {"s": t1 - t0, "capture_s": acked - t0, "cpu_s": cpu, "daemon_cpu_s": daemon.cpu_s,
            "drain": d}


def _backlog_setup(run, st: dict) -> None:
    st["warm_result"] = _catch_up(run, st, st["warm"])
    run.info.update(backlog_events=BACKLOG_EVENTS, backlog_keys=BACKLOG_KEYS,
                    backlog_txn_rows=BACKLOG_TXN_ROWS)


def _backlog_measure(run, st: dict) -> None:
    done: list[tuple[dict, dict, bool]] = []
    t_end = time.monotonic() + run.seconds
    last = st["warm_result"]["s"]
    # Whole catch-ups that fit the window; traced runs alternate
    # untraced and traced ones.
    while not done or time.monotonic() + last <= t_end or (run.trace and len(done) < 2):
        traced = run.trace and len(done) % 2 == 1
        b = _backlog_prepare(run, st, len(done) + 1)
        run.tracer.enabled = traced
        r = _catch_up(run, st, b)
        run.tracer.enabled = run.trace
        run.attempted += 1
        done.append((b, r, traced))
        last = r["s"]
    st["done"] = done
    plain = [r for _, r, t in done if not t]
    secs = median([r["s"] for r in plain])
    run.e2e.update(visible_p50_s=secs, cpu_s=median([r["cpu_s"] for r in plain]))
    run.info.update(catchups=len(done), catchup_s=[round(r["s"], 4) for _, r, _ in done],
                    catchup_events_per_s=BACKLOG_EVENTS / secs)
    if run.trace:
        traced = [r for _, r, t in done if t]
        run.layer["trace.overhead_s"] = median([r["s"] for r in traced]) - secs
        rs = [r for _, r, _ in done]
        run.layer["capture.events_per_s"] = median([BACKLOG_EVENTS / r["capture_s"] for r in rs])
        run.layer["capture.cpu_s"] = median([r["daemon_cpu_s"] for r in rs])
        _stream_layers(run, st["spark"], [r["drain"] for r in rs], BACKLOG_EVENTS * len(rs))


def _backlog_check(run, st: dict) -> None:
    for b, _, _ in [(st["warm"], None, None)] + st["done"]:
        _check_view(run, st, b["view"], b["table"], BACKLOG_COLS)
        dec = _decode_all(run, b["frames"])
        _check_decoded(run, dec, {k: v for k, v in b["events"].items() if v}, f"backlog {b['table']}")
    if run.trace:
        b = st["done"][-1][0]
        _decode_layers(run, dec)
        run.layer["capture.commit_to_ack_p50_ms"] = median(dec["commit_to_ack_ms"])
        _source_and_materialize(run, st, b["frames"])
        run.layer["materialize.events_per_key"] = BACKLOG_EVENTS / BACKLOG_KEYS
