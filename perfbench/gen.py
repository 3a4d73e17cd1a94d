"""Open-loop transaction generator for the ``cdc_live`` workload.

Runs as its own process with one Postgres connection. Transaction
``seq`` (1-based) is due at ``start + (seq - 1) / rate`` whether or not
earlier ones have finished, so a stall in the system shows up as
latency, not as a lower offered rate. Each transaction updates one
random existing key and inserts one new key, and stamps its ``seq`` and
due time (microseconds since the epoch) into both rows.

    python3 perfbench/gen.py --port P --table public.t --keys 20000 \
        --rate 100 --seconds 10 --seed 1 --start <epoch seconds> --out result.json

Writes one JSON object to ``--out``: sent, failed, late_max_ms and the
due time of each seq.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postrack_spark.sources.pgwire import PgWireConnection  # noqa: E402


def transaction_sql(table: str, seq: int, due_us: int, key: int, new_key: int, pad: str) -> str:
    return (
        f"BEGIN; UPDATE {table} SET v = v + 1, seq = {seq}, due_us = {due_us} "
        f"WHERE id = {key}; INSERT INTO {table} (id, v, seq, due_us, pad) "
        f"VALUES ({new_key}, 0, {seq}, {due_us}, '{pad}'); COMMIT;"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--keys", type=int, required=True, help="preloaded keys 0..keys-1")
    ap.add_argument("--rate", type=float, required=True, help="transactions per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch time seq 1 is due")
    ap.add_argument("--out", required=True, help="file for the JSON result")
    args = ap.parse_args()

    rng = random.Random(args.seed)
    conn = PgWireConnection("127.0.0.1", args.port, "postgres", "postgres")
    n = int(args.rate * args.seconds)
    due, failed, late_max = [], 0, 0.0
    try:
        for seq in range(1, n + 1):
            t_due = args.start + (seq - 1) / args.rate
            wait = t_due - time.time()
            if wait > 0:
                time.sleep(wait)
            late_max = max(late_max, time.time() - t_due)
            due_us = int(round(t_due * 1e6))
            key = rng.randrange(args.keys + seq - 1)
            pad = "%032x" % rng.getrandbits(128)
            try:
                conn.query(transaction_sql(args.table, seq, due_us, key, args.keys + seq - 1, pad))
            except RuntimeError as e:  # server error: count it, keep the schedule
                failed += 1
                print(f"gen: seq {seq} failed: {e}", file=sys.stderr)
                conn.query("ROLLBACK")
            due.append(due_us)
    finally:
        conn.close()
    with open(args.out, "w") as f:
        json.dump({"sent": n, "failed": failed, "late_max_ms": late_max * 1e3, "due_us": due}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
