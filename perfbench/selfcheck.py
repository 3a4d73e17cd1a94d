"""Checks of the benchmark's metric math on synthetic inputs with known
answers. ``run.py`` runs them before every run (they take
milliseconds); ``python3 perfbench/selfcheck.py`` runs them alone.
"""

from __future__ import annotations

import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.metrics import (  # noqa: E402
    Span,
    Tracer,
    covered_length,
    highest_percentile,
    percentile,
    visible_times,
)


class SelfCheckError(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SelfCheckError(what)


def _raises(fn, *args) -> bool:
    try:
        fn(*args)
    except ValueError:
        return True
    return False


def check_percentile_rule() -> None:
    xs = [float(i) for i in range(1, 1001)]  # 1..1000
    _expect(percentile(xs, 99) == 990.0, "p99 of 1..1000 is 990 (nearest rank)")
    _expect(percentile(xs, 50) == 500.0, "p50 of 1..1000 is 500")
    _expect(_raises(percentile, xs[:999], 99), "p99 of 999 samples leaves 9 beyond: refused")
    _expect(percentile(xs[:110], 90) == 99.0, "p90 of 110 samples leaves 11 beyond")
    _expect(percentile(xs[:100], 90) == 90.0, "p90 of 100 samples leaves exactly 10 beyond")
    _expect(_raises(percentile, xs[:99], 90), "p90 of 99 samples leaves 9 beyond: refused")
    _expect(highest_percentile(1000) == 99, "1000 samples support p99")
    _expect(highest_percentile(999) == 95, "999 samples support p95, not p99")
    _expect(highest_percentile(15) is None, "15 samples support no tail percentile above p50")
    _expect(percentile(list(reversed(xs)), 99) == 990.0, "input order does not matter")


def check_visible_mapping() -> None:
    # progress events (time, observed max seq), out of order, one empty
    # batch (None) and one that observes an older max than its predecessor
    progress = [(12.0, 7), (10.0, 3), (11.0, None), (13.0, 5), (15.0, 10)]
    got = visible_times(progress, [1, 3, 4, 7, 8, 10, 11])
    want = {1: 10.0, 3: 10.0, 4: 12.0, 7: 12.0, 8: 15.0, 10: 15.0}
    _expect(got == want, f"visible mapping {got} != {want}")


def check_self_time() -> None:
    _expect(covered_length([(0, 2), (1, 3), (5, 6)]) == 4, "union of overlapping intervals")
    _expect(covered_length([(3, 3), (4, 2)]) == 0, "empty and inverted intervals cover nothing")
    t = Tracer(run="check")
    # root 0..10; children 1..4 and 3..6 overlap (cover 1..6 = 5 s);
    # grandchild 2..3 inside the first child; a child sticking out of
    # its parent only counts inside it
    t.spans = [
        Span("stream", 0, 10, None, "check", 0),
        Span("capture", 1, 4, 0, "check", 1),
        Span("source", 3, 6, 0, "check", 2),
        Span("decode", 2, 3, 1, "check", 3),
        Span("sink", 9, 12, 0, "check", 4),
    ]
    got = t.self_times()
    want = {"stream": 10 - 5 - 1, "capture": 3 - 1, "source": 3, "decode": 1, "sink": 3}
    _expect(got == want, f"self times {got} != {want}")
    t2 = Tracer(run="check")
    with t2.span("a"):
        with t2.span("b"):
            pass
    _expect([s.parent for s in t2.spans] == [None, 0], "nesting sets parents")
    _expect(all(s.end >= s.start for s in t2.spans), "spans close")
    off = Tracer(run="check", enabled=False)
    with off.span("a"):
        with off.span("b"):
            pass
    _expect(off.spans == [], "a disabled tracer records nothing")


def run_all() -> None:
    check_percentile_rule()
    check_visible_mapping()
    check_self_time()


if __name__ == "__main__":
    run_all()
    print("perfbench self-checks passed")
