"""Statistics, result comparison and host probes shared by the workloads."""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
from typing import Iterable, List, Optional, Sequence


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: Sequence[float]) -> tuple:
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it (nearest-rank); (0, 0.0) with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return 0, 0.0
    s = sorted(xs)
    p = math.floor(100 * (n - 10) / n)
    return p, float(s[max(math.ceil(p / 100 * n) - 1, 0)])


def mean(xs: Iterable[float]) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


# -- multiset comparison with float tolerance ---------------------------------
def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)) or hasattr(v, "as_integer_ratio"):
        return (2, float(v))
    if isinstance(v, dt.datetime):
        return (3, v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return (3, dt.datetime(v.year, v.month, v.day).isoformat())
    return (4, str(v))


def _sort_key(row):
    return tuple((t, round(x, 6) if t == 2 else x) for t, x in row)


def same_multiset(got: List[tuple], want: List[tuple],
                  rel: float = 1e-9, abs_: float = 1e-6) -> Optional[str]:
    """None when the row multisets match (floats within tolerance), else a
    short description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    b = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return f"arity {len(ra)} != {len(rb)}"
        for (ta, va), (tb, vb) in zip(ra, rb):
            if ta != tb:
                return f"type mismatch {va!r} vs {vb!r}"
            if ta == 2:
                if not math.isclose(va, vb, rel_tol=rel, abs_tol=abs_):
                    return f"value {va!r} != {vb!r}"
            elif va != vb:
                return f"value {va!r} != {vb!r}"
    return None


# -- host ---------------------------------------------------------------------
def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _status_kb(pid, field: str) -> int:
    """A ``/proc/<pid>/status`` memory field in kB (0 when unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this driver process plus the JVM (MB)."""
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024


def rss_after_gc_mb(spark, jvm_pid: int) -> float:
    """Resident set of this driver process plus the JVM (MB) after a full
    collection in both: the memory the run holds on to, without the
    headroom the JVM's collector sizes for itself."""
    import gc
    import time

    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(1.0)         # the JVM uncommits freed heap regions
    return (_status_kb("self", "VmRSS") + _status_kb(jvm_pid, "VmRSS")) / 1024
