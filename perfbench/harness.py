"""Measurement core shared by every workload: the closed-loop op log,
percentiles with the tail rule, failure accounting, peak RSS and the
write/space amplification arithmetic.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

#: Percentiles the tail metric may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A percentile is reportable only with this many samples beyond it.
TAIL_MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples
    (the epsilon keeps 99.9% of 10000 at 9990, not 9991)."""
    return max(math.ceil(p * n / 100.0 - 1e-9), 1)


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """The ``p``-th percentile by nearest rank: always a real sample."""
    if not sorted_vals:
        raise ValueError("no samples")
    return sorted_vals[_rank(len(sorted_vals), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, or None when ``n`` is too small for any."""
    ok = [p for p in TAIL_LADDER if samples_beyond(n, p) >= TAIL_MIN_BEYOND]
    return ok[-1] if ok else None


def median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


class OpLog:
    """Closed-loop record of one client's operations.

    ``run`` times one call; ``check`` validates its result outside the
    timer.  An exception or a failed check counts the op as failed and
    as a missed latency sample: it enters the percentiles at +inf (the
    reported value is then clamped to the measured wall time, since
    JSON has no infinity).
    """

    def __init__(self, out=sys.stderr):
        self.lat_s: list[float] = []  # one entry per attempted op
        self.kinds: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.busy_s = 0.0
        self.errors: list[str] = []
        self._out = out

    def run(self, kind: str, fn, check=None, rows=None, exclude=None):
        """Time ``fn()``; return its result, or None when it failed.

        ``rows(result)`` counts the rows the op delivered or accepted;
        ``exclude(result)`` gives seconds of harness work done inside
        ``fn`` (e.g. checksumming streamed batches) to take off the
        latency.
        """
        self.attempted += 1
        self.kinds.append(kind)
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:  # the op failed: record it, keep the loop going
            dt = time.perf_counter() - t0
            self._fail(kind, dt, traceback.format_exc())
            return None
        dt = time.perf_counter() - t0
        if exclude is not None:
            dt -= exclude(res)
        try:
            ok = True if check is None else check(res)
        except Exception:
            ok = False
            self._out.write(traceback.format_exc())
        if not ok:
            self._fail(kind, dt, "output check failed\n")
            return None
        self.lat_s.append(dt)
        self.busy_s += dt
        if rows is not None:
            self.rows += int(rows(res))
        return res

    def verify(self, kind: str, ok: bool) -> None:
        """Count an end-of-run check: attempted, and failed unless ``ok``.
        It has no latency of its own."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{kind}: check failed")
            self._out.write(f"[perfbench] check {kind} failed\n")

    def _fail(self, kind: str, dt: float, why: str) -> None:
        self.failed += 1
        self.busy_s += dt
        self.lat_s.append(math.inf)
        self.errors.append(why)
        self._out.write(f"[perfbench] op {kind} failed: {why}")

    def last_ms(self) -> float:
        return self.lat_s[-1] * 1000.0

    def count_errors(self, needle: str) -> int:
        return sum(needle in e for e in self.errors)

    def latency_ms(self, p: float, wall_s: float) -> float:
        v = nearest_rank(sorted(self.lat_s), p)
        return (wall_s if math.isinf(v) else v) * 1000.0

    def kind_ms(self, kind_prefix: str) -> list[float]:
        """Successful latencies (ms) of ops whose kind starts with the prefix."""
        return [
            d * 1000.0
            for k, d in zip(self.kinds, self.lat_s)
            if k.startswith(kind_prefix) and not math.isinf(d)
        ]

    def kind_p50_gm_ms(self, wall_s: float) -> float:
        """Geometric mean over op kinds of each kind's median latency.

        The kinds' latencies lie far apart (a key lookup against a
        three-way join), so the median of the pooled samples jumps
        between kinds from one run to the next; the median of each kind
        does not.  A miss counts as the run's wall time, as in
        ``latency_ms``."""
        by_kind: dict[str, list[float]] = {}
        for k, d in zip(self.kinds, self.lat_s):
            by_kind.setdefault(k, []).append(wall_s if math.isinf(d) else d)
        logs = [math.log(max(nearest_rank(sorted(v), 50.0), 1e-9))
                for v in by_kind.values()]
        return math.exp(sum(logs) / len(logs)) * 1000.0

    def summary(self, tail_p: float, wall_s: float) -> dict[str, float]:
        ok = self.attempted - self.failed
        busy = max(self.busy_s, 1e-9)
        return {
            "op_p50_gm_ms": self.kind_p50_gm_ms(wall_s),
            "op_tail_ms": self.latency_ms(tail_p, wall_s),
            "ops_per_s": ok / busy,
            "rows_per_s": self.rows / busy,
            "ok_frac": ok / max(self.attempted, 1),
        }


def closed_loop(log: OpLog, ops, seconds: float, min_ops: int, round_ops: int,
                hard_cap_s: float):
    """Drive one client: take the next op from ``ops`` until ``seconds``
    have passed, at least ``min_ops`` were attempted and the current
    round of ``round_ops`` is complete (or the hard cap is hit).  Ending
    on a round boundary keeps the op mix the same in every run.  Each
    item of ``ops`` is a callable ``(log) -> None`` that records exactly
    one op.  Returns the measured wall seconds."""
    t0 = time.perf_counter()
    it = iter(ops)
    n = 0
    while True:
        el = time.perf_counter() - t0
        done = el >= seconds and n >= min_ops and n % round_ops == 0
        if done or el >= hard_cap_s:
            return el
        next(it)(log)
        n += 1


# --------------------------------------------------------------------- #
# Machine
# --------------------------------------------------------------------- #


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``: steal is time the hypervisor gave this machine's
    virtual CPUs to someone else while they had work to run."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


# --------------------------------------------------------------------- #
# Memory
# --------------------------------------------------------------------- #


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def jvm_pid(root: int | None = None) -> int | None:
    """The first descendant of ``root`` whose command line runs java."""
    stack = _children(root or os.getpid())
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            return pid
        stack += _children(pid)
    return None


def peak_rss_mb(jvm: int | None) -> float:
    """Peak RSS (VmHWM) of this process plus the JVM, in MiB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


# --------------------------------------------------------------------- #
# Write / space amplification
# --------------------------------------------------------------------- #


def file_sizes(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size in bytes."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files present in ``after`` but not in ``before``."""
    return sum(s for p, s in after.items() if p not in before)


def write_amp(added_bytes: int, submitted_bytes: int) -> float:
    """Bytes the tables gained ÷ Arrow bytes of the rows the client sent."""
    if submitted_bytes <= 0:
        raise ValueError("no rows submitted")
    return added_bytes / submitted_bytes


def space_amp(disk_bytes: int, live_parquet_bytes: int) -> float:
    """Bytes on disk ÷ bytes of the live rows written once as parquet."""
    if live_parquet_bytes <= 0:
        raise ValueError("no live rows")
    return disk_bytes / live_parquet_bytes
