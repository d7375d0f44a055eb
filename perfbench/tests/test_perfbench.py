"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import harness  # noqa: E402
import wl_interactive  # noqa: E402
import wl_lake  # noqa: E402
from datagen import SIZES  # noqa: E402
from tracing import Tracer  # noqa: E402

# --------------------------------------------------------------------- #
# tail rule: the highest percentile with at least ten samples beyond it
# --------------------------------------------------------------------- #


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_ladder(n, p):
    assert harness.tail_percentile(n) == p


@pytest.mark.parametrize("n", [20, 33, 40, 57, 100, 250, 1000])
def test_tail_has_ten_samples_beyond(n):
    vals = list(range(n))
    p = harness.tail_percentile(n)
    v = harness.nearest_rank(vals, p)
    assert sum(x > v for x in vals) >= harness.TAIL_MIN_BEYOND
    higher = [q for q in harness.TAIL_LADDER if q > p]
    if higher:  # the next rung up would leave fewer than ten beyond
        v2 = harness.nearest_rank(vals, higher[0])
        assert sum(x > v2 for x in vals) < harness.TAIL_MIN_BEYOND


def test_workload_tail_percentiles_are_fixed_by_min_ops():
    assert harness.tail_percentile(wl_interactive.MIN_OPS) == 75.0
    assert harness.tail_percentile(wl_lake.MIN_OPS) == 50.0
    for wl in (wl_interactive, wl_lake):
        assert wl.MIN_OPS % wl.ROUND_OPS == 0


# --------------------------------------------------------------------- #
# stream determinism
# --------------------------------------------------------------------- #


def _interactive(seed, n=40):
    s = wl_interactive.stream(seed, SIZES, "/data")
    return [(k, sql, params) for k, sql, _o, _p, params in itertools.islice(s, n)]


def _lake(seed, n=60):
    return list(itertools.islice(wl_lake.stream(seed, 1000), n))


@pytest.mark.parametrize("gen", [_interactive, _lake])
def test_same_seed_same_stream_other_seed_other_stream(gen):
    assert gen(7) == gen(7)
    assert gen(7) != gen(8)


def test_interactive_round_visits_every_template():
    kinds = [k for k, _s, _p in _interactive(3, wl_interactive.ROUND_OPS * 4)]
    for r in range(4):
        rnd = kinds[r * wl_interactive.ROUND_OPS:(r + 1) * wl_interactive.ROUND_OPS]
        assert len(set(rnd)) == wl_interactive.ROUND_OPS


def test_lake_stream_keys_stay_valid():
    """Updates, deletes and point reads name live keys; merges name two
    distinct live keys and one new one."""
    live = {f: set(range(1000)) for f in wl_lake.FORMATS}
    for kind, fmt, _sql, mut in _lake(11, 400):
        op = mut[0]
        if op == "insert":
            assert not {k for k, _s in mut[1]} & live[fmt]
            live[fmt] |= {k for k, _s in mut[1]}
        elif op in ("update", "point"):
            assert mut[1] in live[fmt]
        elif op == "delete":
            live[fmt].remove(mut[1])
        elif op == "merge":
            keys = [k for k, _p in mut[1]]
            assert keys[0] != keys[1] and keys[0] in live[fmt] and keys[1] in live[fmt]
            assert keys[2] not in live[fmt]
            live[fmt].add(keys[2])


# --------------------------------------------------------------------- #
# failure accounting
# --------------------------------------------------------------------- #


class _Sink:
    def write(self, _s):
        pass


def test_failures_count_as_missed_samples():
    log = harness.OpLog(out=_Sink())
    assert log.run("ok", lambda: 1, check=lambda r: r == 1, rows=lambda r: 5) == 1
    assert log.run("boom", lambda: 1 / 0) is None
    assert log.run("wrong", lambda: 2, check=lambda r: r == 1) is None
    log.verify("final", True)
    log.verify("final", False)
    assert (log.attempted, log.failed) == (5, 3)
    assert len(log.lat_s) == 3 and sum(math.isinf(x) for x in log.lat_s) == 2
    s = log.summary(tail_p=50.0, wall_s=9.0)
    assert s["ok_frac"] == pytest.approx(2 / 5)
    # two of three samples are misses: the pooled median (the tail at
    # p50) is a miss, reported as the whole measured wall time
    assert s["op_tail_ms"] == pytest.approx(9000.0)
    # two of the three kinds have only misses: their medians are the
    # wall time, the third is the one real sample
    ok_s = log.lat_s[0]
    assert s["op_p50_gm_ms"] == pytest.approx((ok_s * 9.0 * 9.0) ** (1 / 3) * 1000.0)
    assert log.rows == 5
    assert log.kind_ms("ok") and not log.kind_ms("boom")


def test_p50_is_per_kind_median_combined_by_geometric_mean():
    log = harness.OpLog(out=_Sink())
    log.lat_s = [0.1, 0.3, 0.2, 4.0, 1.0, 2.0, 3.0]
    log.kinds = ["a", "a", "a", "b", "b", "b", "b"]
    # a: median 0.2; b: nearest-rank median of 1,2,3,4 is 2
    assert log.kind_p50_gm_ms(wall_s=10.0) == pytest.approx((0.2 * 2.0) ** 0.5 * 1000.0)


def test_exclude_takes_harness_time_off_the_latency():
    log = harness.OpLog(out=_Sink())
    log.run("x", lambda: 0.0, exclude=lambda _r: 10.0)
    assert log.lat_s[0] < 0  # the excluded time is subtracted as given


def test_closed_loop_stops_after_time_and_min_ops():
    log = harness.OpLog(out=_Sink())
    ops = (lambda lg: lg.run("n", lambda: None) for _ in itertools.count())
    harness.closed_loop(log, ops, seconds=0.0, min_ops=7, round_ops=5, hard_cap_s=60.0)
    assert log.attempted == 10


# --------------------------------------------------------------------- #
# write / space amplification on a tiny table
# --------------------------------------------------------------------- #


def test_amplification_arithmetic(tmp_path):
    tbl = pa.table({"k": [1, 2, 3, 4], "v": [1.0, 2.0, 3.0, 4.0]})
    pq.write_table(tbl, tmp_path / "a.parquet")
    before = harness.file_sizes(str(tmp_path))
    # a copy-on-write update of one row rewrites the whole file
    pq.write_table(tbl, tmp_path / "b.parquet")
    after = harness.file_sizes(str(tmp_path))
    added = harness.bytes_added(before, after)
    assert added == os.path.getsize(tmp_path / "b.parquet")
    one_row = tbl.slice(0, 1).nbytes
    assert harness.write_amp(added, one_row) == added / one_row
    live = os.path.getsize(tmp_path / "a.parquet")
    assert harness.space_amp(sum(after.values()), live) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        harness.write_amp(added, 0)


def test_shadow_model_tracks_mutations():
    date = 0
    src = {k: (k, 10 + k, "O", 100.0 * k, date, "5-LOW") for k in range(4)}
    sh = wl_lake.Shadow(src)
    sh.apply(("insert", [(100, 1)], 9.5))
    sh.apply(("update", 2, 0.5))
    sh.apply(("delete", 3))
    sh.apply(("merge", [(0, 7.0), (101, 8.0)]))
    assert sh.rows[100] == (100, 11, "O", 9.5, date, "5-LOW")
    assert sh.rows[2] == (2, 12, "F", 200.5, date, "5-LOW")
    assert 3 not in sh.rows
    assert sh.rows[0][3] == 7.0 and sh.rows[101][1:3] == (0, "O")
    assert sh.changed == 5
    agg = sh.expected(("agg",)).to_pylist()
    assert {r["o_orderstatus"]: r["n"] for r in agg} == {"F": 1, "O": 4}
    # five row images sent (insert, update, two merge rows) plus one key
    assert sh.submitted_bytes() == (
        pa.table(list(zip(*sh.submitted)), names=list(wl_lake.COLS)).nbytes + 8)


# --------------------------------------------------------------------- #
# output checks and spans
# --------------------------------------------------------------------- #


def test_same_rows_ignores_order_and_last_bits():
    a = pa.table({"k": [1, 2], "s": [0.1 + 0.2, 1.0]})
    b = pa.table({"K": [2, 1], "s": [1.0, 0.3]})
    assert checks.same_rows(a, b)
    assert not checks.same_rows(a, pa.table({"k": [1, 2], "s": [0.31, 1.0]}))
    assert not checks.same_rows(a, a.slice(0, 1))


def test_checksum_is_order_insensitive_and_additive():
    t = pa.table({"k": [3, 1, 2], "s": ["a", "bb", "ccc"], "f": [0.5, 0.25, 1.0]})
    rev = t.take([2, 1, 0])
    assert checks.same_checksum(checks.checksum(t), checks.checksum(rev))
    parts = checks.add_checksums(checks.checksum(t.slice(0, 1)), checks.checksum(t.slice(1)))
    assert checks.same_checksum(parts, checks.checksum(t))
    assert not checks.same_checksum(checks.checksum(t), checks.checksum(t.slice(1)))


def test_self_time_subtracts_child_spans():
    class Box:
        @staticmethod
        def inner():
            return 1

        @staticmethod
        def outer():
            return Box.inner() + Box.inner()

    tr = Tracer()
    tr.wrap(Box, "inner", "inner")
    tr.wrap(Box, "outer", "outer")
    tr.op_id = "op0"
    assert Box.outer() == 2
    tr.restore()
    assert Box.outer.__name__ == "outer" and len(tr.spans) == 3
    outer, in1, in2 = tr.spans
    assert in1[4] == outer[0] and in2[4] == outer[0]
    st = tr.self_times_ms()
    dur = tr.durations_ms("outer")[0]
    assert st["outer"] == pytest.approx(dur - sum(tr.durations_ms("inner")))
