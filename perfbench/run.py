"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the repository root.  One closed-loop client drives the
package's public API (``Engine``, the lake writers through SQL, the
vector operators) on ``local[$SPARK_GRAFT_CPUS]`` (default: every
core).  Inputs are generated from ``--seed`` into a scratch directory
under ``.perfbench/`` in the repository root, which is removed at exit
together with the lake tables, exports and Spark's local files.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run also writes every span to
``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from harness import (  # noqa: E402
    OpLog,
    closed_loop,
    cpu_ticks,
    jvm_pid,
    median,
    peak_rss_mb,
    tail_percentile,
)
from tracing import SparkRest, Tracer, span_cost_s  # noqa: E402

WORKLOADS = {
    "interactive_sql": "wl_interactive",
    "lake_write_read": "wl_lake",
}
#: Timed set-up runs this many times; ``setup_s`` reports session start
#: plus the median repetition.
SETUP_REPEATS = 3


class Ctx:
    """What a workload sees: inputs, the engine, the op log, the tracer."""

    def __init__(self, work: str):
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.sizes: dict = {}
        self.tables: dict = {}
        self.paths: dict = {}
        self.eng = None
        self.tracer: Tracer | None = None
        self.log = OpLog()
        self.op_ids: list[str] = []
        self.group_s = 0.0  # time spent tagging ops with a job group

    def op(self, kind, fn, check=None, rows=None, exclude=None):
        """Record one client operation (see ``OpLog.run``)."""
        tr = self.tracer
        if tr is None:
            return self.log.run(kind, fn, check, rows, exclude)
        oid = f"op{len(self.op_ids)}"
        self.op_ids.append(oid)
        t0 = time.perf_counter()
        self.eng.spark.sparkContext.setJobGroup(oid, kind)
        self.group_s += time.perf_counter() - t0
        tr.op_id = oid

        def traced():
            with tr.span("op"):
                return fn()

        try:
            return self.log.run(kind, traced, check, rows, exclude)
        finally:
            tr.op_id = None


def install_spans(tr: Tracer) -> None:
    """Span every public entry point the workloads reach."""
    from pg_analytics_spark import dialect, engine, sources
    from pg_analytics_spark.operators import similarity
    from pg_analytics_spark.sources import delta_write, iceberg_write

    for m in ("attach", "sql", "prepare", "execute", "fetch_arrow", "iter_arrow"):
        tr.wrap(engine.Engine, m, f"engine.{m}")
    # the engine imported these by name; lazy importers go through the
    # defining module
    for mod in (engine, dialect):
        tr.wrap(mod, "rewrite_pg", "dialect.rewrite_pg")
        tr.wrap(mod, "extract_table_functions", "dialect.extract_table_functions")
    for mod in (engine, sources):
        tr.wrap(mod, "load_source", "sources.load_source")
    for fn in ("write_delta", "update_delta", "delete_delta", "merge_delta"):
        tr.wrap(delta_write, fn, f"delta_write.{fn}")
    for fn in ("write_iceberg", "update_iceberg", "delete_iceberg", "merge_iceberg"):
        tr.wrap(iceberg_write, fn, f"iceberg_write.{fn}")
    for fn in ("ivf_ann_topk", "brute_force_topk"):
        tr.wrap(similarity, fn, f"operators.{fn}")


def _outermost(tr: Tracer, name: str) -> list[list]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s[0]: s for s in tr.spans}
    out = []
    for s in tr.spans:
        if s[1] != name or s[3] is None:
            continue
        p = s[4]
        while p is not None and by_id[p][1] != name:
            p = by_id[p][4]
        if p is None:
            out.append(s)
    return out


def traced_layers(ctx: Ctx, span_cost: float, cores: int, wall_s: float) -> dict[str, float]:
    """Per-layer metrics every workload shares, from spans and Spark."""
    tr, log = ctx.tracer, ctx.log
    n_ops = max(len(ctx.op_ids), 1)
    op_ms = sum(tr.durations_ms("op")) or 1e-9
    sql_spans = _outermost(tr, "engine.sql")
    per_op_sql: dict[str, float] = {}
    for s in sql_spans:
        if s[5] is not None:
            per_op_sql[s[5]] = per_op_sql.get(s[5], 0.0) + (s[3] - s[2]) * 1000.0
    dialect_ms = sum(
        (s[3] - s[2]) * 1000.0
        for name in ("dialect.rewrite_pg", "dialect.extract_table_functions")
        for s in _outermost(tr, name) if s[5] is not None
    )
    out = {
        "dialect.rewrite_ms": dialect_ms / n_ops,
        "engine.sql_ms": median(per_op_sql.values()),
        "engine.sql_share": sum(per_op_sql.values()) / op_ms,
        "engine.execute_ms": median(tr.durations_ms("engine.execute")),
        "sources.load_ms": median(tr.durations_ms("sources.load_source")),
        "trace.spans_per_op": len(tr.spans) / n_ops,
        "trace.overhead_frac": (len(tr.spans) * span_cost * 1000.0
                                + ctx.group_s * 1000.0) / op_ms,
        "trace.op_p50_gm_ms": log.kind_p50_gm_ms(wall_s),
    }
    groups = SparkRest(ctx.eng.spark).per_group()
    tot: dict[str, float] = {}
    for oid in ctx.op_ids:
        for k, v in groups.get(oid, {}).items():
            tot[k] = tot.get(k, 0.0) + v
    out.update({
        "spark.jobs_per_op": tot.get("jobs", 0.0) / n_ops,
        "spark.tasks_per_op": tot.get("tasks", 0.0) / n_ops,
        "spark.rows_read_per_row_returned": tot.get("input_records", 0.0) / max(log.rows, 1),
        "spark.files_read": tot.get("files_read", 0.0) / n_ops,
        "spark.bytes_read": tot.get("input_bytes", 0.0) / n_ops,
        "spark.shuffle_bytes": tot.get("shuffle_bytes", 0.0) / n_ops,
        "spark.spill_bytes": tot.get("spill_bytes", 0.0) / n_ops,
        "spark.cpu_busy_frac": tot.get("executor_run_ms", 0.0) / (op_ms * cores),
        "spark.failed_tasks": tot.get("failed_tasks", 0.0),
    })
    for name, ms in tr.self_times_ms().items():
        out[f"self_ms.{name}"] = ms / n_ops
    return out


def _stop_spark(eng) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    eng.spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    mod = importlib.import_module(WORKLOADS[args.workload])
    from pg_analytics_spark import Engine

    ctx = Ctx(work)
    ctx.sizes = dict(datagen.SIZES, **mod.SIZES)
    ctx.tables = datagen.gen_tables(args.seed, ctx.sizes)
    ctx.paths = datagen.write_tables(ctx.tables, ctx.data_dir, mod.TABLES)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A 2 GB heap holds every input many times over.  Committing and
        # touching all of it at start makes the JVM's RSS independent of
        # how far the collector happened to grow the heap, so peak RSS
        # moves only with Python-side and off-heap (Arrow) memory.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
    }
    t0 = time.perf_counter()
    ctx.eng = Engine(extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        jvm = jvm_pid()
        if args.trace:
            ctx.tracer = Tracer()
            install_spans(ctx.tracer)
        wl = mod.Workload(ctx)
        # the warm-up pays one-time JIT and class-loading costs, set-up's
        # included, so the set-ups timed after it measure set-up alone
        t0 = time.perf_counter()
        wl.warm(args.seed)
        warm_s = time.perf_counter() - t0
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        wl.start()
        if ctx.tracer is not None:
            ctx.tracer.spans.clear()
        ctx.log = OpLog()
        ticks0 = cpu_ticks()
        wall = closed_loop(ctx.log, wl.ops(args.seed), args.seconds, mod.MIN_OPS,
                           mod.ROUND_OPS, hard_cap_s=2 * args.seconds + 30)
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        steal_frac = steal / max(total, 1)
        t0 = time.perf_counter()
        wl.finish(ctx.log)
        finish_s = time.perf_counter() - t0
        log = ctx.log
        tail_p = tail_percentile(mod.MIN_OPS)
        e2e = {
            "setup_s": session_s + median(setups),
            "peak_rss_mb": peak_rss_mb(jvm),
            **log.summary(tail_p, wall),
        }
        sys.stderr.write(
            f"[perfbench] {args.workload} seed={args.seed} ops={log.attempted} "
            f"failed={log.failed} wall={wall:.1f}s steal={steal_frac:.1%} tail=p{tail_p:g} "
            f"setup={['%.2f' % s for s in setups]} session={session_s:.2f}s "
            f"warm={warm_s:.1f}s finish={finish_s:.1f}s "
            f"rss_py={peak_rss_mb(None):.0f}MB "
            + json.dumps(e2e) + "\n[perfbench] per-kind median ms: "
            + json.dumps({k: round(median(log.kind_ms(k)), 1)
                          for k in sorted(set(log.kinds))}) + "\n")
        if args.trace:
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            layers = traced_layers(ctx, span_cost_s(), cores, wall)
            layers["session.start_s"] = session_s
            layers["machine.steal_frac"] = steal_frac
            layers.update(wl.layer_metrics())
            ctx.tracer.restore()
            ctx.tracer.dump(os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
            wanted, values = spec["per_layer"], layers
        else:
            wanted, values = spec["end_to_end"], e2e
        return {
            "correct": log.failed == 0,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in wanted
            },
        }
    finally:
        _stop_spark(ctx.eng)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    os.chdir(work)  # anything Spark drops in the cwd is removed with it
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no span file is left in it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
