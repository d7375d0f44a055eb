"""``lake_write_read``: one client mixes commits and reads on the same
lake tables — a Delta table (copy-on-write) and an Iceberg table
(merge-on-read), both built from ``orders`` during set-up.

Each round, per format in a seeded order: ``INSERT INTO … SELECT``,
``UPDATE … WHERE key``, ``DELETE … WHERE key`` and ``MERGE INTO`` with
an explicit ``SET col = s.col``, beside one read of the same table —
a point read in even rounds, a GROUP BY in odd ones.  Commits and delete debt build up over the run, so a
write-side gain that costs reads or space shows in the read latencies
and in the amplification figures.  A shadow model applies every
submitted mutation; each read is compared with it, and at the end each
table is re-read through a fresh ``load_source`` and must equal it.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import same_rows
from harness import (
    bytes_added,
    file_sizes,
    median,
    nearest_rank,
    space_amp,
    tail_percentile,
    write_amp,
)

TABLES = ("orders",)
SIZES = {"orders": 20_000}
FORMATS = ("delta", "iceberg")
#: One round: per format four commits and one read.
ROUND_OPS = 10
#: Commits are slow: two rounds leave room for a p50 tail only.
MIN_OPS = 20
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
_EPOCH = dt.datetime(1970, 1, 1)


def stream(seed: int, n_rows: int):
    """Endless seeded statement stream.

    Yields ``(kind, fmt, sql, mutation)``; ``mutation`` tells the shadow
    model what the statement does.  The generator tracks the live keys
    of each table itself, so DML keys depend only on the seed.
    """
    rng = np.random.default_rng([seed, 3])
    live = {f: list(range(n_rows)) for f in FORMATS}
    n_new = {f: 0 for f in FORMATS}

    def pick(f):
        return live[f][int(rng.integers(0, len(live[f])))]

    def new_key(f):
        n_new[f] += 1
        return n_rows * 10 + n_new[f]

    for rnd in itertools.count():
        for fi in rng.permutation(len(FORMATS)):
            f = FORMATS[fi]
            t = f"lk_{f}"
            src = sorted({int(x) for x in rng.integers(0, n_rows, 3)})
            ins = [(new_key(f), s) for s in src]
            price = round(float(rng.uniform(100, 1000)), 2)
            case = " ".join(f"WHEN {s} THEN {k}" for k, s in ins)
            yield ("commit.append", f,
                   f"INSERT INTO {t} SELECT CASE o_orderkey {case} END AS o_orderkey, "
                   f"o_custkey, o_orderstatus, {price} AS o_totalprice, o_orderdate, "
                   f"o_orderpriority FROM orders WHERE o_orderkey IN "
                   f"({', '.join(map(str, src))})",
                   ("insert", ins, price))
            live[f] += [k for k, _ in ins]
            k = pick(f)
            delta = round(float(rng.uniform(1, 50)), 2)
            yield ("commit.update", f,
                   f"UPDATE {t} SET o_totalprice = o_totalprice + {delta}, "
                   f"o_orderstatus = 'F' WHERE o_orderkey = {k}",
                   ("update", k, delta))
            k = pick(f)
            live[f].remove(k)
            yield ("commit.delete", f, f"DELETE FROM {t} WHERE o_orderkey = {k}",
                   ("delete", k))
            m1 = pick(f)
            m2 = pick(f)
            while m2 == m1:
                m2 = pick(f)
            m3 = new_key(f)
            rows = [(m, round(float(rng.uniform(100, 1000)), 2)) for m in (m1, m2, m3)]
            values = ", ".join(f"({m}, {p})" for m, p in rows)
            yield ("commit.merge", f,
                   f"MERGE INTO {t} t USING (SELECT * FROM VALUES {values} "
                   "AS v(k, p)) s ON t.o_orderkey = s.k "
                   "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p "
                   "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, "
                   "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority) "
                   "VALUES (s.k, 0, 'O', s.p, "
                   "CAST('1995-06-01 00:00:00' AS TIMESTAMP_NTZ), '3-MEDIUM')",
                   ("merge", rows))
            live[f].append(m3)
            if rnd % 2 == 0:
                k = pick(f)
                yield ("read.point", f,
                       f"SELECT {', '.join(COLS)} FROM {t} WHERE o_orderkey = {k}",
                       ("point", k))
            else:
                yield ("read.agg", f,
                       f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
                       f"FROM {t} GROUP BY o_orderstatus",
                       ("agg",))


class Shadow:
    """What one table must hold: key → row tuple in ``COLS`` order."""

    MERGE_INSERT_DATE = int((dt.datetime(1995, 6, 1) - _EPOCH).total_seconds() * 1e6)

    def __init__(self, source: dict[int, tuple]):
        self.source = source
        self.rows = dict(source)
        self.submitted: list[tuple] = []  # row images the client sent
        self.deleted_keys = 0
        self.changed = 0

    def apply(self, mut) -> None:
        op = mut[0]
        if op == "insert":
            _, ins, price = mut
            for k, s in ins:
                r = self.source[s]
                self.rows[k] = (k, r[1], r[2], price, r[4], r[5])
                self.submitted.append(self.rows[k])
            self.changed += _rows_changed(mut)
        elif op == "update":
            _, k, delta = mut
            r = self.rows[k]
            self.rows[k] = (k, r[1], "F", r[3] + delta, r[4], r[5])
            self.submitted.append(self.rows[k])
            self.changed += 1
        elif op == "delete":
            del self.rows[mut[1]]
            self.deleted_keys += 1
            self.changed += 1
        elif op == "merge":
            for k, p in mut[1]:
                r = self.rows.get(k)
                self.rows[k] = (
                    (k, r[1], r[2], p, r[4], r[5]) if r is not None
                    else (k, 0, "O", p, self.MERGE_INSERT_DATE, "3-MEDIUM")
                )
                self.submitted.append(self.rows[k])
            self.changed += _rows_changed(mut)

    def expected(self, mut) -> pa.Table:
        if mut[0] == "point":
            rows = [self.rows[mut[1]]]
            return pa.table(list(zip(*rows)), names=list(COLS))
        agg: dict[str, list] = {}
        for r in self.rows.values():
            a = agg.setdefault(r[2], [0, 0.0])
            a[0] += 1
            a[1] += r[3]
        keys = sorted(agg)
        return pa.table({"o_orderstatus": keys, "n": [agg[k][0] for k in keys],
                         "total": [agg[k][1] for k in keys]})

    def table(self) -> pa.Table:
        rows = [self.rows[k] for k in sorted(self.rows)]
        return pa.table(list(zip(*rows)), names=list(COLS))

    def submitted_bytes(self) -> int:
        rows = self.submitted
        sub = pa.table(list(zip(*rows)), names=list(COLS)) if rows else pa.table({})
        return sub.nbytes + 8 * self.deleted_keys


def _rows_changed(mut) -> int:
    return len(mut[1]) if mut[0] in ("insert", "merge") else 1


def _source_rows(tbl: pa.Table) -> dict[int, tuple]:
    cols = [tbl.column(c) for c in COLS]
    cols[4] = cols[4].cast(pa.int64())
    return {r[0]: r for r in zip(*[c.to_pylist() for c in cols])}


def _delta_commits_since_checkpoint(path: str) -> int:
    log = os.path.join(path, "_delta_log")
    last = -1
    try:
        with open(os.path.join(log, "_last_checkpoint")) as f:
            last = int(json.load(f)["version"])
    except FileNotFoundError:
        pass
    return sum(1 for n in os.listdir(log)
               if n.endswith(".json") and int(n.split(".")[0]) > last)


def _is_delete_file(path: str) -> bool:
    names = pq.read_schema(path).names
    return "file_path" in names and "pos" in names


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rep = 0
        self.dirs: dict[str, str] = {}
        self.shadow: dict[str, Shadow] = {}
        self.before: dict[str, dict[str, int]] = {}
        self.live_before: dict[str, int] = {}
        self.final: dict[str, float] = {}

    def setup(self):
        """Attach the source and build both tables in fresh directories."""
        ctx = self.ctx
        for d in self.dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        self.rep += 1
        ctx.eng.attach("orders", ctx.paths["orders"])
        for f in FORMATS:
            self.dirs[f] = os.path.join(ctx.work, "lake", f"{f}{self.rep}")
            ctx.eng.materialize(f"lk_{f}", "SELECT * FROM orders",
                                path=self.dirs[f], format=f)

    def start(self):
        src = _source_rows(self.ctx.tables["orders"])
        self.shadow = {f: Shadow(src) for f in FORMATS}
        self.before = {f: file_sizes(self.dirs[f]) for f in FORMATS}
        self.live_before = {f: self._live_files(f) for f in FORMATS}

    def _run(self, kind, fmt, sql, mut):
        sh = self.shadow[fmt]
        if kind.startswith("commit"):
            # the shadow takes the mutation whether or not the commit is
            # acknowledged: a lost commit then shows in the final check
            self.ctx.op(f"{kind}.{fmt}", lambda: self.ctx.eng.sql(sql).toArrow(),
                        rows=lambda _t: _rows_changed(mut))
            sh.apply(mut)
        else:
            want = sh.expected(mut)
            self.ctx.op(f"{kind}.{fmt}", lambda: self.ctx.eng.fetch_arrow(sql),
                        check=lambda got: same_rows(got, want),
                        rows=lambda t: t.num_rows)

    def ops(self, seed: int):
        for item in stream(seed, SIZES["orders"]):
            yield lambda log, item=item: self._run(*item)

    def warm(self, seed: int):
        """Set up, then run every statement shape once on those tables;
        the timed set-ups that follow build fresh ones."""
        self.setup()
        todo = {(k, f) for k in ("commit.append", "commit.update", "commit.delete",
                                 "commit.merge", "read.point", "read.agg") for f in FORMATS}
        for kind, fmt, sql, _mut in stream(seed + 1_000_003, SIZES["orders"]):
            if (kind, fmt) in todo:
                todo.discard((kind, fmt))
                self.ctx.eng.sql(sql).toArrow()
            if not todo:
                break

    def finish(self, log):
        """Fresh re-read of each table must equal its shadow model."""
        from pg_analytics_spark.sources import load_source

        spark = self.ctx.eng.spark
        rows_written = 0
        changed = 0
        for f in FORMATS:
            got = load_source(spark, self.dirs[f], f).toArrow()
            log.verify(f"final.{f}", same_rows(got, self.shadow[f].table()))
            after = file_sizes(self.dirs[f])
            added = bytes_added(self.before[f], after)
            new_pq = [p for p in after if p not in self.before[f] and p.endswith(".parquet")]
            data = [p for p in new_pq if not _is_delete_file(p)]
            live_pq = os.path.join(self.ctx.work, f"live_{f}.parquet")
            pq.write_table(got, live_pq)
            self.final[f"lake.write_amp.{f}"] = write_amp(
                added, self.shadow[f].submitted_bytes())
            self.final[f"lake.space_amp.{f}"] = space_amp(
                sum(after.values()), os.path.getsize(live_pq))
            live = self._live_files(f)
            self.final[f"write.files_added.{f}"] = float(len(new_pq))
            self.final[f"write.files_removed.{f}"] = float(
                self.live_before[f] + len(new_pq) - live)
            self.final[f"write.bytes_written.{f}"] = float(added)
            self.final[f"sources.snapshot_files.{f}"] = float(live)
            rows_written += sum(pq.read_metadata(p).num_rows for p in data)
            changed += self.shadow[f].changed
        self.final["write.rows_rewritten_per_row_changed"] = rows_written / max(changed, 1)
        self.final["sources.log_commits_since_checkpoint"] = float(
            _delta_commits_since_checkpoint(self.dirs["delta"]))

    def _live_files(self, f: str) -> int:
        """Live data files plus, for Iceberg, live delete files."""
        if f == "delta":
            row = self.ctx.eng.sql("DESCRIBE DETAIL lk_delta").toArrow()
            return int(row.column("numFiles")[0].as_py())
        from pg_analytics_spark.sources.iceberg import plan_snapshot

        meta_dir = os.path.join(self.dirs[f], "metadata")
        latest = max((n for n in os.listdir(meta_dir) if n.endswith(".metadata.json")),
                     key=lambda n: int(n[1:].split(".")[0]))
        with open(os.path.join(meta_dir, latest)) as fh:
            meta = json.load(fh)
        snap = next(s for s in meta["snapshots"]
                    if s["snapshot-id"] == meta["current-snapshot-id"])
        data, pos_del, eq_del, _proj, _pruned, dvs = plan_snapshot(self.dirs[f], meta, snap)
        return len(data) + len(pos_del) + len(eq_del) + len(dvs)

    def layer_metrics(self) -> dict[str, float]:
        log = self.ctx.log
        commits = sorted(log.kind_ms("commit."))
        tail_p = tail_percentile(len(commits)) or 100.0
        out = {
            "lake.commit_p50_ms": median(commits),
            "lake.commit_tail_ms": nearest_rank(commits, tail_p) if commits else 0.0,
            "lake.read_p50_ms": median(log.kind_ms("read.")),
        }
        for op in ("append", "update", "delete", "merge"):
            for f in FORMATS:
                out[f"write.commit_ms.{op}.{f}"] = median(log.kind_ms(f"commit.{op}.{f}"))
        out.update(self.final)
        out["write.conflicts"] = float(log.count_errors("onflict"))
        return out
