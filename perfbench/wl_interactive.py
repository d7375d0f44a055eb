"""``interactive_sql``: one client sends a seeded stream of short
Postgres/DuckDB-dialect queries over the attached star schema and takes
each (small) result with ``fetch_arrow`` — or, for the ``cursor``
template, streams a 4,000-row result through ``iter_arrow``.

Per-query wall time here is mostly fixed cost — statement routing,
dialect rewriting, Catalyst analysis, job launch — so planning,
caching and dialect work move these numbers and a transfer or writer
change should not.  The stream visits every template once per round in
a seeded order, so the template mix is the same for every seed and
only the literals and the order change.  Every result is compared with
DuckDB running the same query over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import time

import numpy as np

from checks import add_checksums, checksum, same_checksum, same_rows
from datagen import EVENT_TYPES, SEGMENTS
from harness import median

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings")
SIZES = {}
#: One round visits every template once.
ROUND_OPS = 12
#: Four rounds: a p75 tail with at least ten samples beyond it.
MIN_OPS = 48
#: Untimed warm-up rounds.  The first pays one-time class-loading
#: costs; after it, latencies keep falling for minutes while the JIT
#: compiles the planner's and code generator's hot paths, steeply over
#: the next few rounds, and a run measured there moves with how far the
#: compiler got.
WARM_ROUNDS = 3

PREPARED = {
    "ps_cust_status": (
        "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        "FROM orders WHERE o_custkey = :c GROUP BY o_orderstatus"
    ),
    "ps_order_lines": (
        "SELECT l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_orderkey = :k"
    ),
}


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _templates(rng: np.random.Generator, sizes: dict, data_dir: str):
    """One round: (kind, engine_sql, oracle_sql, prepared_name, params)."""
    n_orders, n_cust = sizes["orders"], sizes["customer"]
    k = int(rng.integers(0, n_orders))
    y = int(rng.integers(1992, 1998))
    disc = int(rng.integers(2, 10)) / 100.0
    qty = int(rng.integers(24, 26))
    q6 = (
        "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} "
        f"AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))} "
        f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
        f"AND l_quantity < {qty}"
    )
    cutoff = dt.date(1998, 12, 1) - dt.timedelta(days=int(rng.integers(60, 121)))
    q1 = (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base, avg(l_discount) AS avg_disc, "
        "count(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= {_ts(cutoff)} "
        "GROUP BY l_returnflag, l_linestatus"
    )
    seg = SEGMENTS[int(rng.integers(0, 5))]
    d3 = dt.date(1995, 3, 1) + dt.timedelta(days=int(rng.integers(0, 31)))
    q3 = (
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "o_orderdate, o_orderpriority FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {_ts(d3)} "
        f"AND l_shipdate > {_ts(d3)} "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )
    c = int(rng.integers(0, n_cust - 50))
    distinct_on = (
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
        f"FROM orders WHERE o_custkey BETWEEN {c} AND {c + 49} "
        "ORDER BY o_custkey, o_totalprice DESC, o_orderkey"
    )
    c2 = int(rng.integers(0, n_cust - 50))
    qualify = (
        "SELECT o_custkey, o_orderkey, o_orderdate FROM orders "
        f"WHERE o_custkey BETWEEN {c2} AND {c2 + 49} "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate DESC, o_orderkey) = 1"
    )
    et = EVENT_TYPES[int(rng.integers(0, 5))]
    jsonb_tail = (
        f"AS k, count(*) AS n FROM events WHERE event_type = '{et}' "
        "GROUP BY 1 ORDER BY n DESC, k LIMIT 5"
    )
    r = int(rng.integers(0, 5))
    inline = (
        "SELECT n_name, count(*) AS n_sup, sum(s_acctbal) AS bal "
        f"FROM read_parquet('{data_dir}/supplier.parquet') s "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE n_regionkey = {r} GROUP BY n_name"
    )
    pc = int(rng.integers(0, n_cust))
    pk = int(rng.integers(0, n_orders))
    qvec = int(rng.integers(0, sizes["embeddings"]))
    ck = int(rng.integers(0, n_orders - 1000))
    cursor = (
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate "
        f"FROM lineitem WHERE l_orderkey BETWEEN {ck} AND {ck + 999}"
    )
    return [
        ("lookup", f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                   f"o_orderpriority FROM orders WHERE o_orderkey = {k}", None, None, None),
        ("q6", q6, None, None, None),
        ("q1", q1, None, None, None),
        ("q3", q3, None, None, None),
        ("distinct_on", distinct_on, None, None, None),
        ("qualify", qualify, None, None, None),
        ("jsonb", "SELECT props::jsonb->>'k' " + jsonb_tail,
         "SELECT props::JSON->>'k' " + jsonb_tail, None, None),
        ("read_parquet", inline, None, None, None),
        ("prepared_status", PREPARED["ps_cust_status"],
         PREPARED["ps_cust_status"].replace(":c", str(pc)), "ps_cust_status", {"c": pc}),
        ("prepared_lines", PREPARED["ps_order_lines"],
         PREPARED["ps_order_lines"].replace(":k", str(pk)), "ps_order_lines", {"k": pk}),
        ("ann_topk", None, None, None, {"vec": qvec}),
        ("cursor", cursor, None, None, None),
    ]


def stream(seed: int, sizes: dict, data_dir: str):
    """Endless seeded op stream: rounds of every template, shuffled."""
    rng = np.random.default_rng([seed, 1])
    while True:
        round_ = _templates(rng, sizes, data_dir)
        for i in rng.permutation(len(round_)):
            yield round_[i]


class Workload:
    """Binds the stream to an engine, a DuckDB oracle and the op log."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.oracle = None
        self.recalls: list[float] = []
        self.emb = None
        self.first_batch_ms: list[float] = []
        self.batches = 0
        self.arrow_bytes = 0
        self.scan_only_ms: list[float] = []
        self.overhead: list[float] = []

    def setup(self):
        ctx = self.ctx
        for t in TABLES:
            ctx.eng.attach(t, ctx.paths[t])
        for name, sql in PREPARED.items():
            ctx.eng.prepare(name, sql)
        self.emb = ctx.eng.spark.table("embeddings")

    def warm(self, seed: int):
        """Set up, then ``WARM_ROUNDS`` rounds from a stream the measured
        run never uses."""
        self.setup()
        s = stream(seed + 1_000_003, self.ctx.sizes, self.ctx.data_dir)
        for _ in range(WARM_ROUNDS * ROUND_OPS):
            kind, sql, _oracle, prep, params = next(s)
            if kind == "cursor":
                for _b in self.ctx.eng.iter_arrow(sql):
                    pass
            else:
                self._call(kind, sql, prep, params)

    def start(self):
        import duckdb

        self.oracle = duckdb.connect()
        for t in TABLES:
            self.oracle.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.paths[t]}')"
            )

    def _query_vec(self, i: int) -> list[float]:
        v = self.ctx.tables["embeddings"].column("embedding")[i].values.to_numpy()
        noise = np.random.default_rng(i).standard_normal(len(v))
        return [float(x) for x in v + 0.05 * noise]

    def _iter(self, sql: str):
        """Stream the result; returns (checksum, harness_seconds) so the
        checksum work can be taken out of the op's latency."""
        total: dict = {}
        spent = 0.0
        t0 = time.perf_counter()
        for b in self.ctx.eng.iter_arrow(sql):
            t1 = time.perf_counter()
            if not total:
                self.first_batch_ms.append((t1 - t0) * 1000.0)
            self.batches += 1
            self.arrow_bytes += b.nbytes
            total = add_checksums(total, checksum(b))
            spent += time.perf_counter() - t1
        return total, spent

    def _scan_only(self, sql: str) -> None:
        """Traced runs only: the same query into Spark's ``noop`` sink, so
        the transfer's share of the op shows."""
        t0 = time.perf_counter()
        self.ctx.eng.sql(sql).write.format("noop").mode("overwrite").save()
        scan = (time.perf_counter() - t0) * 1000.0
        self.scan_only_ms.append(scan)
        total = self.ctx.log.last_ms()
        self.overhead.append(max(total - scan, 0.0) / total)

    def _call(self, kind, sql, prep, params):
        if kind == "ann_topk":
            from pg_analytics_spark.operators import similarity

            return similarity.ivf_ann_topk(
                self.emb, "embedding", "vec_id", self._query_vec(params["vec"]), k=10
            ).toArrow()
        if prep:
            return self.ctx.eng.execute(prep, params).toArrow()
        return self.ctx.eng.fetch_arrow(sql)

    def _check(self, kind, got, oracle_sql, params) -> bool:
        if kind != "ann_topk":
            return same_rows(got, self.oracle.execute(oracle_sql).arrow())
        from pg_analytics_spark.operators import similarity

        exact = similarity.brute_force_topk(
            self.emb, "embedding", "vec_id", self._query_vec(params["vec"]), k=10
        ).toArrow()
        ids = got.column("vec_id").to_pylist()
        self.recalls.append(
            len(set(ids) & set(exact.column("vec_id").to_pylist())) / 10.0)
        # every returned similarity must be the true cosine of that vector
        q = np.asarray(self._query_vec(params["vec"]))
        col = self.ctx.tables["embeddings"].column("embedding")
        for i, sim in zip(ids, got.column("sim").to_pylist()):
            v = col[i].values.to_numpy().astype(np.float64)
            if abs(float(v @ q / np.linalg.norm(v) / np.linalg.norm(q)) - sim) > 1e-5:
                return False
        return len(set(ids)) == 10

    def _op(self, kind, sql, oracle_sql, prep, params):
        if kind == "cursor":
            return lambda log: self._cursor(sql)
        return lambda log: self.ctx.op(
            kind,
            lambda: self._call(kind, sql, prep, params),
            check=lambda got: self._check(kind, got, oracle_sql or sql, params),
            rows=lambda t: t.num_rows,
        )

    def _cursor(self, sql: str) -> None:
        want = checksum(self.oracle.execute(sql).arrow())
        res = self.ctx.op("cursor", lambda: self._iter(sql),
                          check=lambda r: same_checksum(r[0], want),
                          rows=lambda r: r[0]["rows"], exclude=lambda r: r[1])
        if self.ctx.tracer is not None and res is not None:
            self._scan_only(sql)

    def ops(self, seed: int):
        for item in stream(seed, self.ctx.sizes, self.ctx.data_dir):
            yield self._op(*item)

    def finish(self, log):
        self.oracle.close()
        if self.recalls:
            log.verify("ann_recall", float(np.mean(self.recalls)) >= ANN_RECALL_FLOOR)

    def layer_metrics(self) -> dict[str, float]:
        return {
            "operators.ivf_ann_topk_ms": median(self.ctx.log.kind_ms("ann_topk")),
            "operators.ann_recall_at_10": (
                float(np.mean(self.recalls)) if self.recalls else 0.0
            ),
            "transfer.first_batch_ms": median(self.first_batch_ms),
            "transfer.scan_only_ms": median(self.scan_only_ms),
            "transfer.overhead_frac": median(self.overhead),
            "transfer.batches": float(self.batches),
            "transfer.bytes": float(self.arrow_bytes),
        }


#: Mean recall@10 of ``ivf_ann_topk`` (default 8 cells, 2 probes)
#: against exact top-10 over a run's queries must not fall below this
#: floor.  Measured on these inputs when the benchmark was defined: 0.77
#: mean over 80 queries, per-query recall anywhere from 0.0 to 1.0.  A
#: run has only four ANN queries; resampling the measured recalls puts
#: their mean below 0.15 in 3 of 100,000 runs, so the floor flags a
#: broken index, not bad luck.  Wrong similarities fail the op itself.
ANN_RECALL_FLOOR = 0.15
