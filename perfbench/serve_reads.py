"""serve_reads: a read-serving index over typed tables.

The typed tables are written once; a set-up puts one design doc into a
fresh store, and the measured cold build runs ``Engine.build_ddoc`` into a fresh store.  The ddoc covers a fused
multi-view table group (lineitem and orders), a single-view table that
takes the per-view build path (customer), MapSpec views, compiled JS
views and a JS custom reduce.  A closed loop with one client then sends
``stale="ok"`` reads in the shapes below, keys zipf-skewed over each
view's key space.  Every read is checked against DuckDB over the same
parquet files.  The loop runs on a compacted index (LSM depth 0):
refresh, compaction and the extensions are bypassed.
"""

from __future__ import annotations

import statistics
import time

from common import WriteMeter, same_rows, timed, tree_bytes
from datagen import typed_tables
from loop import Shape, Workload, zipf_pick
from mapreduce_spark.engine import Engine
from mapreduce_spark.operators.mapphase import MapSpec

SF = {"full": 0.005, "tiny": 0.001}
TABLES = ("lineitem", "orders", "customer")
COMPACTIONS = 3  # compactions at the end of a run; compact_s is the median

DDOC = {
    # lineitem: two MapSpec views → one fused build
    "qty_by_flag": {
        "map": MapSpec("lineitem",
                       [("str", "l_returnflag"), ("str", "l_linestatus")],
                       ("num", "l_quantity")),
        "reduce": "_sum",
    },
    "supp_part": {
        "map": MapSpec("lineitem",
                       [("num", "l_suppkey"), ("num", "l_partkey")]),
        "reduce": "_count",
    },
    # orders: compiled-JS views, one with a JS custom reduce → fused
    "by_date": {
        "map": ("orders", """
            function (doc) {
              if (doc.o_orderstatus !== 'P') {
                emit(doc.o_orderdate, doc.o_totalprice);
              }
            }"""),
        "reduce": "_stats",
    },
    "status_custom": {
        "map": ("orders", """
            function (doc) {
              emit([doc.o_orderstatus, doc.o_orderpriority],
                   doc.o_totalprice);
            }"""),
        "reduce": """
            function (keys, values, rereduce) {
              if (rereduce) {
                var s = 0, c = 0, m = Infinity;
                for (var i = 0; i < values.length; i++) {
                  s += values[i].sum;
                  c += values[i].count;
                  if (values[i].min < m) { m = values[i].min; }
                }
                return {sum: s, count: c, min: m};
              }
              return {sum: sum(values), count: values.length,
                      min: Math.min.apply(null, values)};
            }""",
    },
    # customer: a single view → the per-view build path
    "by_segment": {
        "map": MapSpec("customer", ("str", "c_mktsegment")),
    },
}


class ServeReads(Workload):
    name = "serve_reads"
    setups = 15  # a set-up takes ~0.1 s here: more of them steady the median

    def inputs(self, sf_dir: str) -> int:
        sizes = typed_tables(sf_dir, self.seed, SF[self.scale], TABLES)
        return sum(sizes[t] for t in TABLES)

    def source_bytes(self, sf_dir: str) -> int:
        return sum(tree_bytes(f"{sf_dir}/{t}.parquet") for t in TABLES)

    def prepare(self) -> None:
        self.sf_dir = f"{self.work}/sf"
        self.docs = self.inputs(self.sf_dir)

    def setup_once(self, k: int) -> None:
        eng = Engine(self.spark, self.sf_dir, f"{self.work}/store{k}")
        with self.tracer.span("functions", "Engine.put_design"):
            eng.put_design("serve", DDOC)
        self.engines[k] = eng

    def build(self, k: int) -> dict:
        self.eng = self.engines[k]
        self.store = self.eng.storage_dir
        with WriteMeter(self.store) as wm, \
                self.tracer.span("engine", "Engine.build_ddoc"):
            _, build_s = timed(self.eng.build_ddoc, "serve")
        return {"docs": self.docs, "build_s": build_s,
                "written": wm.bytes}

    # -- read shapes and their oracles -----------------------------------

    def shapes(self) -> list[Shape]:
        con = self.duck(self.sf_dir, TABLES)
        flags = [r[0] for r in con.execute(
            "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1")
            .fetchall()]
        supps = [r[0] for r in con.execute(
            "SELECT DISTINCT l_suppkey FROM lineitem ORDER BY 1")
            .fetchall()]
        pairs = con.execute(
            "SELECT DISTINCT l_suppkey, l_partkey FROM lineitem "
            "ORDER BY 1, 2").fetchall()
        dates = [r[0] for r in con.execute(
            "SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') "
            "FROM orders WHERE o_orderstatus <> 'P' ORDER BY 1")
            .fetchall()]
        segs = [r[0] for r in con.execute(
            "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1")
            .fetchall()]
        q = self.query

        def by_date_rows(where: str, order: str, limit: int,
                         offset: int = 0) -> list:
            return [
                {"id": r[0], "key": r[1], "value": r[2]}
                for r in con.execute(
                    "SELECT printf('orders:%09d', o_orderkey) AS id, "
                    "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS k, "
                    "o_totalprice FROM orders "
                    f"WHERE o_orderstatus <> 'P' AND {where} "
                    f"ORDER BY k {order}, id {order} "
                    f"LIMIT {limit} OFFSET {offset}").fetchall()
            ]

        def date_window(rng):
            i = zipf_pick(rng, len(dates))
            return dates[i], dates[min(len(dates) - 1, i + 20)]

        return [
            Shape(
                "group_level",
                lambda rng: flags[zipf_pick(rng, len(flags))],
                lambda f: q("serve/qty_by_flag", group_level=2,
                            startkey=[f], endkey=[f, {}]),
                lambda f: [
                    {"key": [a, b], "value": v} for a, b, v in
                    con.execute(
                        "SELECT l_returnflag, l_linestatus, "
                        "sum(l_quantity) FROM lineitem WHERE "
                        "l_returnflag = ? GROUP BY 1, 2 ORDER BY 1, 2",
                        [f]).fetchall()
                ],
            ),
            Shape(
                "group",
                lambda rng: supps[zipf_pick(rng, len(supps))],
                lambda s: q("serve/supp_part", group=True,
                            startkey=[s], endkey=[s, {}]),
                lambda s: [
                    {"key": [s, p], "value": c} for p, c in con.execute(
                        "SELECT l_partkey, count(*) FROM lineitem "
                        "WHERE l_suppkey = ? GROUP BY 1 ORDER BY 1",
                        [s]).fetchall()
                ],
            ),
            Shape(
                "key",
                lambda rng: dates[zipf_pick(rng, len(dates))],
                lambda d: q("serve/by_date", key=d, reduce=False),
                lambda d: by_date_rows(
                    f"strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') = '{d}'",
                    "ASC", 1 << 30),
            ),
            Shape(
                "keys",
                lambda rng: [list(pairs[zipf_pick(rng, len(pairs))])
                             for _ in range(4)],
                lambda ks: q("serve/supp_part", keys=ks, reduce=False),
                lambda ks: [
                    {"id": r[0], "key": list(k), "value": None}
                    for k in ks for r in con.execute(
                        "SELECT printf('lineitem:%09d-%d', l_orderkey, "
                        "l_linenumber) AS id FROM lineitem WHERE "
                        "l_suppkey = ? AND l_partkey = ? ORDER BY id",
                        list(k)).fetchall()
                ],
            ),
            Shape(
                "key_fresh",
                lambda rng: dates[zipf_pick(rng, len(dates))],
                lambda d: q("serve/by_date", stale=None, key=d,
                            reduce=False),
                lambda d: by_date_rows(
                    f"strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') = '{d}'",
                    "ASC", 1 << 30),
                fresh=True,
                weight=2,  # six freshness samples a run, not three
            ),
            Shape(
                "range_limit",
                date_window,
                lambda w: q("serve/by_date", startkey=w[0],
                            endkey=w[1], limit=20, reduce=False),
                lambda w: by_date_rows(
                    "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') "
                    f"BETWEEN '{w[0]}' AND '{w[1]}'", "ASC", 20),
            ),
            Shape(
                "descending_skip",
                date_window,
                lambda w: q("serve/by_date", startkey=w[1],
                            endkey=w[0], descending=True, skip=5,
                            limit=10, reduce=False),
                lambda w: by_date_rows(
                    "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') "
                    f"BETWEEN '{w[0]}' AND '{w[1]}'", "DESC", 10, 5),
            ),
            Shape(
                "range_stats",
                date_window,
                lambda w: q("serve/by_date", startkey=w[0],
                            endkey=w[1]),
                lambda w: [
                    {"key": None, "value": {
                        "sum": r[0], "count": r[1], "min": r[2],
                        "max": r[3], "sumsqr": r[4]}}
                    for r in con.execute(
                        "SELECT sum(o_totalprice), count(*), "
                        "min(o_totalprice), max(o_totalprice), "
                        "sum(o_totalprice * o_totalprice) FROM orders "
                        "WHERE o_orderstatus <> 'P' AND strftime("
                        "o_orderdate, '%Y-%m-%dT%H:%M:%S') BETWEEN ? "
                        "AND ?", list(w)).fetchall()
                ],
            ),
            Shape(
                "custom_reduce",
                lambda rng: None,
                lambda _: q("serve/status_custom", group_level=1),
                lambda _: [
                    {"key": [s], "value": {"sum": a, "count": c,
                                           "min": m}}
                    for s, a, c, m in con.execute(
                        "SELECT o_orderstatus, sum(o_totalprice), "
                        "count(*), min(o_totalprice) FROM orders "
                        "GROUP BY 1 ORDER BY 1").fetchall()
                ],
                # the slowest shape: twice a round puts p90 inside its
                # latency cluster, not on the edge of the next one
                weight=2,
            ),
            Shape(
                "include_docs",
                lambda rng: segs[zipf_pick(rng, len(segs))],
                lambda s: q("serve/by_segment", key=s, limit=10,
                            include_docs=True),
                lambda s: [
                    {"id": f"customer:{r[0]:06d}", "key": s,
                     "value": None, "doc": {
                         "_id": f"customer:{r[0]:06d}",
                         "c_custkey": r[0], "c_name": r[1],
                         "c_nationkey": r[2], "c_acctbal": r[3],
                         "c_mktsegment": r[4]}}
                    for r in con.execute(
                        "SELECT c_custkey, c_name, c_nationkey, "
                        "c_acctbal, c_mktsegment FROM customer WHERE "
                        "c_mktsegment = ? ORDER BY c_custkey LIMIT 10",
                        [s]).fetchall()
                ],
            ),
        ]

    def check(self, shape: Shape, params, got: list) -> bool:
        exp = shape.oracle(params)
        if shape.name == "include_docs":
            # the doc body carries _rev and the doc-space fields; check
            # the identity and the source columns it must echo
            got = [dict(r, doc={k: r["doc"].get(k)
                                for k in e["doc"]})
                   for r, e in zip(got, exp)] if len(got) == len(exp) \
                else got
        return same_rows(got, exp)

    def maintain(self, m: dict) -> None:
        """On-demand compaction (CouchDB _compact) of the two largest
        views, then vacuum of the replaced base versions, ``COMPACTIONS``
        times: each one rewrites both bases, and ``compact_s`` is the
        median."""
        walls = []
        with WriteMeter(self.store) as wm:
            for _ in range(COMPACTIONS):
                t = time.perf_counter()
                with self.tracer.op("compact"):
                    for v in ("supp_part", "by_date"):
                        with self.tracer.span("engine", "Engine.compact"):
                            self.eng.compact(f"serve/{v}")
                    self.eng.vacuum()
                walls.append(time.perf_counter() - t)
        m["compact_s"] = statistics.median(walls)
        self.extra["compact_walls_s"] = walls
        src = self.source_bytes(self.sf_dir)
        m["write_amp"] = (self.build_written + wm.bytes) / src

    def finish(self, m: dict) -> None:
        m["space_amp"] = tree_bytes(self.store) / self.source_bytes(
            self.sf_dir)


WORKLOAD = ServeReads
