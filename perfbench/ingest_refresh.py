"""ingest_refresh: writes beside reads on a CouchDB-style changes feed.

The first part of a seeded raw feed (``_id, _rev, _deleted, seq,
doc_json``) is written once.  A set-up registers it with
``register_table(raw_doc_table(...))`` and puts a design doc of JS
views into a fresh store: two land on the variant-compiled tier, one on
the interpreted tier.  The measured cold build runs ``build_ddoc``.
Each loop round starts with one cycle: append a changes batch as a new
part file (half new ids, 40% updates, 10% deletes), refresh the ddoc
and issue a ``stale=false`` read (batch landing → fresh result is the
freshness sample).  Then come ``stale="ok"`` reads at the current LSM
depth, including an ``include_docs`` point read.  A run holds one
cycle, so the engine's own compaction policy (default
``compact_after``) does not fire; an explicit ``compact`` of every view
closes the run.  After it every view must equal a from-scratch
temporary-view rebuild of the final feed.
"""

from __future__ import annotations

import copy
import json
import statistics
import time

from common import WriteMeter, same_rows, timed, tree_bytes
from datagen import ChangesFeed
from loop import Shape, Workload, zipf_pick
from mapreduce_spark.engine import Engine
from mapreduce_spark.sources.docs import raw_doc_table, register_table

SIZES = {"full": (1000, 100), "tiny": (500, 50)}  # initial, batch
TABLE = "feed"

VIEWS = {
    # variant-compiled tier (every referenced field typed by sampling)
    "type_lang": {
        "map": (TABLE, """
            function (doc) {
              if (doc.type !== 'page') {
                emit([doc.type, doc.lang], doc.score);
              }
            }"""),
        "reduce": "_sum",
    },
    "by_author": {
        "map": (TABLE, "function (doc) { emit(doc.author, doc.n); }"),
        "reduce": "_stats",
    },
    # interpreted tier: split() and a loop are outside the compiled
    # subset
    "title_words": {
        "map": (TABLE, """
            function (doc) {
              var w = doc.title.split(' ');
              for (var i = 0; i < w.length; i++) {
                emit(w[i], 1);
              }
            }"""),
        "reduce": "_count",
    },
}


def _emits(body: dict) -> dict[str, list]:
    """What each view emits for one live doc (key, value)."""
    out = {"by_author": [(body["author"], body["n"])],
           "title_words": [(w, 1) for w in body["title"].split(" ")],
           "type_lang": []}
    if body["type"] != "page":
        out["type_lang"].append(([body["type"], body["lang"]],
                                 body["score"]))
    return out


class IngestRefresh(Workload):
    name = "ingest_refresh"

    rounds = {"full": 1, "tiny": 1}

    def prepare(self) -> None:
        self.n0, self.batch = SIZES[self.scale]
        self.sf_dir = f"{self.work}/sf"
        self.feed = ChangesFeed(self.sf_dir, TABLE, self.seed)
        self.feed.initial(self.n0)

    def setup_once(self, k: int) -> None:
        tr = self.tracer
        with tr.span("sources", "register_table"):
            register_table(raw_doc_table(TABLE))
        eng = Engine(self.spark, self.sf_dir, f"{self.work}/store{k}")
        with tr.span("functions", "Engine.put_design"):
            eng.put_design("ingest", VIEWS)
        self.engines[k] = eng

    def build(self, k: int) -> dict:
        self.eng = self.engines[k]
        self.store = self.eng.storage_dir
        with WriteMeter(self.store) as wm, \
                self.tracer.span("engine", "Engine.build_ddoc"):
            _, build_s = timed(self.eng.build_ddoc, "ingest")
        self.wm = WriteMeter(self.store)
        self.snapshots = [copy.deepcopy(self.feed.live)]
        self.fresh_ms: list[float] = []
        return {"docs": self.n0, "build_s": build_s,
                "written": wm.bytes}

    def tiers(self) -> dict[str, str]:
        """Which map tier each view compiled to."""
        out = {}
        for v in VIEWS:
            vd, _ = self.eng._resolve(f"ingest/{v}")
            out[v] = type(vd.map_def).__name__
        return out

    # -- the write half of each round ------------------------------------

    def before_round(self, rnd: int) -> None:
        """One cycle: land a batch, refresh, read fresh."""
        tr = self.tracer
        with tr.op("cycle", rnd=rnd):
            t = time.perf_counter()
            with tr.span("sources", "ChangesFeed.batch"):
                self.feed.batch(self.batch)
            with self.wm:
                with tr.span("engine", "Engine.refresh_ddoc"):
                    self.eng.refresh_ddoc("ingest")
                rows = self.query("ingest/type_lang", stale=None,
                                  group_level=1)
            self.fresh_ms.append((time.perf_counter() - t) * 1e3)
        self.snapshots.append(copy.deepcopy(self.feed.live))
        self.fresh_rows.append(rows)

    def loop(self, m: dict) -> None:
        self.fresh_rows: list = []
        super().loop(m)
        m["freshness_p50_ms"] = statistics.median(self.fresh_ms)
        self.extra["cycles"] = len(self.fresh_ms)
        self.extra["tiers"] = self.tiers()
        self.extra["layers_at_end"] = {
            v: self.eng.info(f"ingest/{v}")["layer_count"] for v in VIEWS}

    # -- reads (issued before each cycle, against the current state) -----

    def shapes(self) -> list[Shape]:
        authors = sorted({b["author"] for b in self.feed.live.values()})
        q = self.query

        def tagged(pick):
            # remember which feed state the read saw
            return lambda rng: (len(self.snapshots) - 1, pick(rng))

        return [
            Shape(
                "group_level",
                tagged(lambda rng: None),
                lambda p: q("ingest/type_lang", group_level=1),
                lambda p: self._reduced(p[0], "type_lang", 1, "_sum"),
                weight=3,
            ),
            Shape(
                "include_docs_point",
                tagged(lambda rng: authors[zipf_pick(rng, len(authors))]),
                lambda p: q("ingest/by_author", key=p[1], reduce=False,
                            include_docs=True),
                lambda p: [
                    {"id": i, "key": p[1], "value": b["n"], "doc": b}
                    for i, b in sorted(self.snapshots[p[0]].items())
                    if b["author"] == p[1]
                ],
                weight=3,
            ),
            Shape(
                "stats_range",
                tagged(lambda rng: sorted(
                    authors[zipf_pick(rng, len(authors))]
                    for _ in range(2))),
                lambda p: q("ingest/by_author", startkey=p[1][0],
                            endkey=p[1][1]),
                lambda p: self._stats_range(p[0], *p[1]),
                weight=3,
            ),
            Shape(
                "interp_group",
                tagged(lambda rng: None),
                lambda p: q("ingest/title_words", group=True),
                lambda p: self._reduced(p[0], "title_words", None,
                                        "_count"),
                weight=3,
            ),
        ]

    def _reduced(self, i: int, view: str, level, red: str) -> list:
        acc: dict = {}
        for b in self.snapshots[i].values():
            for k, v in _emits(b)[view]:
                g = json.dumps(k[:level] if level else k)
                acc[g] = acc.get(g, 0) + (v if red == "_sum" else 1)
        return [{"key": json.loads(g), "value": acc[g]}
                for g in sorted(acc)]

    def _stats_range(self, i: int, lo: str, hi: str) -> list:
        vals = [b["n"] for b in self.snapshots[i].values()
                if lo <= b["author"] <= hi]
        if not vals:
            return []
        return [{"key": None, "value": {
            "sum": float(sum(vals)), "count": len(vals),
            "min": float(min(vals)), "max": float(max(vals)),
            "sumsqr": float(sum(v * v for v in vals))}}]

    def check(self, shape: Shape, params, got) -> bool:
        exp = shape.oracle(params)
        if shape.name in ("group_level", "interp_group"):
            # group keys collate like JSON strings here (all strings)
            got = sorted(got, key=lambda r: json.dumps(r["key"]))
        return same_rows(got, exp)

    # -- maintenance and the rebuild check ---------------------------------

    def maintain(self, m: dict) -> None:
        """Explicit compaction of every view, then vacuum of the
        replaced layers."""
        t = time.perf_counter()
        with self.wm, self.tracer.op("compact"):
            for v in VIEWS:
                with self.tracer.span("engine", "Engine.compact"):
                    self.eng.compact(f"ingest/{v}")
            self.eng.vacuum()
        m["compact_s"] = time.perf_counter() - t
        ingested = self.feed.bytes_written
        m["write_amp"] = (self.build_written + self.wm.bytes) / ingested

    def finish(self, m: dict) -> None:
        m["space_amp"] = tree_bytes(self.store) / self.feed.live_bytes()

    def verify(self) -> None:
        """Each persisted view == a temporary-view rebuild of the final
        feed, and the last fresh read saw the last batch."""
        for v, vdef in VIEWS.items():
            with self.tracer.op("verify", view=v):
                got = self.query(f"ingest/{v}", reduce=False)
                tmp = self.eng.query(dict(vdef), reduce=False).rows()
            self.tally.record(got == tmp, f"rebuild mismatch: {v}")
        if self.fresh_rows:
            exp = self._reduced(len(self.snapshots) - 1, "type_lang", 1,
                                "_sum")
            got = sorted(self.fresh_rows[-1],
                         key=lambda r: json.dumps(r["key"]))
            self.tally.record(same_rows(got, exp),
                              "last fresh read is stale")


WORKLOAD = IngestRefresh
