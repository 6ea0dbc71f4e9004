"""Layer probes: one number per engine layer, over fixed seeded inputs.

A traced run calls :func:`probe` after its workload.  Every probe calls
one layer's public functions on small inputs of its own, inside a span
of its own tracer, so each number reads that layer alone: map tiers
side by side on the same orders docs, each reduce through
``query_reduced`` straight on one persisted base frame, ``Registry.update`` on a scratch registry, the
dedup and similarity kernels one stage at a time.  Inputs depend on the
run's seed only, so the same seed probes the same rows.

Probes whose call takes well under a second run ``REPS`` times and
report the median: at these input sizes they mostly time Spark's fixed
per-job cost and the first call's warm-up, and spec.json names them.
Probes of a second or more (the variant, interpreted and Python map
tiers, the JS custom reduce, compile, include_docs, signatures, IVF)
run once to keep a traced run within its time limit, and so do build,
refresh and compact, which change the store.
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import WriteMeter
from datagen import ChangesFeed, corpus, embeddings, typed_tables
from ingest_refresh import VIEWS
from spans import Tracer
from mapreduce_spark.collate import to_indexable_string
from mapreduce_spark.engine import Engine
from mapreduce_spark.extensions import dedup
from mapreduce_spark.extensions import similarity as sim
from mapreduce_spark.functions.encode import enc_component_col
from mapreduce_spark.functions.jscompile import compile_js_map_fn
from mapreduce_spark.functions.jsreduce import compile_js_reduce
from mapreduce_spark.operators.mapphase import MapSpec
from mapreduce_spark.operators.query import query_reduced
from mapreduce_spark.plans.registry import Registry
from mapreduce_spark.plans.spec import options_from
from mapreduce_spark.sources.docs import (
    as_docs,
    doc_json_frame,
    load_table,
    raw_doc_table,
    register_table,
)
from pyspark.sql import functions as F

SF = {"full": 0.002, "tiny": 0.001}
FEED = (2000, 100)  # docs, changes per refresh batch
CORPUS = (300, 0.2)
VECTORS = 1000
THRESHOLD = 0.7
REPS = 3  # short probes run this often and report the median

TIER_JS = """
    function (doc) {
      if (doc.o_orderstatus !== 'P') {
        emit(doc.o_orderpriority, doc.o_totalprice);
      }
    }"""

# the ingest_refresh ddoc, on the probe feed
FEED_VIEWS = {v: {"map": ("pfeed", d["map"][1]), "reduce": d["reduce"]}
              for v, d in VIEWS.items()}

CUSTOM_REDUCE = """
    function (keys, values, rereduce) {
      var s = 0;
      for (var i = 0; i < values.length; i++) { s += values[i]; }
      return s;
    }"""


def _python_tier_fn():
    # built in a closure so cloudpickle ships it by value (the
    # benchmark's own modules are not importable on the workers)
    def by_priority(doc, emit):
        if doc["o_orderstatus"] != "P":
            emit(doc["o_orderpriority"], doc["o_totalprice"])

    return by_priority


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Probes:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, "probe")
        self.seed = ctx.seed
        self.tr = Tracer()
        self.m: dict[str, float] = {}

    def timed_span(self, layer: str, name: str, fn, *a, **kw):
        """(fn's result, its span); the span's wall_s is the timing."""
        with self.tr.span(layer, name) as s:
            out = fn(*a, **kw)
        return out, s

    def median_span(self, layer: str, name: str, fn, reps: int = REPS):
        """Calls fn ``reps`` times, each in a span of its own: (the last
        result, the span of median wall time)."""
        spans = []
        for _ in range(reps):
            out, s = self.timed_span(layer, name, fn)
            spans.append(s)
        return out, sorted(spans, key=lambda s: s.wall_s)[reps // 2]

    # -- inputs ---------------------------------------------------------

    def inputs(self) -> None:
        sf = self.sf = f"{self.dir}/sf"
        self.rows = typed_tables(sf, self.seed, SF[self.ctx.scale])
        orders = pq.read_table(f"{sf}/orders.parquet").to_pylist()
        docs = [{"_id": f"orders:{r['o_orderkey']:09d}",
                 "o_orderkey": r["o_orderkey"],
                 "o_orderstatus": r["o_orderstatus"],
                 "o_orderpriority": r["o_orderpriority"],
                 "o_totalprice": r["o_totalprice"]} for r in orders]
        pq.write_table(pa.table({
            "_id": [d["_id"] for d in docs],
            "seq": pa.array(range(1, len(docs) + 1), pa.int64()),
            "doc_json": [json.dumps(d) for d in docs],
        }), f"{sf}/porders.parquet")
        self.feed = ChangesFeed(sf, "pfeed", self.seed)
        self.feed.initial(FEED[0])
        self.texts = corpus(sf, self.seed, *CORPUS)
        self.X = embeddings(sf, self.seed + 1, VECTORS)

        register_table(raw_doc_table("porders"))
        register_table(raw_doc_table("pfeed"))

    # -- probes ---------------------------------------------------------

    def sources(self) -> None:
        with self.tr.op("sources"):
            n = 0
            t = 0.0
            for name in ("pfeed", "lineitem"):
                _, s = self.median_span(
                    "sources", "load_table", lambda: _noop(
                        load_table(self.spark, self.sf, name)))
                t += s.wall_s
                n += FEED[0] if name == "pfeed" else self.rows[name]
            self.m["sources.decode_rows_per_s"] = n / t
            _, s = self.median_span(
                "sources", "doc_json_frame", lambda: _noop(doc_json_frame(
                    as_docs(load_table(self.spark, self.sf, "orders"),
                            "orders"))))
            self.m["sources.doc_frame_rows_per_s"] = \
                self.rows["orders"] / s.wall_s

    def functions(self) -> None:
        eng = Engine(self.spark, self.sf, f"{self.dir}/tiers")
        tiers = {
            "mapspec": ("orders", MapSpec(
                "orders", ("str", "o_orderpriority"),
                ("num", "o_totalprice"), where="o_orderstatus <> 'P'")),
            "js_compiled": ("orders", ("orders", TIER_JS)),
            "js_variant": ("porders", ("porders", TIER_JS)),
            "js_interp": ("orders", ("orders",
                                     compile_js_map_fn(TIER_JS))),
            "python": ("orders", ("orders", _python_tier_fn())),
        }
        n = self.rows["orders"]
        with self.tr.op("map_tiers"):
            for tier, (_, m) in tiers.items():
                _, s = self.median_span(
                    "functions", f"map.{tier}", lambda: _noop(
                        eng.query({"map": m}, reduce=False).df),
                    REPS if tier in ("mapspec", "js_compiled") else 1)
                self.m[f"functions.map_docs_per_s.{tier}"] = \
                    n / s.wall_s
        with self.tr.op("compile"):
            e = Engine(self.spark, self.sf, f"{self.dir}/compile")
            _, s = self.timed_span("functions", "Engine.put_design",
                                   e.put_design, "c", FEED_VIEWS)
            self.m["functions.compile_ms"] = 1e3 * s.wall_s

    def encode(self) -> None:
        rng = np.random.default_rng(self.seed)
        keys = []
        for i in range(20_000):
            c = i % 4
            keys.append(float(rng.normal()) if c == 0 else
                        f"k{int(rng.integers(1e6))}" if c == 1 else
                        [f"a{i % 7}", float(i)] if c == 2 else
                        {"x": i % 3} if i % 8 == 3 else None)
        with self.tr.op("collate"):
            _, s = self.median_span(
                "collate", "to_indexable_string",
                lambda: [to_indexable_string(k) for k in keys])
            self.m["collate.encode_keys_per_s"] = len(keys) / s.wall_s
        li = load_table(self.spark, self.sf, "lineitem")
        with self.tr.op("encode"):
            _, s = self.median_span(
                "functions", "enc_component_col", lambda: _noop(
                    li.select(
                        enc_component_col(F.col("l_returnflag"), "str"),
                        enc_component_col(F.col("l_quantity"), "num"))))
            self.m["encode.rows_per_s"] = self.rows["lineitem"] / s.wall_s

    def engine(self) -> None:
        store = f"{self.dir}/store"
        eng = self.eng = Engine(self.spark, self.sf, store,
                                compact_after=1000)
        eng.put_design("p", FEED_VIEWS)
        with self.tr.op("build"):
            _, b = self.timed_span("engine", "Engine.build_ddoc",
                                   eng.build_ddoc, "p")
        with self.tr.op("refresh"):
            self.feed.batch(FEED[1])
            _, refresh = self.timed_span("engine", "Engine.refresh_ddoc",
                                         eng.refresh_ddoc, "p")
        layered = self.grouped_reads("layered")
        with WriteMeter(store) as wm, self.tr.op("compact"):
            for v in FEED_VIEWS:
                self.timed_span("engine", "Engine.compact", eng.compact,
                                f"p/{v}")
        compacted = self.grouped_reads("compacted")
        self.m["engine.build_s"] = b.wall_s
        self.m["engine.layered_read_ratio"] = layered / compacted
        self.m["engine.compact_bytes_written"] = wm.bytes
        self._builds = (b, refresh)

    def grouped_reads(self, tag: str) -> float:
        with self.tr.op(f"read_{tag}"):
            _, s = self.median_span(
                "operators.query", f"read.{tag}", lambda: self.eng.query(
                    "p/type_lang", group_level=1, stale="ok").rows())
        return s.wall_s

    def registry(self) -> None:
        reg = Registry(f"{self.dir}/registry")
        walls = []
        with self.tr.op("registry"):
            for i in range(20):
                _, s = self.timed_span(
                    "plans.registry", "Registry.update", reg.update,
                    lambda st, i=i: st.setdefault("probe", {}).update(
                        {str(i): i}))
                walls.append(s.wall_s)
        self.m["registry.commit_ms"] = 1e3 * statistics.median(walls)

    def query(self) -> None:
        authors = sorted({b["author"] for b in self.feed.live.values()})
        reads = [
            dict(key=authors[0], reduce=False),
            dict(startkey=authors[1], endkey=authors[9], limit=20,
                 reduce=False),
            dict(group=True, startkey=authors[0], endkey=authors[5]),
        ]
        self._reads = []
        with self.tr.op("query"):
            for _ in range(REPS):
                for o in reads:
                    with self.tr.span("operators.query", "read") as s:
                        res, p = self.timed_span(
                            "operators.query", "Engine.query",
                            self.eng.query, "p/by_author", stale="ok",
                            **o)
                        rows, x = self.timed_span(
                            "operators.query", "QueryResult.rows",
                            res.rows)
                    self._reads.append((s, p, x, max(1, len(rows))))
            _, self._docs = self.timed_span(
                "operators.query", "include_docs", lambda: self.eng
                .query("p/by_author", key=authors[0], reduce=False,
                       include_docs=True, stale="ok").rows())

    def reduce(self) -> None:
        """Each reduce over the same persisted base frame (type_lang:
        [type, lang] keys, numeric values)."""
        opts = options_from({"group": True}).validated(has_reduce=True)
        vdef, _ = self.eng._resolve("p/type_lang")
        entry = self.eng.registry.get_view(vdef.sig)
        base = self.spark.read.parquet(os.path.join(
            self.eng.registry.view_dir(vdef.sig), entry["base"]))
        with self.tr.op("reduce"):
            for kind, red in (("sum", "_sum"), ("count", "_count"),
                              ("stats", "_stats"),
                              ("js_custom", compile_js_reduce(
                                  CUSTOM_REDUCE))):
                _, s = self.median_span(
                    "operators.reduce", f"query_reduced.{kind}",
                    lambda: query_reduced(
                        base, opts, red,
                        value_hint=vdef.value_hint).collect(),
                    1 if kind == "js_custom" else REPS)
                self.m[f"reduce.rows_per_s.{kind}"] = \
                    entry["stats"]["rows"] / s.wall_s

    def dedup(self) -> None:
        docs = load_table(self.spark, self.sf, "documents")
        n = len(self.texts)
        with self.tr.op("dedup"):
            _, s = self.median_span(
                "extensions.dedup", "shingle_sets", lambda: _noop(
                    dedup.shingle_sets(docs)))
            self.m["dedup.shingle_docs_per_s"] = n / s.wall_s
            sets_ = dedup.shingle_sets(docs).persist()
            sets_.count()
            sigs = dedup.minhash_signatures_from_sets(
                sets_, with_sh=False).persist()
            _, s = self.timed_span("extensions.dedup", "signatures.noop",
                                   _noop, sigs)
            self.m["dedup.signature_docs_per_s"] = n / s.wall_s
            cands = dedup.minhash_pairs_from_sigs(
                sigs, 0.0, sets=sets_).persist()
            cand, _ = self.timed_span("extensions.dedup", "candidates",
                                      cands.count)
            # minhash_pairs_from_sigs(sigs, THRESHOLD) is this filter
            pairs = cands.filter(F.col("jaccard") >= THRESHOLD).persist()
            verified, _ = self.timed_span("extensions.dedup", "verified",
                                          pairs.count)
            _, cc = self.timed_span(
                "extensions.dedup", "connected_components", lambda: dedup
                .connected_components(pairs, "id_a", "id_b").collect())
            for f in (sets_, sigs, cands, pairs):
                f.unpersist()
        self.m["dedup.candidate_pairs"] = cand
        self.m["dedup.verified_pairs"] = verified
        self.m["dedup.candidate_precision"] = verified / max(1, cand)
        self._cc = cc

    def similarity(self) -> None:
        emb = load_table(self.spark, self.sf, "embeddings")
        nd = sim.normalized(emb).persist()
        nd.count()
        qs = [int(q) for q in np.random.default_rng(self.seed)
              .choice(VECTORS, 8, replace=False)]
        with self.tr.op("similarity"):
            _, topk = self.median_span(
                "extensions.similarity", "cosine_topk",
                lambda: sim.cosine_topk(emb, qs, 10, nd=nd).collect())
            rows, ivf = self.timed_span(
                "extensions.similarity", "ivf_topk",
                lambda: sim.ivf_topk(emb, qs, 10).collect())
        nd.unpersist()
        u = self.X.astype("float64")
        u /= np.linalg.norm(u, axis=1, keepdims=True)
        rec = []
        for q in qs:
            sims = u @ u[q]
            sims[q] = -np.inf
            exact = set(np.argsort(-sims)[:10].tolist())
            rec.append(len(exact & {int(r.vid) for r in rows
                                    if int(r.qid) == q}) / 10)
        self._sim = (topk, ivf)
        self.m["similarity.ivf_recall_at_10"] = float(np.mean(rec))

    # -- Spark-side numbers, after collect --------------------------------

    def spark_metrics(self) -> None:
        b, refresh = self._builds
        self.m["engine.build_jobs"] = b.jobs
        self.m["engine.build_shuffle_bytes"] = b.shuffle_bytes
        self.m["engine.refresh_ms"] = 1e3 * refresh.wall_s
        self.m["engine.refresh_jobs"] = refresh.jobs
        self.m["engine.refresh_rows_scanned_per_change"] = \
            refresh.scan_rows / FEED[1]
        reads = self._reads
        self.m["query.plan_ms"] = 1e3 * statistics.median(
            p.wall_s for _, p, _, _ in reads)
        self.m["query.exec_ms"] = 1e3 * statistics.median(
            x.wall_s for _, _, x, _ in reads)
        self.m["query.jobs_per_query"] = statistics.median(
            s.jobs for s, _, _, _ in reads)
        self.m["query.rows_scanned_per_row_returned"] = statistics.median(
            s.scan_rows / n for s, _, _, n in reads)
        self.m["query.attach_docs_ms"] = 1e3 * self._docs.wall_s
        self.m["dedup.cc_jobs"] = self._cc.jobs
        topk, ivf = self._sim
        self.m["similarity.topk_ms"] = 1e3 * topk.wall_s
        self.m["similarity.topk_shuffle_bytes"] = topk.shuffle_bytes
        self.m["similarity.ivf_ms"] = 1e3 * ivf.wall_s
        self.m["similarity.ivf_jobs"] = ivf.jobs

    def run(self) -> dict:
        self.inputs()
        for p in (self.sources, self.functions, self.encode, self.engine,
                  self.registry, self.query, self.reduce, self.dedup,
                  self.similarity):
            p()
        self.tr.collect(self.spark)
        self.spark_metrics()
        self.tr.dump(os.path.join(self.ctx.root, ".perfbench", "out",
                                  f"probes-s{self.seed}.json"),
                     extra={"metrics": self.m})
        return self.m


def probe(ctx) -> dict:
    return Probes(ctx).run()
