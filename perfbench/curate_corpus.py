"""curate_corpus: a training-data curation job plus ANN serving.

A seeded word corpus with a stated share of token-perturbed
near-duplicates and a set of clustered 64-d vectors are written once;
a set-up loads them.  The measured build is the curation pass — ``minhash_lsh_pairs``, then
``duplicate_clusters``, then ``cluster_representatives`` written out —
and an IVF index build written as a bundle.  The loop then serves ANN
queries (``ivf_topk`` against the bundle, exact ``cosine_topk``) with
zipf-skewed query ids; before each round a batch of new vectors lands
with ``ivf_append`` and a query must find them (the freshness sample),
and ``ivf_compact`` closes the run.  No view-engine layer runs here.

Checks: every reported pair has exact Jaccard ≥ the threshold, the
clusters are the connected components of the pairs, each cluster keeps
exactly its best-quality member, exact top-k equals a numpy top-k, and
every IVF answer carries exact cosines in rank order.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import WriteMeter, tree_bytes
from datagen import corpus, embeddings
from loop import Shape, Workload, zipf_pick
from mapreduce_spark.extensions import dedup
from mapreduce_spark.extensions import similarity as sim
from mapreduce_spark.sources.docs import load_table
from pyspark import StorageLevel

# docs, near-dup share, vectors, vectors landed per round
SIZES = {"full": (400, 0.2, 1000, 50), "tiny": (200, 0.2, 400, 20)}
THRESHOLD = 0.7
K = 10
N_QUERY_IDS = 64


def _shingles(text: str, n: int = 3) -> set:
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


class CurateCorpus(Workload):
    name = "curate_corpus"

    rounds = {"full": 2, "tiny": 1}

    def prepare(self) -> None:
        n_docs, dup, n_vec, self.land = SIZES[self.scale]
        self.sf_dir = f"{self.work}/sf"
        self.texts = corpus(self.sf_dir, self.seed, n_docs, dup)
        self.X = embeddings(self.sf_dir, self.seed + 1, n_vec)
        qrng = np.random.default_rng(self.seed + 2)
        self.qids = [int(q) for q in
                     qrng.choice(n_vec, N_QUERY_IDS, replace=False)]

    def setup_once(self, k: int) -> None:
        os.makedirs(f"{self.work}/store{k}", exist_ok=True)
        with self.tracer.span("sources", "load_table"):
            self.docs = load_table(self.spark, self.sf_dir, "documents")
            self.emb = load_table(self.spark, self.sf_dir, "embeddings")

    def source_bytes(self) -> int:
        return sum(tree_bytes(f"{self.sf_dir}/{t}.parquet")
                   for t in ("documents", "embeddings", "landed"))

    def build(self, k: int) -> dict:
        self.store = f"{self.work}/store{k}"
        tr = self.tracer
        with WriteMeter(self.store) as wm:
            t = time.perf_counter()
            with tr.span("extensions.dedup", "minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(self.docs, THRESHOLD) \
                    .persist(StorageLevel.MEMORY_AND_DISK)
                self.pairs = [tuple(r) for r in pairs.collect()]
            with tr.span("extensions.dedup", "duplicate_clusters"):
                labels = dedup.duplicate_clusters(self.docs, THRESHOLD,
                                                  pairs=pairs)
            with tr.span("extensions.dedup", "cluster_representatives"):
                dedup.cluster_representatives(
                    labels, self.docs.select("doc_id", "quality")
                ).write.mode("overwrite").parquet(f"{self.store}/reps")
            pairs.unpersist()
            with tr.span("extensions.similarity", "ivf_index"):
                idx, cents = sim.ivf_index(self.emb)
                sim.write_ivf_index(idx, cents, f"{self.store}/ivf")
            build_s = time.perf_counter() - t
        self.ivf = sim.read_ivf_index(self.spark, f"{self.store}/ivf")
        if getattr(self, "nd", None) is not None:
            self.nd.unpersist()
        self.nd = sim.normalized(self.emb).persist()
        self.wm = WriteMeter(self.store)
        self.fresh_ms: list[float] = []
        self.fresh_ok: list[bool] = []
        return {"docs": len(self.texts) + len(self.X), "build_s": build_s,
                "written": wm.bytes}

    # -- ANN query shapes ---------------------------------------------------

    def shapes(self) -> list[Shape]:
        tr = self.tracer
        qids = self.qids

        def topk_rows(df) -> list:
            return sorted((int(r.qid), int(r.vid), float(r.cosine),
                           int(r.rank)) for r in df.collect())

        def ivf_point(q):
            with tr.span("extensions.similarity", "ivf_topk"):
                return topk_rows(sim.ivf_topk(
                    None, None, K, index=self.ivf,
                    query_vectors={q: self.X[q].tolist()}))

        def ivf_batch(qs):
            with tr.span("extensions.similarity", "ivf_topk"):
                return topk_rows(sim.ivf_topk(None, qs, K,
                                              index=self.ivf))

        def exact(q):
            with tr.span("extensions.similarity", "cosine_topk"):
                return topk_rows(sim.cosine_topk(self.emb, [q], K,
                                                 nd=self.nd))

        def pick(rng):
            return qids[zipf_pick(rng, len(qids))]

        def seen(fn):
            # (vectors served when the query ran, query params)
            return lambda rng: (len(self.X), fn(rng))

        return [
            Shape("ivf_point", seen(pick), lambda p: ivf_point(p[1]),
                  lambda p: ("ann", p[0], [p[1]])),
            Shape("ivf_batch",
                  seen(lambda rng: sorted({pick(rng) for _ in range(8)})),
                  lambda p: ivf_batch(p[1]),
                  lambda p: ("ann", p[0], p[1])),
            Shape("exact_topk", seen(pick), lambda p: exact(p[1]),
                  lambda p: ("exact", p[0], [p[1]])),
        ]

    def _unit(self, n: int) -> np.ndarray:
        x = self.X[:n].astype("float64")
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    def check(self, shape: Shape, params, got) -> bool:
        kind, n, qs = shape.oracle(params)
        u = self._unit(n)
        self_excluded = shape.name != "ivf_point"
        for q in qs:
            rows = [r for r in got if r[0] == q]
            sims = u @ u[q]
            if self_excluded:
                sims[q] = -np.inf
            if [r[3] for r in sorted(rows, key=lambda r: r[3])] != \
                    list(range(1, len(rows) + 1)) or len(rows) > K:
                return False
            for _, vid, cos, _ in rows:
                if abs(cos - sims[vid]) > 1e-5:
                    return False
            if kind == "exact":
                # equal to numpy's top-k up to float ties
                kth = np.sort(sims)[-K]
                got_ids = {r[1] for r in rows}
                if len(rows) != K or any(sims[v] < kth - 1e-6
                                         for v in got_ids):
                    return False
        return True

    def recall_at_k(self) -> float:
        """Mean recall@K of the IVF answers against the exact top-K."""
        rec = []
        for s in self.samples:
            if s.rows is None or not s.shape.name.startswith("ivf"):
                continue
            _, n, qs = s.shape.oracle(s.params)
            u = self._unit(n)
            for q in qs:
                sims = u @ u[q]
                if s.shape.name == "ivf_batch":
                    sims[q] = -np.inf
                exact = set(np.argsort(-sims)[:K].tolist())
                got = {r[1] for r in s.rows if r[0] == q}
                rec.append(len(exact & got) / K)
        return float(np.mean(rec)) if rec else 0.0

    # -- writes before each round ---------------------------------------------

    def before_round(self, rnd: int) -> None:
        """A batch of new vectors lands; a query must find them."""
        tr = self.tracer
        rng = np.random.default_rng([self.seed, rnd])
        base = len(self.X)
        new = (self.X[rng.choice(base, self.land)]
               + rng.normal(scale=0.05, size=(self.land, self.X.shape[1]))
               ).astype("float32")
        ids = np.arange(base, base + self.land)
        path = f"{self.sf_dir}/landed.parquet"
        os.makedirs(path, exist_ok=True)
        with tr.op("land", rnd=rnd):
            t = time.perf_counter()
            pq.write_table(pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(new), pa.list_(pa.float32())),
            }), f"{path}/part-{rnd:05d}.parquet")
            batch = self.spark.read.parquet(
                f"{path}/part-{rnd:05d}.parquet")
            with self.wm, tr.span("extensions.similarity", "ivf_append"):
                sim.ivf_append(f"{self.store}/ivf", batch)
            self.ivf = sim.read_ivf_index(self.spark,
                                          f"{self.store}/ivf")
            q = int(ids[0])
            with tr.span("extensions.similarity", "ivf_topk"):
                rows = sim.ivf_topk(None, None, K, index=self.ivf,
                                    query_vectors={q: new[0].tolist()}
                                    ).collect()
            self.fresh_ms.append((time.perf_counter() - t) * 1e3)
        self.fresh_ok.append(any(int(r.vid) == q and int(r.rank) == 1
                                 for r in rows))
        self.X = np.vstack([self.X, new])
        self.emb = self.emb.unionByName(batch.select(
            "vec_id", "embedding"), allowMissingColumns=True)
        self.nd.unpersist()
        self.nd = sim.normalized(self.emb).persist()

    def loop(self, m: dict) -> None:
        super().loop(m)
        m["freshness_p50_ms"] = float(np.median(self.fresh_ms))
        self.extra["ivf_recall_at_10"] = self.recall_at_k()
        self.extra["pairs"] = len(self.pairs)

    def maintain(self, m: dict) -> None:
        with self.wm, self.tracer.op("compact"), \
                self.tracer.span("extensions.similarity", "ivf_compact"):
            t = time.perf_counter()
            sim.ivf_compact(self.spark, f"{self.store}/ivf")
            m["compact_s"] = time.perf_counter() - t
        m["write_amp"] = (self.build_written + self.wm.bytes) \
            / self.source_bytes()

    def finish(self, m: dict) -> None:
        m["space_amp"] = tree_bytes(self.store) / self.source_bytes()

    # -- curation checks --------------------------------------------------------

    def verify(self) -> None:
        sh = {i: _shingles(t) for i, t in self.texts.items()}
        bad = 0
        for a, b, jac in self.pairs:
            exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            bad += exact < THRESHOLD or abs(exact - jac) > 1e-9
        self.tally.record(bad == 0, f"{bad} pairs below the threshold")
        # clusters = connected components of the pairs, labelled by min id
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in self.pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        reps = pq.read_table(f"{self.store}/reps").to_pylist()
        labels = {r["doc_id"]: r["cluster_id"] for r in reps}
        exp = {x: find(x) for x in parent}
        self.tally.record(labels == exp, "clusters differ from the "
                                         "connected components")
        quality = pq.read_table(f"{self.sf_dir}/documents.parquet",
                                columns=["doc_id", "quality"]).to_pydict()
        qual = dict(zip(quality["doc_id"], quality["quality"]))
        best: dict[int, int] = {}
        for d, c in exp.items():
            cur = best.get(c)
            if cur is None or (qual[d], -d) > (qual[cur], -cur):
                best[c] = d
        kept = {r["cluster_id"]: r["doc_id"] for r in reps if r["keep"]}
        self.tally.record(kept == best and sum(r["keep"] for r in reps)
                          == len(best), "representatives differ")
        for ok in self.fresh_ok:
            self.tally.record(ok, "landed vector not served")


WORKLOAD = CurateCorpus
