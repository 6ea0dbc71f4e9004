"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes the same rows.  Inputs are written with numpy and
pyarrow only (no Spark job), so generating them is cheap and never
lands inside a measured span.

- ``typed_tables``: the TPC-H-style star schema plus ``events``, in the
  column layout of FIXTURES.md (lineitem, orders, customer, part,
  events).
- ``ChangesFeed``: a CouchDB-style raw changes feed
  (``_id, _rev, _deleted, seq, doc_json``), appended one part file per
  batch.
- ``corpus`` / ``embeddings``: a text corpus with a stated share of
  token-perturbed near-duplicates, and clustered 64-d vectors.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "pale",
          "dark"]
NOUNS = ["ring", "widget", "bolt", "plate", "gear", "valve", "pipe",
         "spring"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


TYPED = ("customer", "part", "orders", "lineitem", "events")


def typed_tables(out_dir: str, seed: int, sf: float,
                 only=TYPED) -> dict[str, int]:
    """Write the typed tables named in ``only`` for scale factor ``sf``
    into ``out_dir`` (``<name>.parquet``); returns {table: rows}.  Every
    table is drawn either way, so a subset holds the same rows.

    Sizes follow TPC-H ratios: orders = 1.5M·sf, lineitem ≈ 4 lines per
    order (unique (l_orderkey, l_linenumber)), customer = 150k·sf,
    part = 200k·sf, events = 1M·sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))

    def put(table: pa.Table, path: str) -> None:
        if os.path.basename(path).split(".")[0] in only:
            pq.write_table(table, path)

    put(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, len(SEGMENTS), n_cust)],
    }), f"{out_dir}/customer.parquet")

    put(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), n_part),
            rng.integers(0, len(NOUNS), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, len(TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1,
                                  2),
    }), f"{out_dir}/part.parquet")

    odate = EPOCH_1992_US + rng.integers(0, 3650, n_ord) * DAY_US
    put(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, len(PRIORITIES), n_ord)],
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(n_li) - starts + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    status = rng.integers(0, 2, n_li)
    flag = np.where(status == 0, rng.integers(0, 2, n_li) * 2, 1)
    put(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li),
                                    2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flag],
        "l_linestatus": [("F", "O")[i] for i in status],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)
                          * DAY_US),
    }), f"{out_dir}/lineitem.parquet")

    gaps = rng.integers(1, 400_000_000, n_ev)  # µs between events
    put(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in
                       rng.integers(0, len(EVENT_TYPES), n_ev)],
        "value": np.round(rng.uniform(0, 20, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    return {"customer": n_cust, "part": n_part, "orders": n_ord,
            "lineitem": n_li, "events": n_ev}


# ---------------------------------------------------------------------------
# raw changes feed
# ---------------------------------------------------------------------------

FEED_TYPES = ["post", "comment", "page"]
FEED_LANGS = ["en", "fr", "de", "es", "zh"]
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
         "theta", "lambda", "zeta"]


@dataclass
class ChangesFeed:
    """A CouchDB-style changes feed written as parquet part files under
    ``<sf_dir>/<name>.parquet/``.

    ``initial`` writes the first ``n_docs`` live docs; each ``batch``
    appends one part file of ``size`` changes: ``new_share`` brand-new
    ids, ``delete_share`` deletions of live ids and the rest updates of
    live ids (new ``_rev``, new field values).  ``live`` mirrors the
    feed's final state, id → body, for the output checks."""

    sf_dir: str
    name: str
    seed: int
    new_share: float = 0.5
    delete_share: float = 0.1
    live: dict[str, dict] = field(default_factory=dict)
    seq: int = 0
    next_id: int = 0
    parts: int = 0
    bytes_written: int = 0

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.dir = f"{self.sf_dir}/{self.name}.parquet"
        os.makedirs(self.dir, exist_ok=True)

    def _body(self, did: str, rev: int) -> dict:
        r = self.rng
        return {
            "_id": did,
            "_rev": f"{rev}-{int(r.integers(1 << 62)):016x}",
            "type": FEED_TYPES[int(r.integers(len(FEED_TYPES)))],
            "lang": FEED_LANGS[int(r.zipf(1.6)) % len(FEED_LANGS)],
            "score": float(np.round(r.uniform(0, 10), 2)),
            "n": int(r.integers(0, 1000)),
            "author": f"u{int(r.zipf(1.4)) % 200:03d}",
            "title": " ".join(WORDS[i] for i in r.integers(0, 10, 3)),
        }

    def _write_part(self, rows: list[dict]) -> int:
        path = f"{self.dir}/part-{self.parts:05d}.parquet"
        self.parts += 1
        t = pa.table({
            "_id": [r["_id"] for r in rows],
            "_rev": [r["_rev"] for r in rows],
            "_deleted": [r["_deleted"] for r in rows],
            "seq": pa.array([r["seq"] for r in rows], pa.int64()),
            "doc_json": [r["doc_json"] for r in rows],
        })
        n = _write(t, path)
        self.bytes_written += n
        return n

    def _row(self, body: dict, deleted: bool) -> dict:
        self.seq += 1
        return {"_id": body["_id"], "_rev": body["_rev"],
                "_deleted": deleted, "seq": self.seq,
                "doc_json": json.dumps(body, separators=(",", ":"))}

    def _new(self) -> dict:
        did = f"doc-{self.next_id:07d}"
        self.next_id += 1
        body = self._body(did, 1)
        self.live[did] = body
        return self._row(body, False)

    def initial(self, n_docs: int) -> int:
        """Write the first part; returns its bytes."""
        return self._write_part([self._new() for _ in range(n_docs)])

    def batch(self, size: int) -> int:
        """Append one changes batch; returns its bytes."""
        n_new = int(round(size * self.new_share))
        n_del = int(round(size * self.delete_share))
        n_upd = size - n_new - n_del
        ids = sorted(self.live)
        pick = self.rng.choice(len(ids), min(len(ids), n_upd + n_del),
                               replace=False)
        rows = []
        for j, p in enumerate(pick):
            did = ids[int(p)]
            rev = int(self.live[did]["_rev"].split("-")[0]) + 1
            if j < n_upd:
                body = self._body(did, rev)
                self.live[did] = body
                rows.append(self._row(body, False))
            else:
                body = {"_id": did, "_rev": f"{rev}-deleted",
                        "_deleted": True}
                del self.live[did]
                rows.append(self._row(body, True))
        rows += [self._new() for _ in range(n_new)]
        return self._write_part(rows)

    def live_bytes(self) -> int:
        return sum(len(json.dumps(b, separators=(",", ":")))
                   for b in self.live.values())


# ---------------------------------------------------------------------------
# curation corpus and vectors
# ---------------------------------------------------------------------------

def corpus(out_dir: str, seed: int, n_docs: int, dup_share: float,
           vocab: int = 400) -> dict:
    """Write ``documents.parquet`` (doc_id, text, quality): word docs
    of 30–60 tokens drawn zipf-skewed from a ``vocab``-word vocabulary;
    ``dup_share`` of the docs are copies of an earlier doc with one or
    two token positions replaced (token-perturbed near-duplicates).
    Returns {doc_id: text} for the output checks."""
    rng = np.random.default_rng(seed)
    words = [f"w{i:03d}" for i in range(vocab)]
    texts: list[str] = []
    n_dup = int(n_docs * dup_share)
    dup_at = set(rng.choice(np.arange(1, n_docs), n_dup, replace=False)
                 .tolist())
    for i in range(n_docs):
        if i in dup_at:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for pos in rng.choice(len(toks), int(rng.integers(1, 3)),
                                  replace=False):
                toks[int(pos)] = words[int(rng.integers(vocab))]
        else:
            toks = [words[int(z) % vocab] for z in
                    rng.zipf(1.3, int(rng.integers(30, 61)))]
        texts.append(" ".join(toks))
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "quality": np.round(rng.uniform(0, 1, n_docs), 4),
    }), f"{out_dir}/documents.parquet")
    return dict(enumerate(texts))


def embeddings(out_dir: str, seed: int, n: int, dim: int = 64,
               centers: int = 32) -> np.ndarray:
    """Write ``embeddings.parquet`` (vec_id, embedding float[dim],
    label): gaussian blobs around ``centers`` random directions, so an
    IVF partition has real cluster structure.  Returns the matrix."""
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(centers, dim))
    label = rng.integers(0, centers, n)
    x = (c[label] + rng.normal(scale=0.6, size=(n, dim))).astype(
        "float32")
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
    return x
