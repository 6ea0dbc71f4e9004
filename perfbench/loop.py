"""The workload skeleton every workload module fills in.

A run is: the seeded inputs, written once and not timed; ``setups``
set-ups (register the inputs, construct an Engine on a fresh store, put
the design; the median is ``setup_s``, the first one also pays the
JVM's warm-up); ``BUILDS`` cold builds into fresh stores (the last one
is timed and serves the rest of the run); a closed loop
with one client; the workload's own maintenance ops; the output checks.
A traced run reports no end-to-end numbers and must leave time for the
layer probes, so it sets up and builds once.

The loop issues a fixed number of *rounds* per workload (``rounds``):
each starts with the workload's writes (``before_round``), then issues
every read shape its weight's number of times, in a seeded order, with
zipf-skewed keys.  Two warm-up passes (every shape once, checked, not
timed) come first: one before the first round's writes and one after
them, so the timed reads neither pay a shape's first use nor the first
use of the state the writes leave (merge-on-read at depth).  The JVM is
still compiling hot code for tens of seconds after a cold start; reads
taken on that slope measure how much CPU the compiler got.  The work a
run does is the same whatever the speed of the program.  ``--seconds``
is a floor: when the fixed rounds end sooner, read-only rounds fill the
window.  They add read samples but no writes, and their CPU is left out
of ``cpu_s``, so ``cpu_s`` and the storage ratios always cover the same
work.

Timings are taken in seconds (kept in the result file under ``raw``)
and reported in units of a reference Spark job (``common.RefClock``)
marked between the phases: before the timed build, before each fixed
round, before the timed reads of the first one, after the last one and
after the maintenance ops.  The build is divided by the mean of the two
marks around it; the reads, the freshness samples and the compaction by
the median of the marks from the first round on.  ``setup_s`` and
``cpu_s`` (the reference jobs' CPU left out) stay in seconds.

In a traced run, the reads of each shape alternate between tracing on
and off; the median per-shape latency ratio is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from common import RefClock, RssSampler, pctl, timed, tree_cpu_s

BUILDS = 2  # cold builds per run; the first one also warms the JVM


def zipf_pick(rng: np.random.Generator, n: int, a: float = 1.3) -> int:
    """Index in [0, n): zipf-skewed, hottest first."""
    return int(rng.zipf(a) - 1) % n


@dataclass
class Shape:
    name: str
    pick: Callable[[np.random.Generator], Any]
    run: Callable[[Any], list]
    oracle: Callable[[Any], list]
    fresh: bool = False  # a stale=false read: counts as freshness
    weight: int = 1  # times issued per round


@dataclass
class Sample:
    shape: Shape
    params: Any
    rows: Any
    latency_s: float
    traced: bool
    warmup: bool = False
    error: str | None = None


class Workload:
    name = ""
    rounds = {"full": 3, "tiny": 1}  # fixed rounds per run, by scale
    setups = 3  # set-ups per run; setup_s is their median

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.seed = ctx.seed
        self.scale = ctx.scale
        self.tracer = ctx.tracer
        self.tally = ctx.tally
        self.rng = np.random.default_rng(ctx.seed)
        self.samples: list[Sample] = []
        self.extra: dict = {}
        self.engines: dict = {}  # store index → Engine, from setup_once

    # -- hooks ---------------------------------------------------------

    def prepare(self) -> None:
        """Write the seeded inputs (once per run, not timed)."""
        raise NotImplementedError

    def setup_once(self, k: int) -> None:
        """Make store ``k`` ready to build: register the inputs, put the
        design (compiling its functions)."""
        raise NotImplementedError

    def build(self, k: int) -> dict:
        """Cold build into store ``k``: {docs, build_s, written}.  The
        last store built serves the rest of the run."""
        raise NotImplementedError

    def shapes(self) -> list[Shape]:
        raise NotImplementedError

    def maintain(self, m: dict) -> None:
        """Workload ops after the loop (compaction, …)."""

    def check(self, shape: Shape, params, got) -> bool:
        raise NotImplementedError

    def verify(self) -> None:
        """End-of-run checks beyond the per-read ones."""

    def finish(self, m: dict) -> None:
        """Storage metrics at the end of the run."""

    # -- helpers -------------------------------------------------------

    def duck(self, sf_dir: str, tables) -> Any:
        import duckdb

        con = duckdb.connect()
        for t in tables:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                path += "/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        return con

    def query(self, view: str, stale: str | None = "ok", **opts) -> list:
        """One view read: the lazy Engine.query call (plan) and the
        collect (exec) are separate spans."""
        if stale is not None:
            opts["stale"] = stale
        with self.tracer.span("operators.query", "Engine.query"):
            res = self.eng.query(view, **opts)
        with self.tracer.span("operators.query", "QueryResult.rows"):
            return res.rows()

    # -- the run -------------------------------------------------------

    def run(self) -> dict:
        self.prepare()
        rss = RssSampler().start()
        cpu0 = tree_cpu_s()
        phase = self.extra["phase_s"] = {}
        t = time.perf_counter()
        walls = []
        once = self.tracer.enabled_by_run
        for k in range(1 if once else self.setups):
            with self.tracer.op("setup", k=k):
                walls.append(timed(self.setup_once, k)[1])
        m = {"setup_s": statistics.median(walls)}
        self.extra["setup_walls_s"] = walls
        phase["setup"] = time.perf_counter() - t
        self.ref = RefClock(self.spark)
        t = time.perf_counter()
        builds = 1 if once else BUILDS
        for k in range(builds):
            if k == builds - 1:
                self.ref.mark()
            with self.tracer.op("build", k=k):
                b = self.build(k)
        m["build_docs_per_s"] = b["docs"] / b["build_s"]
        self.build_written = b["written"]
        phase["build"] = time.perf_counter() - t
        t = time.perf_counter()
        self.loop(m)
        phase["loop"] = time.perf_counter() - t
        t = time.perf_counter()
        self.maintain(m)
        phase["maintain"] = time.perf_counter() - t
        self.ref.mark()
        m["cpu_s"] = (tree_cpu_s() - cpu0 - self.floor_cpu_s
                      - self.ref.cpu_s)
        m["peak_rss_mb"] = rss.stop()
        self.finish(m)
        self.extra["raw"] = dict(m)
        marks = self.extra["ref_marks_s"] = self.ref.marks
        # the timed build lies between the first two marks; the loop and
        # the maintenance ops between the second and the last
        ref_build = (marks[0] + marks[1]) / 2
        ref = statistics.median(marks[1:])
        m = {
            "setup_s": m["setup_s"],
            "build_docs_per_ref": m["build_docs_per_s"] * ref_build,
            "query_p50_ref": m["query_p50_ms"] / 1e3 / ref,
            "query_p90_ref": m["query_p90_ms"] / 1e3 / ref,
            "queries_per_ref": m["queries_per_s"] * ref,
            "freshness_p50_ref": m["freshness_p50_ms"] / 1e3 / ref,
            "compact_ref": m["compact_s"] / ref,
            "write_amp": m["write_amp"],
            "space_amp": m["space_amp"],
            "cpu_s": m["cpu_s"],
            "peak_rss_mb": m["peak_rss_mb"],
        }
        t = time.perf_counter()
        self.verify()
        for s in self.samples:
            ok = s.error is None and self.checked(s)
            self.tally.record(ok, f"{s.shape.name} {s.params!r} "
                                  f"{s.error or ''}"[:300])
        phase["checks"] = time.perf_counter() - t
        return m

    def checked(self, s: Sample) -> bool:
        try:
            return self.check(s.shape, s.params, s.rows)
        except Exception as e:  # a failing oracle is a failed check
            s.error = f"check raised {e!r}"
            return False

    def loop(self, m: dict) -> None:
        shapes = self.shapes()
        self.warm_up(shapes)
        deck = [sh for sh in shapes for _ in range(sh.weight)]
        issued: dict[str, int] = {}
        t0 = time.perf_counter()
        rounds = self.rounds[self.scale]
        for rnd in range(rounds):
            self.ref.mark()
            self.before_round(rnd)
            if rnd == 0:
                self.warm_up(shapes)
                self.ref.mark()
            self.read_round(deck, issued)
        self.ref.mark()
        cpu = tree_cpu_s()
        floor = 0
        while time.perf_counter() - t0 < self.ctx.seconds:
            self.read_round(deck, issued)
            floor += 1
        self.floor_cpu_s = tree_cpu_s() - cpu
        self.extra["floor_rounds"] = floor
        self.summarize(m, rounds)

    def warm_up(self, shapes: list[Shape]) -> None:
        """Every shape once, checked but not timed into the metrics
        (first-use planning, codegen and JIT compilation)."""
        for sh in shapes:
            self.samples.append(self.issue(sh, sh.pick(self.rng), False))
            self.samples[-1].warmup = True

    def read_round(self, deck: list[Shape], issued: dict) -> None:
        for i in self.rng.permutation(len(deck)):
            sh = deck[int(i)]
            params = sh.pick(self.rng)
            # a traced run records every other read of each shape, so
            # the overhead compares like with like
            k = issued[sh.name] = issued.get(sh.name, -1) + 1
            traced = self.tracer.enabled_by_run and k % 2 == 0
            self.tracer.enabled = traced
            self.samples.append(self.issue(sh, params, traced))
            self.tracer.enabled = self.tracer.enabled_by_run

    def before_round(self, rnd: int) -> None:
        """Hook for workloads that write before each read round."""

    def issue(self, sh: Shape, params, traced: bool) -> Sample:
        with self.tracer.op(sh.name):
            t = time.perf_counter()
            try:
                rows, err = sh.run(params), None
            except Exception as e:
                rows, err = None, repr(e)[:300]
            return Sample(sh, params, rows, time.perf_counter() - t,
                          traced, err)

    def summarize(self, m: dict, rounds: int) -> None:
        timed_ = [s for s in self.samples if not s.warmup]
        stale = [s.latency_s * 1e3 for s in timed_ if not s.shape.fresh]
        fresh = [s.latency_s * 1e3 for s in timed_ if s.shape.fresh]
        m["query_p50_ms"] = statistics.median(stale)
        m["query_p90_ms"] = pctl(stale, 90)
        # one client: reads per second of time spent reading
        m["queries_per_s"] = 1e3 * len(stale) / sum(stale)
        if fresh:
            m["freshness_p50_ms"] = statistics.median(fresh)
        self.extra["rounds"] = rounds
        self.extra["reads"] = len(stale)
        self.extra["per_shape_p50_ms"] = {
            sh: statistics.median(
                s.latency_s * 1e3 for s in timed_ if s.shape.name == sh)
            for sh in dict.fromkeys(s.shape.name for s in timed_)
        }
        self.extra["warmup_ms"] = [(s.shape.name, s.latency_s * 1e3)
                                   for s in self.samples if s.warmup]
        self.extra["samples_ms"] = [(s.shape.name, s.latency_s * 1e3)
                                    for s in timed_]
        if self.tracer.enabled_by_run:
            ratios = []
            for sh in {s.shape.name for s in timed_}:
                on = [s.latency_s for s in timed_
                      if s.shape.name == sh and s.traced]
                off = [s.latency_s for s in timed_
                       if s.shape.name == sh and not s.traced]
                if on and off:
                    ratios.append(statistics.mean(on) / statistics.mean(off))
            if ratios:
                self.extra["tracing_overhead_pct"] = 100 * (
                    statistics.median(ratios) - 1)
