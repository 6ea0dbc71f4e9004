"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve_reads --seed 1 \\
        --seconds 8 --trace 0

Run it from the root of a source checkout: the engine is imported from
``./mapreduce_spark`` and every file the run writes lands under
``./.perfbench/`` (inputs, stores and Spark scratch in a per-run work
directory that is removed at exit; results and traces in ``out/``).

``--trace 0`` prints the end-to-end metrics declared in BENCHMARK.json;
``--trace 1`` runs the same workload with spans around every call into
an engine layer, then the layer probes (``layers.py``), and prints the
per-layer metrics.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
``--scale tiny`` shrinks every input for a smoke run (``smoke.py``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_reads", "ingest_refresh", "curate_corpus")


@dataclass
class Context:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    scale: str
    tracer: object
    tally: object


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def declared(root: str, trace: bool) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "mapreduce_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        print("perfbench: run from the root of a source checkout "
              "(./mapreduce_spark and ./BENCHMARK.json are missing)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from common import Tally, environment, session, stop_session
    from spans import Tracer

    units = declared(root, bool(args.trace))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    t_start = time.perf_counter()
    spark = session(root, work)
    try:
        ctx = Context(spark, root, work, args.seed, args.seconds,
                      args.scale, Tracer(bool(args.trace)), Tally())
        env = environment(spark, root, args.seed, args.scale)
        print("env " + json.dumps(env), flush=True)
        wl = importlib.import_module(args.workload).WORKLOAD(ctx)
        e2e = wl.run()
        report = {"workload": args.workload, "env": env,
                  "end_to_end": e2e, "extra": wl.extra,
                  "failures": ctx.tally.notes}
        if args.trace:
            import layers

            ctx.tracer.collect(spark)
            metrics = layers.probe(ctx)
            report["per_layer"] = metrics
            report["layers"] = ctx.tracer.layer_table()
            ctx.tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-"
                                      f"s{args.seed}.json"),
                extra={k: report[k] for k in ("env", "end_to_end",
                                              "extra", "per_layer")},
            )
            _print_layers(report["layers"], wl.extra)
        else:
            metrics = e2e
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    report["wall_s"] = time.perf_counter() - t_start
    with open(os.path.join(out_dir, f"result-{args.workload}-s{args.seed}"
                                    f"-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    missing = [n for n in units
               if not isinstance(metrics.get(n), (int, float))
               or not math.isfinite(metrics[n])]
    if missing:
        print(f"perfbench: metrics not measured: {missing}",
              file=sys.stderr)
        return 1
    tally = ctx.tally
    for note in tally.notes:
        print(f"check failed: {note}", file=sys.stderr)
    print("extra " + json.dumps(wl.extra, default=str), flush=True)
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }), flush=True)
    return 0


def _print_layers(table: dict, extra: dict) -> None:
    print(f"{'layer':<20}{'calls':>7}{'wall_s':>9}{'self_s':>9}"
          f"{'cpu_s':>8}{'jobs':>6}{'shuffle_B':>11}{'wait_s':>8}"
          f"{'fail':>5}")
    for name, d in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:<20}{d['count']:>7}{d['wall_s']:>9.3f}"
              f"{d['self_s']:>9.3f}{d['cpu_s']:>8.2f}{d['jobs']:>6}"
              f"{d['shuffle_bytes']:>11}{d['wait_s']:>8.3f}"
              f"{d['failures']:>5}")
    if "tracing_overhead_pct" in extra:
        print(f"tracing overhead: {extra['tracing_overhead_pct']:+.1f}% "
              "(traced vs untraced reads of each shape)")


if __name__ == "__main__":
    sys.exit(main())
