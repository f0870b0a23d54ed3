"""End-to-end benchmark of the fulltext engine.

    python3 benchmark/run.py --workload build|search --seed N --seconds S --trace 0|1

Run from the root of a checkout. One single-threaded client in this process
calls the package's public functions against Spark ``local[nproc]`` in a
closed loop: each op starts when the previous one has returned. Every
answer is checked against an independent oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric of BENCHMARK.json, or
with ``--trace 1`` every per-layer metric, as {value, unit}). The line
before it carries sample counts, host facts and the run's settings.
Logs go to stderr. All scratch files live under ``.bench_work/`` in the
checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def warm_up(bench, oplog) -> list[dict]:
    """Run one op of every kind, then one cycle, untimed and checked.
    Returns each round's wall, summed op wall and per-kind median walls, to
    compare with the timed cycles'."""
    from benchmark.oplog import log
    from benchmark.workload import CYCLE

    rounds = []
    for n, kinds in enumerate((tuple(dict.fromkeys(CYCLE)), CYCLE)):
        oplog.warm.clear()
        wall = bench.cycle(n, "warm", kinds)
        bench.check_merge = False  # once per run is enough
        cur = {k: statistics.median(x["wall"] for x in xs) for k, xs in oplog.warm.items()}
        ops = sum(x["wall"] for xs in oplog.warm.values() for x in xs)
        rounds.append({"wall": wall, "ops": ops, **cur})
        log(f"warm-up round {n}: {wall:.2f}s, ops {ops:.2f}s " +
            " ".join(f"{k}={v:.3f}" for k, v in sorted(cur.items())))
    return rounds


def cycle_medians(oplog) -> dict[str, list[float]]:
    """Median wall of each op kind in each timed cycle, to show a trend."""
    out = {}
    for kind, xs in sorted(oplog.samples.items()):
        by_cycle: dict[int, list[float]] = {}
        for x in xs:
            by_cycle.setdefault(x["cycle"], []).append(x["wall"])
        out[kind] = [round(statistics.median(by_cycle[c]), 4) for c in sorted(by_cycle)]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from benchmark import host, sparkenv
    from benchmark.oplog import OpLog, log
    from benchmark.workload import CYCLE_S, PLANS, Bench, e2e_metrics

    if args.workload not in PLANS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(PLANS)}")
        return 2
    try:
        import elasticsearch_spark
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if not os.path.abspath(elasticsearch_spark.__file__).startswith(ROOT + os.sep):
        log(f"the engine imports from {elasticsearch_spark.__file__}, not from {ROOT}")
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = sparkenv.start(ROOT, work, cores)
        tracer = sparkenv.Tracer(spark, cores) if args.trace else None
        oplog = OpLog()
        bench = Bench(spark, work, PLANS[args.workload], args.seed, oplog)
        bench.setup()
        log(f"set up at {process_age_s():.1f}s")
        # the client's own heap (pages, oracle tables) stays out of the
        # cyclic collector, which would otherwise walk it during ops
        gc.collect()
        gc.freeze()
        warm = warm_up(bench, oplog)
        gc.collect()
        gc.freeze()

        oplog.timing = True
        bench.check_merge = False
        if args.trace:
            bench.probe_dir = os.path.join(work, "pre-merge")
        setup_s = process_age_s()
        before = host.stall_counters()
        # a fixed number of cycles, so that every run executes the same op
        # sequence; --seconds sets how many
        cycles = max(2, round(args.seconds / CYCLE_S))
        t0 = time.perf_counter()
        for n in range(cycles):
            # traced runs alternate untraced and traced cycles, so the trace
            # overhead is measured within the run
            oplog.cycle = n
            oplog.traced = bool(args.trace) and n % 2 == 1
            bench.tracer = tracer if oplog.traced else None
            log(f"cycle {n}: {bench.cycle(n, 'timed'):.2f}s")
        loop_s = time.perf_counter() - t0
        log("timed loop done")
        after = host.stall_counters()
        bench.tracer = None

        e2e = e2e_metrics(oplog, setup_s)
        if args.trace:
            from benchmark import layers

            per_layer = layers.measure(bench, tracer, oplog, work)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        else:
            metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in e2e.items()}
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "cycles": cycles, "loop_s": round(loop_s, 3),
            "warm_up": [{k: round(v, 4) for k, v in r.items()} for r in warm],
            "cycle_medians_s": cycle_medians(oplog),
            "samples": {k: m["n"] for k, m in e2e.items()},
            "end_to_end": {k: m["value"] for k, m in e2e.items()},
            "host": host.facts(spark, before, after),
            "problems": oplog.problems[:20],
        }
        print(json.dumps({"detail": detail}), flush=True)
        print(json.dumps({
            "correct": oplog.correct, "attempted": oplog.attempted, "failed": oplog.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        log("stopping")
        if spark is not None:
            sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


if __name__ == "__main__":
    sys.exit(main())
