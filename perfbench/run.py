#!/usr/bin/env python3
"""Sketch-engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload build_mixed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout; it drives the package's public API on
``local[nproc]``. ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
prints the per-layer metrics and writes the spans and layer records to
``.perfbench_trace/<workload>-seed<n>.json``. Workloads, sizes, params
and metric definitions are in ``perfbench/workloads.json``. The last
stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": ..., "unit": ...}}}
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

T_START = time.perf_counter()

sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path(__file__).resolve().parent.parent)]

from harness import (ROOT, TRACE_ROOT, RssSampler, SparkCounters, Tracer,  # noqa: E402
                     Workdir, median, percentile, start_session, stop_session, timed)
from workloads import SPEC, WORKLOADS  # noqa: E402

TRACED_PAIRS = 2  # untraced/traced op pairs behind trace.overhead_ms
MAX_OP_ERRORS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="sketch-engine benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Tally:
    """Attempted and failed ops; a failure is an exception or a wrong answer."""

    def __init__(self) -> None:
        self.attempted = self.failed = self.errors = 0
        self.problems: list[str] = []

    def run(self, wl, around=nullcontext) -> tuple[float, int] | None:
        """One timed op (``around`` included in the time); the caller
        checks its output with ``check``."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with around():
                n = wl.op()
            dt = time.perf_counter() - t0
        except Exception:  # counted as a failed op; the loop goes on
            self.failed += 1
            self.errors += 1
            self.problems.append(traceback.format_exc(limit=3))
            if self.errors > MAX_OP_ERRORS:
                raise
            return None
        return dt, n

    def check(self, wl) -> None:
        bad = wl.check()
        if bad:
            self.failed += 1
            self.problems.extend(bad)


def end_to_end(wl, seconds: float, tally: Tally) -> tuple[dict, dict, list, list]:
    """Closed loop, one client, for ``seconds`` of wall time: each op is
    followed by its reference read, so the pair sees one machine state,
    and the op is scored as its wall over its read's; each op's output is
    checked after its read, untimed."""
    walls, reads, turns = [], [], []
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while time.perf_counter() < deadline:
            r = tally.run(wl)
            if r:
                reads.append(timed(wl.read)[0])
                walls.append(r[0])
                turns.append(r[1])
                tally.check(wl)
    if not walls:
        raise RuntimeError("no op completed")
    ratios = [w / r for w, r in zip(walls, reads)]
    metrics = {
        "op_vs_read_p50": value(median(ratios), "x"),
        "peak_rss_mb": value(rss.peak_mb, "MB"),
    }
    shown = {
        "turns_per_s": value(median(turns) / median(walls), "1/s"),
        "op_ms_p50": value(1e3 * median(walls), "ms"),
        "op_ms_p90": value(1e3 * percentile(walls, 90), "ms"),
        "read_ms_p50": value(1e3 * median(reads), "ms"),
    }
    return metrics, shown, walls, reads


def traced(spark, wl, tracer: Tracer, tally: Tally, seed: int) -> tuple[dict, dict]:
    from layers import Layers

    counters = SparkCounters(spark)

    @contextmanager
    def op_span():
        with tracer.span("op") as attrs, counters.measure() as cnt:
            yield
        attrs.update(cnt)

    wl.op()  # untimed: the pairs and the layer prefixes all run warm
    plain, spanned = [], []
    for _ in range(TRACED_PAIRS):
        for around, walls in ((nullcontext, plain), (op_span, spanned)):
            r = tally.run(wl, around)
            if r:
                walls.append(r[0])
                tally.check(wl)
    layers = Layers(spark, tracer, counters)
    m: dict[str, float] = {}
    with tracer.span("layers"):
        m.update(layers.build(wl))
        m.update(layers.grouped(wl))
        m.update(layers.probe(wl))
        m.update(layers.sketches(wl, seed))
    op_s = median(plain)
    covered = wl.covered_s(m)
    m["trace.overhead_ms"] = 1e3 * (median(spanned) - op_s)
    m["trace.coverage"] = covered / op_s
    m["trace.uncovered_s"] = op_s - covered
    return m, {"op_s_untraced": plain, "op_s_traced": spanned}


def value(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import bloomfilter_multithread_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if ROOT not in Path(pkg.__file__).resolve().parents:
        print(f"perfbench: the package at {pkg.__file__} is not this checkout's", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    tally = Tally()
    shown: dict = {}
    with Workdir() as work:
        t0 = time.perf_counter()
        spark = start_session(work)
        try:
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            with tracer.span("setup"):
                steps = wl.setup()
            setup_s = session_s + steps["data"] + steps["warm"]
            print("perfbench: setup " + " ".join(
                f"{k}={v:.2f}s" for k, v in {"session": session_s, **steps}.items()))
            if args.trace:
                layer_m, extra = traced(spark, wl, tracer, tally, args.seed)
                units = SPEC["metrics"]
                metrics = {k: value(v, units[k]["unit"]) for k, v in layer_m.items()}
                out = TRACE_ROOT / f"{args.workload}-seed{args.seed}.json"
                tracer.write(out, {"metrics": layer_m, **extra, "problems": tally.problems})
                print(f"perfbench: spans and layer records in {out.relative_to(ROOT)}")
            else:
                metrics, shown, walls, reads = end_to_end(wl, args.seconds, tally)
                metrics = {"setup_s": value(setup_s, "s"), **metrics}
                print(f"perfbench: {args.workload} seed={args.seed} ops={len(walls)} " + " ".join(
                    f"{k}={v['value']:.6g}" for k, v in shown.items()))
                print(f"perfbench: op_s={[round(w, 3) for w in walls]}")
                print(f"perfbench: read_s={[round(w, 3) for w in reads]}")
        finally:
            t_stop = time.perf_counter()
            stop_session(spark)
    print(f"perfbench: process {time.perf_counter() - T_START:.1f}s "
          f"(start {t0 - T_START:.1f}s, stop {time.perf_counter() - t_stop:.1f}s)")
    for p in tally.problems:
        print(f"perfbench: FAILED {p}")
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:>14.6g} {v['unit']}")
    for k, v in shown.items():
        print(f"  {k:32s} {v['value']:>14.6g} {v['unit']} (printed, not scored)")
    print(f"  {'error_rate':32s} {tally.failed / max(tally.attempted, 1):>14.6g} ratio "
          f"({tally.failed}/{tally.attempted} ops)")
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
