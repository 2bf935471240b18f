"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 5 --trace 0

Run from the repository root (or anywhere: paths derive from this file).
``--trace 0`` measures the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload once untraced and once layer by layer
under spans, and reports the per-layer metrics (see perfbench/README.md).
The last line of standard output is the result object.  Exits non-zero,
without a result, if the package under test is not next to this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "relation_extraction_transformer_spark"

#: repeated set-ups per run; ``setup_s`` reports their median
SETUP_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    # NumPy seeds must be non-negative: any integer is folded into range
    ap.add_argument("--seed", type=lambda v: int(v) % 2**32, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs, for the self-test only; figures are meaningless",
    )
    return ap.parse_args(argv)


def closed_loop(wl, seconds: float):
    """Run ops back to back until ``seconds`` have passed (at least one
    op) or the workload has no input left.  Returns per-op records."""
    ops = []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            res = wl.op(len(ops))
        except Exception:  # a failed op is counted, the run goes on
            traceback.print_exc()
            res = None
        ops.append({"s": time.perf_counter() - t0, "res": res, "ok": res is not None})
        if res is None or wl.exhausted or time.perf_counter() >= deadline:
            return ops


def check_ops(wl, ops) -> int:
    """Untimed checks: marks ops whose output is wrong and returns the
    final check's mismatch count, which fails every op of the run."""
    for i, op in enumerate(ops):
        if op["ok"] and wl.check(i):
            op["ok"] = False
    mismatch = wl.final_check()
    if mismatch:
        for op in ops:
            op["ok"] = False
    return mismatch


def set_up(wl, session_s: float) -> float:
    """One-time warm-up plus ``SETUP_REPEATS`` repeatable set-ups; returns
    session start + warm-up + the median repeatable set-up."""
    times = []
    t0 = time.perf_counter()
    wl.prepare()
    times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    for _ in range(SETUP_REPEATS - 1):
        t0 = time.perf_counter()
        wl.prepare()
        times.append(time.perf_counter() - t0)
    print(f"# setup: session={session_s:.2f} warm={warm_s:.2f} prepare={[round(t, 2) for t in times]}", file=sys.stderr)
    return session_s + warm_s + statistics.median(times)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(spark, wl, args, session_s: float) -> dict:
    from perfbench import session as S

    setup_s = set_up(wl, session_s)
    ops = closed_loop(wl, args.seconds)
    # VmHWM is a high-water mark: read it before the checks add their own
    peak_rss_mb = S.peak_rss_mb(spark)
    mismatch = check_ops(wl, ops)
    failed = sum(not op["ok"] for op in ops)
    # timings cover every op that completed, whatever its check said
    done = [op for op in ops if op["res"] is not None] or ops
    lat = [op["s"] for op in done]
    triples = sum(wl.triples(op["res"]) for op in done if op["res"] is not None)
    busy = sum(lat)
    print(
        f"# {wl.name}: ops={len(ops)} failed={failed} latencies="
        f"{[round(x, 3) for x in lat]} final_check_mismatch_rows={mismatch}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "op_p50_s": metric(statistics.median(lat), "s"),
            "triples_per_s": metric(triples / busy, "1/s"),
            "peak_rss_mb": metric(peak_rss_mb, "MB"),
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found in {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import session as S

    work = os.path.join(REPO, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # before NumPy is first imported: BLAS reads its thread count once
    S.prepare_environment(REPO, work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    spark = None
    try:
        t0 = time.perf_counter()
        spark = S.make_session(f"perfbench-{args.workload}", work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, smoke=args.smoke)
        if args.trace:
            from perfbench.layers import run_traced

            result = run_traced(spark, wl, args, REPO)
        else:
            result = run_untraced(spark, wl, args, session_s)
    finally:
        if spark is not None:
            S.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
