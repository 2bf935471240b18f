#!/usr/bin/env python
"""Round-8 optimization measurement harness (guide §1).

Separate from the FROZEN bench.py: this file times single queries with
noop sinks, dumps ``.explain("formatted")`` plans to plans/r08/ and
profiles the inference UDF body.  Per-stage walls of the flagship and the
fold's phases come from ``python perfbench/run.py --trace 1``.  Usage:

    python bench_extra.py queries q1_pricing_summary dup_clusters ...
    python bench_extra.py plans [names...]   # dump explain(formatted)
    python bench_extra.py profile    # cProfile of the inference UDF body

Environment contract matches bench.py ($SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS); numbers printed here are cited in
OPTIMIZATION_r08.md, never in the driver's JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

import bench  # noqa: E402  (reuse make_spark/paths so configs match)
from bench import CPUS, PAGES_PATH_KG, N_PAGES_KG, SF_DIR, make_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, warm: int = 1, reps: int = 2) -> list[float]:
    for _ in range(warm):
        fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(round(time.perf_counter() - t0, 3))
    return walls


def section_queries(spark, names: list[str]) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bx: {name}")
        fn = lambda: noop(qs[name](spark, SF_DIR))
        t0 = time.perf_counter()
        fn()
        cold = round(time.perf_counter() - t0, 3)
        out[name] = {"cold": cold, "warm": timed(fn, warm=0)}
    print(json.dumps({"queries": out}))


def section_plans(spark, names: list[str]) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    # match the bench's warehouse-section scan config so adaptive reads
    # (tb) see the same split counts the timed run sees
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    os.makedirs("plans/r08", exist_ok=True)
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r08/{name}_{suffix}.txt"
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


def section_profile(spark) -> None:
    """cProfile the inference UDF body (``infer_batch``, the function
    ``mapInPandas`` runs) on driver-collected batches: the per-task Python
    cost split (pandas overhead vs kernel GEMMs)."""
    import cProfile
    import io
    import pstats

    from relation_extraction_transformer_spark.operators import (
        inference as INF,
    )
    from relation_extraction_transformer_spark.plans import pipeline as PL

    bench.ensure_pages(spark, N_PAGES_KG, PAGES_PATH_KG)
    pages = spark.read.parquet(PAGES_PATH_KG).limit(2000)
    arts = PL.build_artifacts(spark)
    pdf = PL.candidates_plan(pages).select(*PL.SLIM_COLS).toPandas()
    print(f"profiling over {len(pdf)} candidates")
    cfg = PL.DEFAULT_PIPELINE.model
    params, vocab = arts.params_bc.value, arts.vocab_bc.value

    # batches of 1024 like the session's arrow.maxRecordsPerBatch
    batches = [pdf.iloc[i:i + 1024] for i in range(0, len(pdf), 1024)]

    def run_all():
        for b in batches:
            INF.infer_batch(b, params, cfg, vocab, keep_probs=False)

    run_all()  # warm
    t0 = time.perf_counter()
    run_all()
    wall = time.perf_counter() - t0
    print(f"single-thread UDF-body wall: {wall:.3f}s "
          f"({len(pdf) / wall:.0f} cand/s/core)")
    pr = cProfile.Profile()
    pr.enable()
    run_all()
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
    print(s.getvalue())


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "profile"
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "queries":
        section_queries(spark, sys.argv[2:])
    elif mode == "plans":
        section_plans(spark, sys.argv[2:])
    elif mode == "profile":
        section_profile(spark)
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
