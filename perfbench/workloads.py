"""The three benchmark workloads, driven through the package's public
functions.

Each workload is closed loop: one operation starts only after the
previous one finished, the way a batch scheduler drives these jobs.  A
workload object offers

- ``prepare()``: the repeatable part of set-up (inputs written from the
  seed, pipeline artifacts rebuilt and broadcast, standing state
  restored); ``run.py`` runs it several times and reports the median;
- ``warm_up()``: the one-time part (for ``daily_fold``, the standing-state
  bootstrap and a warm-up fold; the crawl workloads have none);
- ``op(i)``: one timed operation;
- ``triples(result)``: the triples that op produced (untimed);
- ``check(i)`` / ``final_check()``: untimed correctness checks against
  independent references, returning the number of mismatching rows.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

from pyspark.sql import functions as F

from . import checks as CK
from . import inputs as IN

# Input sizes.  A crawl op is one cold batch job and is sized to outlast
# the measured window, so a run holds exactly that op; fold ops are warm
# and a few fit in the window.
BULK_PAGES = 2000
LONGTAIL_PAGES = 4500
# one resume group per op: each group is its own job plus two commits,
# about 1 s of fixed cost per group on 4 cores
N_BUCKETS = 16
FOLD_DELTA_PAGES = 375
# bootstrap slices; with the warm-up delta the standing state holds
# 5 x 375 = 1,875 pages
FOLD_BOOT_SLICES = 4
FOLD_DELTAS = 12
ORACLE_PAGES = 120


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rebuild_artifacts(spark):
    """Drop the session's cached pipeline artifacts and build them again:
    set-up pays the weight generation and broadcast every time."""
    from relation_extraction_transformer_spark.plans import pipeline as PL

    cache = getattr(PL, "_ARTIFACT_CACHE", None)
    if cache is not None:
        cache.clear()
    return PL.build_artifacts(spark)


def span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class Workload:
    name = ""
    #: set once the workload has no input left for another op
    exhausted = False
    #: the first op runs in a cold session (no warm-up op in set-up)
    cold_first_op = False

    def __init__(self, spark, work_dir: str, seed: int, smoke: bool = False):
        self.spark = spark
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.smoke = smoke
        os.makedirs(self.work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def triples(self, result) -> int:
        return result

    def check(self, i: int) -> int:
        return 0

    def final_check(self) -> int:
        return 0


class _Crawl(Workload):
    """Shared by the two crawl workloads: pages -> materialized triples
    (the resumable, bucketed writer of ``scripts/run_pipeline.py``),
    checked against the single-process oracle on a seeded page sample."""

    n_pages = 0
    cold_first_op = True

    def write_pages(self, n: int, path: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        n = self.n_pages // 10 if self.smoke else self.n_pages
        self.write_pages(n, self.path("pages"))
        self.pages = self.spark.read.parquet(self.path("pages"))
        rebuild_artifacts(self.spark)

    def warm_up(self) -> None:
        """None: a crawl is a batch job launched into a fresh session, so
        its op pays code generation and Python-worker start-up, as the
        scheduled job does."""

    def expected(self) -> dict:
        if not hasattr(self, "_expected"):
            self._expected = CK.oracle_triples(
                self.spark, self.pages, ORACLE_PAGES // (4 if self.smoke else 1), self.seed
            )
        return self._expected

    def run_op(self, pages, out: str, tracer=None) -> int:
        from relation_extraction_transformer_spark.plans import lineage as LIN

        with span(tracer, "plans.lineage"):
            return LIN.materialize_triples_resumable(
                self.spark, pages, out, run_id=os.path.basename(out),
                n_buckets=N_BUCKETS, buckets_per_group=N_BUCKETS,
            ).rows_out

    def op(self, i: int, tracer=None) -> int:
        # one cold op per run, however fast it is: a second op would be
        # warm and would change what op_p50_s measures
        self.exhausted = True
        return self.run_op(self.pages, self.path(f"op{i}"), tracer)

    def layer_pages(self):
        return self.pages

    def fold_context(self):
        """For the traced fold: standing state bootstrapped from a quarter
        of the pages (by url hash), another quarter as the delta.  Returns
        the page sets folded into the standing state, the delta and the
        two state directories."""
        from relation_extraction_transformer_spark.operators import incremental as INC
        from relation_extraction_transformer_spark.operators import incremental_canon as IC

        quarter = F.crc32("url") % 4
        standing, delta = self.pages.where(quarter == 0), self.pages.where(quarter == 1)
        edges, canon = self.path("trace_edges"), self.path("trace_canon")
        os.makedirs(edges)
        os.makedirs(canon)
        INC.fold_pages_delta(self.spark, standing, edges)
        IC.fold_mentions_delta(self.spark, CK.delta_mentions(self.spark, standing), canon)
        return [standing], delta, edges, canon

    def check(self, i: int) -> int:
        out = self.path(f"op{i}")
        bad = CK.triples_mismatch(self.spark, f"{out}/triples", self.expected())
        bad += self.check_graph(out)
        shutil.rmtree(out, ignore_errors=True)
        return bad

    def check_graph(self, out: str) -> int:
        return 0


class BulkBuild(_Crawl):
    """``scripts/run_pipeline.py --build-graph`` in process: generated
    template pages -> resumable triples -> canonical graph -> written."""

    name = "bulk_build"
    n_pages = BULK_PAGES

    def write_pages(self, n: int, path: str) -> None:
        IN.write_synthetic_pages(self.spark, n, self.seed, path)

    def run_op(self, pages, out: str, tracer=None) -> int:
        from relation_extraction_transformer_spark.plans import graph as GR

        rows = super().run_op(pages, out, tracer)
        with span(tracer, "plans.graph"):
            triples = self.spark.read.parquet(f"{out}/triples")
            nodes, edges = GR.build_graph(triples, self.spark)
            GR.write_graph(nodes, edges, out)
        return rows

    def check_graph(self, out: str) -> int:
        return CK.dangling_edge_endpoints(self.spark, out)


class LongtailCrawl(_Crawl):
    """Long, varied sentences: pages -> materialized triples."""

    name = "longtail_crawl"
    n_pages = LONGTAIL_PAGES

    def write_pages(self, n: int, path: str) -> None:
        IN.write_longtail_pages(self.spark, n, self.seed, path)


class DailyFold(Workload):
    """The 24/7 path: a standing edge state and canonical map, bootstrapped
    in set-up, take a sequence of small page deltas.  One op folds one
    delta: ``incremental.fold_pages_delta``, then the delta's mentions
    through ``incremental_canon.fold_mentions_delta``, then
    ``incremental.edge_report`` of the new version."""

    name = "daily_fold"

    def prepare(self) -> None:
        n_slices = FOLD_BOOT_SLICES + 1 + FOLD_DELTAS
        slice_pages = FOLD_DELTA_PAGES // (5 if self.smoke else 1)
        IN.write_synthetic_pages(
            self.spark, n_slices * slice_pages, self.seed, self.path("pages"),
            slice_pages=slice_pages,
        )
        self.pages = self.spark.read.parquet(self.path("pages"))
        rebuild_artifacts(self.spark)
        if os.path.isdir(self.path("snapshot")):
            self.restore()

    def warm_up(self) -> None:
        """Bootstrap the standing state from the first slices and keep it
        as the snapshot every run starts from."""
        self.restore(bootstrap=True)
        # the second fold, onto existing state, takes code paths the
        # bootstrap does not (state merge, canonical-map fold); it warms
        # them up
        for pages in self.standing_inputs():
            self.fold(pages)
        shutil.copytree(self.path("edges"), self.path("snapshot", "edges"))
        shutil.copytree(self.path("canon"), self.path("snapshot", "canon"))

    def restore(self, bootstrap: bool = False) -> None:
        for d in ("edges", "canon"):
            shutil.rmtree(self.path(d), ignore_errors=True)
            if bootstrap:
                os.makedirs(self.path(d))
            else:
                shutil.copytree(self.path("snapshot", d), self.path(d))
        self.folded = []
        self.exhausted = False

    def delta(self, i: int):
        return self.pages.where(F.col("slice") == FOLD_BOOT_SLICES + 1 + i).drop("slice")

    def fold(self, pages, tracer=None) -> None:
        from relation_extraction_transformer_spark.operators import incremental as INC
        from relation_extraction_transformer_spark.operators import incremental_canon as IC

        with span(tracer, "operators.incremental.fold"):
            s = INC.fold_pages_delta(self.spark, pages, self.path("edges"))
        with span(tracer, "operators.incremental_canon.fold"):
            IC.fold_mentions_delta(
                self.spark, CK.delta_mentions(self.spark, pages), self.path("canon")
            )
        self.version = s["state_version"]
        with span(tracer, "operators.incremental.report"):
            noop(INC.edge_report(self.edge_state(self.version)))

    def edge_state(self, version: int):
        from relation_extraction_transformer_spark.operators import incremental as INC

        return INC.read_edge_state(self.spark, self.path("edges", f"v{version}"))

    def op(self, i: int, tracer=None) -> int:
        self.fold(self.delta(i), tracer)
        self.folded.append(i)
        self.exhausted = len(self.folded) == FOLD_DELTAS
        return self.version

    def layer_pages(self):
        return self.delta(0)

    def fold_context(self):
        """For the traced fold: the state the run's ops left, the next
        delta.  Standing state built from several folds gives the
        batch-composition defect more edges to show on."""
        taken_in = self.standing_inputs() + [self.delta(i) for i in self.folded]
        return taken_in, self.delta(len(self.folded)), self.path("edges"), self.path("canon")

    def standing_inputs(self) -> list:
        """The page sets the snapshot was folded from, in order: the
        bootstrap slices together, then the warm-up slice."""
        return [
            self.pages.where(F.col("slice") < FOLD_BOOT_SLICES).drop("slice"),
            self.pages.where(F.col("slice") == FOLD_BOOT_SLICES).drop("slice"),
        ]

    def triples(self, version: int) -> int:
        """Triples the fold into ``version`` added: the growth of the
        state's observation count (read after the timed loop)."""
        def n_obs(v: int) -> int:
            return self.edge_state(v).stats.agg(F.sum("n_obs")).first()[0]

        return n_obs(version) - n_obs(version - 1)

    def final_check(self) -> int:
        """Rows of the final edge report that differ, in any column, from
        a single-pass aggregation over the observations of every page set
        the state took in: the snapshot's, then each folded delta."""
        if not self.folded:
            return 0
        return CK.fold_replay_mismatch_rows(
            self.spark, self.path("edges", f"v{self.version}"),
            self.standing_inputs() + [self.delta(i) for i in self.folded],
            self.path("check"),
        )


WORKLOADS = {w.name: w for w in (BulkBuild, LongtailCrawl, DailyFold)}
