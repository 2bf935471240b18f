"""Untimed correctness checks, each against a reference that shares no
plan code with the path it checks.

- Crawl triples: ``oracle_pipeline.run_oracle_pipeline``, the package's
  plain-Python re-implementation of every stage with an fp64 forward
  pass, on a seeded page sample.  Equality is exact on
  (url, sent_id, pair_id) -> (subj, pred, obj).
- Graph: every edge endpoint is a node.
- Daily fold: the final edge report against one edge state built in a
  single pass, with no state merge, over the observations of every page
  set the folds took in, each extracted on its own as its fold extracted
  it.  Equality is exact on every column.  Inference then sees the Arrow
  batches it saw in the folds, so this checks the fold (merge, state
  write, version chain) and not the batch-composition defect of
  inference, ROADMAP item 1.  That defect is measured, not gated:
  ``fold_rebuild_mismatch_rows`` rebuilds from every page in one
  inference pass, as ``test_two_day_fold_equals_full_rebuild`` does, and
  its count is a per-layer metric of the traced run.
"""

from __future__ import annotations

import os
import sys
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def oracle_triples(spark, pages, n_pages: int, seed: int) -> dict:
    """The sampled urls and the oracle's triples for those pages, keyed by
    (url, sent_id, pair_id), for a seeded sample of ``n_pages`` pages."""
    from relation_extraction_transformer_spark import oracle_pipeline as OP
    from relation_extraction_transformer_spark import weights as W
    from relation_extraction_transformer_spark.config import DEFAULT_PIPELINE
    from relation_extraction_transformer_spark.sources import gazetteer as G

    urls = sorted(r.url for r in pages.select("url").collect())
    rng = np.random.default_rng((seed, 99))
    sample = sorted(rng.choice(urls, size=min(n_pages, len(urls)), replace=False))
    rows = pages.where(F.col("url").isin(sample)).select("url", "html", "lang").collect()
    vocab = G.static_vocab()
    params = W.generate_weights(DEFAULT_PIPELINE.model, vocab_size=len(vocab))
    got = OP.run_oracle_pipeline(
        [r.asDict() for r in rows], params, DEFAULT_PIPELINE.model,
        cap=DEFAULT_PIPELINE.max_pairs_per_sentence,
    )
    return {
        "urls": sample,
        "triples": {(t.url, t.sent_id, t.pair_id): (t.subj, t.pred, t.obj) for t in got},
    }


def triples_mismatch(spark, triples_path: str, expected: dict) -> int:
    """Keys whose triple differs between the written output (restricted
    to the sampled urls) and the oracle, counting both directions."""
    rows = (
        spark.read.parquet(triples_path)
        .where(F.col("url").isin(expected["urls"]))
        .select("url", "sent_id", "pair_id", "subj", "pred", "obj")
        .collect()
    )
    got = {(r.url, r.sent_id, r.pair_id): (r.subj, r.pred, r.obj) for r in rows}
    want = expected["triples"]
    if not want:
        return 1  # a sample without triples checks nothing
    return sum(got.get(k) != v for k, v in want.items()) + sum(
        want.get(k) != v for k, v in got.items()
    )


def dangling_edge_endpoints(spark, graph_dir: str) -> int:
    """Edge endpoints (src or dst) that are not a node id, plus one if
    the graph is empty."""
    nodes = spark.read.parquet(f"{graph_dir}/nodes").select(F.col("canonical_id").alias("id"))
    edges = spark.read.parquet(f"{graph_dir}/edges")
    ends = edges.select(F.col("src").alias("id")).union(edges.select(F.col("dst").alias("id")))
    row = (
        ends.join(nodes, "id", "left_anti")
        .agg(F.count(F.lit(1)).alias("dangling"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("edges")))
        .first()
    )
    return int(row.dangling) + int(row.edges == 0)


def delta_mentions(spark, pages):
    """The delta's mention surfaces as ``scripts/maintain_kg.py`` derives
    them: normalized subject/object surfaces keyed by their stable id."""
    from relation_extraction_transformer_spark.operators import linking as LINK
    from relation_extraction_transformer_spark.plans import pipeline as PL

    triples = PL.triples_plan(pages, spark, keep_probs=False)
    return (
        triples.select(F.col("subj").alias("surface"))
        .unionAll(triples.select(F.col("obj").alias("surface")))
        .select(LINK.normalize_surface(F.col("surface")).alias("name"))
        .distinct()
        .select(LINK.stable_id(F.col("name")).alias("node_id"), "name")
    )


def delta_observations(spark, pages):
    """Edge observations (subj, pred, obj, url, prob, ts) of a page delta,
    as ``incremental.fold_pages_delta`` extracts them."""
    from relation_extraction_transformer_spark.plans import pipeline as PL

    triples = PL.triples_plan(pages, spark, keep_probs=False)
    return triples.select("url", "subj", "pred", "obj", "prob").join(
        pages.select("url", F.unix_timestamp("warc_ts").cast("bigint").alias("ts")), "url"
    )


def _report_mismatch(spark, folded_dir: str, rebuilt, label: str) -> int:
    """Edges whose report row differs, in any column or by being absent,
    between the folded state and the ``rebuilt`` edge state."""
    from relation_extraction_transformer_spark.operators import incremental as INC

    def keyed(report) -> dict:
        return {tuple(r[:3]): tuple(r[3:]) for r in report.collect()}

    got = keyed(INC.edge_report(INC.read_edge_state(spark, folded_dir)))
    want = keyed(INC.edge_report(rebuilt))
    bad = [k for k in sorted(got.keys() | want.keys()) if got.get(k) != want.get(k)]
    for k in bad[:5]:
        print(f"# fold != {label} at {k}: {got.get(k)} vs {want.get(k)}", file=sys.stderr)
    return len(bad)


def fold_replay_mismatch_rows(spark, folded_dir: str, inputs, work: str) -> int:
    """The fold check: mismatching edges between the folded state and one
    edge state aggregated in a single pass over the observations of
    ``inputs``, the page sets the folds took in, in fold order.  Each set
    is extracted by its own job, as its fold extracted it, so inference
    sees the same Arrow batches and the comparison is exact."""
    from relation_extraction_transformer_spark.operators import incremental as INC

    paths = []
    for k, pages in enumerate(inputs):
        paths.append(os.path.join(work, f"obs{k}"))
        delta_observations(spark, pages).write.mode("overwrite").parquet(paths[-1])
    rebuilt = INC.edge_state(spark.read.parquet(*paths))
    return _report_mismatch(spark, folded_dir, rebuilt, "replay")


def fold_rebuild_mismatch_rows(spark, folded_dir: str, inputs, work: str) -> int:
    """The measured defect: mismatching edges between the folded state
    and a rebuild whose inference runs once over every page of
    ``inputs``, written and re-read as one table.  Its Arrow batches are
    not the folds' (a plain union would keep each input's partitions), so
    this is non-zero while inference depends on batch composition
    (ROADMAP item 1)."""
    from relation_extraction_transformer_spark.operators import incremental as INC

    path = os.path.join(work, "pages_taken_in")
    reduce(DataFrame.unionByName, inputs).write.mode("overwrite").parquet(path)
    rebuilt = INC.edge_state(delta_observations(spark, spark.read.parquet(path)))
    return _report_mismatch(spark, folded_dir, rebuilt, "rebuild")
