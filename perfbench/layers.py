"""The traced run (``--trace 1``): per-layer metrics, attributed to the
package module whose public functions a span wraps.

One traced run of a workload does, in one session:

1. set-up as in the untraced run; crawl workloads then run one op to warm
   up, since their measured op is otherwise the session's first;
2. one untraced op under a Spark job group, giving the exact job, stage
   and task counts of one op (``spark.*``);
3. the same op with spans around its public calls, then one more untraced
   op: ``trace.overhead_s`` is the traced op's wall minus the mean of the
   two untraced ones (``trace.traced_op_s``, ``trace.untraced_op_s``);
4. a layer walk over the op's pages: each layer's input is checkpointed
   outside its span and its output is sunk to ``noop`` inside it, so a
   layer span holds that layer's work alone.  Counts come from
   ``DataFrame.observe`` on the sunk output or from the files written.

Every workload walks every layer: the pipeline stages, the kernel on
driver-held stacks, linking, canonicalization, graph build and write,
resumable materialization, and one fold of a page delta into standing edge
state and canonical map (for the crawl workloads the standing state is
bootstrapped, untimed, from a quarter of the op's pages and another
quarter is the delta; ``daily_fold`` folds its next delta onto the state
its ops left).  Spans and metrics are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from . import checks as CK
from . import kernel_ops as KO
from .session import ARROW_BATCH_ROWS, usable_cores
from .trace import Tracer
from .workloads import N_BUCKETS, noop, rebuild_artifacts

#: candidates forwarded on the driver for the single-core kernel figures
KERNEL_SAMPLE = 2048

# the feature and output columns of plans.pipeline.triples_plan
_SLIM = (
    "url", "sent_id", "pair_id", "subj_surface", "subj_type", "obj_surface",
    "obj_type", "masked_tokens", "pos_ids", "ner_ids", "subj_positions",
    "obj_positions",
)
_TRIPLE_KEY = ("url", "sent_id", "pair_id", "subj", "pred", "obj")


def checkpoint(df):
    return df.localCheckpoint(eager=True)


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, leaving out the local file system's
    hidden ``.crc`` side files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith("."):
                total += os.path.getsize(os.path.join(root, name))
                files += 1
    return total, files


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, stages run and tasks run under a job group."""
    st = sc.statusTracker()
    stages = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = ran = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return len(jobs), ran, tasks


class LayerWalk:
    def __init__(self, spark, tracer: Tracer, work: str):
        self.spark = spark
        self.t = tracer
        self.work = work
        self.metrics: dict[str, dict] = {}
        self._observations = 0

    def put(self, name: str, value, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def put_s(self, name: str, span: dict) -> None:
        self.put(name, self.t.self_time(span), "s")

    def observe(self, df, **aggs):
        self._observations += 1
        obs = Observation(f"perfbench_{self._observations}")
        return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs

    def pipeline(self, pages) -> int:
        """pages -> triples, layer by layer, then kernel, linking,
        canonicalization, graph and materialization.  Returns the number
        of triples that differ from the fused plan's output (must be 0:
        the walk wires the same public functions as triples_plan)."""
        from relation_extraction_transformer_spark.config import DEFAULT_PIPELINE as CFG
        from relation_extraction_transformer_spark.operators import candidates as CAND
        from relation_extraction_transformer_spark.operators import inference as INF
        from relation_extraction_transformer_spark.operators import ner as NER
        from relation_extraction_transformer_spark.operators import preprocess as PRE
        from relation_extraction_transformer_spark.plans import lineage as LIN
        from relation_extraction_transformer_spark.plans import pipeline as PL
        from relation_extraction_transformer_spark.sources import pages as PAGES

        spark, t, count = self.spark, self.t, F.count(F.lit(1))
        with t.span("plans.pipeline"):
            with t.span("plans.pipeline.artifacts") as sa:
                arts = rebuild_artifacts(spark)
            with t.span("plans.pipeline.plan_build") as sp:
                PL.triples_plan(pages, spark, keep_probs=False)
        self.put_s("plans.pipeline.artifacts_s", sa)
        self.put_s("plans.pipeline.plan_build_s", sp)

        x0 = checkpoint(pages)
        with t.span("sources.pages") as s:
            counted, o_in = self.observe(x0, n=count)
            extracted, o_en = self.observe(
                PAGES.extract_text(counted).filter(F.col("lang") == "en"), n=count
            )
            noop(extracted)
        self.put_s("sources.pages.extract_s", s)
        self.put("sources.pages.pages_in", o_in.get["n"], "count")
        self.put("sources.pages.pages_en", o_en.get["n"], "count")

        x1 = checkpoint(extracted)
        with t.span("operators.ner") as s:
            tagged = NER.ner_tags_from_mentions(
                NER.detect_mentions(
                    NER.tokenize(NER.split_sentences(x1, text_col="extracted_text"))
                )
            )
            tagged, o = self.observe(tagged, sentences=count, mentions=F.sum(F.size("mentions")))
            noop(tagged)
        self.put_s("operators.ner.s", s)
        self.put("operators.ner.sentences", o.get["sentences"], "count")
        self.put("operators.ner.mentions", o.get["mentions"], "count")

        x2 = checkpoint(tagged)
        with t.span("operators.candidates") as s:
            feats = PRE.preprocess_candidates(
                CAND.generate_pairs(PRE.attach_tag_ids(x2), CFG.max_pairs_per_sentence),
                lower=CFG.model.lower,
            )
            feats, o = self.observe(feats, pairs=count)
            noop(feats)
        pairs = o.get["pairs"]
        self.put_s("operators.candidates.s", s)
        self.put("operators.candidates.pairs", pairs, "count")

        x3 = checkpoint(feats)
        with t.span("operators.inference") as s:
            predicted = INF.predict_relations(
                x3.select(*_SLIM), arts.params_bc, CFG.model,
                vocab_bc=arts.vocab_bc, keep_probs=False,
            )
            triples = INF.triples_from_predictions(predicted).select(
                "url", "sent_id", "pair_id",
                F.col("subj_surface").alias("subj"), "subj_type",
                F.col("pred_label").alias("pred"),
                F.col("obj_surface").alias("obj"), "obj_type", "prob",
            )
            noop(triples)
        inference_s = self.t.self_time(s)
        self.put_s("operators.inference.s", s)
        self.put("operators.inference.rows_per_s", pairs / inference_s, "1/s")

        self.kernel(x3, arts, CFG.model)
        core_s = pairs / self.metrics["kernel.cand_per_s_core"]["value"]
        self.put(
            "operators.inference.marshal_share",
            1.0 - core_s / (inference_s * usable_cores()),
            "ratio",
        )

        x4 = checkpoint(triples)
        self.linking_and_graph(x4)

        out = os.path.join(self.work, "lineage")
        with t.span("plans.lineage.materialize") as s:
            LIN.materialize_triples_resumable(
                spark, x0, out, run_id="traced",
                n_buckets=N_BUCKETS, buckets_per_group=N_BUCKETS,
            )
        self.put_s("plans.lineage.materialize_s", s)
        fused = set(map(tuple, spark.read.parquet(f"{out}/triples").select(*_TRIPLE_KEY).collect()))
        walked = set(map(tuple, x4.select(*_TRIPLE_KEY).collect()))
        return len(fused ^ walked)

    def kernel(self, feats, arts, cfg) -> None:
        """Single-core forward passes over driver-held same-length stacks
        of a fixed-size candidate sample; op counts over every
        ``forward_batch`` call the inference layer makes on ``feats``: one
        per (Arrow batch, length) group, with no call for lengths outside
        1..ABS_MAX_LEN."""
        from relation_extraction_transformer_spark.constants import ABS_MAX_LEN
        from relation_extraction_transformer_spark.kernel import forward_batch
        from relation_extraction_transformer_spark.operators.inference import tokens_to_word_ids

        # mapInPandas cuts each partition, in order, into Arrow batches of
        # ARROW_BATCH_ROWS; the low 33 bits of the id are the row's index
        # in its partition
        row = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        length = F.size("masked_tokens")
        calls = (
            feats.select(
                F.spark_partition_id().alias("part"),
                F.floor(row / ARROW_BATCH_ROWS).alias("batch"),
                length.alias("l"),
            )
            .groupBy("part", "batch", "l").count()
            .where(F.col("l").between(1, ABS_MAX_LEN))
            .collect()
        )
        groups = [(int(r["l"]), int(r["count"])) for r in calls]
        sample = (
            feats.orderBy("url", "sent_id", "pair_id").limit(KERNEL_SAMPLE)
            .select("masked_tokens", "pos_ids", "ner_ids", "subj_positions", "obj_positions")
            .toPandas()
        )
        sample["word_ids"] = tokens_to_word_ids(sample["masked_tokens"], arts.vocab_bc.value)
        lengths = sample["word_ids"].map(len).to_numpy()
        cols = ("word_ids", "pos_ids", "ner_ids", "subj_positions", "obj_positions")
        stacks = []
        for l in np.unique(lengths):
            rows = sample.iloc[np.nonzero(lengths == l)[0]]
            stacks.append([np.array([np.asarray(v, dtype=np.int64) for v in rows[c]]) for c in cols])
        params = arts.params_bc.value
        with self.t.span("kernel") as s:
            for st in stacks:
                forward_batch(params, cfg, *st)
        forward_s = self.t.self_time(s)
        flops, nbytes = KO.histogram_counts(groups, cfg)
        self.put("kernel.forward_s", forward_s, "s")
        self.put("kernel.cand_per_s_core", len(sample) / forward_s, "1/s")
        self.put("kernel.gflop", flops / 1e9, "GFLOP")
        self.put("kernel.mbytes_moved", nbytes / 1e6, "MB")
        self.put("kernel.distinct_lengths", len({l for l, _ in groups}), "count")

    def linking_and_graph(self, triples) -> None:
        from relation_extraction_transformer_spark.operators import canonicalize as CANON
        from relation_extraction_transformer_spark.operators import linking as LINK
        from relation_extraction_transformer_spark.plans import graph as GR

        spark, t = self.spark, self.t
        dictionary = LINK.entity_dictionary(spark)
        known = [r[0] for r in dictionary.select("entity_id").distinct().collect()]
        with t.span("operators.linking") as s:
            linked, o = self.observe(
                LINK.link_triples(triples, dictionary),
                rows=F.count(F.lit(1)),
                linked=F.sum(
                    F.col("subj_entity_id").isin(known).cast("long")
                    + F.col("obj_entity_id").isin(known).cast("long")
                ),
            )
            noop(linked)
        self.put_s("operators.linking.s", s)
        self.put("operators.linking.linked_ratio", o.get["linked"] / max(2 * o.get["rows"], 1), "ratio")

        # canonicalization as plans.graph.build_graph wires it
        x5 = checkpoint(linked)
        with t.span("operators.canonicalize") as s:
            ends = x5.select(
                F.col("subj_entity_id").alias("node_id"), F.col("subj_canonical").alias("name")
            ).unionByName(
                x5.select(F.col("obj_entity_id").alias("node_id"), F.col("obj_canonical").alias("name"))
            )
            names = ends.groupBy("node_id").agg(F.min("name").alias("name")).select(
                "node_id", LINK.normalize_surface(F.col("name")).alias("name")
            )
            cand = CANON.candidate_pairs(CANON.minhash_band_hashes(names, "name"))
            verified = CANON.verify_pairs_jaccard(cand, names, threshold=0.6)
            noop(CANON.connected_components(verified))
        self.put_s("operators.canonicalize.s", s)
        lsh, ver = cand.count(), verified.count()
        self.put("operators.canonicalize.lsh_pairs", lsh, "count")
        self.put("operators.canonicalize.verified_pairs", ver, "count")
        self.put("operators.canonicalize.verify_yield", ver / max(lsh, 1), "ratio")

        with t.span("plans.graph.build") as s:
            nodes, edges = GR.build_graph(triples, spark)
            noop(nodes)
            noop(edges)
        self.put_s("plans.graph.build_s", s)
        nodes, edges = checkpoint(nodes), checkpoint(edges)
        out = os.path.join(self.work, "graph")
        with t.span("plans.graph.write") as s:
            GR.write_graph(nodes, edges, out)
        self.put_s("plans.graph.write_s", s)
        self.put("plans.graph.nodes", nodes.count(), "count")
        self.put("plans.graph.edges", edges.count(), "count")
        self.put("plans.graph.bytes_written", disk_usage(out)[0], "bytes")

    def fold(self, standing: list, delta, edges_dir: str, canon_dir: str) -> int:
        """One delta into standing state folded from the page sets
        ``standing``; returns the fold check's mismatch rows (see
        ``checks.fold_replay_mismatch_rows``) and records the measured
        batch-composition mismatch against a one-pass rebuild."""
        from relation_extraction_transformer_spark.operators import incremental as INC
        from relation_extraction_transformer_spark.operators import incremental_canon as IC

        spark, t = self.spark, self.t
        delta = checkpoint(delta)
        with t.span("operators.incremental.fold") as s:
            v = INC.fold_pages_delta(spark, delta, edges_dir)["state_version"]
        self.put_s("operators.incremental.fold_s", s)
        new, old = (os.path.join(edges_dir, f"v{x}") for x in (v, v - 1))
        with t.span("operators.incremental.report") as s:
            noop(INC.edge_report(INC.read_edge_state(spark, new)))
        self.put_s("operators.incremental.report_s", s)
        written, files = disk_usage(new)
        self.put("operators.incremental.bytes_written", written, "bytes")
        self.put("operators.incremental.files_written", files, "count")
        self.put("operators.incremental.state_bytes", disk_usage(old)[0], "bytes")

        # the delta's own edge state, written alone, is the least a fold
        # must write
        alone = os.path.join(self.work, "delta_state")
        INC.write_edge_state(INC.edge_state(CK.delta_observations(spark, delta)), alone)
        self.put(
            "operators.incremental.write_amplification",
            written / max(disk_usage(alone)[0], 1),
            "ratio",
        )

        mentions = checkpoint(CK.delta_mentions(spark, delta))
        with t.span("operators.incremental_canon.fold") as s:
            cs = IC.fold_mentions_delta(spark, mentions, canon_dir)
        self.put_s("operators.incremental_canon.fold_s", s)
        self.put("operators.incremental_canon.new_nodes", cs["new_nodes"], "count")
        self.put("operators.incremental_canon.touched_components", cs["touched_components"], "count")
        self.put(
            "operators.incremental_canon.bytes_written",
            disk_usage(os.path.join(canon_dir, f"v{cs['state_version']}"))[0],
            "bytes",
        )
        taken_in, check_dir = standing + [delta], os.path.join(self.work, "fold_check")
        self.put(
            "operators.incremental.fold_rebuild_mismatch_rows",
            CK.fold_rebuild_mismatch_rows(spark, new, taken_in, check_dir),
            "count",
        )
        return CK.fold_replay_mismatch_rows(spark, new, taken_in, check_dir)


def run_traced(spark, wl, args, repo: str) -> dict:
    sc = spark.sparkContext
    tracer = Tracer()
    walk = LayerWalk(spark, tracer, wl.path("trace"))
    wl.prepare()
    wl.warm_up()
    checks: list[int] = []

    def op(tracer=None) -> float:
        i = len(checks)
        t0 = time.perf_counter()
        wl.op(i, tracer)
        wall = time.perf_counter() - t0
        checks.append(wl.check(i))
        return wall

    if wl.cold_first_op:
        op()
    # untraced, traced, untraced: the mean of the two untraced ops cancels
    # a steady warm-up trend out of the overhead
    sc.setJobGroup("perfbench-op", "untraced reference op")
    untraced = op()
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs, stages, tasks = spark_counts(sc, "perfbench-op")
    with tracer.span("op") as root:
        op(tracer)
    untraced = (untraced + op()) / 2
    checks.append(wl.final_check())
    walk.put("trace.untraced_op_s", untraced, "s")
    walk.put("trace.traced_op_s", tracer.duration(root), "s")
    walk.put("trace.overhead_s", tracer.duration(root) - untraced, "s")
    walk.put("spark.jobs_per_op", jobs, "count")
    walk.put("spark.stages_per_op", stages, "count")
    walk.put("spark.tasks_per_op", tasks, "count")

    pages = wl.layer_pages()
    with tracer.span("layers") as root:
        checks.append(walk.pipeline(pages))
    walk.put("trace.layers_self_s", tracer.self_time(root), "s")
    standing, delta, edges_dir, canon_dir = wl.fold_context()
    with tracer.span("fold"):
        checks.append(walk.fold(standing, delta, edges_dir, canon_dir))

    os.makedirs(os.path.join(repo, ".perfbench"), exist_ok=True)
    metrics = dict(sorted(walk.metrics.items()))
    tracer.dump(os.path.join(repo, ".perfbench", f"trace-{wl.name}-{args.seed}.json"), metrics)
    failed = sum(bool(c) for c in checks)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": metrics,
    }
