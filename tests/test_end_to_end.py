"""End-to-end parity: Spark KG pipeline vs single-process oracle.

North-rule gate: emitted (subj, pred, obj) triples must match the
reference-semantics oracle at P/R >= 0.95; on this closed fixture world we
require exact equality (P = R = 1.0), plus the byte-identical
extract_text-per-url invariant."""

import dataclasses

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark import weights as W
from relation_extraction_transformer_spark import oracle_pipeline as OP
from relation_extraction_transformer_spark.config import (
    DEFAULT_PIPELINE, PipelineConfig,
)
from relation_extraction_transformer_spark.operators import inference as INF
from relation_extraction_transformer_spark.plans import pipeline as PL
from relation_extraction_transformer_spark.sources import gazetteer as G
from relation_extraction_transformer_spark.sources import pages as PG

N_PAGES = 60
SEED = 7


def _spark_triples(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    return PL.triples_plan(pages, spark, keep_probs=False)


def _oracle_triples(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    rows = pages.select("url", "html", "lang").collect()
    vocab = G.static_vocab()
    params = W.generate_weights(DEFAULT_PIPELINE.model, vocab_size=len(vocab))
    return OP.run_oracle_pipeline(
        [r.asDict() for r in rows], params, DEFAULT_PIPELINE.model,
        cap=DEFAULT_PIPELINE.max_pairs_per_sentence,
    )


def test_extract_text_byte_identical(spark):
    pages = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=5)
    ext = PG.extract_text(pages)
    bad = ext.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_triples_match_oracle_exactly(spark):
    got = {
        (r.url, r.sent_id, r.pair_id): (r.subj, r.pred, r.obj)
        for r in _spark_triples(spark).collect()
    }
    want = {
        (t.url, t.sent_id, t.pair_id): (t.subj, t.pred, t.obj)
        for t in _oracle_triples(spark)
    }
    assert len(want) > 20, "fixture produced too few triples to be meaningful"
    missing = {k: v for k, v in want.items() if got.get(k) != v}
    extra = {k: v for k, v in got.items() if want.get(k) != v}
    assert not missing and not extra, (
        f"precision/recall != 1.0: {len(extra)} extra, {len(missing)} missing; "
        f"examples extra={list(extra.items())[:3]} "
        f"missing={list(missing.items())[:3]}"
    )


def test_pipeline_deterministic_across_partitioning(spark):
    pages2 = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=2)
    pages7 = PG.synthetic_pages(spark, N_PAGES, seed=SEED, partitions=7)
    t2 = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in PL.triples_plan(pages2, spark, keep_probs=False).collect()
    }
    t7 = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in PL.triples_plan(pages7, spark, keep_probs=False).collect()
    }
    assert t2 == t7


def test_triple_precision_recall_meets_north_rule(spark):
    """The north rule's literal criterion: emitted (subj, pred, obj)
    triples at P/R >= 0.95 vs the reference-semantics oracle.  This
    engine achieves exact parity, so the computed figures are 1.0/1.0 —
    asserted here as the explicit metric (the exact-equality twin test
    above pins the stronger property)."""
    got = {
        (r.url, r.sent_id, r.pair_id, r.subj, r.pred, r.obj)
        for r in _spark_triples(spark).collect()
    }
    want = {
        (t.url, t.sent_id, t.pair_id, t.subj, t.pred, t.obj)
        for t in _oracle_triples(spark)
    }
    inter = len(got & want)
    precision = inter / len(got)
    recall = inter / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_artifacts_keyed_on_whole_model_config(spark):
    # every ModelConfig field shapes the weights, not just seed/vocab_size
    wide = PipelineConfig(
        model=dataclasses.replace(DEFAULT_PIPELINE.model, hidden_self=64)
    )
    shapes = [
        {k: v.shape for k, v in PL.build_artifacts(spark, c).params_bc.value.items()}
        for c in (DEFAULT_PIPELINE, wide)
    ]
    assert shapes[0] != shapes[1]


def test_infer_batch_equals_predict_relations(spark):
    # one partition, one Arrow batch: the driver-side UDF body sees the
    # same rows in the same order as mapInPandas, so outputs match exactly
    pages = PG.synthetic_pages(spark, 20, seed=SEED, partitions=2)
    feats = PL.candidates_plan(pages).select(*PL.SLIM_COLS)
    pdf = feats.toPandas()
    long = C.ABS_MAX_LEN + 4
    pdf = pd.concat([pdf, pd.DataFrame([{
        "url": "long", "sent_id": 0, "pair_id": 0,
        "subj_surface": "s", "subj_type": "PERSON",
        "obj_surface": "o", "obj_type": "CITY",
        "masked_tokens": ["the"] * long, "pos_ids": [1] * long,
        "ner_ids": [1] * long, "subj_positions": [1] * long,
        "obj_positions": [1] * long,
    }])], ignore_index=True)
    assert 1 < len(pdf) <= 512  # conftest's arrow.maxRecordsPerBatch
    arts = PL.build_artifacts(spark)
    cfg = DEFAULT_PIPELINE.model

    got = INF.predict_relations(
        spark.createDataFrame(pdf, schema=feats.schema).coalesce(1),
        arts.params_bc, cfg, vocab_bc=arts.vocab_bc, keep_probs=True,
    ).toPandas()
    want = INF.infer_batch(
        pdf, arts.params_bc.value, cfg, arts.vocab_bc.value, keep_probs=True
    )
    assert list(got["url"]) == list(want["url"])
    assert np.array_equal(got["pred"], want["pred"])
    assert np.array_equal(got["prob"], want["prob"])
    assert np.array_equal(np.stack(got["probs"]), np.stack(want["probs"]))
    assert want["pred"].iloc[-1] == 0 and want["prob"].iloc[-1] == 1.0
