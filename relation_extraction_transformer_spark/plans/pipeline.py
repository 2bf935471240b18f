"""The flagship KG-construction plan: pages -> (subj, pred, obj) triples.

Declarative end to end; the only Python is the single Arrow inference UDF.
Catalyst sees one linear plan, so column pruning reaches the page scan
(html/binary is never read once text is extracted) and the gazetteer join
is a broadcast hash join.

Stage map (SURVEY §3.1 translated):
  driver: broadcast weights + vocab (ref:runner.py:206-219 analog)
  scan pages            -> S1
  extract_text          -> UDF surface #1 (JVM regex here)
  sentence/tokenize     -> P-ops
  gazetteer NER         -> broadcast join (J1 analog)
  pair generation       -> array ops + single explode
  preprocess            -> P1-P9
  predict               -> K1-K19 in one mapInPandas
  triples               -> filter pred != no_relation (K19)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import weights as W
from ..config import PipelineConfig, DEFAULT_PIPELINE
from ..operators import candidates as CAND
from ..operators import inference as INF
from ..operators import ner as NER
from ..operators import preprocess as PRE
from ..sources import gazetteer as G
from ..sources import pages as PAGES


@dataclass
class PipelineArtifacts:
    """Broadcast handles, reusable across queries in one session."""

    params_bc: object
    vocab_bc: object


#: keyed by (session, frozen ModelConfig, inference dtype): every model
#: field shapes the generated weights, so all of them are in the key
_ARTIFACT_CACHE: dict[tuple, PipelineArtifacts] = {}


def build_artifacts(
    spark: SparkSession, cfg: PipelineConfig = DEFAULT_PIPELINE
) -> PipelineArtifacts:
    key = (spark, cfg.model, cfg.inference_dtype)
    if key not in _ARTIFACT_CACHE:
        vocab = G.static_vocab()
        params = INF.as_dtype(
            W.generate_weights(cfg.model, vocab_size=len(vocab)),
            cfg.inference_dtype,
        )
        _ARTIFACT_CACHE[key] = PipelineArtifacts(
            params_bc=spark.sparkContext.broadcast(params),
            vocab_bc=spark.sparkContext.broadcast(vocab),
        )
    return _ARTIFACT_CACHE[key]


def _english_text(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return PAGES.extract_text(pages).filter(F.col("lang") == "en")


def _sentences(extracted: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return NER.tokenize(NER.split_sentences(extracted, text_col="extracted_text"))


def _tagged(tokenized: DataFrame, cfg: PipelineConfig) -> DataFrame:
    # small closed-world dictionary -> shuffle-free inline NER; the
    # broadcast-join path (detect_mentions_join) covers big dictionaries.
    # Tag ids are attached per sentence, BEFORE the pair explode, so they
    # are computed once per sentence instead of once per candidate.
    return PRE.attach_tag_ids(
        NER.ner_tags_from_mentions(NER.detect_mentions(tokenized))
    )


def _candidates(tagged: DataFrame, cfg: PipelineConfig) -> DataFrame:
    pairs = CAND.generate_pairs(tagged, cfg.max_pairs_per_sentence)
    return PRE.preprocess_candidates(pairs, lower=cfg.model.lower)


#: the candidate stage graph, in order: (name, stage(df, cfg) -> df).
#: candidates_plan and lineage.observed_pipeline_metrics both fold over it.
CANDIDATE_STAGES = (
    ("pages_en", _english_text),
    ("sentences", _sentences),
    ("tagged_sentences", _tagged),
    ("candidates", _candidates),
)

#: the candidate columns inference needs: triple keys, surfaces and features
SLIM_COLS = (
    "url", "sent_id", "pair_id", "subj_surface", "subj_type",
    "obj_surface", "obj_type",
    "masked_tokens", "pos_ids", "ner_ids", "subj_positions",
    "obj_positions",
)


def candidates_plan(
    pages: DataFrame, cfg: PipelineConfig = DEFAULT_PIPELINE
) -> DataFrame:
    """pages -> preprocessed candidate features (no inference yet)."""
    for _, stage in CANDIDATE_STAGES:
        pages = stage(pages, cfg)
    return pages


def predict_triples(
    feats: DataFrame,
    spark: SparkSession,
    cfg: PipelineConfig = DEFAULT_PIPELINE,
    keep_probs: bool = True,
) -> DataFrame:
    """candidate features -> (subj, pred, obj) triples."""
    arts = build_artifacts(spark, cfg)
    predicted = INF.predict_relations(
        feats.select(*SLIM_COLS), arts.params_bc, cfg.model,
        vocab_bc=arts.vocab_bc, keep_probs=keep_probs,
    )
    triples = INF.triples_from_predictions(predicted)
    cols = [
        F.col("url"), F.col("sent_id"), F.col("pair_id"),
        F.col("subj_surface").alias("subj"), F.col("subj_type"),
        F.col("pred_label").alias("pred"),
        F.col("obj_surface").alias("obj"), F.col("obj_type"),
        F.col("prob"),
    ]
    if keep_probs:
        cols.append(F.col("probs"))
    return triples.select(*cols)


def triples_plan(
    pages: DataFrame,
    spark: SparkSession,
    cfg: PipelineConfig = DEFAULT_PIPELINE,
    keep_probs: bool = True,
) -> DataFrame:
    return predict_triples(candidates_plan(pages, cfg), spark, cfg, keep_probs)
