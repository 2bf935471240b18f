"""Batched relation-classifier inference as an Arrow UDF (SURVEY §2.4).

The entire reference forward pass (ref:model/relation_model.py:366-482) runs
as ONE ``mapInPandas`` over Arrow record batches — the Spark-native analog
of the reference's padded 50-row batches (ref:data/loader.py:304-316), with
``spark.sql.execution.arrow.maxRecordsPerBatch`` playing batch_size.  No
per-row Python: each Arrow batch is grouped by exact sentence length and
each group is one stack of NumPy GEMMs.

Weights travel as a Spark broadcast (one deserialization per worker
process, like the reference's driver-held embedding matrix,
ref:runner.py:206-219).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import constants as C
from ..config import ModelConfig
from ..functions.masking import id_to_label
from ..kernel import forward_batch

#: columns the operator consumes (produced by operators.preprocess)
FEATURE_COLS = (
    "word_ids", "masked_tokens", "pos_ids", "ner_ids",
    "subj_positions", "obj_positions",
)


def as_dtype(params: dict, dtype) -> dict:
    """Cast every float parameter array once (e.g. float32 for inference:
    halves the GEMM memory traffic, which is the multi-core scaling
    limiter on bandwidth-bound hosts).  Int arrays, and arrays already of
    ``dtype``, pass through uncopied."""
    return {
        k: v.astype(dtype, copy=False) if np.issubdtype(v.dtype, np.floating) else v
        for k, v in params.items()
    }


def tokens_to_word_ids(tokens: pd.Series, vocab: dict) -> list:
    """P3 vectorized: token -> id with UNK fallback.  Factorizes the
    exploded token column once; the Python dict is touched O(distinct)
    times, not O(tokens).  Returns a list of np.int64 arrays aligned with
    ``tokens`` (ref:data/loader.py:287-289)."""
    lens = tokens.map(len).to_numpy()
    flat = tokens.explode().dropna()
    codes, uniques = pd.factorize(flat.to_numpy())
    lut = np.fromiter(
        (vocab.get(u, C.UNK_ID) for u in uniques),
        dtype=np.int64,
        count=len(uniques),
    )
    flat_ids = lut[codes] if len(codes) else np.empty(0, dtype=np.int64)
    return np.split(flat_ids, np.cumsum(lens)[:-1]) if len(tokens) else []


def length_groups(pdf: pd.DataFrame, vocab: dict | None = None) -> Iterator[tuple]:
    """Yield ``(idx, word_ids, pos_ids, ner_ids, subj_positions,
    obj_positions)`` for each exact-length group of a pandas batch, in
    ascending length order: ``idx`` holds the group's row positions and
    the rest are stacked ``(len(idx), l)`` int64 arrays, ready for the
    kernel.  Lengths outside ``1..ABS_MAX_LEN`` yield nothing.
    ``word_ids`` is looked up from ``masked_tokens`` in ``vocab`` when the
    batch does not carry it.

    Grouping by exact length removes padding, so a row's output does not
    depend on which other rows share its group — up to BLAS summation
    order, which varies with the group's row count (fp32 probs drift by
    2e-8..2e-7 across batch sizes, measured with OpenBLAS 0.3.23 on a
    4-core AMD EPYC host; see ROADMAP.md, "Batch-invariant inference")."""
    if "word_ids" not in pdf.columns:
        pdf = pdf.assign(word_ids=tokens_to_word_ids(pdf["masked_tokens"], vocab))
    lengths = pdf["word_ids"].map(len).to_numpy()
    for l in np.unique(lengths):
        if l == 0 or l > C.ABS_MAX_LEN:
            continue
        idx = np.nonzero(lengths == l)[0]
        yield (idx,) + tuple(
            np.array([np.asarray(v, dtype=np.int64) for v in pdf[col].iloc[idx]])
            for col in ("word_ids", "pos_ids", "ner_ids",
                        "subj_positions", "obj_positions")
        )


def infer_batch(
    pdf: pd.DataFrame,
    params: dict,
    cfg: ModelConfig,
    vocab: dict | None = None,
    keep_probs: bool = True,
) -> pd.DataFrame:
    """The inference UDF body on one pandas batch: the passthrough columns
    (all but FEATURE_COLS) in order, then ``pred``, ``prob`` and, with
    ``keep_probs``, ``probs``.  Rows outside ``1..ABS_MAX_LEN`` are
    null-class by definition (upstream should have filtered them, P14
    analog): pred 0 with prob 1."""
    n = len(pdf)
    preds = np.zeros(n, dtype=np.int32)
    top = np.ones(n, dtype=np.float64)
    probs = np.zeros((n, cfg.num_class))
    probs[:, 0] = 1.0
    for idx, *stacks in length_groups(pdf, vocab):
        p, pr = forward_batch(params, cfg, *stacks)
        preds[idx] = p
        top[idx] = pr[np.arange(len(idx)), p]
        probs[idx] = pr
    out = pdf[[c for c in pdf.columns if c not in FEATURE_COLS]].copy()
    out["pred"] = preds
    out["prob"] = top
    if keep_probs:
        out["probs"] = probs.tolist()
    return out


def predict_relations(
    candidates: DataFrame,
    params_bc: Broadcast,
    cfg: ModelConfig,
    vocab_bc: Broadcast | None = None,
    keep_probs: bool = True,
) -> DataFrame:
    """Append ``pred`` (label id), ``pred_label``, ``prob`` (argmax prob)
    and optionally ``probs`` (42 floats) to a preprocessed candidates
    DataFrame: one :func:`infer_batch` per Arrow batch (see
    :func:`length_groups` for how far a row's output depends on its
    batch).  Row order within each batch is preserved, and all passthrough
    columns are carried, so no positional alignment is needed downstream
    (replaces the reference's sort/unsort dance,
    ref:model/relation_model.py:102-103).
    """
    passthrough = [
        f for f in candidates.schema.fields if f.name not in FEATURE_COLS
    ]
    out_fields = list(passthrough) + [
        T.StructField("pred", T.IntegerType(), False),
        T.StructField("prob", T.DoubleType(), False),
    ]
    if keep_probs:
        out_fields.append(
            T.StructField("probs", T.ArrayType(T.DoubleType(), False), False)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = params_bc.value  # one unpickle per worker, cached by Spark
        vocab = vocab_bc.value if vocab_bc is not None else None
        for pdf in batches:
            if len(pdf):
                yield infer_batch(pdf, params, cfg, vocab, keep_probs)

    result = candidates.mapInPandas(run, schema=T.StructType(out_fields))
    return result.withColumn("pred_label", id_to_label(F.col("pred")))


def triples_from_predictions(predicted: DataFrame) -> DataFrame:
    """K19 tail: predicted null-class rows emit NO triple
    (ref:utils/scorer.py semantics — no_relation is not a relation)."""
    return predicted.filter(F.col("pred") != C.LABEL_TO_ID[C.NO_RELATION])
