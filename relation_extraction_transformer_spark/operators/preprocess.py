"""Candidate preprocessing: P1-P9 as pure Spark SQL expressions.

Mirrors ref:data/loader.py:68-197 column-for-column:

- entity masking over the token array          (P2)
- POS/NER tag -> id map-literal lookups        (P4)
- subject/object relative positions + binning  (P8/P9)
- ABS_MAX_LEN guard                            (ref:data/loader.py:18)

Word-id lookup (P3) happens inside the inference UDF against a broadcast
vocab (a 50k-entry map literal would bloat the Catalyst plan); everything
else is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from ..functions import exprcache as XC
from ..functions import masking as M
from ..functions import positions as P
from . import ner as N


def preprocess_candidates(pairs: DataFrame, lower: bool = False) -> DataFrame:
    """pairs (from candidates.generate_pairs over a frame that already
    carries :func:`attach_tag_ids`' per-sentence ``pos_ids``/``ner_ids``)
    -> model feature columns."""
    # every feature expression below references plain column names, so
    # the whole set is memoized per (lower,) — construction is ~0.4 s
    # of py4j roundtrips otherwise rebuilt per plan (r8, exprcache)
    def _masked():
        toks = F.col("tokens")
        if lower:
            toks = M.lower_tokens(toks)  # P1; shipped config lower=False
        return M.mask_entity_spans(
            toks,
            F.col("subj_start"), F.col("subj_end"),
            F.col("obj_start"), F.col("obj_end"),
            F.col("subj_type"), F.col("obj_type"),
        )

    df = pairs.withColumn(
        "masked_tokens",
        XC.cached_column(("preprocess_masked", lower), _masked),
    )
    n = F.size("masked_tokens")
    df = df.withColumn(
        "subj_positions",
        XC.cached_column(
            ("preprocess_subj_positions",),
            lambda: P.binned_span_positions(
                F.col("subj_start"), F.col("subj_end"),
                F.size("masked_tokens"),
            ),
        ),
    ).withColumn(
        "obj_positions",
        XC.cached_column(
            ("preprocess_obj_positions",),
            lambda: P.binned_span_positions(
                F.col("obj_start"), F.col("obj_end"),
                F.size("masked_tokens"),
            ),
        ),
    )
    # sentences longer than the reference's hard cap are dropped
    # (ref:data/loader.py:18 ABS_MAX_LEN = 96)
    return df.filter((n >= 1) & (n <= C.ABS_MAX_LEN))


def attach_tag_ids(df: DataFrame, ner_col: str = "ner") -> DataFrame:
    """POS ids from the rule tagger; NER ids from the projected mention
    tags (P4, ref:data/loader.py:114-116)."""
    pos_ids = XC.cached_column(
        ("attach_pos_ids",),
        lambda: M.map_tags_to_ids(N.pos_tags(F.col("tokens")), C.POS_TO_ID),
    )
    ner_ids = XC.cached_column(
        ("attach_ner_ids", ner_col),
        lambda: M.map_tags_to_ids(F.col(ner_col), C.NER_TO_ID),
    )
    return df.withColumn("pos_ids", pos_ids).withColumn("ner_ids", ner_ids)
