"""Seeded page inputs for the benchmark workloads.

Every input is a function of the seed and its size only, so the same
seed gives byte-identical pages on every run.  Inputs are written to
parquet during set-up; the program under test receives only those pages.

- ``bulk_build`` and ``daily_fold`` use the package's own Common-Crawl-
  style generator (``sources.pages.synthetic_pages``): short template
  sentences, 1-5 per page.
- ``longtail_crawl`` uses :func:`longtail_pages_pdf` below: the same
  schema, but long sentences of filler and unknown words with 0-3
  gazetteer mentions each, so sentence lengths spread over 10-90 tokens.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# lower-case words outside the gazetteer and the static vocabulary's
# entity tokens; digits are avoided because YEARS/AGES are gazetteer
# phrases and would turn filler into mentions
_UNK_WORDS = tuple(f"qz{k}" for k in range(400))

# mention pattern by mention count: subjects are PERSON/ORGANIZATION
# phrases (two tokens), objects are one-token phrases of the other types,
# so a sentence with m mentions yields a fixed number of candidate pairs
# (0, 0, 1, 4) and a fixed token count
_MENTION_KINDS = ((), ("obj",), ("subj", "obj"), ("subj", "subj", "obj"))


def _pools():
    from relation_extraction_transformer_spark.sources import gazetteer as G

    return {
        "subj": G.PERSONS + G.ORGS,
        "obj": G.CITIES + G.COUNTRIES + G.TITLES + G.YEARS + G.AGES + G.NATIONALITIES,
        "filler": tuple(t for t in G._FILLER_TOKENS if t != ".") + _UNK_WORDS,
    }


def _sentence(rng: np.random.Generator, n_tokens: int, kinds, pools) -> str:
    mentions = [pools[k][int(rng.integers(0, len(pools[k])))].split(" ") for k in kinds]
    filler = pools["filler"]
    n_filler = n_tokens - 1 - sum(len(m) for m in mentions)
    words = [filler[int(i)] for i in rng.integers(0, len(filler), n_filler)]
    slots = np.sort(rng.integers(0, n_filler + 1, len(mentions)))
    tokens: list[str] = []
    prev = 0
    for slot, mention in zip(slots, mentions):
        tokens += words[prev:slot] + mention
        prev = int(slot)
    return " ".join(tokens + words[prev:] + ["."])


def longtail_pages_pdf(n_pages: int, seed: int) -> pd.DataFrame:
    """Long-tail pages: 1-4 sentences of 10-90 tokens (period included)
    with 0-3 gazetteer mentions each; one page in ten is not English.

    The shape of the English text is stratified, so every seed gets the
    same amount of work: sentences per page cycle 1-4, sentence lengths
    cycle 10-90 and mention counts cycle 0-3 over all English sentences,
    and the seed shuffles which sentence gets which shape and picks every
    word and mention."""
    pools = _pools()
    rng = np.random.default_rng((seed, 7))
    other = set(rng.choice(n_pages, size=n_pages // 10, replace=False).tolist())
    en = [i for i in range(n_pages) if i not in other]
    n_sent = dict(zip(en, 1 + rng.permutation(len(en)) % 4))
    n_en_sent = sum(n_sent.values())
    order = rng.permutation(n_en_sent)
    lengths, n_mentions = 10 + order % 81, order % 4
    rows, k = [], 0
    for i in range(n_pages):
        host = f"host{min(int(rng.pareto(0.7)), 39)}.example.org"
        if i in other:
            lang = ("de", "fr")[i % 2]
            shapes = [(int(rng.integers(10, 91)), 0) for _ in range(int(rng.integers(1, 5)))]
        else:
            lang = "en"
            shapes = [(int(lengths[k + j]), int(n_mentions[k + j])) for j in range(n_sent[i])]
            k += n_sent[i]
        text = " ".join(_sentence(rng, n, _MENTION_KINDS[m], pools) for n, m in shapes)
        html = (
            f"<html><head><title>Note {i}</title></head><body><p>{text}</p>"
            f"</body></html>"
        ).encode("utf-8")
        ts = _EPOCH + dt.timedelta(seconds=i)
        rows.append((f"https://{host}/longtail/{i}", ts, html, text, lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def write_longtail_pages(spark, n_pages: int, seed: int, path: str) -> None:
    spark.createDataFrame(longtail_pages_pdf(n_pages, seed), PAGE_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)


def write_synthetic_pages(spark, n_pages: int, seed: int, path: str,
                          slice_pages: int = 0) -> None:
    """The package generator's pages, optionally with a ``slice`` column
    (page id // ``slice_pages``) so ``daily_fold`` can read each delta by
    partition pruning."""
    from pyspark.sql import functions as F

    from relation_extraction_transformer_spark.sources import pages as PG

    df = PG.synthetic_pages(spark, n_pages, seed=seed)
    if not slice_pages:
        df.write.mode("overwrite").parquet(path)
        return
    page_id = F.regexp_extract("url", r"/articles/(\d+)$", 1).cast("long")
    df.withColumn("slice", (page_id / slice_pages).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("slice").parquet(path)

