"""Deterministic synthetic transcripts (the BASELINE.json input_hint
shape): (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp). Seeded; no wall-clock, no external data.

docID = conv_id || ':' || turn_idx (stable turn ordering is the
per-row invariant). The vocabulary deliberately mixes stopwords,
hyphenated words, punctuation wrappers, golden-corpus words, and a few
very-high-frequency non-stopword terms (``elixir``, ``tool``, ``run``)
so df/idf paths and hot-term skew are exercised (FIXTURES.md §1).
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import DataFrame, SparkSession, functions as F

ROLES = ["user", "assistant", "tool"]
TOOLS = ["", "search", "bash", "browser", "python"]

VOCAB = (
    # high-frequency skewed terms
    ["elixir"] * 12 + ["tool"] * 10 + ["run"] * 8 +
    # golden corpus words
    ["quick", "fox", "jumped", "lazy", "dog", "lorem", "ipsum", "dolor",
     "livebook", "jupyter", "impressive", "impression", "contributors",
     "project", "projects", "cool"] +
    # stopwords (dropped by the default pipeline -> exercises empties)
    ["the", "a", "and", "of", "to", "is", "it", "on"] +
    # hyphenated / punctuated / mixed
    ["full-text", "top-k", "posting-list", "(parens)", "wrapped!",
     "it's", "[tag]", "end."] +
    # body vocabulary
    ["index", "search", "query", "terms", "match", "boolean", "filter",
     "score", "rank", "merge", "shuffle", "partition", "spark", "stream",
     "batch", "vector", "window", "agent", "transcript", "conversation",
     "message", "answer", "question", "context", "token", "stemming",
     "pipeline", "segment", "compress", "varint", "delta", "block"]
)

EPOCH = _dt.datetime(2026, 1, 1, 0, 0, 0)


def generate_rows(n_convs: int, turns_per_conv: int = 8, seed: int = 42):
    rng = random.Random(seed)
    rows = []
    g = 0
    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        for t in range(turns_per_conv):
            n_words = rng.randint(4, 24)
            text = " ".join(rng.choice(VOCAB) for _ in range(n_words))
            rows.append(
                (
                    conv_id,
                    t,
                    ROLES[t % 3],
                    text,
                    rng.choice(TOOLS),
                    EPOCH + _dt.timedelta(seconds=60 * g),
                )
            )
            g += 1
    return rows


def transcripts_df(spark: SparkSession, n_convs: int,
                   turns_per_conv: int = 8, seed: int = 42,
                   partitions: int = 0) -> DataFrame:
    df = spark.createDataFrame(
        generate_rows(n_convs, turns_per_conv, seed),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    if partitions:
        df = df.repartition(partitions)
    return df


def with_docid(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "docid", F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))
    )
