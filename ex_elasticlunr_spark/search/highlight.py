"""Snippet / highlight operators — the stored-positions consumers.

The reference records per-occurrence token positions at index time
(tokenizer.ex:61-66 start/length, field.ex:224-230 stores them) and
returns them raw in search results (core/index.ex:258-266), leaving
snippet assembly to the caller. These operators finish that story:

* :func:`snippet_ords` — token-ordinal snippets, fully relational over
  the flat postings table.
* :func:`highlight_spans` — character-offset spans + excerpt using the
  stored [start0, len0, start1, len1, ...] position arrays joined back
  to the original document text.

Plan shape at 100 TB: both operators scan postings with the literal
``In(term, ...)`` predicate pushed into the term-clustered parquet
(row-group pruning), restrict any wider work to MATCHED docids via a
semi join before exploding, and aggregate per docid — no window over
the full corpus, no driver-side loops.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.literals import in_expr


def snippet_ords(index, field: str, terms: List[str], window: int = 8,
                 restrict: Optional[DataFrame] = None) -> DataFrame:
    """Token-window snippets around the FIRST query-term occurrence.

    ``terms`` are analyzed (post-pipeline) terms, like terms_scores.
    Returns (docid, first_ord, n_matches, snippet) where

      first_ord  earliest post-pipeline token ordinal of any query term
      n_matches  total occurrences of query terms in the field
      snippet    the analyzed tokens at ordinals
                 [first_ord, first_ord + window), space-joined

    The snippet is assembled from the index itself (stemmed tokens) —
    deterministic, no original-text join — which is what makes the
    operator expressible against the SQL oracle's (docid, term, ord)
    relation. For original-text excerpts use :func:`highlight_spans`.
    """
    if (not getattr(index, "store_positions", True)
            or not getattr(index, "has_token_ordinals", True)):
        # fail fast like highlight_spans: without stored token ordinals
        # the explode silently yields ZERO rows — indistinguishable
        # from "no hits". Compat-loaded reference indexes carry char
        # positions but NULL ords (compat.py read_disk_index), hence
        # the second flag.
        raise ValueError(
            "snippet_ords needs stored token ordinals: this index was "
            "built with store_positions=False or loaded from a "
            "reference dump that has no token ordinals")
    key = index.key_col
    post = index.postings.where(F.col("field") == field)
    if restrict is not None:
        post = post.join(restrict.select(key), key, "left_semi")
    # the doc key may itself be named "ord" (doc ordinal); the exploded
    # per-occurrence TOKEN ordinal is aliased tok_ord throughout
    matched = (
        post.where(in_expr("term", terms))
        .select(key, F.explode("ords").alias("tok_ord"))
        .groupBy(key)
        .agg(F.min("tok_ord").alias("first_ord"),
             F.count(F.lit(1)).alias("n_matches"))
    )
    # token stream of MATCHED docs only (semi-join restricts before the
    # per-occurrence explode), then one bounded range join per doc
    toks = (
        post.join(matched.select(key), key, "left_semi")
        .select(key, "term", F.explode("ords").alias("tok_ord"))
    )
    snip = (
        toks.join(matched.select(key, "first_ord"), key)
        .where((F.col("tok_ord") >= F.col("first_ord"))
               & (F.col("tok_ord") < F.col("first_ord") + window))
        .groupBy(key)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tok_ord", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("snippet")
        )
    )
    out = (
        matched.join(snip, key)
        .select(key,
                F.col("first_ord").cast("long").alias("first_ord"),
                F.col("n_matches").cast("long").alias("n_matches"),
                "snippet")
    )
    if key == "ord":
        # resolve docids for the (hit-sized) result only
        out = out.join(index.ordinals_df(), "ord") \
            .select("docid", "first_ord", "n_matches", "snippet")
    return out


def highlight_spans(index, field: str, terms: List[str],
                    source: DataFrame,
                    context: int = 30,
                    restrict: Optional[DataFrame] = None) -> DataFrame:
    """Character-offset highlight spans + excerpt from the ORIGINAL text.

    ``source`` supplies the original text: a DataFrame with ``docid``
    and the ``field`` column (the index stores only the docid universe,
    not full text — at 100 TB the excerpt join goes back to the source
    table, restricted to hits).

    Uses the stored flattened position arrays
    ``[start0, len0, start1, len1, ...]`` (char offsets into the
    downcased field — same indices as the original for ASCII, see
    analysis/tokenizer.py). Returns

      (docid, spans, excerpt)

    where ``spans`` is an array<struct<start:int, length:int>> of every
    query-term occurrence in offset order, and ``excerpt`` is the
    original text from ``max(first_start - context, 0)`` spanning to
    ``last_end + context`` (clamped by the string, 1-based substring
    semantics).

    The docs-table join is restricted to matched docids (semi-join
    first), so the wide original-text rows are only touched for hits.
    """
    if not getattr(index, "store_positions", True):
        raise ValueError(
            "highlight_spans needs stored positions: this index was built "
            "with store_positions=False")
    key = index.key_col
    post = index.postings.where(F.col("field") == field)
    if restrict is not None:
        post = post.join(restrict.select(key), key, "left_semi")
    occ = (
        post.where(in_expr("term", terms))
        # guard: a null/empty positions array would send F.sequence a
        # negative upper bound (descending range -> null spans)
        .where(F.size("positions") >= 2)
        .select(
            key,
            F.explode(
                # pair up the flattened [start, len, ...] array
                F.transform(
                    F.sequence(
                        F.lit(0),
                        (F.size("positions") / 2).cast("int") - F.lit(1)),
                    lambda i: F.struct(
                        F.element_at("positions", i * 2 + 1).alias("start"),
                        F.element_at("positions", i * 2 + 2).alias("length"),
                    ),
                )
            ).alias("span"),
        )
    )
    agg = (
        occ.groupBy(key)
        .agg(
            F.array_sort(F.collect_list("span")).alias("spans"),
            F.min(F.col("span.start")).alias("first_start"),
            F.max(F.col("span.start") + F.col("span.length")).alias("last_end"),
        )
    )
    if key == "ord":
        # resolve docids for the (hit-sized) aggregate before touching
        # the wide original-text rows
        agg = agg.join(index.ordinals_df(), "ord").drop("ord")
    docs = source.select(
        F.col("docid").cast("string").alias("docid"),
        F.col(field).cast("string").alias("_text"))
    # agg holds only matched docs (small relative to the corpus); the
    # inner join restricts the wide text rows and AQE broadcasts when
    # the hit set is small
    return (
        agg.join(docs, "docid")
        .select(
            "docid", "spans",
            F.expr(
                f"substring(_text, "
                f"CAST(greatest(first_start - {context}, 0) AS INT) + 1, "
                f"CAST(last_end + {context} "
                f"- greatest(first_start - {context}, 0) AS INT))"
            ).alias("excerpt"),
        )
    )
