"""Compile a query AST to a DataFrame plan over the index tables.

Relational mapping (SURVEY.md §2.3):
  terms      -> broadcast vocab-resolve + postings equi-join + per-doc agg
  bool       -> filter/must: chained (broadcast) semi restrictions;
                must_not: left-anti; should: unionByName + groupBy(docid)
                agg(sum(score), count -> matched)
  not        -> docs LEFT ANTI inner, score 1
  match_all  -> docs, score boost
  match      -> driver-side rewrite to terms (nodes.rewrite_match)

Every intermediate is a DataFrame(key, score) keyed by the index's doc
currency (``index.key_col``: the int64 global ordinal where one exists,
else the docid string) — Catalyst sees the whole tree and optimizes
across clause boundaries (pushdown, join reordering, AQE), and clause
composition joins/aggregates on fixed-width int keys. ``execute()``
translates ord->docid ONCE at the end via the ordinals table (before
the ordering/limit: the top-k tie-break is on docid, and ingest
ordinals are not docid-ordered — same rationale as search/wand.py).
The reference interprets the same tree eagerly over ETS
(bool_query.ex:87-178); semantics are kept bit-for-bit, including the
quirk that bool-filter clause scores seed the doc's base score
(bool_query.ex:110-124).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.literals import empty_df
from ..search import scorer
from .nodes import (
    BoolNode,
    BoostingNode,
    ConstantScoreNode,
    DisMaxNode,
    ExistsNode,
    MatchAllNode,
    MatchNode,
    MatchPhraseNode,
    NotNode,
    PhraseNode,
    RangeNode,
    SpanNearNode,
    TermsNode,
    parse,
    rewrite_match,
    rewrite_match_phrase,
)


class QueryExecutor:
    def __init__(self, index, mode: str = "elasticlunr",
                 k1: float = 1.2, b: float = 0.75,
                 attributes: Optional[DataFrame] = None,
                 analyzers: Optional[dict] = None):
        self.index = index
        self.mode = mode
        self.k1 = k1
        self.b = b
        # docid-keyed doc-attribute table (Index.bind_attributes) —
        # required only by RangeNode clauses
        self.attributes = attributes
        # per-field AnalyzerConfig override (Index.with_query_synonyms
        # views); default: the configs the index was built with
        self.analyzers = (analyzers if analyzers is not None
                          else index.analyzers)

    # -- public ----------------------------------------------------------
    def execute(self, query: dict, top_k: Optional[int] = None,
                include_details: bool = False,
                search_after: Optional[tuple] = None) -> DataFrame:
        """query: {"query": {...}} or the inner node map. Returns
        DataFrame(docid, score) sorted (score desc, docid asc), limited
        to top_k when given (the reference has no limit, index.ex:262-265;
        top-k is required by the north rule).

        ``include_details``: add ``matched`` (should-clauses / term
        entries matched) and ``positions`` (map<field, [start, len, ...]>)
        columns — the reference's full result shape
        %{ref, score, matched, positions} (index.ex:258-266,
        bool_query.ex:108-124)."""
        df = self.scored_docids(query, include_details=include_details)
        if search_after is not None:
            # ES-style cursor pagination: keep only docs strictly AFTER
            # the cursor in (score desc, docid asc) order. The cursor is
            # the last row's EXACT sort values (Python float <-> JVM
            # double round-trips bit-exactly), so pages tile the full
            # ordering with no offset scan — the filter prunes BEFORE
            # the TakeOrdered, which is what makes page 1000 cost the
            # same as page 1 at 100 TB (offset pagination re-sorts and
            # skips N*k rows; this never materializes skipped pages)
            s, d = search_after
            df = df.where(
                (F.col("score") < F.lit(float(s)))
                | ((F.col("score") == F.lit(float(s)))
                   & (F.col("docid") > F.lit(str(d)))))
        out = df.orderBy(F.desc("score"), F.asc("docid"))
        # `is not None`: top_k=0 means "zero rows", not "no limit"
        return out.limit(top_k) if top_k is not None else out

    def scored_docids(self, query: dict,
                      include_details: bool = False) -> DataFrame:
        """The UNSORTED translated result — DataFrame(docid, score
        [, matched, positions]) before the global sort / top-k / cursor
        that ``execute`` adds. The input for consumers that aggregate
        by doc rather than rank (collapse, date histograms)."""
        node = parse(query.get("query", query)
                     if isinstance(query, dict) else query)
        df = self.compile(node, details=include_details)
        if self.index.key_col == "ord":
            # one ord->docid translation per query, joined BEFORE the
            # ordering (the deterministic tie-break is on docid). Only
            # universe clauses (match_all / not / range) can emit the
            # synthetic NEGATIVE ordinals of zero-content docs —
            # scoring-only trees join the plain parquet-backed ordinals
            # table (small scan Catalyst auto-broadcasts) instead of the
            # full map, whose zero-content extension re-runs an
            # anti-join + range-partitioned ordinal assignment in every
            # query plan
            rest = [c for c in df.columns if c != "ord"]
            full = self._has_universe(node)
            df = (df.join(self.index.ordinals_df(full=full), "ord")
                  .select("docid", *rest))
        return df

    def search_text(self, text: str, top_k: Optional[int] = None,
                    field_boosts: Optional[dict] = None,
                    search_after: Optional[tuple] = None) -> DataFrame:
        """String-search sugar: bool/should of match over every indexed
        field (index.ex:181-224), optional per-field boosts (boost <= 0
        drops the field)."""
        if field_boosts:
            should = [
                {"match": {f: {"query": text, "boost": b}}}
                for f, b in field_boosts.items()
                if b > 0
            ]
        else:
            should = [{"match": {f: text}} for f in self.analyzers]
        return self.execute({"query": {"bool": {"should": should}}},
                            top_k=top_k, search_after=search_after)

    def _has_universe(self, node) -> bool:
        """True when the tree can emit docs with NO postings (match_all /
        not — including the bool must_not rewrite and a match whose query
        analyzes to zero tokens, which rewrite_match turns into
        match_all): those need the FULL ordinal map with synthetic
        negative ordinals for zero-content docs; everything else scores
        posting-bearing docs only."""
        if isinstance(node, (MatchAllNode, NotNode, RangeNode,
                             ExistsNode)):
            # range/exists: zero-content docs are legitimate attribute
            # matches (their synthetic negative ordinals need the full
            # map)
            return True
        if isinstance(node, (MatchNode, MatchPhraseNode)):
            pipeline = self.analyzers[node.field].to_query_pipeline()
            return len(pipeline.run(node.query)) == 0
        if isinstance(node, BoolNode):
            kids = list(node.should) + list(node.filter)
            kids += [node.must] if node.must is not None else []
            if node.must_not is not None:
                return True
            return any(self._has_universe(k) for k in kids)
        if isinstance(node, ConstantScoreNode):
            return self._has_universe(node.inner)
        if isinstance(node, DisMaxNode):
            return any(self._has_universe(k) for k in node.queries)
        if isinstance(node, BoostingNode):
            # negative only DEMOTES docs the positive already emitted
            return self._has_universe(node.positive)
        return False

    # -- compilation -----------------------------------------------------
    def compile(self, node, restrict: Optional[DataFrame] = None,
                details: bool = False) -> DataFrame:
        if isinstance(node, MatchNode):
            pipeline = self.analyzers[node.field].to_query_pipeline()
            node = rewrite_match(node, pipeline)
        if isinstance(node, MatchPhraseNode):
            pipeline = self.analyzers[node.field].to_query_pipeline()
            node = rewrite_match_phrase(node, pipeline)
        if isinstance(node, PhraseNode):
            return scorer.phrase_scores(
                self.index, node.field, node.terms, boost=node.boost,
                restrict=restrict, mode=self.mode, k1=self.k1, b=self.b,
                with_details=details,
                driver_max_rows=getattr(node, "driver_max_rows", None),
            )
        if isinstance(node, TermsNode):
            return scorer.terms_scores(
                self.index, node.field, node.terms, boost=node.boost,
                expand=node.expand, fuzziness=node.fuzziness,
                regex=node.regex,
                minimum_should_match=node.minimum_should_match,
                restrict=restrict, mode=self.mode, k1=self.k1, b=self.b,
                with_details=details,
            )
        if isinstance(node, SpanNearNode):
            out = scorer.proximity_scores(
                self.index, node.field, node.terms, slop=node.slop,
                boost=node.boost, restrict=restrict,
            )
            if details:
                out = out.select(
                    "*", F.lit(1).alias("matched"),
                    F.create_map().cast(scorer.EMPTY_POSITIONS)
                    .alias("positions"))
            return out
        if isinstance(node, MatchAllNode):
            return scorer.match_all_scores(self.index, node.boost,
                                           with_details=details)
        if isinstance(node, (RangeNode, ExistsNode)):
            if self.attributes is None:
                raise ValueError(
                    "range/exists queries need doc attributes — call "
                    "Index.bind_attributes(df) with a docid-keyed table "
                    f"carrying {node.attr!r} first")
            from ..search.attributes import exists_scores, range_scores

            fn = (range_scores if isinstance(node, RangeNode)
                  else exists_scores)
            return fn(self.index, self.attributes, node,
                      restrict=restrict, with_details=details)
        if isinstance(node, NotNode):
            # the reference forwards options[:filtered] into the inner
            # query (not_query.ex:23-25 via QueryRepository.score), so in
            # a filter chain {filter: [A, {not: B}]} the inner lookup is
            # restricted to A's survivors while the docs universe stays
            # unrestricted: result = all_docs - (B ∩ A-survivors)
            return scorer.not_scores(
                self.index, self.compile(node.inner, restrict=restrict),
                with_details=details)
        if isinstance(node, BoolNode):
            return self._compile_bool(node, details=details)
        if isinstance(node, ConstantScoreNode):
            # the inner plan is unchanged (filters/pushdowns intact);
            # only the score column is overwritten, so Catalyst still
            # prunes the constant out of every downstream comparison
            inner = self.compile(node.inner, restrict=restrict,
                                 details=details)
            return (inner.where(F.col("score") > 0)
                    .withColumn("score", F.lit(float(node.boost))))
        if isinstance(node, DisMaxNode):
            key = self.index.key_col
            clauses = [
                self.compile(c, restrict=restrict).select(key, "score")
                for c in node.queries
            ]
            t = F.lit(float(node.tie_breaker))
            # one union + one per-doc aggregation — same shuffle shape
            # as bool/should, different combining algebra
            out = (
                scorer.union_all(clauses)
                .groupBy(key)
                .agg(F.max("score").alias("best"),
                     F.sum("score").alias("total"))
                .select(key,
                        (F.lit(float(node.boost))
                         * (F.col("best")
                            + t * (F.col("total") - F.col("best"))))
                        .alias("score"))
            )
            if details:
                out = out.select("*", F.lit(1).alias("matched"),
                                 F.create_map()
                                 .cast(scorer.EMPTY_POSITIONS)
                                 .alias("positions"))
            return out
        if isinstance(node, BoostingNode):
            key = self.index.key_col
            pos = self.compile(node.positive, restrict=restrict,
                               details=details)
            # negative is MEMBERSHIP only, restricted to the positive's
            # docs (its scores never surface) — the restrict semi-join
            # bounds its cost by the positive's match volume
            neg = (self.compile(node.negative, restrict=pos.select(key))
                   .where(F.col("score") > 0)
                   .select(key).distinct()
                   .withColumn("_demote", F.lit(True)))
            nb = F.lit(float(node.negative_boost))
            return (pos.join(neg, key, "left")
                    .withColumn(
                        "score",
                        F.when(F.col("_demote"), F.col("score") * nb)
                        .otherwise(F.col("score")))
                    .drop("_demote"))
        raise TypeError(f"cannot compile {type(node).__name__}")

    def _compile_bool(self, node: BoolNode, details: bool = False) -> DataFrame:
        msm = node.effective_msm()
        key = self.index.key_col

        # filter chain: each clause restricted to the previous clause's
        # survivors; keep score > 0 (bool_query.ex:180-197, query.ex:39-46)
        filters = list(node.filter)
        if node.must_not is not None:
            filters = [NotNode(node.must_not)] + filters
        base: Optional[DataFrame] = None
        for clause in filters:
            res = self.compile(clause, restrict=base)
            base = res.where(F.col("score") > 0)

        # must: scored, restricted to filter survivors (bool_query.ex:199-213)
        if node.must is not None:
            base = self.compile(node.must, restrict=base)

        empty_map = F.create_map().cast(scorer.EMPTY_POSITIONS)

        should_aggs = []
        if node.should:
            if base is not None and len(node.should) >= 1:
                # the base subtree is embedded once per should clause
                # (restrict semi-join) plus the final join; materialize it
                # once instead of re-executing the whole filter/must plan
                # per clause. localCheckpoint blocks are GC-cleaned by the
                # ContextCleaner, so no manual unpersist bookkeeping.
                base = base.localCheckpoint(eager=True)
            clause_results = [
                self.compile(c, restrict=base, details=details)
                for c in node.should
            ]
            if details:
                # positions merge in should-clause order, per field
                # (bool_query.ex:155-162 appends token positions)
                clause_results = [
                    df.withColumn("clause_idx", F.lit(i))
                    for i, df in enumerate(clause_results)
                ]
            unioned = scorer.union_all(clause_results)
            aggs = [F.sum("score").alias("should_score"),
                    F.count(F.lit(1)).alias("matched")]
            # (aggregation key below is the index currency)
            if details:
                merged_pos = F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("clause_idx"), F.col("positions"))),
                        # structs holding maps aren't naturally orderable;
                        # compare on the clause index alone
                        lambda a, b: a["clause_idx"] - b["clause_idx"],
                    ),
                    empty_map,
                    lambda acc, s: F.map_zip_with(
                        acc, s["positions"],
                        lambda _k, a, b: F.concat(
                            F.coalesce(a, F.array().cast("array<int>")),
                            F.coalesce(b, F.array().cast("array<int>")),
                        ),
                    ),
                )
                aggs.append(merged_pos.alias("positions"))
            should_aggs = unioned.groupBy(key).agg(*aggs)

        det_cols = (["matched", "positions"] if details else [])
        if base is None:
            if node.should:
                docs = should_aggs.select(
                    key, F.col("should_score").alias("score"), "matched",
                    *(["positions"] if details else []))
            else:
                spark = self.index.postings.sparkSession
                schema = ("ord long" if key == "ord"
                          else "docid string") + ", score double"
                if details:
                    schema += (", matched int, positions "
                               + scorer.EMPTY_POSITIONS)
                return empty_df(spark, schema)
        else:
            # base (filter/must) docs enter with matched=0 and EMPTY
            # positions — the reference drops clause positions when
            # seeding docs from filter results (bool_query.ex:110-124)
            base_docs = base.select(
                key, F.coalesce(F.col("score"), F.lit(0.0)).alias("base_score")
            )
            if node.should:
                # FULL outer: the reference UNIONS should results into the
                # docs map (bool_query.ex:143-170) — a doc matched only by
                # a should clause that ignores the filtered restriction
                # (nested bool: bool_query.ex:102 `_options`; match_all:
                # match_all_query.ex:52; not: universe-minus-matched)
                # enters with base score 0. Leaf should clauses (terms/
                # match) honor the restriction, so their results stay
                # within base — but the plan must not assume it.
                sel = [
                    key,
                    (F.coalesce(F.col("base_score"), F.lit(0.0))
                     + F.coalesce(F.col("should_score"), F.lit(0.0))).alias("score"),
                    F.coalesce(F.col("matched"), F.lit(0)).alias("matched"),
                ]
                if details:
                    sel.append(F.coalesce(F.col("positions"), empty_map)
                               .alias("positions"))
                docs = base_docs.join(should_aggs, key, "full").select(*sel)
            else:
                sel = [key, F.col("base_score").alias("score"),
                       F.lit(0).alias("matched")]
                if details:
                    sel.append(empty_map.alias("positions"))
                docs = base_docs.select(*sel)

        return docs.where(
            (F.col("matched") >= F.lit(msm)) & (F.col("score") > 0)
        ).select(key, "score", *det_cols)
