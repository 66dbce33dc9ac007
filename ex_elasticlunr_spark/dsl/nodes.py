"""Query-DSL AST + parser (the reference's query-struct tree,
dsl/query_repository.ex:5-16 + per-node parse/3).

The AST is the engine's first IR; rewrites (match -> terms/match_all,
multi-field sugar, must_not -> not-filter) happen here driver-side, then
dsl/executor.py compiles the rewritten tree to a DataFrame plan (the
second IR, handed to Catalyst).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from typing import List, Optional, Union

OPTION_KEYS = {"boost", "expand", "fuzziness", "minimum_should_match",
               "operator", "regex", "slop"}


@dataclass
class TermsNode:
    field: str
    terms: List[str]
    boost: float = 1.0
    expand: bool = False
    fuzziness: int = 0
    regex: bool = False
    minimum_should_match: int = 1


@dataclass
class SpanNearNode:
    """Proximity query (extension — Lucene's span_near over the stored
    token ordinals): docs where occurrences of the two terms sit within
    ``slop`` post-pipeline token positions; score = boost/(1+min_dist),
    deterministic and distance-ranked."""

    field: str
    terms: List[str]  # exactly two analyzed terms
    slop: int = 1  # max ordinal distance; adjacent terms are at 1
    boost: float = 1.0


@dataclass
class MatchNode:
    field: str
    query: Union[str, int, float]
    boost: float = 1.0
    expand: bool = False
    fuzziness: int = 0
    operator: str = "or"
    minimum_should_match: int = 1


@dataclass
class MatchPhraseNode:
    """Exact-phrase sugar (extension — the reference stores positions
    but has no phrase operator). Rewrites to PhraseNode after query
    analysis, like match -> terms."""

    field: str
    query: Union[str, int, float]
    boost: float = 1.0
    # optional per-query override of the phrase driver-serve row cap
    # (plan choice only — results are cap-independent); None = the
    # module default (scorer.PHRASE_DRIVER_MAX_ROWS)
    driver_max_rows: Optional[int] = None


@dataclass
class PhraseNode:
    field: str
    terms: List[str]
    boost: float = 1.0
    driver_max_rows: Optional[int] = None


@dataclass
class RangeNode:
    """Attribute range clause (extension — ES ``range``; the reference
    has no non-text predicates). Constant-score membership over a
    BOUND attribute column (Index.bind_attributes): docs whose ``attr``
    satisfies every bound in ``conds`` ({gte/gt/lte/lt: value}) score
    ``boost`` (positive, so the bool filter chain's score>0 gate keeps
    survivors — the clause composes anywhere a query node can sit)."""

    attr: str
    conds: dict
    boost: float = 1.0


@dataclass
class ExistsNode:
    """Attribute non-null clause (extension — ES ``exists``). Docs
    whose bound attribute ``attr`` is non-null score ``boost``;
    composes like RangeNode."""

    attr: str
    boost: float = 1.0


@dataclass
class MatchAllNode:
    boost: float = 1.0


@dataclass
class NotNode:
    inner: object


@dataclass
class BoolNode:
    should: List[object] = dc_field(default_factory=list)
    must: Optional[object] = None
    must_not: Optional[object] = None
    filter: List[object] = dc_field(default_factory=list)
    minimum_should_match: Optional[int] = None

    def effective_msm(self) -> int:
        # bool_query.ex:313-322 — default computed on the RAW filter list
        if self.minimum_should_match is not None:
            return self.minimum_should_match
        if self.should and (self.must is None or not self.filter):
            return 1
        return 0


@dataclass
class ConstantScoreNode:
    """ES ``constant_score`` (extension — the reference scores every
    clause): docs matching the wrapped query score exactly ``boost``,
    relevance discarded. The standard way to mix a hard predicate into
    a scored tree without letting its tf/idf mass move ranks."""

    inner: object
    boost: float = 1.0


@dataclass
class DisMaxNode:
    """ES ``dis_max`` (extension): per-doc score = the BEST clause
    score plus ``tie_breaker`` x the remaining clauses' scores — the
    field-disjunction combinator that avoids bool/should's sum
    double-counting when clauses are alternatives, not evidence."""

    queries: List[object]
    tie_breaker: float = 0.0
    boost: float = 1.0


@dataclass
class BoostingNode:
    """ES ``boosting`` (extension): docs matching ``positive`` score
    normally; those ALSO matching ``negative`` are demoted by
    ``negative_boost`` (0..1) instead of excluded — soft must_not."""

    positive: object
    negative: object
    negative_boost: float = 0.5


def parse(query: dict):
    """Parse a query map (the single-key root, dsl/query.ex:17-26)."""
    (kind, value), = query.items()
    return _parse(kind, value)


def _parse(kind: str, options):
    if kind == "match_all":
        boost = options.get("boost", 1) if isinstance(options, dict) else 1
        return MatchAllNode(boost=boost)
    if kind == "terms":
        return _parse_terms(options)
    if kind == "match":
        return _parse_match(options)
    if kind == "match_phrase":
        return _parse_match_phrase(options)
    if kind == "bool":
        return _parse_bool(options)
    if kind == "not":
        return NotNode(parse(options))
    if kind == "span_near":
        return _parse_span_near(options)
    if kind == "range":
        return _parse_range(options)
    if kind == "exists":
        if not isinstance(options, dict) or "field" not in options:
            raise ValueError('exists takes {"field": attr}')
        return ExistsNode(attr=options["field"],
                          boost=options.get("boost", 1))
    if kind == "constant_score":
        if not isinstance(options, dict) or "filter" not in options:
            raise ValueError(
                'constant_score takes {"filter": query[, "boost": b]}')
        return ConstantScoreNode(inner=parse(options["filter"]),
                                 boost=options.get("boost", 1))
    if kind == "dis_max":
        if not isinstance(options, dict) or not options.get("queries"):
            raise ValueError(
                'dis_max takes {"queries": [q, ...][, "tie_breaker": t]}')
        return DisMaxNode(
            queries=[parse(sub) for sub in options["queries"]],
            tie_breaker=float(options.get("tie_breaker", 0.0)),
            boost=options.get("boost", 1))
    if kind == "boosting":
        if (not isinstance(options, dict) or "positive" not in options
                or "negative" not in options):
            raise ValueError(
                'boosting takes {"positive": q, "negative": q'
                '[, "negative_boost": nb]}')
        return BoostingNode(
            positive=parse(options["positive"]),
            negative=parse(options["negative"]),
            negative_boost=float(options.get("negative_boost", 0.5)))
    raise ValueError(f"Unknown query type {kind}")


def _parse_range(options):
    from ..search.attributes import RANGE_OPS

    fields = {k: v for k, v in options.items() if k not in OPTION_KEYS}
    if len(fields) != 1:
        raise ValueError("range takes exactly one attribute: "
                         "{attr: {gte/gt/lte/lt: value}}")
    (attr, params), = fields.items()
    if not isinstance(params, dict):
        raise ValueError("range bounds must be a map of gte/gt/lte/lt")
    conds = {k: v for k, v in params.items() if k in RANGE_OPS}
    bad = set(params) - set(RANGE_OPS) - {"boost"}
    if bad or not conds:
        raise ValueError(
            f"range bounds must be a non-empty subset of {RANGE_OPS}; "
            f"got {sorted(params)}")
    return RangeNode(attr=attr, conds=conds,
                     boost=params.get("boost", options.get("boost", 1)))


def _parse_span_near(options):
    fields = {k: v for k, v in options.items() if k not in OPTION_KEYS}
    (fname, params), = fields.items()
    if not isinstance(params, dict):
        raise ValueError("span_near needs {field: {terms: [a, b], slop: n}}")
    terms = [str(t) for t in params.get("terms", [])]
    if len(terms) != 2:
        raise ValueError("span_near takes exactly two terms")
    # slop = max token-ordinal distance; ADJACENT terms have distance 1,
    # so slop=0 could never match two distinct terms — default 1 and
    # reject non-positive values rather than compile a silent no-op
    slop = int(params.get("slop", 1))
    if slop < 1:
        raise ValueError(
            f"span_near slop must be >= 1 (adjacent terms are at "
            f"ordinal distance 1), got {slop}")
    return SpanNearNode(
        field=fname, terms=terms,
        slop=slop,
        boost=params.get("boost", 1),
    )


def _fuzziness(fname, value) -> int:
    """A ``fuzziness`` option as its floor: an edit distance is an
    integer, so ``<= 1.5`` allows what ``<= 1`` does (as in Spark's
    comparison). A non-number raises a ValueError naming the field."""
    try:
        return math.floor(value)
    except (TypeError, ValueError, OverflowError):
        raise ValueError(
            f"fuzziness for field {fname!r} must be a number; "
            f"got {value!r}") from None


def _parse_terms(options):
    if not options:
        return MatchAllNode()
    # REFERENCE QUIRK, pinned by the golden query set: top-level option
    # keys mixed with field keys are DROPPED, not applied —
    # terms_query.ex:110-124 routes any >1-key map through the
    # multi-field branch, which rejects option keys and never reads
    # their values. Options are honored only inside per-field params
    # ({field: {value, minimum_should_match, ...}}).
    fields = {k: v for k, v in options.items() if k not in OPTION_KEYS}
    if len(fields) > 1:
        # multi-field sugar (terms_query.ex:110-118)
        return BoolNode(should=[_parse_terms({f: v})
                                for f, v in fields.items()])
    (fname, params), = fields.items()
    opts = params if isinstance(params, dict) else {}
    if isinstance(params, dict):
        if "value" not in params:
            raise ValueError(
                f"terms params for field {fname!r} need a 'value'; "
                f"got keys {sorted(params)}")
        terms = params["value"]
    else:
        terms = params
    terms = terms if isinstance(terms, list) else [terms]
    if any(t is None for t in terms):
        raise ValueError(f"terms for field {fname!r} must not be null")
    return TermsNode(
        field=fname,
        terms=[str(t) for t in terms],
        boost=opts.get("boost", 1),
        expand=opts.get("expand", False),
        fuzziness=_fuzziness(fname, opts.get("fuzziness", 0)),
        regex=opts.get("regex", False),
        minimum_should_match=opts.get("minimum_should_match", 1),
    )


def _parse_match(options):
    if not options:
        return MatchAllNode()
    # Same quirk as _parse_terms: option keys mixed with field keys are
    # stripped and IGNORED (per-field params are the only option
    # carrier). The reference's mixed-map behavior is stranger still —
    # match_query.ex:98-109 treats "operator" etc. as FIELD names in
    # its multi-field branch — so dropping them is the closest sane
    # reading; the oracle pins ours.
    fields = {k: v for k, v in options.items() if k not in OPTION_KEYS}
    if len(fields) > 1:
        # multi-field sugar sets msm = field count (match_query.ex:98-109)
        return BoolNode(
            should=[_parse_match({f: v}) for f, v in fields.items()],
            minimum_should_match=len(fields),
        )
    (fname, params), = fields.items()
    if not isinstance(params, dict):
        params = {"query": params}
    if params.get("query") is None:
        raise ValueError(
            f"match params for field {fname!r} need a 'query'; "
            f"got keys {sorted(set(params) - set(OPTION_KEYS))}")
    operator = params.get("operator", "or")
    default_msm = 0 if operator == "and" else 1
    return MatchNode(
        field=fname,
        query=params.get("query"),
        boost=params.get("boost", 1),
        expand=params.get("expand", False),
        fuzziness=_fuzziness(fname, params.get("fuzziness", 0)),
        operator=operator,
        minimum_should_match=params.get("minimum_should_match", default_msm),
    )


def _parse_match_phrase(options):
    if not options:
        return MatchAllNode()
    fields = {k: v for k, v in options.items() if k not in OPTION_KEYS}
    if len(fields) > 1:
        # multi-field sugar, mirroring match (match_query.ex:98-109)
        return BoolNode(
            should=[_parse_match_phrase({f: v})
                    for f, v in fields.items()])
    (fname, params), = fields.items()
    if not isinstance(params, dict):
        params = {"query": params}
    if params.get("query") is None:
        raise ValueError(
            f"match_phrase params for field {fname!r} need a 'query'")
    return MatchPhraseNode(
        field=fname,
        query=params.get("query"),
        boost=params.get("boost", 1),
        driver_max_rows=params.get("driver_max_rows"),
    )


def _parse_bool(options):
    should = options.get("should")
    should = [] if should is None else (should if isinstance(should, list) else [should])
    should = [parse(s) for s in should]

    filt = options.get("filter")
    filt = [] if filt is None else (filt if isinstance(filt, list) else [filt])
    filt = [parse(f) for f in filt]

    must = options.get("must")
    must = parse(must) if must is not None else None
    must_not = options.get("must_not")
    must_not = parse(must_not) if must_not is not None else None

    msm = options.get("minimum_should_match")
    if msm is not None and not msm <= len(should):
        msm = None  # bool_query.ex:296-311: kept only when <= #should
    return BoolNode(should=should, must=must, must_not=must_not,
                    filter=filt, minimum_should_match=msm)


def rewrite_match(node: MatchNode, analyzer_pipeline):
    """match -> terms/match_all after analyzing the query string with the
    field's (query-)pipeline (match_query.ex:34-83). Driver-side: the
    query string is tiny."""
    tokens = analyzer_pipeline.run(node.query)
    n = len(tokens)
    if n == 0:
        return MatchAllNode()
    if n == 1:
        return TermsNode(
            field=node.field, terms=[tokens[0].token], boost=node.boost,
            expand=node.expand, fuzziness=node.fuzziness,
        )
    msm = node.minimum_should_match
    if node.operator == "and" and msm == 0:
        msm = n
    return TermsNode(
        field=node.field, terms=[t.token for t in tokens], boost=node.boost,
        expand=node.expand, fuzziness=node.fuzziness, minimum_should_match=msm,
    )


def rewrite_match_phrase(node: MatchPhraseNode, analyzer_pipeline):
    """match_phrase -> phrase/terms/match_all after analyzing the query
    string (same driver-side rewrite shape as rewrite_match). A single
    analyzed token degenerates to a plain terms lookup; zero tokens to
    match_all."""
    tokens = analyzer_pipeline.run(node.query)
    n = len(tokens)
    if n == 0:
        return MatchAllNode()
    if n == 1:
        return TermsNode(field=node.field, terms=[tokens[0].token],
                         boost=node.boost)
    return PhraseNode(field=node.field, terms=[t.token for t in tokens],
                      boost=node.boost,
                      driver_max_rows=node.driver_max_rows)
