"""The reference query set (FIXTURES.md §3, adapted from the
reference's dsl_test.exs cases) as a single source of truth for the
rank-identity referee: tests/test_spark_engine.py proves rate == 1.0
per query (the BASELINE.json headline metric is "BM25 top-10
rank-identity rate on the reference query set").

`reference_query_set(field)` parameterizes the searched field so the
same cases run over the golden corpus ("content") and the transcripts
table ("text") — the transcript vocabulary deliberately contains the
golden-corpus words (sources/transcripts.py).
"""

from __future__ import annotations


def reference_query_set(field: str = "content") -> list[dict]:
    f = field
    return [
        {"query": {"match_all": {}}},
        {"query": {"terms": {f: "fox"}}},
        {"query": {"terms": {f: {"value": "fox", "boost": 2}}}},
        {"query": {"bool": {"must": {"terms": {f: "lorem"}},
                            "should": [{"terms": {f: "dog"}}]}}},
        {"query": {"bool": {"must": {"terms": {f: "lorem"}},
                            "must_not": {"terms": {f: "ipsum"}},
                            "should": [{"terms": {f: "dog"}}]}}},
        {"query": {"match": {f: "brown fox"}}},
        {"query": {"match": {f: {"query": "brown fox quick",
                                 "minimum_should_match": 2}}}},
        {"query": {"match": {f: {"query": "fox quick",
                                 "operator": "and"}}}},
        {"query": {"not": {"bool": {"should": [
            {"match": {f: "quick"}},
            {"match": {f: "lorem"}}]}}}},
        {"query": {"terms": {f: {"value": "liveboo", "expand": True}}}},
        {"query": {"terms": {f: {"value": "fax", "fuzziness": 1}}}},
        {"query": {"bool": {"filter": [{"terms": {f: "dog"}}],
                            "should": [{"terms": {f: "quick"}}]}}},
        {"query": {"match": {f: "elixir livebook"}}},
        {"query": {"terms": {f: ["quick", "fox", "lorem"],
                             "minimum_should_match": 2}}},
        # not inside a filter chain: the reference forwards the previous
        # clause's survivors into the inner query (not_query.ex:23-25)
        # but rejects from the unrestricted doc universe
        {"query": {"bool": {"filter": [{"terms": {f: "lorem"}},
                                       {"not": {"terms": {f: "dog"}}}],
                            "should": [{"terms": {f: "ipsum"}}]}}},
    ]


# queries exercising the transcripts schema specifically (two fields,
# stemming pipeline, hyphenated tokens, fuzzy/prefix over the
# transcript vocabulary)
TRANSCRIPT_QUERIES = [
    {"query": {"match": {"text": "quick fox"}}},
    {"query": {"match": {"text": "elixir livebook tool"}}},
    {"query": {"match": {"text": {"query": "elixir tool",
                                  "operator": "and"}}}},
    {"query": {"bool": {"must": {"match": {"text": "elixir"}},
                        "should": [{"match": {"text": "dog"}},
                                   {"match": {"tool": "search"}}]}}},
    {"query": {"bool": {"must_not": {"match": {"text": "elixir"}},
                        "should": [{"match": {"text": "transcript"}}]}}},
    {"query": {"terms": {"text": {"value": "proj", "expand": True}}}},
    {"query": {"terms": {"text": {"value": "sprak", "fuzziness": 2}}}},
    {"query": {"match": {"text": "full-text top-k"}}},
]
