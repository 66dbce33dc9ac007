"""User-facing Index API — the Spark equivalent of the reference's
``Elasticlunr.Index`` (core/index.ex): declare fields + analyzers, add
documents, search with the query DSL or string sugar.

    from ex_elasticlunr_spark import Index

    idx = (Index(name="transcripts")
           .add_field("text")
           .add_field("tool"))
    idx.add_documents(df, docid_col="docid")          # builds the index
    idx.search({"query": {"match": {"text": "quick fox"}}}, top_k=10)
    idx.search("quick fox", top_k=10)                  # string sugar
    idx.search_bm25("quick fox", top_k=10)             # BM25 mode

Documents are DataFrames, not maps; the docid column plays the role of
the reference's ``ref`` field (default "id", index.ex:39-40).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build.indexer import InvertedIndex, build_index
from .dsl.executor import QueryExecutor
from .functions.udfs import AnalyzerConfig

class Index:
    def __init__(self, name: str = "index", ref: str = "id",
                 store_positions: bool = True,
                 pipeline: Optional[AnalyzerConfig] = None):
        self.name = name
        self.ref = ref
        self.store_positions = store_positions
        self.default_analyzer = pipeline or AnalyzerConfig()
        self.analyzers: Dict[str, AnalyzerConfig] = {}
        self.inverted: Optional[InvertedIndex] = None
        self._attributes: Optional[DataFrame] = None

    # -- schema ----------------------------------------------------------
    def add_field(self, name: str,
                  analyzer: Optional[AnalyzerConfig] = None) -> "Index":
        self.analyzers[name] = analyzer or self.default_analyzer
        return self

    # -- build / maintain --------------------------------------------------
    def add_documents(self, source: DataFrame,
                      docid_col: Optional[str] = None,
                      dedupe: bool = True) -> "Index":
        """``dedupe=False`` skips the duplicate-docid guard when the
        source keys are unique by data contract (build/indexer.py)."""
        docid_col = docid_col or self.ref
        if self.inverted is None:
            self.inverted = build_index(
                source, fields=list(self.analyzers), docid_col=docid_col,
                analyzers=self.analyzers, store_positions=self.store_positions,
                dedupe=dedupe,
            )
        else:
            self.inverted = self.inverted.add_documents(source, docid_col,
                                                        dedupe=dedupe)
        return self

    def update_documents(self, source: DataFrame,
                         docid_col: Optional[str] = None) -> "Index":
        self.inverted = self.inverted.update_documents(
            source, docid_col or self.ref)
        return self

    def remove_documents(self, docids: DataFrame) -> "Index":
        self.inverted = self.inverted.remove_documents(docids)
        return self

    def materialize(self) -> "Index":
        self.inverted.materialize()
        return self

    def save(self, path: str) -> "Index":
        self.inverted.save(path)
        return self

    def save_delta(self) -> "Index":
        """Persist pending add/update/remove ops as an appended
        GENERATION of the warehouse this index was loaded from — no
        base rewrite (build/deltas.py, Lucene's segment model)."""
        self.inverted.save_delta()
        return self

    def compact(self) -> "Index":
        """Fold all generations (and tombstones) back into a single
        base — the top-tier merge (physical: re-clusters postings and
        folds tombstones away; stats are exact either way)."""
        self.inverted.compact()
        return self

    def compact_tiered(self, tail: Optional[int] = None,
                       tier_ratio: float = 4.0) -> "Index":
        """Tiered merge: fold only the newest run of small generations
        into one mid-tier generation, base untouched — per-cycle cost
        bounded by the folded generations' size (build/deltas.py)."""
        self.inverted.compact_tiered(tail=tail, tier_ratio=tier_ratio)
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str, name: str = "index",
             at: Optional[int] = None) -> "Index":
        """Bind a saved warehouse; ``at`` time-travels to a committed
        version by ``commit_seq`` (see Index.snapshots /
        build/indexer.py list_snapshots)."""
        idx = cls(name=name)
        idx.inverted = InvertedIndex.load(spark, path, at=at)
        idx.analyzers = idx.inverted.analyzers
        return idx

    @staticmethod
    def snapshots(path: str) -> list:
        """Readable committed versions of the warehouse at ``path``,
        oldest first (commit_seq, kind full/delta, snapshot_seq,
        n_generations, max_ord) — Iceberg snapshot-history analogue."""
        from .build.indexer import list_snapshots

        return list_snapshots(path)

    def more_like_this(self, text: str, field: str,
                       max_query_terms: int = 10,
                       top_k: Optional[int] = None,
                       mode: str = "elasticlunr") -> DataFrame:
        """Lucene/Elasticsearch MoreLikeThis: rank documents by
        similarity to ``text`` — analyze it, keep the
        ``max_query_terms`` highest tf*idf terms (ties broken on the
        term string), and run them as a terms query.

        Takes the seed TEXT, not a docid: a by-docid lookup against the
        term-clustered postings would be a full scan at scale, and the
        caller's source-of-truth store has the text anyway. The seed
        analysis and term selection are driver-side (seed-sized); only
        the final terms query touches the cluster, with the usual
        pushed In(term, ...) pruning.
        """
        from pyspark.sql import functions as F

        from .functions.literals import empty_df, in_expr, inline_rows

        pipe = self.analyzers[field].to_query_pipeline()
        spark = self.inverted.postings.sparkSession
        empty = empty_df(spark, "docid string, score double")
        toks = pipe.run_terms(str(text))
        if not toks:
            return empty
        tf: Dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        seed = inline_rows(spark, sorted(tf.items()), "term string, tf long")
        picked = [
            r["term"]
            for r in (
                self.inverted.term_stats
                .where((F.col("field") == field)
                       & in_expr("term", list(tf)))
                .join(F.broadcast(seed), "term")
                .orderBy(F.desc(F.col("tf") * F.col("idf")), F.asc("term"))
                .limit(max_query_terms)
                .select("term")
                .collect()
            )
        ]
        if not picked:
            return empty
        return self.search(
            {"query": {"terms": {field: {"value": picked}}}},
            top_k=top_k, mode=mode)

    def describe(self) -> dict:
        """Warehouse summary: layout version, generations (delta
        maintenance state), per-field vocabulary sizes, document count.
        Driver-side manifest metadata plus two small jobs (doc count +
        vocabulary-sized count)."""
        import json
        import os

        from pyspark.sql import functions as F

        inv = self.inverted
        out = {
            "name": self.name,
            "fields": list(self.analyzers),
            "store_positions": inv.store_positions,
            "documents": self.documents_size(),
            "vocabulary": {
                r["field"]: r["n"]
                for r in inv.term_stats.groupBy("field")
                .agg(F.count(F.lit(1)).alias("n")).collect()
            },
        }
        if inv._path:
            with open(os.path.join(inv._path, "manifest.json")) as fh:
                m = json.load(fh)
            out["path"] = inv._path
            out["version"] = m.get("version")
            out["generations"] = [
                {"name": e["name"], "adds": e.get("has_adds", False),
                 "tombstones": e.get("tombstones", False),
                 "tag": e.get("tag")}
                for e in m.get("generations", [])
            ]
        return out

    def documents_size(self) -> int:
        """Max over fields of the per-field id-count (B6, reference
        core/index.ex:161-175 ``update_documents_size``): the ref/id
        field indexes every document, the per-content fields index the
        docs with non-null content."""
        from pyspark.sql import functions as F

        row = (
            self.inverted.doc_stats.groupBy("field")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .first()
        )
        per_field = row["m"] if row and row["m"] is not None else 0
        return max(self.inverted.docs.count(), per_field)

    # -- introspection (reference Q17: field.ex:44-75,207-215) -------------
    def documents(self, field: str) -> DataFrame:
        """All docids indexed under ``field`` (Field.documents/1)."""
        from pyspark.sql import functions as F

        return self.inverted.doc_stats.where(F.col("field") == field) \
            .select("docid")

    def has_token(self, field: str, term: str) -> bool:
        """Field.has_token/2."""
        from pyspark.sql import functions as F

        return not self.inverted.term_stats.where(
            (F.col("field") == field) & (F.col("term") == term)
        ).isEmpty()

    def term_frequency(self, field: str, term: str) -> DataFrame:
        """(docid, tf) for a term — Field.term_frequency/2 (tf = sqrt of
        the raw count, field.ex:235). On a loaded v5 index the narrow
        postings carry no docid; the term's (pruned, term-df-sized) rows
        resolve docids via the ordinals table."""
        from pyspark.sql import functions as F

        post = self.inverted.postings.where(
            (F.col("field") == field) & (F.col("term") == term))
        if "docid" not in post.columns:
            post = post.join(self.inverted.ordinals_df(), "ord")
        return post.select("docid", "tf")

    def get_token(self, field: str, term: str):
        """Field.get_token/2: {term, idf, norm, df, documents} or None."""
        from pyspark.sql import functions as F

        row = self.inverted.term_stats.where(
            (F.col("field") == field) & (F.col("term") == term)
        ).first()
        if row is None:
            return None
        fs = self.inverted.field_stats.where(F.col("field") == field).first()
        docs = self.inverted.postings_full.where(
            (F.col("field") == field) & (F.col("term") == term)
        )
        if "docid" not in docs.columns:
            docs = docs.join(self.inverted.ordinals_df(), "ord")
        if "positions" not in docs.columns:
            docs = docs.withColumn(
                "positions", F.lit(None).cast("array<int>"))
        docs = docs.select("docid", "tf_raw", "positions")
        return {
            "term": term,
            "idf": row["idf"],
            "df": row["df"],
            "norm": fs["flnorm"] if fs else 0.0,
            "documents": docs,
        }

    def tokens(self, field: str) -> DataFrame:
        """All vocabulary tokens with stats — Field.tokens/1."""
        from pyspark.sql import functions as F

        return self.inverted.term_stats.where(F.col("field") == field) \
            .select("term", "df", "idf")

    # -- search ------------------------------------------------------------
    def bind_attributes(self, df: DataFrame,
                        docid_col: str = "docid",
                        dedupe: bool = False) -> "Index":
        """Bind a docid-keyed doc-attribute table (timestamps, sources,
        conversation ids — any typed columns) for ``range`` clauses,
        ``facet_date_histogram`` and ``search_collapse``. Typically the
        corpus table itself: attributes are NOT index state (the
        warehouse stores postings, not documents), so a loaded index
        re-binds them from the same table it was built over.

        CONTRACT: rows must be docid-unique — duplicate attribute rows
        would multiply membership scores, facet counts and collapse
        group sizes through the attribute joins. When the source can
        carry duplicates (the same raw corpora add_documents guards
        against), pass ``dedupe=True``: keeps the lexicographically
        smallest row per docid (deterministic, unlike dropDuplicates'
        arbitrary pick) at the cost of one shuffle on first use.

        At scale the binding is lazy — nothing is scanned until a query
        uses an attribute, and then only the referenced columns with the
        range predicate pushed into the scan."""
        cols = [F.col(docid_col).cast("string").alias("docid")]
        cols += [F.col(c) for c in df.columns if c != docid_col]
        attrs = df.select(*cols)
        if dedupe:
            from pyspark.sql.window import Window

            others = [c for c in attrs.columns if c != "docid"]
            w = Window.partitionBy("docid").orderBy(
                *[F.col(c).asc_nulls_last() for c in others])
            attrs = (attrs.withColumn("__rn", F.row_number().over(w))
                     .where(F.col("__rn") == 1).drop("__rn"))
        self._attributes = attrs
        return self

    def facet_date_histogram(self, query, attr: str,
                             interval: str = "day",
                             min_count: int = 1,
                             mode: str = "elasticlunr") -> DataFrame:
        """date_histogram aggregation: matched-doc counts of ``query``
        bucketed by ``date_trunc(interval, attr)`` — DataFrame(bucket,
        doc_count) ordered by bucket (search/attributes.py)."""
        from .search.attributes import facet_date_histogram

        if self._attributes is None:
            raise ValueError("facet_date_histogram needs bound "
                             "attributes (Index.bind_attributes)")
        scored = self.executor(mode=mode).scored_docids(query)
        return facet_date_histogram(scored, self._attributes, attr,
                                    interval=interval,
                                    min_count=min_count)

    def facet_stats(self, query, attr: str,
                    mode: str = "elasticlunr") -> DataFrame:
        """ES ``stats`` aggregation: one row of doc_count / min_v /
        max_v / avg_v / sum_v for a NUMERIC attribute over the docs
        matching ``query`` (search/attributes.py)."""
        from .search.attributes import facet_stats

        if self._attributes is None:
            raise ValueError("facet_stats needs bound attributes "
                             "(Index.bind_attributes)")
        scored = self.executor(mode=mode).scored_docids(query)
        return facet_stats(scored, self._attributes, attr)

    def search_decay(self, query, attr: str, origin, scale: float,
                     decay: float = 0.5, shape: str = "exp",
                     top_k: Optional[int] = 10,
                     mode: str = "elasticlunr") -> DataFrame:
        """function_score-style decay rescoring: ``query``'s scores
        multiplied by an exp/gauss/linear decay of the attribute's
        distance from ``origin`` (timestamps: seconds), then the usual
        deterministic (score desc, docid asc) top-k. For transcripts
        this is "recent turns rank higher" (search/attributes.py
        decay_scores)."""
        from .search.attributes import decay_scores

        if self._attributes is None:
            raise ValueError("search_decay needs bound attributes "
                             "(Index.bind_attributes)")
        scored = self.executor(mode=mode).scored_docids(query)
        out = decay_scores(scored, self._attributes, attr, origin,
                           scale, decay=decay, shape=shape)
        out = out.orderBy(F.desc("score"), F.asc("docid"))
        return out.limit(top_k) if top_k is not None else out

    def search_collapse(self, query, attr: str, top_k: int = 10,
                        mode: str = "elasticlunr", **kw) -> DataFrame:
        """Field collapsing: the best-scoring doc per value of ``attr``
        — DataFrame(<attr>, docid, score, group_size) in (score desc,
        docid asc) order, limited to the ``top_k`` best groups. For
        transcripts this is "best turn per conversation"
        (search/attributes.py collapse_top)."""
        from .search.attributes import collapse_top

        if self._attributes is None:
            raise ValueError("search_collapse needs bound attributes "
                             "(Index.bind_attributes)")
        scored = self.executor(mode=mode, **kw).scored_docids(query)
        return collapse_top(scored, self._attributes, attr, top_k=top_k)

    def with_query_synonyms(self, mapping: dict,
                            fields: Optional[list] = None) -> "Index":
        """A query-time synonym VIEW of this index: same inverted index
        (nothing rebuilt or copied), but query strings analyze through
        an appended SynonymFilter so each mapped token also matches its
        synonyms. Write the mapping in the pipeline's OUTPUT form
        (stemmed, for the default pipeline): {"rapid": ["fast"]}
        bridges query vocabulary the corpus never uses.

        Scoring: synonyms are alternatives — elasticlunr mode takes the
        max over terms, BM25 sums matched entries (each doc matches one
        variant in practice). Caveat: ``operator:"and"`` / msm counts
        run over the EXPANDED token list (a graph-aware rewrite is out
        of scope), so keep synonyms on default-OR queries.
        """
        import copy

        from .analysis.pipeline import Pipeline as _Pipeline
        from .analysis.synonyms import SynonymFilter

        filt = SynonymFilter(mapping)
        out = copy.copy(self)
        out.analyzers = dict(self.analyzers)
        for f in (fields if fields is not None else list(self.analyzers)):
            cfg = copy.copy(self.analyzers[f])
            base = cfg.to_query_pipeline()
            cfg.query_pipeline = _Pipeline(
                list(base.callbacks) + [filt], base.separator,
                unicode=base.unicode)
            out.analyzers[f] = cfg
        return out

    def executor(self, mode: str = "elasticlunr", **kw) -> QueryExecutor:
        return QueryExecutor(self.inverted, mode=mode,
                             attributes=self._attributes,
                             analyzers=self.analyzers, **kw)

    def search(self, query, top_k: Optional[int] = None,
               options: Optional[dict] = None, mode: str = "elasticlunr",
               include_details: bool = False,
               search_after: Optional[tuple] = None, **kw) -> DataFrame:
        """DSL map / string / field-map search -> DataFrame(docid, score)
        ordered (score desc, docid asc), mirroring index.ex:177-266 (plus
        the top-k the reference lacks).

        ``include_details``: emit the reference's full result shape
        %{ref, score, matched, positions} (index.ex:258-266) as extra
        ``matched``/``positions`` columns (DSL-map queries only).

        ``search_after``: ES-style cursor pagination — a ``(score,
        docid)`` pair (the previous page's LAST row, exact values);
        only docs strictly after it in the result order are returned,
        so deep pages never pay an offset scan. Cursor queries stay on
        the exhaustive executor (WAND's threshold pruning is seeded per
        page independently; routing them is future work)."""
        if self.inverted is None:
            raise RuntimeError(
                f"index {self.name!r} has no documents — call "
                "add_documents() (or load()) before search()")
        ex = self.executor(mode=mode, **kw)
        if query is None:
            spark = self.inverted.postings.sparkSession
            return spark.createDataFrame([], "docid string, score double")
        if search_after is None:
            routed = self._route_wand(query, top_k, options, mode,
                                      include_details, kw)
            if routed is not None:
                return routed
        if isinstance(query, str):
            if options and "fields" in options:
                boosts = {f: v.get("boost", 0) for f, v in options["fields"].items()}
                return ex.search_text(query, top_k=top_k, field_boosts=boosts,
                                      search_after=search_after)
            return ex.search_text(query, top_k=top_k,
                                  search_after=search_after)
        if isinstance(query, dict) and "query" in query:
            return ex.execute(query, top_k=top_k,
                              include_details=include_details,
                              search_after=search_after)
        if isinstance(query, dict):
            # map-query sugar (index.ex:229-256)
            opts = options or {}
            operator = str(opts.get("bool", "or")).lower()
            expand = opts.get("expand", False)
            should = [
                {"match": {f: {"query": content, "operator": operator,
                               "expand": expand}}}
                for f, content in query.items()
            ]
            boolq = {"query": {"bool": {"should": should}}}
            # the desugared bool-of-match is itself a routable shape
            if search_after is None:
                routed = self._route_wand(boolq, top_k, None, mode,
                                          include_details, kw)
                if routed is not None:
                    return routed
            return ex.execute(boolq, top_k=top_k,
                              search_after=search_after)
        raise ValueError("Root object must have a query element")

    def _route_wand(self, query, top_k, options, mode: str,
                    include_details: bool, kw: dict):
        """Block-max WAND routing for ``search()``: a finite top-k
        terms/match query — a single terms/match leaf (exact terms,
        ``operator: and``/msm, prefix, fuzzy or regex expansion), the
        string-search sugar (every field in one segments pass), or a
        bool of terms/match leaves — on an index whose segments are
        ALREADY bound (a loaded v5 warehouse, or after any explicit
        search_wand call) serves through ``search/wand.py`` —
        rank-identical by the tests/test_segments_wand.py identity
        suites, and pinned routed==unrouted by
        tests/test_wand_routing.py. Returns None (caller falls through
        to the exhaustive executor) when the query shape, options, or
        index state don't qualify; never triggers a segment build on
        its own (a one-off query on a fresh in-memory index must not
        pay the encode).

        Every eligible leaf takes this one route, whatever its terms'
        density or the state of the caches: on a bound warehouse the
        driver-served plan reads its rows from the snapshot's files
        (build/files.py) and runs no Spark job, which no exhaustive
        plan can match. ``DRIVER_SERVE_BYTES`` (search/wand.py) still
        sends oversize candidate sets to the distributed WAND plan."""
        import os as _os

        if (include_details or not isinstance(top_k, int) or top_k <= 0
                or mode not in ("elasticlunr", "bm25")
                or set(kw) - {"k1", "b"}
                or self.inverted._segments is None
                or _os.environ.get("EX_SPARK_NO_WAND_ROUTE")):
            return None
        if isinstance(query, str):
            boosts = None
            if options and "fields" in options:
                boosts = {f: v.get("boost", 0)
                          for f, v in options["fields"].items()}
            elif options:
                return None
            served = [f for f in self.analyzers
                      if boosts is None or boosts.get(f, 0) > 0]
            if len(served) < 2:
                # one served field: the executor's single-field plan
                # (the sugar's per-field analysis and boosts)
                return None
            return self.search_wand_text(query, top_k=top_k,
                                         field_boosts=boosts, mode=mode,
                                         **kw)
        if not (isinstance(query, dict) and "query" in query):
            return None
        from .dsl.nodes import BoolNode, MatchNode, TermsNode, parse

        try:
            node = parse(query["query"])
        except Exception:
            return None  # let the executor raise its own error shape

        def _leaf(n):
            """terms/match leaf -> TermsNode, else None (ineligible)."""
            if isinstance(n, MatchNode):
                if n.field not in self.analyzers:
                    return None
                from .dsl.nodes import rewrite_match

                n = rewrite_match(
                    n, self.analyzers[n.field].to_query_pipeline())
            if (not isinstance(n, TermsNode)
                    or n.field not in self.analyzers
                    or not n.boost or n.boost <= 0):
                # boost <= 0 zeroes clause scores and the executor's
                # score>0 filter then decides membership — keep that
                # edge on the exhaustive path
                return None
            return n

        if isinstance(node, BoolNode):
            # bool(must?, must_not?, should*) of terms/match leaves
            # rides the multi-clause WAND: must -> a REQUIRED clause,
            # must_not -> a NEGATIVE clause (pure exclusion — the
            # executor replaces the NotNode's score with the must
            # result, so it needs a must to ride with), shoulds ->
            # optional clauses, query msm = the executor's
            # effective_msm (counts matching optional clauses; base
            # docs enter the should union with matched=0 —
            # dsl/executor.py _compile_bool). filter chains and
            # must_not-without-must (whose NotNode score SEEDS the
            # base) keep the exhaustive path.
            if node.filter or (node.must_not is not None
                               and node.must is None):
                return None
            leaves = []
            if node.must is not None:
                m = _leaf(node.must)
                if m is None:
                    return None
                leaves.append((m, "required"))
            if node.must_not is not None:
                n_ = _leaf(node.must_not)
                if n_ is None:
                    return None
                leaves.append((n_, "negative"))
            for c in node.should:
                s = _leaf(c)
                if s is None:
                    return None
                leaves.append((s, "optional"))
            if len(leaves) < 2:
                # a one-leaf bool keeps the executor's bool algebra
                return None
            from .search.wand import resolve_clause, wand_topk_multi

            clauses = [
                resolve_clause(self.inverted, n.field, list(n.terms),
                               boost=n.boost,
                               msm=max(n.minimum_should_match, 1),
                               expand=n.expand, fuzziness=n.fuzziness,
                               regex=n.regex, required=(role == "required"),
                               negative=(role == "negative"))
                for n, role in leaves
            ]
            return wand_topk_multi(self.inverted, clauses, k=top_k,
                                   mode=mode, msm=node.effective_msm(),
                                   **kw)

        leaf = _leaf(node)
        if leaf is None:
            return None
        from .search.wand import wand_topk

        return wand_topk(self.inverted, leaf.field, list(leaf.terms),
                         k=top_k, mode=mode, boost=leaf.boost,
                         expand=leaf.expand, fuzziness=leaf.fuzziness,
                         regex=leaf.regex,
                         msm=max(leaf.minimum_should_match, 1), **kw)

    def facet(self, query, field: str, top_n: int = 10,
              min_count: int = 1) -> DataFrame:
        """Term facet over the docs matching ``query``: the ``top_n``
        most frequent terms of ``field`` among the matched docs as
        DataFrame(term, doc_count), ties broken on the term.

        An aggregation layer the reference lacks (its result shape is
        the flat hit list, core/index.ex:258-266) — implemented over
        the compiled query subtree pre-docid-translation, so the facet
        join runs on the narrow ord key (search/facets.py)."""
        from .dsl.nodes import parse
        from .search.facets import facet_terms

        ex = self.executor()
        node = parse(query.get("query", query)
                     if isinstance(query, dict) else query)
        matches = ex.compile(node)
        return facet_terms(self.inverted, matches, field, top_n=top_n,
                           min_count=min_count)

    def significant_terms(self, query, field: str, top_n: int = 10,
                          min_doc_count: int = 2) -> DataFrame:
        """ES ``significant_terms`` aggregation: terms anomalously
        frequent in ``query``'s matched docs vs the whole corpus, JLH
        scored — DataFrame(term, fg_count, bg_count, score), (score
        desc, term asc) top-n (search/facets.py). Background stats come
        from the saved vocabulary tables, never a second corpus pass."""
        from .dsl.nodes import parse
        from .search.facets import significant_terms

        ex = self.executor()
        node = parse(query.get("query", query)
                     if isinstance(query, dict) else query)
        matches = ex.compile(node)
        return significant_terms(self.inverted, matches, field,
                                 top_n=top_n, min_doc_count=min_doc_count)

    def facet_histogram(self, query, attr: str, interval: float,
                        min_count: int = 1,
                        mode: str = "elasticlunr") -> DataFrame:
        """ES ``histogram`` aggregation: matched-doc counts of ``query``
        in fixed-width buckets of a bound NUMERIC attribute —
        DataFrame(bucket, doc_count) ordered by bucket, bucket =
        floor(attr/interval)*interval (search/attributes.py)."""
        from .search.attributes import facet_histogram

        if self._attributes is None:
            raise ValueError("facet_histogram needs bound attributes "
                             "(Index.bind_attributes)")
        scored = self.executor(mode=mode).scored_docids(query)
        return facet_histogram(scored, self._attributes, attr,
                               interval=interval, min_count=min_count)

    def matches(self, query, mode: str = "elasticlunr") -> DataFrame:
        """The UNSORTED matched set of ``query`` — DataFrame(<doc key>,
        score) straight from the compiled subtree, before the ord->docid
        translation join, global sort, and limit that ``search`` adds.
        The right input for aggregation-only consumers (counts, facets,
        set operations between queries)."""
        from .dsl.nodes import parse

        ex = self.executor(mode=mode)
        node = parse(query.get("query", query)
                     if isinstance(query, dict) else query)
        return ex.compile(node)

    def explain(self, query, mode: str = "elasticlunr") -> str:
        """The physical plan of ``query`` as a string — the debugging
        surface for the layout's core promise: on a loaded index the
        scan line must show ``PushedFilters: [..., In(term, ...)]`` (or
        StartsWith) and a pruned ReadSchema. Pair with
        ``tests/test_pushdown.py``, which pins the same shape in CI."""
        df = self.matches(query, mode=mode)
        return df._jdf.queryExecution().executedPlan().toString()

    def count(self, query, mode: str = "elasticlunr") -> int:
        """Matching-doc count for ``query`` — the hits.total of the
        serving API, as an agg-only job (no translation, no sort, no
        top-k)."""
        return self.matches(query, mode=mode).count()

    def keywords(self, field: str, top_n: int = 5) -> DataFrame:
        """Per-document tf-idf keywords: DataFrame(docid, term, score,
        rank) with the ``top_n`` highest tf-idf terms of every doc
        (search/facets.py keywords_tfidf)."""
        from .search.facets import keywords_tfidf

        return keywords_tfidf(self.inverted, field, top_n=top_n)

    def suggest(self, prefix: str, field: str, top_n: int = 10) -> DataFrame:
        """Prefix autocomplete over the vocabulary: DataFrame(term, df)
        of the ``top_n`` terms of ``field`` starting with ``prefix``,
        most-frequent first, ties broken on the term.

        The typeahead companion of ``expand`` terms queries
        (terms_query.ex prefix expansion) served from vocabulary-sized
        ``term_stats`` alone — a pushed StartsWith over the stats scan
        plus a TakeOrdered; postings are never touched."""
        from pyspark.sql import functions as F

        t = self.inverted.term_stats.where(
            (F.col("field") == field) & F.col("term").startswith(prefix))
        return (t.select("term", "df")
                .orderBy(F.desc("df"), F.asc("term")).limit(top_n))

    def did_you_mean(self, word: str, field: str, top_n: int = 5,
                     max_edits: int = 1) -> DataFrame:
        """Spell suggestions (the term-suggester companion of
        ``suggest``): DataFrame(term, df, dist) of the vocabulary terms
        within ``max_edits`` Levenshtein edits of the ANALYZED input
        word — the word itself excluded — ranked (distance asc, df
        desc, term asc), fully deterministic (term is unique).

        Served from vocabulary-sized ``term_stats`` alone, like
        ``suggest``: a length-banded scan + a JVM-side levenshtein —
        the same edit-ball resolve terms_fuzzy uses
        (search/scorer.py), surfaced as its own API. An input whose
        analysis yields no term (stopword, empty) suggests nothing."""
        from pyspark.sql import functions as F

        terms = self.analyzers[field].to_query_pipeline().run_terms(word)
        spark = self.inverted.term_stats.sparkSession
        if not terms:
            return spark.createDataFrame(
                [], "term string, df bigint, dist int")
        term = terms[0]
        t = self.inverted.term_stats.where(F.col("field") == field).where(
            F.length("term").between(len(term) - max_edits,
                                     len(term) + max_edits))
        return (t.withColumn(
                    "dist",
                    F.levenshtein(F.col("term"), F.lit(term)).cast("int"))
                .where((F.col("dist") > 0) & (F.col("dist") <= max_edits))
                .select("term", "df", "dist")
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(top_n))

    def search_bm25(self, query, top_k: Optional[int] = None,
                    k1: float = 1.2, b: float = 0.75) -> DataFrame:
        return self.search(query, top_k=top_k, mode="bm25", k1=k1, b=b)

    def search_many(self, queries, field: str, top_k: int = 10,
                    mode: str = "bm25", k1: float = 1.2,
                    b: float = 0.75) -> DataFrame:
        """Bulk multi-query top-k in ONE Spark job: ``queries`` is
        {query_id: text} (driver-side, union-of-terms pushed into the
        postings scan) or a DataFrame(query_id, query_text) for
        corpus-sized query sets. Returns DataFrame(query_id, docid,
        score, rank) — see search/batch.py for the plan shape."""
        from .search.batch import search_many as _sm

        # pass THIS index's analyzer config: query-time views
        # (with_query_synonyms) live on the Index, not on the inverted
        # tables — bulk search must analyze like single-query search
        return _sm(self.inverted, queries, field, top_k=top_k, mode=mode,
                   k1=k1, b=b, analyzer=self.analyzers[field])

    def search_wand(self, text: str, field: str, top_k: int = 10,
                    mode: str = "bm25", k1: float = 1.2, b: float = 0.75,
                    block_size: int = 4096, expand: bool = False,
                    fuzziness: int = 0, regex: bool = False,
                    operator: str = "or",
                    minimum_should_match: int = 1) -> DataFrame:
        """Block-max WAND fast path (search/wand.py): analyze ``text``
        with the field's pipeline, top-k via block-max pruning over the
        compressed segments. Rank-identical to search()/search_bm25()
        for single-field queries at ANY minimum_should_match —
        ``operator="and"`` (every analyzed term must match,
        match_query.ex:52-60) sets msm to the term count, and prefix
        (``expand``), ``fuzziness`` and ``regex`` expansion resolve
        against the vocabulary first, then prune like exact terms."""
        from .search.wand import wand_topk

        terms = self.analyzers[field].to_query_pipeline().run_terms(text)
        if regex:
            terms = [text]  # patterns must not go through the analyzer
        msm = (len(terms) if operator == "and"
               else max(int(minimum_should_match), 1))
        return wand_topk(self.inverted, field, terms, k=top_k, mode=mode,
                         k1=k1, b=b, block_size=block_size, expand=expand,
                         fuzziness=fuzziness, regex=regex, msm=msm)

    def search_wand_text(self, text: str, top_k: int = 10,
                         field_boosts: Optional[dict] = None,
                         mode: str = "bm25", k1: float = 1.2,
                         b: float = 0.75,
                         block_size: int = 4096) -> DataFrame:
        """The string-search sugar on the WAND fast path: one segments
        pass scores EVERY indexed field (per-field analyzers and
        optional boosts, boost <= 0 drops the field — index.ex:181-224)
        — rank-identical to ``search(text)`` / executor.search_text's
        bool/should-of-match plan, which it replaces as the flagship
        serving path. Falls back to the exhaustive executor when a
        field's analysis is degenerate (zero tokens => match_all
        semantics, which segments cannot express)."""
        from .search.wand import resolve_clause, wand_topk_multi

        if field_boosts:
            fields = {f: float(bv) for f, bv in field_boosts.items()
                      if bv > 0}
        else:
            fields = {f: 1.0 for f in self.analyzers}
        clauses = []
        for f, bv in fields.items():
            terms = self.analyzers[f].to_query_pipeline().run_terms(text)
            if not terms:
                # match_all clause — not segment-expressible; exhaustive
                ex = self.executor(mode=mode, k1=k1, b=b)
                return ex.search_text(text, top_k=top_k,
                                      field_boosts=field_boosts)
            clauses.append(resolve_clause(self.inverted, f, terms, boost=bv))
        return wand_topk_multi(self.inverted, clauses, k=top_k, mode=mode,
                               k1=k1, b=b, msm=1, block_size=block_size)
