"""User-facing facade: build, load, and query a persistent BM25 index.

The reference user's whole workflow (build corpus snapshots, then ask
top-k queries — /root/reference/src/main.py) in three calls:

    eng = SearchEngine.build(spark, "/data/corpus", "/data/index")
    eng = SearchEngine.load(spark, "/data/index")       # later sessions
    eng.search("data +join", k=10).show()               # parse -> WAND

``search`` accepts the reference-style query string (whitespace terms,
'+' anywhere makes the query conjunctive — corpus.parse_query) or a
prebuilt {terms, conjunctive} dict. Loaded indexes serve shuffle-free:
postings are re-arranged bucket-co-located once and cached, so each
query is a term-pruned scan + per-bucket WAND kernel + k-row merge.
The arranged relation has one partition per core
(query/bm25.py bucket_arranged), so a query's Python kernel tasks run
in one wave. load() also takes the term lexicon (term -> df) once, so
building a query plan launches no Spark job: search() is lazy and
.collect() runs the query's only jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pisa_spark.corpus import parse_query, stem_s, stem_s_py
from pisa_spark.index.lineage import build_index_resumable, load_index
from pisa_spark.query.bm25 import bm25_topk_wand, bucket_arranged
from pisa_spark.session import local_frame

# load() holds the whole term lexicon (term -> df) in the driver when
# the vocabulary has at most this many terms; a bigger one keeps the
# per-query term-pruned df lookup (SearchEngine._term_dfs)
LEXICON_MAX_TERMS = 500_000

_BYTE_SUFFIX = {
    "b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4,
}


def _parse_bytes_conf(v) -> int:
    """Spark byte-size conf parser ('134217728', '128m', '1g', '4MB')."""
    s = str(v).strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _BYTE_SUFFIX[suf])
    return int(float(s))


class SearchEngine:
    def __init__(
        self, spark: SparkSession, postings: DataFrame, stats: dict,
        pre_arranged: bool = False,
    ):
        """pre_arranged=True asserts the postings relation is BUCKET-
        CO-LOCATED (every bucket's rows in one partition — a load()ed
        one-file-per-bucket index, or an explicit repartition(N,
        'bucket') as bench.py does). The per-bucket kernels rely on
        it: under a merely (bucket, term)-partitioned relation (the
        raw build output) a doc's per-term contributions fragment
        across partitions and the bucket-local top-k trims PARTIAL
        scores — silently wrong results. When unsure, leave False:
        the only cost is one bucket repartition per query batch."""
        self.spark = spark
        self.postings = postings
        self.stats = stats
        self._pre_arranged = pre_arranged
        self._corpus_dir: str | None = None
        self._index_root: str | None = None
        # tombstone deletes (index/deletes.py): base relation + the
        # accumulated deleted-id set; None until delete_docs is called
        self._base_postings: DataFrame | None = None
        self._tombstone_ids: DataFrame | None = None
        # reorder_by= build: ids in results/doc-store are the REORDERED
        # dense ranks; the persisted mapping resolves both directions
        self._reordered = False
        self._reorder_map_df: DataFrame | None = None
        # term -> global df for the WHOLE vocabulary, taken once by
        # load() (_load_lexicon); None = no lexicon (an engine built
        # from a relation, or a vocabulary above LEXICON_MAX_TERMS),
        # and then _df_cache is filled lazily per query instead (0 =
        # term absent). Both are valid for the lifetime of this loaded
        # snapshot: the engine serves an immutable generation, so dfs
        # cannot drift under it.
        self._lexicon: dict[str, int] | None = None
        self._df_cache: dict[str, int] = {}
        # S-stem classes of two or more vocabulary terms, for
        # search_synonyms, taken on its first call: stem -> terms from
        # the lexicon, or without one a cached (stem, term) relation
        self._stem_classes: dict[str, list[str]] | None = None
        self._stem_class_df: DataFrame | None = None
        # term -> (df, cf) for the alternative-scorer kernel (QLD/PL2/
        # DPH need collection frequency); same snapshot-lifetime rule
        self._term_stats_cache: dict[str, tuple[int, int]] = {}
        # precomputed k-th-score thresholds (query/thresholds.py):
        # term -> threshold or None (= looked up, no row); the table's
        # build K rides along, None until first lookup/precompute
        self._thr_cache: dict[str, float | None] = {}
        self._thr_table_k: int | None = None
        self._thr_df: DataFrame | None = None
        # precomputed k-gram table (query/kgram.py): (gram, term, df)
        # for pushed In(gram,…) wildcard expansion; None until
        # precompute_kgrams()/first wildcard lookup finds the table
        self._kgram_df: DataFrame | None = None
        self._kgram_checked = False
        # the corpus_stats snapshot seq a load()ed engine serves; the
        # persisted artifacts above (and the stopword table) record the
        # seq they were derived from and count as absent on a mismatch
        self._stats_seq: int | None = None

    # -- construction ------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus_dir: str,
        index_root: str,
        docs_df: DataFrame | None = None,
        **build_kwargs,
    ) -> "SearchEngine":
        """Build (or resume/extend) the persistent index, then load it.
        corpus_dir holds documents.parquet; pass docs_df instead for a
        pages-derived corpus (corpus.build_docs_from_pages)."""
        build_index_resumable(
            spark, corpus_dir, index_root, docs_df=docs_df, **build_kwargs
        )
        return cls.load(spark, index_root)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        index_root: str,
        cache: bool = True,
        as_of_ts: float | None = None,
    ) -> "SearchEngine":
        """Load the serving index bucket-co-located. cache=True pins it
        in executor memory (right when the working set fits — e.g. one
        shard of a sharded deployment); cache=False leaves queries as
        term-pruned scans straight off the catalog files, the mode for
        an index far bigger than cluster memory.

        cache=False is genuinely shuffle-free: the build writes each
        bucket as ONE data file (lineage.py clusters by bucket before
        the partitioned write), and a file no larger than the scan's
        EFFECTIVE split size is never split across scan tasks, so the
        stored layout already satisfies the WAND kernel's
        bucket-wholly-in-one-partition invariant. The effective split
        is Spark's formula — min(maxPartitionBytes, max(openCost,
        totalBytes/minPartitionNum)) — not maxPartitionBytes alone,
        which a many-core session can undercut by orders of magnitude.
        The invariant is VERIFIED against the manifest here (file
        counts + sizes through that formula); a layout that violates it
        falls back to a per-query bucket repartition (correct, one
        extra shuffle).

        Every load also takes the term lexicon (_load_lexicon, one
        aggregate job), so query planning needs no Spark job."""
        from pisa_spark.index.deletes import DELETES_TABLE
        from pisa_spark.index.lineage import POSTINGS_TABLE, STATS_TABLE
        from pisa_spark.sources import catalog

        # the corpus_stats snapshot served; None when a build published
        # new stats during the read, so no derived artifact matches
        if as_of_ts is None:
            stats_seq = catalog.current_seq(index_root, STATS_TABLE)
        else:
            stats_seq = catalog.snapshot_as_of_ts(
                index_root, STATS_TABLE, as_of_ts
            )
        postings, stats = load_index(spark, index_root, as_of_ts=as_of_ts)
        if as_of_ts is None and stats_seq != catalog.current_seq(
            index_root, STATS_TABLE
        ):
            stats_seq = None
        if cache:
            arranged = bucket_arranged(postings).cache()
            eng = cls(spark, arranged, stats, pre_arranged=True)
        elif as_of_ts is not None:
            # the one-file-per-bucket layout check below reads the
            # CURRENT manifest; a historical snapshot may predate the
            # clustered layout, so time-travel serving takes the
            # correct per-query bucket repartition instead
            eng = cls(spark, postings, stats, pre_arranged=False)
        else:
            try:
                max_files, biggest, n_files, total_bytes = (
                    catalog.partition_file_stats(index_root, POSTINGS_TABLE)
                )
                max_split = cls._effective_split_bytes(
                    spark, n_files, total_bytes
                )
                stored_ok = max_files <= 1 and biggest <= max_split
            except (FileNotFoundError, OSError):
                stored_ok = False
            eng = cls(spark, postings, stats, pre_arranged=stored_ok)
        eng._index_root = index_root
        eng._stats_seq = stats_seq
        # a reorder_by= build persists its (doc_id, new_id) mapping:
        # the index lives in new-id space, so the doc store, deletes
        # and restore() must resolve through it (index/reorder.py)
        from pisa_spark.index.reorder import REORDER_TABLE

        if catalog.table_exists(index_root, REORDER_TABLE):
            eng._reordered = True
            # a time-travel load must read the mapping AS OF the same
            # instant (a later compact may have re-ranked it)
            eng._reorder_as_of = as_of_ts
        # re-apply persisted tombstones (delete_docs(persist=True)).
        # Current-state loads only: a time-travel read serves the index
        # as it stood then, BEFORE later deletes existed.
        if as_of_ts is None and catalog.table_exists(
            index_root, DELETES_TABLE
        ):
            eng._apply_tombstones(
                catalog.read_table(spark, index_root, DELETES_TABLE)
            )
        # from the BASE (as-of) postings: tombstones keep stale stats
        eng._load_lexicon(postings)
        return eng

    def _load_lexicon(self, postings: DataFrame) -> None:
        """Take the term lexicon (term -> df = sum of n over the term's
        blocks) in one aggregate over the column-pruned catalog scan,
        collected through Arrow. The scan is the uncached relation on
        purpose: aggregating the cached one would fill the cache here.
        At most LEXICON_MAX_TERMS + 1 rows come back; a bigger
        vocabulary keeps no lexicon and _term_dfs stays lazy."""
        pdf = (
            postings.groupBy("term")
            .agg(F.sum("n").alias("df"))
            .limit(LEXICON_MAX_TERMS + 1)
            .toPandas()
        )
        if len(pdf) <= LEXICON_MAX_TERMS:
            self._lexicon = dict(
                zip(pdf["term"].tolist(), pdf["df"].tolist())
            )

    @staticmethod
    def _effective_split_bytes(
        spark: SparkSession, n_files: int, total_bytes: int
    ) -> int:
        """Replicate FilePartition's split-size decision for this
        session: a file is split iff larger than min(maxPartitionBytes,
        max(openCostInBytes, (totalBytes + nFiles*openCost) /
        minPartitionNum)). Conf values accept unit suffixes ('128m',
        '1g')."""
        max_pb = _parse_bytes_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        open_cost = _parse_bytes_conf(
            spark.conf.get("spark.sql.files.openCostInBytes", "4m")
        )
        try:
            parallelism = int(spark.conf.get("spark.sql.files.minPartitionNum"))
        except Exception:  # unset (Spark validates typed conf defaults)
            parallelism = max(spark.sparkContext.defaultParallelism, 1)
        per_core = (total_bytes + n_files * open_cost) / parallelism
        return int(min(max_pb, max(open_cost, per_core)))

    # -- querying ----------------------------------------------------------

    # -- deletes (tombstones — index/deletes.py) ---------------------------

    def delete_docs(self, doc_ids, persist: bool = True) -> "SearchEngine":
        """Tombstone-delete documents: they can no longer be returned
        by search()/search_batch() (incl. filters, negation, AND and
        primed pruning), while surviving docs keep their exact scores —
        Lucene semantics: corpus stats stay stale until the next
        incremental rebuild compacts the tombstones away.

        doc_ids: iterable of ids or a DataFrame with a doc_id column.
        persist=True appends them to the index's ``deletes`` catalog
        table (atomic publish), so a fresh load() re-applies them;
        requires a load()ed persistent index. Facades whose kernels
        cannot exclude (phrase/near/scored/rm3/quantized/wildcard/
        explain) raise while deletes are active rather than silently
        returning deleted docs."""
        from pisa_spark.index.deletes import DELETES_TABLE
        from pisa_spark.sources import catalog

        if isinstance(doc_ids, DataFrame):
            ids = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            ids = local_frame(
                self.spark, [(int(i),) for i in doc_ids], "doc_id long"
            )
        if persist:
            if self._index_root is None:
                raise ValueError(
                    "persist=True needs a load()ed persistent index —"
                    " pass persist=False for an in-memory engine"
                )
            catalog.write_table(
                ids, self._index_root, DELETES_TABLE, mode="append"
            )
        replaced = self.postings
        self._apply_tombstones(ids)
        if self.postings is not replaced:
            # swap in a warm relation: fill the new cache here, not in
            # the first query after the delete, then free the cached
            # tombstoned relation it replaces (never the base one)
            self.postings.count()
            if replaced is not self._base_postings:
                replaced.unpersist()
        return self

    def compact(self, corpus_dir: str | None = None, **build_kwargs):
        """Compact tombstone deletes away: rebuild the persistent index
        from the corpus MINUS the deleted docs through the normal
        resumable build — docs_per_bucket is pinned to the index's own
        span, so content-fingerprint change detection rebuilds EXACTLY
        the buckets that contained deleted docs — then clear the
        deletes table and reload. Global stats refresh (n_docs / avgdl
        / df now exclude the deleted docs): the stale-stats window
        closes, and every facade serves again. Crash-safe ordering:
        the rebuild commits before the deletes table clears, and a
        tombstone for a doc no longer in the index excludes nothing.

        corpus_dir defaults to the attached doc store (with_corpus).
        Returns the freshly loaded engine (self is stale after this).
        """
        from pisa_spark.index.deletes import DELETES_TABLE
        from pisa_spark.sources import catalog

        if self._index_root is None:
            raise ValueError("compact needs a load()ed persistent index")
        if self._tombstone_ids is None:
            raise ValueError("nothing to compact — no deletes are active")
        if self._reordered and "reorder_by" not in build_kwargs:
            raise ValueError(
                "compact on a reorder_by= index must pass the same"
                " reorder_by= (the surviving docs re-rank, refreshing"
                " reorder_map together with the rebuild)"
            )
        corpus = corpus_dir or self._corpus()
        docs = catalog.read_table(self.spark, corpus, "documents.parquet")
        remaining = docs.join(self._tombstone_ids, "doc_id", "left_anti")
        build_kwargs.setdefault("docs_per_bucket", self.stats["span"])
        build_index_resumable(
            self.spark, corpus, self._index_root, docs_df=remaining,
            **build_kwargs,
        )
        catalog.write_table(
            self.spark.createDataFrame([], "doc_id long"),
            self._index_root,
            DELETES_TABLE,
        )
        out = SearchEngine.load(self.spark, self._index_root)
        if self._corpus_dir is not None:
            out.with_corpus(self._corpus_dir)
        return out

    def _apply_tombstones(self, ids: DataFrame) -> None:
        from pisa_spark.index.deletes import (
            tombstone_postings,
            with_tombstones,
        )

        if not ids.limit(1).count():
            return  # empty set (e.g. a cleared deletes table on load)
        span = self.stats.get("span")
        if not span:
            raise ValueError(
                "delete_docs needs the index bucket span: load() a"
                " persisted index (stats carry span since the deletes"
                " feature) or set engine.stats['span'] explicitly"
            )
        if self._base_postings is None:
            self._base_postings = self.postings
        self._tombstone_ids = (
            ids
            if self._tombstone_ids is None
            else self._tombstone_ids.unionByName(ids).distinct()
        )
        # _tombstone_ids stays in ORIGINAL id space (stable across
        # re-reorders; compact anti-joins the corpus with it); on a
        # reorder_by= index the POSTING tombstones live in new-id space
        tomb_ids = self._tombstone_ids
        if self._reordered:
            from pisa_spark.index.reorder import apply_reorder

            tomb_ids = apply_reorder(tomb_ids, self._reorder_mapping())
        tomb = tombstone_postings(
            tomb_ids,
            self.stats["n_docs"],
            self.stats["avgdl"],
            span,
            with_positions="poss" in self._base_postings.columns,
        )
        self.postings = bucket_arranged(
            with_tombstones(self._base_postings, tomb)
        ).cache()
        self._pre_arranged = True
        # the quantized twin was derived from the base relation; drop
        # it so the next search_quantized re-derives WITH the
        # __deleted__ blocks (their impacts are garbage but unreachable
        # — the kernel's exclusion decoder reads docs only)
        self._quant = None

    def _guard_no_deletes(self, what: str) -> None:
        if self._tombstone_ids is not None:
            raise ValueError(
                f"{what} cannot exclude tombstone-deleted docs — its"
                " kernel has no NOT path. Rebuild the index without the"
                " deleted docs (compaction) or use search()/"
                "search_batch()/search_filtered()."
            )

    def _exclude_deleted(self, queries: list[dict]) -> list[dict]:
        """Tombstone exclusion for paths that bypass _normalize (the
        positional/mixed routes build their own query dicts): adds the
        __deleted__ pseudo-term to each query's negated list when
        deletes are active — the kernels exclude it bucket-locally."""
        if self._tombstone_ids is None:
            return queries
        from pisa_spark.index.deletes import exclude_deleted

        return exclude_deleted(queries)

    def _raw_queries(self, queries) -> list[dict]:
        """Shared facade prologue: parse strings, copy dicts, pin
        query_id = position when absent (matching _normalize's
        assignment so pre-processing facades agree with serving)."""
        if not isinstance(queries, list):
            queries = [queries]
        raw = [
            parse_query(q) if isinstance(q, str) else dict(q)
            for q in queries
        ]
        for i, q in enumerate(raw):
            q.setdefault("query_id", i)
        return raw

    def _normalize(self, queries) -> list[dict]:
        """Parse/shape queries for the term-kernel paths. Quoted
        phrases are only ENFORCED by search() (which routes a
        one-phrase query to the mixed kernel before normalization);
        everywhere else the quoted tokens degrade to loose terms —
        the pre-phrase behavior, never silently dropped. A single
        string or dict is one query."""
        if isinstance(queries, (str, dict)):
            queries = [queries]
        out = []
        for i, q in enumerate(queries):
            if isinstance(q, str):
                q = parse_query(q)
            terms = list(q["terms"])
            for p in q.get("phrases", []):
                terms.extend(t for t in p if t not in terms)
            norm = {
                "query_id": q.get("query_id", i),
                "terms": terms,
                "conjunctive": q.get("conjunctive", False),
            }
            if q.get("negated"):
                norm["negated"] = list(q["negated"])
            if q.get("filter"):
                # forwarded, not dropped: the WAND paths intersect it;
                # paths without an include set raise on it explicitly
                norm["filter"] = list(q["filter"])
            out.append(norm)
        if self._tombstone_ids is not None:
            # tombstone deletes ride the same NOT machinery — one
            # pseudo-term per query, excluded bucket-locally
            from pisa_spark.index.deletes import exclude_deleted

            out = exclude_deleted(out)
        return out

    def search(
        self, query, k: int = 10, algorithm: str = "wand",
        primed: bool = False,
    ) -> DataFrame:
        """One query (string or dict) -> (query_id, rank, doc_id, score).

        A double-quoted segment makes it a MIXED query: the phrase is
        required (positional index needed), loose terms boost the
        score but never filter — '"order fast" data' returns docs
        containing the exact phrase, ranked by BM25 over phrase terms
        + 'data'."""
        q = parse_query(query) if isinstance(query, str) else dict(query)
        if q.get("phrases"):
            if len(q["phrases"]) != 1:
                raise ValueError(
                    "one quoted phrase per query is supported"
                )
            if q.get("conjunctive"):
                raise ValueError(
                    "'+' does not combine with a quoted phrase — loose"
                    " terms beside a phrase boost, they never filter"
                )
            # algorithm is a pruning hint for the term kernels; the
            # mixed kernel has its own candidate gating.
            # Attribute filters, '-term' negation and tombstone deletes
            # all COMPOSE: the positional kernels gate the candidate
            # set bucket-locally (query/bm25.py phrase_kernel) exactly
            # like the term kernels.
            if "poss" not in self.postings.columns:
                raise ValueError(
                    "phrase syntax needs a positional index — build"
                    " with with_positions=True"
                )
            from pisa_spark.query.bm25 import bm25_mixed_topk

            phrase = q["phrases"][0]
            mq = {
                "query_id": q.get("query_id", 0),
                "terms": phrase,
                "extra_terms": q["terms"],
            }
            if q.get("negated"):
                mq["negated"] = list(q["negated"])
            if q.get("filter"):
                mq["filter"] = list(q["filter"])
            mqs = self._exclude_deleted([mq])
            return bm25_mixed_topk(
                self.postings,
                mqs,
                self.stats["n_docs"],
                self.stats["avgdl"],
                k=k,
                term_dfs=self._term_dfs(
                    set(phrase)
                    | set(q["terms"])
                    | set(mqs[0].get("negated", []))
                ),
                pre_arranged=self._pre_arranged,
            )
        return self.search_batch(
            [q], k=k, algorithm=algorithm, primed=primed
        )

    # above this many queries, MaxScore's per-query term-at-a-time
    # cannot share decode across the batch the way WAND's union-mask
    # does (2x slower at 10.24M docs — BENCH.md pruning table), so
    # search_batch reroutes; both kernels are rank-identical, so the
    # hint only ever changes the physical strategy, never the answer
    MAXSCORE_BATCH_LIMIT = 8

    def search_batch(
        self, queries, k: int = 10, algorithm: str = "wand",
        primed: bool = False,
    ) -> DataFrame:
        """Batch of queries in one pass. algorithm: 'wand' (block-max
        pruning with batch-shared union decode — the batched-serving
        default) or 'maxscore' (impact-ordered term-at-a-time with
        candidate freezing — strongest on long disjunctive queries mixing
        rare and stop-word-ish terms). Both are rank-identical to the
        exhaustive scorer.

        'maxscore' is a single-query latency mode: for batches larger
        than MAXSCORE_BATCH_LIMIT, or batches with attribute filters,
        it is rerouted to the WAND union-decode with a warning
        (identical ranks, ~2x less work at 10M docs).

        primed=True starts pruning from the precomputed per-term k-th
        score bounds (precompute_thresholds — PISA's kth_threshold
        tool) instead of -inf, with no extra Spark job. Rank-identical
        by the bound soundness contract; ineligible queries
        (conjunctive, negated, filtered, negative-idf terms, k above
        the table's K) simply stay unprimed."""
        import warnings

        from pisa_spark.query.bm25 import bm25_topk_maxscore

        impl = {"wand": bm25_topk_wand, "maxscore": bm25_topk_maxscore}
        if algorithm not in impl:
            raise ValueError(f"algorithm must be one of {sorted(impl)}")
        normalized = self._normalize(queries)
        if algorithm == "maxscore" and any(
            q.get("filter") for q in normalized
        ):
            # algorithm is a physical-strategy hint, never an answer
            # change: MaxScore has no include intersection, so filtered
            # queries reroute to WAND
            warnings.warn(
                "search_batch: attribute filters are served by the WAND"
                " kernel; rerouting this batch (rank-identical).",
                stacklevel=2,
            )
            algorithm = "wand"
        if (
            algorithm == "maxscore"
            and len(normalized) > self.MAXSCORE_BATCH_LIMIT
        ):
            warnings.warn(
                f"search_batch: maxscore is a single-query latency mode;"
                f" rerouting this {len(normalized)}-query batch to the"
                f" WAND union-decode (rank-identical, ~2x faster at"
                f" scale).",
                stacklevel=2,
            )
            algorithm = "wand"
        term_dfs = self._term_dfs(
            {t for q in normalized for t in q["terms"]}
        )
        return impl[algorithm](
            self.postings,
            normalized,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            term_dfs=term_dfs,
            pre_arranged=self._pre_arranged,
            primed_thresholds=(
                self._primed_thresholds(normalized, k, term_dfs)
                if primed
                else None
            ),
        )

    def search_boolean(self, query, k: int = 10, **search_kwargs) -> DataFrame:
        """Extended boolean retrieval: a CNF of term groups —
        '(data join) (spark scan)' or [['data','join'],['spark','scan']]
        — returns docs matching AT LEAST ONE term of EVERY group,
        ranked by BM25 over all the query's matched terms (classic
        extended-boolean semantics: the constraint gates membership,
        the score still rewards every hit).

        Reuses the filter-group machinery with REAL terms: each group
        is a bucket-local posting UNION, groups intersect before the
        top-k trim (query/bm25.py _bucket_inclusion — same plan shape
        as attribute filters, no documents-table join), and every group
        member also scores because it is in the term set. A group whose
        terms none exist in the index can never match (empty result) —
        CNF semantics, not an error. '-term' negation composes
        ('(a b) (c d) -e' string form); tombstone deletes compose."""
        if isinstance(query, str):
            import re as _re

            groups = [
                [t for t in g.split() if t]
                for g in _re.findall(r"\(([^)]*)\)", query)
            ]
            rest = _re.sub(r"\([^)]*\)", " ", query)
            negated = [
                t[1:].lower() for t in rest.split() if t.startswith("-")
            ]
            loose = [
                t for t in rest.split() if t and not t.startswith("-")
            ]
            if loose:
                raise ValueError(
                    "search_boolean string form takes only (...) groups"
                    f" and -negations; loose terms {loose!r} are"
                    " ambiguous — put them in a group"
                )
        else:
            groups = [list(g) for g in query]
            negated = list(search_kwargs.pop("negated", []))
        groups = [[t.lower() for t in g] for g in groups if g]
        if not groups:
            raise ValueError("search_boolean needs at least one (…) group")
        terms = sorted({t for g in groups for t in g})
        q = {"query_id": 0, "terms": terms, "filter": groups}
        if negated:
            q["negated"] = negated
        return self.search(q, k=k, **search_kwargs)

    def search_page(
        self,
        query,
        page_size: int = 10,
        offset: int = 0,
        **search_kwargs,
    ) -> DataFrame:
        """Deep pagination: ranks [offset+1, offset+page_size] of the
        same total order search() serves (score DESC, doc_id ASC), with
        ``rank`` kept GLOBAL (page 2 starts at rank 11) and a
        1-based ``page_rank`` for display. Served as one top-(offset+
        page_size) WAND pass + a rank-window filter — the standard
        from+size contract, with the standard cost: work grows with
        the absolute depth, so deep crawls should batch pages (ask a
        bigger page once, slice client-side) rather than loop offsets.
        Composes with everything search() supports, deletes included."""
        if offset < 0 or page_size <= 0:
            raise ValueError("offset must be >= 0 and page_size >= 1")
        deep = self.search(query, k=offset + page_size, **search_kwargs)
        return deep.filter(F.col("rank") > offset).withColumn(
            "page_rank", (F.col("rank") - F.lit(offset)).cast("int")
        )

    def search_after(
        self, query, k: int = 10, after: tuple | None = None
    ) -> DataFrame:
        """Keyset (cursor) deep pagination — the scalable alternative
        to search_page's from+size: serve the top-``k`` docs STRICTLY
        AFTER the cursor in the engine's total order (score DESC,
        doc_id ASC). ``after`` = (score, doc_id) of the last row the
        client saw (pass back exactly what this engine returned);
        None = first page. Cost is ONE bounded scoring pass whatever
        the depth — page 1,000 prices like page 1, because the cursor
        is a filter BEFORE the top-k window, not an offset through it
        (the from+size contract re-ranks everything above the page).

        Served off the term-pruned decode (exhaustive over the
        query's postings, the search_scored shape); '-term' negation
        and tombstone deletes compose via the exclusion anti-join;
        attribute filters, '+' conjunctive and quoted phrases refuse
        (route those to search_filtered/search/search_phrase). rank
        restarts at 1 per page.

        Cursor stability: score comparisons quantize BOTH sides to
        9 dp — page 2 recomputes the aggregate in a fresh job, and
        Spark pins no float-sum association order across jobs, so an
        exact-equality cursor could duplicate or skip the boundary
        doc on an ulp flip; 9 dp is far above ulp noise and far below
        any real score gap."""
        from pisa_spark.query.bm25 import score_expr, topk_window
        from pisa_spark.query.scorers import postings_to_tf

        raw = parse_query(query) if isinstance(query, str) else dict(query)
        if raw.get("phrases"):
            raise ValueError(
                "search_after serves loose terms only; use"
                " search_phrase for quoted phrases"
            )
        if raw.get("conjunctive"):
            raise ValueError(
                "search_after is disjunctive-only; use search() for"
                " '+' conjunctive queries"
            )
        q = self._normalize([raw])[0]
        if q.get("filter"):
            raise ValueError(
                "search_after composes no attribute filters; use"
                " search_filtered"
            )
        terms = sorted(set(q["terms"]))
        if not terms:
            raise ValueError("search_after needs at least one term")
        pruned = self.postings.filter(F.col("term").isin(terms))
        tf = postings_to_tf(pruned).join(
            F.broadcast(
                pruned.groupBy("term").agg(F.sum("n").alias("df"))
            ),
            "term",
        )
        scored = (
            tf.withColumn(
                "pscore",
                score_expr(
                    float(self.stats["n_docs"]), float(self.stats["avgdl"])
                ),
            )
            .groupBy("doc_id")
            .agg(F.sum("pscore").alias("score"))
            .withColumn("query_id", F.lit(q["query_id"]).cast("int"))
        )
        negs = sorted(set(q.get("negated", [])))
        if negs:
            excl = (
                postings_to_tf(
                    self.postings.filter(F.col("term").isin(negs))
                )
                .select("doc_id")
                .distinct()
            )
            scored = scored.join(excl, "doc_id", "left_anti")
        if after is not None:
            from pisa_spark.similarity.kmeans import quantize_half_away

            # same half-away rule as F.round so both sides of the
            # comparison quantize identically
            a_score = float(quantize_half_away(float(after[0]), 9))
            a_doc = int(after[1])
            s9 = F.round(F.col("score"), 9)
            scored = scored.filter(
                (s9 < F.lit(a_score))
                | ((s9 == F.lit(a_score)) & (F.col("doc_id") > F.lit(a_doc)))
            )
        return topk_window(
            scored.select("query_id", "doc_id", "score"), k
        )

    def _term_dfs(self, terms) -> dict[str, int]:
        """Global df per query term (0 = absent). A load()ed index
        answers from the lexicon taken at load, with no Spark job. An
        engine without one (built from a relation, or a vocabulary
        above LEXICON_MAX_TERMS) looks up only terms not seen before:
        one term-pruned aggregate over block metadata (PushedFilters
        keeps it to the queried terms' blocks), cached in _df_cache for
        the snapshot's lifetime."""
        if self._lexicon is not None:
            return {t: self._lexicon.get(t, 0) for t in terms}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self.postings.filter(F.col("term").isin(missing))
                .groupBy("term")
                .agg(F.sum("n").alias("df"))
                .collect()
            )
            for r in rows:
                self._df_cache[r["term"]] = int(r["df"])
            for t in missing:
                self._df_cache.setdefault(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _term_stats_full(self, terms) -> dict[str, tuple[int, int]]:
        """(df, cf) per query term from the driver-side cache; only
        unseen terms touch Spark (query/scored_kernel.
        term_stats_from_blocks — one term-pruned decode pass,
        partial-aggregated to |terms| rows). Snapshot-immutable like
        _term_dfs."""
        from pisa_spark.query.scored_kernel import term_stats_from_blocks

        missing = [t for t in terms if t not in self._term_stats_cache]
        if missing:
            self._term_stats_cache.update(
                term_stats_from_blocks(self.postings, missing)
            )
        return {t: self._term_stats_cache[t] for t in terms}

    def _write_artifact(self, df: DataFrame, table: str) -> DataFrame:
        """Persist a derived serving artifact under the index root,
        recording the corpus_stats snapshot it was derived from, and
        return the persisted relation."""
        from pisa_spark.sources import catalog

        if self._index_root is None:
            raise ValueError(
                "persist=True needs a catalog-backed index"
                " (build()/load()); pass persist=False for a"
                " relation-constructed engine"
            )
        catalog.write_table(
            df, self._index_root, table,
            meta={"corpus_stats_seq": self._stats_seq},
        )
        return catalog.read_table(self.spark, self._index_root, table)

    def _read_artifact(self, table: str) -> DataFrame | None:
        """The persisted artifact ``table`` when it was derived from
        the corpus_stats snapshot this engine serves; None when absent
        or stale (a build since then changed the stats and dfs it was
        computed under). The artifacts are physical hints that never
        change an answer, so a stale one is served as absent."""
        from pisa_spark.sources import catalog

        if (
            self._index_root is None
            or self._stats_seq is None
            or not catalog.table_exists(self._index_root, table)
            or catalog.table_meta(self._index_root, table).get(
                "corpus_stats_seq"
            ) != self._stats_seq
        ):
            return None
        return catalog.read_table(self.spark, self._index_root, table)

    def precompute_thresholds(
        self, k: int = 10, persist: bool = True
    ) -> DataFrame:
        """Build the (term, df, threshold, k) table that primes WAND/
        MaxScore pruning — PISA's offline ``kth_threshold`` tool
        (query/thresholds.py). One decode pass + a WindowGroupLimit
        per-term top-k; persist=True commits it under the index root
        as the ``term_thresholds`` catalog table so future load()s
        prime without recomputing, until a build publishes new corpus
        stats (the table then serves as absent: _read_artifact).
        Serving reads it per query with a pushed In(term, ...) filter —
        search_batch(primed=True)."""
        if self._tombstone_ids is not None:
            raise ValueError(
                "precompute_thresholds on a tombstoned index would"
                " bake deleted docs into the bounds — compact() first"
            )
        from pisa_spark.query.thresholds import (
            THRESHOLDS_TABLE,
            term_kth_scores,
        )

        thr = term_kth_scores(
            self.postings,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
        ).withColumn("k", F.lit(k))
        if persist:
            thr = self._write_artifact(thr, THRESHOLDS_TABLE)
        self._thr_df = thr
        self._thr_table_k = k
        self._thr_cache = {}
        return thr

    def _primed_thresholds(
        self, normalized: list[dict], k: int, term_dfs: dict[str, int]
    ) -> dict[int, float]:
        """{query_id: theta0} for the eligible queries of a primed
        batch (query/thresholds.py prime_thresholds rules; tombstone
        deletes inject a negated pseudo-term, so eligibility fails by
        construction — skip even the lookup). Raises when NO threshold
        source exists at all: silently serving an unprimed batch the
        caller asked to prime would hide a missing precompute."""
        if self._tombstone_ids is not None:
            return {}
        from pisa_spark.query.thresholds import (
            THRESHOLDS_TABLE,
            prime_thresholds,
        )
        from pisa_spark.sources import catalog

        if self._thr_df is None:
            if self._index_root is None or not catalog.table_exists(
                self._index_root, THRESHOLDS_TABLE
            ):
                raise ValueError(
                    "primed=True needs precomputed thresholds — call"
                    " precompute_thresholds() (persisted under the"
                    " index root as the term_thresholds table)"
                )
            self._thr_df = self._read_artifact(THRESHOLDS_TABLE)
            if self._thr_df is None:
                return {}  # derived from other stats: serve unprimed
        qterms = sorted({t for q in normalized for t in q["terms"]})
        missing = [t for t in qterms if t not in self._thr_cache]
        if missing:
            rows = self._thr_df.filter(F.col("term").isin(missing)).collect()
            found: dict[str, float] = {}
            for r in rows:
                found[r["term"]] = float(r["threshold"])
                if self._thr_table_k is None:
                    self._thr_table_k = int(r["k"])
            for t in missing:
                self._thr_cache[t] = found.get(t)
        # the K-th best only lower-bounds the k-th best for k <= K;
        # K unknown (no row ever seen) means nothing to prime with
        if self._thr_table_k is None or k > self._thr_table_k:
            return {}
        thr = {
            t: v
            for t in qterms
            if (v := self._thr_cache.get(t)) is not None
        }
        return prime_thresholds(
            thr, normalized, term_dfs, float(self.stats["n_docs"])
        )

    def precompute_stopwords(
        self, max_df_ratio: float = 0.5, persist: bool = True
    ) -> DataFrame:
        """Build the (term, df) stopword table (query/stopwords.py:
        df > floor(max_df_ratio * n_docs); the 0.5 default is exactly
        the negative-idf set). Block-metadata aggregate only;
        persist=True commits it under the index root as the
        ``stopwords`` catalog table so future load()s pick it up for
        search_stopped without recomputing, until a build publishes new
        corpus stats."""
        from pisa_spark.query.stopwords import (
            STOPWORDS_TABLE,
            stopword_list,
        )

        sw = stopword_list(
            self.postings, int(self.stats["n_docs"]), max_df_ratio
        )
        if persist:
            sw = self._write_artifact(sw, STOPWORDS_TABLE)
        self._stop_df = sw
        self._stop_set = None
        self._stop_checked = True
        return sw

    def _stopword_set(self) -> set[str]:
        """The stop set, collected once (bounded by the df cut —
        hundreds of terms under any Zipf vocabulary). Prefers a current
        persisted ``stopwords`` table (_read_artifact); derives at the
        default ratio otherwise."""
        if getattr(self, "_stop_set", None) is not None:
            return self._stop_set
        if not getattr(self, "_stop_checked", False):
            self._stop_checked = True
            from pisa_spark.query.stopwords import STOPWORDS_TABLE

            self._stop_df = self._read_artifact(STOPWORDS_TABLE)
        if getattr(self, "_stop_df", None) is None:
            from pisa_spark.query.stopwords import stopword_list

            self._stop_df = stopword_list(
                self.postings, int(self.stats["n_docs"])
            )
        self._stop_set = {
            r["term"] for r in self._stop_df.select("term").collect()
        }
        return self._stop_set

    def search_stopped(self, queries, k: int = 10, **search_kwargs):
        """search_batch after stopword stripping (query/stopwords.py
        pinned contract: drop stop terms; a query left with nothing
        serves UNSTRIPPED — the all-stop fallback; absent terms are
        kept and simply match nothing). Negation/filters ride
        through untouched."""
        from pisa_spark.query.stopwords import strip_stopwords

        stripped = strip_stopwords(
            self._raw_queries(queries), self._stopword_set()
        )
        return self.search_batch(stripped, k=k, **search_kwargs)

    def precompute_kgrams(self, persist: bool = True) -> DataFrame:
        """Build the (gram, term, df) k-gram table that serves general
        wildcards ('*tion', 's*t') with a pushed In(gram, ...) lookup
        instead of a per-query-batch vocabulary explode
        (query/kgram.py). Vocabulary-derived and static per index
        generation — the term_thresholds artifact idiom; persist=True
        commits it under the index root as the ``kgram_index`` catalog
        table so future load()s pick it up automatically on the first
        wildcard query, until a build publishes new corpus stats (the
        table would miss new terms; a build that changed nothing
        publishes none). A purely physical hint: expansion results are
        identical either way. Gram length
        is pinned to the serving default (kgram.KGRAM_K) so stored
        grams always match the patterns' query-side grams."""
        from pisa_spark.index.deletes import DELETED_TERM
        from pisa_spark.query.kgram import (
            KGRAM_K,
            KGRAM_TABLE,
            kgram_table,
        )

        vocab = (
            self.postings.filter(
                ~F.col("term").contains(":")
                & (F.col("term") != DELETED_TERM)
            )
            .groupBy("term")
            .agg(F.sum("n").alias("df"))
        )
        kt = kgram_table(vocab, KGRAM_K).select("gram", "term", "df")
        if persist:
            kt = self._write_artifact(kt, KGRAM_TABLE)
        self._kgram_df = kt
        self._kgram_checked = True
        return kt

    def _kgram_lookup(self) -> DataFrame | None:
        """The persisted k-gram table if one exists and is current
        (_read_artifact; checked once per engine); None falls back to
        the per-query vocabulary path — a physical decision only, never
        an answer change."""
        if not self._kgram_checked:
            self._kgram_checked = True
            from pisa_spark.query.kgram import KGRAM_TABLE

            self._kgram_df = self._read_artifact(KGRAM_TABLE)
        return self._kgram_df

    def _dictionary_vocab(self) -> DataFrame:
        """The cached (term, df) dictionary behind suggest/
        autocomplete: block metadata only, with attribute/numeric
        pseudo-terms (':' — collision-free per the attribute
        contract) AND the '__deleted__' tombstone pseudo-term
        excluded — without the latter, a tombstoned engine would
        suggest or complete '__deleted__' as if it were a word."""
        if getattr(self, "_spell_vocab", None) is None:
            from pisa_spark.index.deletes import DELETED_TERM

            self._spell_vocab = (
                self.postings.filter(
                    ~F.col("term").contains(":")
                    & (F.col("term") != DELETED_TERM)
                )
                .groupBy("term")
                .agg(F.sum("n").alias("df"))
                .cache()
            )
        return self._spell_vocab

    def suggest(
        self, words, n: int = 5, max_dist: int = 2
    ) -> DataFrame:
        """Spelling suggestion over the index's term dictionary
        (query/spell.py): per word, the vocabulary terms within
        Levenshtein ``max_dist``, ranked (dist ASC, df DESC, term
        ASC), top ``n`` — k-gram candidate generation with the exact
        brute-force semantics (the gate pins the equivalence).

        Reuses the wildcard path's persisted ``kgram_index`` table
        when one exists (pushed In(gram, ...) lookup); otherwise the
        gram table derives from the vocabulary aggregate on the fly.
        The dictionary is block METADATA (term, sum(n)) — never a
        payload decode; attribute/numeric pseudo-terms are excluded
        by the collision-free ':' predicate, like wildcard
        expansion."""
        from pisa_spark.query.spell import spell_suggestions

        if isinstance(words, str):
            words = [words]
        return spell_suggestions(
            self._dictionary_vocab(),
            words,
            n=n,
            max_dist=max_dist,
            kgrams=self._kgram_lookup(),
        )

    def search_corrected(
        self, queries, k: int = 10, max_dist: int = 2, **search_kwargs
    ):
        """search_batch with automatic spelling correction of
        OUT-OF-VOCABULARY terms (the did-you-mean integration):
        a positive term with df == 0 is replaced by its TOP suggestion
        (dist ASC, df DESC, term ASC — engine.suggest's pinned order)
        within ``max_dist`` when one exists, kept otherwise (it then
        matches nothing, exactly as typed); in-dictionary terms are
        never touched, negation/filters ride through uncorrected, and
        the effective term list is deduplicated (a correction may
        collide with a term already present). Quoted phrases degrade
        to loose terms here, like every term-kernel facade."""
        raw = self._raw_queries(queries)
        all_terms = sorted({t for q in raw for t in q["terms"]})
        dfs = self._term_dfs(all_terms)
        absent = sorted(t for t in all_terms if dfs.get(t, 0) == 0)
        repl: dict[str, str] = {}
        if absent:
            repl = {
                r["word"]: r["term"]
                for r in self.suggest(
                    absent, n=1, max_dist=max_dist
                ).collect()
            }
        for q in raw:
            q["terms"] = list(
                dict.fromkeys(repl.get(t, t) for t in q["terms"])
            )
        return self.search_batch(raw, k=k, **search_kwargs)

    def autocomplete(self, prefixes, n: int = 10) -> DataFrame:
        """Prefix completion over the index's term dictionary
        (query/spell.py complete_prefix): per prefix the top-``n``
        terms by (df DESC, term ASC), pseudo-terms excluded. Shares
        suggest()'s cached dictionary aggregate."""
        from pisa_spark.query.spell import complete_prefix

        if isinstance(prefixes, str):
            prefixes = [prefixes]
        return complete_prefix(self._dictionary_vocab(), prefixes, n=n)

    def search_scored(
        self, queries, scorer: str = "bm25", k: int = 10
    ) -> DataFrame:
        """Top-k under any registered scorer (bm25 / qld / qljm / pl2 / dph)
        served off the loaded compressed index through the bucket-local
        kernel dataflow (query/scored_kernel.scored_topk_pruned): the
        posting blocks are pruned to the queries' terms BEFORE the
        decode (PushedFilters carries the term filter into the scan),
        each bucket decodes and bincount-sums its own postings, and
        only <= n_buckets*|queries|*k candidate rows reach the global
        top-k window — no per-posting shuffle, unlike the relational
        scored_topk_dataframe path (which remains the oracle twin).

        Every scorer decodes its queried terms' blocks fully (no block
        skipping). Per-term df/cf are cached per engine generation;
        total_cf comes from the stored corpus stats. '-term' negation,
        attribute filters and tombstone deletes compose (bucket-local
        exclusion/inclusion, the WAND kernel's machinery)."""
        from pisa_spark.query.scored_kernel import scored_topk_pruned

        normalized = self._normalize(queries)
        all_terms = sorted({t for q in normalized for t in q["terms"]})
        return scored_topk_pruned(
            self.postings,
            normalized,
            self.stats["n_docs"],
            self.stats["avgdl"],
            float(self.stats["total_terms"]),
            scorer=scorer,
            k=k,
            term_stats=self._term_stats_full(all_terms),
            pre_arranged=self._pre_arranged,
        )

    def extract_features(self, queries, k: int = 10) -> DataFrame:
        """LTR feature vectors for the BM25 top-k candidates, served
        off the loaded compressed index (query/ltr.py): per-(query,
        doc) rows with the ranker score and matched / n_terms /
        doc_len / sum_tf / max_tf / min_df / max_df / idf_sum, all
        from the same term-pruned decode one BM25 query costs. The
        training set this emits is serving-consistent by construction:
        identical candidates, identical tie-break, identical stats."""
        self._guard_no_deletes("extract_features")
        from pisa_spark.query.ltr import ltr_features_from_index

        normalized = self._normalize(queries)
        if any(
            q.get("negated") or q.get("filter") or q.get("conjunctive")
            for q in normalized
        ):
            raise ValueError(
                "extract_features annotates the disjunctive BM25"
                " candidate policy; '-term', attribute filters and AND"
                " queries have no feature-extraction path"
            )
        qdf = self.spark.createDataFrame(
            [(q["query_id"], t) for q in normalized for t in q["terms"]],
            "query_id int, term string",
        )
        return ltr_features_from_index(
            self.postings,
            qdf,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            terms=sorted({t for q in normalized for t in q["terms"]}),
        )

    def term_vectors(self, doc_ids, with_df: bool = True) -> DataFrame:
        """Per-document term vectors off the index (Lucene's
        term-vectors API): (doc_id, term, tf, doc_len[, df]) for the
        requested docs — the export surface for per-doc term stats
        (MLT offline, feature dumps, corpus forensics) without
        re-tokenizing text.

        Scale shape: the index is doc-range bucketed, so the
        (first_doc, max_doc) block metadata prunes the scan to the
        requested docs' buckets BEFORE any decode. Attribute / numeric
        filter pseudo-terms ('lang:en', 'n!3:…') share the postings
        relation by design (build.attribute_tokens_col /
        numeric.numeric_tokens_col) and are excluded here — the ':'
        separator can't collide with tokenizer output, so the
        exclusion is an exact codegen predicate. With
        with_df=True the requested docs' vocabulary (bounded by the
        ids' summed doc_len) is collected once from the pruned decode,
        then df comes from a metadata-only pass — a pushed In(term,…)
        filter over per-block posting counts, never a second decode."""
        self._guard_no_deletes("term_vectors")
        from pisa_spark.query.scorers import postings_to_tf

        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            raise ValueError("term_vectors needs at least one doc id")
        keep = F.lit(False)
        for d in ids:
            keep = keep | (
                (F.col("first_doc") <= d) & (F.col("max_doc") >= d)
            )
        real_term = ~F.col("term").contains(":")
        tf_rel = postings_to_tf(
            self.postings.filter(keep & real_term)
        ).filter(F.col("doc_id").isin(ids))
        if not with_df:
            return tf_rel.select("doc_id", "term", "tf", "doc_len")
        terms = [r["term"] for r in tf_rel.select("term").distinct().collect()]
        df_df = (
            self.postings.filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("n").cast("bigint").alias("df"))
        )
        return tf_rel.join(F.broadcast(df_df), "term").select(
            "doc_id", "term", "tf", "doc_len", "df"
        )

    def search_phrase(self, phrase: str, k: int = 10) -> DataFrame:
        """Exact consecutive-token phrase top-k. Requires a positional
        index (build with with_positions=True). Tombstone deletes
        compose (the __deleted__ exclusion is candidate-gated in the
        phrase kernel); for attribute filters or negation beside a
        phrase use search('\"…\" …') / search_filtered."""
        if "poss" not in self.postings.columns:
            raise ValueError(
                "phrase search needs a positional index — build with"
                " with_positions=True"
            )
        from pisa_spark.query.bm25 import bm25_phrase_topk

        terms = parse_query(phrase)["terms"]
        qs = self._exclude_deleted([{"query_id": 0, "terms": terms}])
        return bm25_phrase_topk(
            self.postings,
            qs,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            term_dfs=self._term_dfs(set(terms)),
            pre_arranged=self._pre_arranged,
        )

    def search_near(
        self, query, window: int = 8, k: int = 10, ordered: bool = False
    ) -> DataFrame:
        """Proximity search: docs where every query term occurs within
        ``window`` positions of one occurrence of the first term
        (anchor semantics, any order). ordered=True switches to
        Lucene-style ORDERED slop: terms must appear in query order
        with total span <= window. Requires a positional index.
        '-term' negation, attribute filters (a dict query's 'filter'
        groups) and tombstone deletes all compose — candidate-gated in
        the positional kernel, bucket-local. Quoted phrases inside a
        proximity query stay rejected (two positional constraints in
        one query are ambiguous)."""
        if "poss" not in self.postings.columns:
            raise ValueError(
                "proximity search needs a positional index — build with"
                " with_positions=True"
            )
        from pisa_spark.query.bm25 import bm25_near_topk

        q = parse_query(query) if isinstance(query, str) else dict(query)
        if q.get("phrases"):
            raise ValueError(
                "quoted phrases do not combine with proximity search"
            )
        terms = list(q["terms"])
        nq = {"query_id": 0, "terms": terms}
        if q.get("negated"):
            nq["negated"] = list(q["negated"])
        if q.get("filter"):
            nq["filter"] = list(q["filter"])
        nqs = self._exclude_deleted([nq])
        return bm25_near_topk(
            self.postings,
            nqs,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            window=window,
            ordered=ordered,
            term_dfs=self._term_dfs(set(terms)),
            pre_arranged=self._pre_arranged,
        )

    def search_sdm(
        self,
        query,
        k: int = 10,
        mu: float = 2500.0,
        lambdas: tuple[float, float, float] = (0.85, 0.10, 0.05),
        window: int = 8,
    ) -> DataFrame:
        """Sequential Dependence Model top-k (query/sdm.py — Metzler &
        Croft 2005): Dirichlet unigram LM + ordered-adjacency and
        unordered-window-8 bigram features over the positional index.
        Term ORDER in the query is the model input (adjacent pairs
        feature). '-term' negation, attribute filters and tombstone
        deletes compose (candidate-gated in the kernel; collection
        stats stay corpus-level — the same stale-stats convention as
        deletes under BM25). Quoted phrases are rejected: SDM already
        IS the proximity model. Needs total_terms in stats (any
        load()/build() engine has it)."""
        if "poss" not in self.postings.columns:
            raise ValueError(
                "SDM needs a positional index — build with"
                " with_positions=True"
            )
        from pisa_spark.query.sdm import sdm_topk

        q = parse_query(query) if isinstance(query, str) else dict(query)
        if q.get("phrases"):
            raise ValueError("quoted phrases do not combine with SDM")
        nq = {"query_id": 0, "terms": list(q["terms"])}
        if q.get("negated"):
            nq["negated"] = list(q["negated"])
        if q.get("filter"):
            nq["filter"] = list(q["filter"])
        nqs = self._exclude_deleted([nq])
        return sdm_topk(
            self.postings,
            nqs,
            float(self.stats["total_terms"]),
            k=k,
            mu=mu,
            lambdas=lambdas,
            window=window,
            term_dfs=self._term_dfs(set(nq["terms"])),
            pre_arranged=self._pre_arranged,
        )

    def search_fuzzy(
        self, query, k: int = 10, max_dist: int = 1, **search_kwargs
    ) -> DataFrame:
        """Did-you-mean search: each query term is corrected to its
        best vocabulary match within ``max_dist`` edits (smallest
        distance, then highest df, term-asc tie-break — query/fuzzy.
        best_corrections over the index's own term vocabulary), then
        the corrected query runs through search(). Terms with no
        near-match pass through unchanged (they simply match nothing,
        same as exact search)."""
        from pisa_spark.query.fuzzy import best_corrections

        q = parse_query(query) if isinstance(query, str) else dict(query)
        if q.get("phrases"):
            raise ValueError(
                "search_fuzzy does not support quoted phrases; "
                "use search_phrase/search_mixed with exact terms"
            )
        vocab = self.postings.groupBy("term").agg(F.sum("n").alias("df"))
        qdf = self.spark.createDataFrame(
            [(t,) for t in set(q["terms"])], "qterm string"
        )
        corr = {
            r["qterm"]: r["term"]
            for r in best_corrections(vocab, qdf, max_dist).collect()
        }
        corrected = {
            "terms": [corr.get(t, t) for t in q["terms"]],
            "conjunctive": q.get("conjunctive", False),
        }
        # negated terms are forwarded verbatim (NOT corrected): a user
        # excluding '-spam' means the literal indexed term, and the
        # batch path already supports exclusion — never silently drop.
        if q.get("negated"):
            corrected["negated"] = list(q["negated"])
        # attribute pseudo-terms likewise pass through uncorrected
        if q.get("filter"):
            corrected["filter"] = list(q["filter"])
        return self.search(corrected, k=k, **search_kwargs)

    def search_rm3(
        self,
        query,
        k: int = 10,
        fb_docs: int = 3,
        fb_terms: int = 5,
        orig_weight: float = 0.5,
    ) -> DataFrame:
        """RM3 pseudo-relevance feedback served off the loaded index +
        doc store (query/feedback.py semantics, index-served): pass 1
        is WAND top-``fb_docs`` (rank-identical to exhaustive by the
        suite's exactness gates); feedback term VECTORS come from the
        FORWARD index — fetch_docs + the build tokenizer — because a
        term-keyed inverted index cannot serve doc-keyed lookups (the
        same forward/inverted split real engines use for feedback);
        pass 2 decodes only the merged terms' posting blocks
        (term-pruned below the decode, as search_scored) and scores
        the weighted query. Pass 2 is disjunctive over the expanded
        term set — standard RM3. Requires with_corpus().

        Latency shape (two driver round-trips, pass 2 lazy): pass 1
        collects fb_docs ids; the text fetch is an id-PUSHED parquet
        scan (never a join — a broadcast join would full-scan the doc
        store at any corpus size); RM1 weighting then runs ON THE
        DRIVER over those <= fb_docs texts with the build tokenizer's
        exact regex — bounded work (a few documents), and it removes
        the explode/groupBy shuffle job that made this the slowest
        facade entry in BENCH r3. The 9-dp quantization keeps term
        selection identical to the relation-path rm3_topk (same
        contract as query/feedback.py)."""
        import re as _re

        from pisa_spark.corpus import TOKEN_SPLIT_REGEX
        from pisa_spark.query.feedback import weighted_bm25_topk
        from pisa_spark.query.scorers import postings_to_tf

        q = self._normalize([query])[0]
        if q.get("filter"):
            raise ValueError(
                "search_rm3 does not combine with attribute filters;"
                " use search_filtered for filtered retrieval"
            )
        fb_ids = [
            r["doc_id"]
            for r in self.search_batch([q], k=fb_docs)
            .select("doc_id")
            .collect()
        ]
        if not fb_ids:
            return self.search(q, k=k)
        texts = (
            self._docs_df()
            .filter(F.col("doc_id").isin(fb_ids))
            .select("text")
            .collect()
        )
        split = _re.compile(TOKEN_SPLIT_REGEX)
        acc: dict[str, float] = {}
        for row in texts:
            toks = [t for t in split.split(row["text"].lower()) if t]
            if not toks:
                continue
            dl = float(len(toks))
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            for t, tf in counts.items():
                acc[t] = acc.get(t, 0.0) + tf / dl
        ranked = sorted(
            ((round(s / len(fb_ids), 9), t) for t, s in acc.items()),
            key=lambda x: (-x[0], x[1]),
        )[:fb_terms]
        w_exp = {t: w for w, t in ranked}
        orig_terms = sorted(set(q["terms"]))
        p_orig = 1.0 / len(orig_terms)
        v = {
            t: orig_weight * (p_orig if t in orig_terms else 0.0)
            + (1.0 - orig_weight) * w_exp.get(t, 0.0)
            for t in set(orig_terms) | set(w_exp)
        }
        v_df = self.spark.createDataFrame(
            [(q["query_id"], t, w) for t, w in sorted(v.items())],
            "query_id int, term string, v double",
        )
        pruned = self.postings.filter(F.col("term").isin(sorted(v)))
        # pass-2 exclusion set: '-term' docs AND tombstone deletes in
        # one relation — both live as postings ('__deleted__' is a
        # pseudo-term), so the doc sets come from one term-pruned
        # decode. Without this, negation would apply to FEEDBACK
        # selection only and negated docs could return in the final
        # ranking (and deleted docs would occupy rank slots).
        exclude_ids = None
        negs = sorted(set(q.get("negated", [])))
        if negs:
            exclude_ids = (
                postings_to_tf(
                    self.postings.filter(F.col("term").isin(negs))
                )
                .select("doc_id")
                .distinct()
            )
        return weighted_bm25_topk(
            postings_to_tf(pruned),
            v_df,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            # df from pruned block metadata — never re-scan the decode
            df_df=pruned.groupBy("term").agg(F.sum("n").alias("df")),
            exclude_ids=exclude_ids,
        )

    def search_bo1(
        self,
        query,
        k: int = 10,
        fb_docs: int = 3,
        fb_terms: int = 5,
        beta: float = 0.4,
    ) -> DataFrame:
        """Bo1 divergence-from-randomness expansion served off the
        loaded index + doc store — search_rm3's two-round-trip shape
        with Amati's Bose-Einstein weighting (query/feedback.py
        bo1_expansion_terms pins the full contract: tf_x over the
        feedback docs, P_n = cf/N, w = tf_x*log2((1+Pn)/Pn) +
        log2(1+Pn) rounded to 9 dp, Rocchio-beta requery weights).

        The one extra statistic Bo1 needs beyond RM3 is COLLECTION
        FREQUENCY for the candidate terms: cf is a payload fact (block
        metadata carries df, not sum-of-tf), so it comes from ONE
        term-pruned decode aggregate bounded to the feedback docs'
        vocabulary — the same stats shape search_scored uses. Requires
        with_corpus(). Negation gates the FINAL ranking (exclusion set
        from the negated terms' postings, as search_rm3); attribute
        filters refuse."""
        import math as _math
        import re as _re

        from pisa_spark.corpus import TOKEN_SPLIT_REGEX
        from pisa_spark.query.feedback import _LOG2E, weighted_bm25_topk
        from pisa_spark.query.scorers import postings_to_tf

        q = self._normalize([query])[0]
        if q.get("filter"):
            raise ValueError(
                "search_bo1 does not combine with attribute filters;"
                " use search_filtered for filtered retrieval"
            )
        fb_ids = [
            r["doc_id"]
            for r in self.search_batch([q], k=fb_docs)
            .select("doc_id")
            .collect()
        ]
        if not fb_ids:
            return self.search(q, k=k)
        texts = (
            self._docs_df()
            .filter(F.col("doc_id").isin(fb_ids))
            .select("text")
            .collect()
        )
        split = _re.compile(TOKEN_SPLIT_REGEX)
        tf_x: dict[str, int] = {}
        for row in texts:
            for t in split.split(row["text"].lower()):
                if t:
                    tf_x[t] = tf_x.get(t, 0) + 1
        if not tf_x:
            return self.search(q, k=k)
        cand = sorted(tf_x)
        cf = {
            r["term"]: int(r["cf"])
            for r in postings_to_tf(
                self.postings.filter(F.col("term").isin(cand))
            )
            .groupBy("term")
            .agg(F.sum("tf").alias("cf"))
            .collect()
        }
        n = float(self.stats["n_docs"])
        ranked = []
        for t in cand:
            if t not in cf:
                continue
            pn = cf[t] * 1.0 / n
            w = round(
                tf_x[t] * (_math.log((1.0 + pn) / pn) * _LOG2E)
                + (_math.log(1.0 + pn) * _LOG2E),
                9,
            )
            ranked.append((w, t))
        ranked.sort(key=lambda x: (-x[0], x[1]))
        exp = ranked[:fb_terms]
        if not exp:
            return self.search(q, k=k)
        w_max = exp[0][0]
        orig_terms = sorted(set(q["terms"]))
        v = {t: 1.0 for t in orig_terms}
        for w, t in exp:
            v[t] = v.get(t, 0.0) + beta * (w / w_max)
        v_df = self.spark.createDataFrame(
            [(q["query_id"], t, w) for t, w in sorted(v.items())],
            "query_id int, term string, v double",
        )
        pruned = self.postings.filter(F.col("term").isin(sorted(v)))
        exclude_ids = None
        negs = sorted(set(q.get("negated", [])))
        if negs:
            exclude_ids = (
                postings_to_tf(
                    self.postings.filter(F.col("term").isin(negs))
                )
                .select("doc_id")
                .distinct()
            )
        return weighted_bm25_topk(
            postings_to_tf(pruned),
            v_df,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            df_df=pruned.groupBy("term").agg(F.sum("n").alias("df")),
            exclude_ids=exclude_ids,
        )

    def search_synonyms(
        self, query, k: int = 10, weight: float = 0.4
    ) -> DataFrame:
        """Synonym-expanded search served off the loaded index: query
        terms are expanded with their vocabulary stem-mates (S-stem
        equality), originals weight 1.0 / stem-mates ``weight``, then
        ONE weighted scoring pass over posting blocks pruned to the
        expanded term set (term-literal filter below the decode,
        PushedFilters reaches the scan — the search_rm3 pass-2 shape).

        Stem mates are the other terms of the query terms' S-stem
        classes in this engine's own vocabulary (_mates_for_stems): classes
        of two or more terms, filter pseudo-terms never included. On a
        time-travel load they come from the as-of vocabulary the engine
        serves."""
        from pisa_spark.query.feedback import weighted_bm25_topk
        from pisa_spark.query.scorers import postings_to_tf

        raw = parse_query(query) if isinstance(query, str) else dict(query)
        if raw.get("phrases"):
            # _normalize flattens quoted tokens to loose terms — an
            # exact-phrase constraint must not silently degrade to
            # synonym-expanded disjunction (same guard as search_fuzzy)
            raise ValueError(
                "search_synonyms does not support quoted phrases; use"
                " search_phrase/search_mixed for exact phrases"
            )
        # guard on the RAW query: _normalize injects the __deleted__
        # pseudo-negation when tombstones are active, and that internal
        # exclusion (served by the anti-join below) must not trip the
        # user-facing refusal
        if raw.get("conjunctive") or raw.get("negated") or raw.get("filter"):
            raise ValueError(
                "search_synonyms is disjunctive expansion only; compose"
                " with search()/search_batch for +/- operators or"
                " search_filtered for attribute filters"
            )
        q = self._normalize([raw])[0]
        terms = sorted(set(q["terms"]))
        mates = self._mates_for_stems({stem_s_py(t) for t in terms})
        v_rows = [(q["query_id"], t, 1.0) for t in terms] + [
            (q["query_id"], s, float(weight))
            for s in sorted(mates - set(terms))
        ]
        v_df = self.spark.createDataFrame(
            v_rows, "query_id int, term string, v double"
        )
        all_terms = sorted({t for _, t, _ in v_rows})
        pruned = self.postings.filter(F.col("term").isin(all_terms))
        return weighted_bm25_topk(
            postings_to_tf(pruned),
            v_df,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            df_df=pruned.groupBy("term").agg(F.sum("n").alias("df")),
            # tombstone deletes: the weighted pass scores the raw
            # relation, so deleted ids anti-join out pre-window (this
            # path previously had NO deletes handling — deleted docs
            # could silently return)
            exclude_ids=self._tombstone_ids,
        )

    def _mates_for_stems(self, stems: set[str]) -> set[str]:
        """Vocabulary terms whose S-stem is in ``stems``, over classes
        of two or more terms without filter pseudo-terms (':'). The
        classes are derived once per engine: in the driver from the
        lexicon (corpus.stem_s_py), or, without one, as a cached
        relation over the postings vocabulary that each call filters
        to its stems."""
        if self._lexicon is not None:
            if self._stem_classes is None:
                classes: dict[str, list[str]] = {}
                for t in self._lexicon:
                    if ":" not in t:
                        classes.setdefault(stem_s_py(t), []).append(t)
                self._stem_classes = {
                    s: ts for s, ts in classes.items() if len(ts) >= 2
                }
            return {t for s in stems for t in self._stem_classes.get(s, ())}
        if self._stem_class_df is None:
            vocab = (
                self.postings.select("term")
                .filter(~F.col("term").contains(":"))
                .distinct()
                .withColumn("stem", stem_s(F.col("term")))
            )
            classes = (
                vocab.groupBy("stem")
                .agg(F.count(F.lit(1)).alias("n_mates"))
                .filter(F.col("n_mates") >= 2)
                .select("stem")
            )
            self._stem_class_df = vocab.join(classes, "stem").cache()
        return {
            r["term"]
            for r in self._stem_class_df.filter(
                F.col("stem").isin(sorted(stems))
            )
            .select("term")
            .collect()
        }

    def search_quantized(self, queries, k: int = 10) -> DataFrame:
        """Serve from the 8-bit quantized impact twin of the loaded
        index (index/quantized.py): integer scores, exactly
        deterministic ranking, ~1 byte/posting payloads. The twin is
        derived LAZILY from the exact index on first use — a
        shuffle-free requantization pass (docs payloads copied, block
        structure preserved) — then cached for the engine's lifetime.

        Accepts one query or a list (strings or dicts); OR and '+'
        conjunctive syntax; '-term' negation, attribute filters and
        tombstone deletes compose (docs-only bucket-local exclusion/
        inclusion in the integer kernel — pseudo-term impacts are never
        read, so the garbage impacts a requantized tombstone block
        carries are unreachable). Quoted phrases raise: the quantized
        kernel carries no positions — route those to search()/
        search_phrase. Scores are score_q = sum(impact * idf_q)
        (LongType), monotone in BM25 up to the documented quantization
        error."""
        from pisa_spark.index.quantized import quantized_topk

        if not isinstance(queries, list):
            queries = [queries]
        raw = [
            parse_query(q) if isinstance(q, str) else dict(q)
            for q in queries
        ]
        for q in raw:
            if q.get("phrases"):
                raise ValueError(
                    "search_quantized carries no positions; use"
                    " search()/search_phrase for quoted phrases"
                )
        parsed = self._normalize(raw)
        terms = {t for q in parsed for t in q["terms"]}
        return quantized_topk(
            self._quantized_postings(),
            parsed,
            int(self.stats["n_docs"]),
            k=k,
            term_dfs=self._term_dfs(terms),
            pre_arranged=self._pre_arranged,
        )

    def search_saat(self, queries, k: int = 10, rho: int | None = None):
        """Score-at-a-time ANYTIME ranking (query/saat.py): serve from
        the impact-ordered segment twin under a global postings budget
        ``rho`` — tail latency capped by construction, the JASS
        contract. rho=None processes every segment and is then
        rank-identical to search_quantized (pytest-pinned identity).

        Disjunctive bags of words only — the published SAAT processing
        model: quoted phrases, '+' conjunctive, '-term' negation and
        attribute filters raise (route those to the DaaT kernels);
        tombstone deletes are guarded (no NOT path in the segment
        kernel). The segment layout is derived LAZILY from the cached
        quantized twin on first use (one narrow pass) and cached for
        the engine's lifetime."""
        from pisa_spark.query.saat import saat_topk

        self._guard_no_deletes("search_saat")
        if not isinstance(queries, list):
            queries = [queries]
        raw = [
            parse_query(q) if isinstance(q, str) else dict(q)
            for q in queries
        ]
        for q in raw:
            if q.get("phrases"):
                raise ValueError(
                    "search_saat carries no positions; use search()/"
                    "search_phrase for quoted phrases"
                )
            if q.get("conjunctive"):
                raise ValueError(
                    "search_saat is disjunctive-only (SAAT processing"
                    " model); use search()/search_quantized for '+'"
                )
            if q.get("negated") or q.get("filter"):
                raise ValueError(
                    "search_saat composes no negation/filters; use"
                    " search_filtered()"
                )
        parsed = self._normalize(raw)
        return saat_topk(
            self._saat_segments(),
            parsed,
            int(self.stats["n_docs"]),
            rho=rho,
            k=k,
            pre_arranged=True,
        )

    def _saat_segments(self) -> DataFrame:
        """Cached impact-ordered segment twin. Derivation arranges by
        bucket unless the index is already one-file-per-bucket
        (_pre_arranged); either way the OUTPUT is bucket-co-located
        (mapInPandas is narrow), which is the invariant the serving
        kernel's per-bucket accumulation needs — so serving always
        passes pre_arranged=True and never re-shuffles segments."""
        if getattr(self, "_saat", None) is None:
            from pisa_spark.query.saat import impact_ordered_segments

            self._saat = impact_ordered_segments(
                self._quantized_postings(),
                pre_arranged=self._pre_arranged,
            ).cache()
        return self._saat

    def explain(self, query, doc_ids=None) -> DataFrame:
        """Why does a doc score what it scores? One row per
        (doc_id, term) with tf / doc_len / df / idf / contribution —
        sum(contrib) over a doc equals its search() score exactly
        (same expression, same float association). doc_ids narrows to
        specific docs; the common flow is search() then explain(query,
        doc_ids=[top1]). Filters/negation/phrases don't score terms
        and are ignored here by design (explain covers the SCORED
        disjunction/conjunction terms)."""
        self._guard_no_deletes("explain")
        from pisa_spark.query.scorers import explain_contributions

        q = self._normalize(
            [parse_query(query) if isinstance(query, str) else dict(query)]
        )[0]
        qdf = self.spark.createDataFrame(
            [(q["query_id"], t) for t in q["terms"]],
            "query_id int, term string",
        )
        return explain_contributions(
            self.postings,
            qdf,
            self.stats["n_docs"],
            self.stats["avgdl"],
            doc_ids=doc_ids,
        )

    def search_filtered(self, query, filters, k: int = 10) -> DataFrame:
        """Attribute-filtered search: BM25 over the query's terms,
        restricted to docs matching EVERY filter, e.g.
        search_filtered("data join", {"lang": "en"}).

        Requires an index built with ``attribute_cols`` (equality) or
        ``numeric_cols`` (ranges) — the filter postings live in the
        same blocks (build.attribute_tokens_col /
        index.numeric.numeric_tokens_col) — verified here per column:
        filtering against a column the index never saw raises instead
        of silently returning nothing.

        filters: {"col": value} for equality, {"col": (lo, hi)} for an
        inclusive numeric range (precision-step decomposition — O(log
        range) dictionary terms, exact bounds), or a ready pseudo-term
        list. Composes with '+' (conjunctive), '-term' (negation) AND
        quoted phrases — '"data join" lang:en' routes through the
        positional kernel with the include intersection candidate-gated
        (query/bm25.py phrase_kernel)."""
        from pisa_spark.index.numeric import range_terms

        fterms: list = []
        range_cols: list[str] = []
        if isinstance(filters, dict):
            for c, v in sorted(filters.items()):
                if isinstance(v, (tuple, list)):
                    if len(v) != 2:
                        raise ValueError(
                            f"range filter for {c!r} must be (lo, hi)"
                        )
                    group = range_terms(c, int(v[0]), int(v[1]))
                    if not group:
                        raise ValueError(
                            f"empty range {v!r} for {c!r} can match"
                            " nothing"
                        )
                    fterms.append(group)
                    range_cols.append(c)
                else:
                    fterms.append(f"{c}:{str(v).lower()}")
        else:
            fterms = list(filters)
        if not fterms:
            raise ValueError("no filters given — use search() instead")
        q = parse_query(query) if isinstance(query, str) else dict(query)
        # indexed-column probes: equality attrs by '<col>:' prefix,
        # range cols by the '<col>#0:' precision-0 prefix
        probes = {
            t.split(":", 1)[0] + ":": "attribute_cols"
            for t in fterms
            if isinstance(t, str)
        }
        probes.update({c + "#0:": "numeric_cols" for c in range_cols})
        cache = getattr(self, "_attrs_indexed", None)
        if cache is None:
            cache = self._attrs_indexed = set()
        for prefix in sorted(set(probes) - cache):
            # one bounded job per new column: any pseudo-term with
            # this prefix proves the column was indexed
            if not self.postings.filter(
                F.col("term").startswith(prefix)
            ).limit(1).collect():
                col = prefix.split("#")[0].split(":")[0]
                raise ValueError(
                    f"column {col!r} is not indexed for filtering —"
                    f" build the index with"
                    f" {probes[prefix]}=[..., {col!r}, ...]"
                )
            cache.add(prefix)
        if q.get("phrases"):
            # phrase + filter: the positional kernels carry the include
            # intersection — route through search()'s mixed path (the
            # deletes exclusion and one-phrase rule live there)
            q["filter"] = list(q.get("filter", [])) + fterms
            return self.search(q, k=k)
        norm = self._normalize([q])[0]
        # a dict query may carry its own filter spec too — concatenate
        # groups (AND semantics make duplicates harmless)
        norm["filter"] = list(norm.get("filter", [])) + fterms
        flat = {
            t
            for g in norm["filter"]
            for t in ([g] if isinstance(g, str) else g)
        }
        return bm25_topk_wand(
            self.postings,
            [norm],
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            term_dfs=self._term_dfs(
                set(norm["terms"]) | set(norm.get("negated", [])) | flat
            ),
            pre_arranged=self._pre_arranged,
        )

    def search_wildcard(
        self, query: str, k: int = 10, max_expand: int = 64
    ) -> DataFrame:
        """Wildcard search: 'dat* join', '*tion', 's*t' — each pattern
        expands against the index's own term dictionary (capped at
        ``max_expand`` terms per pattern, df DESC) and the disjunction
        of expansions + literal terms runs through the WAND path —
        each matched term scores with its own df. Prefix patterns use
        the pushed-StartsWith dictionary scan; leading/infix patterns
        the k-gram index (query/kgram.py). '+' and quoted phrases do
        not combine with wildcards (ambiguous expansion semantics) and
        raise."""
        import re

        from pisa_spark.query.fuzzy import wildcard_topk

        toks = query.split()
        wild_raw = [t for t in toks if "*" in t]
        rest = " ".join(t for t in toks if "*" not in t)
        parsed = parse_query(rest) if rest.strip() else {"terms": []}
        if parsed.get("conjunctive") or parsed.get("phrases") or '"' in query:
            raise ValueError(
                "wildcard queries are disjunctive expansion only —"
                " '+' and quoted phrases do not combine with '*'"
            )
        wilds = []
        for w in wild_raw:
            pat = re.sub(r"[^a-z0-9*]", "", w.lower())
            if not pat.replace("*", ""):
                raise ValueError(
                    f"unsupported wildcard {w!r}: needs at least one"
                    " literal character"
                )
            wilds.append(pat)
        if not wilds:
            raise ValueError(
                "no '*' pattern in query — use search() for plain terms"
            )
        wq = {"query_id": 0, "terms": parsed["terms"], "wildcards": wilds}
        if parsed.get("negated"):
            # '-term' composes: doc-level exclusion is independent of
            # the prefix expansion (tombstone deletes ride it too)
            wq["negated"] = list(parsed["negated"])
        return wildcard_topk(
            self.postings,
            self._exclude_deleted([wq]),
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            max_expand=max_expand,
            pre_arranged=self._pre_arranged,
            kgrams=self._kgram_lookup(),
        )

    def search_similar(
        self, doc_id: int, k: int = 10,
        max_terms: int = 10, min_df: int = 2,
    ) -> DataFrame:
        """More-Like-This: docs most similar to ``doc_id``, served off
        the index. The source doc's term vector is decoded from ONLY
        its bucket's blocks (first_doc/max_doc metadata prunes the
        scan before any decode), its top-``max_terms`` terms by
        Lucene-style tf·idf interestingness (query/mlt.py) become a
        disjunctive query through the WAND kernel, and the source doc
        itself is masked from its own results — the reference's
        seen-masking (/root/reference/src/Inference.py:233-238),
        rendered as an over-fetch-by-one + filter + re-rank.

        Scale: the vector collect is bounded by ONE doc's length; the
        query is an ordinary |max_terms|-term WAND pass. Rank-identical
        to mlt_topk_dataframe (tests/test_mlt.py asserts it)."""
        import math

        self._guard_no_deletes("search_similar")
        from pisa_spark.query.scorers import postings_to_tf
        from pyspark.sql import Window

        doc_id = int(doc_id)
        src_blocks = self.postings.filter(
            (F.col("first_doc") <= doc_id) & (F.col("max_doc") >= doc_id)
        )
        vec = (
            postings_to_tf(src_blocks)
            .filter(F.col("doc_id") == doc_id)
            .select("term", "tf")
            .collect()
        )
        if not vec:
            raise ValueError(f"doc_id {doc_id} has no indexed terms")
        dfs = self._term_dfs({r["term"] for r in vec})
        n = float(self.stats["n_docs"])
        cand = [
            (
                -(r["tf"] * (math.log((n + 1.0) / (dfs[r["term"]] + 1.0)) + 1.0)),
                r["term"],
            )
            for r in vec
            if dfs[r["term"]] >= int(min_df)
        ]
        cand.sort()
        terms = [t for _, t in cand[: int(max_terms)]]
        if not terms:
            raise ValueError(
                f"doc_id {doc_id}: no terms survive min_df={min_df}"
            )
        out = self.search_batch(
            [{"query_id": doc_id, "terms": terms}], k=k + 1
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            out.filter(F.col("doc_id") != doc_id)
            .select("query_id", "doc_id", "score")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def _tier_covers(self, terms, keep_per_term: int) -> bool:
        """True iff the keep-``keep_per_term`` pruned tier provably
        holds EVERY posting of every given term: df <= keep means
        nothing of that term was dropped (prune_postings keeps whole
        lists when df <= K). A metadata decision off the cached
        per-term dfs — never a payload read."""
        dfs = self._term_dfs(set(terms))
        return all(df <= keep_per_term for df in dfs.values())

    def search_tiered(
        self, query, k: int = 10, keep_per_term: int = 1000,
        **search_kwargs,
    ) -> DataFrame:
        """First-tier serving with an EXACT-cover router — the
        automatic form of search_pruned's 'answers that need more
        belong on search()' contract. A query whose every term
        (including '-term' negations and attribute-filter
        pseudo-terms) has df <= ``keep_per_term`` is FULLY covered by
        the tier: the tier holds every matched posting, survivors
        score with original dfs, so the tier answer is identical to
        the full index's by construction. Covered queries serve from
        the small tier; uncovered ones (any head term) fall back to
        the full index. The routing decision is per-term-df metadata
        (driver cache + one pushed-filter aggregate for unseen terms)
        and only ever changes the physical source, never the answer.
        Phrase queries always fall back (the tier is non-positional).

        This is the production tiered architecture at 10^12 docs: the
        rare/mid vocabulary — the overwhelming majority of distinct
        query terms under Zipf — resolves against a tier orders of
        magnitude smaller than the full index, and only head-term
        queries touch the full posting lists."""
        self._guard_no_deletes("search_tiered")
        parsed = parse_query(query) if isinstance(query, str) else query
        if parsed.get("phrases"):
            # _normalize folds phrase tokens into loose terms, so the
            # phrase check must run on the raw parse
            return self.search(query, k=k, **search_kwargs)
        q = self._normalize([parsed])[0]
        terms = (
            set(q["terms"])
            | set(q.get("negated", []))
            | set(q.get("filter", []))
        )
        if terms and self._tier_covers(terms, keep_per_term):
            return self.search_pruned(
                query, k=k, keep_per_term=keep_per_term, **search_kwargs
            )
        return self.search(query, k=k, **search_kwargs)

    def search_pruned(
        self, query, k: int = 10, keep_per_term: int = 1000,
        **search_kwargs,
    ) -> DataFrame:
        """Serve from the statically PRUNED tier (index/pruning.py):
        each term's top-``keep_per_term`` postings by impact, built
        lazily once per keep level and cached. Original dfs are passed,
        so any doc the tier still holds scores exactly its full-index
        value — the classic first-tier/fallback architecture: answers
        that need more than the kept candidates belong on search().
        Composes with '+', '-term', filters; refuses while tombstone
        deletes are active (the pruned tier has no tombstone union)."""
        self._guard_no_deletes("search_pruned")
        from pisa_spark.index.pruning import prune_postings

        tiers = getattr(self, "_pruned_tiers", None)
        if tiers is None:
            tiers = self._pruned_tiers = {}
        if keep_per_term not in tiers:
            tiers[keep_per_term] = bucket_arranged(
                prune_postings(
                    self.postings, keep_per_term,
                    float(self.stats["avgdl"]),
                    n_docs=int(self.stats["n_docs"]),
                )
            ).cache()
        q = self._normalize([query])
        return bm25_topk_wand(
            tiers[keep_per_term],
            q,
            self.stats["n_docs"],
            self.stats["avgdl"],
            k=k,
            term_dfs=self._term_dfs(
                {t for qq in q for t in qq["terms"]}
                | {t for qq in q for t in qq.get("negated", [])}
            ),
            pre_arranged=True,
            **search_kwargs,
        )

    def _quantized_postings(self) -> DataFrame:
        """The cached quantized twin (requantize_postings preserves
        partitioning, so the exact index's bucket co-location carries
        over — no extra shuffle at serve time either)."""
        if getattr(self, "_quant", None) is None:
            from pisa_spark.index.quantized import requantize_postings

            self._quant = requantize_postings(
                self.postings, float(self.stats["avgdl"])
            ).cache()
        return self._quant

    def search_reranked(
        self,
        query,
        priors: DataFrame,
        k: int = 10,
        depth: int = 1000,
        prior_weight: float = 0.1,
        prior_scale: int = 10**12,
        **search_kwargs,
    ) -> DataFrame:
        """Two-stage ranking — the standard production architecture
        for query-independent signals: stage 1 retrieves the top
        ``depth`` candidates by BM25 through the pruned WAND path;
        stage 2 joins the static prior (doc_id, prior_units — e.g.
        click-graph PageRank mass) and re-ranks the candidates by

            score + prior_weight * ln((prior_units + 1) / prior_scale)

        (docs absent from priors take the ln(1/scale) floor — same
        blend as scored_topk_dataframe(priors=...)). Exact for any doc
        whose BM25 rank is within ``depth``; a doc the first stage
        never surfaces cannot be recovered by the prior — the standard
        rerank-depth tradeoff, so size depth to the prior weight (with
        w=0.1 a prior can move a doc by at most w*ln(scale) ~ 2.76
        score units)."""
        from pisa_spark.query.bm25 import topk_window
        from pisa_spark.query.scorers import blend_with_prior

        stage1 = self.search(query, k=depth, **search_kwargs)
        return topk_window(
            blend_with_prior(stage1, priors, prior_weight, prior_scale), k
        )

    def search_faceted(
        self, query, facet_cols: list[str], k: int = 10, **search_kwargs
    ) -> DataFrame:
        """Search + facet sidebar in one call: (query_id, facet, value,
        n) counts of each doc-store metadata value over the top-k
        result set (query/facets.py). Requires with_corpus()."""
        from pisa_spark.query.facets import facet_counts

        res = self.search(query, k=k, **search_kwargs)
        return facet_counts(res, self._docs_df(), facet_cols)

    def search_histogram(
        self,
        query,
        col: str,
        bin_width: int,
        k: int = 10,
        **search_kwargs,
    ) -> DataFrame:
        """Search + numeric histogram sidebar in one call: (query_id,
        bin_lo, n) fixed-width bins of a numeric doc attribute over
        the top-k result set (query/facets.py histogram_facet).
        Requires with_corpus()."""
        from pisa_spark.query.facets import histogram_facet

        res = self.search(query, k=k, **search_kwargs)
        return histogram_facet(res, self._docs_df(), col, bin_width)

    def search_clustered(
        self,
        queries,
        k: int = 50,
        n_clusters: int = 3,
        iters: int = 3,
        **search_kwargs,
    ) -> DataFrame:
        """Scatter/Gather result clustering (query/cluster.py): the
        top-``k`` docs of each query grouped into ``n_clusters``
        themes by the deterministic per-query k-means over their
        embeddings. Requires with_embeddings(). Result docs without a
        stored vector are absent from the output."""
        from pisa_spark.query.cluster import cluster_results

        if getattr(self, "_emb", None) is None:
            raise ValueError(
                "search_clustered needs with_embeddings(path_or_df)"
            )
        res = self.search_batch(
            queries if isinstance(queries, list) else [queries],
            k=k,
            **search_kwargs,
        )
        return cluster_results(
            res, self._emb, n_clusters=n_clusters, iters=iters
        )

    def search_diverse(
        self,
        query,
        k: int = 10,
        candidates: int = 20,
        div10: int = 5,
        **search_kwargs,
    ) -> DataFrame:
        """MMR-diversified search (query/diversify.py): the raw-score
        top-``candidates`` rerank under the integer MMR objective so
        the k returned docs cover different content; div10/10 is the
        diversity weight (0 = plain relevance order). Requires
        with_corpus() — candidate token sets come from the doc store.
        Returns (query_id, rank, doc_id, objective)."""
        from pisa_spark.query.diversify import candidate_tokens, mmr_rerank

        cands = self.search(query, k=candidates, **search_kwargs)
        toks = candidate_tokens(self._docs_df())
        return mmr_rerank(cands, toks, k=k, div10=div10)

    # -- document fetch (forward index) ------------------------------------

    def with_embeddings(self, src) -> "SearchEngine":
        """Attach a dense-vector relation (vec_id, embedding) — a
        parquet path or a DataFrame; vec_id keys the same documents
        the index serves (the TESTDATA contract). Enables
        search_hybrid."""
        self._emb = (
            self.spark.read.parquet(src) if isinstance(src, str) else src
        )
        return self

    def search_hybrid(
        self,
        queries,
        query_vecs,
        k: int = 10,
        depth: int = 50,
        k_rrf: float = 60.0,
        weights: list[float] | None = None,
        method: str = "brute",
        **lsh_kwargs,
    ) -> DataFrame:
        """Hybrid dense+sparse retrieval (query/hybrid.py): the WAND
        BM25 run and an embedding-cosine run, each cut at ``depth``,
        fused by weighted RRF — lexical + semantic recall, the
        standard modern first stage. ``query_vecs``: one vector per
        query, positionally aligned (query_id = position, matching
        search_batch's assignment). method: 'brute' (exact cosine —
        the oracle baseline) or 'lsh' (bucket-bounded, the 10^12-doc
        path; kwargs forwarded). Requires with_embeddings().

        Tombstone deletes compose: the sparse run excludes them via
        the pseudo-term kernels, and the dense side drops deleted
        vectors BEFORE ranking so rank slots stay dense."""
        from pisa_spark.query.hybrid import dense_run_as_docs
        from pisa_spark.query.fusion import rrf_fuse
        from pisa_spark.similarity.ann import (
            cosine_topk_bruteforce,
            lsh_bucket_topk,
        )

        if getattr(self, "_emb", None) is None:
            raise ValueError(
                "search_hybrid needs with_embeddings(path_or_df)"
            )
        if not isinstance(queries, list):
            queries = [queries]
        if len(query_vecs) != len(queries):
            raise ValueError("one query vector per query")
        sparse = self.search_batch(queries, k=depth)
        # dense-run ids must match the SPARSE run's assignment: dict
        # queries may carry explicit query_ids (search_batch honors
        # them via _normalize's q.get('query_id', i)); positional
        # enumeration here would fuse the two runs under different ids
        raw = [
            parse_query(q) if isinstance(q, str) else dict(q)
            for q in queries
        ]
        qids = [int(q.get("query_id", i)) for i, q in enumerate(raw)]
        if len(set(qids)) != len(qids):
            raise ValueError("duplicate query_ids in hybrid batch")
        qv = self.spark.createDataFrame(
            [
                (qid, [float(x) for x in v])
                for qid, v in zip(qids, query_vecs)
            ],
            "query_id int, query_vec array<float>",
        )
        emb = self._emb
        if self._tombstone_ids is not None:
            emb = emb.join(
                self._tombstone_ids.select(
                    F.col("doc_id").alias("vec_id")
                ),
                "vec_id",
                "left_anti",
            )
        if method == "brute":
            d = cosine_topk_bruteforce(emb, qv, k=depth)
        elif method == "lsh":
            d = lsh_bucket_topk(emb, qv, k=depth, **lsh_kwargs)
        else:
            raise ValueError("method must be 'brute' or 'lsh'")
        return rrf_fuse(
            [sparse, dense_run_as_docs(d)],
            k=k,
            depth=depth,
            k_rrf=k_rrf,
            weights=weights,
        )

    def with_corpus(self, corpus_dir: str) -> "SearchEngine":
        """Attach the corpus snapshot as the doc store (the forward
        index): search results can then be joined back to text."""
        self._corpus_dir = corpus_dir
        return self

    def _corpus(self) -> str:
        if self._corpus_dir is None:
            raise ValueError(
                "no doc store attached — call with_corpus(corpus_dir) first"
            )
        return self._corpus_dir

    def _reorder_mapping(self) -> DataFrame:
        """(doc_id, new_id) of a reorder_by= build, lazily read+cached
        from the index root's reorder_map catalog table."""
        if self._reorder_map_df is None:
            from pisa_spark.index.reorder import REORDER_TABLE
            from pisa_spark.sources import catalog

            seq = None
            ts = getattr(self, "_reorder_as_of", None)
            if ts is not None:
                seq = catalog.snapshot_as_of_ts(
                    self._index_root, REORDER_TABLE, ts
                )
            self._reorder_map_df = catalog.read_table(
                self.spark, self._index_root, REORDER_TABLE, as_of=seq
            ).cache()
        return self._reorder_map_df

    def restore(self, results: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """Map a result relation's (reordered) doc ids back to ORIGINAL
        corpus ids — the boundary call for a reorder_by= index; a
        no-op passthrough otherwise, so callers can apply it
        unconditionally. Broadcasts the (small) result side; the
        corpus-sized mapping streams (index/reorder.py restore_ids)."""
        if not self._reordered:
            return results
        from pisa_spark.index.reorder import restore_ids

        return restore_ids(results, self._reorder_mapping(), id_col=id_col)

    def _docs_df(self) -> DataFrame:
        """The forward index, resolved through the manifest catalog so
        a manifest-committed corpus (e.g. the streaming staging table)
        gets atomic-visibility reads; a plain parquet dir (driver
        testdata) falls through to the catalog's legacy direct read.

        On a reorder_by= index the corpus remaps into new-id space
        first, so EVERY doc-store join (facets, snippets, RM3 feedback,
        MMR token sets, fetch_docs) stays id-consistent with search
        results; restore() converts back at the boundary."""
        from pisa_spark.sources import catalog

        docs = catalog.read_table(
            self.spark, self._corpus(), "documents.parquet"
        )
        if self._reordered:
            from pisa_spark.index.reorder import apply_reorder

            docs = apply_reorder(docs, self._reorder_mapping())
        return docs

    def fetch_docs(self, doc_ids: list[int]) -> DataFrame:
        """(doc_id, text) for the given ids — an IN filter that reaches
        the parquet scan (PushedFilters), no full corpus read."""
        return self._docs_df().select("doc_id", "text").filter(
            F.col("doc_id").isin([int(i) for i in doc_ids])
        )

    def search_with_docs(
        self, query, k: int = 10, snippet_window: int | None = None
    ) -> DataFrame:
        """search() plus the matching document text — top-k ids are tiny,
        so the doc join is a broadcast of k rows against the id-pruned
        corpus scan. snippet_window=N adds a ``snippet`` column: N
        tokens of context around the first query-term hit (pure array
        expressions, no extra job)."""
        from pisa_spark.corpus import parse_query, tokens_col

        hits = self.search(query, k=k)
        docs = self._docs_df().select("doc_id", "text")
        out = F.broadcast(hits).join(docs, "doc_id").select(
            "query_id", "rank", "doc_id", "score", "text"
        )
        if snippet_window is None:
            return out
        terms = (
            parse_query(query)["terms"] if isinstance(query, str)
            else list(query["terms"])
        )
        toks = tokens_col(F.col("text"))
        qarr = F.array(*[F.lit(t) for t in terms])
        # 1-based position of the first token that is any query term
        first = F.array_position(
            F.transform(toks, lambda t: F.array_contains(qarr, t)), True
        )
        start = F.greatest(first - snippet_window // 2, F.lit(1))
        snippet = F.when(
            first > 0,
            F.array_join(F.slice(toks, start, snippet_window), " "),
        ).otherwise(F.array_join(F.slice(toks, 1, snippet_window), " "))
        return out.withColumn("snippet", snippet)

    # -- metadata ----------------------------------------------------------

    def corpus_stats(self) -> dict:
        return dict(self.stats)

    def term_stats(self, terms: list[str]) -> DataFrame:
        """(term, df) for the given terms, through the same lexicon /
        driver-side cache the query path reads, so the df definition
        cannot drift between the two."""
        dfs = self._term_dfs(set(terms))
        return self.spark.createDataFrame(
            [(t, d) for t, d in dfs.items() if d > 0],
            schema="term string, df bigint",
        )


class FederatedEngine:
    """Serve several persisted indexes (disjoint doc-id spaces — the
    incremental builder's contract) as ONE logical corpus: a big
    rarely-rebuilt base plus small recent-delta roots (e.g. streaming
    ingest snapshots) answer together, rank-identical to a single
    merged index (query/bm25.py bm25_topk_federated; the
    bm25_federated_topk gate proves the identity against the
    one-corpus oracle).

    Intentionally narrow: search/search_batch over OR/'+'/'-' queries.
    The single-index SearchEngine keeps the wide facade; federation is
    a serving-topology concern, not a new query language."""

    def __init__(
        self, spark: SparkSession, members: list, pre_arranged: bool = False,
        names: list[str] | None = None,
        lexicons: list[dict[str, int] | None] | None = None,
    ):
        self.spark = spark
        self.members = members  # [(postings, stats)]
        self._pre_arranged = pre_arranged
        # per-member term -> df lexicons (load() passes the members'
        # own); None for a member = per-query df lookup for it
        self._lexicons = (
            list(lexicons) if lexicons is not None else [None] * len(members)
        )
        if len(self._lexicons) != len(members):
            raise ValueError("lexicons must match members 1:1")
        # shard names for selective search; default to member ordinals
        self.names = (
            list(names)
            if names is not None
            else [f"shard{i:04d}" for i in range(len(members))]
        )
        if len(self.names) != len(members):
            raise ValueError("names must match members 1:1")

    @classmethod
    def load(
        cls, spark: SparkSession, roots: list[str], cache: bool = True
    ) -> "FederatedEngine":
        members, arranged, lexicons = [], [], []
        for root in roots:
            eng = SearchEngine.load(spark, root, cache=cache)
            members.append((eng.postings, eng.stats))
            arranged.append(eng._pre_arranged)
            lexicons.append(eng._lexicon)
        # the bucket-co-location invariant must hold for EVERY member
        # before the per-query repartition can be skipped
        return cls(
            spark, members, pre_arranged=all(arranged), names=roots,
            lexicons=lexicons,
        )

    def search(self, query, k: int = 10):
        return self.search_batch([query], k=k)

    def search_batch(self, queries, k: int = 10):
        from pisa_spark.query.bm25 import bm25_topk_federated

        norm = []
        for i, q in enumerate(queries):
            q = parse_query(q) if isinstance(q, str) else dict(q)
            if q.get("phrases"):
                raise ValueError(
                    "federated serving covers term queries; route"
                    " phrases to a single-index SearchEngine"
                )
            norm.append(
                {
                    "query_id": q.get("query_id", i),
                    "terms": list(q["terms"]),
                    "conjunctive": q.get("conjunctive", False),
                    **(
                        {"negated": list(q["negated"])}
                        if q.get("negated")
                        else {}
                    ),
                    **(
                        {"filter": list(q["filter"])}
                        if q.get("filter")
                        else {}
                    ),
                }
            )
        return bm25_topk_federated(
            self.members, norm, k=k,
            pre_arranged=self._pre_arranged, lexicons=self._lexicons,
        )

    def search_selective(
        self, queries, k: int = 10, n_select: int = 2,
        method: str = "cori", taily_ntop: int = 100, taily_v: float = 1.0,
    ) -> DataFrame:
        """Selective search: rank the members per query and execute
        each query on a subset only, scored under the federation's
        GLOBAL stats. method='cori' (query/shards.py) ranks from
        block-metadata df beliefs and keeps the top n_select;
        method='taily' (query/taily.py) fits per-shard Gamma score
        distributions from one bounded decode pass and keeps shards
        whose estimated above-cutoff doc count exceeds taily_v (so the
        selected-set SIZE adapts per query). Needs total_terms in
        every member's stats (load() provides it). Either way the
        result is rank-identical to search_batch restricted to the
        selected members' documents — gates selective_shard_topk /
        taily_shard_stats pin the two selection mechanisms."""
        from pisa_spark.query.shards import selective_topk
        from pisa_spark.query.taily import taily_topk

        if method not in ("cori", "taily"):
            raise ValueError("method must be 'cori' or 'taily'")

        norm = []
        for i, q in enumerate(queries):
            q = parse_query(q) if isinstance(q, str) else dict(q)
            if q.get("phrases") or q.get("filter"):
                raise ValueError(
                    "selective serving covers term queries; route"
                    " phrases/filters to a single-index SearchEngine"
                )
            norm.append(
                {
                    "query_id": q.get("query_id", i),
                    "terms": list(q["terms"]),
                    "conjunctive": q.get("conjunctive", False),
                    **(
                        {"negated": list(q["negated"])}
                        if q.get("negated")
                        else {}
                    ),
                }
            )
        shards = [
            (name, postings, stats)
            for name, (postings, stats) in zip(self.names, self.members)
        ]
        if method == "taily":
            return taily_topk(
                shards, norm, k=k, ntop=taily_ntop, v=taily_v,
                pre_arranged=self._pre_arranged,
            )
        return selective_topk(
            shards, norm, k=k, n_select=n_select,
            pre_arranged=self._pre_arranged,
        )
