"""BM25 top-k query engine.

Two physical strategies over the same logical semantics (and they must
agree rank-identically — tests/test_wand.py asserts it):

1. ``bm25_topk_dataframe`` — exhaustive, pure DataFrame algebra straight
   off the (doc_id, term, tf, doc_len) relation. This is the semantic
   oracle path: broadcast the query terms, join, score with built-in
   column expressions (whole-stage codegen, no Python), sum per
   (query, doc), window top-k. Used by the correctness gate because the
   identical plan is expressible in ANSI SQL for DuckDB.

2. ``bm25_topk_wand`` — block-max WAND over the compressed doc-bucketed
   index: partition pruning by bucket, per-bucket pruned scoring inside
   a mapInPandas kernel (vectorized decode, block-max upper bounds skip
   whole blocks), per-bucket top-k, then a global top-k merge. This is
   the 10^12-doc serving path: work per bucket is bounded, no shuffle
   of raw postings, only |queries| * k rows leave each bucket.

Top-k semantics (shared, from the reference): exact top-k per query
subject with deterministic ties (score DESC, doc_id ASC) — the Spark
rendering of torch.topk over a fully-scored candidate set
(/root/reference/src/Inference.py:227-240) with seen-masking replaced
by conjunctive filtering (/root/reference/src/Inference.py:233-238).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pisa_spark.index import codec
from pisa_spark.index.build import BM25_B, BM25_K1
from pisa_spark.session import task_wave_partitions

TOPK_RESULT_SCHEMA = "query_id int, doc_id long, score double"


def score_expr(n_docs: float, avgdl: float):
    """BM25 partial score as a JVM column expression over (tf, df,
    doc_len) — stays inside whole-stage codegen."""
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(BM25_K1) * (
        1.0 - BM25_B + F.lit(BM25_B) * F.col("doc_len") / F.lit(float(avgdl))
    )
    return idf * (tf * (BM25_K1 + 1.0)) / denom


def topk_window(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score) -> top-k per query, ties
    (score DESC, doc_id ASC), rank 1..k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_topk_dataframe(
    tf_df: DataFrame,
    queries_df: DataFrame,
    n_docs: float,
    avgdl: float,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Exhaustive BM25 top-k, pure DataFrame algebra.

    tf_df: (doc_id, term, tf, doc_len, df) — df column = document freq.
    queries_df: (query_id, term) exploded query terms (deduped).
    conjunctive: doc must match ALL the query's terms (AND semantics) —
    enforced by comparing per-doc matched-term count to the query's term
    count, the relational rendering of posting-list intersection.
    """
    qterms = queries_df.select("query_id", "term").distinct()
    qsizes = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    matched = tf_df.join(F.broadcast(qterms), "term")
    scored = matched.withColumn("pscore", score_expr(n_docs, avgdl))
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("pscore").alias("score"), F.count(F.lit(1)).alias("n_matched")
    )
    if conjunctive:
        per_doc = per_doc.join(F.broadcast(qsizes), "query_id").filter(
            F.col("n_matched") == F.col("n_terms")
        )
    return topk_window(per_doc.select("query_id", "doc_id", "score"), k)


# ---------------------------------------------------------------------------
# Block-max WAND path over the compressed index
# ---------------------------------------------------------------------------


def _bm25_np(tf: np.ndarray, dl: np.ndarray, dfreq: float, n_docs: float, avgdl: float) -> np.ndarray:
    idf = np.log((n_docs - dfreq + 0.5) / (dfreq + 0.5))
    tf = tf.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / avgdl)
    return idf * (tf * (BM25_K1 + 1.0)) / denom


def _segmented_delta_decode(deltas: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Rebuild per-segment increasing sequences from concatenated
    deltas (first-in-segment absolute, later ones diff-1): a single
    cumsum with per-segment prefix subtraction — no per-segment loop."""
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    adj = deltas + 1
    adj[starts] = deltas[starts]
    cs = np.cumsum(adj)
    seg_prefix = (
        np.concatenate(([0], cs[starts[1:] - 1]))
        if starts.size > 1
        else np.zeros(1, np.int64)
    )
    return cs - np.repeat(seg_prefix, lens)


def _decode_blocks_vectorized(
    g: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ALL of a term's kept blocks in three varint passes total.

    Block byte-strings concatenate losslessly (each block's first doc-id
    delta is absolute), so docs/tfs/dls each decode with ONE call, then
    doc-ids are rebuilt by a segmented cumsum — no per-block Python loop
    beyond the bytes join.
    """
    ns = g["n"].to_numpy(np.int64)
    deltas = codec.varint_decode(b"".join(g["docs"])).astype(np.int64)
    docs = _segmented_delta_decode(deltas, ns)
    tfs = codec.varint_decode(b"".join(g["tfs"])).astype(np.int64) + 1
    dls = codec.varint_decode(b"".join(g["dls"])).astype(np.int64)
    return docs, tfs, dls


def _decode_positions(g: pd.DataFrame, tfs: np.ndarray) -> np.ndarray:
    """Decode the ``poss`` payload: one position array aligned with the
    decoded postings' token occurrences; segment lengths are the tfs
    (each posting holds exactly tf positions, first absolute, later
    diff-1)."""
    deltas = codec.varint_decode(b"".join(g["poss"])).astype(np.int64)
    return _segmented_delta_decode(deltas, tfs)


def _block_bounds(
    by_term: dict[str, pd.DataFrame],
    terms: list[str],
    n_docs: float,
    avgdl: float,
    term_dfs: dict[str, int],
) -> tuple[dict[str, float], dict[str, np.ndarray]]:
    """Per-term idf and per-block score upper-bound arrays, computed ONCE
    per bucket and shared by every query in the batch.

    block_max_score is derived at query time from per-block (tf, dl)
    corner stats under the CURRENT avgdl/df (the score is monotone
    +tf/-dl): idf > 0 -> score(tf_max, dl_min); idf < 0 ->
    score(tf_min, dl_max).

    The bound is computed by the SAME function (_bm25_np, same float
    association) as the scorer, so a posting that attains the block's
    corners gets a bound bit-identical to its score — an independently
    associated formula can land one ulp below an achieved score used as
    a pruning threshold and unsoundly skip the block/bucket holding
    the true top doc (caught by tests/test_wand_fuzz.py).
    """
    idf, bmax = {}, {}
    for t in terms:
        dfreq = float(term_dfs[t])
        idf[t] = float(np.log((n_docs - dfreq + 0.5) / (dfreq + 0.5)))
        g = by_term[t]
        if idf[t] >= 0:
            bmax[t] = _bm25_np(
                g["tf_max"].to_numpy(np.float64),
                g["dl_min"].to_numpy(np.float64),
                dfreq, n_docs, avgdl,
            )
        else:
            bmax[t] = _bm25_np(
                g["tf_min"].to_numpy(np.float64),
                g["dl_max"].to_numpy(np.float64),
                dfreq, n_docs, avgdl,
            )
    return idf, bmax


def _query_keep_masks(
    present: list[str],
    conjunctive: bool,
    idf: dict[str, float],
    bmax: dict[str, np.ndarray],
    threshold: float,
) -> dict[str, np.ndarray] | None:
    """Block-level keep masks for one query in one bucket, or None when
    the whole bucket provably cannot reach ``threshold``.

    Soundness contract of every prune here (pruning must never change
    the returned top-k — asserted against the exhaustive path in tests):

    * bucket skip (best_bound < threshold): drops ALL of every doc's
      contributions together — always sound.
    * conjunctive block skip: docs of a pruned block lose a REQUIRED
      term, so the n_matched filter excludes them whole, and the bound
      proves their true score < threshold — sound.
    * disjunctive block skip is sound ONLY for idf >= 0 terms. Skipping
      a negative-idf term's block would silently drop a NEGATIVE
      contribution from docs that also match other terms, inflating
      their computed score above the true score and letting wrong docs
      into the top-k. Negative-idf terms therefore always decode fully
      under OR (their blocks are cheap to bound but never skippable).
    """
    term_max = {t: float(bmax[t].max()) for t in present}
    # Upper bounds must survive NEGATIVE partial scores (BM25 idf < 0
    # when df > N/2): under OR a doc need not contain a negative-impact
    # term, so other terms contribute max(term_max, 0); under AND the doc
    # contains every term, so the true (possibly negative) maxes add up.
    if conjunctive:
        others = {t: sum(term_max[u] for u in present if u != t) for t in present}
        best_bound = sum(term_max.values())
    else:
        pos = {t: max(term_max[t], 0.0) for t in present}
        pos_sum = sum(pos.values())
        others = {t: pos_sum - pos[t] for t in present}
        best_bound = max(term_max[t] + others[t] for t in present)
    # epsilon slack: bound/threshold arithmetic can disagree with the
    # scorer by a few ulps in MIXED-corner and multi-term summations;
    # slack only ever KEEPS more blocks (never drops), so pruning stays
    # sound while a hair less aggressive
    eps = 1e-9 * max(1.0, abs(threshold)) if np.isfinite(threshold) else 0.0
    if best_bound < threshold - eps:
        return None
    masks: dict[str, np.ndarray] = {}
    for t in present:
        if not conjunctive and idf[t] < 0:
            masks[t] = np.ones(len(bmax[t]), bool)
            continue
        m = bmax[t] + others[t] >= threshold - eps
        if conjunctive and not m.any():
            return None
        masks[t] = m
    return masks


def _accumulate_topk(
    doc_parts: list[np.ndarray],
    score_parts: list[np.ndarray],
    n_terms: int,
    conjunctive: bool,
    k: int,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Sum per-term contributions into per-doc scores and trim to the
    bucket-local top-k candidates. np.unique + np.bincount over the
    concatenation of surviving postings: no dict, no per-posting Python.

    exclude: sorted doc ids to drop (negated-term exclusion). Applied
    BEFORE the top-k trim — an excluded doc sitting in a trim slot
    must not displace a valid candidate below the k-th score.
    include: sorted doc ids to KEEP (attribute-filter intersection),
    same before-the-trim discipline; None means no filter (keep all).
    """
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    if not doc_parts:
        return empty
    all_docs = np.concatenate(doc_parts)
    all_scores = np.concatenate(score_parts)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    sums = np.bincount(inv, weights=all_scores)
    if conjunctive:
        counts = np.bincount(inv)
        mask = counts == n_terms
        uniq, sums = uniq[mask], sums[mask]
    if include is not None and uniq.size:
        alive = (
            _in_sorted(include, uniq)
            if include.size
            else np.zeros(uniq.size, bool)
        )
        uniq, sums = uniq[alive], sums[alive]
    if exclude is not None and exclude.size and uniq.size:
        alive = ~_in_sorted(exclude, uniq)
        uniq, sums = uniq[alive], sums[alive]
    if uniq.size > k:
        # keep every doc scoring >= the k-th largest score: tie-safe trim
        # (global window applies the (score DESC, doc_id ASC) order)
        kth = np.partition(sums, uniq.size - k)[uniq.size - k]
        mask = sums >= kth
        uniq, sums = uniq[mask], sums[mask]
    return uniq, sums


def bucket_arranged(df: DataFrame) -> DataFrame:
    """Bucket-co-locate a serving relation: every bucket's rows in one
    partition, with one partition per core (session.
    task_wave_partitions), so the Python kernel tasks that run over it
    fit in a single wave of task slots. Every serving-side bucket
    repartition goes through here."""
    return df.repartition(task_wave_partitions(df.sparkSession), "bucket")


# Postings one query-kernel task scores before the kernel stage takes
# another partition (up to one per core). Splitting P postings over two
# tasks saves P / (2 R) of kernel time and costs E, the exchange and
# second job a multi-task plan adds, so it pays from P = 2 R E. Measured
# on a 4-vCPU box (CPython 3.11, Spark 4.1.2, local[4], Zipf corpora of
# 8k-20k docs): the WAND kernel scores R ~ 2M postings/s of one core
# (1.6-3.9M/s for 4-64 terms), and a query on one task runs E ~ 60 ms
# faster than on four (167-247 vs 224-309 ms below 54k postings); so
# P = 2 x 2M/s x 0.06 s ~ 240k. End to end, one task and four broke
# even between 220k and 335k postings.
POSTINGS_PER_TASK = 250_000


def kernel_partitions(spark, term_dfs: dict[str, int]) -> int:
    """Partition count for a query's kernel stage: one task per
    POSTINGS_PER_TASK postings of the scored terms (lexicon dfs), at
    most one per core. An empty term_dfs (a caller with no real dfs)
    keeps one partition per core. With one partition the kernel output
    is a single partition, so the top-k window needs no exchange: a
    small query runs as one Spark job of one Python task."""
    n = task_wave_partitions(spark)
    if not term_dfs:
        return n
    postings = sum(term_dfs.values())
    return max(1, min(n, -(-postings // POSTINGS_PER_TASK)))


def _arrange_pruned(
    postings: DataFrame,
    terms: list[str],
    term_dfs: dict[str, int] | None,
    pre_arranged: bool,
) -> tuple[DataFrame, dict[str, int]]:
    """Shared query-driver prologue: term-pruned scan (PushedFilters),
    df derivation from block metadata when not supplied, bucket
    co-location on kernel_partitions(term_dfs) partitions. An arranged
    input is coalesced, which merges whole partitions and so keeps
    every bucket inside one; any other input is repartitioned by
    bucket."""
    pruned = postings.filter(F.col("term").isin(list(terms)))
    if term_dfs is None:
        term_dfs = {
            r["term"]: int(r["df"])
            for r in pruned.groupBy("term").agg(F.sum("n").alias("df")).collect()
        }
        # every queried term is known now: absent ones have 0 postings
        n = kernel_partitions(
            postings.sparkSession, {t: term_dfs.get(t, 0) for t in terms}
        )
    else:
        n = kernel_partitions(postings.sparkSession, term_dfs)
    if pre_arranged:
        arranged = pruned.coalesce(n)
    else:
        arranged = pruned.repartition(n, "bucket")
    return arranged, term_dfs


_EMPTY_TOPK_FRAME = {
    "query_id": pd.array([], dtype="int32"),
    "doc_id": pd.array([], dtype="int64"),
    "score": pd.array([], dtype="float64"),
}


def _exact_block_docs(g: pd.DataFrame) -> np.ndarray:
    """Sorted unique doc ids of a term's exact-index blocks — the
    default docs-only decoder for exclusion/inclusion sets."""
    docs, _, _ = _decode_blocks_vectorized(g)
    return np.unique(docs)


def _bucket_exclusion(
    by_term: dict,
    negated: list[str],
    cache: dict,
    decode_docs=_exact_block_docs,
) -> np.ndarray | None:
    """Sorted doc ids of this bucket matching any negated term.

    The doc-range layout makes NOT local: a negated term's postings for
    this bucket's doc range live in this bucket, so exclusion needs no
    cross-bucket state. Per-term decodes are cached across the batch's
    queries (docs only — negated terms are never scored).
    decode_docs: layout-specific docs-only decoder (the quantized
    kernel passes its own — payload columns differ, the docs column
    does not)."""
    parts = []
    for t in negated:
        if t not in by_term:
            continue
        if t not in cache:
            cache[t] = decode_docs(by_term[t])
        parts.append(cache[t])
    if not parts:
        return None
    return np.unique(np.concatenate(parts)) if len(parts) > 1 else parts[0]


def _flat_filters(q: dict) -> list[str]:
    """Flatten a query's filter spec (str | list[str] groups) to the
    pseudo-terms it touches — for the pruned-scan term set."""
    out: list[str] = []
    for g in q.get("filter", []):
        out.extend([g] if isinstance(g, str) else g)
    return out


def _bucket_inclusion(
    by_term: dict,
    filters: list,
    cache: dict,
    decode_docs=_exact_block_docs,
) -> np.ndarray | None:
    """Sorted doc ids of this bucket satisfying the filter spec, or
    None when the query carries no filters.

    Each element of ``filters`` is a GROUP: a plain string is a
    single pseudo-term ('lang:en' — build.attribute_tokens_col), a
    list of strings is a UNION of alternatives (the numeric
    range-decomposition terms — index/numeric.py range_terms). A doc
    must match at least one member of EVERY group (OR within, AND
    across) — exactly the relational `AND` of per-column predicates.

    The doc-range layout makes this local exactly like NOT: a doc's
    filter postings live in its own bucket. A group with no member
    present in the bucket -> empty include set. Per-term decodes share
    the same cache as negation (docs only, never scored)."""
    if not filters:
        return None

    def term_docs(t: str) -> np.ndarray:
        if t not in cache:
            cache[t] = decode_docs(by_term[t])
        return cache[t]

    inter: np.ndarray | None = None
    for group in filters:
        members = [group] if isinstance(group, str) else list(group)
        present = [t for t in members if t in by_term]
        if not present:
            return np.empty(0, np.int64)
        if len(present) == 1:
            gdocs = term_docs(present[0])
        else:
            # precision-step cells are disjoint by construction, but
            # unique() keeps the union contract for arbitrary groups
            gdocs = np.unique(
                np.concatenate([term_docs(t) for t in present])
            )
        inter = (
            gdocs if inter is None else inter[_in_sorted(gdocs, inter)]
        )
        if inter.size == 0:
            return inter
    return inter


def wand_kernel(
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int,
    term_dfs: dict[str, int],
    thresholds: dict[int, float] | None = None,
):
    """Build the mapInPandas kernel closure for per-bucket WAND.

    queries: [{query_id, terms: [str], conjunctive: bool}].
    thresholds: per-query lower bounds on the global k-th score (valid
    pruning thresholds); empty -> no pruning.
    Input batches: posting-block rows of ONE bucket-partition slice
    (bucket, term, block_idx, ..., df). Output: per-bucket top-k rows
    (query_id, doc_id, score).

    Batch mode (>1 surviving query in a bucket): each term is decoded
    ONCE over the UNION of the batch's per-query keep masks — blocks no
    query can use are never decoded (threshold-aware shared decode), and
    each query then applies its own mask at the posting level via the
    kept postings' original block ids. Single query keeps plain
    masked-decode (latency mode).
    """
    thresholds = thresholds or {}

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # A physical partition may hold several buckets; group first.
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out_frames = []
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            needed = [
                t
                for t in dict.fromkeys(t for q in queries for t in q["terms"])
                if t in by_term
            ]
            idf, bmax = _block_bounds(by_term, needed, n_docs, avgdl, term_dfs)
            # plan every query first: (query, distinct terms, present, masks)
            plans = []
            neg_cache: dict[str, np.ndarray] = {}
            for q in queries:
                terms = list(dict.fromkeys(q["terms"]))  # a term scores once
                present = [t for t in terms if t in by_term]
                if not present or (q["conjunctive"] and len(present) < len(terms)):
                    continue
                masks = _query_keep_masks(
                    present, q["conjunctive"], idf, bmax,
                    thresholds.get(q["query_id"], -np.inf),
                )
                if masks is not None:
                    plans.append((q, terms, present, masks))
            if not plans:
                continue
            batch = len(plans) > 1
            decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
            if batch:
                union: dict[str, np.ndarray] = {}
                for _, _, present, masks in plans:
                    for t in present:
                        union[t] = masks[t] if t not in union else union[t] | masks[t]
                for t, um in union.items():
                    if not um.any():
                        continue
                    g = by_term[t]
                    docs, tfs, dls = _decode_blocks_vectorized(g[um])
                    scores = _bm25_np(tfs, dls, float(term_dfs[t]), n_docs, avgdl)
                    kept = np.flatnonzero(um)
                    ns = g["n"].to_numpy(np.int64)[kept]
                    decoded[t] = (docs, scores, kept, ns)
            for q, terms, present, masks in plans:
                doc_parts, score_parts = [], []
                for t in present:
                    m = masks[t]
                    if not m.any():
                        continue
                    if batch:
                        docs, scores, kept, ns = decoded[t]
                        # sel: this query's keep decision per DECODED
                        # block. Dense sel -> skip the per-posting
                        # re-mask and accumulate the shared arrays
                        # uncut: extra blocks (kept by other queries)
                        # only move understated scores toward exact,
                        # which is always sound — the gather+copy of a
                        # nearly-full mask costs more than accumulating
                        # the few extra postings it would drop.
                        sel = m[kept]
                        if sel.all() or ns[sel].sum() * 2 > docs.size:
                            doc_parts.append(docs)
                            score_parts.append(scores)
                        else:
                            pm = np.repeat(sel, ns)
                            doc_parts.append(docs[pm])
                            score_parts.append(scores[pm])
                    else:
                        g = by_term[t]
                        docs, tfs, dls = _decode_blocks_vectorized(g[m])
                        scores = _bm25_np(
                            tfs, dls, float(term_dfs[t]), n_docs, avgdl
                        )
                        doc_parts.append(docs)
                        score_parts.append(scores)
                docs, scores = _accumulate_topk(
                    doc_parts, score_parts, len(terms), q["conjunctive"], k,
                    exclude=_bucket_exclusion(
                        by_term, q.get("negated", []), neg_cache
                    ),
                    include=_bucket_inclusion(
                        by_term, q.get("filter", []), neg_cache
                    ),
                )
                if docs.size:
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(docs.size, q["query_id"], np.int32),
                                "doc_id": docs,
                                "score": scores,
                            }
                        )
                    )
        if out_frames:
            yield pd.concat(out_frames, ignore_index=True)
        else:
            yield pd.DataFrame(_EMPTY_TOPK_FRAME)

    return kernel


def bm25_topk_wand(
    postings: DataFrame,
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
    primed_thresholds: dict[int, float] | None = None,
) -> DataFrame:
    """Block-max WAND top-k over the compressed index.

    postings: the df-free block table from build_postings.
    term_dfs: optional {term: global df} override (e.g. from a cached
    term_stats table); derived from block metadata when omitted.
    queries: [{query_id, terms, conjunctive}] — small, shipped in the
    closure (the broadcast-side of SURVEY T13).

    primed_thresholds: per-query VALID lower bounds on the global k-th
    score, precomputed at build time (query/thresholds.py — PISA's
    kth_threshold tool). Pruning starts from them instead of -inf.

    pre_arranged: the input already holds every bucket wholly inside
    one partition (the serving layout: the catalog stores postings
    partitioned by bucket, and parquet files below maxPartitionBytes
    are never split) — skip the per-query repartition shuffle. REQUIRED
    invariant: a bucket must not span partitions, or per-doc scores
    would be summed per fragment instead of per bucket.

    Plan shape: scan (term-pruned: only blocks of query terms survive,
    pushed to the parquet/Iceberg scan) -> per-bucket kernel -> global
    top-k window over <= n_buckets * |queries| * k rows.
    """
    all_terms = sorted(
        {t for q in queries for t in q["terms"]}
        | {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    # no cache: the term-pruned parquet scan (PushedFilters) is cheaper
    # to re-run than to materialize, and caching per call would leak;
    # df = sum(n) over the term's blocks when not supplied
    arranged, term_dfs = _arrange_pruned(
        postings, all_terms, term_dfs, pre_arranged
    )
    partial = arranged.mapInPandas(
        wand_kernel(
            queries, float(n_docs), float(avgdl), k, term_dfs,
            primed_thresholds,
        ),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)


# ---------------------------------------------------------------------------
# MaxScore: the other classic dynamic-pruning algorithm (term-at-a-time
# with impact ordering and candidate freezing). Rank-identical to the
# exhaustive path and to wand_kernel by contract — same gates, same
# oracle SQL, fuzzed side by side in tests/test_wand_fuzz.py.
# ---------------------------------------------------------------------------


def _in_sorted(haystack: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Boolean membership mask of ``needles`` in sorted-unique
    ``haystack`` via searchsorted — the vectorized set-lookup both the
    frozen phase and the dead-list filter use."""
    if haystack.size == 0:
        return np.zeros(needles.size, bool)
    idx = np.searchsorted(haystack, needles)
    safe = np.minimum(idx, haystack.size - 1)
    return haystack[safe] == needles


def _merge_acc(
    d1: np.ndarray, s1: np.ndarray, d2: np.ndarray, s2: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Merge a term's (sorted, unique) decoded postings into the sorted
    accumulator: union doc ids, sum scores. np.unique keeps the result
    sorted, which the frozen phase's searchsorted membership relies on."""
    if d1.size == 0:
        return d2, s2
    docs = np.concatenate((d1, d2))
    scores = np.concatenate((s1, s2))
    uniq, inv = np.unique(docs, return_inverse=True)
    return uniq, np.bincount(inv, weights=scores)


def _maxscore_or(
    by_term: dict[str, pd.DataFrame],
    present: list[str],
    idf: dict[str, float],
    bmax: dict[str, np.ndarray],
    term_dfs: dict[str, int],
    n_docs: float,
    avgdl: float,
    k: int,
    tau0: float,
    exclude: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One disjunctive query, one bucket, MaxScore order: process terms
    by DESCENDING max impact, tightening a local threshold tau as the
    accumulator fills, and FREEZE the candidate set once the remaining
    terms' summed maxima cannot lift an unseen doc past tau. Frozen
    terms — the low-impact, high-df ones with the LONGEST posting
    lists — then decode only blocks whose (first_doc, max_doc) range
    intersects surviving candidates, and their postings update
    candidates via sorted-membership lookup. That asymmetry (full
    decode for rare terms, candidate-gated decode for stop-word-ish
    terms) is the whole point of MaxScore at web scale.

    Soundness (pruning must never change the returned top-k):

    * tau is always a valid lower bound on this bucket's k-th FINAL
      score: it starts from the caller's primed threshold (a global
      k-th lower bound, or -inf) and is only raised to the k-th largest
      ACCUMULATED partial — partials are per-doc lower bounds of finals
      (negative-idf terms are applied FIRST in full, so every remaining
      contribution is >= 0), and the k-th largest of lower bounds never
      exceeds the k-th largest of finals.
    * block skip uses the identical bound-vs-threshold rule (and eps
      slack) as _query_keep_masks: a skipped block's docs provably
      finish below tau, so understating them can never perturb the
      top-k (true top-k docs' blocks are never skippable — their bound
      >= their final >= tau).
    * freezing when remaining_max < tau - eps: an unseen doc either
      appears only in unprocessed positive terms (final <= remaining
      max) or sat in a skipped block (provably below tau) — no unseen
      doc can reach the top-k.
    * accumulator pruning drops docs with partial + remaining_max <
      tau - eps — an upper bound on their final, since every
      unprocessed term contributes at most its max and negatives are
      already in. Pruned doc ids go into a sorted ``dead`` set that
      later merges exclude: a pruned doc re-introduced by a later term
      would re-enter WITHOUT its already-applied negative-idf
      contributions, i.e. with an INFLATED score that could displace a
      true top-k doc (the fuzz harness caught exactly this). Docs whose
      dropped contributions are all >= 0 merely re-enter understated,
      which is harmless — but dead-listing them too costs nothing.
    """
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    term_max = {t: float(bmax[t].max()) for t in present}
    pos_clamped = {t: max(term_max[t], 0.0) for t in present}
    pos_sum = sum(pos_clamped.values())
    # deterministic impact order: descending max contribution, term text
    # breaks ties so runs/partitionings agree
    pos = sorted(
        (t for t in present if idf[t] >= 0.0),
        key=lambda t: (-term_max[t], t),
    )
    neg = [t for t in present if idf[t] < 0.0]
    tau = tau0

    def eps() -> float:
        return 1e-9 * max(1.0, abs(tau)) if np.isfinite(tau) else 0.0

    best_bound = max(term_max[t] + pos_sum - pos_clamped[t] for t in present)
    if best_bound < tau - eps():
        return empty

    acc_docs = np.empty(0, np.int64)
    acc_scores = np.empty(0, np.float64)
    # pruned docs — provably below tau. Negated-term exclusion
    # pre-seeds it: a dead doc never enters the accumulator, which is
    # exactly NOT semantics (and unlike tau-pruned docs, excluded ones
    # start dead before any contribution lands)
    dead = (
        exclude
        if exclude is not None and exclude.size
        else np.empty(0, np.int64)
    )
    # negative-idf terms first and in full: under OR their blocks are
    # never skippable (dropping a negative contribution would inflate a
    # doc's score), and front-loading them makes every later partial a
    # valid lower bound of its final
    for t in neg:
        g = by_term[t]
        docs, tfs, dls = _decode_blocks_vectorized(g)
        scores = _bm25_np(tfs, dls, float(term_dfs[t]), n_docs, avgdl)
        if dead.size:
            alive = ~_in_sorted(dead, docs)
            docs, scores = docs[alive], scores[alive]
        acc_docs, acc_scores = _merge_acc(acc_docs, acc_scores, docs, scores)

    maxes = np.array([term_max[t] for t in pos], np.float64)
    # rem_after[i] = sum of max contributions of pos[i+1:]
    rem_after = np.concatenate((np.cumsum(maxes[::-1])[::-1][1:], [0.0]))
    frozen = False
    for i, t in enumerate(pos):
        e = eps()
        g = by_term[t]
        m = bmax[t] + (pos_sum - pos_clamped[t]) >= tau - e
        if frozen:
            if acc_docs.size == 0:
                return empty
            fd = g["first_doc"].to_numpy(np.int64)
            md = g["max_doc"].to_numpy(np.int64)
            lo = np.searchsorted(acc_docs, fd, "left")
            hi = np.searchsorted(acc_docs, md, "right")
            m &= hi > lo
        if m.any():
            docs, tfs, dls = _decode_blocks_vectorized(g[m])
            scores = _bm25_np(tfs, dls, float(term_dfs[t]), n_docs, avgdl)
            if frozen:
                mem = _in_sorted(acc_docs, docs)
                idx = np.searchsorted(acc_docs, docs[mem])
                np.add.at(acc_scores, idx, scores[mem])
            else:
                if dead.size:
                    alive = ~_in_sorted(dead, docs)
                    docs, scores = docs[alive], scores[alive]
                acc_docs, acc_scores = _merge_acc(
                    acc_docs, acc_scores, docs, scores
                )
        if acc_docs.size >= k:
            kth = np.partition(acc_scores, acc_scores.size - k)[
                acc_scores.size - k
            ]
            tau = max(tau, kth)
        rem = float(rem_after[i])
        if np.isfinite(tau):
            e = eps()
            keep = acc_scores + rem >= tau - e
            if not keep.all():
                dead = np.union1d(dead, acc_docs[~keep])
                acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
            if rem < tau - e:
                frozen = True
    if acc_docs.size > k:
        kth = np.partition(acc_scores, acc_docs.size - k)[acc_docs.size - k]
        keep = acc_scores >= kth
        acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
    return acc_docs, acc_scores


def maxscore_kernel(
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int,
    term_dfs: dict[str, int],
    thresholds: dict[int, float] | None = None,
):
    """mapInPandas kernel: per-bucket MaxScore (SURVEY §2.B T16's
    sibling strategy — PISA-style engines ship both WAND and MaxScore
    and pick per workload). Same input/output contract as wand_kernel.

    Disjunctive queries run the impact-ordered TAAT loop (_maxscore_or);
    conjunctive queries keep the block-mask path — MaxScore's
    new-doc/frozen split buys nothing under AND, where every term is
    already a required filter. Queries are processed independently
    (TAAT thresholds evolve per query); wand_kernel's batch union-decode
    remains the batched-serving fast path.
    """
    thresholds = thresholds or {}

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out_frames = []
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            needed = [
                t
                for t in dict.fromkeys(t for q in queries for t in q["terms"])
                if t in by_term
            ]
            idf, bmax = _block_bounds(by_term, needed, n_docs, avgdl, term_dfs)
            neg_cache: dict[str, np.ndarray] = {}
            for q in queries:
                terms = list(dict.fromkeys(q["terms"]))
                present = [t for t in terms if t in by_term]
                if not present or (q["conjunctive"] and len(present) < len(terms)):
                    continue
                excl = _bucket_exclusion(
                    by_term, q.get("negated", []), neg_cache
                )
                tau0 = thresholds.get(q["query_id"], -np.inf)
                if q["conjunctive"]:
                    masks = _query_keep_masks(
                        present, True, idf, bmax, tau0
                    )
                    if masks is None:
                        continue
                    doc_parts, score_parts = [], []
                    for t in present:
                        m = masks[t]
                        if not m.any():
                            continue
                        g = by_term[t]
                        docs, tfs, dls = _decode_blocks_vectorized(g[m])
                        score_parts.append(
                            _bm25_np(tfs, dls, float(term_dfs[t]), n_docs, avgdl)
                        )
                        doc_parts.append(docs)
                    docs, scores = _accumulate_topk(
                        doc_parts, score_parts, len(terms), True, k,
                        exclude=excl,
                    )
                else:
                    docs, scores = _maxscore_or(
                        by_term, present, idf, bmax, term_dfs,
                        n_docs, avgdl, k, tau0, exclude=excl,
                    )
                if docs.size:
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    docs.size, q["query_id"], np.int32
                                ),
                                "doc_id": docs,
                                "score": scores,
                            }
                        )
                    )
        if out_frames:
            yield pd.concat(out_frames, ignore_index=True)
        else:
            yield pd.DataFrame(_EMPTY_TOPK_FRAME)

    return kernel


def bm25_topk_maxscore(
    postings: DataFrame,
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
    primed_thresholds: dict[int, float] | None = None,
) -> DataFrame:
    """MaxScore top-k over the compressed index — same signature,
    result contract and plan shape as bm25_topk_wand (term-pruned scan
    -> per-bucket kernel -> global top-k window); only the per-bucket
    pruning strategy differs."""
    if any(q.get("filter") for q in queries):
        raise ValueError(
            "attribute filters are served by the WAND path"
            " (bm25_topk_wand / search_filtered); the MaxScore kernel"
            " does not implement the include intersection"
        )
    all_terms = sorted(
        {t for q in queries for t in q["terms"]}
        | {t for q in queries for t in q.get("negated", [])}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, all_terms, term_dfs, pre_arranged
    )
    partial = arranged.mapInPandas(
        maxscore_kernel(
            queries, float(n_docs), float(avgdl), k, term_dfs,
            primed_thresholds,
        ),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)


# ---------------------------------------------------------------------------
# Phrase queries over the positional index
# ---------------------------------------------------------------------------


def _phrase_match_docs(
    per_term: dict, tokens: list[str], cand: np.ndarray
) -> np.ndarray:
    """Docs in ``cand`` containing the exact consecutive token sequence.

    per_term[t] = (docs, tfs, positions) with positions aligned to the
    postings' token occurrences (np.repeat(docs, tfs) gives each
    occurrence's doc). Verification is one sorted-set intersection per
    phrase slot: occurrence keys local_doc * 2^32 + (pos - slot) — an
    occurrence of tokens[j] at pos can anchor a phrase starting at
    pos - j — intersected across slots; survivors are phrase starts.
    Fully vectorized across all candidate docs at once.
    """
    valid: np.ndarray | None = None
    for j, t in enumerate(tokens):
        docs, tfs, poss = per_term[t]
        occ_docs = np.repeat(docs, tfs)
        keep = np.isin(occ_docs, cand)
        if j > 0:
            keep &= poss >= j
        od, op = occ_docs[keep], poss[keep]
        # bucket-local dense doc index keeps the composite key in int64
        local = np.searchsorted(cand, od)
        keys = np.unique(local * (1 << 32) + (op - j))
        valid = keys if valid is None else valid[np.isin(valid, keys)]
        if valid.size == 0:
            return np.empty(0, np.int64)
    return cand[np.unique(valid >> 32)]


def _near_match_docs(
    per_term: dict, tokens: list[str], cand: np.ndarray, window: int
) -> np.ndarray:
    """Docs in ``cand`` where every query term occurs within ``window``
    positions of some SINGLE occurrence of the FIRST term (the anchor)
    — pinned proximity semantics: one anchor occurrence must have all
    other terms in its ±window neighborhood, any order.

    Vectorized like the phrase verifier: occurrence keys
    local_doc * 2^32 + pos; for each anchor occurrence, each other
    term's sorted key array is range-probed with two searchsorted
    calls (lower bound clamped to the doc's key base so a window never
    leaks into the previous doc)."""
    shift = 1 << 32
    keys: dict[str, np.ndarray] = {}
    for t in dict.fromkeys(tokens):
        docs, tfs, poss = per_term[t]
        occ = np.repeat(docs, tfs)
        keep = np.isin(occ, cand)
        local = np.searchsorted(cand, occ[keep])
        keys[t] = np.sort(local * shift + poss[keep])
    anchor = keys[tokens[0]]
    if anchor.size == 0:
        return np.empty(0, np.int64)
    ok = np.ones(anchor.size, bool)
    base = (anchor // shift) * shift
    lo = np.maximum(anchor - window, base)
    hi = anchor + window
    for t in dict.fromkeys(tokens[1:]):
        if t == tokens[0]:
            continue  # the anchor occurrence satisfies its own term
        o = keys[t]
        ok &= np.searchsorted(o, hi, "right") > np.searchsorted(o, lo, "left")
    good = anchor[ok]
    if good.size == 0:
        return np.empty(0, np.int64)
    return cand[np.unique(good // shift)]


def _ordered_near_match_docs(
    per_term: dict, tokens: list[str], cand: np.ndarray, window: int
) -> np.ndarray:
    """Docs in ``cand`` containing the query terms IN ORDER within a
    total span of ``window``: positions p1 < p2 < ... < pm with
    tokens[j] at p_j and pm - p1 <= window — Lucene-style ORDERED slop
    (the unordered anchor variant is _near_match_docs; exact phrase is
    the consecutive special case, see test: window = m-1 forces
    adjacency).

    Exactness of the greedy chain: from each t1 occurrence,
    searchsorted picks every next term's SMALLEST strictly-later
    occurrence, which minimizes the chain's end position — so a chain
    within the window exists iff the greedy one lands within it.
    Occurrence keys local_doc·2^32 + pos keep the probes vectorized
    and doc-confined (a chain can never leak into the next doc: the
    start's doc is re-checked at every hop)."""
    shift = 1 << 32
    keys: dict[str, np.ndarray] = {}
    for t in dict.fromkeys(tokens):
        docs, tfs, poss = per_term[t]
        occ = np.repeat(docs, tfs)
        keep = np.isin(occ, cand)
        local = np.searchsorted(cand, occ[keep])
        keys[t] = np.sort(local * shift + poss[keep])
    start = keys[tokens[0]]
    if start.size == 0:
        return np.empty(0, np.int64)
    start_doc = start // shift
    cur = start.copy()
    alive = np.ones(start.size, bool)
    for t in tokens[1:]:
        o = keys[t]
        idx = np.searchsorted(o, cur, "right")
        has = idx < o.size
        nxt = o[np.minimum(idx, max(o.size - 1, 0))] if o.size else cur
        alive &= has & (nxt // shift == start_doc)
        cur = np.where(alive, nxt, cur)
        if not alive.any():
            return np.empty(0, np.int64)
    alive &= (cur - start) <= window
    good = start[alive]
    if good.size == 0:
        return np.empty(0, np.int64)
    return cand[np.unique(good // shift)]


def phrase_kernel(
    phrases: list[dict],
    n_docs: float,
    avgdl: float,
    k: int,
    term_dfs: dict[str, int],
):
    """mapInPandas kernel for phrase top-k over the positional index.

    phrases: [{query_id, terms: [ordered tokens]}]. Per bucket: a
    rarest-first posting-list intersection with BLOCK-RANGE SKIPPING —
    the skip-pointer use the (first_doc, max_doc) metadata exists for:
    the rarest term decodes fully and seeds the candidate set; every
    later term decodes ONLY blocks whose doc range intersects the
    current candidates (searchsorted on block bounds), then the
    candidate set shrinks by intersection. A phrase pairing a rare term
    with a stop-word therefore decodes ~df(rare) postings of the
    stop-word, not its whole posting list. Survivors get adjacency
    verified via the slot-shifted occurrence-key intersection and are
    scored with the standard BM25 sum over the phrase's DISTINCT
    terms; bucket-local top-k out.

    Attribute filters / negation / tombstone deletes compose: each
    query's include set (_bucket_inclusion — filter pseudo-term
    postings, OR within a group, AND across) and exclude set
    (_bucket_exclusion — negated terms, incl. the __deleted__
    pseudo-term the deletes layer injects) intersect the CANDIDATE set
    BEFORE position verification, so filtered-out docs never pay the
    occurrence-key work; both are bucket-local by the doc-range layout,
    exactly as in the term kernels.
    """

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out_frames = []
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            fx_cache: dict[str, np.ndarray] = {}
            for q in phrases:
                tokens = list(q["terms"])
                distinct = list(dict.fromkeys(tokens))
                if not tokens or any(t not in by_term for t in distinct):
                    continue
                include = _bucket_inclusion(
                    by_term, q.get("filter", []), fx_cache
                )
                if include is not None and include.size == 0:
                    continue
                exclude = _bucket_exclusion(
                    by_term, q.get("negated", []), fx_cache
                )
                decoded: dict[str, tuple] = {}
                cand: np.ndarray | None = None
                for t in sorted(distinct, key=lambda u: term_dfs[u]):
                    # blocks arrive in scan/shuffle order, which is NOT
                    # guaranteed to be doc order (a split parquet file
                    # interleaves); sort by range so the decoded docs
                    # are globally sorted — searchsorted block skipping
                    # and candidate indexing depend on it
                    g = by_term[t].sort_values("first_doc")
                    if cand is not None:
                        fd = g["first_doc"].to_numpy(np.int64)
                        md = g["max_doc"].to_numpy(np.int64)
                        # block skip: keep only blocks whose doc range
                        # holds at least one surviving candidate
                        keep = np.searchsorted(cand, md, "right") > (
                            np.searchsorted(cand, fd, "left")
                        )
                        if not keep.any():
                            cand = np.empty(0, np.int64)
                            break
                        g = g[keep]
                    docs, tfs, dls = _decode_blocks_vectorized(g)
                    poss = _decode_positions(g, tfs)
                    decoded[t] = (docs, tfs, dls, poss)
                    cand = docs if cand is None else np.intersect1d(
                        cand, docs, assume_unique=True
                    )
                    if cand.size == 0:
                        break
                if cand is None or cand.size == 0:
                    continue
                # filters/negation gate candidates BEFORE the position
                # verify — sorted-set ops keep cand sorted for the
                # verifiers' searchsorted indexing
                if include is not None:
                    cand = cand[_in_sorted(include, cand)]
                if exclude is not None and exclude.size:
                    cand = cand[~_in_sorted(exclude, cand)]
                if cand.size == 0:
                    continue
                occs = {
                    t: (decoded[t][0], decoded[t][1], decoded[t][3])
                    for t in distinct
                }
                w = int(q.get("window", 0))
                if w > 0:
                    near = (
                        _ordered_near_match_docs
                        if q.get("ordered")
                        else _near_match_docs
                    )
                    matched = near(occs, tokens, cand, w)
                else:
                    matched = _phrase_match_docs(occs, tokens, cand)
                if matched.size == 0:
                    continue
                # score survivors: BM25 sum over the phrase's distinct
                # terms plus any loose extra_terms (mixed query:
                # "quoted phrase" other words — phrase REQUIRED, every
                # term scored; loose terms are optional, so they
                # decode candidate-gated and never filter)
                extra = [
                    t
                    for t in dict.fromkeys(q.get("extra_terms", []))
                    if t not in distinct and t in by_term
                       and term_dfs.get(t)
                ]
                doc_parts, score_parts = [], []
                for t in distinct:
                    docs, tfs, dls, _ = decoded[t]
                    m = np.isin(docs, matched)
                    doc_parts.append(docs[m])
                    score_parts.append(
                        _bm25_np(tfs[m], dls[m], float(term_dfs[t]),
                                 n_docs, avgdl)
                    )
                for t in extra:
                    g = by_term[t].sort_values("first_doc")
                    fd = g["first_doc"].to_numpy(np.int64)
                    md = g["max_doc"].to_numpy(np.int64)
                    keep = np.searchsorted(matched, md, "right") > (
                        np.searchsorted(matched, fd, "left")
                    )
                    if not keep.any():
                        continue
                    docs, tfs, dls = _decode_blocks_vectorized(g[keep])
                    m = np.isin(docs, matched)
                    doc_parts.append(docs[m])
                    score_parts.append(
                        _bm25_np(tfs[m], dls[m], float(term_dfs[t]),
                                 n_docs, avgdl)
                    )
                docs_out, scores_out = _accumulate_topk(
                    doc_parts, score_parts, len(distinct),
                    conjunctive=not extra, k=k,
                )
                if docs_out.size:
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    docs_out.size, q["query_id"], np.int32
                                ),
                                "doc_id": docs_out,
                                "score": scores_out,
                            }
                        )
                    )
        if out_frames:
            yield pd.concat(out_frames, ignore_index=True)
        else:
            yield pd.DataFrame(_EMPTY_TOPK_FRAME)

    return kernel


def bm25_phrase_topk(
    postings: DataFrame,
    phrases: list[dict],
    n_docs: float,
    avgdl: float,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """Exact phrase top-k over the positional index (with_positions
    build): docs containing the consecutive token sequence, ranked by
    the BM25 score of the phrase's distinct terms, ties
    (score DESC, doc_id ASC). Same plan shape as bm25_topk_wand:
    term-pruned scan -> per-bucket kernel -> k-row top-k merge.
    Attribute filters / '-term' negation / tombstone deletes compose
    (candidate-gated in the kernel, bucket-local)."""
    all_terms = sorted(
        {t for q in phrases for t in q["terms"]}
        | {t for q in phrases for t in q.get("negated", [])}
        | {t for q in phrases for t in _flat_filters(q)}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, all_terms, term_dfs, pre_arranged
    )
    partial = arranged.mapInPandas(
        phrase_kernel(phrases, float(n_docs), float(avgdl), k, term_dfs),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)


def bm25_mixed_topk(
    postings: DataFrame,
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """Mixed phrase+terms queries ('"quoted phrase" other words'):
    docs must contain the exact phrase; ranked by BM25 over the
    phrase's distinct terms PLUS the loose ``extra_terms`` (optional —
    they boost but never filter, decoding candidate-gated via block
    ranges). queries: [{query_id, terms: [phrase tokens],
    extra_terms: [...]}]. Filters / negation / deletes compose like
    bm25_phrase_topk."""
    all_terms = sorted(
        {t for q in queries for t in q["terms"]}
        | {t for q in queries for t in q.get("extra_terms", [])}
        | {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, all_terms, term_dfs, pre_arranged
    )
    partial = arranged.mapInPandas(
        phrase_kernel(queries, float(n_docs), float(avgdl), k, term_dfs),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)


def bm25_near_topk(
    postings: DataFrame,
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    k: int = 10,
    window: int = 8,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
    ordered: bool = False,
) -> DataFrame:
    """Proximity top-k over the positional index: docs where every
    query term occurs within ``window`` positions of one occurrence of
    the FIRST term (anchor semantics, any order — the well-defined
    slop rendering; exact phrase is the window->adjacent,
    order-pinned special case). Ranked by the BM25 score of the
    distinct terms, like phrase queries. Shares the phrase kernel's
    rarest-first candidate intersection with block-range skipping, so
    a rare anchor bounds how much of a stop-word neighbor decodes.

    ordered=True (per query dict or here): ORDERED slop instead —
    terms must appear in query order with total span <= window
    (_ordered_near_match_docs)."""
    qs = [
        dict(
            q,
            window=int(q.get("window", window)),
            ordered=bool(q.get("ordered", ordered)),
        )
        for q in queries
    ]
    all_terms = sorted(
        {t for q in qs for t in q["terms"]}
        | {t for q in qs for t in q.get("negated", [])}
        | {t for q in qs for t in _flat_filters(q)}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, all_terms, term_dfs, pre_arranged
    )
    partial = arranged.mapInPandas(
        phrase_kernel(qs, float(n_docs), float(avgdl), k, term_dfs),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)


def bm25_topk_federated(
    indexes: list[tuple[DataFrame, dict]],
    queries: list[dict],
    k: int = 10,
    pre_arranged: bool = False,
    lexicons: list[dict[str, int] | None] | None = None,
) -> DataFrame:
    """Top-k over a FEDERATION of indexes served as one logical corpus
    — the base+delta freshness pattern: a large periodically-rebuilt
    base index plus one or more small recent-delta indexes (e.g. the
    streaming ingest's latest snapshot) answer queries together with
    NO merge/rebuild, rank-identical to a single index over the union
    (gate bm25_federated_topk proves it against the single-corpus
    oracle).

    indexes: [(postings, stats)] where stats carries n_docs and
    total_terms (load_index provides both). Doc-id spaces must be
    disjoint across members (the incremental builder's contract — new
    docs extend the id space).

    lexicons: per member, its term -> df lexicon (SearchEngine.load
    takes one) or None. A member with a lexicon adds its dfs in the
    driver; only members without one pay a df aggregate per query.

    How rank-identity falls out: BM25's only global inputs are df and
    avgdl. df(term) = sum of the members' dfs (block metadata, one
    bounded aggregate per member); avgdl = sum(total_terms) /
    sum(n_docs) — exact integer sums, one division. Every member then
    scores its own buckets under the COMBINED stats (the corner-stat
    block design makes member blocks valid under any global stats —
    build.py module doc), and the global answer is the k-row window
    over the members' top-ks."""
    if not indexes:
        raise ValueError("bm25_topk_federated needs at least one index")
    n_docs = sum(int(st["n_docs"]) for _, st in indexes)
    totals = [st.get("total_terms") for _, st in indexes]
    if all(t is not None for t in totals):
        avgdl = float(sum(int(t) for t in totals)) / float(n_docs)
    else:
        # fall back to the avgdl-weighted reconstruction
        avgdl = sum(
            float(st["avgdl"]) * int(st["n_docs"]) for _, st in indexes
        ) / float(n_docs)
    all_terms = sorted(
        {t for q in queries for t in q["terms"]}
        | {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    if lexicons is None:
        lexicons = [None] * len(indexes)
    term_dfs: dict[str, int] = {}
    for (postings, _), lex in zip(indexes, lexicons):
        if lex is not None:
            found = {t: lex[t] for t in all_terms if t in lex}
        else:
            found = {
                r["term"]: int(r["df"])
                for r in postings.filter(F.col("term").isin(all_terms))
                .groupBy("term")
                .agg(F.sum("n").alias("df"))
                .collect()
            }
        for t, df in found.items():
            term_dfs[t] = term_dfs.get(t, 0) + int(df)
    parts = [
        bm25_topk_wand(
            postings, queries, n_docs, avgdl, k=k,
            term_dfs=term_dfs, pre_arranged=pre_arranged,
        ).select("query_id", "doc_id", "score")
        for postings, _ in indexes
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return topk_window(union, k)
