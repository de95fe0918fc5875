"""Sequential Dependence Model (SDM) ranking over the positional index.

Metzler & Croft's MRF sequential dependence model (SIGIR 2005) — the
classic proximity-aware ranker web engines layer on top of bag-of-words
scoring. For an ordered query q1..qm the document score is

    sdm(Q,D) = l_T * sum_i  f(tf(qi,D),      cf(qi))
             + l_O * sum_i  f(o8(qi,qi+1,D), cf_o(qi,qi+1))
             + l_U * sum_i  f(u8(qi,qi+1,D), cf_u(qi,qi+1))

with Dirichlet-smoothed log features f(x, cf) = ln((x + mu*cf/|C|) /
(|D| + mu)), the canonical weights (0.85, 0.10, 0.05) and mu = 2500
(Indri's defaults). Window statistics are pinned exactly (the DuckDB
twin replays them op for op):

- o8 — ORDERED adjacency (Indri's #1(qi qi+1)): occurrences of qi
  immediately followed by qi+1.
- u8 — UNORDERED window 8 (#uw8): ordered occurrence pairs (i, j) of
  (qi, qi+1) with 0 < |i - j| < 8; identical-term pairs exclude the
  self-pair.
- collection stats cf_o / cf_u are the same counts summed over the
  whole corpus; a pair with zero collection count contributes NO
  feature anywhere (the standard unseen-window convention — keeping it
  would add -inf uniformly).
- candidates are docs containing >= 1 query term (scoring the full
  corpus is neither feasible nor done by any production SDM).

Spark-first shape (same plan as the phrase kernels in query/bm25.py):
term-pruned scan (pushed ``In(term, ...)`` reaches parquet) ->
per-bucket vectorized kernel -> k-row top-k merge. Two passes over the
SAME pruned, cached relation:

1. **Collection-stats pass**: per bucket, per-term cf partials plus
   per-pair o8/u8 partials over every doc (one decode, occurrence-key
   searchsorted counting — no per-doc Python). Output is
   |terms| + 2*|pairs| rows per bucket; the driver sums and broadcasts
   (tiny by construction).
2. **Scoring pass**: per bucket, candidates = union of the terms'
   docs; unigram tf matrix by searchsorted, window counts by the same
   occurrence-key kernel restricted to candidates; Dirichlet features
   assembled in float64 and the bucket's top-k emitted.

Doc-range bucketing keeps every doc wholly inside one bucket, so both
passes are bucket-local: no posting ever crosses the shuffle, only
stats rows and k-row partials. Work is bounded by the query terms'
posting lists — exactly the cost class of a phrase query.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pisa_spark.query.bm25 import (
    _arrange_pruned,
    _bucket_exclusion,
    _bucket_inclusion,
    _decode_blocks_vectorized,
    _decode_positions,
    _in_sorted,
    bucket_groups,
    bucket_kernel,
    kernel_topk,
)

MU = 2500.0
LAMBDAS = (0.85, 0.10, 0.05)
WINDOW = 8
_SHIFT = np.int64(1 << 32)


def _pairs(terms: list[str]) -> list[tuple[str, str]]:
    """Adjacent ordered bigrams of the query (duplicates collapsed)."""
    return list(dict.fromkeys(zip(terms, terms[1:])))


def _occ_keys(docs, tfs, poss, cand=None):
    """Sorted occurrence keys local_doc * 2^32 + pos over ``cand``
    (or over the term's own sorted doc ids when cand is None)."""
    occ = np.repeat(docs, tfs)
    if cand is None:
        cand = np.unique(docs)
    keep = np.isin(occ, cand)
    local = np.searchsorted(cand, occ[keep])
    return np.sort(local * _SHIFT + poss[keep])


def _pair_counts(ka: np.ndarray, kb: np.ndarray, same: bool, window: int):
    """(ordered_adjacent, unordered_window) counts per local doc from
    two sorted occurrence-key arrays in the SAME local-doc space.
    Returns (docs_o, cnt_o, docs_u, cnt_u) as local ids + counts."""
    if ka.size == 0 or kb.size == 0:
        z = np.empty(0, np.int64)
        return z, z, z, z
    # ordered adjacency: a-occurrence at pos immediately followed by b
    hit = kb[np.isin(kb, ka + 1)]
    docs_o, cnt_o = np.unique(hit >> 32, return_counts=True)
    # unordered window: for each a-occurrence x, b-occurrences within
    # [x-(w-1), x+(w-1)] clamped to the doc's key base (a window never
    # leaks across docs: the next doc's base is >= 2^32 away)
    w = np.int64(window - 1)
    base = (ka >> 32) << 32
    lo = np.maximum(ka - w, base)
    hi = ka + w
    cnt = np.searchsorted(kb, hi, "right") - np.searchsorted(kb, lo, "left")
    if same:
        cnt = cnt - 1  # drop the self-pair
    keep = cnt > 0
    docs_u = ka[keep] >> 32
    per = np.bincount(
        np.searchsorted(np.unique(docs_u), docs_u), weights=cnt[keep]
    ) if docs_u.size else np.empty(0, np.float64)
    return docs_o, cnt_o, np.unique(docs_u), per.astype(np.int64)


_STATS_SCHEMA = "kind string, key string, value long"


def _stats_kernel(queries: list[dict], window: int):
    """Pass 1: per-bucket partial collection stats — ('cf', term, sum
    tf), ('o', 'a|b', ordered count), ('u', 'a|b', unordered count)."""
    terms = sorted({t for q in queries for t in q["terms"]})
    pairs = sorted({p for q in queries for p in _pairs(q["terms"])})

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds, keys, vals = [], [], []
        for by_term in bucket_groups(pdf_iter):
            dec: dict[str, tuple] = {}
            for t in terms:
                if t not in by_term:
                    continue
                g = by_term[t].sort_values("first_doc")
                docs, tfs, dls = _decode_blocks_vectorized(g)
                poss = _decode_positions(g, tfs)
                dec[t] = (docs, tfs, poss)
                kinds.append("cf")
                keys.append(t)
                vals.append(int(tfs.sum()))
            for a, b in pairs:
                if a not in dec or b not in dec:
                    continue
                # joint local space: union of the two terms' docs
                cand = (
                    np.unique(dec[a][0])
                    if a == b
                    else np.union1d(dec[a][0], dec[b][0])
                )
                ka = _occ_keys(*dec[a], cand)
                kb = ka if a == b else _occ_keys(*dec[b], cand)
                _, co, _, cu = _pair_counts(ka, kb, a == b, window)
                kinds.extend(["o", "u"])
                keys.extend([f"{a}|{b}", f"{a}|{b}"])
                vals.extend([int(co.sum()), int(cu.sum())])
        yield pd.DataFrame({"kind": kinds, "key": keys, "value": vals})

    return kernel


def _score_kernel(
    queries: list[dict],
    stats: dict,
    total_cf: float,
    k: int,
    mu: float,
    lambdas: tuple[float, float, float],
    window: int,
):
    """Pass 2: per-bucket SDM scoring + bucket-local top-k."""
    l_t, l_o, l_u = (float(x) for x in lambdas)
    cf_t = stats["cf"]
    cf_o = stats["o"]
    cf_u = stats["u"]

    def score_bucket(by_term):
        dec: dict[str, tuple] = {}
        fx_cache: dict[str, np.ndarray] = {}

        def decoded(t):
            if t not in dec:
                g = by_term[t].sort_values("first_doc")
                docs, tfs, dls = _decode_blocks_vectorized(g)
                poss = _decode_positions(g, tfs)
                dec[t] = (docs, tfs, dls, poss)
            return dec[t]

        for q in queries:
            terms = list(dict.fromkeys(q["terms"]))
            present = [
                t for t in terms if t in by_term and cf_t.get(t, 0) > 0
            ]
            if not present:
                continue
            # attribute filters / '-term' negation / tombstone
            # deletes compose exactly as in the phrase kernel:
            # include/exclude sets gate the CANDIDATES before any
            # feature work (bucket-local by the doc-range layout).
            # Collection stats stay corpus-level — the Lucene
            # stale-stats convention the deletes layer pins.
            include = _bucket_inclusion(
                by_term, q.get("filter", []), fx_cache
            )
            if include is not None and include.size == 0:
                continue
            exclude = _bucket_exclusion(
                by_term, q.get("negated", []), fx_cache
            )
            parts = [decoded(t) for t in present]
            cand = parts[0][0] if len(parts) == 1 else np.unique(
                np.concatenate([p[0] for p in parts])
            )
            if include is not None:
                cand = cand[_in_sorted(include, cand)]
            if exclude is not None and exclude.size:
                cand = cand[~_in_sorted(exclude, cand)]
            if cand.size == 0:
                continue
            dl = np.zeros(cand.size, np.float64)
            for docs, tfs, dls, _ in parts:
                m = np.isin(docs, cand)
                dl[np.searchsorted(cand, docs[m])] = dls[m]
            denom = np.log(dl + mu)
            score = np.zeros(cand.size, np.float64)
            # unigram features — EVERY query term occurrence in the
            # ordered query scores (duplicates score twice), absent
            # or cf=0 terms contribute their background probability
            for t in q["terms"]:
                cf = float(cf_t.get(t, 0))
                if cf <= 0:
                    continue
                tf = np.zeros(cand.size, np.float64)
                if t in by_term:
                    docs, tfs, _, _ = decoded(t)
                    m = np.isin(docs, cand)
                    tf[np.searchsorted(cand, docs[m])] = tfs[m]
                score += l_t * (np.log(tf + mu * cf / total_cf) - denom)
            # window features over adjacent pairs — per query
            # POSITION like the unigrams (a repeated bigram scores
            # twice); zero-cf pairs contribute nothing anywhere,
            # by convention
            pair_cache: dict = {}
            for a, b in zip(q["terms"], q["terms"][1:]):
                key = f"{a}|{b}"
                for cf_map, lam, which in (
                    (cf_o, l_o, "o"),
                    (cf_u, l_u, "u"),
                ):
                    cf = float(cf_map.get(key, 0))
                    if cf <= 0:
                        continue
                    x = np.zeros(cand.size, np.float64)
                    if a in by_term and b in by_term:
                        if (a, b) not in pair_cache:
                            da = decoded(a)
                            db = decoded(b)
                            ka = _occ_keys(da[0], da[1], da[3], cand)
                            kb = (
                                ka
                                if a == b
                                else _occ_keys(db[0], db[1], db[3], cand)
                            )
                            pair_cache[(a, b)] = _pair_counts(
                                ka, kb, a == b, window
                            )
                        do, co, du, cu = pair_cache[(a, b)]
                        if which == "o":
                            x[do] = co
                        else:
                            x[du] = cu
                    score += lam * (
                        np.log(x + mu * cf / total_cf) - denom
                    )
            # tie-safe bucket top-k: (score DESC, doc_id ASC) so a
            # boundary tie never keeps the larger doc_id that the
            # global window would rank below a dropped equal-score
            # candidate
            idx = np.lexsort((cand, -score))[:k]
            yield q["query_id"], cand[idx], score[idx]

    return bucket_kernel(score_bucket)


def sdm_collection_stats(
    postings: DataFrame,
    queries: list[dict],
    window: int = WINDOW,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> dict:
    """Corpus-wide SDM statistics for ``queries``: {'cf': {term: cf},
    'o': {'a|b': cf}, 'u': {'a|b': cf}} — one term-pruned decode pass,
    partial-aggregated per bucket (|terms| + 2*|pairs| rows cross the
    wire per bucket, never postings). term_dfs / pre_arranged size and
    arrange the pass as in every top-k driver; without dfs it runs one
    partition per core."""
    all_terms = sorted({t for q in queries for t in q["terms"]})
    arranged, _ = _arrange_pruned(
        postings, all_terms, term_dfs or {}, pre_arranged
    )
    rows = (
        arranged.mapInPandas(
            _stats_kernel(queries, window), schema=_STATS_SCHEMA
        )
        .groupBy("kind", "key")
        .agg(F.sum("value").alias("value"))
        .collect()
    )
    stats: dict = {"cf": {}, "o": {}, "u": {}}
    for r in rows:
        stats[r["kind"]][r["key"]] = int(r["value"])
    return stats


def sdm_topk(
    postings: DataFrame,
    queries: list[dict],
    total_cf: float,
    k: int = 10,
    mu: float = MU,
    lambdas: tuple[float, float, float] = LAMBDAS,
    window: int = WINDOW,
    stats: dict | None = None,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """SDM top-k over the positional index. queries: [{query_id,
    terms: [ordered tokens]}]; total_cf = |C| (collection token
    count). Returns (query_id, rank, doc_id, score), ties
    (score DESC, doc_id ASC). term_dfs / pre_arranged: as in
    bm25_topk_wand; SDM scores from its own collection stats, so
    without dfs both passes run one partition per core instead of
    paying a df aggregate."""
    if stats is None:
        stats = sdm_collection_stats(
            postings, queries, window, term_dfs, pre_arranged
        )
    return kernel_topk(
        postings, queries, k, term_dfs or {}, pre_arranged,
        lambda _: _score_kernel(
            queries, stats, float(total_cf), k, float(mu), lambdas, window
        ),
    )
