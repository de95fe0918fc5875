"""Scorer-generic pruned serving: QLD / PL2 / DPH (and BM25) through
the same bucket-local kernel dataflow as block-max WAND.

Why this exists (r4 verdict item #2): ``scored_topk_dataframe``
(query/scorers.py) serves alternative scorers relationally — decode the
queried terms' blocks to a tf relation, join, then a (query, doc)
hash-aggregate SHUFFLE of every matched posting, then the top-k window.
At 10^12 docs a stop-wordy term shuffles billions of matched rows per
query. BM25 avoids that with the per-bucket NumPy kernel
(query/bm25.py wand_kernel): decode inside the bucket, bincount-sum
locally, emit <= k candidate rows per bucket — only n_buckets*|q|*k
rows ever cross an exchange. This module gives every registered scorer
that dataflow.

The kernel decodes every block of each present query term once per
bucket and never skips a block, so no scorer needs block bounds; the
win is the dataflow (no per-posting shuffle), which dominates at every
scale measured.

Results are rank- and score-identical to ``scored_topk_dataframe``
(same per-posting float math via the shared NumPy twins, bincount
accumulation — gates qld/pl2/dph_topk_pruned replay the exhaustive
oracle SQL against this path).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pisa_spark.query.bm25 import (
    _accumulate_topk,
    _bm25_np,
    _bucket_exclusion,
    _bucket_inclusion,
    _decode_blocks_vectorized,
    _EMPTY_TOPK_FRAME,
    _flat_filters,
    TOPK_RESULT_SCHEMA,
    topk_window,
)
from pisa_spark.query.scorers import (
    bm25plus_np,
    dph_np,
    inl2_np,
    pl2_np,
    qld_np,
    qljm_np,
)


def _score_fn(scorer: str, n_docs: float, avgdl: float, total_cf: float):
    """(tf, dl, df, cf) -> per-posting partial score, NumPy arrays.
    Routed through the same NumPy twins the tests pin against the
    column expressions, so the kernel and the relational path share
    float math per posting."""
    if scorer == "bm25":
        return lambda tf, dl, df, cf: _bm25_np(tf, dl, df, n_docs, avgdl)
    if scorer == "bm25plus":
        return lambda tf, dl, df, cf: bm25plus_np(tf, dl, df, n_docs, avgdl)
    if scorer == "inl2":
        return lambda tf, dl, df, cf: inl2_np(tf, dl, df, n_docs, avgdl)
    if scorer == "qld":
        return lambda tf, dl, df, cf: qld_np(
            tf, dl, np.full(tf.shape, cf, np.float64), total_cf
        )
    if scorer == "qljm":
        return lambda tf, dl, df, cf: qljm_np(
            tf, dl, np.full(tf.shape, cf, np.float64), total_cf
        )
    if scorer == "pl2":
        return lambda tf, dl, df, cf: pl2_np(
            tf, dl, np.full(tf.shape, cf, np.float64), n_docs, avgdl
        )
    if scorer == "dph":
        return lambda tf, dl, df, cf: dph_np(
            tf, dl, np.full(tf.shape, cf, np.float64), n_docs, avgdl
        )
    raise ValueError(f"unknown scorer: {scorer!r}")


def scored_kernel(
    queries: list[dict],
    scorer: str,
    n_docs: float,
    avgdl: float,
    total_cf: float,
    k: int,
    term_stats: dict[str, tuple[int, int]],
):
    """Per-bucket scorer-generic top-k closure (mapInPandas).

    Per term, the bucket's blocks decode and score ONCE for the whole
    batch; each query then accumulates the shared arrays."""
    fn = _score_fn(scorer, float(n_docs), float(avgdl), float(total_cf))

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out_frames = []
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            fx_cache: dict[str, np.ndarray] = {}
            decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for q in queries:
                terms = list(dict.fromkeys(q["terms"]))
                present = [t for t in terms if t in by_term]
                if not present or (
                    q["conjunctive"] and len(present) < len(terms)
                ):
                    continue
                doc_parts, score_parts = [], []
                for t in present:
                    if t not in decoded:
                        docs, tfs, dls = _decode_blocks_vectorized(by_term[t])
                        dfreq, cf = term_stats[t]
                        decoded[t] = (
                            docs, fn(tfs, dls, float(dfreq), float(cf))
                        )
                    docs, scores = decoded[t]
                    doc_parts.append(docs)
                    score_parts.append(scores)
                docs, scores = _accumulate_topk(
                    doc_parts, score_parts, len(terms), q["conjunctive"], k,
                    exclude=_bucket_exclusion(
                        by_term, q.get("negated", []), fx_cache
                    ),
                    include=_bucket_inclusion(
                        by_term, q.get("filter", []), fx_cache
                    ),
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


def term_stats_from_blocks(
    postings: DataFrame, terms: list[str]
) -> dict[str, tuple[int, int]]:
    """{term: (df, cf)} for the queried terms off the stored index:
    df from block metadata (sum n — no decode), cf from ONE vectorized
    tf-decode pass over the term-pruned blocks, partial-aggregated so
    only |terms| rows reach the driver. This is the scorer-side
    analogue of engine._term_dfs; callers should cache per generation
    (cf, like df, cannot drift under an immutable snapshot)."""
    from pisa_spark.query.scorers import postings_to_tf

    pruned = postings.filter(F.col("term").isin(list(terms)))
    rows = (
        postings_to_tf(pruned)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .collect()
    )
    out = {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
    for t in terms:
        out.setdefault(t, (0, 0))
    return out


def scored_topk_pruned(
    postings: DataFrame,
    queries: list[dict],
    n_docs: float,
    avgdl: float,
    total_cf: float,
    scorer: str = "qld",
    k: int = 10,
    term_stats: dict[str, tuple[int, int]] | None = None,
    pre_arranged: bool = False,
) -> DataFrame:
    """Top-k under any registered scorer served off the compressed
    index through the bucket-local kernel: (query_id, rank, doc_id,
    score). queries: [{query_id, terms, conjunctive, negated?,
    filter?}] — '-term' exclusion (incl. the deletes layer's
    __deleted__ pseudo-term) and attribute-filter inclusion compose,
    applied bucket-locally before the top-k trim exactly as in the
    WAND kernel.

    Plan shape == bm25_topk_wand: term-pruned scan (PushedFilters) ->
    one bucket repartition (elided when pre_arranged) -> per-bucket
    vectorized kernel -> global top-k window over <=
    n_buckets*|queries|*k rows."""
    from pisa_spark.query.bm25 import _arrange_pruned

    all_terms = sorted(
        {t for q in queries for t in q["terms"]}
        | {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    arranged, _ = _arrange_pruned(postings, all_terms, {}, pre_arranged)
    if term_stats is None:
        term_stats = term_stats_from_blocks(postings, all_terms)

    partial = arranged.mapInPandas(
        scored_kernel(
            queries, scorer, float(n_docs), float(avgdl), float(total_cf), k,
            term_stats,
        ),
        schema=TOPK_RESULT_SCHEMA,
    )
    return topk_window(partial, k)
