"""Score-at-a-time (SAAT) anytime ranking over an impact-ordered
segment layout (Anh & Moffat 2006; Lin & Trotman's JASS, SIGIR 2015).

The document-at-a-time kernels (WAND / MaxScore, query/bm25.py) walk
doc-ordered postings and skip DOCUMENTS; score-at-a-time flips the
axis: postings are laid out as per-(term, impact) SEGMENTS in
decreasing contribution order, and the engine processes whole segments
until a POSTINGS BUDGET rho is exhausted — the classic "anytime"
serving contract where tail latency is capped by construction rather
than by data-dependent pruning luck. PISA itself is a DaaT engine;
this module is the SAAT counterpart the impact-quantized literature
pairs with it, built on the same 8-bit quantized index
(index/quantized.py) so the two strategies share one artifact.

Layout
------
``impact_ordered_segments`` re-encodes quantized posting blocks into
one row per (bucket, term, impact):

    bucket int, term string, imp int, n int, docs binary

``docs`` is the delta+varint ascending doc-id list (codec.py); ``n``
its length. Each doc holds exactly one impact per term, so segments
of one term partition its postings. The doc-range bucketing of the
parent index is preserved — segment serving, '-term' machinery and
the global top-k merge stay bucket-local, and the derivation itself
is a narrow mapInPandas over bucket-co-located blocks (no shuffle
beyond the one arranging pass shared with every serving path).

Anytime contract (the twin-critical part — any change here must
change the gate SQL in __spark_entry__.py identically)
------------------------------------------------------
Per query, segments are ordered by

    (imp * idf_q[term]  DESC,  term ASC,  imp DESC)

i.e. largest score contribution first, ties pinned. With ``cum`` the
running sum of global segment sizes in that order, a segment is
SELECTED iff ``cum - n < rho`` — the prefix of segments that starts
before the budget is exhausted, including the one that crosses it.
Scoring is then EXACT integer accumulation (score_q = sum of
imp * idf_q, int64 — the quantized index's order-free sum) restricted
to selected segments; ranking ties break doc_id ASC as everywhere
else (SURVEY T17). rho=None selects everything, making the result
identical to exhaustive quantized_topk — the identity the tests pin.

The selection is a METADATA decision: global per-(term, impact)
counts come from one column-pruned, term-pushed aggregate over the
segment relation (docs payloads never read), collected to the driver
at |query terms| x <=256 rows. At 10^12 docs that is still a few KiB
per query — the same "plan on metadata, execute bucket-local"
shape as the tiered router and CORI shard selection.

Scale shape: derivation is one narrow pass over the quantized index;
serving is a term-pruned scan (PushedFilters carries In(term, ...))
-> per-bucket Arrow kernel over selected segments only -> <=
n_buckets * k rows per query into the global WindowGroupLimit merge.

Reference parity: the budget/ordering semantics follow the published
JASS design; ids/ordering contracts match SURVEY T4/T17 (reference
top-k contract /root/reference/src/Inference.py:233-240).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pisa_spark.index.codec import delta_decode_docids, delta_encode_docids
from pisa_spark.index.quantized import (
    _decode_quant_blocks,
    idf_quantized,
)
from pisa_spark.query.bm25 import (
    _accumulate_topk,
    bucket_arranged,
    bucket_kernel,
    kernel_topk,
)

SEG_SCHEMA = "bucket int, term string, imp int, n int, docs binary"


# ---------------------------------------------------------------------------
# layout derivation
# ---------------------------------------------------------------------------

def impact_ordered_segments(
    quant_postings: DataFrame, pre_arranged: bool = False
) -> DataFrame:
    """Quantized posting blocks -> impact-ordered segment rows.

    One output row per (bucket, term, impact) with the ascending
    delta+varint doc list. Narrow when the input is bucket-co-located
    (pre_arranged=True, e.g. a load()-ed one-file-per-bucket index or
    the cached requantized twin of one); otherwise one bucket
    repartition arranges it — the same prologue every kernel uses.
    """
    arranged = (
        quant_postings if pre_arranged else bucket_arranged(quant_postings)
    )

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        blocks = pd.concat(chunks, ignore_index=True)
        out = {"bucket": [], "term": [], "imp": [], "n": [], "docs": []}
        for (bucket, term), g in blocks.groupby(["bucket", "term"], sort=False):
            docs, imps = _decode_quant_blocks(g)
            # blocks are doc-ascending within (bucket, term); group by
            # impact value, keeping each segment's docs ascending
            order = np.argsort(imps, kind="stable")
            s_imps = imps[order]
            s_docs = docs[order]
            bounds = np.flatnonzero(np.diff(s_imps)) + 1
            for seg_docs, seg_imp in zip(
                np.split(s_docs, bounds),
                s_imps[np.r_[0, bounds]] if s_imps.size else [],
            ):
                seg_docs = np.sort(seg_docs)
                out["bucket"].append(int(bucket))
                out["term"].append(term)
                out["imp"].append(int(seg_imp))
                out["n"].append(int(seg_docs.size))
                out["docs"].append(delta_encode_docids(seg_docs))
        if out["term"]:
            yield pd.DataFrame(
                {
                    "bucket": pd.array(out["bucket"], dtype="int32"),
                    "term": out["term"],
                    "imp": pd.array(out["imp"], dtype="int32"),
                    "n": pd.array(out["n"], dtype="int32"),
                    "docs": out["docs"],
                }
            )

    return arranged.mapInPandas(kernel, schema=SEG_SCHEMA)


# ---------------------------------------------------------------------------
# segment selection (driver-side, metadata-only)
# ---------------------------------------------------------------------------

def select_segments(
    seg_meta: list[tuple[str, int, int]],
    idf_q: dict[str, int],
    rho: int | None,
) -> set[tuple[str, int]]:
    """The anytime prefix for ONE query.

    seg_meta: global (term, imp, n) rows for the query's terms.
    Returns the selected (term, imp) set under the pinned ordering
    (contribution DESC, term ASC, imp DESC); rho=None selects all.
    """
    rows = [
        (t, imp, n) for (t, imp, n) in seg_meta if t in idf_q
    ]
    if rho is None:
        return {(t, imp) for (t, imp, _) in rows}
    rows.sort(key=lambda r: (-(r[1] * idf_q[r[0]]), r[0], -r[1]))
    selected: set[tuple[str, int]] = set()
    cum = 0
    for t, imp, n in rows:
        if cum >= rho:
            break
        selected.add((t, imp))
        cum += n
    return selected


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------

def _saat_kernel(
    queries: list[dict],
    idf_q: dict[str, int],
    selections: dict[int, set[tuple[str, int]]],
    k: int,
):
    """Per-bucket integer accumulation over SELECTED segments only.

    Decodes each needed (term, imp) segment once per bucket (shared
    across the batch's queries); scores accumulate in float64, exact
    for the same 2^53 headroom argument as quantized_kernel's note.
    Tie-safe bucket-local trim (keep every doc scoring >= the k-th),
    global order applied by the final window.
    """
    needed_all = set().union(*selections.values())

    def score_bucket(by_term):
        by_key = {
            (t, int(imp)): docs
            for t, g in by_term.items()
            for imp, docs in zip(g["imp"], g["docs"])
        }
        decoded = {
            key: delta_decode_docids(by_key[key])
            for key in needed_all & by_key.keys()
        }
        for q in queries:
            keys = [
                key
                for key in selections.get(q["query_id"], set())
                if key in decoded
            ]
            if not keys:
                continue
            docs, scores = _accumulate_topk(
                [decoded[key] for key in keys],
                [
                    np.full(decoded[(t, imp)].size, float(imp * idf_q[t]))
                    for t, imp in keys
                ],
                len(keys), False, k,
            )
            yield q["query_id"], docs, scores

    return bucket_kernel(score_bucket, "score_q")


def saat_topk(
    segments: DataFrame,
    queries: list[dict],
    n_docs: int,
    rho: int | None,
    k: int = 10,
    pre_arranged: bool = False,
) -> DataFrame:
    """Anytime top-k: (query_id, rank, doc_id, score_q:long).

    queries: [{query_id, terms}] — DISJUNCTIVE only (the published
    SAAT processing model; conjunctive/phrase/filter shapes stay on
    the DaaT kernels). rho: global postings budget per query
    (None = unlimited = exhaustive quantized ranking).

    One metadata aggregate serves the whole batch: global (term, imp,
    n) for the union of query terms, which also yields each term's df
    (sum of its segment sizes — one posting per doc) for idf_q. The
    pinned selection happens driver-side per query; executors only
    ever decode selected segments.
    """
    all_terms = sorted({t for q in queries for t in q["terms"]})
    if not all_terms:
        raise ValueError("saat_topk needs at least one query term")
    pruned = segments.filter(F.col("term").isin(all_terms))
    meta = [
        (r["term"], int(r["imp"]), int(r["n"]))
        for r in pruned.groupBy("term", "imp")
        .agg(F.sum("n").alias("n"))
        .collect()
    ]
    dfs: dict[str, int] = {}
    for t, _, n in meta:
        dfs[t] = dfs.get(t, 0) + n
    idf_q = {t: idf_quantized(df, n_docs) for t, df in dfs.items()}
    selections = {
        q["query_id"]: select_segments(
            [m for m in meta if m[0] in set(q["terms"])], idf_q, rho
        )
        for q in queries
    }
    return kernel_topk(
        segments, queries, k, dfs, pre_arranged,
        lambda _: _saat_kernel(queries, idf_q, selections, k),
        "score_q",
    )
