"""Collection-derived stopword list + stopped serving — the classic
serving-tier knob (Lucene/Indri stop lists; the "negative-idf head"
every Zipf vocabulary grows at web scale).

List contract (gate-pinned): a term is a stopword iff its document
frequency exceeds ``floor(max_df_ratio * n_docs)``. The default
ratio 0.5 selects EXACTLY the negative-idf set under the engine's
BM25 idf — ln((N-df+0.5)/(df+0.5)) < 0 iff df > N/2 — i.e. the terms
WAND cannot prune under OR semantics (negative contributions are
undroppable) and the terms whose postings dominate decode cost.
Attribute/numeric pseudo-terms are excluded by the collision-free
':' predicate, like every dictionary-derived artifact here.

Serving contract (gate-pinned): ``strip(query)`` removes terms in the
stop set; if NO terms remain the ORIGINAL query serves unchanged (the
classic all-stop fallback — "the the the" still answers). Terms
absent from the corpus are NOT stopwords and are kept (they match
nothing, so an absent+stop query returns empty rather than falling
back — the deterministic rendering the DuckDB twin mirrors with a
left join). Negation and attribute filters pass through untouched.

Scale shape: the list is a block-METADATA aggregate (term, sum(n)) —
never a decode — with output bounded by the df cut (hundreds of terms
at any corpus size, Zipf); committed once per index generation as the
``stopwords`` catalog table (the term_thresholds artifact idiom) and
collected to the driver for O(1) per-query stripping.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS_TABLE = "stopwords"


def stopword_cut(n_docs: int, max_df_ratio: float = 0.5) -> int:
    """The pinned integer threshold: stopword iff df > cut."""
    return math.floor(float(max_df_ratio) * int(n_docs))


def stopword_list(
    postings: DataFrame, n_docs: int, max_df_ratio: float = 0.5
) -> DataFrame:
    """(term, df): the stop set from block metadata only. Excludes
    attribute pseudo-terms (':') and the '__deleted__' tombstone
    pseudo-term — once deletes exceed the cut it would otherwise be
    classified a stopword and stripped from nothing real."""
    from pisa_spark.index.deletes import DELETED_TERM

    cut = stopword_cut(n_docs, max_df_ratio)
    return (
        postings.filter(
            ~F.col("term").contains(":")
            & (F.col("term") != DELETED_TERM)
        )
        .groupBy("term")
        .agg(F.sum("n").alias("df"))
        .filter(F.col("df") > F.lit(cut))
    )


def strip_stopwords(
    queries: list[dict], stop: set[str]
) -> list[dict]:
    """Apply the pinned strip/fallback rule to parsed query dicts
    (terms only; negated/filter ride through untouched)."""
    out = []
    for q in queries:
        kept = [t for t in q["terms"] if t not in stop]
        nq = dict(q)
        nq["terms"] = kept if kept else list(q["terms"])
        out.append(nq)
    return out
