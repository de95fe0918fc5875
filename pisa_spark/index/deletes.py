"""Document deletion via tombstones (Lucene delete semantics).

Deleting from an immutable compressed index never rewrites postings:
deleted doc ids are indexed under a reserved pseudo-term
(``__deleted__`` — real tokens can never contain underscores, the
tokenizer strips non-alphanumerics; attribute pseudo-terms use ':')
as a TINY posting delta unioned with the base relation, and every
query excludes them through the same bucket-local NOT machinery as
negated terms (query/bm25.py _bucket_exclusion — the doc-range layout
keeps exclusion local, no cross-bucket state). Semantics follow
Lucene/PISA practice: corpus statistics (df, avgdl, n_docs) stay
STALE until compaction — surviving docs keep their exact scores,
deleted docs just cannot be returned. Compaction IS the existing
resumable incremental rebuild (index/lineage.py): rebuilding from the
corpus minus the deleted docs refreshes the stats and drops the
pseudo-term in one pass (content-fingerprint change detection rebuilds
exactly the touched buckets).

Scale shape: a tombstone set is a posting list like any other — the
union adds at most one (bucket, term) group per touched bucket, the
exclusion set decodes once per bucket per batch (shared cache with
negation), and nothing ever joins against the documents table at
query time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pisa_spark.index.build import BLOCK_SIZE, build_postings
from pisa_spark.session import local_frame

DELETED_TERM = "__deleted__"
DELETES_TABLE = "deletes"


def tombstone_postings(
    deletes,
    n_docs: int,
    avgdl: float,
    span: int,
    spark: SparkSession | None = None,
    block_size: int = BLOCK_SIZE,
    with_positions: bool = False,
) -> DataFrame:
    """Posting blocks for the ``__deleted__`` pseudo-term covering the
    given doc ids. ``deletes``: DataFrame with a ``doc_id`` column, or
    an iterable of ids (needs ``spark``). ``span`` must be the BASE
    index's bucket span so tombstones land in the buckets whose
    queries must exclude them; (n_docs, avgdl) are the base corpus
    stats — they only shape never-read block-max metadata, but keeping
    them real keeps the relation self-consistent."""
    if isinstance(deletes, DataFrame):
        ids = deletes.select(F.col("doc_id").cast("long"))
    else:
        if spark is None:
            raise ValueError("pass spark= when deletes is a plain iterable")
        ids = local_frame(spark, [(int(i),) for i in deletes], "doc_id long")
    toks = ids.distinct().select(
        "doc_id",
        F.array(F.lit(DELETED_TERM)).alias("tokens"),
        F.lit(1).alias("doc_len"),
    )
    return build_postings(
        toks,
        int(n_docs),
        float(avgdl),
        span=int(span),
        block_size=block_size,
        with_positions=with_positions,
    )


def with_tombstones(postings: DataFrame, tomb: DataFrame) -> DataFrame:
    """The serving relation: base postings plus the tombstone delta.
    The union breaks the stored one-file-per-bucket co-location, so
    callers re-arrange (repartition by bucket) before kernel serving —
    SearchEngine.delete_docs does."""
    return postings.unionByName(tomb)


def exclude_deleted(queries: list[dict]) -> list[dict]:
    """Append the tombstone pseudo-term to every query's negated set —
    the entire query-time cost of deletion."""
    out = []
    for q in queries:
        q = dict(q)
        neg = list(q.get("negated", []))
        if DELETED_TERM not in neg:
            neg.append(DELETED_TERM)
        q["negated"] = neg
        out.append(q)
    return out
