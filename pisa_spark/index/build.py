"""Inverted-index construction: tf -> postings -> compressed blocks.

Layout decision (drives everything at 10^12-doc scale)
------------------------------------------------------
The serving index is **document-range partitioned**: every doc belongs
to one of ``n_buckets`` contiguous doc-id ranges, and each bucket holds
the posting blocks of *all* terms for its range. Consequences:

* **Skew is handled structurally** (SURVEY T8): a stop-word's 10^11
  postings never land in one task's ``collect_list`` — they are split
  across buckets by doc range, and concatenating buckets in bucket
  order restores global doc-id order without re-sorting.
* **Block-max WAND runs per bucket** (SURVEY T16): WAND needs all of a
  query's terms co-located in doc order; doc-partitioning gives exactly
  that, and the global answer is a cheap top-k merge of per-bucket
  top-ks (SURVEY T17) — the textbook distributed-search layout.
* **Rows stay small**: one output row per 128-posting block, never one
  giant array cell per term, so no executor OOM on head terms.

Index tables (parquet directory standing in for Iceberg — the write/read
surface is confined to pisa_spark.sources.catalog so a real Iceberg
catalog is a drop-in):

    postings(bucket, term, block_idx, first_doc, max_doc, n,
             tf_max:int, tf_min:int, dl_min:int, dl_max:int,
             docs:binary, tfs:binary, dls:binary)
        partitioned by bucket  (partition pruning on doc ranges)
    corpus_stats(n_docs, avgdl, total_terms)  -- 1 row

Block metadata doubles as the skip structure: (first_doc, max_doc) per
128-posting block are the skip pointers (a traversal skips a block
whose doc range can't intersect), and the (tf, dl) corner stats are the
raw material for query-time block-max score bounds (see
bm25_tf_factor) — df- AND avgdl-independent, so blocks stay valid as
an incremental index grows. Per-posting doc_len rides inside the block (``dls``)
so scoring is self-contained — no 10^12-row doc_len side join at query
time; term document frequency is recoverable as sum(n) over a term's
blocks, so no df side table is needed either.

Encoding is one segmented NumPy pass per Arrow batch (_encode_blocks),
not a loop over groups and blocks: group starts come from (bucket,
term) changes in the partition-sorted batch, block starts fall every
block_size postings within a group, and each payload stream (doc-id
deltas, tf-1, doc_len, positions) is varint-encoded once for the whole
batch and sliced per block. The bytes equal the per-block codec spec,
so the stored format does not depend on how a build batched its rows.
The encode stage runs one partition per core (session.
task_wave_partitions): a single wave of Python tasks.

Reference semantics carried over: posting-list construction is the
Spark-native analog of the reference's per-user neighbor lists
(groupby collect, /root/reference/src/models/Dataloader.py:44-46);
dense deterministic ids mirror its max+1 dense id space
(/root/reference/src/helpers/Reader.py:62).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index import codec
from pisa_spark.session import task_wave_partitions

BLOCK_SIZE = 128
BM25_K1 = 0.9
BM25_B = 0.4

POSTINGS_SCHEMA = (
    "bucket int, term string, block_idx int, first_doc long, max_doc long, "
    "n int, tf_max int, tf_min int, dl_min int, dl_max int, "
    "docs binary, tfs binary, dls binary"
)

# positional layout (with_positions=True): one extra payload column.
# ``poss`` concatenates each posting's within-doc token positions in
# doc order; per posting the first position is absolute and later ones
# are stored as diff-1 (strictly increasing); segment lengths are the
# (decoded) tfs, so no extra count column is needed.
POSTINGS_POS_SCHEMA = POSTINGS_SCHEMA + ", poss binary"


def term_frequencies(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, tokens, doc_len) -> (doc_id, term, tf, doc_len).

    posexplode + hash aggregate; Spark plans a partial (map-side) agg
    before the shuffle, so the shuffle carries (doc, term) partial
    counts, not raw tokens.
    """
    return (
        tokens_df.select(
            "doc_id", "doc_len", F.explode("tokens").alias("term")
        )
        .groupBy("doc_id", "term", "doc_len")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def term_frequencies_with_positions(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, tokens, doc_len) -> (doc_id, term, tf, doc_len,
    positions:array<int> sorted) — the positional variant: posexplode
    keeps the 0-based token offset, sort_array makes the per-(doc,term)
    position list deterministic."""
    return (
        tokens_df.select(
            "doc_id", "doc_len", F.posexplode("tokens").alias("pos", "term")
        )
        .groupBy("doc_id", "term", "doc_len")
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
                "positions"
            ),
        )
    )


def corpus_stats(tokens_df: DataFrame) -> DataFrame:
    """1-row (n_docs, avgdl, total_terms). Cheap global agg; broadcast
    to scorers as plain Python floats."""
    return tokens_df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_terms"),
    )


def build_stats(tokens_df: DataFrame):
    """Every global stat a build needs in ONE aggregate, collected: a
    Row (n_docs, avgdl, total_terms, max_doc)."""
    return tokens_df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_terms"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]


def term_document_frequency(tf_df: DataFrame) -> DataFrame:
    """(term, df) — document frequency per term."""
    return tf_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def bm25_idf(df: np.ndarray | float, n_docs: float):
    """ln((N - df + 0.5) / (df + 0.5)) — the classic (possibly negative)
    BM25 idf mandated by FIXTURES.md §3."""
    return np.log((n_docs - df + 0.5) / (df + 0.5))


def bm25_term_score(tf, dl, df, n_docs: float, avgdl: float):
    """Vectorized BM25 per-(term,doc) partial score, float64 throughout
    (rank-identity demands a fixed summation dtype)."""
    idf = bm25_idf(df, n_docs)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    return idf * (tf * (BM25_K1 + 1.0)) / denom


_OUT_COLS = [
    "bucket", "term", "block_idx", "first_doc", "max_doc", "n",
    "tf_max", "tf_min", "dl_min", "dl_max", "docs", "tfs", "dls",
]


def bm25_tf_factor(tf, dl, avgdl: float):
    """The df- and corpus-free factor of the BM25 partial score:
    (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl)), always > 0; monotone
    increasing in tf and decreasing in dl.

    Full score = idf(df) * factor. Blocks store the CORNER STATS
    (tf_max, tf_min, dl_min, dl_max) rather than any precomputed
    factor, because both global inputs of the score — df and avgdl —
    drift as an incremental index grows; bounds are derived query-time:
    upper factor bound = factor(tf_max, dl_min, avgdl_now) (attained
    exactly when one posting holds both corners, never below any
    actual factor by monotonicity), lower bound symmetric. So
    block_max_score = idf * fmax_bound if idf>0 else idf * fmin_bound
    stays an exact upper bound under ANY later corpus state."""
    return (tf * (BM25_K1 + 1.0)) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )


_IN_COLS = ["bucket", "term", "doc_id", "tf", "doc_len"]


def _block_payloads(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """Varint-encode one value stream for a whole batch in one call, then
    cut it into per-block byte strings: a block's bytes are the summed
    varint sizes of its values [starts[i], ends[i])."""
    buf, sizes = codec.varint_encode_sized(values.astype(np.uint64))
    off = np.concatenate(([0], np.cumsum(sizes)))
    data = buf.tobytes()
    return [
        data[a:b] for a, b in zip(off[starts].tolist(), off[ends].tolist())
    ]


def _encode_blocks(
    cols: dict[str, np.ndarray], block_size: int, with_positions: bool
) -> pd.DataFrame:
    """Segmented block encoder: postings sorted by (bucket, term,
    doc_id), whole groups only -> one row per <=block_size block, in a
    single vectorised pass over the batch (no per-group or per-block
    Python beyond slicing the encoded byte streams).

    Group starts are the (bucket, term) changes; block starts fall every
    block_size postings within a group. Three value streams cover the
    batch — doc-id deltas (absolute at each block start, diff-1 after),
    tf-1 and doc_len — each varint-encoded once and sliced per block.
    The bytes equal the per-block codec spec (codec.delta_encode_docids,
    codec.encode_payload, codec.encode_positions), because varints
    concatenate losslessly."""
    bucket, term = cols["bucket"], cols["term"]
    doc = cols["doc_id"].astype(np.int64)
    tf = cols["tf"].astype(np.int64)
    dl = cols["doc_len"].astype(np.int64)
    n = doc.size
    new_group = np.ones(n, dtype=bool)
    new_group[1:] = (bucket[1:] != bucket[:-1]) | (term[1:] != term[:-1])
    g_start = np.flatnonzero(new_group)
    rank = np.arange(n) - np.repeat(g_start, np.diff(np.append(g_start, n)))
    b_start = np.flatnonzero(rank % block_size == 0)
    b_end = np.append(b_start[1:], n)

    delta = np.empty(n, dtype=np.int64)
    delta[1:] = np.diff(doc) - 1
    inner = np.ones(n, dtype=bool)
    inner[b_start] = False
    if (delta[inner] < 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    delta[b_start] = doc[b_start]
    if (tf < 1).any() or (dl < 0).any():
        raise ValueError("payload values must be non-negative after bias")

    out = {
        "bucket": bucket[b_start],
        "term": term[b_start],
        "block_idx": rank[b_start] // block_size,
        "first_doc": doc[b_start],
        "max_doc": doc[b_end - 1],
        "n": b_end - b_start,
        # corner stats: exact ints, bounds derived query-time under the
        # CURRENT avgdl/df (see bm25_tf_factor doc)
        "tf_max": np.maximum.reduceat(tf, b_start),
        "tf_min": np.minimum.reduceat(tf, b_start),
        "dl_min": np.minimum.reduceat(dl, b_start),
        "dl_max": np.maximum.reduceat(dl, b_start),
        "docs": _block_payloads(delta, b_start, b_end),
        "tfs": _block_payloads(tf - 1, b_start, b_end),
        "dls": _block_payloads(dl, b_start, b_end),
    }
    if with_positions:
        # one flat position stream; posting i owns values
        # [p_off[i], p_off[i+1]) — first absolute, later ones diff-1
        pos = cols["positions"]
        p_len = np.fromiter((len(p) for p in pos), dtype=np.int64, count=n)
        p_off = np.concatenate(([0], np.cumsum(p_len)))
        flat = np.concatenate(list(pos)).astype(np.int64)
        p_delta = np.empty(flat.size, dtype=np.int64)
        p_delta[1:] = np.diff(flat) - 1
        firsts = p_off[:-1][p_len > 0]
        p_delta[firsts] = flat[firsts]
        out["poss"] = _block_payloads(p_delta, p_off[b_start], p_off[b_end])
    return pd.DataFrame(out)


def _encode_groups(
    pdf_iter: Iterator[pd.DataFrame],
    block_size: int,
    with_positions: bool = False,
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: rows (bucket, term, doc_id, tf, doc_len)
    sorted by (bucket, term, doc_id) within the partition -> one row per
    <=block_size posting block, payloads delta+varint compressed, with
    exact (tf, dl) corner stats for query-time WAND bounds. Each Arrow
    batch is encoded in one segmented pass (_encode_blocks).

    Arrow may split one (bucket, term) group across input batches, so
    the tail group of every batch is carried over and prepended to the
    next batch (partition-sorted input makes groups contiguous). Memory
    stays O(batch + one group) = O(docs in one bucket), which the bucket
    span bounds by construction.
    """
    names = _IN_COLS + ["positions"] if with_positions else _IN_COLS
    carry: dict[str, np.ndarray] | None = None
    for pdf in pdf_iter:
        if pdf.empty:
            continue
        cols = {c: pdf[c].to_numpy() for c in names}
        if carry is not None:
            cols = {c: np.concatenate((carry[c], cols[c])) for c in names}
        # hold back the final group — it may continue in the next batch
        b, t = cols["bucket"], cols["term"]
        other = np.flatnonzero((b != b[-1]) | (t != t[-1]))
        tail = int(other[-1]) + 1 if other.size else 0
        carry = {c: v[tail:] for c, v in cols.items()}
        if tail:
            yield _encode_blocks(
                {c: v[:tail] for c, v in cols.items()}, block_size,
                with_positions,
            )
    if carry is not None:
        yield _encode_blocks(carry, block_size, with_positions)


def build_postings(
    tokens_df: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int = 32,
    max_doc_id: int | None = None,
    block_size: int = BLOCK_SIZE,
    span: int | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """tokens -> compressed posting-block DataFrame (see module doc).

    One shuffle on (bucket, term) does all the work: repartition so each
    task sees whole (bucket, term) groups, sort within partitions, then
    a mapInPandas encoder streams blocks out. Blocks are df-free (see
    bm25_tf_factor) so no df join touches the big relation — document
    frequency lives in the small term_stats side table.

    with_positions: additionally carry each posting's within-doc token
    positions (``poss`` payload column) — the positional index phrase
    queries need. Same single shuffle; the shuffle rows carry the
    per-(doc,term) position arrays instead of bare counts.
    """
    if max_doc_id is None:
        max_doc_id = n_docs
    if span is None:
        span = max(1, math.ceil((max_doc_id + 1) / n_buckets))
    if with_positions:
        tf = term_frequencies_with_positions(tokens_df)
    else:
        tf = term_frequencies(tokens_df)
    return _postings_from_tf(tf, span, block_size, with_positions)


def build_postings_from_tf(
    tf_df: DataFrame,
    n_docs: int,
    n_buckets: int = 32,
    max_doc_id: int | None = None,
    block_size: int = BLOCK_SIZE,
    span: int | None = None,
) -> DataFrame:
    """Compressed posting blocks straight from an already-materialized
    tf relation (doc_id, term, tf, doc_len) — the bridge a CIFF import
    (sources/ciff.py) or any external term-frequency table uses to
    become a serving index without re-tokenizing. Identical bucket
    assignment, shuffle shape, and encode kernel as build_postings."""
    if max_doc_id is None:
        max_doc_id = n_docs
    if span is None:
        span = max(1, math.ceil((max_doc_id + 1) / n_buckets))
    return _postings_from_tf(
        tf_df.select("doc_id", "term", "tf", "doc_len"),
        span,
        block_size,
        with_positions=False,
    )


def _postings_from_tf(
    tf: DataFrame, span: int, block_size: int, with_positions: bool
) -> DataFrame:
    schema = POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA
    tf_b = tf.withColumn("bucket", (F.col("doc_id") / F.lit(span)).cast("int"))
    # explicit partition count: the encode stage is the Python-side hot
    # path — AQE must not coalesce it below the core count (it would,
    # for small shuffle volumes, and serialize the Arrow kernels), and
    # more than one partition per core adds a second wave of tasks
    n_part = task_wave_partitions(tf.sparkSession)
    arranged = tf_b.repartition(n_part, "bucket", "term").sortWithinPartitions(
        "bucket", "term", "doc_id"
    )
    bs = int(block_size)
    wp = bool(with_positions)
    return arranged.mapInPandas(
        lambda it: _encode_groups(it, bs, wp), schema=schema
    )


def attribute_tokens_col(attribute_cols: list[str]) -> F.Column:
    """array<string> of attribute pseudo-terms for filtered search:
    column 'lang' with value 'en' -> 'lang:en'. The ':' separator can
    never collide with real terms (the tokenizer strips non-alnum), so
    attributes live in the SAME posting-block relation as text terms —
    the classic filter-as-postings design (Lucene filter terms): a
    metadata predicate becomes a bucket-local doc-id intersection at
    query time, no side join against a 10^12-row documents table.
    Null attribute values index as '<col>:null'."""
    return F.array(
        *[
            F.concat(
                F.lit(c + ":"),
                F.coalesce(F.lower(F.col(c).cast("string")), F.lit("null")),
            )
            for c in attribute_cols
        ]
    )


def build_index_dataframes(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 32,
    block_size: int = BLOCK_SIZE,
    with_positions: bool = False,
    attribute_cols: list[str] | None = None,
    numeric_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """documents.parquet -> (postings, term_stats, corpus_stats, stats_dict).

    attribute_cols: document metadata columns to index as filter
    pseudo-terms ('lang:en'); numeric_cols: non-negative integer
    columns to index as precision-step range pseudo-terms
    (index/numeric.py — serves BETWEEN filters). doc_len / avgdl /
    total_terms count REAL tokens only, so BM25 scores are identical
    with or without indexed attributes — pseudo-terms are matched
    (filtered on), never scored.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sel = ["doc_id"] + list(attribute_cols or []) + list(numeric_cols or [])
    toks = docs.select(
        *sel, tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    if attribute_cols or numeric_cols:
        # appended AFTER doc_len so scoring stats ignore pseudo-terms
        from pisa_spark.index.numeric import numeric_tokens_col

        extra = (
            [attribute_tokens_col(list(attribute_cols))]
            if attribute_cols
            else []
        ) + [numeric_tokens_col(c) for c in (numeric_cols or [])]
        toks = toks.withColumn(
            "tokens", F.concat("tokens", *extra)
        ).select("doc_id", "tokens", "doc_len")
    toks = toks.cache()
    stats_row = build_stats(toks)
    stats = {
        "n_docs": stats_row["n_docs"],
        "avgdl": float(stats_row["avgdl"]),
        "total_terms": stats_row["total_terms"],
    }
    postings = build_postings(
        toks, stats["n_docs"], stats["avgdl"], n_buckets=n_buckets,
        max_doc_id=stats_row["max_doc"], block_size=block_size,
        with_positions=with_positions,
    )
    tstats = term_document_frequency(term_frequencies(toks))
    return postings, tstats, corpus_stats(toks), stats
