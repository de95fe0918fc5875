"""Quantized impact index: 8-bit per-posting impacts, integer serving.

The classic impact-quantization design from the PISA literature (the
`pisa-engine` family's quantized indexes; Anh & Moffat's impact-sorted
lists): at BUILD time each posting's BM25 tf-saturation factor is
quantized to an 8-bit integer *impact*, so the serving index stores
(doc_id, impact) instead of (doc_id, tf, doc_len) —

* the payload is FIXED-WIDTH (1 byte/posting, no varint branching) and
  needs no doc_len at query time, so scoring is self-contained in two
  arrays;
* query-time scoring is pure int64 multiply-add: score_q =
  sum_t idf_q[t] * impact[t, d] with idf quantized to a 2^16 fixed
  point. Integer sums are associative, so the ranking is EXACTLY
  deterministic — no float summation-order ambiguity, and the DuckDB
  oracle twin reproduces every score bit-for-bit (the float BM25 path
  needs round(score, 4) in its gates; this path needs nothing).

Quantization contract (the twin-critical arithmetic — any change here
must change the gate SQL in __spark_entry__.py identically):

    impact = floor(255.0 * tf / (tf + (0.54 + 0.36 * dl / avgdl)))
    idf_q  = floor(ln((n_docs - df + 0.5) / (df + 0.5)) * 65536.0)
    score_q = sum over matched terms of impact * idf_q      (int64)

0.54 / 0.36 are k1*(1-b) and k1*b for the north rule's k1=0.9, b=0.4,
written as decimal literals so Spark codegen, numpy and DuckDB parse
the identical double. Every op in `impact` is an exactly-rounded IEEE
binary64 *, /, + over exact integer inputs, evaluated in the same
order on both engines, so the floor lands on the same side of every
cliff. BM25 monotonicity is preserved up to quantization error <=
1.9 * idf_t / 255 + 1.9/65536 per matched term.

Why impacts can drop df/avgdl dependence that build.py keeps: the
exact-BM25 blocks (build.py) stay df-free so an incremental index
never has to rewrite payloads; a quantized index bakes avgdl in by
DESIGN (that is what buys the 1-byte payload) and is rebuilt — or
re-quantized from the exact index's (tf, dl) payloads — when corpus
stats drift. Both layouts share the doc-range bucketing, so skew,
per-bucket serving and the global top-k merge are identical.

Scale shape: one (bucket, term) shuffle at build (same as
build_postings); serving is a term-pruned scan (PushedFilters on the
query's terms) -> per-bucket Arrow kernel -> <= n_buckets*|q|*k row
top-k window. max impact per block is stored for block-max pruning.

Reference parity: quantized scoring generalizes the reference's
integer-rank inference (exact top-k over precomputed score matrices,
/root/reference/src/Inference.py:233-240) to the inverted-index
setting; ids/ordering contracts match SURVEY T4/T17.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index import codec
from pisa_spark.index.build import BLOCK_SIZE, term_frequencies
from pisa_spark.session import task_wave_partitions

IMPACT_SCALE = 255      # 8-bit impacts: floor(255*x) with x in [0, 1)
IDF_SCALE = 65536       # 2^16 fixed-point idf
# k1*(1-b) and k1*b for k1=0.9, b=0.4 — decimal literals shared
# verbatim with the oracle twin (module doc: the quantization contract)
_KB0 = 0.54
_KB1 = 0.36

QUANT_SCHEMA = (
    "bucket int, term string, block_idx int, first_doc long, max_doc long, "
    "n int, imp_max int, imp_min int, docs binary, imps binary"
)

_TOPK_SCHEMA = "query_id int, doc_id long, score_q long"


def impact_expr(avgdl: float):
    """The build-time quantizer as a JVM column expression over
    (tf, doc_len) — whole-stage codegen, no Python in the hot path.
    Operand order mirrors the oracle twin token-for-token."""
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    return F.floor(
        F.lit(255.0) * tf / (tf + (F.lit(_KB0) + F.lit(_KB1) * dl / F.lit(float(avgdl))))
    ).cast("int")


def idf_quantized(df: int, n_docs: int) -> int:
    """floor(idf * 2^16) as a Python int (driver-side, per QUERY term
    only — never materialized for the full vocabulary). Negative for
    terms in more than ~half the corpus, like raw BM25 idf; integer
    scoring keeps that sign exactly."""
    return math.floor(
        math.log((n_docs - df + 0.5) / (df + 0.5)) * float(IDF_SCALE)
    )


def _encode_quant_groups(
    pdf_iter: Iterator[pd.DataFrame], block_size: int, dtype=np.uint8
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: rows (bucket, term, doc_id, imp) sorted by
    (bucket, term, doc_id) within the partition -> one row per
    <=block_size block; docs delta+varint, impacts raw fixed-width
    ints (uint8 for 8-bit BM25 impacts; the BM25F bridge passes uint32
    pseudo-tf units) — the fixed-width payload is the point of
    quantizing. Carry-over of the possibly-split tail group mirrors
    build._encode_groups."""
    cols = [c.split()[0] for c in QUANT_SCHEMA.split(", ")]

    def emit(out: dict, g: pd.DataFrame) -> None:
        bucket = int(g["bucket"].iloc[0])
        term = g["term"].iloc[0]
        g = g.sort_values("doc_id")
        doc_ids = g["doc_id"].to_numpy(np.int64)
        imps = g["imp"].to_numpy(np.int64)
        for bi in range(0, len(doc_ids), block_size):
            sl = slice(bi, bi + block_size)
            d = doc_ids[sl]
            i = imps[sl]
            out["bucket"].append(bucket)
            out["term"].append(term)
            out["block_idx"].append(bi // block_size)
            out["first_doc"].append(int(d[0]))
            out["max_doc"].append(int(d[-1]))
            out["n"].append(int(d.size))
            out["imp_max"].append(int(i.max()))
            out["imp_min"].append(int(i.min()))
            out["docs"].append(codec.delta_encode_docids(d))
            out["imps"].append(i.astype(dtype).tobytes())

    leftover: pd.DataFrame | None = None
    for pdf in pdf_iter:
        if pdf.empty:
            continue
        if leftover is not None:
            pdf = pd.concat([leftover, pdf], ignore_index=True)
            leftover = None
        last_b = pdf["bucket"].iloc[-1]
        last_t = pdf["term"].iloc[-1]
        tail_mask = (pdf["bucket"] == last_b) & (pdf["term"] == last_t)
        leftover = pdf[tail_mask]
        head = pdf[~tail_mask]
        if head.empty:
            continue
        out: dict[str, list] = {c: [] for c in cols}
        for _, g in head.groupby(["bucket", "term"], sort=False):
            emit(out, g)
        yield pd.DataFrame(out)
    if leftover is not None and not leftover.empty:
        out = {c: [] for c in cols}
        emit(out, leftover)
        yield pd.DataFrame(out)


def build_quantized_postings(
    tokens_df: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int = 32,
    max_doc_id: int | None = None,
    block_size: int = BLOCK_SIZE,
    span: int | None = None,
) -> DataFrame:
    """tokens (doc_id, tokens, doc_len) -> quantized posting blocks.

    Same single (bucket, term) shuffle as build_postings; the impact
    quantizer runs as a codegen expression BEFORE the shuffle, so the
    shuffle rows carry (bucket, term, doc_id, imp:int) — narrower than
    the exact path's (tf, doc_len) pair."""
    if max_doc_id is None:
        max_doc_id = n_docs
    if span is None:
        span = max(1, math.ceil((max_doc_id + 1) / n_buckets))
    tf = term_frequencies(tokens_df)
    rows = tf.select(
        "doc_id",
        "term",
        impact_expr(avgdl).alias("imp"),
        (F.col("doc_id") / F.lit(span)).cast("int").alias("bucket"),
    )
    n_part = task_wave_partitions(tokens_df.sparkSession)
    arranged = rows.repartition(n_part, "bucket", "term").sortWithinPartitions(
        "bucket", "term", "doc_id"
    )
    bs = int(block_size)
    return arranged.mapInPandas(
        lambda it: _encode_quant_groups(it, bs), schema=QUANT_SCHEMA
    )


def quantized_index_dataframes(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 32,
    block_size: int = BLOCK_SIZE,
) -> tuple[DataFrame, dict]:
    """documents.parquet -> (quantized postings, stats dict)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    stats_row = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]
    stats = {
        "n_docs": int(stats_row["n_docs"]),
        "avgdl": float(stats_row["avgdl"]),
    }
    postings = build_quantized_postings(
        toks,
        stats["n_docs"],
        stats["avgdl"],
        n_buckets=n_buckets,
        max_doc_id=int(stats_row["max_doc"]),
        block_size=block_size,
    )
    return postings, stats


def requantize_postings(postings: DataFrame, avgdl: float) -> DataFrame:
    """Exact-index blocks -> quantized blocks, 1:1 and SHUFFLE-FREE.

    Every exact block (build.py layout) already carries (tf, dl) per
    posting, which is all the quantizer needs, so the derivation is a
    narrow mapInPandas: docs payloads are copied verbatim, block
    structure/skip metadata survive unchanged, and partitioning is
    preserved — a bucket-co-located (pre_arranged) exact index yields a
    pre_arranged quantized index. Bit-identical to building with
    build_quantized_postings at the same (n_buckets, block_size): the
    quantizer arithmetic matches impact_expr op-for-op in IEEE binary64.

    This is the stats-drift answer the module doc promises: when avgdl
    moves enough to matter, re-derive the quantized twin from the
    still-valid exact index — one narrow pass, no re-tokenize, no
    shuffle."""
    a = float(avgdl)

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ns = pdf["n"].to_numpy(np.int64)
            tfs = codec.varint_decode(b"".join(pdf["tfs"])).astype(np.int64) + 1
            dls = codec.varint_decode(b"".join(pdf["dls"])).astype(np.int64)
            t = tfs.astype(np.float64)
            d = dls.astype(np.float64)
            imps = np.floor(
                255.0 * t / (t + (0.54 + 0.36 * d / a))
            ).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
            segs = np.split(imps.astype(np.uint8), np.cumsum(ns)[:-1])
            yield pd.DataFrame(
                {
                    "bucket": pdf["bucket"].to_numpy(np.int32),
                    "term": pdf["term"],
                    "block_idx": pdf["block_idx"].to_numpy(np.int32),
                    "first_doc": pdf["first_doc"].to_numpy(np.int64),
                    "max_doc": pdf["max_doc"].to_numpy(np.int64),
                    "n": pdf["n"].to_numpy(np.int32),
                    "imp_max": np.maximum.reduceat(imps, starts).astype(
                        np.int32
                    ),
                    "imp_min": np.minimum.reduceat(imps, starts).astype(
                        np.int32
                    ),
                    "docs": pdf["docs"],
                    "imps": [s.tobytes() for s in segs],
                }
            )

    return postings.mapInPandas(kernel, schema=QUANT_SCHEMA)


def _decode_quant_blocks(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """All of a term's blocks in one varint pass (docs) + one
    frombuffer (impacts) — block byte-strings concatenate losslessly."""
    from pisa_spark.query.bm25 import _segmented_delta_decode

    ns = g["n"].to_numpy(np.int64)
    deltas = codec.varint_decode(b"".join(g["docs"])).astype(np.int64)
    docs = _segmented_delta_decode(deltas, ns)
    imps = np.frombuffer(b"".join(g["imps"]), dtype=np.uint8).astype(np.int64)
    return docs, imps


def _quant_block_docs(g: pd.DataFrame) -> np.ndarray:
    """Sorted unique doc ids of a term's quantized blocks — the
    docs-only decoder the exclusion/inclusion sets use (impacts never
    touched: negated/filter pseudo-terms are never scored)."""
    return np.unique(_decode_quant_blocks(g)[0])


def _quant_keep_masks(
    present: list[str],
    conjunctive: bool,
    idf_q: dict[str, int],
    by_term: dict[str, pd.DataFrame],
    threshold: int | None,
) -> dict[str, np.ndarray] | None:
    """Block-level keep masks for one query in one bucket under an
    integer threshold, or None when the bucket provably cannot reach it.

    Same soundness contract as the float path's _query_keep_masks
    (query/bm25.py), with one structural improvement: every bound here
    is an EXACT int64 — the block upper bound idf_q*imp_max (idf_q>=0)
    or idf_q*imp_min (idf_q<0) is attained by a posting hitting the
    corner, with zero float association error — so no epsilon slack is
    needed and `bound >= threshold` keeps exactly the blocks that
    could still contain a doc tying or beating the k-th score.
    Negative-idf_q terms stay undroppable under OR (skipping them
    would inflate other-match docs' scores), mirroring the float
    kernel's negative-idf rule."""
    ubs: dict[str, np.ndarray] = {}
    for t in present:
        g = by_term[t]
        iq = int(idf_q[t])
        corner = g["imp_max"] if iq >= 0 else g["imp_min"]
        ubs[t] = iq * corner.to_numpy(np.int64)
    if threshold is None:
        return {t: np.ones(len(ubs[t]), bool) for t in present}
    term_max = {t: int(ubs[t].max()) for t in present}
    if conjunctive:
        total = sum(term_max.values())
        others = {t: total - term_max[t] for t in present}
        best_bound = total
    else:
        pos = {t: max(term_max[t], 0) for t in present}
        pos_sum = sum(pos.values())
        others = {t: pos_sum - pos[t] for t in present}
        best_bound = max(term_max[t] + others[t] for t in present)
    if best_bound < threshold:
        return None
    masks: dict[str, np.ndarray] = {}
    for t in present:
        if not conjunctive and int(idf_q[t]) < 0:
            masks[t] = np.ones(len(ubs[t]), bool)
            continue
        m = ubs[t] + others[t] >= threshold
        if conjunctive and not m.any():
            return None
        masks[t] = m
    return masks


def quantized_kernel(
    queries: list[dict],
    idf_q: dict[str, int],
    k: int,
    thresholds: dict[int, int] | None = None,
):
    """Per-bucket integer top-k closure.

    Per term, decode the UNION of the batch's kept blocks ONCE; every
    query then accumulates the decoded arrays in full — extra blocks
    (kept for another query) only move a doc's score toward exact,
    which is always sound. Scores accumulate via bincount over the
    unique-doc inverse (exact — see the in-kernel note); AND keeps docs
    whose matched-term count equals the query's distinct-term count
    (each term contributes one posting per doc). thresholds: per-query
    integer lower bounds on the global k-th score (from the two-phase
    bootstrap); empty -> no pruning."""
    thresholds = thresholds or {}

    def kernel(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pisa_spark.query.bm25 import (
            _bucket_exclusion,
            _bucket_inclusion,
            _in_sorted,
        )

        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        all_blocks = pd.concat(chunks, ignore_index=True)
        out = {"query_id": [], "doc_id": [], "score_q": []}
        for _, bucket_blocks in all_blocks.groupby("bucket", sort=False):
            by_term = dict(tuple(bucket_blocks.groupby("term", sort=False)))
            fx_cache: dict[str, np.ndarray] = {}
            plans = []
            for q in queries:
                terms = list(dict.fromkeys(q["terms"]))
                present = [t for t in terms if t in by_term]
                if not present or (
                    q["conjunctive"] and len(present) < len(terms)
                ):
                    continue
                masks = _quant_keep_masks(
                    present, q["conjunctive"], idf_q, by_term,
                    thresholds.get(q["query_id"]),
                )
                if masks is not None:
                    plans.append((q, terms, present, masks))
            if not plans:
                continue
            union: dict[str, np.ndarray] = {}
            for _, _, present, masks in plans:
                for t in present:
                    union[t] = (
                        masks[t] if t not in union else union[t] | masks[t]
                    )
            decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for t, um in union.items():
                if um.any():
                    decoded[t] = _decode_quant_blocks(by_term[t][um])
            for q, terms, present, masks in plans:
                doc_parts, contrib_parts = [], []
                for t in present:
                    if t not in decoded:
                        continue
                    docs, imps = decoded[t]
                    doc_parts.append(docs)
                    contrib_parts.append(imps * int(idf_q[t]))
                if not doc_parts:
                    continue
                docs_all = np.concatenate(doc_parts)
                contribs = np.concatenate(contrib_parts)
                uniq, inv = np.unique(docs_all, return_inverse=True)
                # bincount's float64 accumulation is EXACT here: every
                # contribution is an integer with |imp * idf_q| <
                # 2^8 * 2^21 = 2^29 (idf_q <= ln(2e12)*2^16), so a doc
                # would need > 2^24 matched terms before any partial
                # sum could leave the 2^53 exact-integer range — far
                # beyond any query shape. rint+cast recovers the int64.
                # (np.add.at would accumulate in int64 directly but is
                # an order of magnitude slower than bincount.)
                sums = np.bincount(
                    inv, weights=contribs.astype(np.float64),
                    minlength=uniq.size,
                )
                scores = np.rint(sums).astype(np.int64)
                if q["conjunctive"]:
                    cnt = np.bincount(inv, minlength=uniq.size)
                    keep = cnt == len(terms)
                    uniq, scores = uniq[keep], scores[keep]
                    if uniq.size == 0:
                        continue
                # '-term' exclusion (incl. the deletes layer's
                # __deleted__ pseudo-term) and attribute-filter
                # inclusion, bucket-local and BEFORE the trim — the
                # WAND kernel's machinery with the quantized docs-only
                # decoder (impacts never read for pseudo-terms)
                include = _bucket_inclusion(
                    by_term, q.get("filter", []), fx_cache,
                    decode_docs=_quant_block_docs,
                )
                if include is not None:
                    alive = (
                        _in_sorted(include, uniq)
                        if include.size
                        else np.zeros(uniq.size, bool)
                    )
                    uniq, scores = uniq[alive], scores[alive]
                exclude = _bucket_exclusion(
                    by_term, q.get("negated", []), fx_cache,
                    decode_docs=_quant_block_docs,
                )
                if exclude is not None and exclude.size and uniq.size:
                    alive = ~_in_sorted(exclude, uniq)
                    uniq, scores = uniq[alive], scores[alive]
                if uniq.size == 0:
                    continue
                # tie-safe bucket-local trim (keep every doc scoring
                # >= the k-th largest); the global window applies the
                # (score_q DESC, doc_id ASC) order — same contract as
                # the float path's _accumulate_topk
                if uniq.size > k:
                    kth = np.partition(scores, uniq.size - k)[uniq.size - k]
                    m = scores >= kth
                    uniq, scores = uniq[m], scores[m]
                out["query_id"].extend([q["query_id"]] * uniq.size)
                out["doc_id"].extend(uniq.tolist())
                out["score_q"].extend(scores.tolist())
        if out["query_id"]:
            yield pd.DataFrame(
                {
                    "query_id": pd.array(out["query_id"], dtype="int32"),
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "score_q": pd.array(out["score_q"], dtype="int64"),
                }
            )

    return kernel


def _quant_topk_window(local: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("doc_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_q")
    )


def quantized_topk(
    postings: DataFrame,
    queries: list[dict],
    n_docs: int,
    k: int = 10,
    term_dfs: dict[str, int] | None = None,
    pre_arranged: bool = False,
    two_phase: bool = False,
    sample_buckets: int = 2,
) -> DataFrame:
    """Top-k over the quantized index: (query_id, rank, doc_id,
    score_q:long). queries: [{query_id, terms, conjunctive}].

    Ranking is EXACT under the quantization contract — integer scores,
    ties broken doc_id ASC — so two runs (or two engines) can never
    disagree. df per term = sum(n) over its blocks, as in the exact
    path; idf_q is computed driver-side for the query's terms only.

    two_phase: bootstrap per-query integer thresholds by scoring
    ``sample_buckets`` exhaustively (their collected top-k rows are
    reused as those buckets' partial results, so nothing is read
    twice); phase 2 prunes blocks with the EXACT integer block-max
    bounds (_quant_keep_masks — no epsilon slack). A threshold is only
    applied once a query has a full k phase-1 rows."""
    from pisa_spark.query.bm25 import _arrange_pruned, _flat_filters

    all_terms = sorted({t for q in queries for t in q["terms"]})
    # negated / filter pseudo-terms ride the same pruned scan (their
    # quantized impacts are never read — docs-only exclusion/inclusion)
    aux_terms = sorted(
        {t for q in queries for t in q.get("negated", [])}
        | {t for q in queries for t in _flat_filters(q)}
    )
    arranged, term_dfs = _arrange_pruned(
        postings, sorted(set(all_terms) | set(aux_terms)), term_dfs,
        pre_arranged,
    )
    # only the query's terms — a caller may hand the full-vocabulary df
    # dict (e.g. the bench shares one with the exact index)
    idf_q = {
        t: idf_quantized(term_dfs[t], n_docs)
        for t in all_terms
        if t in term_dfs
    }
    if not two_phase:
        local = arranged.mapInPandas(
            quantized_kernel(queries, idf_q, k), schema=_TOPK_SCHEMA
        )
        return _quant_topk_window(local, k)
    spark = arranged.sparkSession
    sample = arranged.filter(F.col("bucket") < sample_buckets)
    phase1_rows = (
        _quant_topk_window(
            sample.mapInPandas(
                quantized_kernel(queries, idf_q, k), schema=_TOPK_SCHEMA
            ),
            k,
        )
        .select("query_id", "doc_id", "score_q")
        .collect()
    )
    counts: dict[int, int] = {}
    kth: dict[int, int] = {}
    for r in phase1_rows:
        qid = r["query_id"]
        counts[qid] = counts.get(qid, 0) + 1
        kth[qid] = min(kth.get(qid, np.iinfo(np.int64).max), int(r["score_q"]))
    thresholds = {q: kth[q] for q, c in counts.items() if c >= k}
    rest = arranged.filter(F.col("bucket") >= sample_buckets)
    partial = rest.mapInPandas(
        quantized_kernel(queries, idf_q, k, thresholds), schema=_TOPK_SCHEMA
    )
    if phase1_rows:
        phase1_df = spark.createDataFrame(
            [
                (r["query_id"], r["doc_id"], r["score_q"])
                for r in phase1_rows
            ],
            schema=_TOPK_SCHEMA,
        )
        partial = partial.unionByName(phase1_df)
    return _quant_topk_window(partial, k)


QUANT_TABLE = "postings_quant"


def save_quantized_index(quant_postings: DataFrame, index_root: str) -> None:
    """Persist the quantized twin next to the exact index, bucket-
    partitioned through the same manifest catalog (atomic publish,
    snapshots/time travel/vacuum for free). Global stats are NOT
    duplicated — the twin is defined against the exact index's
    corpus_stats (the avgdl it was quantized under), so readers load
    one consistent (quant postings, stats) pair via load_quantized_index.

    At 10^12 docs this is what makes the derivation pay once: the
    requantize pass streams narrow and the write clusters by bucket,
    preserving the one-file-per-bucket serving layout contract."""
    from pisa_spark.sources import catalog

    catalog.write_table(
        quant_postings.repartition("bucket").sortWithinPartitions(
            "bucket", "term", "block_idx"
        ),
        index_root,
        QUANT_TABLE,
        partition_by=["bucket"],
    )


def load_quantized_index(
    spark: SparkSession, index_root: str, as_of_ts: float | None = None
) -> tuple[DataFrame, dict]:
    """(quant postings, stats) from the catalog; stats resolve from the
    exact index's corpus_stats table (same time-travel semantics as
    index.lineage.load_index)."""
    from pisa_spark.index.lineage import STATS_TABLE
    from pisa_spark.sources import catalog

    seq_q = seq_s = None
    if as_of_ts is not None:
        seq_q = catalog.snapshot_as_of_ts(index_root, QUANT_TABLE, as_of_ts)
        seq_s = catalog.snapshot_as_of_ts(index_root, STATS_TABLE, as_of_ts)
        if seq_q is None or seq_s is None:
            raise FileNotFoundError(
                f"no quantized snapshot at or before ts={as_of_ts}"
            )
    postings = catalog.read_table(spark, index_root, QUANT_TABLE, as_of=seq_q)
    srow = catalog.read_table(
        spark, index_root, STATS_TABLE, as_of=seq_s
    ).collect()[0]
    return postings, {
        "n_docs": int(srow["n_docs"]),
        "avgdl": float(srow["avgdl"]),
    }
