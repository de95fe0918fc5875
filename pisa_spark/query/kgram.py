"""k-gram index for general wildcard queries — leading ('*tion'),
trailing ('dat*'), and infix ('s*t', 'mid*fix') patterns.

The textbook scheme (Manning/Raghavan/Schütze, *Introduction to
Information Retrieval* §3.2.2, public): every vocabulary term is
anchored as '$term$' and decomposed into its k-character grams; a
wildcard pattern contributes the grams fully inside its fixed
segments ('$red' + 'red' for 'red*'), candidate terms are the ones
containing ALL pattern grams (a conjunctive gram join), and one exact
regex verify removes the false positives gram conjunction admits
(e.g. 'red*' grams match 'retired'-shaped terms in general). The
k-gram route is what makes LEADING wildcards tractable: a prefix scan
can push StartsWith to storage, but '*tion' has no prefix — the gram
'ion$' is its index key.

Scale shape: the gram table is |vocab| x ~len rows (vocabulary-sized,
never corpus-sized), gram keys hash-spread, the pattern side is tiny
and broadcast, and candidate sets are bounded by the most selective
gram before the verify. Patterns whose segments are all shorter than
k (e.g. '*a*') get no grams and fall back to a vocabulary regex scan
— still vocabulary-sized, documented as the slow path. Everything is
column expressions; k=2 by default so single-letter-flanked patterns
('s*t') still produce anchored grams.

Reference parity note: the reference has no query parser (exact id
lookup only — src/Inference.py:227-240); wildcard support is
target-engine surface built on the index's own term dictionary.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KGRAM_K = 2

# catalog table name for a persisted gram table (engine.precompute_kgrams)
KGRAM_TABLE = "kgram_index"


def kgram_col(term: Column, k: int = KGRAM_K) -> Column:
    """array<string>: distinct k-grams of the '$'-anchored term."""
    padded = F.concat(F.lit("$"), term, F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - (k - 1)),
            lambda i: padded.substr(i, F.lit(k)),
        )
    )


def kgram_table(vocab: DataFrame, k: int = KGRAM_K) -> DataFrame:
    """(gram, term): the k-gram postings of the term dictionary.
    vocab: (term [, df ...]) — extra columns ride through. At scale
    this is committed once per index generation (it is vocabulary-
    derived and static), not rebuilt per query."""
    return vocab.withColumn(
        "gram", F.explode(kgram_col(F.col("term"), k))
    )


def pattern_grams(pat: str, k: int = KGRAM_K) -> list[str]:
    """The k-grams fully inside the anchored fixed segments of a
    wildcard pattern: '$' + pat + '$', split on '*', each segment's
    grams. Empty when every segment is shorter than k."""
    if "*" not in pat:
        raise ValueError(f"not a wildcard pattern: {pat!r}")
    out: list[str] = []
    for seg in ("$" + pat + "$").split("*"):
        out.extend(seg[i : i + k] for i in range(len(seg) - k + 1))
    return sorted(set(out))


def pattern_regex(pat: str) -> str:
    """Anchored regex equivalent of the wildcard pattern ('*' -> .*,
    everything else literal)."""
    return "^" + ".*".join(re.escape(s) for s in pat.split("*")) + "$"


def expand_patterns(
    vocab: DataFrame | None,
    patterns: list[str],
    k: int = KGRAM_K,
    max_expand: int = 64,
    kgrams: DataFrame | None = None,
) -> dict[str, list[str]]:
    """General wildcard expansion: {pattern: [matching terms]}, each
    list capped at ``max_expand`` by (df DESC, term ASC) — the same
    deterministic most-selective-first cap as the prefix path.

    vocab: (term, df). Gram-bearing patterns go through the k-gram
    conjunction (match-count == n_grams, the bincount-intersection
    idiom) + regex verify; gram-less patterns ('*a*') scan the
    vocabulary with the regex directly. Both jobs are vocabulary-
    sized; the driver receives <= |patterns| * max_expand rows.

    ``kgrams``: an optional PRECOMPUTED (gram, term, df) table (the
    ``kgram_index`` catalog table, engine.precompute_kgrams). When
    given, gram-bearing patterns read it with a pushed In(gram, ...)
    filter — only the patterns' gram rows leave storage, the per-query
    vocabulary explode disappears entirely (the term_thresholds
    serving idiom). vocab may then be None as long as
    every pattern has grams."""
    from pyspark.sql import Window

    pats = sorted(set(patterns))
    if not pats:
        return {}
    with_grams = {p: pattern_grams(p, k) for p in pats}
    grammed = {p: g for p, g in with_grams.items() if g}
    gramless = [p for p, g in with_grams.items() if not g]
    if vocab is None and gramless:
        raise ValueError(
            f"gram-less patterns {gramless} need the vocabulary"
            " relation — pass vocab alongside kgrams"
        )
    spark = (kgrams if vocab is None else vocab).sparkSession
    out: dict[str, list[str]] = {p: [] for p in pats}

    def _verify(cand_pats: list[str]) -> Column:
        # per-pattern exact regex as a static when-chain: patterns are
        # a driver-side handful, each regex a compile-time literal
        cond = F.lit(False)
        for p in sorted(cand_pats):
            cond = F.when(
                F.col("pat") == p, F.col("term").rlike(pattern_regex(p))
            ).otherwise(cond)
        return cond

    ranked_parts = []  # each: (pat, term, df)
    if grammed:
        rows = [(p, g) for p, gs in grammed.items() for g in gs]
        pg = spark.createDataFrame(rows, "pat string, gram string")
        ng = {p: len(gs) for p, gs in grammed.items()}
        if kgrams is not None:
            all_g = sorted({g for gs in grammed.values() for g in gs})
            kt = kgrams.filter(F.col("gram").isin(all_g)).select(
                "gram", "term", "df"
            )
        else:
            kt = kgram_table(vocab.select("term", "df"), k)
        cand = (
            kt.join(F.broadcast(pg), "gram")
            .groupBy("pat", "term")
            .agg(F.count(F.lit(1)).alias("_hits"), F.max("df").alias("df"))
        )
        need = F.create_map(
            *[x for p, n in sorted(ng.items()) for x in (F.lit(p), F.lit(n))]
        )
        cand = cand.filter(F.col("_hits") == need[F.col("pat")])
        cand = cand.filter(_verify(sorted(grammed)))
        ranked_parts.append(cand.select("pat", "term", "df"))
    if gramless:
        pl = spark.createDataFrame([(p,) for p in gramless], "pat string")
        cand = vocab.select("term", "df").crossJoin(F.broadcast(pl))
        ranked_parts.append(
            cand.filter(_verify(gramless)).select("pat", "term", "df")
        )

    cands = ranked_parts[0]
    for part in ranked_parts[1:]:
        cands = cands.unionByName(part)
    w = Window.partitionBy("pat").orderBy(
        F.col("df").desc(), F.col("term").asc()
    )
    ranked = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_expand)
        .select("pat", "_rn", "term")
        .collect()
    )
    for r in sorted(ranked, key=lambda r: (r["pat"], r["_rn"])):
        out[r["pat"]].append(r["term"])
    return out
