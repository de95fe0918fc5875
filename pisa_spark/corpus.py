"""Corpus layer: the ``pages`` table, extraction, and tokenization.

Input contract (BASELINE.json input_hint): an Iceberg-style table of
Common-Crawl-like web pages with columns
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

In this sandbox the pages table is synthesized *deterministically* from
the driver-provided ``documents.parquet`` (doc_id, text, lang, source,
n_chars): each document's text is wrapped in a fixed HTML template, the
url and warc_ts are pure functions of doc_id. No randomness — the table
is identical across runs and parallelism levels, which the rank-identity
tests rely on (reference analog: the time-pre-sorted CSV the reference
trusts implicitly, /root/reference/src/helpers/Reader.py:154).

Extraction is the inverse of the template, implemented as a vectorized
pandas UDF (Arrow-batched; no per-row Python loop) and byte-compared
against the source text in tests ("byte-identical extracted text per
url", BASELINE.json:15).

Tokenization is JVM-side (``split(lower(text), '[^a-z0-9]+')``): it
stays inside whole-stage codegen, and the identical regex runs in the
DuckDB oracle, giving engine/oracle token parity for free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Fixed template. html = PRE + title + MID + text + POST, UTF-8.
_HTML_PRE = "<html><head><title>"
_HTML_MID = "</title></head><body><p>"
_HTML_POST = "</p></body></html>"

TOKEN_SPLIT_REGEX = "[^a-z0-9]+"

# Crawl epoch for deterministic warc_ts: 2018-01-01 00:00:00 UTC.
_CRAWL_EPOCH = 1514764800


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the pages(url, warc_ts, html, text, lang) table from
    documents.parquet, deterministically (pure functions of doc_id/text)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://example"),
        (F.col("doc_id") % 1000).cast("string"),
        F.lit(".test/p/"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
    )
    title = F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
    html = F.encode(
        F.concat(
            F.lit(_HTML_PRE), title, F.lit(_HTML_MID), F.col("text"), F.lit(_HTML_POST)
        ),
        "UTF-8",
    )
    warc_ts = F.timestamp_seconds(F.lit(_CRAWL_EPOCH) + F.col("doc_id") * 7)
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Vectorized HTML -> text extraction (Arrow batches, pandas str ops).

    Inverse of the fixed template above: strip everything up to and
    including the first ``<p>`` and the trailing ``</p></body></html>``.
    Byte-identical to the original text per url (enforced by
    tests/test_extraction.py). The vectorized-str-ops discipline mirrors
    the reference's all-vectorized scoring path
    (/root/reference/src/Inference.py:227-240) — no per-row Python.
    """
    s = html.str.decode("utf-8")
    # pandas .str ops are columnar over the block; regex anchored to the
    # template so malformed rows fall through unchanged-minus-tags.
    body = s.str.replace(r"^.*?<body><p>", "", n=1, regex=True)
    body = body.str.replace(r"</p></body></html>$", "", n=1, regex=True)
    return body


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """pages -> (url, warc_ts, extracted:string, lang)."""
    return pages.select(
        "url", "warc_ts", extract_text(F.col("html")).alias("extracted"), "lang"
    )


def tokens_col(text: Column) -> Column:
    """text -> array<string> of non-empty lowercase tokens.

    JVM-side split (whole-stage codegen, no Python round-trip). The same
    regex is used verbatim in the DuckDB oracle SQL
    (regexp_split_to_array) so token parity holds by construction.
    """
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_REGEX), lambda t: t != "")


def stem_s(token: Column) -> Column:
    """Harman's S-stemmer (Harman 1991, "How effective is suffixing?")
    — the published minimal English plural stemmer, as pure column
    expressions (no UDF; the identical regexes run in the DuckDB
    oracle). First matching rule wins:

    1. ``IES`` -> ``Y``   unless preceded by a or e ("eies"/"aies" keep)
    2. ``ES``  -> ``E``   unless preceded by a, e or o
    3. ``S``   -> drop    unless preceded by u or s

    The rules are an if/elif over suffix CLASSES: the longest matching
    suffix class decides, and a failed guard returns the word UNCHANGED
    (it does not fall through — "does" matches the ES class, fails its
    guard on 'oes', and stays "does" rather than reaching the S rule).
    Bare suffixes ("s", "es", "ies" as whole words) have no preceding
    character, fail their guards, and stay unchanged.
    """
    n = F.length(token)
    drop1 = F.substring(token, F.lit(1), n - 1)
    ies_y = F.concat(F.substring(token, F.lit(1), n - 3), F.lit("y"))
    return (
        F.when(
            token.rlike("ies$"),
            F.when(token.rlike("[^ae]ies$"), ies_y).otherwise(token),
        )
        .when(
            token.rlike("es$"),
            F.when(token.rlike("[^aeo]es$"), drop1).otherwise(token),
        )
        .when(
            token.rlike("s$"),
            F.when(token.rlike("[^us]s$"), drop1).otherwise(token),
        )
        .otherwise(token)
    )


def stem_s_py(token: str) -> str:
    """stem_s for one Python string, rule for rule — the driver-side
    twin for term sets already held in the driver (the engine's
    lexicon, a query's terms), where a Spark job per call would cost
    more than the stemming (tests/test_stemmer.py pins the two equal)."""
    if token.endswith("ies"):
        return token[:-3] + "y" if token[-4:-3] not in ("", "a", "e") else token
    if token.endswith("es"):
        return token[:-1] if token[-3:-2] not in ("", "a", "e", "o") else token
    if token.endswith("s"):
        return token[:-1] if token[-2:-1] not in ("", "u", "s") else token
    return token


def stemmed_tokens_col(text: Column) -> Column:
    """tokens_col with S-stemming applied per token — the stemmed
    tokenizer variant for recall-over-precision index builds ("queries"
    and "query" share a posting list). Stays whole-stage-codegen."""
    return F.transform(tokens_col(text), stem_s)


def assign_doc_ids(pages: DataFrame) -> DataFrame:
    """Deterministic dense doc-id assignment for a pages corpus:
    doc_id = 0-based rank of url in the global url order.

    NEVER monotonically_increasing_id(): that is partition-layout
    dependent and changes across runs/parallelism, which would break
    rank-identity (SURVEY T4; the reference's dense max+1 id space is
    /root/reference/src/helpers/Reader.py:62). Implemented via the
    two-phase range-partition + per-partition-offset assignment in
    operators/ids.py — NOT row_number() over a global Window, which
    plans as a single-partition sort (one task holds the whole corpus,
    a non-starter at 10^12 docs)."""
    from pisa_spark.operators.ids import global_positions

    return global_positions(pages, ["url"], "doc_id")


def build_docs_from_pages(pages: DataFrame) -> DataFrame:
    """The corpus front door of the north rule: raw pages
    (url, warc_ts, html, text, lang) -> dense-id documents
    (doc_id, text, url), ready for the resumable index build.

    Composition: vectorized HTML->text extraction (byte-identical per
    url) -> two-phase deterministic doc-id assignment in url order
    (operators/ids.py — no single-partition sort). Everything is a
    narrow map except the one range exchange the id assignment needs.
    """
    extracted = with_extracted_text(pages)
    with_ids = assign_doc_ids(extracted.select("url", "extracted"))
    return with_ids.select(
        "doc_id", F.col("extracted").alias("text"), "url"
    )


def parse_query(q: str) -> dict:
    """Parse a query string into the engine's query dict (SURVEY T12).

    Syntax: whitespace-separated lowercase terms; a leading '+' on any
    term makes the whole query conjunctive (AND); a leading '-'
    NEGATES that term (docs containing it are excluded from the
    results — scored over the positive terms only); a double-quoted
    segment is an exact PHRASE (returned under 'phrases' as token
    lists — docs must contain it; the engine scores phrase + loose
    terms together); otherwise disjunctive (OR). Tokens are normalized
    with the corpus tokenizer rules (lowercase alnum runs), so an
    interior hyphen still splits ('state-of-the-art' stays four
    positive terms)."""
    import re

    phrases = [
        [t for t in re.split(TOKEN_SPLIT_REGEX, seg.lower()) if t]
        for seg in re.findall(r'"([^"]*)"', q)
    ]
    phrases = [p for p in phrases if p]
    q = re.sub(r'"[^"]*"', " ", q)
    conjunctive = False
    terms: list[str] = []
    negated: list[str] = []
    for tok in q.split():
        if tok.startswith("+"):
            conjunctive = True
        is_neg = tok.startswith("-")
        parts = [
            t for t in re.split(TOKEN_SPLIT_REGEX, tok.lstrip("+-").lower()) if t
        ]
        (negated if is_neg else terms).extend(parts)
    out = {"terms": terms, "conjunctive": conjunctive}
    if negated:
        out["negated"] = negated
    if phrases:
        out["phrases"] = phrases
    return out


def tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> (doc_id, tokens:array<string>, doc_len:int)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        toks.alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))
