"""pisa_spark — a PySpark-native inverted-index build + BM25 query engine.

Brand-new engine (NOT a port) with the query semantics of the reference
repo at /root/reference (hsyoo32/pisa) re-expressed Spark-first, per the
north rule in BASELINE.json: posting-list construction, merge,
delta+varint block compression, block-max WAND top-k BM25, resumable
per-partition builds with lineage, plus the large-scale training-data
pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing).

Layout:
    session        SparkSession factory tuned for local[N] testing
    corpus         pages(url, warc_ts, html, text, lang) derivation +
                   vectorized HTML->text extraction + tokenizer
    index/         codec (delta+varint), postings build (skew-aware),
                   corpus stats, bucketed index layout, lineage/resume
    query/         BM25 scoring (exhaustive DataFrame path + block-max
                   WAND mapInPandas path), top-k merge
    dedup/         exact, minhash-LSH, simhash, n-gram jaccard,
                   embedding-cosine near-dup
    similarity/    brute-force + LSH-bucketed ANN over embeddings
    functions/     text analysis scalar functions (langid, quality,
                   token counts, fingerprints)
    operators/     reference-semantic relational operators (snapshot
                   split, seen-set masking, per-subject top-k, metrics)
    sources/       table catalog abstraction (parquet stand-in for
                   Iceberg; swap point for a real Iceberg catalog)
    streaming/     structured-streaming ingest of the pages table
"""

__version__ = "0.1.0"

from pyspark import TaskContext

from pisa_spark.session import install_zip_stat_cache

# A Spark Python worker imports pisa_spark while it unpickles a task's
# engine closure (a task context is set then): from that worker's next
# task on, the per-task import-cache reset stops re-reading Spark's
# zips and jars. The driver process is never patched.
if TaskContext.get() is not None:
    install_zip_stat_cache()
