"""The bucket-kernel shell (query/bm25.py bucket_kernel) scores whole
buckets: every engine facade that reaches a top-k kernel returns the
same rows when each bucket spans many Arrow batches, and when the
kernel stage holds one partition per core instead of one partition
holding every bucket. A shell that scored each Arrow batch, or each
partition fragment, on its own would sum a doc's score per fragment.
"""

import pytest

from pisa_spark.engine import SearchEngine
from pisa_spark.query import bm25

SF = "/root/testdata/sf0.001"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

FACADES = {
    "search": lambda e: e.search("data join query", k=10),
    "search_batch_maxscore": lambda e: e.search_batch(
        ["data join query", "+data join"], k=10, algorithm="maxscore"
    ),
    "search_phrase": lambda e: e.search_phrase("order fast", k=10),
    "search_near": lambda e: e.search_near("order data", window=8, k=10),
    "search_mixed": lambda e: e.search('"order fast" data', k=10),
    "search_scored": lambda e: e.search_scored(
        "data join query", scorer="qld", k=10
    ),
    "search_quantized": lambda e: e.search_quantized(
        ["data join query", "+data join"], k=10
    ),
    "search_saat": lambda e: e.search_saat("data join query", k=10),
    "search_sdm": lambda e: e.search_sdm("data join query", k=10),
}


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bucket_kernel") / "idx")
    SearchEngine.build(
        spark, SF, root, n_buckets=8, wave_size=8, with_positions=True
    )
    return SearchEngine.load(spark, root)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("facade", sorted(FACADES))
def test_facade_rows_independent_of_batches_and_partitions(
    spark, eng, monkeypatch, facade
):
    run = FACADES[facade]
    want = _rows(run(eng))
    assert want, f"{facade} returned no rows"
    before = spark.conf.get(BATCH_CONF, None)
    spark.conf.set(BATCH_CONF, "1")
    try:
        one_row_batches = _rows(run(eng))
    finally:
        if before is None:
            spark.conf.unset(BATCH_CONF)
        else:
            spark.conf.set(BATCH_CONF, before)
    assert one_row_batches == want
    monkeypatch.setattr(bm25, "POSTINGS_PER_TASK", 1)
    assert _rows(run(eng)) == want
