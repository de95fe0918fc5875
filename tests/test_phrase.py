"""Phrase queries over the positional index: exact consecutive-token
matching, BM25-ranked, vs an independent Python oracle."""

import collections
import math

import pytest
from pyspark.sql import functions as F

from pisa_spark.corpus import tokens_col
from pisa_spark.index.build import BM25_B, BM25_K1, build_postings
from pisa_spark.query.bm25 import bm25_phrase_topk
from tests.oracle import load_corpus


def naive_phrase_topk(tok, phrase, k=10):
    """Dict/loop reimplementation: docs containing the consecutive
    sequence, scored by BM25 over the phrase's distinct terms."""
    n_docs = len(tok)
    avgdl = sum(len(v) for v in tok.values()) / n_docs
    df = collections.Counter()
    for ts in tok.values():
        df.update(set(ts))
    distinct = list(dict.fromkeys(phrase))
    out = []
    m = len(phrase)
    for d, ts in sorted(tok.items()):
        hit = any(ts[i : i + m] == phrase for i in range(len(ts) - m + 1))
        if not hit:
            continue
        c = collections.Counter(ts)
        s = 0.0
        for t in distinct:
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * c[t] * (BM25_K1 + 1) / (
                c[t] + BM25_K1 * (1 - BM25_B + BM25_B * len(ts) / avgdl)
            )
        out.append((d, s))
    out.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def pos_index(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(
        F.count(F.lit(1)), F.avg("doc_len"), F.max("doc_id")
    ).collect()[0]
    postings = build_postings(
        toks, int(row[0]), float(row[1]), n_buckets=8,
        max_doc_id=int(row[2]), with_positions=True,
    ).cache()
    return postings, int(row[0]), float(row[1])


@pytest.fixture(scope="module")
def tok(sf_dir):
    return load_corpus(sf_dir)


def pick_phrases(tok):
    """Phrases guaranteed to exist: consecutive token runs from real
    docs, plus a nonexistent one."""
    docs = sorted(tok)
    ts0 = tok[docs[0]]
    ts1 = tok[docs[len(docs) // 2]]
    return [
        ts0[0:2],           # bigram from doc 0
        ts1[3:6],           # trigram mid-corpus
        ["zzz", "absent"],  # no match
        [ts0[0]],           # single-token phrase == single-term query
    ]


def test_phrase_topk_matches_naive(pos_index, tok):
    postings, n_docs, avgdl = pos_index
    phrases = pick_phrases(tok)
    queries = [
        {"query_id": i, "terms": p} for i, p in enumerate(phrases)
    ]
    rows = bm25_phrase_topk(postings, queries, n_docs, avgdl, k=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for i, p in enumerate(phrases):
        expect = naive_phrase_topk(tok, p, k=10)
        have = sorted(got.get(i, []))
        assert [(d) for _, d, _ in have] == [d for d, _ in expect], (
            f"phrase {p}: {have} != {expect}"
        )
        for (_, _, sg), (_, se) in zip(have, expect):
            assert abs(sg - se) < 1e-9


def test_phrase_repeated_token(spark):
    """Repeated tokens in the phrase must anchor on the SAME term's
    positions at different offsets ('rep rep' matches only consecutive
    repeats)."""
    docs = spark.createDataFrame(
        [
            (0, "rep one rep two"),
            (1, "one rep rep two"),
            (2, "rep rep rep"),
            (3, "norep at all"),
        ],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    row = toks.agg(F.count(F.lit(1)), F.avg("doc_len"), F.max("doc_id")).collect()[0]
    postings = build_postings(
        toks, int(row[0]), float(row[1]), n_buckets=2,
        max_doc_id=int(row[2]), with_positions=True,
    )
    rows = bm25_phrase_topk(
        postings,
        [{"query_id": 0, "terms": ["rep", "rep"]}],
        int(row[0]), float(row[1]), k=10,
    ).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_persistent_positional_index_and_facade(spark, sf_dir, tmp_path, tok):
    """with_positions flows through the resumable build; the facade's
    search_phrase serves off the loaded index and matches the naive
    oracle; a non-positional engine refuses clearly."""
    from pisa_spark.engine import SearchEngine

    root = str(tmp_path / "pos_idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8, with_positions=True
    )
    phrase = pick_phrases(tok)[0]
    rows = eng.search_phrase(" ".join(phrase), k=10).collect()
    expect = naive_phrase_topk(tok, phrase, k=10)
    got = sorted(((r["rank"], r["doc_id"]) for r in rows))
    assert [d for _, d in got] == [d for d, _ in expect]

    # proximity through the same facade/index
    near_terms = [phrase[0], phrase[1]]
    near_rows = eng.search_near(" ".join(near_terms), window=1, k=10).collect()
    want_near = naive_near_topk(tok, near_terms, 1, k=10)
    assert sorted(r["doc_id"] for r in near_rows) == sorted(
        d for d, _ in want_near
    )

    plain = SearchEngine.build(
        spark, sf_dir, str(tmp_path / "plain_idx"), n_buckets=8, wave_size=8
    )
    with pytest.raises(ValueError, match="positional"):
        plain.search_phrase("order fast")
    with pytest.raises(ValueError, match="positional"):
        plain.search_near("order fast")


# ---------------------------------------------------------------------------
# Spark-free kernel fuzz: random token sequences vs naive sequence scan
# ---------------------------------------------------------------------------


def _blocks_with_positions(docs_tokens, n_buckets=2, block=3):
    import numpy as np
    import pandas as pd

    from pisa_spark.index import codec

    n_docs = len(docs_tokens)
    span = -(-n_docs // n_buckets)
    vocab = sorted({t for ts in docs_tokens for t in ts})
    rows = []
    for term in vocab:
        entries = []  # (doc, tf, dl, positions)
        for d, ts in enumerate(docs_tokens):
            pos = [i for i, t in enumerate(ts) if t == term]
            if pos:
                entries.append((d, len(pos), len(ts), pos))
        for b in range(n_buckets):
            be = [e for e in entries if b * span <= e[0] < (b + 1) * span]
            for s in range(0, len(be), block):
                ch = be[s : s + block]
                d = np.array([e[0] for e in ch], dtype=np.int64)
                tfs = np.array([e[1] for e in ch], dtype=np.int64)
                dls = np.array([e[2] for e in ch], dtype=np.int64)
                rows.append(
                    {
                        "bucket": b, "term": term, "block_idx": s // block,
                        "first_doc": int(d[0]), "max_doc": int(d[-1]),
                        "n": int(d.size),
                        "tf_max": int(tfs.max()), "tf_min": int(tfs.min()),
                        "dl_min": int(dls.min()), "dl_max": int(dls.max()),
                        "docs": codec.delta_encode_docids(d),
                        "tfs": codec.encode_payload(tfs, minus_one=True),
                        "dls": codec.encode_payload(dls),
                        "poss": codec.encode_positions([e[3] for e in ch]),
                    }
                )
    import pandas as pd

    return pd.DataFrame(rows)


@pytest.mark.parametrize("seed", range(30))
def test_phrase_kernel_fuzz(seed):
    import numpy as np
    import pandas as pd

    from pisa_spark.query.bm25 import phrase_kernel

    rng = np.random.default_rng(seed)
    vocab = list("abcd"[: rng.integers(2, 5)])
    docs_tokens = [
        [vocab[rng.integers(0, len(vocab))] for _ in range(rng.integers(1, 12))]
        for _ in range(rng.integers(4, 25))
    ]
    blocks = _blocks_with_positions(docs_tokens)
    n_docs = len(docs_tokens)
    avgdl = sum(len(ts) for ts in docs_tokens) / n_docs
    term_dfs = {
        t: sum(1 for ts in docs_tokens if t in ts) for t in vocab
    }
    tok = {d: ts for d, ts in enumerate(docs_tokens)}
    queries = []
    for qid in range(5):
        m = int(rng.integers(1, 4))
        # half the time sample a REAL consecutive run (guaranteed hits)
        if rng.random() < 0.5:
            src = docs_tokens[rng.integers(0, n_docs)]
            if len(src) >= m:
                i = rng.integers(0, len(src) - m + 1)
                phrase = src[i : i + m]
            else:
                phrase = src[:]
        else:
            phrase = [vocab[rng.integers(0, len(vocab))] for _ in range(m)]
        queries.append({"query_id": qid, "terms": phrase})

    k = int(rng.integers(1, 6))
    # block rows arrive in arbitrary scan/shuffle order in production —
    # shuffle them to prove the kernel re-sorts per term (regression
    # for the searchsorted-over-unsorted-blocks bug)
    blocks = blocks.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    kern = phrase_kernel(queries, float(n_docs), float(avgdl), k, term_dfs)
    frames = list(kern(iter([blocks])))
    out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=["query_id", "doc_id", "score"]
    )
    for q in queries:
        g = out[out["query_id"] == q["query_id"]]
        cand = sorted(
            zip(g["doc_id"], g["score"]), key=lambda x: (-round(x[1], 9), x[0])
        )[:k]
        expect = naive_phrase_topk(tok, q["terms"], k=k)
        assert [d for d, _ in cand] == [d for d, _ in expect], (
            f"seed={seed} q={q['terms']} got={cand} want={expect}"
        )
        for (_, sg), (_, se) in zip(cand, expect):
            assert abs(sg - se) < 1e-9


def naive_near_topk(tok, terms, window, k=10):
    """Anchor-window proximity reference: doc matches iff some
    occurrence of terms[0] has every other term within +-window."""
    n_docs = len(tok)
    avgdl = sum(len(v) for v in tok.values()) / n_docs
    df = collections.Counter()
    for ts in tok.values():
        df.update(set(ts))
    distinct = list(dict.fromkeys(terms))
    out = []
    for d, ts in sorted(tok.items()):
        pos = collections.defaultdict(list)
        for i, t in enumerate(ts):
            pos[t].append(i)
        hit = False
        for p in pos.get(terms[0], []):
            if all(
                t == terms[0]
                or any(abs(q - p) <= window for q in pos.get(t, []))
                for t in distinct
            ):
                hit = True
                break
        if not hit:
            continue
        c = collections.Counter(ts)
        s = 0.0
        for t in distinct:
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * c[t] * (BM25_K1 + 1) / (
                c[t] + BM25_K1 * (1 - BM25_B + BM25_B * len(ts) / avgdl)
            )
        out.append((d, s))
    out.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return out[:k]


def test_near_topk_matches_naive(pos_index, tok):
    from pisa_spark.query.bm25 import bm25_near_topk

    postings, n_docs, avgdl = pos_index
    docs = sorted(tok)
    ts0, ts1 = tok[docs[0]], tok[docs[len(docs) // 2]]
    cases = [
        ([ts0[0], ts0[5]], 8),    # same doc, within window
        ([ts0[0], ts0[5]], 2),    # likely out of window in some docs
        ([ts1[3], ts1[4], ts1[6]], 4),
        (["zzz", "absent"], 8),
    ]
    queries = [
        {"query_id": i, "terms": t, "window": w}
        for i, (t, w) in enumerate(cases)
    ]
    got = {}
    for r in bm25_near_topk(
        postings, queries, n_docs, avgdl, k=10
    ).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for i, (terms, w) in enumerate(cases):
        want = [
            (d, round(s, 6)) for d, s in naive_near_topk(tok, terms, w)
        ]
        assert sorted(got.get(i, [])) == sorted(want), (i, terms, w)


def test_near_window_generalizes_phrase(pos_index, tok):
    """Every exact-phrase match is a near-match at window >= len-1."""
    from pisa_spark.query.bm25 import bm25_near_topk

    postings, n_docs, avgdl = pos_index
    phrase = tok[sorted(tok)[0]][0:2]
    ph = {
        r["doc_id"]
        for r in bm25_phrase_topk(
            postings, [{"query_id": 0, "terms": phrase}],
            n_docs, avgdl, k=100,
        ).collect()
    }
    near = {
        r["doc_id"]
        for r in bm25_near_topk(
            postings, [{"query_id": 0, "terms": phrase, "window": 1}],
            n_docs, avgdl, k=100,
        ).collect()
    }
    assert ph <= near


def test_parse_query_quoted_phrase():
    from pisa_spark.corpus import parse_query

    q = parse_query('"order fast" data -the')
    assert q["phrases"] == [["order", "fast"]]
    assert q["terms"] == ["data"]
    assert q["negated"] == ["the"]
    assert "phrases" not in parse_query("plain words")


def naive_mixed_topk(tok, phrase, extra, k=10):
    """Phrase required; scored over distinct(phrase + extra) — extra
    terms boost but never filter."""
    n_docs = len(tok)
    avgdl = sum(len(v) for v in tok.values()) / n_docs
    df = collections.Counter()
    for ts in tok.values():
        df.update(set(ts))
    scored_terms = list(dict.fromkeys(list(phrase) + list(extra)))
    out = []
    m = len(phrase)
    for d, ts in sorted(tok.items()):
        if not any(ts[i:i + m] == phrase for i in range(len(ts) - m + 1)):
            continue
        c = collections.Counter(ts)
        s = 0.0
        for t in scored_terms:
            if c[t] == 0 or df[t] == 0:
                continue
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * c[t] * (BM25_K1 + 1) / (
                c[t] + BM25_K1 * (1 - BM25_B + BM25_B * len(ts) / avgdl)
            )
        out.append((d, s))
    out.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return out[:k]


def test_mixed_query_matches_naive_and_facade(spark, sf_dir, tmp_path, tok):
    from pisa_spark.engine import SearchEngine
    from pisa_spark.query.bm25 import bm25_mixed_topk

    phrase = pick_phrases(tok)[0]
    extra = ["data", "the"]
    root = str(tmp_path / "mixed_idx")
    eng = SearchEngine.build(
        spark, sf_dir, root, n_buckets=8, wave_size=8, with_positions=True
    )
    want = [(d, round(s, 6)) for d, s in naive_mixed_topk(tok, phrase, extra)]
    got = sorted(
        ((r["doc_id"], round(r["score"], 6))
         for r in eng.search(f'"{" ".join(phrase)}" {" ".join(extra)}',
                             k=10).collect()),
        key=lambda x: x[0],
    )
    assert got == sorted(want)
    # library path agrees with facade
    lib = sorted(
        ((r["doc_id"], round(r["score"], 6))
         for r in bm25_mixed_topk(
             eng.postings,
             [{"query_id": 0, "terms": phrase, "extra_terms": extra}],
             eng.stats["n_docs"], eng.stats["avgdl"], k=10,
             pre_arranged=eng._pre_arranged,
         ).collect()),
        key=lambda x: x[0],
    )
    assert lib == got
    # extra terms boost but never filter: mixed matches == phrase matches
    ph_docs = {
        r["doc_id"] for r in eng.search_phrase(" ".join(phrase), k=100).collect()
    }
    assert {d for d, _ in got} <= ph_docs


@pytest.mark.parametrize("seed", range(30))
def test_near_kernel_fuzz(seed):
    """Proximity (anchor-window) kernel vs the naive reference over
    random corpora/windows, with shuffled block order and mixed-term
    queries — the same Spark-free harness as the phrase fuzz."""
    import numpy as np
    import pandas as pd

    from pisa_spark.query.bm25 import phrase_kernel

    rng = np.random.default_rng(1000 + seed)
    vocab = list("abcd"[: rng.integers(2, 5)])
    docs_tokens = [
        [vocab[rng.integers(0, len(vocab))] for _ in range(rng.integers(1, 14))]
        for _ in range(rng.integers(4, 25))
    ]
    blocks = _blocks_with_positions(docs_tokens)
    n_docs = len(docs_tokens)
    avgdl = sum(len(ts) for ts in docs_tokens) / n_docs
    term_dfs = {t: sum(1 for ts in docs_tokens if t in ts) for t in vocab}
    tok = {d: ts for d, ts in enumerate(docs_tokens)}
    queries = []
    cases = []
    for qid in range(5):
        m = int(rng.integers(1, 4))
        terms = [vocab[rng.integers(0, len(vocab))] for _ in range(m)]
        w = int(rng.integers(1, 6))
        queries.append({"query_id": qid, "terms": terms, "window": w})
        cases.append((terms, w))
    k = int(rng.integers(1, 6))
    blocks = blocks.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    kern = phrase_kernel(queries, float(n_docs), float(avgdl), k, term_dfs)
    frames = list(kern(iter([blocks])))
    out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=["query_id", "doc_id", "score"]
    )
    for qid, (terms, w) in enumerate(cases):
        g = out[out["query_id"] == qid]
        cand = sorted(
            zip(g["doc_id"], g["score"]), key=lambda x: (-round(x[1], 9), x[0])
        )[:k]
        expect = naive_near_topk(tok, terms, w, k=k)
        assert [d for d, _ in cand] == [d for d, _ in expect], (
            f"seed={seed} terms={terms} w={w} got={cand} want={expect}"
        )
        for (_, sg), (_, se) in zip(cand, expect):
            assert abs(sg - se) < 1e-9


def test_ordered_near_semantics(spark):
    """ORDERED slop: in-order chain within the span; the unordered
    variant accepts the reversed doc, ordered must not; window=m-1
    degenerates to the exact consecutive phrase."""
    from pisa_spark.index.build import build_postings
    from pisa_spark.corpus import tokens_col
    from pisa_spark.query.bm25 import bm25_near_topk, bm25_phrase_topk
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma pad pad"),        # in order, adjacent
            (1, "beta alpha pad pad gamma"),        # out of order
            (2, "alpha pad pad beta pad gamma"),    # in order, span 5
            (3, "gamma beta alpha pad pad pad"),    # reversed
            (4, "alpha beta pad gamma alpha beta"), # in order, span 3
        ],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens"))
    p = build_postings(
        toks, 5, 5.6, n_buckets=2, max_doc_id=4, with_positions=True
    )
    q = [{"query_id": 0, "terms": ["alpha", "beta", "gamma"]}]

    def got(window, ordered):
        out = bm25_near_topk(
            p, q, 5, 5.6, k=10, window=window, ordered=ordered
        ).collect()
        return sorted(r["doc_id"] for r in out)

    assert got(5, ordered=True) == [0, 2, 4]
    assert got(3, ordered=True) == [0, 4]
    # unordered anchor-window accepts the scrambled docs too
    assert got(5, ordered=False) == [0, 1, 2, 3, 4]
    # window = m-1 == exact consecutive phrase
    ph = bm25_phrase_topk(p, q, 5, 5.6, k=10).collect()
    assert got(2, ordered=True) == sorted(r["doc_id"] for r in ph)
    # facade forwards the flag
    from pisa_spark.engine import SearchEngine

    eng = SearchEngine(spark, p, {"n_docs": 5, "avgdl": 5.6})
    rows = eng.search_near("alpha beta gamma", window=3, ordered=True)
    assert sorted(r["doc_id"] for r in rows.collect()) == [0, 4]


def test_ordered_near_matcher_fuzz():
    """Spark-free fuzz: the greedy-chain matcher vs a brute-force
    any-witness-chain check over random small token streams."""
    import itertools
    import random

    import numpy as np

    from pisa_spark.query.bm25 import _ordered_near_match_docs

    rng = random.Random(1234)
    vocab = ["a", "b", "c", "d"]
    for trial in range(60):
        n_docs = rng.randint(1, 6)
        docs_tokens = {
            d: [vocab[rng.randrange(len(vocab))]
                for _ in range(rng.randint(1, 12))]
            for d in range(n_docs)
        }
        m = rng.randint(2, 3)
        terms = [vocab[rng.randrange(len(vocab))] for _ in range(m)]
        window = rng.randint(m - 1, 8)
        # build the per_term occurrence structures the kernel sees
        per_term = {}
        ok = True
        for t in dict.fromkeys(terms):
            rows = []
            for d, toks in docs_tokens.items():
                poss = [i for i, x in enumerate(toks) if x == t]
                if poss:
                    rows.append((d, len(poss), poss))
            if not rows:
                ok = False
                break
            per_term[t] = (
                np.array([r[0] for r in rows], np.int64),
                np.array([r[1] for r in rows], np.int64),
                np.array(
                    [p for r in rows for p in r[2]], np.int64
                ),
            )
        if not ok:
            continue
        cand = np.array(sorted(docs_tokens), np.int64)
        got = set(
            _ordered_near_match_docs(per_term, terms, cand, window).tolist()
        )
        expect = set()
        for d, toks in docs_tokens.items():
            occ = {t: [i for i, x in enumerate(toks) if x == t]
                   for t in dict.fromkeys(terms)}
            for chain in itertools.product(*[occ[t] for t in terms]):
                if all(chain[j] > chain[j - 1] for j in range(1, m)) \
                        and chain[-1] - chain[0] <= window:
                    expect.add(d)
                    break
        assert got == expect, (trial, terms, window, docs_tokens)
