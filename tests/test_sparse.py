"""Sparse TF-IDF cosine operators vs an independent pure-Python
reference (hashlib + math — no Spark expressions shared), on the
sf0.001 documents plus planted near-duplicates."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.sparse import (
    sparse_cosine_pairs,
    sparse_cosine_topk_per_doc,
)
from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

from .conftest import SF_SMALL


def _ref_weights(texts: dict[int, str], df_cap: int):
    def th(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    tf: dict[int, dict[int, int]] = {}
    for i, txt in texts.items():
        d: dict[int, int] = {}
        for tok in txt.strip().split():
            d[th(tok)] = d.get(th(tok), 0) + 1
        tf[i] = d
    dfreq: dict[int, int] = {}
    for d in tf.values():
        for t in d:
            dfreq[t] = dfreq.get(t, 0) + 1
    n = len(texts)
    return {
        i: {
            t: c * (math.log((n + 1) / (dfreq[t] + 1)) + 1.0)
            for t, c in d.items()
            if dfreq[t] <= df_cap
        }
        for i, d in tf.items()
    }


def _ref_pairs(weights, threshold):
    ids = sorted(weights)
    norms = {
        i: math.sqrt(sum(w * w for w in weights[i].values())) for i in ids
    }
    out = {}
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = weights[a].keys() & weights[b].keys()
            if not shared or norms[a] == 0 or norms[b] == 0:
                continue
            dot = sum(weights[a][t] * weights[b][t] for t in shared)
            cos = dot / (norms[a] * norms[b])
            if cos >= threshold:
                out[(a, b)] = cos
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    base = docs.limit(60).select("doc_id", "text")
    # planted topical near-dups: drop the first token (high overlap)
    near = base.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return base.unionByName(near)


def test_sparse_cosine_pairs_match_pure_python_reference(spark, corpus):
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    want = _ref_pairs(_ref_weights(texts, df_cap=50), threshold=0.3)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sparse_cosine_pairs(
            corpus, "doc_id", "text", threshold=0.3, df_cap=50
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    # every planted near-dup pair must be found with high cosine
    planted = [k for k in want if k[1] - k[0] == 5_000_000]
    assert planted and all(want[k] > 0.8 for k in planted)


def test_sparse_topk_ranks_planted_partner_first(spark, corpus):
    top = sparse_cosine_topk_per_doc(
        corpus, "doc_id", "text", k=1, df_cap=50
    ).collect()
    best = {r["id"]: r["partner"] for r in top}
    for r in top:
        if r["id"] >= 5_000_000:
            assert best[r["id"]] == r["id"] - 5_000_000


def test_bloom_blocks_match_pure_python_and_overlap_is_sound(spark):
    """Relational Bloom: block values must equal a pure-Python build on
    the same md5 positions, and pairwise AND-popcounts must be exact for
    the shared bitmaps (Bloom estimates sit on top of these exact
    ingredients)."""
    import hashlib

    from amsterdam_map_data_wrangling_spark.operators.sparse import (
        bloom_blocks,
        bloom_pairwise_overlap,
    )
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    from .conftest import SF_SMALL

    docs = (
        load_tables(spark, SF_SMALL, ["documents"])["documents"]
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .select("source", "text")
    )
    M, H = 4096, 3
    blocks = bloom_blocks(docs, "source", "text", m_bits=M, n_hashes=H)
    got = {
        (r["g"], r["block"]): r["bits"] for r in blocks.collect()
    }

    ref: dict[tuple[str, int], int] = {}
    for r in docs.collect():
        for tok in set(r["text"].strip().split()):
            hx = hashlib.md5(tok.encode()).hexdigest()
            for i in range(H):
                pos = int(hx[8 * i : 8 * i + 8], 16) % M
                k = (r["source"], pos // 64)
                # Python ints are unbounded; fold into signed int64 like
                # Spark's long
                v = 1 << (pos % 64)
                if v >= 2**63:
                    v -= 2**64
                ref[k] = ref.get(k, 0) | v
    assert got == ref

    ov = {
        (r["g_a"], r["g_b"]): r["inter_bits"]
        for r in bloom_pairwise_overlap(blocks).collect()
    }
    import collections

    by_g: dict[str, dict[int, int]] = collections.defaultdict(dict)
    for (g, blk), v in ref.items():
        by_g[g][blk] = v

    def pop(x):
        return bin(x & (2**64 - 1)).count("1")

    for (ga, gb), inter in ov.items():
        want = sum(
            pop(by_g[ga].get(blk, 0) & by_g[gb].get(blk, 0))
            for blk in set(by_g[ga]) & set(by_g[gb])
        )
        assert inter == want
    assert ov, "source vocabularies overlap, so pairs must exist"


def test_decontaminate_removes_exactly_the_overlapping_docs(spark):
    """Removal must agree with detection: docs sharing a 5-gram with the
    benchmark disappear, everything else survives untouched — including
    a planted doc that shares 4-grams but no 5-gram."""
    from amsterdam_map_data_wrangling_spark.operators.sparse import (
        decontaminate,
    )
    from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

    from .conftest import SF_SMALL

    docs = (
        load_tables(spark, SF_SMALL, ["documents"])["documents"]
        .limit(30)
        .select("doc_id", "text")
    )
    # bench: two real docs (their sources contaminate themselves) plus a
    # synthetic probe
    bench = docs.limit(2).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )
    # planted: copies a 4-token window from a bench doc, breaks every
    # 5-gram by inserting a token in the middle
    first = docs.limit(1).select(F.col("text")).collect()[0]["text"]
    toks = first.split()
    near_miss = " ".join(toks[:2] + ["ZZBREAK"] + toks[2:4])
    extra = spark.createDataFrame(
        [(777_001, near_miss)], "doc_id long, text string"
    )
    corpus = docs.unionByName(extra)
    clean = decontaminate(corpus, bench, n=5)
    kept = {r["doc_id"] for r in clean.collect()}
    contaminated_ids = {r["doc_id"] for r in docs.limit(2).collect()}
    assert contaminated_ids.isdisjoint(kept)
    assert 777_001 in kept  # shares 4-grams only -> survives at n=5
    assert len(kept) == 31 - 2


def test_decontaminate_rejects_multi_column_contaminated_ids(spark):
    """``contaminated_ids`` is read by position, so a relation with more
    than one column must be refused rather than silently keyed on its
    first column."""
    from amsterdam_map_data_wrangling_spark.operators.sparse import (
        decontaminate,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ids = spark.createDataFrame([(1, 7)], "doc_id long, other long")
    with pytest.raises(ValueError, match="exactly one column"):
        decontaminate(docs, docs, contaminated_ids=ids)


def test_bloom_blocks_rejects_oversized_n_hashes(spark):
    """r6 ADVICE regression: md5 hex is 32 chars = four 8-char slices;
    a 5th hash position would slice past the digest and conv() NULLs
    would silently weaken the filter. The parameter is now validated."""
    import pytest

    from amsterdam_map_data_wrangling_spark.operators.sparse import bloom_blocks

    df = spark.createDataFrame([(1, "a b c")], "g int, text string")
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_blocks(df, "g", "text", m_bits=4096, n_hashes=5)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_blocks(df, "g", "text", m_bits=4096, n_hashes=0)


def test_bm25_matches_pure_python_reference(spark):
    """BM25 scores and ranking against an independent pure-Python
    implementation over a tiny corpus with known statistics."""
    import math

    from amsterdam_map_data_wrangling_spark.operators.sparse import bm25_topk

    corpus = {
        1: "apple banana apple",
        2: "banana cherry",
        3: "apple cherry cherry dates",
        4: "dates dates dates",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id long, text string"
    )
    queries = {0: "apple cherry", 1: "dates"}
    got = {
        (r["q_id"], r["id"]): (round(r["score"], 9), r["rnk"])
        for r in bm25_topk(df, "doc_id", "text", queries, k=3).collect()
    }

    # independent reference
    toks = {k: v.split() for k, v in corpus.items()}
    n_docs, n_toks = len(toks), sum(len(t) for t in toks.values())
    avgdl = n_toks / n_docs
    dfreq = {}
    for t in toks.values():
        for term in set(t):
            dfreq[term] = dfreq.get(term, 0) + 1
    k1, b = 1.2, 0.75

    def score(q, doc):
        s = 0.0
        for term in set(q.split()):
            tf = toks[doc].count(term)
            if tf == 0:
                continue
            idf = math.log((n_docs - dfreq[term] + 0.5) / (dfreq[term] + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[doc]) / avgdl))
        return s

    for qid, q in queries.items():
        scored = sorted(
            ((score(q, d), d) for d in corpus if score(q, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        assert len([k for k in got if k[0] == qid]) == len(scored)
        for rnk, (s, d) in enumerate(scored, 1):
            assert got[(qid, d)] == (round(s, 9), rnk), (qid, d)
