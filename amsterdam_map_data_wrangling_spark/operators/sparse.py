"""Sparse lexical similarity: TF-IDF-weighted cosine over the token
vocabulary — the OTHER similarity family next to the dense-embedding
paths in :mod:`operators.similarity` (brute/LSH/IVF). Near-dup detection
on text often wants BOTH: MinHash/Jaccard catches near-identical
boilerplate, sparse cosine catches topical/partial overlap that shingle
methods miss.

Shape (never all-pairs): one tf aggregation per (doc, term-hash), one df
aggregation per term (with a df-cap dropping stop-terms — the blocking
knob, same role as the shingle df-cap in ngram_jaccard_pairs), a
self-join ON THE TERM KEY to accumulate pairwise dots, then one division
by the precomputed norms. Three shuffles, all on sound high-cardinality
keys; term strings never move (md5-hashed to longs, the portable
anchor). At 100 TB the df-cap bounds per-term fan-out exactly like a
stop-shingle bound, and real deployments set it from the df histogram.

Registered in the catalog at round 7 (plans/sparse.py:
``sparse_cosine_pairs``/``sparse_cosine_topk``/``bloom_vocab_overlap``/
``decontaminate_stats``); also verified by tests/test_sparse.py against
an independent pure-Python/numpy reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_tf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, t, tf): per-document counts of xxhash64-hashed whitespace
    tokens — the base relation of the whole lexical family (TF-IDF
    weights and cosine pairs, BM25). Token strings are hashed to longs
    in the same projection that tokenizes, so no string ever reaches a
    shuffle. Hash family is xxhash64, NOT the portable md5 anchor
    (r18 optimization round): every consumer uses ``t`` as an identity
    key only (tf/df grouping, term joins) and no gated output carries
    the value, so the md5 string build was pure Spark-side CPU — the
    shingle_hashes rule (operators/dedup.py). 64-bit collisions are
    noise at any realistic vocabulary. Query-side relations that join
    on ``t`` (bm25_topk's query terms) must use the same family."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda t: F.xxhash64(t),
            )
        ).alias("t"),
    )
    return toks.groupBy("id", "t").agg(F.count("*").alias("tf"))


def tfidf_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    df_cap: int = 50,
    tf: DataFrame | None = None,
) -> DataFrame:
    """(id, term hash ``t``, weight ``w``) with w = tf · idf,
    idf = ln((N+1)/(df+1)) + 1 (smoothed; exact-integer inputs so both
    engines/references compute identical doubles), stop-terms with
    df > df_cap dropped. Pass a precomputed :func:`term_tf` relation via
    ``tf`` to share the tokenize+hash pass across consumers (see
    plans/sparse.shared_term_tf)."""
    if tf is None:
        tf = term_tf(df, id_col, text_col)
    # document frequency per term + corpus size as a 1-row broadcast
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    return (
        tf.join(dfreq.filter(F.col("df") <= df_cap), "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "t",
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs") + 1).cast("double")
                        / (F.col("df") + 1).cast("double")
                    )
                    + 1.0
                )
            ).alias("w"),
        )
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    df_cap: int = 50,
    tf: DataFrame | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with TF-IDF cosine ≥ threshold:
    (id_a, id_b, cosine). Pairs are generated ONLY through shared
    surviving terms (term-key self-join) — disjoint-vocabulary docs are
    never considered. ``tf`` optionally shares a precomputed
    :func:`term_tf` relation."""
    w = tfidf_weights(df, id_col, text_col, df_cap=df_cap, tf=tf)
    norms = w.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(F.col("id").alias("id_a"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("id").alias("id_b"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def sparse_cosine_topk_per_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    df_cap: int = 50,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Top-k most-similar partners per document (row_number over the
    symmetric pair relation; ties broken by partner id for a total
    order). ``pairs`` optionally shares a precomputed THRESHOLD-0
    (id_a, id_b, cosine) relation — top-k needs the unthresholded
    pairs, so a thresholded relation here would silently drop
    partners."""
    if pairs is None:
        pairs = sparse_cosine_pairs(
            df, id_col, text_col, threshold=0.0, df_cap=df_cap
        )
    sym = pairs.select(
        F.col("id_a").alias("id"),
        F.col("id_b").alias("partner"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("id"),
            F.col("id_a").alias("partner"),
            "cosine",
        )
    )
    win = Window.partitionBy("id").orderBy(F.desc("cosine"), "partner")
    return (
        sym.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select("id", "partner", "cosine", "rnk")
    )


def bloom_blocks(
    df: DataFrame,
    group_col: str,
    text_col: str,
    m_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Per-group token Bloom filter as RELATIONAL DATA: one row per
    (group, block) with a 64-bit block of the bitmap, built with plain
    aggregates (``bit_or`` of ``1 << bit``) — no UDF, no driver state.
    Mergeable by construction: union of groups = ``bit_or`` of their
    block rows; a corpus-wide filter is one more groupBy. ``n_hashes``
    positions per token come from disjoint slices of the portable md5.

    The fourth sketch family (HLL = cardinality, quantiles, count-min =
    frequency, Bloom = MEMBERSHIP/overlap): at 100 TB the per-group
    bitmap rows are KiB-scale regardless of corpus size, and overlap
    questions (shared-vocabulary between sources/shards) become a
    block-equi-join + ``bit_count`` instead of a token-level join.
    Registered as ``bloom_vocab_overlap`` (with
    :func:`bloom_pairwise_overlap`)."""
    if not 1 <= n_hashes <= 4:
        # md5 hex is 32 chars; position i uses the 8-char slice at
        # offset 8·i, so a 5th hash would slice past the digest and
        # conv() NULLs would silently weaken the filter (r6 ADVICE).
        raise ValueError(
            f"n_hashes must be in [1, 4] (md5 yields four disjoint "
            f"32-bit slices), got {n_hashes}"
        )
    n_blocks = m_bits // 64
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("t"),
    )
    hx = F.md5(F.col("t"))
    positions = F.array(
        *[
            F.conv(F.substring(hx, 1 + 8 * i, 8), 16, 10).cast("long")
            % m_bits
            for i in range(n_hashes)
        ]
    )
    bits = toks.select("g", F.explode(positions).alias("pos")).select(
        "g",
        (F.col("pos") / 64).cast("int").alias("block"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "bitval"
        ),
    )
    return (
        bits.groupBy("g", "block")
        .agg(F.bit_or("bitval").alias("bits"))
        .withColumn("m_bits", F.lit(m_bits))
        .withColumn("n_blocks", F.lit(n_blocks))
    )


def bloom_pairwise_overlap(blocks: DataFrame) -> DataFrame:
    """Pairwise Bloom statistics between groups from a
    :func:`bloom_blocks` relation: (g_a, g_b, bits_a, bits_b,
    inter_bits) where inter_bits = popcount of the blockwise AND — the
    raw ingredients of the standard Bloom intersection estimate. One
    equi-join on the block index (never on tokens), then a per-pair
    aggregate of ``bit_count``."""
    a = blocks.select(
        F.col("g").alias("g_a"), "block", F.col("bits").alias("ba")
    )
    b = blocks.select(
        F.col("g").alias("g_b"), "block", F.col("bits").alias("bb")
    )
    return (
        a.join(b, "block")
        .filter(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(
            F.sum(F.bit_count("ba")).alias("bits_a_in_shared_blocks"),
            F.sum(F.bit_count("bb")).alias("bits_b_in_shared_blocks"),
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb")))).alias(
                "inter_bits"
            ),
        )
    )


def gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, h) rows: one per DISTINCT word n-gram per document, hashed
    to a 64-bit long — the shared shingle relation under detection
    (plans/text.py:benchmark_contamination), removal
    (:func:`decontaminate`), and the residual-0 gate. Hash family is
    xxhash64 over the per-token xxhash64 array (the shingle_hashes
    construction, operators/dedup.py), NOT the md5 anchor the oracles
    replay: every consumer uses ``h`` as an identity key only (census
    counts, the bench-gram join) and no gated output carries the value,
    so the md5 string build was pure Spark-side CPU (r18 optimization
    round; 64-bit collisions are noise at any realistic gram
    vocabulary). Grams build inline in the generator select (the
    measured fusion rule — see PLANS.md 'Generator fusion'); docs
    shorter than ``n`` tokens emit no rows."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda t: F.xxhash64(t),
        ).alias("hl"),
    )
    g = F.when(
        F.size("hl") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("hl") - (n - 1)),
            lambda i: F.xxhash64(
                *[F.element_at("hl", i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return hashed.select("id", F.explode(F.array_distinct(g)).alias("h"))


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    docs_grams: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
    contaminated_ids: DataFrame | None = None,
) -> DataFrame:
    """Remove training documents sharing an exact word n-gram with a
    benchmark set — the REMOVAL stage on top of the detection query
    (plans/text.py:benchmark_contamination): returns ``docs`` minus the
    contaminated rows via a LEFT ANTI join on the gram hash match.

    ``bench`` needs the same (id, text) columns; its grams build with
    the identical xxhash64 shingle_hashes convention (r18: identity-only
    keys — the hash values never reach a gated output, only gram
    EQUALITY is consumed), so detection and removal can never disagree.
    Scale: bench grams broadcast (the eval suites are
    small by nature), corpus grams stream map-side; the anti join keeps
    only never-matching doc ids — one distinct-doc shuffle, no corpus
    text ever moves for the decision. Gated as ``decontaminate_stats``
    (count gates + a literal-0 residual overlap, the pii residual-0
    contract)."""

    # callers holding a session-shared (id, h) gram relation (see
    # plans/sparse.shared_gram5) pass the pre-split legs in; the hashes
    # are the same xxhash64 identity convention either way. Callers that
    # already materialized the (tiny) contaminated-id relation — the
    # decontaminate_stats gate shares it with its residual audit — pass
    # it as ``contaminated_ids`` (one column, the doc id) and skip the
    # gram build here entirely.
    if contaminated_ids is None:
        if bench_grams is None:
            bench_grams = (
                gram_hashes(bench, id_col, text_col, n).select("h").distinct()
            )
        if docs_grams is None:
            docs_grams = gram_hashes(docs, id_col, text_col, n)
        contaminated_ids = (
            docs_grams.join(F.broadcast(bench_grams), "h")
            .select("id")
            .distinct()
        )
    elif len(contaminated_ids.columns) != 1:
        raise ValueError(
            "contaminated_ids must have exactly one column (the doc id), "
            f"got {contaminated_ids.columns}"
        )
    contaminated = contaminated_ids.select(
        F.col(contaminated_ids.columns[0]).alias("id")
    )
    return docs.join(
        contaminated, docs[id_col] == contaminated["id"], "left_anti"
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[int, str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 ranked retrieval over the corpus for a small fixed
    query set — the search primitive on top of the same hashed-term
    inverted index the TF-IDF family builds: per-(query, doc) score

        Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)

    with top-``k`` docs per query (ties broken by doc id). ``queries``
    maps query_id → whitespace-separated terms; duplicate terms in one
    query count once (standard bag-of-query-terms BM25 uses qtf — for
    the analytics gate the set form keeps the oracle one DISTINCT).

    Scale: the index side is (doc, term-hash, tf) + a broadcast
    df/N/avgdl statistics relation; the query side is tiny by nature →
    broadcast hash join against the tf stream, one aggregation per
    (query, doc), one top-k window per query. Term STRINGS never
    shuffle (md5 → long, the portable anchor); the corpus text is read
    exactly once."""
    from pyspark.sql import Window

    if tf is None:
        # FOUR consumers read tf (scored join, dl, dfreq, n_toks); the
        # r10 "token-proportional relations recompute faster than they
        # checkpoint" rule is for 2 consumers — at 4, one materialized
        # build beats four tokenize+hash+agg passes (measured at the
        # 10x scale point, round 12; the index build was the bm25 tail)
        tf = term_tf(df, id_col, text_col).localCheckpoint(eager=False)

    # dl (tokens per doc, with multiplicity) and n_toks are exact-integer
    # rollups of tf — a shared tf relation replaces the token scan for
    # ALL of them, not just the tf legs. dfreq stays the FULL-vocabulary
    # aggregation: the query-term prefilter variant (dfreq computed from
    # tf semi-joined to the 9 query-term hashes — value-identical, and
    # the scale-favored shape) measured 0.4-0.5 s SLOWER at sf0.1 in a
    # same-session A/B (1.42-1.60 s vs 1.88-2.16 s): the extra
    # broadcast-exchange wave over the checkpointed index costs more
    # than the full-vocab partial agg saves at this data size (r18
    # optimization round, measured and rejected; re-evaluate if the df
    # census ever shows up in a scale-point profile).
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    stats = df.agg(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    ).crossJoin(tf.agg(F.sum("tf").alias("n_toks")))

    qrows = [(qid, term) for qid, q in queries.items() for term in set(q.split())]
    # same hash family as term_tf (xxhash64), or the index join is empty
    qdf = (
        df.sparkSession.createDataFrame(qrows, "q_id long, term string")
        .select("q_id", F.xxhash64("term").alias("t"))
        .distinct()
    )

    avgdl = F.col("n_toks").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + F.lit(k1) * (
        1.0 - F.lit(b) + F.lit(b) * F.col("dl") / avgdl
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom

    scored = (
        tf.join(F.broadcast(qdf), "t")
        .join(dfreq, "t")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "id")
        .agg(F.sum(contrib).alias("score"))
    )
    win = Window.partitionBy("q_id").orderBy(F.desc("score"), "id")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select("q_id", "id", "score", "rnk")
    )
