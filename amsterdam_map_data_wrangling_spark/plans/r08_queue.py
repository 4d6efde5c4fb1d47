r"""24 (build, oracle) pairs kept in the ``QUEUE`` dict and registered
into the catalog at import (``_register`` at the bottom of the module).
Like every registered query, each one is compared with DuckDB by the two
oracle sweeps (tests/test_queries_oracle.py at sf0.01,
tests/test_queries_oracle_small_sf.py at sf0.001);
tests/test_r08_queue_edges.py runs a robustness sweep over ``QUEUE``.

Float-gate conventions as the registered catalog (plans/catalog.py
module docstring); the exactness DESIGN choices specific to this queue
(Spearman-over-Pearson, Simpson-over-Shannon, integer-KS, per-cell
chi2, corpus-relative A/B cut, bin-length log2) are tabulated in
PLANS.md "r08 queue — design choices".
"""

from __future__ import annotations

from pyspark.sql import functions as F

#: deterministic 80/10/10 split on the portable hash — the dataset-split
#: stage every training pipeline runs; retry-stable like the samplers.
SPLIT_ORACLE = """
    WITH keyed AS (
      SELECT source,
             ('0x' || substr(md5('split|spark-graft|'
               || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM keyed GROUP BY source, split
"""


def split_build(spark, sf_dir):
    """Deterministic hash train/val/test split, counted per source: the
    portable md5 bucket means the SAME document lands in the same split
    on any engine, any retry, any cluster size — the reproducibility
    property random splits lack. Scale: a narrow map + one (source,
    split) aggregation; no data movement beyond the count shuffle."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("split"),
                        F.lit("spark-graft"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        documents.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


#: per-label centroid of the embedding corpus with EXACT-INT arithmetic:
#: components quantize (floor(x*1000 + 0.5) — the similarity family's
#: portable anchor), per-(label, dim) integer sums are exact, and the
#: single division per output value is correctly-rounded IEEE → both
#: engines emit identical doubles (rounded to 6 anyway).
CENTROID_ORACLE = """
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), comp AS (
      SELECT label, d.i,
             CAST(floor(v[d.i] * 1000 + 0.5) AS BIGINT) AS q
      FROM e, unnest(range(1, 65)) AS d(i)
    )
    SELECT label, CAST(i AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000.0,
                 6) AS mean_r
    FROM comp GROUP BY label, i
"""


def centroid_build(spark, sf_dir):
    """Per-label embedding centroids in long (label, dim) form — the
    class-prototype builder (nearest-centroid classification, cluster
    drift monitoring). Components quantize to exact ints BEFORE the
    sum so the aggregation is accumulation-order-free; one division at
    the end. Scale: posexplode is a narrow map; one (label, dim)
    aggregation — 64·|labels| output rows regardless of corpus size."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    comp = embeddings.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "x"
        ),
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("x") * 1000 + 0.5).cast("long").alias("q"),
    )
    return comp.groupBy("label", "i").agg(
        F.count("*").alias("n"), F.sum("q").alias("sq")
    ).select(
        "label",
        F.col("i").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("sq").cast("double") / F.col("n") / 1000.0, 6
        ).alias("mean_r"),
    )


QUEUE = {
    "dataset_split_stats": (split_build, SPLIT_ORACLE),
    "embedding_label_centroids": (centroid_build, CENTROID_ORACLE),
}


def _recall_curve_oracle() -> str:
    """Composed DuckDB replay: the portable MinHash→LSH candidate
    relation (the dedup_minhash_portable_pairs algebra over a smaller
    1-in-20 corpus) LEFT-joined under the exact w=3 Jaccard pair
    relation, rolled up to (threshold, n_exact, n_recalled) — the
    recall curve that turns the pytest-only recall property into a
    value-gated artifact."""
    k, bands = 8, 4
    r = k // bands
    sig_mins = ",\n           ".join(
        f"min(({a} * h + {b}) % 2147483647) AS h{i}"
        for i, (a, b) in enumerate(
            zip((7, 13, 31, 67, 127, 257, 521, 1031),
                (3, 5, 11, 17, 23, 41, 83, 163))
        )
        if i < k
    )
    band_cases = " ".join(
        "WHEN {idx} THEN {concat}".format(
            idx=b,
            concat=" || '|' || ".join(
                f"h{b * r + j}::VARCHAR" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
    ), toks AS (
      SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS l
      FROM corpus
    ), sh AS (
      SELECT DISTINCT id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      FROM toks, unnest(range(1, len(l) - 1)) AS r(i)
      WHERE len(l) >= 3
    ), hashed AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
      FROM sh
    ), sig AS (
      SELECT id,
           {sig_mins}
      FROM hashed GROUP BY id
    ), banded AS (
      SELECT id, {", ".join(f"h{i}" for i in range(k))}, band_idx,
             ('0x' || substr(md5(CASE band_idx {band_cases} END), 1, 15))::BIGINT
               AS band_hash
      FROM sig, (VALUES {", ".join(f"({b})" for b in range(bands))}) bi(band_idx)
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx
                   AND a.band_hash = b.band_hash
                   AND a.id < b.id
    ), rare AS (
      SELECT id, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                        HAVING COUNT(*) <= 50)
    ), sizes AS (SELECT id, COUNT(*) AS n_sh FROM rare GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ), exact AS (
      SELECT id_a, id_b,
             round(CAST(n_inter AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - n_inter), 4) AS jac
      FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
    ), flagged AS (
      SELECT e.jac,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN cand c
        ON c.id_a = e.id_a AND c.id_b = e.id_b
    )
    SELECT t.tp, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_recalled
    FROM flagged, (VALUES (30), (50), (70)) t(tp)
    WHERE jac >= t.tp / 100.0
    GROUP BY t.tp
"""


def recall_curve_build(spark, sf_dir):
    """LSH recall curve: exact w=3 Jaccard pairs vs the portable
    MinHash banding candidates on the same corpus, rolled up per
    threshold — turns the suite's recall PROPERTY into a value-gated
    driver artifact. Scale: both relations are the already-bounded
    blocking outputs; the rollup is a 3-row threshold fan-out."""
    from amsterdam_map_data_wrangling_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_portable,
        ngram_jaccard_pairs,
        shingles,
    )
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")
    subset = documents.filter(F.col("doc_id") % 20 == 0)
    corpus = subset.unionByName(
        subset.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).localCheckpoint(eager=False)  # feeds candidates AND exact pairs
    cand = lsh_candidate_pairs(
        minhash_signatures_portable(shingles(corpus, "doc_id", "text", 3), 8),
        k=8,
        bands=4,
        portable=True,
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    exact = ngram_jaccard_pairs(
        corpus, "doc_id", "text", w=3, threshold=0.3, df_cap=50
    )
    thresholds = documents.sparkSession.createDataFrame(
        [(30,), (50,), (70,)], "tp int"
    )
    flagged = exact.join(cand, ["id_a", "id_b"], "left").select(
        "jaccard", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    return (
        flagged.crossJoin(F.broadcast(thresholds))
        .filter(F.col("jaccard") >= F.col("tp") / 100.0)
        .groupBy("tp")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum("hit").cast("bigint").alias("n_recalled"),
        )
    )


QUEUE["minhash_recall_curve"] = (recall_curve_build, _recall_curve_oracle())


#: cluster-SIZE distribution of the near-dup graph — the dedup QA
#: rollup on top of connected components ("how big do duplicate groups
#: get" decides salting/keep policies before a 100 TB run); singleton
#: documents (no near-dup edge) are counted explicitly so the histogram
#: covers the whole corpus, not just the edge-touched minority.
#: shared candidate-pair CTE (df-capped 5-gram shingle blocking +
#: exact Jaccard >= 0.5) — the oracle twin of
#: operators.dedup.ngram_jaccard_pairs, reused by every graph-rollup
#: gate in this queue.
_NGRAM_PAIRS_CTE = (
    "WITH RECURSIVE toks AS ("
    r"""
      SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS l
      FROM documents
    ), sh AS (
      SELECT DISTINCT id,
             l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                  || ' ' || l[i+4] AS shingle
      FROM toks, unnest(range(1, len(l) - 3)) AS r(i)
      WHERE len(l) >= 5
    ), rare AS (
      SELECT id, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                        HAVING COUNT(*) <= 50)
    ), sizes AS (SELECT id, COUNT(*) AS n_sh FROM rare GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    )"""
)


CLUSTER_HIST_ORACLE = (
    _NGRAM_PAIRS_CTE
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
    ), walk(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    ), comp AS (
      SELECT id, min(label) AS cluster_id FROM walk GROUP BY id
    ), csz AS (
      SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id
    ), hist AS (
      SELECT sz, COUNT(*) AS n_clusters FROM csz GROUP BY sz
      UNION ALL
      SELECT 1 AS sz,
             (SELECT COUNT(*) FROM documents)
               - (SELECT COUNT(*) FROM comp) AS n_clusters
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
    FROM hist GROUP BY sz
"""
)


def cluster_hist_build(spark, sf_dir):
    """Cluster-size histogram over the near-dup components, singletons
    included: composes connected_components with two rollups — the
    report that sizes the keep-canonical stage. Scale: both rollups run
    on the component relation (|edge-touched docs| rows); the singleton
    count is corpus_count − component_count, two scalars."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        shared_jaccard_components,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    # the component relation is the session-shared one (see
    # plans/dedup.py:_GRAPH_MEMO) — already checkpoint-backed, and the
    # same labels dedup_clusters / dedup_keep_canonical read
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        SHARED_PAIRS_CONSUMER_THRESHOLDS,
    )

    comp = shared_jaccard_components(
        spark,
        sf_dir,
        w=5,
        threshold=SHARED_PAIRS_CONSUMER_THRESHOLDS["cluster_hist (r08_queue)"],
        df_cap=50,
    )
    csz = comp.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    hist = csz.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    singles = (
        documents.agg(F.count("*").alias("n_docs"))
        .crossJoin(comp.agg(F.count("*").alias("n_comp")))
        .select(
            F.lit(1).cast("bigint").alias("sz"),
            (F.col("n_docs") - F.col("n_comp")).alias("n_clusters"),
        )
    )
    return (
        hist.unionByName(singles)
        .groupBy("sz")
        .agg(F.sum("n_clusters").cast("bigint").alias("n_clusters"))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"), "n_clusters"
        )
    )


# dedup_cluster_size_hist — RETIRED from the gate registry at round 18
# (saturation-policy retirement batch). Lowest marginal evidence in
# the dedup-graph family: a two-rollup histogram over the SAME
# session-shared component relation the still-gated dedup_clusters /
# dedup_keep_canonical / near_dup_pagerank value-gate (r17 green) —
# the component labels it aggregates are hash-verified there. Full
# oracle compare lives on in tests/test_retired.py.
CLUSTER_HIST_RETIRED = (cluster_hist_build, CLUSTER_HIST_ORACLE)


#: first-order event-transition counts — the Markov-chain feature
#: builder for behavioral sequences (and the input to transition-matrix
#: anomaly checks); within-user ordering pinned by the catalog's total
#: (ts, event_id) order so lag() is deterministic on both engines.
TRANSITION_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, next
"""


def transition_build(spark, sf_dir):
    """First-order transition counts between consecutive events per
    user: one lag() window over the (ts, event_id) total order, one
    (prev, next) aggregation. Scale: one user-key shuffle for the
    window; the output is |event_types|² rows regardless of data."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("next"),
        F.lag("event_type").over(w).alias("prev"),
    )
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


QUEUE["event_transition_counts"] = (transition_build, TRANSITION_ORACLE)


#: SCD2 (slowly-changing-dimension, type 2) build from the event log:
#: every event opens a validity interval on its user's "current state"
#: and the next event (ts, event_id order) closes it — lead() IS the
#: valid_to assignment. Durations in EXACT integer microseconds
#: (unix_micros / epoch_us, the gap_sessionization idiom) so every sum
#: is order-free.
SCD2_ORACLE = """
    WITH h AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN next_us IS NOT NULL THEN next_us - us
                         ELSE 0 END) AS BIGINT) AS total_state_us
    FROM h GROUP BY event_type
"""


def scd2_build(spark, sf_dir):
    """SCD2 dimension build: each event opens a per-user state interval,
    closed by the user's next event (valid_to = lead(ts)); open
    intervals are the is_current rows. Audited per state: interval
    count, open count, total dwell time. Scale: ONE user_id shuffle for
    the lead() window, then a per-state partial agg — the standard
    change-capture → dimension shape, no state store needed in batch."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    h = events.select(
        "event_type",
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    )
    return h.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum(F.when(F.col("next_us").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_open"),
        F.sum(
            F.when(
                F.col("next_us").isNotNull(),
                F.col("next_us") - F.col("us"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("total_state_us"),
    )


QUEUE["scd2_state_durations"] = (scd2_build, SCD2_ORACLE)


#: weekly cohort-retention matrix — cohort = the user's first active
#: week (Monday-truncated, both engines); cell = distinct users of that
#: cohort active N weeks later. Pure integer arithmetic: week deltas
#: are exact epoch-day differences divided by 7 (both week-starts are
#: Mondays, so the quotient is exact).
COHORT_ORACLE = """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                  AS BIGINT) AS days_since
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, days_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_day, days_since
"""


def cohort_build(spark, sf_dir):
    """Daily cohort-retention matrix: users bucketed by first-active
    day; each cell counts the cohort's distinct users active N days on.
    The growth-analytics staple, in pure integer day arithmetic (UTC
    date casts on both engines). Scale: one user_id agg for the cohort
    assignment, one equi-join back (AQE broadcasts the |users|-row side
    when small, shuffles when not), one DISTINCT — output is |cohort
    days| x |day offsets|, constant in corpus size."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    firsts = events.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    act = (
        events.select("user_id", day.alias("d"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day"))
            .cast("bigint")
            .alias("days_since"),
        )
        .distinct()
    )
    return act.groupBy("cohort_day", "days_since").agg(
        F.count("*").cast("bigint").alias("n_users")
    ).select(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        "days_since",
        "n_users",
    )


QUEUE["cohort_retention"] = (cohort_build, COHORT_ORACLE)


#: Kolmogorov–Smirnov drift statistic between the hash-split train and
#: holdout n_chars distributions, computed EXACTLY: D = max |ECDF_a -
#: ECDF_b| evaluated on distinct values, carried as the integer
#: numerator |cum_a*n_b - cum_b*n_a| until one final correctly-rounded
#: division. The train/test leakage + drift check every dataset release
#: should run.
KS_ORACLE = """
    WITH keyed AS (
      SELECT n_chars,
             CASE WHEN ('0x' || substr(md5('split|spark-graft|'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
                  THEN 1 ELSE 0 END AS is_train
      FROM documents
    ), cnt AS (
      SELECT n_chars, SUM(is_train) AS ca, SUM(1 - is_train) AS cb
      FROM keyed GROUP BY n_chars
    ), cum AS (
      SELECT SUM(ca) OVER (ORDER BY n_chars) AS cuma,
             SUM(cb) OVER (ORDER BY n_chars) AS cumb
      FROM cnt
    ), tot AS (
      SELECT CAST(SUM(is_train) AS BIGINT) AS na,
             CAST(SUM(1 - is_train) AS BIGINT) AS nb
      FROM keyed
    )
    SELECT t.na AS n_train, t.nb AS n_holdout,
           CAST(MAX(abs(c.cuma * t.nb - c.cumb * t.na)) AS BIGINT)
             AS d_num,
           CASE WHEN t.na = 0 OR t.nb = 0 THEN NULL
                ELSE round(CAST(MAX(abs(c.cuma * t.nb - c.cumb * t.na))
                                AS BIGINT)
                     / (CAST(t.na AS DOUBLE) * t.nb), 6)
           END AS ks_d
    FROM cum c, tot t GROUP BY t.na, t.nb
"""


def ks_build(spark, sf_dir):
    """Exact two-sample KS statistic between the deterministic train
    split and its holdout, on the n_chars distribution. ECDFs only step
    at sample points, so evaluating on distinct values is exact; the
    statistic stays an integer (|cum_a*n_b - cum_b*n_a|) until the last
    division. Scale: the cumulative window runs on the DISTINCT-VALUE
    relation (bounded domain, not corpus rows) — the single-partition
    window is over |distinct n_chars| rows only; everything upstream is
    one narrow map + one value agg."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("split"),
                        F.lit("spark-graft"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    keyed = documents.select(
        "n_chars",
        F.when(bucket < 80, 1).otherwise(0).alias("is_train"),
    )
    cnt = keyed.groupBy("n_chars").agg(
        F.sum("is_train").alias("ca"),
        F.sum(F.lit(1) - F.col("is_train")).alias("cb"),
    )
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select(
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    tot = keyed.agg(
        F.sum("is_train").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("is_train")).cast("bigint").alias("nb"),
    )
    d = cum.crossJoin(tot).select(
        "na",
        "nb",
        F.abs(
            F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
        ).alias("absdiff"),
    )
    return d.groupBy("na", "nb").agg(
        F.max("absdiff").cast("bigint").alias("d_num")
    ).select(
        F.col("na").alias("n_train"),
        F.col("nb").alias("n_holdout"),
        "d_num",
        F.when(
            (F.col("na") == 0) | (F.col("nb") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.col("d_num")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            )
        )
        .alias("ks_d"),
    )


QUEUE["ks_split_drift"] = (ks_build, KS_ORACLE)


#: chi-square independence audit of event_type x ISO weekday — per-cell
#: observed/expected/contribution. Every input to the float math is an
#: exact integer, and the float path is exclusively IEEE basic ops
#: (one division for e, sub/mul/div for the contribution — NO pow(), no
#: libm transcendentals), so both engines emit bit-identical doubles.
#: Weekday via Spark weekday(date) == DuckDB isodow(date) - 1 (Monday=0)
#: on UTC-cast dates.
CHI2_ORACLE = """
    WITH base AS (
      SELECT event_type, isodow(CAST(ts AS DATE)) - 1 AS wd FROM events
    ), o AS (
      SELECT event_type, wd, COUNT(*) AS n FROM base GROUP BY event_type, wd
    ), r AS (
      SELECT event_type, COUNT(*) AS n_row FROM base GROUP BY event_type
    ), c AS (
      SELECT wd, COUNT(*) AS n_col FROM base GROUP BY wd
    ), t AS (SELECT COUNT(*) AS n_total FROM base)
    SELECT o.event_type, CAST(o.wd AS BIGINT) AS weekday,
           CAST(o.n AS BIGINT) AS n_obs,
           round(CAST(r.n_row * c.n_col AS DOUBLE) / t.n_total, 6)
             AS expected_r,
           round(((o.n - CAST(r.n_row * c.n_col AS DOUBLE) / t.n_total)
                  * (o.n - CAST(r.n_row * c.n_col AS DOUBLE) / t.n_total))
                 / (CAST(r.n_row * c.n_col AS DOUBLE) / t.n_total), 6)
             AS chi2_term_r
    FROM o
    JOIN r ON o.event_type = r.event_type
    JOIN c ON o.wd = c.wd
    CROSS JOIN t
"""


def chi2_build(spark, sf_dir):
    """Chi-square independence audit (event_type x weekday): per-cell
    observed count, expected count under independence, and the cell's
    chi2 contribution — the data-quality check for 'is activity mix
    stable across the week'. Exact-int margins; float path is IEEE
    basic ops only (no pow/ln), so cross-engine bit-stable. Scale: one
    pass builds all four margins (cells, rows, cols, total are
    aggregations of the same narrow projection); the joins stitch
    |types| x 7 rows — broadcast territory by construction."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    base = events.select(
        "event_type", F.weekday(F.col("ts").cast("date")).alias("wd")
    )
    o = base.groupBy("event_type", "wd").agg(F.count("*").alias("n"))
    r = base.groupBy("event_type").agg(F.count("*").alias("n_row"))
    c = base.groupBy("wd").agg(F.count("*").alias("n_col"))
    t = base.agg(F.count("*").alias("n_total"))
    e = (F.col("n_row") * F.col("n_col")).cast("double") / F.col("n_total")
    d = F.col("n") - e
    return (
        o.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "wd")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("wd").cast("bigint").alias("weekday"),
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(e, 6).alias("expected_r"),
            F.round((d * d) / e, 6).alias("chi2_term_r"),
        )
    )


QUEUE["chi2_type_weekday"] = (chi2_build, CHI2_ORACLE)


#: pairwise vocabulary Jaccard between sources — corpus-mix comparison
#: on EXACT distinct-token sets (the catalog's whitespace tokenization);
#: the only float is one division of exact integers.
VOCAB_JACCARD_ORACLE = r"""
    WITH toks AS (
      SELECT DISTINCT source, unnest(string_split_regex(trim(text),
                                     '\s+')) AS term
      FROM documents
    ), sizes AS (
      SELECT source, COUNT(*) AS nv FROM toks GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS ninter
      FROM toks a JOIN toks b
        ON a.term = b.term AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(sa.nv AS BIGINT) AS n_vocab_a,
           CAST(sb.nv AS BIGINT) AS n_vocab_b,
           CAST(i.ninter AS BIGINT) AS n_shared,
           round(CAST(i.ninter AS BIGINT)
                 / CAST(sa.nv + sb.nv - i.ninter AS DOUBLE), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
"""


def vocab_jaccard_build(spark, sf_dir):
    """Pairwise vocabulary overlap (exact Jaccard on distinct-token
    sets) between sources — the corpus-mix diff for dataset curation
    ('how much does crawl A's vocabulary overlap crawl B's?'). Scale:
    vocab grows sublinearly in corpus size (Heaps' law) so the distinct
    (source, term) relation is the small derived set; the term
    self-join is bounded by |sources| per term bucket and never touches
    document text. Pairs with zero shared vocabulary drop out (inner
    join) on both engines."""
    from amsterdam_map_data_wrangling_spark.functions.text import tokens
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")
    toks = (
        documents.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = toks.groupBy("source").agg(F.count("*").alias("nv"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("ninter"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("nv").alias("nva")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("nv").alias("nvb")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("nva").cast("bigint").alias("n_vocab_a"),
            F.col("nvb").cast("bigint").alias("n_vocab_b"),
            F.col("ninter").cast("bigint").alias("n_shared"),
            F.round(
                F.col("ninter").cast("bigint")
                / (F.col("nva") + F.col("nvb") - F.col("ninter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


QUEUE["vocab_jaccard_sources"] = (vocab_jaccard_build, VOCAB_JACCARD_ORACLE)


#: equal-frequency (decile) binning of event values per type — the
#: feature-quantization staple. ntile() is identical standard SQL on
#: both engines; bin min/max are raw stored doubles (NO arithmetic), so
#: the gate is float-exact by construction. Tie-break (value, event_id)
#: makes the assignment a total order.
DECILE_ORACLE = """
    WITH binned AS (
      SELECT event_type, value,
             ntile(10) OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM binned GROUP BY event_type, decile
"""


def decile_build(spark, sf_dir):
    """Equal-frequency decile binning per event_type (feature
    quantization): ntile(10) over the (value, event_id) total order,
    then per-bin count and raw min/max boundaries — no float
    arithmetic at all, so the bin edges are bit-exact. Scale: one
    event_type shuffle shared by the window and the aggregation;
    at 100 TB swap ntile for approx-percentile cut points (the sketch
    family) — this exact form is the small-dim / per-group path."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    binned = events.select(
        "event_type", "value", F.ntile(10).over(w).alias("decile")
    )
    return binned.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    ).select(
        "event_type",
        F.col("decile").cast("bigint").alias("decile"),
        "n",
        "lo",
        "hi",
    )


QUEUE["equal_freq_deciles"] = (decile_build, DECILE_ORACLE)


#: lag-1 SPEARMAN autocorrelation of daily order revenue — rank form
#: chosen over Pearson deliberately: ranks are bounded by the calendar
#: (|days| stays ~2.4k at ANY scale factor), so every intermediate is
#: an exact small integer and the statistic cannot drift when raw
#: day-revenue magnitudes blow past 2^53 at 100 TB. rho = 1 -
#: 6*sum(d^2)/(n*(n^2-1)), ties broken by date (documented total order).
SPEARMAN_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate
    ), pairs AS (
      SELECT day, cents AS x,
             lead(cents) OVER (ORDER BY day) AS y
      FROM daily
    ), p AS (SELECT day, x, y FROM pairs WHERE y IS NOT NULL
    ), ranked AS (
      SELECT row_number() OVER (ORDER BY x, day) AS rx,
             row_number() OVER (ORDER BY y, day) AS ry
      FROM p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           CASE WHEN COUNT(*) < 2 THEN NULL
                ELSE round(1.0
                     - CAST(6 * SUM((rx - ry) * (rx - ry)) AS BIGINT)
                     / (CAST(COUNT(*) AS DOUBLE)
                        * (COUNT(*) * COUNT(*) - 1)), 6)
           END AS spearman_rho
    FROM ranked
"""


def spearman_build(spark, sf_dir):
    """Lag-1 Spearman autocorrelation of the daily revenue series —
    'does a strong day predict the next?' in rank space. Rank form is
    the scale-proof choice: day count is calendar-bounded, so ranks and
    d^2 sums stay exact BIGINTs at any corpus size, where Pearson's raw
    sum-of-squares would leave 2^53 and pick up engine-ordered rounding.
    Scale: the day aggregation is the only data-sized shuffle; the
    lead/rank windows run on the |days|-row relation (bounded domain,
    single partition by construction)."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (orders,) = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    wd = Window.orderBy("day")
    p = (
        daily.select(
            "day",
            F.col("cents").alias("x"),
            F.lead("cents").over(wd).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    ranked = p.select(
        F.row_number().over(Window.orderBy("x", "day")).alias("rx"),
        F.row_number().over(Window.orderBy("y", "day")).alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
    ).select(
        "n_pairs",
        "sum_d2",
        F.when(F.col("n_pairs") < 2, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.lit(1.0)
                - (F.lit(6) * F.col("sum_d2")).cast("bigint")
                / (
                    F.col("n_pairs").cast("double")
                    * (F.col("n_pairs") * F.col("n_pairs") - 1)
                ),
                6,
            )
        )
        .alias("spearman_rho"),
    )


QUEUE["spearman_autocorr_daily_revenue"] = (spearman_build, SPEARMAN_ORACLE)


#: min-max feature scaling audit — per event_type quartile-bin counts of
#: the scaled value. The scaled value is (v - min)/(max - min): IEEE
#: sub/sub/div on identical stored doubles → bit-identical on both
#: engines; binning is floor(scaled*4) clamped to 3 (the scaled max
#: lands exactly on 1.0).
MINMAX_ORACLE = """
    WITH stats AS (
      SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY event_type
    ), scaled AS (
      SELECT e.event_type, s.mn, s.mx,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE LEAST(CAST(floor((e.value - s.mn) / (s.mx - s.mn)
                                        * 4) AS BIGINT), 3)
             END AS bin
      FROM events e JOIN stats s ON e.event_type = s.event_type
    )
    SELECT event_type, CAST(bin AS BIGINT) AS quartile_bin,
           CAST(COUNT(*) AS BIGINT) AS n, mn, mx
    FROM scaled GROUP BY event_type, bin, mn, mx
"""


def minmax_build(spark, sf_dir):
    """Min-max scaling audit per event_type: scale value to [0,1] with
    the group's own min/max (broadcast back), count rows per quartile of
    the scaled range, and carry the raw fit parameters (mn, mx — stored
    doubles, no arithmetic). The feature-scaling staple plus its skew
    report (uniform value -> ~equal bins; heavy tail -> bin 0 bulge).
    Degenerate groups (mx = mn) pin to bin 0 instead of dividing by
    zero. Scale: one tiny per-group stats agg broadcast back onto a
    narrow map — the value column shuffles once for the final count."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    scaled = events.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "mn",
        "mx",
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * 4
                ).cast("long"),
                F.lit(3).cast("long"),
            )
        )
        .alias("bin"),
    )
    return scaled.groupBy("event_type", "bin", "mn", "mx").agg(
        F.count("*").cast("bigint").alias("n")
    ).select(
        "event_type",
        F.col("bin").cast("bigint").alias("quartile_bin"),
        "n",
        "mn",
        "mx",
    )


QUEUE["minmax_scale_bins"] = (minmax_build, MINMAX_ORACLE)


#: per-source token-diversity profile. Simpson concentration (sum c^2 /
#: N^2) is chosen over Shannon entropy DELIBERATELY: it is a pure
#: exact-integer statistic (no ln(), whose last-ulp libm differences the
#: catalog documents avoiding), with the same curation signal —
#: boilerplate-heavy sources concentrate, diverse sources spread.
DIVERSITY_ORACLE = r"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents
    ), tc AS (
      SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           CAST(SUM(c * c) AS BIGINT) AS sum_c2,
           round(CAST(COUNT(*) AS BIGINT)
                 / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio,
           round(CAST(SUM(c * c) AS BIGINT)
                 / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6)
             AS simpson_concentration
    FROM tc GROUP BY source
"""


def diversity_build(spark, sf_dir):
    """Token-diversity profile per source: token count, vocabulary
    size, type-token ratio, and Simpson concentration (the probability
    two random tokens coincide — the log-free diversity index; its
    reciprocal is the 'effective vocabulary'). Scale: one (source,
    term) aggregation then a per-source rollup — vocabulary is the
    small Heaps-law relation; at extreme scale the c^2 of a 1e12-count
    stopword would need decimal widening, which the docstring flags
    rather than hides."""
    from amsterdam_map_data_wrangling_spark.functions.text import tokens
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")
    tc = (
        documents.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_vocab"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    ).select(
        "source",
        "n_tokens",
        "n_vocab",
        "sum_c2",
        F.round(
            F.col("n_vocab") / F.col("n_tokens").cast("double"), 6
        ).alias("type_token_ratio"),
        F.round(
            F.col("sum_c2")
            / (F.col("n_tokens").cast("double") * F.col("n_tokens")),
            6,
        ).alias("simpson_concentration"),
    )


QUEUE["token_diversity_by_source"] = (diversity_build, DIVERSITY_ORACLE)


#: nearest-centroid (Rocchio) confusion matrix — label vs predicted
#: label under the corpus's own per-label centroids. The whole chain is
#: the IVF family's engine-exact contract: int-quantized components,
#: int64 SUM centroids (cosine is scale-invariant, so never divided),
#: exact-integer dots/norms, one sqrt+mul+div of IEEE doubles; ties to
#: the lowest label on both engines.
CONFUSION_ORACLE = """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), comp AS (
      SELECT vec_id, label, d.i,
             CAST(floor(v[d.i] * 1000 + 0.5) AS BIGINT) AS q
      FROM e, unnest(range(1, 65)) AS d(i)
    ), cent AS (
      SELECT label AS c_label, i, CAST(SUM(q) AS BIGINT) AS s
      FROM comp GROUP BY label, i
    ), cn AS (
      SELECT c_label, CAST(SUM(s * s) AS BIGINT) AS n2
      FROM cent GROUP BY c_label
    ), qn AS (
      SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS qn2
      FROM comp GROUP BY vec_id
    ), dots AS (
      SELECT c.vec_id, c.label AS true_label, t.c_label,
             CAST(SUM(c.q * t.s) AS BIGINT) AS idot
      FROM comp c JOIN cent t ON c.i = t.i
      GROUP BY c.vec_id, c.label, t.c_label
    ), scored AS (
      SELECT d.vec_id, d.true_label, d.c_label,
             CAST(d.idot AS DOUBLE)
               / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
               AS sim
      FROM dots d
      JOIN qn q ON d.vec_id = q.vec_id
      JOIN cn n ON d.c_label = n.c_label
    ), pred AS (
      SELECT vec_id, true_label, c_label AS pred_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, c_label) AS rn
      FROM scored
    )
    SELECT true_label, CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY true_label, pred_label
"""


def confusion_build(spark, sf_dir):
    """Confusion matrix of nearest-centroid classification against the
    given labels — class-separation / label-noise audit for the
    embedding corpus (strong diagonal = separable classes). The Spark
    side runs operators.similarity.nearest_centroid_classify: ONE
    (label, dim) aggregation collects the bounded int64-sum centroids,
    then a zero-shuffle Arrow/numpy pass classifies the corpus (no join
    — the oracle's 64x comp-join formulation is the same arithmetic
    relationally). Output is |labels|^2 cells max."""
    from amsterdam_map_data_wrangling_spark.operators.similarity import (
        nearest_centroid_classify,
    )
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    labeled = nearest_centroid_classify(
        embeddings, "vec_id", "embedding", "label"
    )
    return labeled.groupBy(
        F.col("label").alias("true_label"), "pred_label"
    ).agg(F.count("*").cast("bigint").alias("n"))


QUEUE["nearest_centroid_confusion"] = (confusion_build, CONFUSION_ORACLE)


#: RFM customer segmentation on the orders table — recency in exact
#: days vs the corpus's max order date, frequency as order count,
#: monetary as exact integer cents; quartiles by ntile(4) under fully
#: tie-broken total orders ((metric, custkey)), so the segment
#: assignment is deterministic on both engines.
RFM_ORACLE = """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_day,
             COUNT(*) AS freq,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), anchored AS (
      SELECT o_custkey,
             date_diff('day', last_day,
                       (SELECT MAX(o_orderdate) FROM orders)) AS rec_days,
             freq, cents
      FROM per_cust
    ), scored AS (
      SELECT ntile(4) OVER (ORDER BY rec_days, o_custkey) AS r_q,
             ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
             ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q
      FROM anchored
    )
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_q, f_q, m_q
"""


def rfm_build(spark, sf_dir):
    """RFM (recency/frequency/monetary) segmentation: per-customer
    exact-integer metrics (days since last order vs the global max
    date; order count; cents), quartiled by ntile(4) with custkey
    tie-breaks, counted per segment cell (<= 64). Quartile 1 = best in
    each dimension (most recent / most frequent / highest spend).
    Scale: one custkey aggregation; the three ntile windows run on the
    |customers| relation — at 100 TB swap ntile for approx-percentile
    cut points, same downstream segment rollup."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (orders,) = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("max_day"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("max_day"), F.col("last_day")).alias("rec_days"),
        "freq",
        "cents",
    )
    scored = anchored.select(
        F.ntile(4)
        .over(Window.orderBy("rec_days", "o_custkey"))
        .alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("freq"), "o_custkey"))
        .alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("cents"), "o_custkey"))
        .alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("bigint").alias("n_customers")
    ).select(
        F.col("r_q").cast("bigint").alias("r_q"),
        F.col("f_q").cast("bigint").alias("f_q"),
        F.col("m_q").cast("bigint").alias("m_q"),
        "n_customers",
    )


QUEUE["rfm_segment_counts"] = (rfm_build, RFM_ORACLE)


#: referential-integrity + validity audit of the star schema — one row
#: per check, exact violation counts. The release gate every warehouse
#: load should run before publishing.
DQ_ORACLE = """
    SELECT 'orphan_lineitems' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'childless_orders',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orderless_customers',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'nonpositive_quantity',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'ship_before_order',
           CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey
                 WHERE l.l_shipdate < o.o_orderdate) AS BIGINT)
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
"""


def dq_build(spark, sf_dir):
    """Data-quality audit suite over the star schema: referential
    integrity (orphan lineitems, childless orders, orderless customers
    — LEFT ANTI joins) and validity invariants (non-positive
    quantities, ship-before-order, discount range), one exact
    count per check. Scale: each anti-join shuffles on its key (AQE
    broadcasts the smaller side); the validity scans are
    filter-pushdown counts; checks are independent jobs a scheduler
    can run in parallel."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    lineitem, orders, customer = _t(
        spark, sf_dir, "lineitem", "orders", "customer"
    )

    def one(name, df):
        return df.agg(F.count("*").cast("bigint").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphan = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"], "left_anti"
    )
    childless = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "left_anti"
    )
    orderless = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    nonpos = lineitem.filter(F.col("l_quantity") <= 0)
    ship_bad = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).filter(F.col("l_shipdate") < F.col("o_orderdate"))
    disc_bad = lineitem.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    )

    return (
        one("orphan_lineitems", orphan)
        .unionByName(one("childless_orders", childless))
        .unionByName(one("orderless_customers", orderless))
        .unionByName(one("nonpositive_quantity", nonpos))
        .unionByName(one("ship_before_order", ship_bad))
        .unionByName(one("discount_out_of_range", disc_bad))
    )


QUEUE["dq_audit_star"] = (dq_build, DQ_ORACLE)


#: degree distribution of the near-dup similarity graph — the skew
#: report for pair-generating stages (a power-law tail says salt the
#: bucket join before scaling up). Edge-touched nodes only (degree >= 1),
#: documented on both engines.
DEGREE_ORACLE = (
    _NGRAM_PAIRS_CTE
    + """, edges AS (
      SELECT id_a AS src FROM pairs
      UNION ALL SELECT id_b AS src FROM pairs
    ), deg AS (
      SELECT src, COUNT(*) AS degree FROM edges GROUP BY src
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
"""
)


def degree_hist_build(spark, sf_dir):
    """Degree histogram of the near-dup pair graph: how many documents
    participate in how many near-dup relations — the skew audit that
    decides whether the downstream component/keep stages need salting.
    Scale: degrees aggregate the PAIR relation (already df-capped and
    never quadratic), two tiny rollups; the corpus text never moves."""
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        shared_jaccard_pairs,
    )

    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        SHARED_PAIRS_CONSUMER_THRESHOLDS,
    )

    pairs = shared_jaccard_pairs(
        spark,
        sf_dir,
        w=5,
        threshold=SHARED_PAIRS_CONSUMER_THRESHOLDS["degree_hist (r08_queue)"],
        df_cap=50,
    )
    edges = pairs.select(F.col("id_a").alias("src")).unionByName(
        pairs.select(F.col("id_b").alias("src"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    ).select(F.col("degree").cast("bigint").alias("degree"), "n_nodes")


# neardup_degree_hist — RETIRED from the gate registry at round 18
# (same batch as dedup_cluster_size_hist above). A two-rollup degree
# histogram over the SAME df-capped pair relation the still-gated
# near_dup_transitivity / near_dup_pagerank value-gate (r17 green).
# Full oracle compare lives on in tests/test_retired.py.
DEGREE_HIST_RETIRED = (degree_hist_build, DEGREE_ORACLE)


#: grid-bucketed spatial radius join — the distributed spatial-join
#: shape (geohash/grid cell as the shuffle key, 3x3 neighborhood
#: candidate join, exact refine). Coordinates are DETERMINISTIC
#: synthetic integers from the portable md5 (the star schema carries no
#: geometry; the harness pins the operator's arithmetic end-to-end),
#: so every distance is an exact BIGINT and the gate is float-free.
SPATIAL_ORACLE = """
    WITH pts AS (
      SELECT doc_id AS id,
             ('0x' || substr(md5('geo-x|spark-graft|'
               || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS x,
             ('0x' || substr(md5('geo-y|spark-graft|'
               || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS y
      FROM documents
    ), cells AS (
      SELECT id, x, y, x // 2000 AS cx, y // 2000 AS cy FROM pts
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) AS dist2
      FROM cells a
      JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2
    FROM cand WHERE dist2 <= 2000 * 2000
"""


def spatial_build(spark, sf_dir):
    """Grid-bucketed radius join: all point pairs within r = 2000 of
    each other, found by hashing points into r-sized grid cells and
    joining each cell against its 3x3 neighborhood — candidates are
    O(points per neighborhood), never the quadratic cross join, and
    the exact integer-squared-distance refine runs only on candidates.
    This is the canonical distributed spatial join (geohash bucketing);
    the shuffle key is the cell id. The 3x3 window is exhaustive for
    radius <= cell size: any pair within r differs by < 1 cell per
    axis. Coordinates here are deterministic md5-derived integers (no
    geometry in the star schema — the harness pins the plumbing)."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (documents,) = _t(spark, sf_dir, "documents")

    def coord(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(tag),
                            F.lit("spark-graft"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 100000
        )

    pts = documents.select(
        F.col("doc_id").alias("id"),
        coord("geo-x").alias("x"),
        coord("geo-y").alias("y"),
    ).select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / 2000).cast("long").alias("cx"),
        F.floor(F.col("y") / 2000).cast("long").alias("cy"),
    )
    # The 3x3 neighborhood is joined as a pure EQUI join: side a
    # explodes its 9 neighbor cell ids into the join key, so the
    # candidate stage is a hash join on (cell_x, cell_y) — never a
    # nested-loop range join (which is what a BETWEEN condition would
    # plan to, and what the catalog's plan invariants forbid).
    offs = F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    a = pts.select("id", "x", "y", "cx", "cy", offs.alias("o")).select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        (F.col("cy") + F.col("o.dy")).alias("jy"),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    dist2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["jx", "jy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            dist2.cast("bigint").alias("dist2"),
        )
        .filter(F.col("dist2") <= 2000 * 2000)
    )


# RETIRED r12 (saturation policy — N stays 150): spatial_radius_pairs'
# integer-Euclidean grid pair join is fully shadowed by the r11 geo
# family, which gates the IDENTICAL 3x3 cell-explode equi-join shape
# twice over (geo_nn_on_sphere: corpus self-pairs + trig refine;
# geo_haversine_radius: broadcast probe) on the same md5-portable
# derivation. Its front slot goes to geo_way_lengths (plans/geo.py) —
# the reference's ordered way->node polyline, the one distinctive
# reference structure that had no driver gate. The (build, oracle) pair
# stays exported: tests/test_retired.py compares the full semantics
# every run, and tests/test_similarity.py keeps the brute-force
# exhaustiveness proof.
SPATIAL_RETIRED = (spatial_build, SPATIAL_ORACLE)


#: queue plans whose physical plan legitimately contains a
#: BroadcastNestedLoopJoin — every one is a broadcast 1-row scalar
#: stitch (the same intended-BNLJ class the catalog whitelists). COPY
#: these into tests/test_catalog_plan_invariants.BNLJ_WHITELIST when
#: registering at r08; tests/test_r08_queue.py enforces the invariant
#: (with this whitelist) on the queue already.
BNLJ_OK = {
    "minhash_recall_curve",  # broadcast 1-row recall denominators stitch
    # dedup_cluster_size_hist held a slot here until its r18 retirement
    "ks_split_drift",  # broadcast 1-row (n_train, n_holdout) totals
    "chi2_type_weekday",  # broadcast 1-row grand-total stitch
    "rfm_segment_counts",  # broadcast 1-row global max order date
    "basket_lift_pairs",  # broadcast 1-row basket-count stitch
    "ab_test_zscore",  # broadcast 1-row above-average-threshold stitch
    "revenue_concentration",  # two broadcast 1-row scalar stitches
}


#: market-basket association rules over (user, day) baskets of event
#: types — support / confidence / lift from exact integer counts; the
#: float path is two/three staged correctly-rounded divisions, written
#: in the SAME op order on both engines.
BASKET_ORACLE = """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ), nb AS (
      SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n_baskets
      FROM baskets
    ), item AS (
      SELECT event_type, COUNT(*) AS n_item FROM baskets
      GROUP BY event_type
    ), pair AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             COUNT(*) AS n_pair
      FROM baskets a
      JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
                    AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.item_a, p.item_b,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(ia.n_item AS BIGINT) AS n_a,
           CAST(ib.n_item AS BIGINT) AS n_b,
           round(CAST(p.n_pair AS BIGINT)
                 / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
           round(CAST(p.n_pair AS BIGINT)
                 / CAST(ia.n_item AS DOUBLE), 6) AS confidence_a_b,
           round((CAST(p.n_pair AS BIGINT) * CAST(nb.n_baskets AS DOUBLE))
                 / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
    FROM pair p
    JOIN item ia ON p.item_a = ia.event_type
    JOIN item ib ON p.item_b = ib.event_type
    CROSS JOIN nb
"""


def basket_build(spark, sf_dir):
    """Association-rule mining over (user, day) baskets: pairwise
    support, confidence and lift between event types — the co-occurrence
    analysis behind recommendations and anomaly rules. All counts exact
    integers; lift = (n_pair·n_baskets)/(n_a·n_b) staged as int·double
    product over double product, identical op order both engines.
    Scale: baskets is one DISTINCT on (user, day, type); the pair join
    is per-basket (bounded by |types|² per basket, never cross-corpus);
    item/total margins broadcast back onto the |types|²-row result."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    baskets = (
        events.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "event_type",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = baskets.select("user_id", "day").distinct().agg(
        F.count("*").cast("bigint").alias("n_baskets")
    )
    item = baskets.groupBy("event_type").agg(F.count("*").alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("n_pair"))
    )
    ia = item.select(
        F.col("event_type").alias("item_a"), F.col("n_item").alias("na")
    )
    ib = item.select(
        F.col("event_type").alias("item_b"), F.col("n_item").alias("nb_")
    )
    return (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb_").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_pair").cast("bigint")
                / F.col("n_baskets").cast("double"),
                6,
            ).alias("support"),
            F.round(
                F.col("n_pair").cast("bigint")
                / F.col("na").cast("double"),
                6,
            ).alias("confidence_a_b"),
            F.round(
                (
                    F.col("n_pair").cast("bigint")
                    * F.col("n_baskets").cast("double")
                )
                / (F.col("na").cast("double") * F.col("nb_")),
                6,
            ).alias("lift"),
        )
    )


QUEUE["basket_lift_pairs"] = (basket_build, BASKET_ORACLE)


#: sweep-line concurrency: maximum number of users simultaneously "in
#: session" per day, from per-(user, day) activity intervals
#: [first event, last event] in exact integer microseconds. CLOSED
#: intervals: same-instant starts (+1) sort BEFORE ends (-1) under the
#: (us, delta DESC, user_id) total order, so a user whose interval is a
#: single instant still counts as present, and touching intervals
#: overlap at the touch point — identically on both engines.
CONCURRENCY_ORACLE = """
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), pts AS (
      SELECT day, s_us AS us, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT day, e_us AS us, -1 AS delta, user_id FROM iv
    ), swept AS (
      SELECT day,
             SUM(delta) OVER (
               PARTITION BY day ORDER BY us, delta DESC, user_id
               ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY day
"""


def concurrency_build(spark, sf_dir):
    """Peak concurrency per day (sweep line): each (user, day) activity
    interval contributes +1 at its first event and -1 at its last; the
    running sum under the closed-interval (us, delta DESC, user_id)
    total order peaks at the day's maximum simultaneous users (a
    single-event user still counts while present) — capacity
    planning's favorite query, in pure integer arithmetic. Scale: one (user, day) agg, then
    the sweep window partitioned BY DAY (each day's point list is
    bounded); no global ordering anywhere."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min(us).alias("s_us"), F.max(us).alias("e_us"))
    pts = iv.select(
        "day", F.col("s_us").alias("us"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        iv.select(
            "day",
            F.col("e_us").alias("us"),
            F.lit(-1).alias("delta"),
            "user_id",
        )
    )
    w = Window.partitionBy("day").orderBy(
        "us", F.desc("delta"), "user_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = pts.select("day", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("day").agg(
        F.max("live").cast("bigint").alias("max_concurrent")
    ).select(F.col("day").cast("string").alias("day"), "max_concurrent")


QUEUE["daily_peak_concurrency"] = (concurrency_build, CONCURRENCY_ORACLE)


#: revenue concentration audit — Gini coefficient + top-10%/20% revenue
#: shares over per-customer exact cents. Every numerator is an exact
#: BIGINT (rank-weighted sums over the (cents, custkey) total order);
#: the only floats are final single divisions.
CONCENTRATION_ORACLE = """
    WITH pc AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rk_asc,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk_desc
      FROM pc
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(rk_asc * cents) AS BIGINT) AS wsum
      FROM ranked
    ), tops AS (
      SELECT CAST(SUM(CASE WHEN rk_desc <= n // 10 THEN cents
                           ELSE 0 END) AS BIGINT) AS top10,
             CAST(SUM(CASE WHEN rk_desc <= n // 5 THEN cents
                           ELSE 0 END) AS BIGINT) AS top20
      FROM ranked CROSS JOIN tot
    )
    SELECT t.n AS n_customers, t.total AS total_cents,
           CASE WHEN t.n = 0 THEN NULL
                ELSE round((2.0 * t.wsum)
                           / (CAST(t.n AS DOUBLE) * t.total)
                     - (CAST(t.n + 1 AS DOUBLE) / t.n), 6)
           END AS gini,
           round(CAST(p.top10 AS BIGINT) / CAST(t.total AS DOUBLE), 6)
             AS top10_share,
           round(CAST(p.top20 AS BIGINT) / CAST(t.total AS DOUBLE), 6)
             AS top20_share
    FROM tot t CROSS JOIN tops p
"""


def concentration_build(spark, sf_dir):
    """Revenue concentration: Gini coefficient (rank-weighted form,
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted spend) plus
    the Pareto top-10%/20% revenue shares — the inequality audit behind
    'do 20% of customers drive 80% of revenue'. Exact-integer
    numerators; final divisions only. Scale: one custkey agg, two rank
    windows on the |customers| relation, three scalar stitches."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (orders,) = _t(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = pc.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("rk_asc"),
        F.row_number()
        .over(Window.orderBy(F.desc("cents"), "o_custkey"))
        .alias("rk_desc"),
    ).localCheckpoint(eager=False)
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        # rank-weighted sum in DECIMAL(38,0), multiply included: the
        # r12 20x soak hit ANSI long overflow in this SUM (ranks x
        # cents x |customers| crosses 2^63 between 10x and 20x), and at
        # 100 TB the PRODUCT alone would overflow — DuckDB's oracle
        # already computes this in HUGEINT, so exactness is unchanged
        # and the double conversion in the gini expression is identical
        F.sum(F.col("rk_asc").cast("decimal(38,0)") * F.col("cents"))
        .alias("wsum"),
    )
    tops = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.when(
                    F.col("rk_desc") <= F.floor(F.col("n") / 10),
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("top10"),
            F.sum(
                F.when(
                    F.col("rk_desc") <= F.floor(F.col("n") / 5),
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("top20"),
        )
    )
    return tot.crossJoin(F.broadcast(tops)).select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.when(F.col("n") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.lit(2.0) * F.col("wsum"))
                / (F.col("n").cast("double") * F.col("total"))
                - (F.col("n") + 1).cast("double") / F.col("n"),
                6,
            )
        )
        .alias("gini"),
        F.round(
            F.col("top10").cast("bigint") / F.col("total").cast("double"), 6
        ).alias("top10_share"),
        F.round(
            F.col("top20").cast("bigint") / F.col("total").cast("double"), 6
        ).alias("top20_share"),
    )


QUEUE["revenue_concentration"] = (concentration_build, CONCENTRATION_ORACLE)


#: two-proportion A/B z-test on the deterministic hash split of USERS:
#: conversion = user had a purchase event. Counts exact; the z
#: statistic is a staged IEEE formula (divisions, one sqrt — no libm
#: transcendentals), written in the identical op order on both engines.
AB_TEST_ORACLE = """
    WITH pc AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('ab|spark-graft|'
                    || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purch
      FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_purch) AS BIGINT) AS total_purch
      FROM pc
    ), u AS (
      SELECT arm,
             CASE WHEN pc.n_purch * t.n_users > t.total_purch
                  THEN 1 ELSE 0 END AS converted
      FROM pc CROSS JOIN tot t
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
                  AS BIGINT) AS x_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
                  AS BIGINT) AS x_b
      FROM u
    )
    SELECT n_a, n_b, x_a, x_b,
           CASE WHEN n_a = 0 THEN NULL
                ELSE round(CAST(x_a AS DOUBLE) / n_a, 6) END AS p_a,
           CASE WHEN n_b = 0 THEN NULL
                ELSE round(CAST(x_b AS DOUBLE) / n_b, 6) END AS p_b,
           CASE WHEN n_a = 0 OR n_b = 0
                  OR x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
                ELSE round((CAST(x_a AS DOUBLE) / n_a
                            - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_score
    FROM agg
"""


def ab_test_build(spark, sf_dir):
    """Two-proportion z-test between deterministic hash-assigned A/B
    arms (conversion = ABOVE-AVERAGE purchaser, decided by the exact
    cross-multiplied integer comparison n_purch·n_users > total_purch —
    absolute thresholds saturate to p = 0 or 1 as events-per-user
    scales with SF; a corpus-relative cut stays ~half at any scale,
    float-free): the experimentation primitive,
    with the same retry-stable assignment hash as the samplers. Counts
    exact; z is the pooled-proportion formula in staged IEEE ops
    (divide/sqrt only), identical on both engines; fully degenerate
    splits (x = 0 or x = n) emit NULL rather than dividing by zero.
    Scale: one user_id agg, a broadcast 1-row threshold stitch, a
    1-row fold."""
    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("ab"),
                        F.lit("spark-graft"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    pc = events.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch"),
    )
    tot = pc.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n_purch").cast("bigint").alias("total_purch"),
    )
    u = pc.crossJoin(F.broadcast(tot)).select(
        "arm",
        F.when(
            F.col("n_purch") * F.col("n_users") > F.col("total_purch"), 1
        )
        .otherwise(0)
        .alias("converted"),
    )
    agg = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_b"),
    )
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return agg.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.when(F.col("n_a") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("x_a").cast("double") / F.col("n_a"), 6)
        )
        .alias("p_a"),
        F.when(F.col("n_b") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("x_b").cast("double") / F.col("n_b"), 6)
        )
        .alias("p_b"),
        F.when(
            (F.col("n_a") == 0)
            | (F.col("n_b") == 0)
            | (F.col("x_a") + F.col("x_b") == 0)
            | (F.col("x_a") + F.col("x_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (
                    F.col("x_a").cast("double") / F.col("n_a")
                    - F.col("x_b").cast("double") / F.col("n_b")
                )
                / F.sqrt(
                    pp
                    * (F.lit(1.0) - pp)
                    * (
                        F.lit(1.0) / F.col("n_a")
                        + F.lit(1.0) / F.col("n_b")
                    )
                ),
                6,
            )
        )
        .alias("z_score"),
    )


QUEUE["ab_test_zscore"] = (ab_test_build, AB_TEST_ORACLE)


#: log2-bucketed inter-event gap histogram WITHOUT logs: the bucket is
#: the binary-representation length of the exact microsecond gap
#: (length(bin(gap)) = floor(log2(gap)) + 1, pure integer), sidestepping
#: libm entirely — the burstiness profile of the event stream.
GAP_HIST_ORACLE = """
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT CAST(length(bin(gap_us)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY length(bin(gap_us))
"""


def gap_hist_build(spark, sf_dir):
    """Burstiness profile: per-user inter-event gaps (exact integer
    microseconds) bucketed by binary magnitude — length(bin(gap)) IS
    floor(log2)+1 without touching floating point, so the histogram is
    libm-free by construction. Scale: one user_id window shuffle, one
    bounded-domain aggregation (<= 64 buckets)."""
    from pyspark.sql import Window

    from amsterdam_map_data_wrangling_spark.plans.catalog import _t

    (events,) = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select((us - F.lag(us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return g.groupBy(
        F.length(F.bin(F.col("gap_us"))).cast("bigint").alias("log2_bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


QUEUE["gap_log2_hist"] = (gap_hist_build, GAP_HIST_ORACLE)


# ---------------------------------------------------------------------------
# Registration: every (build, oracle) pair enters the live catalog. The
# plans package __init__ imports this module, so the registry sees all
# 24. The QUEUE dict stays exported for tests/test_r08_queue_edges.py's
# robustness sweep.
# ---------------------------------------------------------------------------
def _register() -> None:
    from amsterdam_map_data_wrangling_spark.plans.catalog import query

    for _name, (_build, _oracle) in QUEUE.items():
        doc = " ".join((_build.__doc__ or "").split())
        query(_name, _oracle, doc=doc)(_build)


_register()
