"""Deduplication operators for the documents table — the training-pipeline
family (exact, MinHash-LSH near-dup, SimHash, exact n-gram Jaccard), each
expressed as compositions of built-in DataFrame ops. No all-pairs joins
anywhere: every near-dup path goes through a bucketed (blocked) join, which
is the property that survives 100 TB.

Design notes per operator:

- **Exact**: fingerprint = md5(normalized text); groupBy(fingerprint).
  One shuffle on a high-cardinality key — embarrassingly scalable.
- **MinHash**: k independent signature components h_i = min over shingles
  of xxhash64(i, shingle); banding b×r (k = b·r) buckets candidates so
  only same-band-hash pairs join. P(candidate) ≈ 1-(1-J^r)^b — the
  standard S-curve; with k=16, b=4, r=4 the 0.5-Jaccard point is steep.
  The shuffle is on (band_idx, band_hash) — bounded bucket sizes replace
  the N² pair space.
- **SimHash**: 16-bit signature from sign-summed per-token hash bits;
  near-dups collide on bands of the signature.
- **n-gram Jaccard**: exact verification for candidate pairs — shared
  w-shingle blocking, |∩| via a groupBy on the pair key, Jaccard from
  per-doc shingle counts. Document-frequency capping (drop shingles
  appearing in > df_cap docs) bounds bucket fan-out, the same way stop-word
  removal bounds posting lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.functions.text import fingerprint, tokens

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts: one row per fingerprint with the
    canonical keeper (min id) and the copy count."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, id_col: str, text_col: str, w: int = 3) -> DataFrame:
    """Distinct word w-shingles per document: (id, shingle)."""
    toks = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("l"))
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — docs
    # shorter than w tokens must map to an empty shingle array explicitly
    grams = F.when(
        F.size("l") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("l") - (w - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at("l", i + j) for j in range(w)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc dedup BEFORE the explode: (id, shingle) is distinct by
    # construction, with zero shuffle (a .distinct() here would be a full
    # exchange of every shingle row)
    return toks.select("id", F.explode(F.array_distinct(grams)).alias("shingle"))


def shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, w: int = 3
) -> DataFrame:
    """Distinct word w-shingles per document as 64-bit hashes: (id, sh).

    Equivalent to ``shingles(...)`` + ``xxhash64(shingle)`` up to hash
    collisions, but never materializes the shingle string: each token is
    hashed once, then each shingle hash is ``xxhash64`` over the w token
    hashes — a fixed-width long tuple instead of a ~w-word concat. The
    string build (concat_ws) was the single hottest expression in the
    shingle pipeline (~40% of the generation stage at bench scale).
    Downstream (grouping, minhash families) only ever needs shingle
    *identity*, so the string is pure waste; 64-bit collisions are noise
    (~3e-2 expected colliding pairs at 10^9 distinct shingles)."""
    toks = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("l"))
    hashed = toks.select("id", F.transform("l", lambda t: F.xxhash64(t)).alias("hl"))
    grams = F.when(
        F.size("hl") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("hl") - (w - 1)),
            lambda i: F.xxhash64(*[F.element_at("hl", i + j) for j in range(w)]),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return hashed.select("id", F.explode(F.array_distinct(grams)).alias("sh"))


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame, k: int = 16) -> DataFrame:
    """k-component MinHash signature per id from a (id, sh) hashed-shingle
    relation (see :func:`shingle_hashes`).

    h_i(doc) = min over shingles of xxhash64(i, sh) — k independent hash
    families via the seed argument; one groupBy(id) computes all k mins
    map-side-partially (a single shuffle of (id, k longs)). Only k cheap
    long hashes per shingle row; the string never exists."""
    return sh.groupBy("id").agg(
        *[F.min(F.xxhash64(F.lit(i), "sh")).alias(f"h{i}") for i in range(k)]
    )


def with_minhash_sigs(
    df: DataFrame, id_col: str, text_col: str, w: int = 3, k: int = 16
) -> DataFrame:
    """``df`` plus per-ROW MinHash signature columns h0..h{k-1} —
    value-identical to :func:`shingle_hashes` + :func:`minhash_signatures`
    (same xxhash64 shingle hashes, same seeded families, min over the
    same set) but computed as array expressions WITHIN each row:
    ``array_min`` over the per-shingle family hashes, no explode, no
    shuffle. That narrowness is the point: a streaming pipeline cannot
    run the batch construction's groupBy (a mid-stream stateful
    aggregation), while a per-row projection composes with any source —
    see streaming/neardup.py. ``array_distinct`` is deliberately absent
    (min is multiset-insensitive). Docs shorter than ``w`` tokens get
    NULL components (array_min of an empty array) — callers must treat
    null-signature docs as un-bandable, exactly like the batch path
    where such docs emit no signature row.

    Two staged projections, per the generator-fusion rules (PLANS.md):
    the token array and shingle-hash array are each NAMED columns, so
    Catalyst cannot re-inline the tokenizer into every one of the k
    family expressions.

    ``id_col`` does not shape the computation (signatures are pure
    per-row functions of ``text_col``; every input column passes
    through) — it is validated here so the shared call signature with
    the batch helpers stays honest (r10 ADVICE: an accepted-but-ignored
    parameter implies a dependency that doesn't exist)."""
    missing = [c for c in (id_col, text_col) if c not in df.columns]
    if missing:
        raise ValueError(
            f"with_minhash_sigs: column(s) {missing} not in {df.columns}"
        )
    hl_col, sh_col = f"__mh_hl_{w}", f"__mh_sh_{w}"
    staged = df.withColumn(
        hl_col,
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)),
    ).withColumn(
        sh_col,
        F.when(
            F.size(F.col(hl_col)) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(F.col(hl_col)) - (w - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at(F.col(hl_col), i + j) for j in range(w)]
                ),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    return staged.select(
        *df.columns,
        *[
            F.array_min(
                F.transform(
                    F.col(sh_col), lambda s: F.xxhash64(F.lit(i), s)
                )
            ).alias(f"h{i}")
            for i in range(k)
        ],
    )


def _band_hash_portable(cols: list) -> "F.Column":
    """md5-anchored band hash: identical on any engine (the same
    ``'0x' || substr(md5(...), 1, 15)`` trick DuckDB can run), over the
    '|'-joined decimal representation of the band's components."""
    joined = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")


def lsh_candidate_pairs(
    sig: DataFrame, k: int = 16, bands: int = 4, portable: bool = False
) -> DataFrame:
    """Banded LSH: hash each band of r = k/bands signature components,
    explode to (band_idx, band_hash, id), self-join within buckets.

    Returns distinct (id_a, id_b, est_jaccard) with id_a < id_b, where
    est_jaccard is the fraction of equal signature components.

    ``portable=True`` swaps the xxhash64 band hash for the md5 anchor
    (:func:`_band_hash_portable`) so the ENTIRE banding path — band
    hashing, bucket self-join, pair dedup, signature-agreement estimate —
    is value-reproducible in DuckDB and hash-gated at the driver; the
    banding/join/dedup code is shared verbatim between both modes, so the
    gate covers the production path's join logic too.

    The self-join would compute the signature subtree twice (exchange
    reuse does not fire across the broadcast/shuffle asymmetry), so the
    k-longs-per-doc ``sig`` frame is cut with ``localCheckpoint`` — one
    materialization of the scan→shingle→agg lineage, then both join legs
    read the tiny checkpointed block. Measured faster than both plain
    recompute and ``persist()`` (the cache's columnar conversion costs
    more than the checkpoint write at this width); on a real cluster
    swap for ``persist(MEMORY_AND_DISK)`` if executor loss matters."""
    r = k // bands
    sig = sig.localCheckpoint()
    if portable:
        band_hash = _band_hash_portable
    else:
        def band_hash(cols):
            return F.xxhash64(*cols)
    banded = sig.select(
        "id",
        *[F.col(f"h{i}") for i in range(k)],
        F.posexplode(
            F.array(
                *[
                    band_hash([F.col(f"h{b * r + j}") for j in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    left = banded.alias("a")
    right = banded.alias("b")
    # the signature-agreement estimate is computed per candidate ROW
    # (cheap long compares), so the band-collision dedup is a groupBy on
    # (id_a, id_b, est) — 3 columns through the shuffle. The previous
    # shape did .distinct() over id pair + both full signatures: 34
    # columns of exchange for the same result (a pair colliding in two
    # bands has identical signatures, hence identical est — max == value).
    matches = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (matches / F.lit(float(k))).alias("est_raw"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.round(F.max("est_raw"), 4).alias("est_jaccard"))
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    collapse_exact: bool = True,
    expand_pairs: bool = True,
    fingerprints: "DataFrame | None" = None,
) -> DataFrame:
    """End-to-end MinHash near-dup: shingle → sign → band → bucket-join →
    signature-estimated Jaccard ≥ threshold.

    ``collapse_exact=True`` (the DEFAULT since r15) is the
    BOILERPLATE-PROOF composition (r14, found by the duplicate-density
    soak: a clone cluster of n identical texts — cookie banners, license
    headers, error pages — puts n identical signatures in every band
    bucket, and the bucket self-join emits C(n,2) x bands rows: a
    15k-clone cluster DNF'd at >9 min where the uniform twin took
    6.4 s). Exact duplicates are collapsed to one representative per
    case-sensitive whitespace-normalized fingerprint BEFORE shingling
    (identical fingerprint ⇒ identical token sequence under the same
    whitespace tokenizer ⇒ identical shingles ⇒ identical signature, so
    nothing the banding could learn from clones is lost) and the
    banding runs over DISTINCT texts only.

    ``expand_pairs`` picks the OUTPUT CONTRACT on top of the collapsed
    internals:

    - ``True`` (default): the NAIVE pair-level contract ``(id_a, id_b,
      est_jaccard)``, reconstructed LOSSLESSLY — clone-internal pairs
      come from a fingerprint equi-join with est exactly 1.0 (identical
      signatures agree in all k components and collide in every band,
      so the naive banding provably emits them at est 1.0), and each
      representative near-dup pair expands to its members' cross
      product carrying the representative est (identical signatures ⇒
      identical band collisions and agreement counts). Value-identical
      to ``collapse_exact=False`` for any input (pinned in
      tests/test_dedup.py), but the quadratic clone mass appears ONLY
      as required output rows — never multiplied by ``bands`` inside
      the bucket join with k signature columns in flight. Docs shorter
      than ``w`` tokens emit no shingles hence no signature in the
      naive path; the expansion replays that rule by dropping
      fingerprint groups whose representative has fewer than ``w``
      tokens.
    - ``False``: the LINEAR collapsed contract ``(id_a, id_b,
      est_jaccard, n_a, n_b)`` with ids = cluster-min representative
      ids and each side's clone-cluster size — the 100 TB production
      shape, where a boilerplate cluster costs one row, not C(n,2).

    ``collapse_exact=False`` keeps the naive single-pass composition
    (shingle → sign → band over every row) as the opt-out for A/B
    measurement; ``expand_pairs`` is ignored there (the output is
    already pair-level).

    Precondition: ``id_col`` is unique in ``df``. The collapse fetches
    each representative's text by an equi-join on its min id, so a
    repeated id would duplicate representative rows."""
    if not collapse_exact:
        sig = minhash_signatures(shingle_hashes(df, id_col, text_col, w), k)
        return lsh_candidate_pairs(sig, k, bands).filter(
            F.col("est_jaccard") >= threshold
        )
    from amsterdam_map_data_wrangling_spark.functions.text import (
        fingerprint_cs,
    )

    # the fingerprint relation feeds FIVE consumers (the reps grouping,
    # both clone-pair join legs, and both expansion membership legs) —
    # without a lineage cut each one re-scans the corpus and re-runs
    # the md5 (the r15 sf1 sweep measured the uncut form ~1.9x). The
    # checkpointed frame is (id, 32-char md5) ONLY: the text never
    # enters the checkpoint. Callers that already hold a checkpointed
    # (id, fingerprint_cs) relation (e.g. the dedup_minhash_pairs gate,
    # whose exact-recall invariant builds the identical frame) pass it
    # as ``fingerprints`` to skip this scan entirely.
    if fingerprints is not None:
        fp = fingerprints.select(
            F.col(fingerprints.columns[0]).alias("id"),
            F.col(fingerprints.columns[1]).alias("_f"),
        )
    else:
        fp = df.select(
            F.col(id_col).alias("id"),
            fingerprint_cs(F.col(text_col)).alias("_f"),
        ).localCheckpoint(eager=False)
    # one representative (min id, its text) + multiplicity per distinct
    # normalized text; lazily checkpointed — it feeds the shingle
    # pipeline and the multiplicity/expansion joins.
    #
    # DERIVED FROM fp, never a second scan (r19 optimization round):
    # the former shape re-selected (id, text, fingerprint_cs(text))
    # from df and grouped by _f — a SECOND full corpus pass through the
    # normalize+md5 fingerprint AND a shuffle of every text through the
    # groupBy (min_by(_t, id) ships the payload to the reducer). ids
    # are unique, so min_by(_t, id) is exactly "the text of the min-id
    # row": aggregate the tiny (id, 32-char md5) fp relation instead,
    # then fetch ONE text per representative by an id equi-join against
    # the corpus — the join moves each rep's text once and the md5 runs
    # once per corpus row total (in fp). At 100 TB the same argument
    # holds: the groupBy shape shuffled all N texts; the join shape
    # shuffles (or broadcast-prunes to) one text per DISTINCT text.
    reps = (
        fp.groupBy("_f")
        .agg(F.min("id").alias("id"), F.count("*").alias("_mult"))
        .join(
            df.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("_t")
            ),
            "id",
        )
        .select("_f", "id", "_t", "_mult")
        .localCheckpoint(eager=False)
    )
    sig = minhash_signatures(shingle_hashes(reps, "id", "_t", w), k)
    pairs = lsh_candidate_pairs(sig, k, bands).filter(
        F.col("est_jaccard") >= threshold
    )
    if not expand_pairs:
        mult = reps.select("id", "_mult")
        return (
            pairs.join(mult.withColumnRenamed("id", "id_a"), "id_a")
            .withColumnRenamed("_mult", "n_a")
            .join(mult.withColumnRenamed("id", "id_b"), "id_b")
            .withColumnRenamed("_mult", "n_b")
            .select("id_a", "id_b", "est_jaccard", "n_a", "n_b")
        )
    return expand_rep_pairs(fp, reps, pairs, w)


def expand_rep_pairs(
    fp: DataFrame, reps: DataFrame, pairs: DataFrame, w: int
) -> DataFrame:
    """Lossless pair-level expansion of a collapsed (representative-level)
    near-dup pair relation back to the naive ``(id_a, id_b,
    est_jaccard)`` contract — shared by both minhash hash families
    (:func:`minhash_near_dup_pairs` and the portable gate plan).

    ``fp``: (id, _f) per input row; ``reps``: (id, _t, _f, ...) one
    row per distinct fingerprint with id = cluster-min; ``pairs``:
    (id_a, id_b, est_jaccard) between representative ids.

    Value identity with the naive (every-row) banding, for ANY hash
    family in which identical texts get identical signatures:
    clone-internal pairs always collide in every band and agree in all
    components (est exactly 1.0); a member pair (x, y) across clusters
    collides exactly when its representative pair does, with the same
    agreement count. Fingerprint groups whose text has fewer than ``w``
    tokens emit no shingles hence no signature in the naive path — the
    clone expansion drops them via the same tokenizer rule."""
    # fingerprints eligible for the naive banding: representative text
    # has >= w tokens (same tokenizer as the shingle builders — a
    # shorter doc emits no shingle rows, so the naive path never signs
    # it)
    eligible = reps.filter(F.size(tokens(F.col("_t"))) >= w)
    # clone-internal pairs: fingerprint self-join, est exactly 1.0 —
    # quadratic only in OUTPUT rows (the contract), with none of the
    # bucket join's bands-x multiplication or signature columns
    memb = fp.select("_f", "id").join(eligible.select("_f"), "_f")
    clone_pairs = (
        memb.select("_f", F.col("id").alias("id_a"))
        .join(memb.select("_f", F.col("id").alias("id_b")), "_f")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("est_jaccard"))
    )
    # cross-cluster pairs: expand each representative pair to its
    # members' cross product, carrying the representative est
    rep_memb = (
        fp.select("_f", F.col("id").alias("_m"))
        .join(reps.select("_f", F.col("id").alias("_rep")), "_f")
        .select("_rep", "_m")
    )
    cross_pairs = (
        pairs.join(
            rep_memb.withColumnRenamed("_rep", "id_a").withColumnRenamed(
                "_m", "_ma"
            ),
            "id_a",
        )
        .join(
            rep_memb.withColumnRenamed("_rep", "id_b").withColumnRenamed(
                "_m", "_mb"
            ),
            "id_b",
        )
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "est_jaccard",
        )
    )
    return cross_pairs.unionByName(clone_pairs)


#: 31-bit Mersenne prime for the portable universal-hash family — every
#: intermediate of (a*h31 + b) stays < 2^62, inside int64 on both engines.
_PORTABLE_P = 2_147_483_647
#: Fixed multipliers/offsets for the k portable hash families.
_PORTABLE_A = (7, 13, 31, 67, 127, 257, 521, 1031)
_PORTABLE_B = (3, 5, 11, 17, 23, 41, 83, 163)


def minhash_signatures_portable(sh: DataFrame, k: int = 8) -> DataFrame:
    """Engine-portable MinHash twin of :func:`minhash_signatures`: the
    production path uses ``xxhash64`` (JVM-only), so the driver's DuckDB
    oracle cannot replay its hash values directly (``dedup_minhash_pairs``
    instead hash-gates the engine-portable exact-dup recall invariant).
    This twin derives the k
    hash families from md5 — identical on any engine — so the MinHash
    *construction* (min over a per-shingle hash family, one map-side
    partial groupBy) is fully hash-verifiable at the gate:

        h    = int64(first 15 hex chars of md5(shingle)) mod p
        h_i  = (a_i * h + b_i) mod p          (p = 2^31-1, fixed a_i, b_i)

    One md5 per shingle row, then k cheap long multiplications — the same
    cost shape as the xxhash path, ~2x the constant. Input is the STRING
    shingle relation from :func:`shingles` (the string must exist here:
    md5(text) is the cross-engine anchor)."""
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        % _PORTABLE_P
    )
    pre = sh.select("id", h.alias("h31"))
    return pre.groupBy("id").agg(
        *[
            F.min((F.lit(_PORTABLE_A[i]) * F.col("h31") + _PORTABLE_B[i]) % _PORTABLE_P).alias(
                f"h{i}"
            )
            for i in range(k)
        ]
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """bits-wide SimHash per document: bit i is the sign of the sum over
    tokens of ±1 according to bit i of xxhash64(token). Near-dup docs
    (mostly-shared token multisets) get small Hamming distances."""
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t"))
    h = F.xxhash64("t")
    sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    code = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return sums.select("id", code.alias("simhash"))


def simhash_portable(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Engine-portable SimHash twin of :func:`simhash` (same bit-vote
    construction, md5-derived token hash instead of xxhash64) so the
    signature is verifiable against a DuckDB oracle value-for-value.
    One md5 per token row; the bit votes and the sign-threshold code are
    identical integer arithmetic on both engines."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    h = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    pre = tok.select("id", h.alias("h"))
    sums = pre.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    code = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return sums.select("id", code.alias("simhash"))


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Cluster near-dup pairs into duplicate groups: (id, cluster_id) where
    cluster_id is the minimum id in the connected component.

    Iterative min-label propagation with self-loops: the symmetrized edge
    set carries an (id, id) loop per node, so one hop is a single
    join + min-aggregate — "my new label = min over my neighbourhood
    including myself" — with no separate merge join. Each round runs a
    double-hop plus a one-hop certifier under lazy ``localCheckpoint``
    (lineage stays bounded), and
    convergence is detected by the monotone label-sum invariant: labels
    only ever decrease, so the propagation has reached a fixed point
    exactly when sum(label) stops changing — a metadata-cheap agg fused
    into the round's single driver action. Near-dup components are tiny
    (diameter ~2-3), so 1-2 double-hop rounds settle real inputs.
    Hash-gated end-to-end since round 4: the ``dedup_clusters`` oracle
    reaches the same fixed point through a DuckDB recursive CTE (label
    reachability + min), and pytest cross-checks union-find.
    """
    # cut the (possibly expensive: LSH, blocking) pair lineage ONCE —
    # every derived frame below references it several times. eager=False:
    # the first round's fused action below materializes it, so the cut
    # costs no standalone job
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=False)
    nodes = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct()
    # the symmetrized edge set needs NO distinct: every pair source in this
    # repo emits id_a < id_b exactly once, so forward, reversed, and
    # self-loop rows are disjoint by construction. min() in the hop absorbs
    # any duplicates a foreign caller might pass, so correctness never
    # depends on it — only the shuffle a .distinct() would cost.
    # Lazy-checkpoint the symmetrized set too: edges appears in EVERY hop,
    # so without the cut each hop's analyzed plan carries the
    # 3-way-union-plus-distinct subtree and Catalyst re-analyzes it per
    # hop — on this hop-bound loop that is the budget, not the data
    # (round-6 measurement at sf0.1: 2.29 s → 1.78 s driver min). The cut
    # is per-partition executor state — linear in |E|, no driver
    # materialization — so it holds at 100 TB. (Deliberately NOT
    # F.broadcast(labels) in the hop: −0.09 s here, but labels ~ |V| grows
    # with the corpus and a hardcoded broadcast becomes the scale-killer;
    # AQE still picks a runtime broadcast when the side is genuinely
    # small.)
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(nodes.select("src", F.col("src").alias("dst")))
        .localCheckpoint(eager=False)
    )

    def hop(labels: DataFrame) -> DataFrame:
        return (
            edges.join(labels, F.col("src") == F.col("id"))
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("id2", "id")
        )

    # no checkpoint on the seed labels: lineage is already cut at `e`, so
    # the first round's job materializes seed+2 hops in one pass
    labels = nodes.select(F.col("src").alias("id"), F.col("src").alias("label"))
    # DOUBLE-hop + single certify hop per driver action: both lazy
    # checkpoints plus both label sums are materialized by ONE fused job
    # (the union-of-aggs action), and equal sums certify the EARLIER
    # frame as the fixed point (labels only ever decrease, so sum(label)
    # is a monotone convergence witness — measured faster than a
    # generation-diff join). The certifier needs only ONE hop: if a
    # single extra hop leaves the sum unchanged, no label moved and l1 is
    # the fixed point — round 5 measured the earlier 2+2-hop round at
    # +0.4 s against 2+1 on identical results (iteration cost here is
    # per-hop plan analysis/scheduling, not data — a tiny literal pair
    # set costs ~2 s through this loop, so hops are the budget).
    # Near-dup components have diameter ~2-3, so real inputs finish in a
    # single fused action (3 hops) instead of round+verify jobs; e's lazy
    # checkpoint rides the same first action, leaving exactly one job
    # before the caller's own action on the result.
    # Budget: ceil so 3 hops/round ≥ the documented 2·max_iter hop
    # contract (max_iter=20 → 14 rounds = 42 hops ≥ 40) — the 2+1
    # restructure must not silently shrink the reachable diameter
    # (components of diameter 22-40 would otherwise return unconverged
    # labels indistinguishable from success).
    prev = None
    certified = False
    for _ in range(max(1, (2 * max_iter + 2) // 3)):
        l1 = hop(hop(labels)).localCheckpoint(eager=False)
        l2 = hop(l1).localCheckpoint(eager=False)
        # DECIMAL(38,0) witness sums, not bigint (cliff #8, r13 200x
        # soak): labels are surrogate ids, and at 100 TB-representative
        # key domains (replica shift ~2e14 x ~1M labels) the int64 SUM
        # crosses 2^63 mid-aggregation. The witness is internal — only
        # s1 == s2 is consumed — so exact decimal equality preserves the
        # monotone-convergence certificate at any (domain x count) and
        # the change is hash-neutral to every gate.
        _wit = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        sums = dict(
            l1.agg(_wit)
            .select(F.lit(1).alias("g"), "s")
            .unionAll(l2.agg(_wit).select(F.lit(2).alias("g"), "s"))
            .collect()
        )
        s1, s2 = sums[1], sums[2]
        if s1 == s2:
            # l1 already reached the fixed point; l2 is identical but l1's
            # checkpoint is the one the sums job certified
            labels = l1
            certified = True
            break
        labels = l2
        if s2 == prev:
            # three further hops left the monotone sum unchanged — the
            # previous generation was already the fixed point
            certified = True
            break
        prev = s2
    if not certified:
        # loop exhaustion without the equal-sums certificate must be
        # visible to callers — unconverged labels look like success
        import warnings

        warnings.warn(
            "connected_components: hop budget exhausted without the "
            f"equal-sums convergence certificate (max_iter={max_iter}); "
            "labels may span unmerged components — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard with shared-shingle blocking
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    threshold: float = 0.5,
    df_cap: int = 50,
) -> DataFrame:
    """Exact word-w-gram Jaccard for every pair sharing ≥1 (non-stop)
    shingle: (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Blocking on the shingle key — never all-pairs. ``df_cap`` drops
    shingles appearing in more than df_cap documents (stop-shingles), which
    bounds per-bucket fan-out at scale; a true near-dup pair shares many
    rare shingles, so recall is unaffected for thresholds ≥ ~0.3.

    Plan shape (3 shuffles total, all on small aggregates): shingle
    buckets via groupBy(shingle).collect_list — the per-bucket id lists
    ARE the blocking buckets, so candidate pairs are generated by a narrow
    array-pair expansion instead of a shingle self-join (which would
    re-shuffle both sides and re-materialize the shingle rows)."""
    # hashed shingles: the shingle is only ever a grouping key from here
    # on, so the groupBy shuffle moves 8-byte longs and the string is
    # never built at all (see shingle_hashes docstring for the collision
    # budget — noise against a 0.5 Jaccard threshold)
    sh = shingle_hashes(df, id_col, text_col, w).withColumnRenamed("sh", "shingle")
    # referenced three times below (pair expansion + both size legs) —
    # cut the shingle lineage once with localCheckpoint; measured ~11%
    # faster than the fused recompute and ~35% faster than persist()
    # (columnar cache conversion) at bench scale. The shingle key itself is
    # never consumed after the groupBy, so only the id lists are
    # checkpointed — one fewer long per bucket row through the write.
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") <= df_cap)
        .select("ids")
        .localCheckpoint()
    )
    capped = buckets.select(F.explode("ids").alias("id"))
    # sizes over the SAME capped shingle set, so the Jaccard is consistent
    # ("Jaccard over non-stop shingles")
    sizes = capped.groupBy("id").agg(F.count("*").alias("n_sh"))
    # all unordered pairs within a bucket, normalized to id_a < id_b
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
                ),
            ),
        )
    )
    inter = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    # no broadcast hint: `inter` (candidate pairs) is the small side and
    # `sizes` grows with the corpus — AQE converts to broadcast from the
    # runtime sizes, picking the correct side at any scale
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_recall_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    df_cap: int = 50,
) -> DataFrame:
    """Recall observability for :func:`ngram_jaccard_pairs`' df_cap trade
    (r14 duplicate-density soak, r14 verdict "What's wrong #4"): on a
    boilerplate clone cluster every clone shingle has df ≈ cluster size
    > ``df_cap``, so the cluster contributes ZERO candidate pairs — the
    run gets FASTER and silently recall-blind, reporting "no
    duplicates" for exactly the most-duplicated texts. This companion
    makes that hole measurable: run it (one extra action, diagnostics
    cadence — per ingest batch or per corpus snapshot, not per query)
    and alert when ``n_docs_zero_surviving`` is nonzero.

    One row: ``n_shingles_distinct`` / ``n_shingles_dropped`` (distinct
    shingles over the cap), ``max_df`` (the largest document frequency
    — a clone cluster announces its size here), ``n_docs_with_shingles``
    / ``n_docs_zero_surviving`` (docs all of whose shingles were
    dropped: exactly the docs :func:`ngram_jaccard_pairs` can never
    pair, each one a potential silent recall hole).

    Deterministic recomputation over the same ``shingle_hashes``
    relation rather than Spark accumulators: accumulators updated
    inside transformations double-count on task retry / speculative
    execution (the r14 ADVICE caveat on the cosine split counters), so
    exact accounting comes from a counted aggregation instead. Scale:
    the same one groupBy(shingle) shuffle the operator itself pays,
    plus a per-doc count — both on 8-byte keys; the two 1-row branch
    aggregates join via a broadcast 1-row stitch."""
    sh = shingle_hashes(df, id_col, text_col, w).withColumnRenamed(
        "sh", "shingle"
    )
    sh = sh.localCheckpoint(eager=False)  # feeds both branches below
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_docs"))
    sh_stats = dfreq.agg(
        F.count("*").alias("n_shingles_distinct"),
        F.sum(
            F.when(F.col("df_docs") > df_cap, 1).otherwise(0)
        ).cast("bigint").alias("n_shingles_dropped"),
        F.max("df_docs").alias("max_df"),
    )
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("df_docs") <= df_cap, 1).otherwise(0)
            ).alias("n_kept")
        )
    )
    doc_stats = per_doc.agg(
        F.count("*").alias("n_docs_with_shingles"),
        F.sum(F.when(F.col("n_kept") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_zero_surviving"),
    )
    # both sides are single-row aggregates — the stitch is a broadcast
    # nested-loop over 1x1 rows, the whitelisted 1-row-stitch shape
    return sh_stats.crossJoin(F.broadcast(doc_stats))


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classic record-linkage method,
    Hernández & Stolfo 1995): sort the corpus by a normalized blocking
    key, then pair every record with its next ``window - 1`` neighbors
    in sort order. Returns (id_a, id_b, rank_gap) with id_a's key-order
    position strictly before id_b's.

    Complements the shingle/LSH families: SN catches near-dups whose
    PREFIX agrees (names, addresses, normalized titles) even when token
    sets diverge, at exactly ``(window-1) * N`` candidate pairs — a
    linear, tunable budget, vs the data-dependent bucket fan-out of
    hash blocking. Multi-pass SN (different keys per pass) unions calls.

    Scale: one global sort (range exchange — the honest cost of the
    method; Spark's range partitioner samples boundaries so the sort is
    balanced), then a rank equi-join against ``window - 1`` exploded
    offsets — shuffles on the integer rank, never a cross join. The
    rank join is skew-free by construction (ranks are unique).

    Queued for catalog registration at r07 (round-6 gate overflow is at
    its limit); until then pytest-verified against a sorted-order
    reference (tests/test_sparse.py's sibling in test_dedup.py)."""
    from pyspark.sql import Window as W

    ranked = df.select(
        F.col(id_col).alias("id"), key.alias("k")
    ).withColumn(
        "r",
        F.row_number().over(W.orderBy("k", "id")),
    )
    offs = ranked.select(
        "id",
        "r",
        F.explode(
            F.sequence(F.lit(1), F.lit(window - 1))
        ).alias("off"),
    ).select("id", (F.col("r") + F.col("off")).alias("r2"), "r")
    right = ranked.select(
        F.col("id").alias("id_b"), F.col("r").alias("r2")
    )
    return (
        offs.join(right, "r2")
        .select(
            F.col("id").alias("id_a"),
            "id_b",
            (F.col("r2") - F.col("r")).alias("rank_gap"),
        )
    )


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Transitivity audit of a pair relation (id_a, id_b): one row with
    n_edges, n_open_triads (paths of length 2), n_triangles, and the
    global clustering coefficient 3·triangles / triads. On a NEAR-DUP
    pair graph this is the standard QA metric for threshold effects:
    similarity is not transitive, so A~B~C without A~C (low clustering)
    warns that connected-components clustering will chain dissimilar
    docs together.

    Classic two-join triangle counting with canonical edge orientation
    (a < b everywhere), so each triangle is counted exactly once as
    a < b < c: wedges from edges (a,b)⋈(b,c), closed by an equi-join
    against the edge set on (a,c). Scale: two equi-joins on node keys —
    the standard distributed shape; production adds degree-based
    orientation so high-degree hubs don't dominate the wedge join.
    Queued for catalog registration at r07."""
    e = pairs.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).distinct()
    e = e.localCheckpoint(eager=False)  # feeds three plan legs
    # wedges a < b < c: (a,b) ⋈ (b,c)
    w1 = e.select(F.col("a").alias("a"), F.col("b").alias("m"))
    w2 = e.select(F.col("a").alias("m"), F.col("b").alias("c"))
    wedges = w1.join(w2, "m").select("a", "m", "c")
    closing = e.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    # open triads (unordered paths of length 2) per center node:
    # C(deg, 2) summed over nodes
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    triads = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_triads")
    )
    counts = e.agg(F.count("*").alias("n_edges")).crossJoin(
        tri.agg(F.count("*").alias("n_triangles"))
    ).crossJoin(triads)
    return counts.select(
        "n_edges",
        "n_triads",
        "n_triangles",
        F.when(
            F.col("n_triads") > 0,
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_triads").cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def pagerank(
    pairs: DataFrame, damping: float = 0.85, iters: int = 3
) -> DataFrame:
    """Bounded-iteration PageRank over an undirected pair relation
    (id_a, id_b) — the influence/centrality reading of the near-dup
    graph (which documents sit at the center of duplication clusters),
    and the second ITERATIVE algorithm family next to
    :func:`connected_components`: power iteration with teleport,

        r'(n) = (1 − d)/N + d · Σ_{m→n} r(m)/deg(m),

    run for a FIXED ``iters`` rounds from the uniform start 1/N — the
    bounded-hop stance CC takes, so cost is deterministic and the
    result is exactly reproducible by an unrolled oracle (no
    convergence test, no data-dependent loop count). Nodes are the
    vertices incident to at least one edge; symmetrized edges make
    every node's out-degree ≥ 1, so there is no dangling mass.

    Scale per iteration: one join of the rank relation (|V| rows) to
    the edge list on the source key + one aggregation on the target
    key — both shuffle on vertex ids, the same shape as one CC hop.
    Checkpoint policy, measured at sf0.1: the EDGE relation is lazily
    checkpointed (it embeds the expensive blocking plan and every
    iteration consumes it — without the cut the corpus re-blocks 4
    times, 4.3→2.7 s); the per-round rank relations are NOT (at a
    fixed 3 iterations the unrolled lineage is shallow, and per-round
    checkpoints just add materialization jobs — the CC lesson applies
    from ~10 hops up, not here). Callers running many iterations
    should re-introduce a rank checkpoint every few rounds."""
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=False)
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        "src",
        "deg",
        (F.lit(1.0) / F.col("n_nodes").cast("double")).alias("r"),
        "n_nodes",
    )
    for _ in range(iters):
        contribs = (
            sym.join(ranks, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("mass"))
        )
        ranks = (
            ranks.drop("r")
            .join(contribs, "src", "left")
            .select(
                "src",
                "deg",
                (
                    (1.0 - damping) / F.col("n_nodes").cast("double")
                    + damping * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
                "n_nodes",
            )
        )
    return ranks.select(
        F.col("src").alias("id"), F.col("deg").cast("long").alias("deg"), "r"
    )
