"""Wide-row (large-document) operators — the row-WIDTH analog of the
chunked-window family in :mod:`operators/skew.py`.

The r15 wide-row soak (PLANS.md "Wide-row / large-document skew",
`scripts/archive/widerow_soak_r15.json`) measured the failure class:
Spark cannot split a ROW, so every per-row kernel (tokenize, per-token
md5, regex, fold) over a 48 MB document runs in ONE task — per-byte
kernel cost is flat across widths (no superlinearity), but the task
FLOOR becomes the largest document's kernel time while the other 31
threads idle. Same-bytes twins measured 1.1–8.4x degradations across
the text family.

The fix class is DOCUMENT SEGMENTATION: split the document into
bounded segments, redistribute (one shuffle of the text bytes),
compute segment-locally in parallel, merge exactly — legal only where
the kernel's algebra composes across a concatenation. Two segmenters
live here: :func:`token_segments` (token-stream slices, for kernels
over the tokenized stream — the polynomial rolling fingerprint
composes exactly) and :func:`segment_text_safe` (raw-text substrings
with match-safe repaired boundaries, for regex kernels — counts sum
and replacements concatenate byte-for-byte when no match can span a
boundary, so even a whole-doc md5 content witness survives via an
ordered reassembly before the hash; see pii_redaction_stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.functions.text import (
    ROLLING_MOD,
    tokens,
)
from amsterdam_map_data_wrangling_spark.operators.layout import WIDE_ROW_CHARS


def token_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int,
    keep: "list[str] | None" = None,
) -> DataFrame:
    """Explode each document's token stream into ordered segments of at
    most ``seg_tokens`` tokens: ``(<keep cols>, id, _seg, _toks)`` with
    ``_seg`` 0-based and ``concat(_toks for _seg asc) == tokens(text)``
    exactly (slices never cut tokens — segmentation happens AFTER the
    whitespace split, so any token-stream kernel sees the same tokens).

    The explode itself runs in the reading task (the one pass over the
    bytes that is unavoidable); callers MUST follow with a
    ``repartition`` on (id, _seg) to actually distribute the segments —
    explode alone is narrow and leaves every segment of a document in
    the task that read it."""
    toks = df.select(
        *(keep or []),
        F.col(id_col).alias("id"),
        tokens(F.col(text_col)).alias("_tok"),
    )
    n_seg = F.ceil(F.size("_tok") / F.lit(seg_tokens)).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1),
        lambda i: F.slice(F.col("_tok"), i * seg_tokens + 1, seg_tokens),
    )
    return toks.select(
        *(keep or []),
        "id",
        F.posexplode(slices).alias("_seg", "_toks"),
    )


def segmented_rolling_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 16_384,
    wide_chars: int = WIDE_ROW_CHARS,
) -> DataFrame:
    """``(id, rfp)`` — the per-document polynomial rolling fingerprint
    (fold ``acc*31 + h(token) mod M`` over md5-prefix token hashes,
    exactly :func:`functions.text.rolling_fingerprint`), computed
    WIDE-ROW-PROOF.

    Documents up to ``wide_chars`` characters take the registered
    single-row fold untouched. Longer documents are split into
    ``seg_tokens``-token segments, redistributed (the one shuffle of
    the long docs' bytes), folded segment-locally IN PARALLEL, and
    merged per document with the exact composition law of polynomial
    hashes over concatenation::

        fp(S1 || S2) = (fp(S1) * 31^|S2| + fp(S2)) mod M

    where each segment's fold also carries ``31^|Si| mod M`` out of the
    same pass (one extra modular multiply per token). All arithmetic is
    modular-integer (every intermediate < 2^62), so the merged value is
    IDENTICAL to the single-row fold — not approximately, by
    associativity — including the registered edge cases: a whole
    single-token document reproduces the fold's unreduced seed (the
    raw 32-bit token hash, which can exceed M), and empty token arrays
    fingerprint to 0.

    Scale: max task = ``seg_tokens`` tokens of md5+fold work, bounded
    by the SEGMENT size, not the largest document; the merge relation
    is one row per (doc, segment). At gate/bench SFs every document is
    under ``wide_chars`` so the long branch is EMPTY — the plan is the
    registered plan plus an empty union arm (measured in the r15 soak:
    7.2 s -> 1.8 s on the wide twin, gate SFs unchanged)."""
    from amsterdam_map_data_wrangling_spark.functions.text import (
        rolling_fingerprint_hashes,
        token_md5_hashes,
    )

    is_wide = F.length(F.col(text_col)) > wide_chars
    short = df.filter(~is_wide).select(
        F.col(id_col).alias("id"), token_md5_hashes(F.col(text_col)).alias("th")
    )
    short_fp = short.select(
        "id", rolling_fingerprint_hashes(F.col("th")).alias("rfp")
    )

    segs = token_segments(
        df.filter(is_wide), id_col, text_col, seg_tokens
    ).repartition("id", "_seg")
    hashed = segs.select(
        "id",
        "_seg",
        F.transform(
            "_toks",
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("_hs"),
    )
    m = F.lit(ROLLING_MOD)
    seg_fold = hashed.select(
        "id",
        "_seg",
        # one pass computes (fold value, 31^len mod M); the merge needs
        # both. element_at survives for the single-token-document edge.
        F.aggregate(
            "_hs",
            F.struct(
                F.lit(0).cast("long").alias("a"),
                F.lit(1).cast("long").alias("p"),
            ),
            lambda s, x: F.struct(
                ((s.a * 31 + x) % m).alias("a"), ((s.p * 31) % m).alias("p")
            ),
        ).alias("_fp"),
        F.size("_hs").alias("_n"),
        F.element_at("_hs", 1).alias("_h1"),
    )
    merged = (
        seg_fold.groupBy("id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_seg").alias("seg"),
                            F.col("_fp").getField("a").alias("a"),
                            F.col("_fp").getField("p").alias("p"),
                        )
                    )
                ),
                F.lit(0).cast("long"),
                lambda acc, s: (acc * s.p + s.a) % m,
            ).alias("_r"),
            F.sum("_n").alias("_ntok"),
            F.min(F.when(F.col("_seg") == 0, F.col("_h1"))).alias("_h1"),
        )
        .select(
            "id",
            # registered fold semantics: n==0 -> 0; n==1 -> the raw
            # (unreduced) first token hash; else the modular fold
            F.when(F.col("_ntok") == 0, F.lit(0).cast("long"))
            .when(F.col("_ntok") == 1, F.col("_h1"))
            .otherwise(F.col("_r"))
            .alias("rfp"),
        )
    )
    return short_fp.unionByName(merged)


def bound_doc_width(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_chars: int = 1_048_576,
    mode: str = "chunk",
) -> DataFrame:
    """INGEST-WIDTH GUARDRAIL (r16; r15 verdict "Next round" #5 — the
    one standing perf-weak): the r15 wide-row soak proved that post-scan
    segmentation caps a kernel but nothing caps the atomic scan+split of
    a huge ROW — only layout does. This operator is the layout cap,
    meant to run ONCE where a corpus enters the lake (WARC/archive
    readers → documents table; see ``sources/archives.
    documents_from_warc``), so every downstream scan sees bounded rows.

    ``mode="flag"``: pass-through plus an ``oversize`` boolean — the
    audit form (quarantine/report, rows unchanged).

    ``mode="chunk"``: documents of ≤ ``max_doc_chars`` characters pass
    through BYTE-UNTOUCHED as ``(part_idx=0, n_parts=1)``; wider ones
    explode into ordered parts — pure substrings with every boundary
    repaired forward to the next token start (whitespace-then-
    non-whitespace), so

    - ``concat(text for part_idx asc) == text`` byte-for-byte, and
    - no token is ever cut: the token streams of the parts concatenate
      exactly to the document's token stream (boundaries sit AFTER a
      whitespace run, which the tokenizer discards on either side).

    Part width is bounded by ``max_doc_chars`` EXACTLY: segments are
    cut at 2/3 of the cap and boundary repair can push a cut at most
    the 1/3 probe window forward. A document with no token boundary in
    some probe window (one pathological multi-MB token) comes back as
    ONE part — loud (``n_parts = 1`` with width over the cap, flagged
    ``oversize``), never silently wrong. Output schema: the input
    columns (text replaced by the part) + ``part_idx``, ``n_parts``,
    ``oversize``; ``(id, part_idx)`` is the row identity downstream.

    Scale: the narrow branch is the registered scan untouched; the
    wide branch's segmentation runs in the reading task (the one pass
    over the bytes that is unavoidable). Like :func:`token_segments`,
    the explode alone is NARROW — an in-flight consumer that feeds a
    heavy per-row kernel directly should ``repartition`` after this
    call to spread one document's parts across tasks. The primary use
    is INGEST (write the bounded relation; see
    ``sources/archives.documents_from_warc``): the written table's
    rows are bounded, so every later scan splits at row-group
    boundaries into balanced tasks and every Arrow batch stays small —
    at 100 TB this is the difference between a recommendation and a
    guarantee: the kernel floor is ``max_doc_chars``, not the largest
    crawled page."""
    if mode not in ("chunk", "flag"):
        raise ValueError(f"mode must be 'chunk' or 'flag', got {mode!r}")
    text = F.col(text_col)
    # NULL text is width 0, not width NULL: length(NULL) is NULL, which
    # matches NEITHER <=cap nor >cap, so an uncoalesced filter pair
    # silently DROPPED null-text rows from chunk mode while flag mode
    # kept them (with a NULL oversize) — the two modes disagreed on row
    # count and "no document may vanish" was violated (r16 ADVICE).
    # Both modes route NULLs through the narrow/false path.
    width = F.coalesce(F.length(text), F.lit(0))
    if mode == "flag":
        return df.withColumn("oversize", width > max_doc_chars)

    seg_chars = max(4, (2 * max_doc_chars) // 3)
    # repair headroom: part ≤ seg+probe ≤ cap, and the segmenter's
    # seg ≥ 2·probe monotonicity constraint holds under any rounding
    probe = max(1, min(max_doc_chars - seg_chars, seg_chars // 2))
    other = [c for c in df.columns if c not in (id_col, text_col)]
    out_cols = [
        *df.columns,
        F.col("part_idx"),
        F.col("n_parts"),
        (
            (F.col("n_parts") == 1) & (width > max_doc_chars)
        ).alias("oversize"),
    ]

    narrow = (
        df.filter(width <= max_doc_chars)
        .withColumn("part_idx", F.lit(0).cast("long"))
        .withColumn("n_parts", F.lit(1).cast("long"))
        .select(*out_cols)
    )
    wide = segment_text_safe(
        df.filter(width > max_doc_chars),
        id_col,
        text_col,
        seg_chars,
        safe_pattern=r"(?<=\s)\S",
        probe_chars=probe,
        keep=other,
    ).select(
        *other,
        F.col("id").alias(id_col),
        F.col("_text").alias(text_col),
        F.col("_seg").cast("long").alias("part_idx"),
        F.col("n_segs").cast("long").alias("n_parts"),
    )
    wide = wide.select(*out_cols)
    return narrow.unionByName(wide)


def segment_text_safe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_chars: int,
    safe_pattern: str = r"(?<=\s)[A-Za-z]",
    probe_chars: int = 65_536,
    keep: "list[str] | None" = None,
) -> DataFrame:
    """Explode each document's TEXT (not its token stream) into ordered
    character segments of ~``seg_chars``, with every boundary REPAIRED
    forward to the next match of ``safe_pattern`` — so any regex whose
    matches provably cannot contain a safe position computes
    segment-locally with EXACTLY the naive whole-text semantics, and
    ``concat(_text for _seg asc) == text`` byte-for-byte (segments are
    pure substrings; the reassembled transform of the segments equals
    the transform of the whole when no match spans a boundary).

    The default pattern (whitespace-then-letter, via lookbehind) is
    safe for the PII family: emails/URLs cannot contain whitespace (so
    no match contains the char BEFORE the boundary) and phone runs
    ``[+0-9 -]`` cannot contain a letter (so no match crosses INTO the
    boundary char). Boundary search scans a ``probe_chars`` window from
    each raw offset with ``regexp_instr`` — ~L/seg_chars tiny probes,
    never a whole-text pass. A document with NO safe position in some
    window comes back as ONE segment (``n_segs = 1``) — the caller's
    single-row path, loud in the ``n_segs`` column rather than silently
    wrong. Output: ``(<keep>, id, _seg, _text, n_segs)``.

    ``seg_chars`` must be at least 2x ``probe_chars`` so repaired
    boundaries stay strictly increasing."""
    if seg_chars < 2 * probe_chars:
        raise ValueError(
            f"seg_chars {seg_chars} must be >= 2x probe_chars {probe_chars}"
        )
    # STAGING DISCIPLINE (generator-fusion rules, PLANS.md — and the
    # reason this function is four selects, not one): every non-cheap
    # array is a NAMED column referenced by the next select, because a
    # same-select reuse duplicates the expression textually, and
    # Catalyst's inferred generator filters substitute the whole
    # subtree — the first cut of this function computed the boundary
    # probes ~16x (3 inline copies x 2 instr calls x the inferred
    # size()>0 Filter) and measured 37 s where the final form measures
    # ~2 s on the same dir. posexplode_outer (not posexplode) is
    # deliberate: _rng is never empty (size >= 1 by construction), and
    # outer=true stops Catalyst inferring a size(_rng)>0 Filter that
    # would re-evaluate the whole staged expression below the project.
    text = F.col(text_col)
    s0 = df.select(
        *(keep or []),
        F.col(id_col).alias("id"),
        text.alias("_t"),
        F.length(text).alias("_L"),
        F.greatest(F.ceil(F.length(text) / F.lit(seg_chars)), F.lit(1))
        .cast("int")
        .alias("_n"),
    )
    # one regexp_instr probe per raw boundary, staged
    s1 = s0.select(
        *(keep or []),
        "id",
        "_t",
        "_L",
        "_n",
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - 1),
            lambda k: F.regexp_instr(
                F.substring(F.col("_t"), k * seg_chars + 1, probe_chars),
                F.lit(safe_pattern),
            ),
        ).alias("_probe"),
    )
    # repaired 1-based next-segment starts, or -1 when a window had no
    # safe position
    s2 = s1.select(
        *(keep or []),
        "id",
        "_t",
        "_L",
        "_n",
        F.zip_with(
            F.sequence(F.lit(1), F.col("_n") - 1),
            F.col("_probe"),
            lambda k, p: F.when(p > 0, k * seg_chars + p).otherwise(
                F.lit(-1)
            ),
        ).alias("_bnds"),
    )
    ok = (F.col("_n") == 1) | ~F.array_contains(F.col("_bnds"), -1)
    s3 = s2.select(
        *(keep or []),
        "id",
        "_t",
        F.zip_with(
            F.when(
                ok & (F.col("_n") > 1),
                F.concat(F.array(F.lit(1)), F.col("_bnds")),
            ).otherwise(F.array(F.lit(1))),
            F.when(
                ok & (F.col("_n") > 1),
                F.concat(
                    F.transform(F.col("_bnds"), lambda b: b - 1),
                    F.array(F.col("_L")),
                ),
            ).otherwise(F.array(F.col("_L"))),
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ).alias("_rng"),
    )
    return s3.select(
        *(keep or []),
        "id",
        "_t",
        F.size("_rng").alias("n_segs"),
        F.posexplode_outer("_rng").alias("_seg", "_r"),
    ).select(
        *(keep or []),
        "id",
        "n_segs",
        "_seg",
        F.substring(
            F.col("_t"), F.col("_r.s"), F.col("_r.e") - F.col("_r.s") + 1
        ).alias("_text"),
    )
