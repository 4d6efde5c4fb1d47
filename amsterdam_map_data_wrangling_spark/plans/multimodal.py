"""Multimodal plumbing query, oracle-gated.

The binary payloads are fabricated from document text (this container has
no media files or decode libraries — see ``operators/multimodal.py``), but
the plan is the real thing: binary column → Arrow-batched ``mapInPandas``
feature extraction. DuckDB verifies the features (octet length + sha256)
computed through the Python path bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.multimodal import (
    _MVHD_TAIL_HEX,
    as_media_table,
    extract_features,
)
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query


@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha16
    FROM documents
    """,
    "Multimodal feature extraction: text→binary payload (stand-in for "
    "image/audio bytes), then an Arrow-batched mapInPandas stage computes "
    "per-asset features (byte length, sha256 prefix). The ONLY Python-path "
    "query in the catalog — deliberately, to keep the pandas-UDF extension "
    "point (SURVEY §2.10) exercised and gated. Scale: batches stream "
    "through Arrow; payload column pruned everywhere else.",
)
def multimodal_features(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    media = as_media_table(documents, "doc_id", "text")
    return extract_features(media)


@query(
    "multimodal_dims",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             16 + doc_id % 640 AS w,
             16 + doc_id % 480 AS h
      FROM documents
    ), p AS (
      SELECT media_id,
             hex(CASE WHEN media_id % 2 = 0 THEN
               unhex('89504E470D0A1A0A0000000D49484452'
                     || lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0')
                     || '0806000000DEADBEEF0000000049454E44AE426082')
             ELSE
               unhex('FFD8FFE000104A46494600010100000100010000FFFE0004ABCD'
                     || 'FFC0001108'
                     || substr(lpad(hex(h), 8, '0'), 5, 4)
                     || substr(lpad(hex(w), 8, '0'), 5, 4)
                     || '03011100021101031101FFD9')
             END) AS hx
      FROM m
    )
    SELECT media_id,
           CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
                WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
                ELSE 'unknown' END AS fmt,
           CAST(CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
                THEN ('0x' || substr(hx, position('49484452' IN hx) + 8, 8))::BIGINT
                ELSE ('0x' || substr(hx, position('FFC0' IN hx) + 14, 4))::BIGINT
                END AS INTEGER) AS width,
           CAST(CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
                THEN ('0x' || substr(hx, position('49484452' IN hx) + 16, 8))::BIGINT
                ELSE ('0x' || substr(hx, position('FFC0' IN hx) + 10, 4))::BIGINT
                END AS INTEGER) AS height
    FROM p
    """,
    "Header-level image decode, gated end-to-end (round-4 verdict #4 — "
    "the first REAL multimodal byte parse): payloads are genuine PNG "
    "(signature + IHDR chunk frame) and JPEG (SOI → APP0/JFIF → COM → "
    "SOF0 → EOI marker stream) header bytes synthesized JVM-side from "
    "deterministic per-id dimensions, and the mapInPandas kernel does the "
    "actual walk — PNG chunk frames to IHDR, JPEG markers (skipping "
    "variable-length segments by declared length; the injected COM "
    "segment makes a fixed-offset cheat impossible) to SOF0 — extracting "
    "(format, width, height) with int.from_bytes big-endian arithmetic. "
    "The DuckDB oracle rebuilds the identical payload bytes (unhex of "
    "the same hex algebra) and re-parses them via hex-substring + "
    "position arithmetic, so a parser regression mismatches values. Full "
    "pixel decode still honestly raises (decode_stub). Scale: payload "
    "bytes never leave the scanning executor; output is 4 narrow columns "
    "through Arrow.",
)
def multimodal_dims(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.multimodal import (
        extract_image_dims,
        synthesize_image_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return extract_image_dims(synthesize_image_payloads(documents, "doc_id"))


@query(
    "audio_dims",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + (doc_id % 4) * 2 AS clen,
             1 + doc_id % 2 AS channels,
             8000 + (doc_id % 8) * 1000 AS rate,
             8 + (doc_id % 3) * 8 AS bits
      FROM documents
    ), c AS (
      SELECT *, channels * bits // 8 AS ba FROM m
    ), hh AS (
      SELECT media_id, clen,
             lpad(hex(60 + clen), 8, '0') AS riff_sz,
             lpad(hex(12 + clen), 8, '0') AS list_sz,
             lpad(hex(clen), 8, '0') AS clen_h,
             lpad(hex(channels), 4, '0') AS ch_h,
             lpad(hex(rate), 8, '0') AS rate_h,
             lpad(hex(rate * ba), 8, '0') AS br_h,
             lpad(hex(ba), 4, '0') AS ba_h,
             lpad(hex(bits), 4, '0') AS bits_h
      FROM c
    ), p AS (
      SELECT media_id, clen,
             '52494646'
             || substr(riff_sz,7,2)||substr(riff_sz,5,2)
             || substr(riff_sz,3,2)||substr(riff_sz,1,2)
             || '57415645' || '4C495354'
             || substr(list_sz,7,2)||substr(list_sz,5,2)
             || substr(list_sz,3,2)||substr(list_sz,1,2)
             || '494E464F' || '49434D54'
             || substr(clen_h,7,2)||substr(clen_h,5,2)
             || substr(clen_h,3,2)||substr(clen_h,1,2)
             || repeat('58', CAST(clen AS INTEGER))
             || '666D7420' || '10000000' || '0100'
             || substr(ch_h,3,2)||substr(ch_h,1,2)
             || substr(rate_h,7,2)||substr(rate_h,5,2)
             || substr(rate_h,3,2)||substr(rate_h,1,2)
             || substr(br_h,7,2)||substr(br_h,5,2)
             || substr(br_h,3,2)||substr(br_h,1,2)
             || substr(ba_h,3,2)||substr(ba_h,1,2)
             || substr(bits_h,3,2)||substr(bits_h,1,2)
             || '64617461' || '04000000' || 'CAFEF00D' AS hx
      FROM hh
    )
    SELECT media_id,
           CASE WHEN substr(hx, 1, 8) = '52494646'
                 AND substr(hx, 17, 8) = '57415645'
                THEN 'wav' ELSE 'unknown' END AS fmt,
           CAST(('0x' || substr(hx, (44+clen)*2+7, 2)
                      || substr(hx, (44+clen)*2+5, 2)
                      || substr(hx, (44+clen)*2+3, 2)
                      || substr(hx, (44+clen)*2+1, 2))::BIGINT
                AS INTEGER) AS sample_rate,
           CAST(('0x' || substr(hx, (42+clen)*2+3, 2)
                      || substr(hx, (42+clen)*2+1, 2))::BIGINT
                AS INTEGER) AS channels,
           CAST(('0x' || substr(hx, (54+clen)*2+3, 2)
                      || substr(hx, (54+clen)*2+1, 2))::BIGINT
                AS INTEGER) AS bits
    FROM p
    """,
    "Header-level WAV decode, gated end-to-end (round-5 verdict #3 — "
    "closes the multimodal family the way multimodal_dims closed "
    "images): payloads are genuine RIFF/WAVE byte sequences synthesized "
    "JVM-side (hex concat → unhex) with a variable-length LIST/INFO "
    "chunk BEFORE the fmt chunk (comment length varies with the id, so a "
    "fixed-offset reader misparses 3 of every 4 rows), and the "
    "mapInPandas kernel does the actual RIFF chunk walk — 4-byte FourCC, "
    "4-byte little-endian size, even-padded data — to the fmt block, "
    "extracting (sample_rate, channels, bits) with little-endian "
    "int.from_bytes arithmetic. The DuckDB oracle rebuilds the identical "
    "payload bytes with the same hex algebra and re-parses them at "
    "closed-form offsets (LE byte-pair reassembly via substr), so either "
    "a synthesis or a parser regression mismatches values. Full sample "
    "decode still honestly raises (decode_stub). Scale: map-only — "
    "payload bytes never leave the scanning executor; output is 5 narrow "
    "columns through Arrow.",
)
def audio_dims(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.multimodal import (
        extract_audio_fmt,
        synthesize_wav_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return extract_audio_fmt(synthesize_wav_payloads(documents, "doc_id"))


@query(
    "video_dims",
    rf"""
    WITH m AS (
      SELECT doc_id AS media_id,
             doc_id % 4 AS f, doc_id % 3 AS s,
             600 + (doc_id % 5) * 300 AS ts,
             (600 + (doc_id % 5) * 300) * (1 + doc_id % 10) AS dur,
             CASE WHEN doc_id % 2 = 0 THEN 108 ELSE 120 END AS mvhd_sz
      FROM documents
    ), p AS (
      SELECT media_id, f, s,
             '0000001066747970' || '69736F6D' || '00000200'
             || lpad(hex(8 + f), 8, '0') || '66726565'
             || repeat('58', CAST(f AS INTEGER))
             || lpad(hex(16 + s + mvhd_sz), 8, '0') || '6D6F6F76'
             || lpad(hex(8 + s), 8, '0') || '736B6970'
             || repeat('58', CAST(s AS INTEGER))
             || lpad(hex(mvhd_sz), 8, '0') || '6D766864'
             || CASE WHEN media_id % 2 = 0
                     THEN '00000000' || repeat('0', 16)
                     ELSE '01000000' || repeat('0', 32) END
             || lpad(hex(ts), 8, '0')
             || CASE WHEN media_id % 2 = 0
                     THEN lpad(hex(dur), 8, '0')
                     ELSE lpad(hex(dur), 16, '0') END
             || '{_MVHD_TAIL_HEX}' AS hx
      FROM m
    ), parsed AS (
      SELECT media_id,
             CASE WHEN substr(hx, 9, 8) = '66747970'
                  THEN 'mp4' ELSE 'unknown' END AS fmt,
             ('0x' || CASE WHEN media_id % 2 = 0
                           THEN substr(hx, (60+f+s)*2+1, 8)
                           ELSE substr(hx, (68+f+s)*2+1, 8) END)::BIGINT
               AS timescale,
             ('0x' || CASE WHEN media_id % 2 = 0
                           THEN substr(hx, (64+f+s)*2+1, 8)
                           ELSE substr(hx, (72+f+s)*2+1, 16) END)::BIGINT
               AS duration
      FROM p
    )
    SELECT media_id, fmt,
           CAST(timescale AS BIGINT) AS timescale,
           CAST(duration AS BIGINT) AS duration,
           CAST(duration * 1000 // timescale AS BIGINT) AS duration_ms
    FROM parsed
    """,
    "Header-level MP4 decode, gated end-to-end — closes the multimodal "
    "family (images: multimodal_dims; audio: audio_dims; video: here): "
    "payloads are genuine ISO-BMFF box sequences synthesized JVM-side — "
    "ftyp, then a variable-length free box, then moov CONTAINING a "
    "variable-length skip box and the mvhd movie header, version 0 "
    "(32-bit times) on even ids and version 1 (64-bit) on odd — and the "
    "mapInPandas kernel does the actual walk: top-level boxes by 4-byte "
    "big-endian size, recursion into the moov container, version-byte "
    "dispatch in mvhd. A fixed-offset or single-version reader misparses "
    "most rows. The DuckDB oracle rebuilds the identical bytes with the "
    "same hex algebra and re-parses them at closed-form offsets; "
    "duration_ms = duration·1000 // timescale is exact integer "
    "arithmetic on both engines. Scale: map-only — payload bytes never "
    "leave the scanning executor.",
)
def video_dims(spark, sf_dir):
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.multimodal import (
        extract_video_meta,
        synthesize_mp4_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    meta = extract_video_meta(synthesize_mp4_payloads(documents, "doc_id"))
    return meta.withColumn(
        "duration_ms", F.expr("duration * 1000 DIV timescale")
    )


@query(
    "frame_sample_stats",
    """
    WITH media AS (
      SELECT doc_id AS media_id, text,
             1000 + (doc_id % 20) * 500 AS duration_ms
      FROM documents
    ), frames AS (
      SELECT media_id, text,
             unnest(range(0, duration_ms + 1, 500)) AS frame_ts
      FROM media
    )
    SELECT media_id, COUNT(*) AS n_frames,
           min(substr(sha256(text || CAST(frame_ts AS VARCHAR)), 1, 16)) AS sig16
    FROM frames GROUP BY media_id
    """,
    "Video frame sampling over binary assets: deterministic per-asset "
    "duration metadata fans out to one row per 500 ms frame timestamp "
    "JVM-side (explode(sequence)) — no Python in the row-multiplication "
    "path — then per-frame digests aggregate back to per-asset stats. "
    "The digest stands in for a decoded frame; a real decoder is a "
    "mapInPandas stage over (payload, frame_ts) with the same schema. "
    "Scale: fan-out is a narrow map (no shuffle); the only shuffle is the "
    "final groupBy on media_id, and payload bytes never leave the "
    "executor that scanned them.",
)
def frame_sample_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.multimodal import sample_frames

    (documents,) = _t(spark, sf_dir, "documents")
    media = as_media_table(documents, "doc_id", "text").withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            (1000 + (F.col("media_id") % 20) * 500).cast("long").alias("duration_ms"),
        ),
    )
    return (
        sample_frames(media, every_ms=500)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.min("frame_sha16").alias("sig16"),
        )
    )


@query(
    "audio_levels",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             1 + doc_id % 2 AS c,
             8 + 8 * ((doc_id // 2) % 2) AS bits,
             3 + doc_id % 3 AS nf
      FROM documents
    ), s AS (
      SELECT media_id, ch.ch AS channel,
             CASE WHEN bits = 8
                  THEN ((media_id * 31 + f.f * 17 + ch.ch * 7) % 256) - 128
                  ELSE CASE WHEN (media_id * 131 + f.f * 1031
                                  + ch.ch * 211) % 65536 >= 32768
                            THEN (media_id * 131 + f.f * 1031
                                  + ch.ch * 211) % 65536 - 65536
                            ELSE (media_id * 131 + f.f * 1031
                                  + ch.ch * 211) % 65536 END
             END AS amp
      FROM m, unnest(range(0, nf)) AS f(f), unnest(range(0, c)) AS ch(ch)
    )
    SELECT media_id,
           CAST(channel AS INTEGER) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(amp) AS BIGINT) AS sum_amp,
           CAST(MAX(abs(amp)) AS BIGINT) AS peak_abs
    FROM s GROUP BY media_id, channel
    """,
    "FULL WAV sample decode, gated end-to-end — the first real media "
    "CONTENT decode (r6 VERDICT #4; the header walks stop at metadata): "
    "payloads are complete RIFF/WAVE files with interleaved PCM sample "
    "data (8-bit unsigned or 16-bit signed LE, 1-2 channels, sample "
    "values deterministic in (id, frame, channel); the variable-length "
    "LIST chunk still precedes fmt so a fixed-offset reader misparses), "
    "and the mapInPandas kernel does the actual decode: RIFF chunk walk "
    "→ numpy frombuffer → de-interleave → per-channel n_frames / "
    "sum_amp / peak_abs, ALL exact integers. The DuckDB oracle derives "
    "the same statistics from the closed-form sample arithmetic WITHOUT "
    "touching bytes — a fully independent route, so a synthesis bug, a "
    "chunk-walk bug, a sign/bias bug (the 8-bit 128 bias, 16-bit two's "
    "complement), or a de-interleave bug all mismatch. decode_stub's "
    "scope shrinks to compressed codecs only. Scale: map-only; payload "
    "bytes never leave the scanning executor; output is ≤ 2 rows of 5 "
    "integers per asset.",
)
def audio_levels(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.multimodal import (
        extract_audio_levels,
        synthesize_pcm_wav_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return extract_audio_levels(
        synthesize_pcm_wav_payloads(documents, "doc_id")
    )


@query(
    "image_pixel_stats",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 3 AS w,
             1 + doc_id % 2 AS h
      FROM documents
    ), px AS (
      SELECT media_id, c.ch AS channel, y.y AS y,
             CASE c.ch
               WHEN 0 THEN (media_id * 7  + x.x * 13 + y.y * 29) % 256
               WHEN 1 THEN (media_id * 11 + x.x * 17 + y.y * 31) % 256
               ELSE        (media_id * 13 + x.x * 19 + y.y * 37) % 256
             END AS v
      FROM m, unnest(range(0, w)) AS x(x), unnest(range(0, h)) AS y(y),
           unnest([0, 1, 2]) AS c(ch)
    )
    SELECT media_id,
           CAST(channel AS INTEGER) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_val,
           CAST(MAX(v) AS BIGINT) AS max_val,
           CAST(SUM(CASE WHEN y = 0 THEN v ELSE 0 END) AS BIGINT)
             AS top_row_sum
    FROM px GROUP BY media_id, channel
    """,
    "FULL BMP pixel decode, gated end-to-end — the image-content twin "
    "of audio_levels: payloads are complete 24-bit BMP files with real "
    "pixel data (per-channel values deterministic in (id, x, y)), and "
    "the mapInPandas kernel does the actual decode: header walk, "
    "pixel-array OFFSET honored (id % 4 filler bytes sit between the "
    "headers and the data, so the offset field must be read), 4-byte "
    "row stride stripped, bottom-up storage un-flipped, then per-"
    "channel n_pixels / sum / max / top-VISUAL-row sum, all exact "
    "integers — the top-row statistic goes wrong if the flip or the "
    "stride is skipped, sum/max alone would not catch either. The "
    "DuckDB oracle derives the same numbers from the closed-form "
    "arithmetic WITHOUT touching bytes (fully independent route). "
    "Scale: map-only; payload bytes never leave the scanning executor.",
)
def image_pixel_stats(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.multimodal import (
        extract_image_pixels,
        synthesize_bmp_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return extract_image_pixels(synthesize_bmp_payloads(documents, "doc_id"))


def _warc_record_cols(doc_id_str, text, j: int, nrec):
    """One synthesized WARC record as a Column (empty string when this
    slot exceeds the document's record count): ISO 28500 framing around
    an application/http response whose body is md5(text:j) + ':' +
    length(text) — pure ASCII, so Content-Length in characters equals
    octets and both engines agree without byte/char games."""
    j_str = F.lit(str(j))
    body = F.concat(
        F.md5(F.concat(text, F.lit(":"), j_str).cast("binary")),
        F.lit(":"),
        F.length(text).cast("string"),
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nX-Doc: "),
        doc_id_str,
        F.lit("\r\n\r\n"),
        body,
    )
    header = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:"),
        doc_id_str,
        F.lit("-"),
        j_str,
        F.lit(">\r\nWARC-Target-URI: http://synth/"),
        doc_id_str,
        F.lit("/"),
        j_str,
        F.lit("\r\nContent-Type: application/http; msgtype=response"),
        F.lit("\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
    )
    return F.when(
        F.lit(j) < nrec, F.concat(header, payload, F.lit("\r\n\r\n"))
    ).otherwise(F.lit(""))


@query(
    "warc_roundtrip_stats",
    """
    WITH m AS (
      SELECT doc_id, text, 1 + doc_id % 3 AS nrec FROM documents
    ), r AS (
      SELECT doc_id,
             'HTTP/1.1 200 OK' || chr(13) || chr(10) || 'X-Doc: '
               || CAST(doc_id AS VARCHAR) || chr(13) || chr(10)
               || chr(13) || chr(10)
               || md5(text || ':' || CAST(i.i AS VARCHAR)) || ':'
               || CAST(length(text) AS VARCHAR) AS payload,
             md5(md5(text || ':' || CAST(i.i AS VARCHAR)) || ':'
               || CAST(length(text) AS VARCHAR)) AS body_md5
      FROM m, unnest(range(0, nrec)) AS i(i)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(length(payload)) AS BIGINT) AS sum_clen,
           CAST(SUM(('0x' || substr(body_md5, 1, 12))::BIGINT) AS BIGINT)
             AS body_md5_sum
    FROM r GROUP BY doc_id
    """,
    "Crawl-ingestion gate (r7 VERDICT #4's driver-gateable clause, via "
    "the audio_levels pattern): complete multi-record WARC files are "
    "synthesized engine-side from the documents table (1-3 "
    "application/http response records per doc, bodies derived from "
    "md5(text)), and the REAL WARC parser — the same _parse_warc that "
    "backs read_warc_records — shreds them in an Arrow-batched kernel "
    "down to exact integers: record count, Content-Length sum, and an "
    "http-body md5 checksum sum. The DuckDB oracle reconstructs the "
    "SAME integers from string algebra alone (no WARC parsing), so a "
    "framing bug, a Content-Length bug, or an http-header/body split "
    "bug in the parser mismatches the gate. Scale: narrow per-doc map "
    "+ map-only Arrow pass; payload bytes never shuffle; 4 integers "
    "per document out.",
)
def warc_roundtrip_stats(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.sources.archives import (
        warc_stats_from_payloads,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    doc_id_str = F.col("doc_id").cast("string")
    nrec = F.lit(1) + F.col("doc_id") % 3
    blob = F.concat(
        *[_warc_record_cols(doc_id_str, F.col("text"), j, nrec) for j in range(3)]
    ).cast("binary")
    media = documents.select(F.col("doc_id"), blob.alias("warc_bytes"))
    return warc_stats_from_payloads(media, "doc_id", "warc_bytes")


@query(
    "jpeg_pixel_stats",
    """
    WITH m AS (
      SELECT doc_id AS media_id FROM documents
    ), gray AS (
      SELECT media_id, 0 AS channel,
             CAST(128 AS BIGINT) AS n_pixels,
             CAST(64 * (v0 + v1) AS BIGINT) AS sum_val,
             CAST(greatest(v0, v1) AS BIGINT) AS max_val,
             CAST(8 * (v0 + v1) AS BIGINT) AS top_row_sum
      FROM (
        SELECT media_id,
               (media_id * 7) % 256 AS v0,
               (media_id * 7 + 31) % 256 AS v1
        FROM m WHERE media_id % 2 = 0
      )
    ), color AS (
      SELECT media_id, CAST(c.ch AS INTEGER) AS channel,
             CAST(64 AS BIGINT) AS n_pixels,
             CAST(64 * v AS BIGINT) AS sum_val,
             CAST(v AS BIGINT) AS max_val,
             CAST(8 * v AS BIGINT) AS top_row_sum
      FROM (
        SELECT media_id, ch,
               CASE ch WHEN 0 THEN (media_id * 5) % 256
                       WHEN 1 THEN (media_id * 3) % 256
                       ELSE (media_id * 11) % 256 END AS v
        FROM m, unnest([0, 1, 2]) AS c(ch)
        WHERE media_id % 2 = 1
      ) c
    )
    SELECT media_id, CAST(channel AS INTEGER) AS channel,
           n_pixels, sum_val, max_val, top_row_sum
    FROM gray
    UNION ALL
    SELECT media_id, channel, n_pixels, sum_val, max_val, top_row_sum
    FROM color
    """,
    "FULL baseline-JPEG decode, gated end-to-end — the engine's first "
    "LOSSY-family codec (operators/jpeg.py, r18; the format whose "
    "absence kept decode_stub alive for images). Payloads are complete "
    "spec-compliant JFIF files (Annex K Huffman tables, real entropy "
    "coding, byte stuffing, restart markers on the grayscale half, a "
    "non-unit DC quant step on the color half) and the mapInPandas "
    "kernel runs the REAL decode: marker walk, Huffman, dequantize, "
    "de-zigzag, float IDCT, level shift — then per-channel exact-int "
    "stats over the storage-native YCbCr planes (the BMP twin gates "
    "storage-order B/G/R for the same reason; RGB conversion is pinned "
    "in tests/test_jpeg.py). The synthesis is DC-only, so the lossy "
    "pipeline is exactly invertible and the oracle derives every "
    "number from id algebra without touching bytes. AC coefficients, "
    "4:2:0, and corruption behavior are pinned by the fuzz + "
    "independent-IDCT tests. Scale: map-only; payload bytes never "
    "leave the scanning executor.",
)
def jpeg_pixel_stats(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.jpeg import (
        extract_jpeg_pixels,
        synthesize_jpeg_payloads,
    )
    from amsterdam_map_data_wrangling_spark.operators.layout import (
        kernel_partitions,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    # the ~130 us/row Python kernel needs an exchange sized by rows even
    # below the loader's byte floor (sf0.1's 5k rows: 1 task 1.09 s, 8-16
    # tasks 0.46 s); hashing the unique id keeps retries deterministic.
    # All three regimes pinned in tests/test_jpeg.py.
    n_parts = kernel_partitions(spark, f"{sf_dir}/documents.parquet")
    if n_parts is not None:
        documents = documents.repartition(n_parts, "doc_id")
    return extract_jpeg_pixels(synthesize_jpeg_payloads(documents, "doc_id"))
