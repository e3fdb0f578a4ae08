"""Multimodal plumbing query: binary payload + metadata -> mapInPandas
feature extraction. The oracle recomputes the deterministic stub decode in
pure SQL (hex-digit arithmetic over md5), so the whole Arrow/mapInPandas
path is value-checked against an independent derivation.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints here
from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.caching import scratch_dir
from pasardassist_spark.operators.multimodal import attach_payload, extract_features
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, map_rows


def _hexval(expr: str) -> str:
    return f"(instr('0123456789abcdef', {expr}) - 1)"


def _hex4_to_int(start: int) -> str:
    """SQL for int(md5_hex[start:start+4], 16) over md5(text)."""
    digits = [
        f"{_hexval(f'substr(md5(text), {start + i}, 1)')} * {16 ** (3 - i)}" for i in range(4)
    ]
    return "(" + " + ".join(digits) + ")"


@query(
    "mm_decode_features",
    oracle=f"""
    SELECT doc_id,
           'text/plain' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST({_hex4_to_int(1)} % 1024 AS INTEGER) AS width,
           CAST({_hex4_to_int(5)} % 1024 AS INTEGER) AS height
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary payload column + metadata
    struct driven through an Arrow-batched mapInPandas decode stage. These
    text/plain payloads take the deterministic digest fallback (the oracle
    re-derives it in SQL); real image bytes take the pure-Python decoders —
    see mm_decode_real for that branch's hash-checked coverage."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_features(attach_payload(d))


@query(
    "mm_decode_real",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 61 + 4 AS w,
               (doc_id * 7) % 53 + 4 AS h,
               CASE doc_id % 3
                   WHEN 0 THEN 'image/x-portable-pixmap'
                   WHEN 1 THEN 'image/bmp'
                   ELSE 'image/png'
               END AS kind
        FROM documents
    )
    SELECT d.doc_id,
           d.kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
                 (x.x * 7 + y.y * 13 + d.doc_id) % 256
               + (x.x * 7 + y.y * 13 + d.doc_id + 29) % 256
               + (x.x * 7 + y.y * 13 + d.doc_id + 58) % 256
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 65)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 57)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.kind, d.w, d.h
    """,
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: every document gets a genuine image
    payload (format rotates PPM / BMP / PNG by doc_id % 3; deterministic
    synthetic raster), which the pure-Python codecs in
    operators/imagecodec.py then parse back — netpbm header scan, BMP
    BGR/stride/bottom-up handling, PNG zlib-inflate + scanline unfilter.
    The oracle re-derives dimensions AND the full raster checksum from
    doc_id arithmetic alone, so a hash match certifies byte-exact decode
    across all three containers on 500 real files (encode and decode only
    share the Raster type, not parsing logic)."""
    from pasardassist_spark.operators.multimodal import (
        attach_image_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_image_payload(d))


@query(
    "mm_resize_real",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 61 + 4 AS w,
               (doc_id * 7) % 53 + 4 AS h
        FROM documents
    ),
    outdims AS (
        SELECT doc_id, w, h,
               GREATEST(CAST(floor(w * LEAST(16.0 / GREATEST(w, h), 1.0))
                   AS INTEGER), 1) AS ow,
               GREATEST(CAST(floor(h * LEAST(16.0 / GREATEST(w, h), 1.0))
                   AS INTEGER), 1) AS oh
        FROM dims
    )
    SELECT d.doc_id,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           CAST(d.ow AS INTEGER) AS out_w,
           CAST(d.oh AS INTEGER) AS out_h,
           CAST(length('P6' || chr(10) || d.ow || ' ' || d.oh
               || chr(10) || '255' || chr(10)) + d.ow * d.oh * 3
               AS BIGINT) AS thumb_len,
           CAST(SUM(
                 ((x.x * d.w) // d.ow * 7 + (y.y * d.h) // d.oh * 13
                   + d.doc_id) % 256
               + ((x.x * d.w) // d.ow * 7 + (y.y * d.h) // d.oh * 13
                   + d.doc_id + 29) % 256
               + ((x.x * d.w) // d.ow * 7 + (y.y * d.h) // d.oh * 13
                   + d.doc_id + 58) % 256
           ) AS BIGINT) AS thumb_sum
    FROM outdims d
    JOIN (SELECT unnest(range(0, 17)) AS x) x ON x.x < d.ow
    JOIN (SELECT unnest(range(0, 17)) AS y) y ON y.y < d.oh
    GROUP BY d.doc_id, d.w, d.h, d.ow, d.oh
    """,
)
def mm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize: decode each genuine payload, nearest-neighbor resample
    to a 16px-max thumbnail, re-encode as binary PPM. The oracle re-derives
    the resampled raster checksum from pure arithmetic (nearest-neighbor
    source coordinate = (dst*src)//out), so the hash match certifies the
    actual pixel work — decode, point-sampling grid, PPM re-encode — not
    just the dimension math."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from pasardassist_spark.operators.multimodal import (
        attach_image_payload,
        resize_images,
    )

    @pandas_udf("long")
    def thumb_pixel_sum(thumb: pd.Series) -> pd.Series:
        from pasardassist_spark.operators import imagecodec

        return thumb.map(lambda b: sum(imagecodec.decode(b).pixels))

    d = load(spark, sf_dir, "documents").select("doc_id")
    out = resize_images(attach_image_payload(d), max_side=16)
    return out.select(
        "doc_id",
        "width",
        "height",
        "out_w",
        "out_h",
        (F.octet_length("thumb")).cast("long").alias("thumb_len"),
        thumb_pixel_sum("thumb").alias("thumb_sum"),
    )


# coprime with the 3-way format rotation, so a duplicate group's members
# land in DIFFERENT containers (doc_id and doc_id+151 share a raster but
# differ in format) — the cross-format property the query certifies
_DHASH_SEED_MOD = 151

# shared SQL fragments for the dHash oracle: gray level of the 9x8
# downsample at column expression `xc` (0..8), row y (0..7), for the
# synthetic raster seeded by `seed` — all integer arithmetic
_DH = dict(
    seed=f"(d.doc_id % {_DHASH_SEED_MOD})",
    w=f"((d.doc_id % {_DHASH_SEED_MOD}) % 61 + 4)",
    h=f"(((d.doc_id % {_DHASH_SEED_MOD}) * 7) % 53 + 4)",
)


def _dh_gray(xc: str) -> str:
    b = f"((({xc}) * {_DH['w']}) // 9 * 7 + ((y.y * {_DH['h']}) // 8) * 13 + {_DH['seed']})"
    return f"(({b} % 256) + (({b} + 29) % 256) + (({b} + 58) % 256)) // 3"


@query(
    "mm_dhash_dedup",
    oracle=f"""
    WITH bits AS (
        SELECT d.doc_id,
               y.y * 8 + x.x AS pos,
               CASE WHEN {_dh_gray('x.x')} < {_dh_gray('x.x + 1')}
                    THEN 1 ELSE 0 END AS bit
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
        CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN pos >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (pos - 32))
                    ELSE 0 END) AS BIGINT) AS dhash_hi,
               CAST(SUM(CASE WHEN pos < 32
                    THEN bit * (CAST(1 AS BIGINT) << pos)
                    ELSE 0 END) AS BIGINT) AS dhash_lo
        FROM bits GROUP BY doc_id
    )
    SELECT doc_id, dhash_hi, dhash_lo,
           CAST(COUNT(*) OVER (PARTITION BY dhash_hi, dhash_lo) AS BIGINT)
               AS dup_group_size,
           CAST(MIN(doc_id) OVER (PARTITION BY dhash_hi, dhash_lo) AS BIGINT)
               AS canonical_id
    FROM hashes
    """,
)
def mm_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup on REAL decoded bytes: every document gets a
    genuine image payload seeded by doc_id % 151 (planted
    duplicate groups whose members usually land in DIFFERENT containers —
    the same raster as PPM, BMP, and PNG), the pure-Python codecs decode
    them, and the dHash stage (9x8 nearest downsample → luminance
    gradient bits) groups exact perceptual matches. Cross-format dup
    groups certify that the hash sees pixels, not bytes — content-hash
    dedup would call these distinct files. The oracle re-derives every
    hash bit from doc_id arithmetic. At 100 TB: one groupBy on the hash
    pair, the image sibling of exact text dedup; Hamming-banded LSH
    extends it to near-dups (operators/dedup.py discipline)."""
    from pyspark.sql import Window as W, functions as F

    from pasardassist_spark.operators.multimodal import (
        attach_image_payload,
        dhash_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    hashes = dhash_images(
        attach_image_payload(d, seed_mod=_DHASH_SEED_MOD)
    )
    w = W.partitionBy("dhash_hi", "dhash_lo")
    return hashes.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.count(F.lit(1)).over(w).cast("long").alias("dup_group_size"),
        F.min("doc_id").over(w).cast("long").alias("canonical_id"),
    )


def _dh_gray_marked(xc: str) -> str:
    """Gray level of 9x8 cell (xc, y.y) under the corner-mark corpus:
    variant docs (doc_id % 7 == 3) have source pixel (0,0) painted white."""
    sx = f"((({xc}) * {_DH['w']}) // 9)"
    sy = f"((y.y * {_DH['h']}) // 8)"
    b = f"({sx} * 7 + {sy} * 13 + {_DH['seed']})"
    plain = f"(({b} % 256) + (({b} + 29) % 256) + (({b} + 58) % 256)) // 3"
    return (
        f"CASE WHEN d.doc_id % 7 = 3 AND {sx} = 0 AND {sy} = 0 "
        f"THEN 255 ELSE {plain} END"
    )


@query(
    "mm_dhash_near_pairs",
    oracle=f"""
    WITH bits AS (
        SELECT d.doc_id,
               y.y * 8 + x.x AS pos,
               CASE WHEN {_dh_gray_marked('x.x')} < {_dh_gray_marked('x.x + 1')}
                    THEN 1 ELSE 0 END AS bit
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
        CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN pos >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (pos - 32))
                    ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN pos < 32
                    THEN bit * (CAST(1 AS BIGINT) << pos)
                    ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
               AS INTEGER) AS dist
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """,
)
def mm_dhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate image pairs on real decoded bytes: the planted-dup
    corpus plus a one-white-pixel corner mark on every 7th document, so
    same-seed pairs split into exact (distance 0) and near (small nonzero
    Hamming distance — only the dHash cells sampling the marked pixel
    flip). Candidates come from the 4x16-bit band join (pigeonhole:
    distance <= 3 forces at least one exact band match, so recall is
    GUARANTEED, never probabilistic); the oracle is the unpruned O(n^2)
    popcount join, so the hash match certifies zero recall loss from the
    banding — the same certificate dedup_setjoin_prefix carries for text.
    """
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.multimodal import (
        attach_image_payload,
        dhash_images,
        dhash_near_pairs,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    hashes = dhash_images(
        attach_image_payload(d, seed_mod=_DHASH_SEED_MOD, mark_corner=(7, 3))
    )
    return dhash_near_pairs(hashes, max_dist=3).select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


@query(
    "mm_video_frames",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 6 + 2 AS n,
               doc_id % 13 + 4 AS w,
               (doc_id * 3) % 11 + 4 AS h
        FROM documents
    ),
    picks AS (
        SELECT b.doc_id, b.n, b.w, b.h,
               CAST(i.i AS INTEGER) AS sample_i,
               CAST((i.i * b.n) // 4 AS INTEGER) AS frame_idx
        FROM base b CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
    )
    SELECT p.doc_id, p.sample_i, p.frame_idx,
           CAST(p.n AS INTEGER) AS n_frames,
           CAST(p.w AS INTEGER) AS width,
           CAST(p.h AS INTEGER) AS height,
           CAST(SUM(
                 (x.x * 7 + y.y * 13 + p.doc_id + p.frame_idx * 17) % 256
               + (x.x * 7 + y.y * 13 + p.doc_id + p.frame_idx * 17 + 29) % 256
               + (x.x * 7 + y.y * 13 + p.doc_id + p.frame_idx * 17 + 58) % 256
           ) AS BIGINT) AS pixel_sum
    FROM picks p
    JOIN (SELECT unnest(range(0, 17)) AS x) x ON x.x < p.w
    JOIN (SELECT unnest(range(0, 15)) AS y) y ON y.y < p.h
    GROUP BY p.doc_id, p.sample_i, p.frame_idx, p.n, p.w, p.h
    """,
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video keyframe sampling: each document gets a genuine AVI
    container (RIFF hdrl/movi tree, 2-7 uncompressed DIB frames) built
    and then PARSED back by the pure-Python codec in
    operators/videocodec.py — header walk, stream-format validation,
    bottom-up BGR stride-padded frame bits. Four evenly-spaced keyframes
    per video are sampled from the DECODED frame list (not byte offsets —
    the former stub is retired) and checksummed; the oracle re-derives
    every frame's raster sum from doc_id arithmetic, so the hash match
    certifies the container round-trip frame-for-frame."""
    from pasardassist_spark.operators.multimodal import video_sample_frames

    d = load(spark, sf_dir, "documents").select("doc_id")
    return video_sample_frames(d, k=4)


def _vid_gray(xc: str) -> str:
    """Gray of 9x8 cell (xc, y.y) of frame `fr` for the seeded video
    corpus (seed = doc_id % 89): dims w = seed%13+4, h = (seed*3)%11+4,
    pixel base = sx*7 + sy*13 + seed + fr*17."""
    w = "(d.seed % 13 + 4)"
    h = "((d.seed * 3) % 11 + 4)"
    sx = f"((({xc}) * {w}) // 9)"
    sy = f"((y.y * {h}) // 8)"
    b = f"({sx} * 7 + {sy} * 13 + d.seed + fsel.fr * 17)"
    return f"(({b} % 256) + (({b} + 29) % 256) + (({b} + 58) % 256)) // 3"


@query(
    "mm_video_dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               doc_id % 89 AS seed,
               (doc_id % 89) % 6 + 2 AS n
        FROM documents
    ),
    bits AS (
        SELECT d.doc_id, d.n, fsel.which,
               y.y * 8 + x.x AS pos,
               CASE WHEN {_vid_gray('x.x')} < {_vid_gray('x.x + 1')}
                    THEN 1 ELSE 0 END AS bit
        FROM base d
        CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
        CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
        CROSS JOIN LATERAL (
            SELECT 'first' AS which, 0 AS fr
            UNION ALL SELECT 'last', d.n - 1
        ) fsel
    ),
    hashes AS (
        SELECT doc_id, n, which,
               CAST(SUM(CASE WHEN pos >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (pos - 32))
                    ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN pos < 32
                    THEN bit * (CAST(1 AS BIGINT) << pos)
                    ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id, n, which
    ),
    sig AS (
        SELECT f.doc_id,
               CAST(f.n AS INTEGER) AS n_frames,
               f.hi AS first_hi, f.lo AS first_lo,
               l.hi AS last_hi, l.lo AS last_lo
        FROM (SELECT * FROM hashes WHERE which = 'first') f
        JOIN (SELECT * FROM hashes WHERE which = 'last') l
          ON f.doc_id = l.doc_id
    )
    SELECT doc_id, n_frames, first_hi, first_lo, last_hi, last_lo,
           CAST(COUNT(*) OVER (PARTITION BY n_frames, first_hi, first_lo,
                last_hi, last_lo) AS BIGINT) AS dup_group_size,
           CAST(MIN(doc_id) OVER (PARTITION BY n_frames, first_hi, first_lo,
                last_hi, last_lo) AS BIGINT) AS canonical_id
    FROM sig
    """,
)
def mm_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level video dedup on real decoded bytes: a seeded corpus
    (doc_id % 89 selects the clip) round-trips genuine AVI containers,
    and each clip folds to its bookend signature — frame count plus the
    dHashes of the first and last DECODED frames (the cheap pre-filter
    real video dedup runs before full frame-sequence comparison). The
    oracle re-derives every signature bit from the closed-form frame
    arithmetic, so the hash match certifies container round-trip AND
    frame-order preservation (a codec bug reordering or dropping frames
    flips the 'last' hash). Completes the per-modality dedup triple next
    to mm_dhash_dedup (images) and mm_audio_fp_dedup (audio)."""
    from pyspark.sql import Window as W, functions as F

    from pasardassist_spark.operators.multimodal import video_fingerprints

    d = load(spark, sf_dir, "documents").select("doc_id")
    sig = video_fingerprints(d, seed_mod=89)
    w = W.partitionBy("n_frames", "first_hi", "first_lo", "last_hi", "last_lo")
    return sig.select(
        "doc_id",
        "n_frames",
        "first_hi",
        "first_lo",
        "last_hi",
        "last_lo",
        F.count(F.lit(1)).over(w).cast("long").alias("dup_group_size"),
        F.min("doc_id").over(w).cast("long").alias("canonical_id"),
    )


@query(
    "mm_audio_features",
    oracle="""
    WITH base AS (
        SELECT doc_id, doc_id % 300 + 100 AS n FROM documents
    ),
    samp AS (
        SELECT b.doc_id, b.n, i.i,
               ((i.i * 37 + b.doc_id * 11) % 2048) - 1024 AS s
        FROM base b JOIN (SELECT unnest(range(0, 400)) AS i) i ON i.i < b.n
    ),
    flips AS (
        SELECT doc_id, n, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM samp
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n // 8 AS INTEGER) AS duration_ms,
           CAST(SUM(s * s) AS BIGINT) AS sq_sum,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INTEGER)
               AS zero_crossings
    FROM flips
    GROUP BY doc_id, n
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: a genuine RIFF/PCM16 WAV payload per
    document (deterministic integer samples), parsed back by the
    pure-Python codec (operators/audiocodec.py — RIFF chunk walk, fmt
    validation, sample unpacking) into integer-exact features: energy as
    the raw sum of squares and strict zero crossings. The oracle
    re-derives both from the closed-form sample formula (8 kHz mono,
    duration = n/8 ms), so a hash match certifies the full
    encode→container→decode→feature path sample-for-sample."""
    from pasardassist_spark.operators.multimodal import audio_features

    d = load(spark, sf_dir, "documents").select("doc_id")
    return audio_features(d)


@query(
    "mm_audio_fp_dedup",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 101 AS seed,
               (doc_id // 101) % 3 + 1 AS gain,
               (doc_id % 101) % 300 + 100 AS n
        FROM documents
    ),
    samp AS (
        SELECT b.doc_id, b.n,
               (i.i * 32) // b.n AS f,
               (((i.i * 37 + b.seed * 11) % 2048) - 1024) * b.gain AS s
        FROM base b JOIN (SELECT unnest(range(0, 400)) AS i) i ON i.i < b.n
    ),
    frames AS (
        SELECT doc_id, f, SUM(s * s) AS e FROM samp GROUP BY doc_id, f
    ),
    deltas AS (
        SELECT doc_id, f,
               CASE WHEN e > LAG(e) OVER (PARTITION BY doc_id ORDER BY f)
                    THEN 1 ELSE 0 END AS bit
        FROM frames
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN f >= 1
                    THEN bit * (CAST(1 AS BIGINT) << (f - 1))
                    ELSE 0 END) AS BIGINT) AS fingerprint
        FROM deltas GROUP BY doc_id
    )
    SELECT doc_id, fingerprint,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT)
               AS dup_group_size,
           CAST(MIN(doc_id) OVER (PARTITION BY fingerprint) AS BIGINT)
               AS canonical_id
    FROM fp
    """,
)
def mm_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio recording-level dedup on real decoded bytes: a volume-variant
    corpus (documents sharing doc_id % 101 are the SAME recording at gain
    1-3x) round-trips genuine WAV containers, folds to the 31-bit
    energy-delta fingerprint (operators/audiocodec.py:energy_fingerprint
    — the integer-exact skeleton of Chromaprint-style spectral-delta
    matching), and groups by fingerprint. Re-leveled copies collapse
    because uniform gain scales every frame energy by gain^2, preserving
    every delta comparison — byte/content-hash dedup would keep all
    three levels. The oracle recomputes every fingerprint bit from the
    closed-form sample formula WITH the gain applied, so the hash match
    certifies the invariance on actual values, not by construction."""
    from pyspark.sql import Window as W, functions as F

    from pasardassist_spark.operators.multimodal import audio_fingerprints

    d = load(spark, sf_dir, "documents").select("doc_id")
    fp = audio_fingerprints(d)
    w = W.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(w).cast("long").alias("dup_group_size"),
        F.min("doc_id").over(w).cast("long").alias("canonical_id"),
    )


@query(
    "mm_resize_thumbs",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, text,
               CAST({_hex4_to_int(1)} % 1024 AS INTEGER) AS width,
               CAST({_hex4_to_int(5)} % 1024 AS INTEGER) AS height
        FROM documents
    ),
    scaled AS (
        SELECT doc_id, text, width, height,
               LEAST(128.0 / GREATEST(width, height), 1.0) AS scale
        FROM dims
    ),
    outdims AS (
        SELECT doc_id, text, width, height,
               GREATEST(CAST(floor(width * scale) AS INTEGER), 1) AS out_w,
               GREATEST(CAST(floor(height * scale) AS INTEGER), 1) AS out_h
        FROM scaled
    )
    SELECT doc_id, width, height, out_w, out_h,
           md5(substr(text, 1,
               GREATEST(1, CAST(floor(length(text)
                   * LEAST(1.0, (out_w * out_h) / 1048576.0)) AS INTEGER))
           )) AS thumb_md5,
           CAST(GREATEST(1, CAST(floor(length(text)
               * LEAST(1.0, (out_w * out_h) / 1048576.0)) AS INTEGER)) AS BIGINT)
               AS thumb_len
    FROM outdims
    """,
)
def mm_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: aspect-preserving thumbnail dimensions plus
    a (stub) thumbnail payload per document, Arrow-batched. The oracle
    re-derives the dimension math and the deterministic stub truncation in
    SQL over the same bytes (documents are ASCII, so VARCHAR ops equal byte
    ops); thumbnails are compared by md5 + length, not raw binary."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.multimodal import resize_thumbnails

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = resize_thumbnails(attach_payload(d))
    return out.select(
        "doc_id",
        "width",
        "height",
        "out_w",
        "out_h",
        F.md5("thumb").alias("thumb_md5"),
        F.octet_length("thumb").cast("long").alias("thumb_len"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, GREATEST(1, length(text)) AS n FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST((i * n) // 4 AS BIGINT) AS frame_offset,
           md5(substr(text, CAST((i * n) // 4 AS BIGINT) + 1, 16)) AS frame_md5
    FROM base CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: each payload fans out to 4 evenly-spaced
    frame rows (the video keyframe shape; ST5 fan-out driven through the
    codec-requiring Python stage). Offsets are exact; frame bytes are the
    documented stub slice, value-checked via md5."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.multimodal import sample_frames

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = sample_frames(attach_payload(d))
    return out.select(
        "doc_id", "frame_idx", "frame_offset", F.md5("frame").alias("frame_md5")
    )


@query(
    "mm_gif_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 61 + 4 AS w,
               (doc_id * 7) % 53 + 4 AS h
        FROM documents
    )
    SELECT d.doc_id,
           'image/gif' AS kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
                 (x.x * 7 + y.y * 13 + d.doc_id) % 256
               + ((x.x * 7 + y.y * 13 + d.doc_id) % 256 + 29) % 256
               + ((x.x * 7 + y.y * 13 + d.doc_id) % 256 + 58) % 256
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 65)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 57)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end: every document gets a genuine GIF89a
    payload (indexed-color synthetic raster whose palette expansion equals
    synth_raster exactly), which operators/gifcodec.py then parses back —
    header/color-table walk plus a full variable-width LZW decode
    (dictionary growth, KwKwK, width changes at 512/1024/2048). The oracle
    re-derives dimensions AND the raster checksum from doc_id arithmetic
    alone (palette entry c expands to (c, (c+29)%256, (c+58)%256), so the
    sum is over the INDEX formula mod-reduced first — congruent to
    mm_decode_real's direct form, written palette-wise here to mirror the
    decode path), certifying byte-exact LZW decompression on 500 real
    files."""
    from pasardassist_spark.operators.multimodal import (
        attach_gif_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_gif_payload(d))


@query(
    "mm_jpeg_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 57 + 4 AS w,
               (doc_id * 11) % 47 + 4 AS h
        FROM documents
    )
    SELECT d.doc_id,
           'image/jpeg' AS kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
               3 * (2 * (((x.x // 8) * 19 + (y.y // 8) * 31 + d.doc_id) % 128))
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 61)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 51)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end (VERDICT r10 #6 — the format
    that dominates real crawls): every document gets a genuine JFIF
    payload this repo's own encoder produced (4:2:0, restart markers,
    Annex-K-style tables with flat Q=16), and operators/jpegcodec.py
    decodes it back — full marker walk, canonical Huffman decode with
    byte unstuffing and RSTn resets, dequantize, float IDCT, chroma
    upsample, YCbCr->RGB. The fixture family is block-constant with even
    level-shifted values, making the LOSSY pipeline bit-exact (DC-only
    blocks survive quantize->IDCT unchanged — jpegcodec's exactness
    note), so the oracle re-derives the decoded raster checksum from
    doc_id arithmetic alone. Progressive/arithmetic variants raise at
    the documented libjpeg seam; AC-coefficient coding is pytest-pinned
    against an independent reference pipeline (tests/test_jpegcodec.py)."""
    from pasardassist_spark.operators.multimodal import (
        attach_jpeg_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_jpeg_payload(d))


@query(
    "mm_mjpeg_frames",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 6 + 2 AS n,
               doc_id % 21 + 4 AS w,
               (doc_id * 5) % 19 + 4 AS h
        FROM documents
    ),
    picks AS (
        SELECT b.doc_id, b.n, b.w, b.h,
               CAST(i.i AS INTEGER) AS sample_i,
               CAST((i.i * b.n) // 4 AS INTEGER) AS frame_idx
        FROM base b CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
    )
    SELECT p.doc_id, p.sample_i, p.frame_idx,
           CAST(p.n AS INTEGER) AS n_frames,
           CAST(p.w AS INTEGER) AS width,
           CAST(p.h AS INTEGER) AS height,
           CAST(SUM(
               3 * (2 * (((x.x // 8) * 19 + (y.y // 8) * 31
                          + p.doc_id + p.frame_idx * 17) % 128))
           ) AS BIGINT) AS pixel_sum
    FROM picks p
    JOIN (SELECT unnest(range(0, 25)) AS x) x ON x.x < p.w
    JOIN (SELECT unnest(range(0, 23)) AS y) y ON y.y < p.h
    GROUP BY p.doc_id, p.sample_i, p.frame_idx, p.n, p.w, p.h
    """,
)
def mm_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG keyframe sampling end-to-end (the second entry of the
    r10 'compressed real-world media' gap, composed from this round's
    JPEG codec): genuine MJPEG AVI containers — every frame a standalone
    baseline JPEG with restart markers inside the RIFF tree — parsed
    back by operators/videocodec.py routing each 00dc chunk through
    operators/jpegcodec.py, four evenly-spaced keyframes checksummed.
    The block-constant fixture family makes the lossy per-frame decode
    bit-exact, so the oracle re-derives every sampled frame's raster sum
    from doc_id arithmetic alone — certifying the container walk, the
    MJPG fourcc routing, and the full JPEG pipeline per frame."""
    from pasardassist_spark.operators.multimodal import mjpeg_sample_frames

    d = load(spark, sf_dir, "documents").select("doc_id")
    return mjpeg_sample_frames(d, k=4)


@query(
    "mm_jpeg_progressive",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 49 + 4 AS w,
               (doc_id * 13) % 41 + 4 AS h
        FROM documents
    )
    SELECT d.doc_id,
           'image/jpeg' AS kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
               3 * (2 * (((x.x // 8) * 23 + (y.y // 8) * 37 + d.doc_id) % 128))
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 53)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 45)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def mm_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PROGRESSIVE-JPEG decode end-to-end — the format variant most
    web JPEGs actually use (SOF2, multi-scan): every document gets a
    genuine progressive file from this repo's own encoder (DC first pass
    at Al=1, DC bit refinement, two spectral AC bands per component at
    Al=1, AC bit-refinement passes, 4:2:0, restart markers per scan) and
    operators/jpegcodec.py accumulates coefficients across all 8+ scans
    before one reconstruction. The block-constant exact-roundtrip family
    lets the SQL oracle re-derive every decoded raster checksum from
    doc_id arithmetic, certifying spectral selection, successive
    approximation (DC and AC), EOB-run decoding, and per-scan RSTn
    resets on 500 real multi-scan files. Baseline parity on dense
    coefficients is pytest-pinned (progressive == sequential pixels on
    random rasters)."""
    from pasardassist_spark.operators.multimodal import (
        attach_jpeg_progressive_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_jpeg_progressive_payload(d))


@query(
    "mm_audio_float",
    oracle="""
    WITH base AS (
        SELECT doc_id, doc_id % 300 + 100 AS n FROM documents
    ),
    samp AS (
        SELECT b.doc_id, b.n, i.i,
               ((i.i * 37 + b.doc_id * 11) % 2048) - 1024 AS s
        FROM base b JOIN (SELECT unnest(range(0, 400)) AS i) i ON i.i < b.n
    ),
    flips AS (
        SELECT doc_id, n, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM samp
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n // 8 AS INTEGER) AS duration_ms,
           CAST(SUM(s * s) AS BIGINT) AS sq_sum,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INTEGER)
               AS zero_crossings
    FROM flips
    GROUP BY doc_id, n
    """,
)
def mm_audio_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IEEE-FLOAT WAV decode (format tag 3 — the r10 missing-list's
    last stdlib-feasible audio member): the mm_audio_features sample
    family written as float32/float64 payloads (alternating by doc_id)
    and normalized back into the PCM16 domain by the ffmpeg/sox
    convention (clip to [-1,1], x32767, round half even). The float32
    relative error is small enough that the round-trip lands on the
    exact original integers, so the SAME closed-form integer oracle as
    the PCM path certifies the float sample unpacking and normalization
    bit-for-bit on 500 real files of each width."""
    from pasardassist_spark.operators.multimodal import audio_features_float

    d = load(spark, sf_dir, "documents").select("doc_id")
    return audio_features_float(d)


@query(
    "mm_webp_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 45 + 4 AS w,
               (doc_id * 3) % 37 + 4 AS h
        FROM documents
    )
    SELECT d.doc_id,
           'image/webp' AS kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
                 (x.x * 7 + y.y * 13 + d.doc_id) % 256
               + ((x.x * 7 + y.y * 13 + d.doc_id) % 256 + 29) % 256
               + ((x.x * 7 + y.y * 13 + d.doc_id) % 256 + 58) % 256
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 49)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 41)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def mm_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode end-to-end
    (operators/webpcodec.py — the web's lossless/transparency format,
    closing the WebP name from the r10 media gap list): every document
    gets a genuine RIFF/VP8L file from this repo's own encoder, with
    doc_id rotating the coding route through every decoder path —
    canonical prefix codes (simple AND code-length-coded), LZ77
    backward references, the 0x1e35a7bd color cache, and all four
    transforms (all 14 predictor modes across docs, color transform,
    subtract-green, color-indexing with sub-byte bundling). VP8L is
    LOSSLESS, so the decoded raster equals the synth_raster closed form
    exactly regardless of route, and one SQL pixel-sum oracle certifies
    all six variants on 500 real files. Lossy VP8/VP8X raise by name at
    the libwebp seam."""
    from pasardassist_spark.operators.multimodal import (
        attach_webp_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_webp_payload(d))


@query(
    "mm_png_variants",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               doc_id % 41 + 4 AS w,
               (doc_id * 7) % 31 + 4 AS h,
               CASE WHEN doc_id % 4 = 3 THEN 16 ELSE 256 END AS m
        FROM documents
    )
    SELECT d.doc_id,
           'image/png' AS kind,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(
                 (x.x * 7 + y.y * 13 + d.doc_id) % d.m
               + ((x.x * 7 + y.y * 13 + d.doc_id) % d.m + 29) % 256
               + ((x.x * 7 + y.y * 13 + d.doc_id) % d.m + 58) % 256
           ) AS BIGINT) AS pixel_sum
    FROM dims d
    JOIN (SELECT unnest(range(0, 45)) AS x) x ON x.x < d.w
    JOIN (SELECT unnest(range(0, 35)) AS y) y ON y.y < d.h
    GROUP BY d.doc_id, d.w, d.h, d.m
    """,
)
def mm_png_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode across the real-world feature matrix the r11 decoder
    upgrade added (operators/imagecodec.py): Adam7 INTERLACED files
    (seven filtered sub-passes de-interlaced into one raster) and
    PALETTE files (PLTE expansion, including depth-4 sub-byte index
    unpacking), next to the plain truecolor baseline — one variant per
    doc_id % 4, every payload a genuine file from this repo's writers.
    PNG is lossless, so a single closed-form pixel-sum oracle (with the
    16-color CASE for the depth-4 variant) certifies all four container
    routes; 16-bit MSB normalization and depth-1/2 gray scaling are
    pytest-pinned on hand-built files (tests/test_imagecodec.py)."""
    from pasardassist_spark.operators.multimodal import (
        attach_png_variant_payload,
        decode_images,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_png_variant_payload(d))


@query(
    "mm_gif_frames",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 2 AS n,
               doc_id % 23 + 10 AS w,
               (doc_id * 3) % 19 + 10 AS h
        FROM documents
    ),
    picks AS (
        SELECT b.doc_id, b.n, b.w, b.h,
               CAST(i.i AS INTEGER) AS sample_i,
               CAST((i.i * b.n) // 3 AS INTEGER) AS frame_idx
        FROM base b CROSS JOIN (SELECT unnest(range(0, 3)) AS i) i
    ),
    px AS (
        SELECT p.doc_id, p.sample_i, p.frame_idx, p.n, p.w, p.h,
               (x.x * 7 + y.y * 13 + p.doc_id
                + 17 * LEAST(p.frame_idx,
                             LEAST(x.x, y.y, p.w - 1 - x.x, p.h - 1 - y.y))
               ) % 256 AS c
        FROM picks p
        JOIN (SELECT unnest(range(0, 33)) AS x) x ON x.x < p.w
        JOIN (SELECT unnest(range(0, 29)) AS y) y ON y.y < p.h
    )
    SELECT doc_id, sample_i, frame_idx,
           CAST(n AS INTEGER) AS n_frames,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM(c + (c + 29) % 256 + (c + 58) % 256) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, sample_i, frame_idx, n, w, h
    """,
)
def mm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ANIMATED-GIF frame sampling end-to-end
    (operators/gifcodec.py:decode_gif_frames — multi-frame GIF89a with
    Graphic Control Extensions, sub-rectangle compositing, and the three
    disposal methods; the r9 static decoder handled one frame): every
    document gets a genuine animation of concentric inset frames, whose
    composited canvas after frame fr is closed-form (each pixel shows
    layer min(fr, border-distance)), so the oracle re-derives every
    sampled snapshot's checksum from doc_id arithmetic — certifying the
    per-frame LZW decode, the (x, y) offset compositing, and the
    keep-disposal sequencing on 500 real animations.
    Restore-to-background/previous disposal and transparency are
    pytest-pinned on hand fixtures (tests/test_gifcodec.py)."""
    from pasardassist_spark.operators.multimodal import gif_sample_frames

    d = load(spark, sf_dir, "documents").select("doc_id")
    return gif_sample_frames(d, k=3)


@query(
    "mm_audio_g711",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 181 + 60 AS n,
               CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law
        FROM documents
    ),
    codes AS (
        SELECT b.doc_id, b.law, b.n, (i.i * 7 + b.doc_id) % 256 AS c
        FROM base b JOIN (SELECT unnest(range(0, 241)) AS i) i ON i.i < b.n
    ),
    dec AS (
        SELECT doc_id, law, n,
               CASE WHEN law = 'ulaw' THEN
                   CASE WHEN (255 - c) >= 128
                        THEN 132 - ((((255 - c) % 16) * 8 + 132)
                                    * (1 << ((255 - c) // 16 % 8)))
                        ELSE (((255 - c) % 16) * 8 + 132)
                             * (1 << ((255 - c) // 16 % 8)) - 132
                   END
               ELSE
                   CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
                   CASE (xor(c, 85) // 16) % 8
                       WHEN 0 THEN (xor(c, 85) % 16) * 16 + 8
                       WHEN 1 THEN (xor(c, 85) % 16) * 16 + 264
                       ELSE ((xor(c, 85) % 16) * 16 + 264)
                            * (1 << ((xor(c, 85) // 16) % 8 - 1))
                   END
               END AS s
        FROM codes
    )
    SELECT doc_id, law, CAST(n AS INTEGER) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sum_pcm,
           CAST(MIN(s) AS INTEGER) AS min_pcm,
           CAST(MAX(s) AS INTEGER) AS max_pcm
    FROM dec GROUP BY doc_id, law, n
    """,
)
def mm_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 telephony-audio decode end-to-end
    (operators/audiocodec.py): every document gets a genuine 8-bit WAV —
    mu-law (format tag 7) on even doc_ids, A-law (tag 6) on odd — whose
    code bytes are closed-form, expanded to PCM16 by the ITU companding
    bit math. The oracle re-derives every decoded sample from the same
    integer formulas in SQL (the mu-law ~/shift/bias expansion and the
    A-law xor-0x55 segment cases), so a hash match certifies the
    expansion tables value-for-value across all codes the stream hits.
    Encoder/decoder consistency (fixpoint over all 256 codes) is
    pytest-pinned in tests/test_audiocodec.py."""
    from pasardassist_spark.operators.multimodal import audio_g711_features

    d = load(spark, sf_dir, "documents").select("doc_id")
    return audio_g711_features(d)


def _adpcm_oracle() -> str:
    from pasardassist_spark.operators.audiocodec import _IMA_STEP_TABLE

    steps = ",".join(f"({i},{s})" for i, s in enumerate(_IMA_STEP_TABLE))
    # The stateful IMA fold as a recursive CTE: one iteration advances
    # every document by one nibble (89-entry step table joined by index;
    # predictor clamp and index walk mirror _ima_step exactly).
    return f"""
    WITH RECURSIVE steps(sidx, step) AS (VALUES {steps}),
    base AS (
        SELECT doc_id,
               2 * (doc_id % 100 + 20) AS n_nib,
               (doc_id * 31) % 65536 - 32768 AS pred0,
               doc_id % 89 AS idx0
        FROM documents
    ),
    fold AS (
        SELECT doc_id, n_nib, 0 AS i, pred0 AS pred, idx0 AS idx,
               CAST(pred0 AS BIGINT) AS acc
        FROM base
        UNION ALL
        SELECT doc_id, n_nib, i + 1,
               GREATEST(-32768, LEAST(32767, pred + sdiff)) AS pred,
               GREATEST(0, LEAST(88, idx + dix)) AS idx,
               acc + GREATEST(-32768, LEAST(32767, pred + sdiff)) AS acc
        FROM (
            SELECT doc_id, n_nib, i, pred, idx, acc,
                   CASE WHEN nib >= 8 THEN -diff ELSE diff END AS sdiff,
                   CASE nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                                WHEN 7 THEN 8 ELSE -1 END AS dix
            FROM (
                SELECT f2.*,
                       s.step // 8
                       + CASE WHEN nib % 2 = 1 THEN s.step // 4 ELSE 0 END
                       + CASE WHEN (nib // 2) % 2 = 1 THEN s.step // 2
                              ELSE 0 END
                       + CASE WHEN (nib // 4) % 2 = 1 THEN s.step
                              ELSE 0 END AS diff
                FROM (
                    SELECT *, (i * 5 + doc_id) % 16 AS nib
                    FROM fold WHERE i < n_nib
                ) f2
                JOIN steps s ON s.sidx = f2.idx
            )
        )
    )
    SELECT doc_id, CAST(n_nib + 1 AS INTEGER) AS n_samples,
           acc AS sum_pcm, CAST(pred AS INTEGER) AS last_pcm
    FROM fold WHERE i = n_nib
    """


@query("mm_audio_adpcm", oracle=_adpcm_oracle())
def mm_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA/DVI ADPCM decode end-to-end (operators/audiocodec.py,
    format tag 17 — the 4-bit differential codec real telephony/game WAV
    archives carry): every document gets a genuine single-block mono
    container with closed-form header state and nibble stream, decoded
    by the stateful 89-step IMA fold. The oracle replays the IDENTICAL
    fold as a recursive CTE in DuckDB (one iteration advances all 500
    docs by one nibble), so a hash match certifies predictor clamping,
    step-index walking, and low-nibble-first unpacking sample-for-sample
    — a stateful codec with a full-strength SQL oracle, not a rows-only
    row. Multi-block, stereo, and encoder-roundtrip paths are
    pytest-pinned in tests/test_audiocodec.py."""
    from pasardassist_spark.operators.multimodal import audio_adpcm_features

    d = load(spark, sf_dir, "documents").select("doc_id")
    return audio_adpcm_features(d)


@query(
    "mm_tiff_decode",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 19 + 8 AS w,
               (doc_id * 3) % 17 + 8 AS h,
               CASE WHEN doc_id % 5 < 3 THEN 3 ELSE 1 END AS ch,
               doc_id % 5 = 4 AS pal,
               doc_id % 3 + 1 AS n_pages,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                   || '-' ||
                   CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '5'
                                   ELSE '32773' END
                   || '-' ||
                   CASE WHEN (doc_id // 3) % 2 = 0 THEN '1' ELSE '2' END
                   || CASE WHEN doc_id % 7 < 3 THEN '-t' ELSE '' END
                   || CASE WHEN doc_id % 5 = 4 THEN '-p' ELSE '' END
                   AS layout
        FROM documents
    ),
    px AS (
        SELECT b.doc_id, b.n_pages, b.w, b.h, b.ch, b.pal, b.layout,
               CAST(pg.pg AS INTEGER) AS page_no,
               (x.x * 7 + y.y * 13 + c.c * 29 + b.doc_id + 31 * pg.pg)
                   % 256 AS v
        FROM base b
        JOIN (SELECT unnest(range(0, 3)) AS pg) pg ON pg.pg < b.n_pages
        JOIN (SELECT unnest(range(0, 27)) AS x) x ON x.x < b.w
        JOIN (SELECT unnest(range(0, 25)) AS y) y ON y.y < b.h
        JOIN (SELECT unnest(range(0, 3)) AS c) c ON c.c < b.ch
    )
    SELECT doc_id, page_no,
           CAST(n_pages AS INTEGER) AS n_pages,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(CASE WHEN pal THEN 3 ELSE ch END AS INTEGER) AS channels,
           layout,
           CAST(SUM(CASE WHEN pal
                         THEN v + (v * 37) % 256 + (v * 91) % 256
                         ELSE v END) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, page_no, n_pages, w, h, ch, pal, layout
    """,
)
def mm_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode end-to-end (operators/tiffcodec.py — the
    scan/scientific format): every document gets a genuine multi-page
    TIFF rotating the full supported matrix by doc_id (II/MM byte order,
    none/TIFF-LZW/PackBits compression, horizontal-differencing
    predictor, 16x16 TILE grids vs 5-row strips — doc_id%7, round 14 —
    gray/RGB/PALETTE — doc_id%5, photometric-3 ColorMap lookup — and
    1-3 pages). TIFF-LZW is deliberately the OTHER bit discipline from
    GIF (MSB-first with the early-change width bump), so both LZW
    families are certified independently. The oracle re-derives every
    page's checksum from the closed-form pixel formula (palette rows
    re-map v through the deterministic ColorMap arithmetic);
    16-bit/planar-2/BigTIFF variants raise by name and are pytest-pinned
    (tests/test_tiffcodec.py)."""
    from pasardassist_spark.operators.multimodal import tiff_page_features

    d = load(spark, sf_dir, "documents").select("doc_id")
    return tiff_page_features(d)


@query(
    "mm_subtitle_cues",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
               doc_id % 6 + 2 AS n,
               doc_id % 997 AS t0,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    cues AS (
        SELECT doc_id, fmt,
               CAST(i.i AS INTEGER) AS cue_no,
               CAST(1000 * i.i + t0 AS BIGINT) AS start_ms,
               CAST(1000 * i.i + t0 + 900 + (i.i * 137 + doc_id) % 1100
                    AS BIGINT) AS end_ms,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS ctext
        FROM base JOIN (SELECT unnest(range(0, 8)) AS i) i ON i.i < n
    )
    SELECT doc_id, fmt, cue_no, start_ms, end_ms,
           CAST(length(ctext) AS BIGINT) AS n_chars,
           md5(ctext) AS text_md5
    FROM cues
    """,
)
def mm_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL subtitle parsing end-to-end (operators/subtext.py — the
    transcript format video-LLM corpora carry): each document's words
    split into doc_id%6+2 cues with closed-form timings, written as a
    genuine SRT (even doc_ids: numbered blocks, comma-millisecond
    timestamps) or WebVTT file (odd: signature, NOTE block, cue
    identifiers, cue settings after the arrow, voice/class/bold spans
    and karaoke timestamps wrapped around every cue's words), then
    parsed back — the oracle re-derives every cue's timing from the
    arithmetic and its text md5 from word-slice arithmetic, so timestamp
    math, block segmentation, and VTT tag stripping are all
    hash-certified. Malformed-timing/reversed-cue error paths
    pytest-pinned in tests/test_docformats.py."""
    from pasardassist_spark.operators.subtext import (
        encode_srt,
        encode_vtt,
        parse_srt,
        parse_vtt,
    )

    schema = (
        "doc_id long, fmt string, cue_no int, start_ms long, end_ms long, "
        "n_chars long, text_md5 string"
    )

    def _row(doc_id, text):
        import hashlib

        seed = int(doc_id)
        fmt = "srt" if seed % 2 == 0 else "vtt"
        n = seed % 6 + 2
        t0 = seed % 997
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        cues = []
        for i in range(n):
            a, b = (w_ * i) // n, (w_ * (i + 1)) // n
            start = 1000 * i + t0
            end = start + 900 + (i * 137 + seed) % 1100
            cues.append((start, end, " ".join(words[a:b])))
        payload = (encode_srt if fmt == "srt" else encode_vtt)(cues)
        got = (parse_srt if fmt == "srt" else parse_vtt)(payload)
        if [(c.start_ms, c.end_ms, c.text) for c in got] != cues:
            # raise, not assert (must survive python -O)
            raise ValueError(f"subtitle round-trip mismatch for doc {doc_id}")
        for c in got:
            yield (
                doc_id, fmt, c.cue_no, c.start_ms, c.end_ms, len(c.text),
                hashlib.md5(c.text.encode("utf-8")).hexdigest(),
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "mm_midi_features",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 3 + 1 AS n_tracks,
               doc_id % 40 + 10 AS m
        FROM documents
    ),
    notes AS (
        SELECT b.doc_id, t.t AS track_no, b.m,
               (j.j * 7 + b.doc_id + t.t * 13) % 128 AS pitch,
               (j.j * 11 + b.doc_id) % 127 + 1 AS vel,
               (j.j * 13 + b.doc_id + t.t) % 480
                   + (j.j * 17 + b.doc_id) % 240 + 1 AS advance
        FROM base b
        JOIN (SELECT unnest(range(0, 3)) AS t) t ON t.t < b.n_tracks
        JOIN (SELECT unnest(range(0, 50)) AS j) j ON j.j < b.m
    )
    SELECT doc_id, CAST(track_no AS INTEGER) AS track_no,
           CAST(m AS INTEGER) AS n_notes,
           CAST(SUM(pitch) AS BIGINT) AS pitch_sum,
           CAST(SUM(vel) AS BIGINT) AS vel_sum,
           CAST(SUM(advance) AS BIGINT) AS end_tick
    FROM notes GROUP BY doc_id, track_no, m
    """,
)
def mm_midi_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Standard-MIDI-File parsing end-to-end
    (operators/midicodec.py — symbolic music, the .mid archives
    music-generation corpora train on): every document gets a genuine
    format-1 file (doc_id%3+1 tracks, doc_id%40+10 note-on/off pairs per
    track, closed-form pitches/velocities/deltas, a tempo meta leading
    track 0) written WITH running status and VLQ deltas that cross the
    one/two-byte boundary, then parsed back — per-track note counts,
    pitch and velocity sums, and the absolute end tick all re-derived by
    the oracle from the same arithmetic, so VLQ accumulation, running-
    status inheritance, and the velocity-0-is-note-off convention are
    hash-certified. Truncation/garbage contracts pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.midicodec import encode_midi, parse_midi

    schema = (
        "doc_id long, track_no int, n_notes int, pitch_sum long, "
        "vel_sum long, end_tick long"
    )

    def _row(doc_id):
        seed = int(doc_id)
        n_tracks = seed % 3 + 1
        m = seed % 40 + 10
        tracks = []
        for t in range(n_tracks):
            ev = []
            for j in range(m):
                pitch = (j * 7 + seed + t * 13) % 128
                vel = (j * 11 + seed) % 127 + 1
                d_on = (j * 13 + seed + t) % 480
                dur = (j * 17 + seed) % 240 + 1
                ev.append((d_on, "note_on", t % 16, pitch, vel))
                ev.append((dur, "note_off", t % 16, pitch, 64))
            tracks.append(ev)
        div, parsed = parse_midi(encode_midi(tracks, division=480))
        if div != 480 or len(parsed) != n_tracks:
            # raise, not assert (must survive python -O)
            raise ValueError(f"MIDI round-trip mismatch for doc {doc_id}")
        for t, events in enumerate(parsed):
            ons = [e for e in events if e[1] == "note_on"]
            end_tick = max(e[0] for e in events if e[1] != "tempo")
            yield (
                doc_id, t, len(ons), sum(e[3] for e in ons),
                sum(e[4] for e in ons), end_tick,
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _row, schema)


@query(
    "mm_exif_extract",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           'CamCo ' || CAST(doc_id % 5 AS VARCHAR) AS make,
           'DSLR-' || CAST(doc_id % 7 AS VARCHAR) AS model,
           CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
           '2021:' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
               || ':' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
               || ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
               || ':' || lpad(CAST(doc_id * 13 % 60 AS VARCHAR), 2, '0')
               AS dt_original,
           CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
           CAST((doc_id % 90) * 3600000 + (doc_id * 3 % 60) * 60000
                + doc_id * 77 % 60000 AS BIGINT) AS lat_mas,
           CASE WHEN doc_id % 3 = 0 THEN 'W' ELSE 'E' END AS lon_ref,
           CAST((doc_id % 180) * 3600000 + (doc_id * 5 % 60) * 60000
                + doc_id * 131 % 60000 AS BIGINT) AS lon_mas
    FROM documents
    """,
)
def mm_exif_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction from real JPEG containers WITHOUT pixel
    decode: every document gets a genuine JFIF payload (this repo's own
    encoder) carrying a spec-faithful Exif APP1 — TIFF header with II/MM
    byte order rotating by id parity, IFD0 (make/model/orientation),
    Exif sub-IFD (DateTimeOriginal), GPS sub-IFD with exact-integer
    RATIONAL coordinate triplets returned as milliarcseconds; every 4th
    payload also leads with a decoy non-Exif APP1 + COM segment the
    marker walk must skip (operators/exif.py).  This is the geo/time/
    device readout a 100 TB image crawl runs on every asset at O(header
    bytes) per image — entropy data is never touched, so cost is
    independent of resolution.

    Spark plan: two chained Arrow mapInPandas passes (fixture attach,
    then extract), no shuffle at all — embarrassingly parallel, scales
    with input splits.  The oracle re-derives all ten columns from
    doc_id arithmetic, certifying both byte orders, sub-IFD pointer
    walks, rational exactness, and decoy skipping in one hash."""
    from pasardassist_spark.operators.multimodal import (
        attach_jpeg_exif_payload,
        extract_exif,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return extract_exif(attach_jpeg_exif_payload(d))


@query(
    "mm_id3_tags",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 10 = 6 THEN 2
                     WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INTEGER)
               AS version,
           'Track ' || CAST(doc_id % 100 AS VARCHAR) AS title,
           'Artist ' || CAST(doc_id % 13 AS VARCHAR) AS artist,
           'Album ' || CAST(doc_id % 7 AS VARCHAR) AS album,
           CAST(1970 + doc_id % 50 AS INTEGER) AS year,
           CAST(doc_id % 20 + 1 AS VARCHAR) || '/12' AS track
    FROM documents
    """,
)
def mm_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 tag extraction from MP3-shaped payloads WITHOUT touching
    audio (operators/id3.py — the audio sibling of mm_exif_extract):
    fixtures rotate ID3v2.3 (plain big-endian frame sizes, UTF-16-BOM
    text — the Windows default) against ID3v2.4 (SYNCSAFE frame sizes,
    UTF-8 text) by id parity, the classic cross-version parser trap;
    doc_id%3==0 tags are UNSYNCHRONISED (tag-level FF-00 escaping on
    v2.3, per-frame format-flag 0x02 on v2.4 — common in pre-2010
    MP3s), doc_id%5==0 tags carry the version's extended header, and
    doc_id%10==6 tags are ID3v2.2 (3-char ids, 3-byte sizes, no flag
    bytes — the pre-2003 generation, TT2/TP1/TAL/TYE/TRK mapped onto
    the modern names) (r15); the tag fronts a fake MPEG frame-sync
    body the parser must never materialize.  Year comes from TYER on v2.3 and TDRC on v2.4, per
    spec.  Extraction is O(tag bytes) however long the audio runs —
    the metadata-indexing shape a 100 TB media crawl needs.

    Spark plan: two chained Arrow map passes, no shuffle.  The oracle
    re-derives all columns from doc_id arithmetic, so one hash
    certifies both size disciplines and all three text encodings."""
    from pasardassist_spark.operators import id3 as ID3

    schema = (
        "doc_id long, version int, title string, artist string, "
        "album string, year int, track string"
    )

    def _build_and_parse(doc_id):
        i = int(doc_id)
        # r15: ids %10==6 write ID3v2.2 (3-char frame ids, 3-byte sizes,
        # no flag bytes — the pre-2003 rip generation), mapped onto the
        # v2.3+ names on read
        version = 2 if i % 10 == 6 else (3 if i % 2 == 0 else 4)
        encoding = 0x01 if version in (2, 3) else 0x03
        frames = {
            "TIT2": f"Track {i % 100}",
            "TPE1": f"Artist {i % 13}",
            "TALB": f"Album {i % 7}",
            ("TYER" if version in (2, 3) else "TDRC"): str(1970 + i % 50),
            "TRCK": f"{i % 20 + 1}/12",
        }
        # r15 rotation: unsynchronised tags on doc_id%3==0 (v2.3
        # tag-level / v2.4 frame-level escaping — the UTF-16 BOM's FF FE
        # really gets escaped on the v2.3 slice) and extended headers on
        # doc_id%5==0, values unchanged so the same oracle hash certifies
        # the un-escaping and the header skip
        tag = ID3.encode_id3v2(
            version=version, encoding=encoding, frames=frames,
            unsync=i % 3 == 0 and version != 2,
            extended_header=i % 5 == 0 and version != 2,
        )
        payload = tag + b"\xff\xfb\x90\x00" + bytes(64)  # fake MPEG
        meta = ID3.parse_id3(payload)
        year = meta.get("TYER") or meta.get("TDRC")
        yield (
            doc_id, meta["version"], meta.get("TIT2"), meta.get("TPE1"),
            meta.get("TALB"), int(year) if year else None, meta.get("TRCK"),
        )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_and_parse, schema)


@query(
    "mm_mp3_frames",
    oracle="""
    WITH lay AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 <= 1 AND doc_id % 7 = 0 THEN 2
                    WHEN doc_id % 5 <= 1 AND doc_id % 7 = 1 THEN 1
                    ELSE 3 END AS layer
        FROM documents
    )
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END
               AS version,
           CAST(layer AS INTEGER) AS layer,
           CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 24000
                ELSE 8000 END AS INTEGER) AS sample_rate,
           CASE doc_id % 4 WHEN 0 THEN 'stereo' WHEN 1 THEN 'joint'
                WHEN 2 THEN 'dual' ELSE 'mono' END AS mode,
           CAST(6 + doc_id % 10 AS INTEGER) AS n_frames,
           CAST((6 + doc_id % 10)
                * (CASE WHEN layer = 1 THEN 384
                        WHEN layer = 2 THEN 1152
                        WHEN doc_id % 3 = 0 THEN 1152 ELSE 576 END)
                * 1000000
                // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 24000
                    ELSE 8000 END) AS BIGINT) AS duration_us,
           CAST(CASE WHEN doc_id % 5 <= 1 AND doc_id % 7 != 2 THEN
                (CASE (doc_id // 5) % 5 WHEN 0 THEN 64 WHEN 1 THEN 96
                 WHEN 2 THEN 128 WHEN 3 THEN 160 ELSE 32 END)
                END AS INTEGER) AS bitrate_kbps,
           CASE WHEN doc_id % 5 <= 1 THEN 'none'
                WHEN doc_id % 5 = 4 THEN 'vbri' ELSE 'xing' END
               AS vbr_method,
           CAST(CASE WHEN doc_id % 5 >= 2 THEN 6 + doc_id % 10 END
                AS INTEGER) AS declared_frames
    FROM lay
    """,
)
def mm_mp3_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio frame-header metadata WITHOUT sample decode
    (operators/mp3meta.py — completes the audio story the way EXIF /
    PNG-text did for images: mm_id3_tags reads the prepended tag, this
    walks the frames behind it).  Fixtures rotate all three version
    clocks (MPEG-1 44.1 kHz / MPEG-2 24 kHz / MPEG-2.5 8 kHz — 1152 vs
    576 samples per frame), all four channel modes, CBR against Xing
    and Fraunhofer-VBRI variable-bitrate streams (doc_id%5; VBR frames
    cycle three bitrate indices so the frame-length arithmetic is
    exercised per frame, not per file), odd ids carry a real ID3v2 tag
    the walker must skip by declared span, and ids %3==0 a trailing
    128-byte ID3v1 "TAG" excluded from the walk.  Duration is exact
    integer arithmetic (frames x samples-per-frame x 1e6 // rate), so
    the oracle re-derives every column from doc_id — one hash certifies
    sync walking, frame-length math, both VBR header locations and both
    tag skips on 500 streams.  Layers I and II rotate onto the CBR
    slices (r15 — 4-byte Layer I slots, the Layer II 1152-sample clock
    at every version, and their own bitrate tables), and the i%7==2
    CBR sub-slice is FREE FORMAT (bitrate index 0 — frame size
    recovered by scanning to the next consistent syncword,
    bitrate_kbps NULL); lost sync and mid-stream parameter changes
    raise ValueError (a torn file dead-letters loudly, never counts
    wrong).

    Spark plan: one Arrow map pass over doc ids, no shuffle — the
    O(header-bytes) metadata-indexing shape of the extractor quartet
    (VERDICT r13), now a quintet."""
    from pasardassist_spark.operators import mp3meta as M
    from pasardassist_spark.operators.id3 import encode_id3v2

    schema = (
        "doc_id long, version string, layer int, sample_rate int, "
        "mode string, n_frames int, duration_us long, bitrate_kbps int, "
        "vbr_method string, declared_frames int"
    )
    _VERS = (("1", 44100), ("2", 24000), ("2.5", 8000))
    _MODES = ("stereo", "joint", "dual", "mono")
    _CBR = (64, 96, 128, 160, 32)

    cols = (
        "version", "layer", "sample_rate", "mode", "n_frames", "duration_us",
        "bitrate_kbps", "vbr_method", "declared_frames",
    )

    def _build_and_parse(doc_id):
        i = int(doc_id)
        version, sr = _VERS[i % 3]
        kind = i % 5
        tag = (
            encode_id3v2(
                version=4, encoding=3, frames={"TIT2": f"Track {i % 100}"},
            )
            if i % 2 == 1
            else b""
        )
        # r15: Layer I/II rotate onto the CBR slices (VBR headers are
        # Layer III conventions) — every existing CBR bitrate is valid in
        # all five layer tables
        layer = (
            2 if kind <= 1 and i % 7 == 0
            else 1 if kind <= 1 and i % 7 == 1
            else 3
        )
        # r15: the i%7==2 CBR sub-slice is FREE FORMAT (bitrate index 0,
        # fixed frame size recovered by sync scan, bitrate_kbps NULL)
        payload = M.encode_mp3(
            version=version,
            sample_rate=sr,
            mode=_MODES[i % 4],
            n_frames=6 + i % 10,
            bitrate=_CBR[(i // 5) % 5],
            vbr="none" if kind <= 1 else ("vbri" if kind == 4 else "xing"),
            id3_tag=tag,
            id3v1=i % 3 == 0,
            layer=layer,
            free_frame_size=120 + i % 40 if kind <= 1 and i % 7 == 2 else None,
        )
        meta = M.parse_mp3(payload)
        yield (doc_id, *(meta[k] for k in cols))

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_and_parse, schema)


# ----------------------------------------- streaming image gate driver row

def _imagegate_oracle() -> str:
    """Closed-form admission for the dHash gate replay: the fixture
    encodes each image's 64-bit dHash as one 16-bit key replicated
    across all four LSH bands, so two images are within the gate's
    Hamming radius (<= 3) IFF their keys are EQUAL (distinct keys
    differ in >= 4 bits by the 4x replication) — admission collapses
    to first-wins per key in replay order (epoch asc, id asc), which
    IS expressible in SQL."""
    return """
    WITH d AS (SELECT doc_id FROM documents),
    k AS (
        SELECT d.doc_id,
               CAST((CASE WHEN d.doc_id % 5 = 2 AND p.doc_id IS NOT NULL
                          THEN d.doc_id - 1 ELSE d.doc_id END) % 65536
                    AS INTEGER) AS key16,
               d.doc_id % 4 AS epoch
        FROM d LEFT JOIN d p ON p.doc_id = d.doc_id - 1
    ),
    r AS (
        SELECT doc_id, key16,
               row_number() OVER (PARTITION BY key16
                                  ORDER BY epoch, doc_id) AS rn
        FROM k
    )
    SELECT doc_id, key16 FROM r WHERE rn = 1
    """


@query("streaming_imagegate_readout", oracle=_imagegate_oracle())
def streaming_imagegate_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming perceptual image-dedup gate (streaming/imagegate.py)
    driven end-to-end as a batch twin — the streaming_docgate_readout
    pattern for the image side, giving the composite a driver row with
    a closed-form oracle.

    Every document becomes a REAL 9x8 image whose luminance gradients
    encode a chosen 64-bit dHash EXACTLY (dhash bit(y,x) compares
    adjacent downsample cells; at 9x8 the downsample is the identity,
    so the fixture walks each row +-1 in gray to write each bit).  The
    encoded hash replicates one 16-bit key across all four LSH bands:
    distinct keys differ in >= 4 bits — STRICTLY outside the gate's
    Hamming radius (MAX_DIST=3) — while doc_id%5==2 rows re-encode the
    PREVIOUS document's raster in a DIFFERENT codec (PPM/BMP/PNG rotate
    by id), landing at distance 0 through a different container.  The
    corpus replays through apply_image_batch in 4 epochs (doc_id%4):
    decode -> dHash -> band join against the generational index ->
    epoch-keyed CAS admission, exactly as the streaming foreachBatch
    runs it.  The oracle reduces admission to first-wins per key in
    replay order — exact by the >= 4-bit separation argument, so the
    hash certifies the real codecs, the dHash pipeline, band
    decomposition, cross-epoch index persistence, AND cross-codec
    perceptual equality in one row.  Near-radius (1..3-bit) semantics
    have no closed SQL form and stay equivalence-pinned in
    tests/test_imagegate.py.  Sequential-composite caveat: 4
    driver-side epochs, each a distributed plan — foreachBatch cadence,
    not a row loop."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators import imagecodec
    from pasardassist_spark.operators.imagecodec import Raster
    from pasardassist_spark.streaming.generations import admitted_events
    from pasardassist_spark.streaming.imagegate import apply_image_batch

    def _raster_for_key(key16: int) -> Raster:
        bits = key16 * 0x0001_0001_0001_0001
        px = bytearray()
        for y in range(8):
            g = 128
            row = [g]
            for x in range(8):
                g += 1 if (bits >> (y * 8 + x)) & 1 else -1
                row.append(g)
            for v in row:
                px += bytes((v, v, v))
        return Raster(9, 8, 3, bytes(px))

    def _synth(doc_id, has_prev):
        i = int(doc_id)
        key = (i - 1 if i % 5 == 2 and has_prev else i) % 65536
        r = _raster_for_key(key)
        k = i % 3
        if k == 0:
            payload = imagecodec.encode_ppm(r)
        elif k == 1:
            # r15: the BMP slice sub-rotates 24-bit / indexed-8 / BI_RLE8
            # — same pixels, so admissions (and the oracle) are unchanged
            # while the palette and RLE decode paths run under the driver
            # hash
            sub = (i // 3) % 3
            if sub == 0:
                payload = imagecodec.encode_bmp(r)
            elif sub == 1:
                payload = imagecodec.encode_bmp_indexed(r, 8)
            else:
                payload = imagecodec.encode_bmp_indexed(r, 8, rle=True)
        else:
            payload = imagecodec.encode_png(r)
        yield i, payload

    d = load(spark, sf_dir, "documents").select("doc_id")
    # prev-EXISTS via self-join (the oracle's rule — no contiguity
    # assumption on doc_id)
    prev = d.select((F.col("doc_id") + 1).alias("doc_id"),
                    F.lit(True).alias("has_prev"))
    joined = d.join(prev, "doc_id", "left").na.fill({"has_prev": False})
    payloads = map_rows(
        joined, _synth, "doc_id long, payload binary"
    ).localCheckpoint()

    state_dir = scratch_dir("imggate_state_")
    admitted_dir = scratch_dir("imggate_admitted_")
    for e in range(4):
        apply_image_batch(
            payloads.filter(F.col("doc_id") % 4 == e),
            e, state_dir, admitted_dir,
        )
    adm = admitted_events(spark, admitted_dir).join(
        joined.select("doc_id", "has_prev"), "doc_id"
    )
    return adm.select(
        "doc_id",
        (
            F.when(
                (F.col("doc_id") % 5 == 2) & F.col("has_prev"),
                F.col("doc_id") - 1,
            ).otherwise(F.col("doc_id")) % 65536
        ).cast("int").alias("key16"),
    )


@query(
    "mm_png_prompt_meta",
    oracle="""
    SELECT doc_id,
           'model-v' || CAST(doc_id % 9 AS VARCHAR) AS model,
           'a scenic ' || CAST(doc_id % 23 AS VARCHAR)
               || ' with unicode é日' AS prompt,
           CAST(doc_id % 1000 AS BIGINT) AS seed,
           CAST(CASE doc_id % 3 WHEN 0 THEN 'tEXt' WHEN 1 THEN 'zTXt'
                ELSE 'iTXt' END AS VARCHAR) AS via
    FROM documents
    """,
)
def mm_png_prompt_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-provenance metadata from PNG text chunks
    (operators/pngmeta.py) — the read a training-data image crawl
    performs on EVERY image to detect and label AI-generated content:
    generators embed their full prompt/parameter payload under tEXt/
    iTXt keywords, and a pipeline that can't read them can't
    decontaminate.  Fixtures carry genuine PNGs (this repo's encoder)
    with `model`/`seed` keywords spliced after IHDR through a rotating
    chunk kind (tEXt latin-1, zTXt deflate-latin-1, iTXt deflate-UTF-8
    — doc_id%3, reported as `via`), while the `prompt` keyword — whose
    value contains a CJK character latin-1 cannot carry — always rides
    iTXt, the real-world split (generator prompts are UTF-8).  Chunk
    CRCs are verified; IDAT is skipped by length, never inflated —
    O(metadata bytes) per image.

    Spark plan: one Arrow map pass building + parsing per row, no
    shuffle.  The oracle re-derives all columns from doc_id arithmetic,
    certifying all three chunk disciplines and the deflate paths in one
    hash."""
    from pasardassist_spark.operators import imagecodec, pngmeta
    from pasardassist_spark.operators.imagecodec import Raster

    schema = (
        "doc_id long, model string, prompt string, seed long, via string"
    )

    base = imagecodec.encode_png(Raster(4, 4, 3, bytes(48)))

    def _build_parse(doc_id):
        i = int(doc_id)
        kind = ("tEXt", "zTXt", "iTXt")[i % 3]
        prompt = f"a scenic {i % 23} with unicode é日"
        if kind == "iTXt":
            chunks = [
                pngmeta.encode_text_chunk("model", f"model-v{i % 9}", kind),
                pngmeta.encode_text_chunk("prompt", prompt, kind),
                pngmeta.encode_text_chunk("prompt", prompt, kind),
                pngmeta.encode_text_chunk("seed", str(i % 1000), kind),
            ]
        else:
            # latin-1 kinds cannot carry the CJK char: write the prompt
            # via iTXt alongside kind-coded model/seed
            chunks = [
                pngmeta.encode_text_chunk("model", f"model-v{i % 9}", kind),
                pngmeta.encode_text_chunk("prompt", prompt, "iTXt"),
                pngmeta.encode_text_chunk("seed", str(i % 1000), kind),
            ]
        meta = pngmeta.parse_text_chunks(pngmeta.insert_text_chunks(base, chunks))
        yield i, meta["model"], meta["prompt"], int(meta["seed"]), kind

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_wav_info_tags",
    oracle="""
    SELECT doc_id,
           'Take ' || CAST(doc_id % 40 AS VARCHAR) AS title,
           'Performer ' || CAST(doc_id % 11 AS VARCHAR) AS artist,
           CAST(1990 + doc_id % 35 AS VARCHAR) || '-'
               || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS created,
           'enc v' || CAST(doc_id % 5 AS VARCHAR) AS software,
           CAST(16 + doc_id % 17 AS INTEGER) AS n_samples
    FROM documents
    """,
)
def mm_wav_info_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF LIST/INFO metadata from real WAV containers — the audio-file
    sibling of mm_id3_tags (ID3 fronts MP3 streams; INFO rides inside
    the WAV container itself).  Fixtures are genuine PCM16 WAVs (this
    repo's encoder) with the LIST chunk spliced BEFORE fmt — legal RIFF
    that breaks offset-assuming parsers — carrying INAM/IART/ICRD/ISFT
    as zero-terminated word-aligned sub-chunks (odd-length values
    exercise the pad-byte rule).  Integer-PCM depth rotates
    16/8/24/32-bit by doc_id%4 (r15 — decode narrows all depths into
    the PCM16 domain).  The data chunk is skipped by declared size,
    never decoded; n_samples comes from the normal decode path to
    prove the splice left the audio readable at every depth.

    Spark plan: one Arrow map pass, no shuffle.  Oracle from doc_id
    arithmetic certifies the sub-chunk walk, ZSTR termination, pad
    bytes, and decode-after-splice in one hash."""
    from pasardassist_spark.operators import audiocodec as AC

    schema = (
        "doc_id long, title string, artist string, created string, "
        "software string, n_samples int"
    )

    def _build_parse(doc_id):
        i = int(doc_id)
        n = 16 + i % 17  # odd/even lengths rotate
        # r15: integer-PCM depth rotates 16/8/24/32 by doc_id%4 —
        # n_samples (the only decode-derived column) is depth-invariant,
        # so the oracle hash also certifies the widened depth decode
        depth = (16, 8, 24, 32)[i % 4]
        samples = [(j * 257 + i) % 4096 - 2048 for j in range(n)]
        if depth == 8:
            samples = [(s >> 8) << 8 for s in samples]
        wav = AC.encode_wav_depth(AC.PcmAudio(8000, 1, samples), depth)
        info = AC.encode_wav_info({
            "INAM": f"Take {i % 40}",
            "IART": f"Performer {i % 11}",
            "ICRD": f"{1990 + i % 35}-{i % 12 + 1:02d}",
            "ISFT": f"enc v{i % 5}",
        })
        wav = AC.insert_wav_chunk(wav, info)
        meta = AC.parse_wav_info(wav)
        yield (
            i, meta.get("INAM"), meta.get("IART"), meta.get("ICRD"),
            meta.get("ISFT"), len(AC.decode_wav(wav).samples),
        )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_mp4_meta",
    oracle="""
    WITH base AS (SELECT doc_id FROM documents),
    v AS (
        SELECT doc_id, 1 AS track_id, 'vide' AS handler, 'avc1' AS codec,
               CAST(320 + 16 * (doc_id % 8) AS INTEGER) AS width,
               CAST(240 + 16 * (doc_id % 5) AS INTEGER) AS height,
               CAST((doc_id % 10 + 1) * 1000 AS BIGINT) AS track_duration_ms
        FROM base
    ),
    s AS (
        SELECT doc_id, 2 AS track_id, 'soun' AS handler, 'mp4a' AS codec,
               CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
               CAST(100 * (1 + doc_id % 7) AS BIGINT) AS track_duration_ms
        FROM base WHERE doc_id % 3 >= 1
    ),
    x AS (
        SELECT doc_id, 3 AS track_id, 'text' AS handler, 'tx3g' AS codec,
               CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
               CAST(doc_id % 997 AS BIGINT) AS track_duration_ms
        FROM base WHERE doc_id % 3 = 2
    ),
    u AS (SELECT * FROM v UNION ALL SELECT * FROM s UNION ALL SELECT * FROM x)
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                ELSE '3gp4' END AS brand,
           CAST(1000 + doc_id % 5000 AS BIGINT) AS movie_duration_ms,
           track_id, handler, codec, width, height, track_duration_ms
    FROM u
    """,
)
def mm_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO base-media (MP4) box-tree metadata walk WITHOUT sample decode
    (operators/mp4meta.py) — the container-indexing pass for crawled
    video/audio, the sixth member of the no-decode metadata family
    (ID3/MP3-frames, EXIF, PNG-text, WAV-INFO, and now the box tree all
    modern video arrives in).  One output row per TRACK: handler fourcc,
    first stsd codec tag, tkhd 16.16 presentation dimensions, and the
    media duration rescaled to ms from the PER-TRACK mdhd timescale
    (30 kHz video vs 48 kHz audio vs 1 kHz text — three different
    clocks per file, so a timescale mix-up cannot cancel).

    Fixtures rotate BOTH fullbox time widths (mvhd/tkhd/mdhd version
    0 and 1 by doc_id//2%2), the size==1 + 64-bit largesize form on odd
    moov boxes, a size==0 to-EOF trailing mdat, and a free + unknown
    uuid box spliced between every top-level pair — the walker must
    skip strictly by declared size.  1-3 tracks by doc_id%3.  The
    oracle re-derives every column from doc_id arithmetic, so one hash
    certifies all three size forms, both time widths, per-track clock
    scaling and stsd entry addressing on 500 files.  doc_id%5==3 files
    are FRAGMENTED (r15): zero mvhd/mdhd durations, 1-3 moof segments,
    duration sources cycling trun-per-sample/tfhd-default/trex-default
    per track, rich optional-field runs on alternating files — same
    expected values through a completely different recovery path.
    Encrypted fragments (senc/pssh) raise by name; torn boxes raise
    ValueError.

    Spark plan: one Arrow map pass over doc ids, no shuffle; the walk
    reads O(metadata) bytes regardless of media size."""
    from pasardassist_spark.operators.mp4meta import (
        encode_fmp4_meta,
        encode_mp4_meta,
        parse_mp4_meta,
    )

    schema = (
        "doc_id long, brand string, movie_duration_ms long, "
        "track_id int, handler string, codec string, width int, "
        "height int, track_duration_ms long"
    )
    _BRANDS = ("isom", "mp42", "3gp4")

    def _build_parse(doc_id):
        i = int(doc_id)
        tracks = [
            (1, "vide", "avc1", 320 + 16 * (i % 8),
             240 + 16 * (i % 5), 30000, (i % 10 + 1) * 30000),
        ]
        if i % 3 >= 1:
            tracks.append((2, "soun", "mp4a", 0, 0, 48000, 4800 * (1 + i % 7)))
        if i % 3 == 2:
            tracks.append((3, "text", "tx3g", 0, 0, 1000, i % 997))
        if i % 5 == 3:
            # FRAGMENTED rotation (r15): mvhd/mdhd durations all zero, the
            # same per-track durations recovered from the moof side
            # through all three sources (trun per-sample / tfhd default /
            # trex default cycling by track index), movie duration via
            # mvex/mehd — the oracle is unchanged, so the hash certifies
            # the moof walk produces byte-identical readout
            payload = encode_fmp4_meta(
                _BRANDS[i % 3],
                1000,
                1000 + i % 5000,
                tracks,
                n_fragments=1 + i % 3,
                rich_runs=(i // 5) % 2 == 1,
                version=(i // 2) % 2,
            )
        else:
            payload = encode_mp4_meta(
                _BRANDS[i % 3],
                1000,
                1000 + i % 5000,
                tracks,
                version=(i // 2) % 2,
                moov_largesize=i % 2 == 1,
            )
        meta = parse_mp4_meta(payload)
        if len(meta.tracks) != len(tracks):
            raise ValueError(f"doc {i}: track count {len(meta.tracks)}")
        for t in meta.tracks:
            yield (
                i, meta.brand, meta.duration_ms, t.track_id, t.handler,
                t.codec, t.width, t.height, t.duration_ms,
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_flac_ogg_meta",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'flac' ELSE 'ogg' END AS container,
           CASE doc_id % 3 WHEN 0 THEN 'flac'
                WHEN 1 THEN CASE WHEN (doc_id // 3) % 5 = 4
                                 THEN 'flac' ELSE 'vorbis' END
                ELSE 'opus' END AS codec,
           CAST(CASE doc_id % 3
                WHEN 0 THEN CASE (doc_id // 3) % 4 WHEN 0 THEN 44100
                     WHEN 1 THEN 48000 WHEN 2 THEN 96000 ELSE 22050 END
                WHEN 1 THEN CASE (doc_id // 3) % 4 WHEN 0 THEN 44100
                     WHEN 1 THEN 48000 WHEN 2 THEN 32000 ELSE 8000 END
                ELSE CASE (doc_id // 3) % 3 WHEN 0 THEN 48000
                     WHEN 1 THEN 16000 ELSE 24000 END
           END AS INTEGER) AS sample_rate,
           CAST(1 + doc_id % 2 AS INTEGER) AS channels,
           CAST(CASE doc_id % 3 WHEN 0 THEN
                CASE (doc_id // 2) % 2 WHEN 0 THEN 16 ELSE 24 END
                ELSE 0 END AS INTEGER) AS bits_per_sample,
           CAST(CASE doc_id % 3
                WHEN 0 THEN
                  ((CASE (doc_id // 3) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    WHEN 2 THEN 96000 ELSE 22050 END) * (1 + doc_id % 5)
                   + doc_id % 997) * 1000
                  // (CASE (doc_id // 3) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      WHEN 2 THEN 96000 ELSE 22050 END)
                WHEN 1 THEN
                  ((CASE (doc_id // 3) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    WHEN 2 THEN 32000 ELSE 8000 END) * (2 + doc_id % 4)
                   + doc_id % 1009) * 1000
                  // (CASE (doc_id // 3) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      WHEN 2 THEN 32000 ELSE 8000 END)
                ELSE 500 + doc_id % 2000
           END AS BIGINT) AS duration_ms,
           CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 2 ELSE 0 END
                AS INTEGER) AS tag_count
    FROM documents
    """,
)
def mm_flac_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC STREAMINFO / Vorbis-comment and Ogg (Vorbis + Opus)
    identification-header metadata WITHOUT audio decode
    (operators/flacmeta.py) — completes the audio container matrix next
    to mm_mp3_frames (MPEG) and mm_mp4_meta (ISO-BMFF): the two open
    formats crawled audio arrives in.  Fixtures rotate container by
    doc_id%3 — FLAC (packed 20-bit rate / 3-bit channels / 5-bit bps /
    36-bit total-samples STREAMINFO bitfield, KEY=value comment tags),
    Ogg Vorbis (\\x01vorbis ident, granule = PCM samples at stream
    rate), Ogg Opus (OpusHead, granule at 48 kHz MINUS the pre-skip —
    the RFC 7845 rule, exercised with three different INPUT rates so
    the 48 kHz clock cannot be confused with the ident rate) — across
    four FLAC clocks, four Vorbis clocks, non-round sample counts
    (doc_id%997 / %1009 offsets) and both channel layouts.  Every Ogg
    page CRC-32 is verified on read and computed on write; torn pages,
    bad CRCs and truncated STREAMINFO raise ValueError; Theora raises
    by name.  The (doc_id//3)%5==4 sub-slice of the vorbis rotation
    maps FLAC INTO Ogg (r15, the xiph mapping: 0x7F FLAC ident packet
    wrapping a verbatim STREAMINFO, granule counting samples) — the
    radio-rip layout old Ogg corpora actually carry.  Duration is exact integer arithmetic,
    so the doc_id-arithmetic oracle certifies bitfield unpacking,
    lacing, granule scaling and both comment layouts on 500 streams.

    Spark plan: one Arrow map pass over doc ids, no shuffle."""
    from pasardassist_spark.operators.flacmeta import (
        encode_flac_meta,
        encode_ogg,
        parse_flac_meta,
        parse_ogg_meta,
    )

    schema = (
        "doc_id long, container string, codec string, sample_rate int, "
        "channels int, bits_per_sample int, duration_ms long, "
        "tag_count int"
    )
    _FLAC_RATES = (44100, 48000, 96000, 22050)
    _VORB_RATES = (44100, 48000, 32000, 8000)
    _OPUS_RATES = (48000, 16000, 24000)

    def _build_parse(doc_id):
        i = int(doc_id)
        ch = 1 + i % 2
        if i % 3 == 0:
            rate = _FLAC_RATES[(i // 3) % 4]
            total = rate * (1 + i % 5) + i % 997
            tags = [("TITLE", f"Track {i}")]
            if i % 2:
                tags.append(("ARTIST", f"Artist {i % 50}"))
            payload = encode_flac_meta(
                rate, ch, 16 if (i // 2) % 2 == 0 else 24, total, tags=tags,
            )
            m = parse_flac_meta(payload)
            yield (
                i, "flac", "flac", m.sample_rate, m.channels,
                m.bits_per_sample, m.duration_ms, len(m.tags),
            )
            return
        if i % 3 == 1:
            # r15: the (doc_id//3)%5==4 sub-slice maps FLAC into Ogg
            # (xiph mapping packet, same clock and sample formulas as the
            # vorbis slice)
            codec = "flac" if (i // 3) % 5 == 4 else "vorbis"
            rate = _VORB_RATES[(i // 3) % 4]
            samples = rate * (2 + i % 4) + i % 1009
        else:
            codec, rate = "opus", _OPUS_RATES[(i // 3) % 3]
            samples = 48 * (500 + i % 2000)
        m = parse_ogg_meta(encode_ogg(codec, rate, ch, samples))
        yield i, "ogg", m.codec, m.sample_rate, m.channels, 0, m.duration_ms, 0

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_mkv_meta",
    oracle="""
    WITH base AS (SELECT doc_id FROM documents),
    v AS (
        SELECT doc_id, 1 AS track_number, 'video' AS kind,
               CASE (doc_id // 3) % 3 WHEN 0 THEN 'V_VP9'
                    WHEN 1 THEN 'V_VP8' ELSE 'V_MPEG4/ISO/AVC' END AS codec,
               CAST(640 + 16 * (doc_id % 10) AS INTEGER) AS width,
               CAST(360 + 8 * (doc_id % 10) AS INTEGER) AS height,
               CAST(0 AS INTEGER) AS sample_rate,
               CAST(0 AS INTEGER) AS channels
        FROM base
    ),
    a AS (
        SELECT doc_id, 2 AS track_number, 'audio' AS kind,
               CASE doc_id % 2 WHEN 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
                   AS codec,
               CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
               CAST(CASE doc_id % 2 WHEN 0 THEN 48000 ELSE 44100 END
                    AS INTEGER) AS sample_rate,
               CAST(1 + doc_id % 2 AS INTEGER) AS channels
        FROM base WHERE doc_id % 3 >= 1
    ),
    s AS (
        SELECT doc_id, 3 AS track_number, 'subtitle' AS kind,
               'S_TEXT/UTF8' AS codec,
               CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
               CAST(0 AS INTEGER) AS sample_rate,
               CAST(0 AS INTEGER) AS channels
        FROM base WHERE doc_id % 3 = 2
    ),
    u AS (SELECT * FROM v UNION ALL SELECT * FROM a UNION ALL SELECT * FROM s)
    SELECT doc_id,
           CASE doc_id % 2 WHEN 0 THEN 'webm' ELSE 'matroska' END AS doctype,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 50 * (100 + doc_id % 1000)
                ELSE 1000 + doc_id % 10000 END AS BIGINT) AS duration_ms,
           track_number, kind, codec, width, height, sample_rate, channels
    FROM u
    """,
)
def mm_mkv_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM (EBML) container metadata walk WITHOUT frame decode
    (operators/ebmlmeta.py) — the open-web video container next to
    mm_mp4_meta's ISO-BMFF: DocType, TimestampScale-scaled Duration,
    and per-track number/type/CodecID plus Video{PixelWidth,
    PixelHeight} or Audio{SamplingFrequency, Channels}.

    Fixtures rotate BOTH DocTypes, the streamed-muxer UNKNOWN-SIZE
    Segment on odd ids (all size bits set, extends to EOF — the form
    live muxers emit), 4-byte vs 8-byte IEEE Duration floats (doc_id%4),
    a NON-DEFAULT TimestampScale of 50 ms on doc_id%5==0 (so a walker
    that assumes the 1 ms default scales duration 50x wrong), 1-3
    tracks across three video and two audio CodecIDs, and a Cluster
    stub every walker must skip by declared size.  The oracle
    re-derives every column from doc_id arithmetic; torn elements raise
    ValueError, foreign DocTypes and unknown-size non-Segment elements
    raise by name.

    Spark plan: one Arrow map pass over doc ids, no shuffle; O(metadata
    bytes) regardless of media size."""
    from pasardassist_spark.operators.ebmlmeta import (
        encode_mkv_meta,
        parse_mkv_meta,
    )

    schema = (
        "doc_id long, doctype string, duration_ms long, "
        "track_number int, kind string, codec string, width int, "
        "height int, sample_rate int, channels int"
    )
    _VCODECS = ("V_VP9", "V_VP8", "V_MPEG4/ISO/AVC")

    def _build_parse(doc_id):
        i = int(doc_id)
        tracks = [
            (1, "video", _VCODECS[(i // 3) % 3],
             640 + 16 * (i % 10), 360 + 8 * (i % 10), 0, 0),
        ]
        if i % 3 >= 1:
            tracks.append(
                (2, "audio", "A_OPUS" if i % 2 == 0 else "A_VORBIS", 0, 0,
                 48000 if i % 2 == 0 else 44100, 1 + i % 2)
            )
        if i % 3 == 2:
            tracks.append((3, "subtitle", "S_TEXT/UTF8", 0, 0, 0, 0))
        if i % 5 == 0:
            dur, scale = 50 * (100 + i % 1000), 50_000_000
        else:
            dur, scale = 1000 + i % 10000, 1_000_000
        payload = encode_mkv_meta(
            "webm" if i % 2 == 0 else "matroska",
            dur,
            tracks,
            timescale_ns=scale,
            segment_unknown_size=i % 2 == 1,
            float32_duration=i % 4 == 2,
        )
        m = parse_mkv_meta(payload)
        if len(m.tracks) != len(tracks):
            raise ValueError(f"doc {i}: track count")
        for t in m.tracks:
            yield (
                i, m.doctype, m.duration_ms, t.number, t.kind, t.codec,
                t.width, t.height, t.sample_rate, t.channels,
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_heif_meta",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'heic' WHEN 1 THEN 'avif'
                    ELSE 'mif1' END AS brand,
               CASE doc_id % 3 WHEN 0 THEN 'hvc1' ELSE 'av01' END AS img,
               CAST(320 + 16 * (doc_id % 8) AS INTEGER) AS w,
               CAST(240 + 16 * (doc_id % 5) AS INTEGER) AS h,
               CAST((doc_id % 4) * 90 AS INTEGER) AS rot,
               CAST(CASE (doc_id // 3) % 3 WHEN 0 THEN 8 WHEN 1 THEN 10
                    ELSE 12 END AS INTEGER) AS depth,
               CAST(1 + CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END
                      + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END
                    AS INTEGER) AS n_items
        FROM documents
    ),
    items AS (
        SELECT doc_id, brand, n_items, 1 AS item_id, img AS item_type,
               w AS width, h AS height, rot AS rotation, depth AS bit_depth,
               TRUE AS is_primary
        FROM base
        UNION ALL
        SELECT doc_id, brand, n_items, 2, img, w // 4, h // 4,
               CAST(NULL AS INTEGER), CAST(8 AS INTEGER), FALSE
        FROM base WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id, brand, n_items, 3, 'Exif',
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), FALSE
        FROM base WHERE doc_id % 3 = 2
    )
    SELECT doc_id, brand, n_items, CAST(item_id AS INTEGER) AS item_id,
           item_type, width, height, rotation, bit_depth, is_primary
    FROM items
    """,
)
def mm_heif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIF/AVIF still-image metadata walk WITHOUT pixel decode
    (operators/heifmeta.py, r15 — the seventh no-decode metadata
    family member): iPhone crawls arrive as HEIC and the modern web
    increasingly as AVIF, and the indexing columns — per-item
    dimensions, rotation, bit depth, the primary-item flag — live in
    the ISO-BMFF ``meta`` box (pitm/iinf/iprp), never in the codec
    payload.  One output row per ITEM: the primary hvc1/av01 image,
    an optional half-size thumbnail (odd ids — its ispe must resolve
    through ipma per-item, never leak onto the primary), and an
    optional Exif metadata item (ids %3==2, all-NULL geometry).

    Fixtures rotate all three brands, BOTH structure widths (ids %5==0
    write the 32-bit pitm v1 / infe v3 / ipma v1 layouts with 15-bit
    property indices; the rest the common 16-bit/7-bit forms),
    rotation 0 as a VALUE distinct from no-irot NULL, three bit
    depths, and shared-vs-private ipco properties.  The oracle
    re-derives every column from doc_id arithmetic — one hash
    certifies the fullbox meta walk, item enumeration, and the
    ipma association algebra on 500 files.  Protected items raise by
    name; torn boxes and out-of-range property indices raise
    ValueError.

    Spark plan: one Arrow map pass over doc ids, no shuffle; O(meta
    bytes) per file regardless of image size — the plan shape that
    indexes a 100 TB image crawl without touching a pixel."""
    from pasardassist_spark.operators.heifmeta import (
        encode_heif_meta,
        parse_heif_meta,
    )

    schema = (
        "doc_id long, brand string, n_items int, item_id int, "
        "item_type string, width int, height int, rotation int, "
        "bit_depth int, is_primary boolean"
    )
    _BRANDS = ("heic", "avif", "mif1")

    def _build_parse(doc_id):
        i = int(doc_id)
        img = "hvc1" if i % 3 == 0 else "av01"
        w, h = 320 + 16 * (i % 8), 240 + 16 * (i % 5)
        depth = (8, 10, 12)[(i // 3) % 3]
        items = [(1, img, w, h, (i % 4) * 90, depth)]
        if i % 2 == 1:
            items.append((2, img, w // 4, h // 4, None, 8))
        if i % 3 == 2:
            items.append((3, "Exif", None, None, None, None))
        meta = parse_heif_meta(
            encode_heif_meta(_BRANDS[i % 3], items, 1, wide=i % 5 == 0)
        )
        if meta.n_items != len(items):
            raise ValueError(f"doc {i}: item count {meta.n_items}")
        for t in meta.items:
            yield (
                i, meta.brand, meta.n_items, t.item_id, t.item_type, t.width,
                t.height, t.rotation, t.bit_depth, t.is_primary,
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_aiff_meta",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 2 THEN 'aifc' ELSE 'aiff' END AS form,
               CAST(CASE doc_id % 6 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    WHEN 2 THEN 22050 WHEN 3 THEN 96000 WHEN 4 THEN 8000
                    ELSE 11025 END AS INTEGER) AS sample_rate
        FROM documents
    )
    SELECT doc_id, form,
           CAST(1 + doc_id % 2 AS INTEGER) AS channels,
           sample_rate,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
                WHEN 2 THEN 24 ELSE 32 END AS INTEGER) AS bits_per_sample,
           CAST(sample_rate * (1 + doc_id % 4) + doc_id % 997 AS BIGINT)
               AS n_frames,
           CAST((sample_rate * (1 + doc_id % 4) + doc_id % 997) * 1000
                // sample_rate AS BIGINT) AS duration_ms,
           CASE WHEN doc_id % 2 = 1
                THEN 'Take ' || CAST(doc_id % 40 AS VARCHAR) END AS name,
           CASE WHEN doc_id % 5 = 0
                THEN 'Perf ' || CAST(doc_id % 11 AS VARCHAR) END AS author
    FROM base
    """,
)
def mm_aiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIFF/AIFF-C audio metadata WITHOUT sample decode
    (operators/aiffmeta.py, r15 — the big-endian EA-IFF-85 sibling of
    mm_wav_info_tags, closing the audio container matrix: MP3, MP4,
    FLAC, Ogg, WAV, and now the .aif/.aifc that pre-2000s Mac and
    pro-audio corpora carry).  The headline hazard is COMM's sample
    rate: an 80-BIT IEEE 754 EXTENDED float (15-bit exponent biased
    16383, EXPLICIT integer bit) — six clocks rotate through it,
    including the canonical 44100 = 0x400E AC44...  AIFF-C fixtures
    (ids %3==2) carry FVER + the NONE compression tag (codecs raise by
    name); NAME rides odd ids (odd byte lengths exercise the IFF pad
    rule), AUTH ids %5==0, and the SSND stub is skipped by size.

    The oracle re-derives every column from doc_id arithmetic — one
    hash certifies the chunk walk, the extended-float decode, both
    form layouts and the text-chunk pad rule on 500 files.

    Spark plan: one Arrow map pass over doc ids, no shuffle; O(header
    bytes) per file however long the audio runs."""
    from pasardassist_spark.operators.aiffmeta import (
        encode_aiff_meta,
        parse_aiff_meta,
    )

    schema = (
        "doc_id long, form string, channels int, sample_rate int, "
        "bits_per_sample int, n_frames long, duration_ms long, "
        "name string, author string"
    )
    _RATES = (44100, 48000, 22050, 96000, 8000, 11025)

    def _build_parse(doc_id):
        i = int(doc_id)
        rate = _RATES[i % 6]
        m = parse_aiff_meta(encode_aiff_meta(
            form="aifc" if i % 3 == 2 else "aiff",
            channels=1 + i % 2,
            sample_rate=rate,
            bits=(8, 16, 24, 32)[i % 4],
            n_frames=rate * (1 + i % 4) + i % 997,
            name=f"Take {i % 40}" if i % 2 == 1 else None,
            author=f"Perf {i % 11}" if i % 5 == 0 else None,
        ))
        yield (
            i, m.form, m.channels, m.sample_rate, m.bits_per_sample,
            m.n_frames, m.duration_ms, m.name, m.author,
        )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_ico_meta",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 3 THEN 'cursor' ELSE 'icon' END
                   AS kind,
               CAST(1 + doc_id % 3 AS INTEGER) AS n_entries
        FROM documents
    ),
    ent AS (
        SELECT doc_id, kind, n_entries, CAST(e.k AS INTEGER) AS entry_no,
               doc_id % 4 = 1 AND e.k = 0 AS big,
               (doc_id + e.k) % 5 = 0 AS png5,
               CAST(e.k AS INTEGER) AS k
        FROM base, (SELECT unnest(range(3)) AS k) e
        WHERE e.k < n_entries
    ),
    shaped AS (
        SELECT doc_id, kind, n_entries, entry_no,
               CASE WHEN big THEN 256
                    ELSE CASE k WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 48 END
               END AS w,
               big OR png5 AS is_png,
               CASE WHEN big OR png5 THEN 32
                    ELSE CASE k WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 24 END
               END AS bpp
        FROM ent
    )
    SELECT doc_id, kind, n_entries, entry_no,
           CAST(w AS INTEGER) AS width, CAST(w AS INTEGER) AS height,
           CAST(bpp AS INTEGER) AS bpp,
           CASE WHEN is_png THEN 'png' ELSE 'dib' END AS fmt,
           CAST(CASE WHEN is_png THEN 57
                ELSE 40
                     + CASE WHEN bpp <= 8 THEN 4 * (1 << bpp) ELSE 0 END
                     + (((w * bpp + 31) // 32) * 4
                        + ((w + 31) // 32) * 4) * w
                END AS BIGINT) AS size_bytes
    FROM shaped
    """,
)
def mm_ico_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO/CUR (favicon) directory metadata WITHOUT pixel decode
    (operators/icometa.py, r15): favicons are the most-fetched image
    class on the web, and crawls index them from the ICONDIR alone —
    per-entry dimensions (the 0-means-256 sentinel cross-checked
    against the embedded PNG IHDR / DIB header), bit depth, payload
    format, and declared size.  The two classic traps are pinned by
    the oracle: the 256px entry whose directory bytes read 0, and the
    DIB whose biHeight counts the XOR **and** AND masks (real height
    is half).  Fixtures rotate 1-3 entries (16/32/48 px ladder), a
    256px PNG member on ids %4==1, PNG-vs-DIB by (id+entry)%5, icon
    vs cursor type, and palette/truecolor depths; size_bytes is
    re-derived closed-form (DIB stride + palette arithmetic, the
    constant 57-byte PNG header stub), so one hash certifies the
    directory walk, both payload sniffs and the mask/stride math on
    500 files.

    Spark plan: one Arrow map pass over doc ids, no shuffle."""
    from pasardassist_spark.operators.icometa import (
        encode_ico,
        parse_ico_meta,
    )

    schema = (
        "doc_id long, kind string, n_entries int, entry_no int, "
        "width int, height int, bpp int, fmt string, size_bytes long"
    )

    def _build_parse(doc_id):
        i = int(doc_id)
        n = 1 + i % 3
        spec = []
        for k in range(n):
            big = i % 4 == 1 and k == 0
            png = big or (i + k) % 5 == 0
            w = 256 if big else (16, 32, 48)[k]
            bpp = 32 if png else (4, 8, 24)[k]
            spec.append((w, w, bpp, "png" if png else "dib"))
        m = parse_ico_meta(encode_ico(spec, kind="cursor" if i % 7 == 3 else "icon"))
        if m.n_entries != n:
            raise ValueError(f"doc {i}: entry count {m.n_entries}")
        for k, e in enumerate(m.entries):
            yield i, m.kind, n, k, e.width, e.height, e.bpp, e.fmt, e.size_bytes

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)


@query(
    "mm_svg_meta",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 9 = 4 AS no_attrs,
               doc_id % 2 = 0 AS has_vb,
               doc_id % 4 AS unit,
               CAST(320 + 16 * (doc_id % 8) AS DOUBLE) AS vbw,
               CAST(240 + 16 * (doc_id % 5) AS DOUBLE) AS vbh
        FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN no_attrs THEN CASE WHEN has_vb THEN vbw END
                ELSE CASE unit
                     WHEN 0 THEN 100 + doc_id % 60
                     WHEN 1 THEN 4 * (34 + doc_id % 20)
                     WHEN 2 THEN 96 * (1 + doc_id % 5)
                END END AS DOUBLE) AS width_px,
           CAST(CASE WHEN no_attrs THEN CASE WHEN has_vb THEN vbh END
                ELSE CASE unit
                     WHEN 0 THEN 50 + doc_id % 40
                     WHEN 1 THEN 4 * (20 + doc_id % 15)
                     WHEN 2 THEN 96 * (1 + doc_id % 3)
                END END AS DOUBLE) AS height_px,
           CASE WHEN has_vb THEN vbw END AS view_w,
           CASE WHEN has_vb THEN vbh END AS view_h,
           CAST(doc_id % 7 AS INTEGER) AS n_paths,
           CAST(doc_id % 3 AS INTEGER) AS n_texts,
           CAST(doc_id % 2 AS INTEGER) AS n_images,
           doc_id % 11 = 5 OR doc_id % 13 = 6 AS has_script,
           CASE WHEN doc_id % 4 != 0
                THEN 'Logo ' || CAST(doc_id % 30 AS VARCHAR) END AS title
    FROM base
    """,
)
def mm_svg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVG intrinsic-size + structure metadata WITHOUT rasterization
    (operators/svgmeta.py, r15): the one first-class web image format
    the codec family didn't cover — a crawl indexes SVGs by resolved
    intrinsic dimensions and by whether they carry ACTIVE content
    (<script> or on* handlers turn an 'image' into a security-relevant
    document).  CSS unit resolution rotates px / pt (x4/3) / in (x96)
    with numbers chosen so every resolved value is an exact integer
    (no cross-engine rounding seam; mm/cm resolution is pytest-pinned
    where ties cannot bite the driver hash); the %-unit slice reads
    NULL (no intrinsic resolution), ids %9==4 omit width/height
    entirely and fall back to the viewBox extent per the browser rule,
    and ids %2==0 carry a viewBox.  Element counts walk
    namespace-agnostically; has_script fires on script elements OR
    event-handler attributes.  DTD/entity payloads are REJECTED before
    parse (billion-laughs hardening, pytest-pinned).

    Spark plan: one Arrow map pass over doc ids, no shuffle."""
    from pasardassist_spark.operators.svgmeta import (
        encode_svg,
        parse_svg_meta,
    )

    schema = (
        "doc_id long, width_px double, height_px double, view_w double, "
        "view_h double, n_paths int, n_texts int, n_images int, "
        "has_script boolean, title string"
    )

    def _build_parse(doc_id):
        i = int(doc_id)
        unit = i % 4
        if i % 9 == 4:
            w = h = None
        elif unit == 0:
            w, h = f"{100 + i % 60}px", f"{50 + i % 40}px"
        elif unit == 1:
            w = f"{3 * (34 + i % 20)}pt"
            h = f"{3 * (20 + i % 15)}pt"
        elif unit == 2:
            w, h = f"{1 + i % 5}in", f"{1 + i % 3}in"
        else:
            w, h = f"{30 + i % 70}%", f"{20 + i % 60}%"
        vb = (
            f"0 0 {320 + 16 * (i % 8)} {240 + 16 * (i % 5)}"
            if i % 2 == 0
            else None
        )
        m = parse_svg_meta(encode_svg(
            width=w, height=h, view_box=vb,
            n_paths=i % 7, n_texts=i % 3, n_images=i % 2,
            script=i % 11 == 5, onload=i % 13 == 6,
            title=f"Logo {i % 30}" if i % 4 != 0 else None,
        ))
        yield (
            i, m.width_px, m.height_px, m.view_w, m.view_h, m.n_paths,
            m.n_texts, m.n_images, m.has_script, m.title,
        )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return map_rows(d, _build_parse, schema)
