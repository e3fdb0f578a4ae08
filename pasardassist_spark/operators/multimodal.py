"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw bytes as a ``binary``
column (or a pointer into object storage) next to a typed metadata struct,
and run decode / feature-extraction as Arrow-batched ``mapInPandas`` stages:
per-row codecs go through ``tables.map_rows`` (one function per payload
row yielding output tuples), the vectorized stubs (``extract_features``,
``resize_thumbnails``) work on whole pandas batches. The Spark-side
plumbing here — schema, batch iteration, column pruning (metadata-only
queries never touch the payload column) — is real and tested.

Decode is REAL for PPM/PGM, uncompressed BMP, and 8-bit PNG via the
stdlib-only codecs in operators/imagecodec.py (``decode_images`` /
``resize_images`` run them distributed). Formats needing external codec
libraries (JPEG/WebP/video) raise NotImplementedError at the same seam a
production PIL/libvips/ffmpeg build would plug into; the digest-derived
``fake_decode`` remains only as the fallback for non-image payloads so the
text-payload plumbing queries stay independently checkable.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from pasardassist_spark.tables import map_rows

FEATURE_SCHEMA = "doc_id long, kind string, n_bytes long, width int, height int"


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + metadata struct."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "meta",
        F.struct(
            F.lit("text/plain").alias("kind"),
            F.octet_length(F.col(text_col)).cast("long").alias("size"),
        ),
    )


def decode_image(payload: bytes) -> tuple[int, int]:
    """Real decoder: PPM/PGM, uncompressed BMP, and 8-bit PNG are decoded
    by the pure-Python codecs in operators/imagecodec.py (stdlib only —
    zlib inflates PNG IDAT; all five scanline filters reversed). Raises
    NotImplementedError only for containers with no decoder (JPEG/WebP/
    video — a production build plugs PIL/libvips/ffmpeg into the same
    seam)."""
    from pasardassist_spark.operators import imagecodec

    r = imagecodec.decode(payload)
    return r.width, r.height


def synth_raster(doc_id: int) -> tuple[int, int, bytes]:
    """Deterministic synthetic RGB raster for a document id. Dimensions are
    pure arithmetic over doc_id (so a SQL oracle re-derives them without
    touching bytes); pixel (x, y, c) = (x*7 + y*13 + c*29 + doc_id) % 256."""
    w = int(doc_id) % 61 + 4
    h = (int(doc_id) * 7) % 53 + 4
    base = (
        np.arange(w, dtype=np.int64) * 7
        + np.arange(h, dtype=np.int64).reshape(h, 1) * 13
        + int(doc_id)
    )
    px = np.stack(
        [base % 256, (base + 29) % 256, (base + 58) % 256], axis=-1
    ).astype(np.uint8)
    return w, h, px.tobytes()


IMAGE_KINDS = ("image/x-portable-pixmap", "image/bmp", "image/png")


def attach_image_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    seed_mod: int | None = None,
    mark_corner: tuple[int, int] | None = None,
) -> DataFrame:
    """Build REAL image payloads (not digest stand-ins): each row gets a
    deterministic synthetic raster encoded into an actual container —
    format rotates doc_id % 3 over PPM / BMP / PNG — so downstream stages
    exercise the pure-Python decoders on genuine file bytes. Arrow-batched
    mapInPandas; at 100 TB this stage is the 'fetch/transcode' map pass.

    ``seed_mod`` derives the raster from doc_id % seed_mod instead of
    doc_id: rows sharing a seed get the IDENTICAL image in (usually)
    different containers — the planted-duplicate corpus the perceptual
    dedup query verifies against.

    ``mark_corner=(m, r)`` paints source pixel (0, 0) white on rows with
    doc_id % m == r — a one-pixel perturbation that flips only the few
    dHash bits whose 9x8 cells sample that pixel, planting NEAR-duplicate
    pairs (small nonzero Hamming distance) next to the exact ones."""
    from pasardassist_spark.operators import imagecodec

    schema = f"{id_col} long, kind string, payload binary"

    encoders = (imagecodec.encode_ppm, imagecodec.encode_bmp, imagecodec.encode_png)

    def _row(doc_id):
        seed = int(doc_id) % seed_mod if seed_mod else int(doc_id)
        w, h, px = synth_raster(seed)
        if mark_corner and int(doc_id) % mark_corner[0] == mark_corner[1]:
            px = b"\xff\xff\xff" + px[3:]
        fmt = int(doc_id) % 3
        yield doc_id, IMAGE_KINDS[fmt], encoders[fmt](imagecodec.Raster(w, h, 3, px))

    return map_rows(df.select(id_col), _row, schema)


DECODE_SCHEMA = (
    "doc_id long, kind string, width int, height int, channels int, pixel_sum long"
)


def decode_images(df: DataFrame) -> DataFrame:
    """REAL decode stage: parse each payload with the pure-Python codecs
    and emit dimensions plus a raster checksum (sum of all decoded pixel
    bytes — any mis-decoded byte, filter bug, or BGR/RGB swap shifts it).
    Same mapInPandas shape as extract_features, but no fallback: every
    payload must decode."""
    from pasardassist_spark.operators import imagecodec

    def _row(doc_id, kind, payload):
        r = imagecodec.decode(payload)
        pixel_sum = int(np.frombuffer(r.pixels, dtype=np.uint8).sum())
        yield doc_id, kind, r.width, r.height, r.channels, pixel_sum

    return map_rows(df.select("doc_id", "kind", "payload"), _row, DECODE_SCHEMA)


REAL_RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_w int, out_h int, thumb binary"
)


def resize_images(df: DataFrame, max_side: int = 16) -> DataFrame:
    """REAL resize stage: decode → nearest-neighbor resample → re-encode as
    binary PPM (P6). Aspect-preserving: scale = min(max_side/max(w,h), 1),
    target dims floor(dim*scale) floored at 1 — identical math to the stub
    stage so both share one SQL oracle form. The thumb column is a genuine
    decodable image; its byte length is header + out_w*out_h*3."""
    from pasardassist_spark.operators import imagecodec

    def _row(doc_id, payload):
        r = imagecodec.decode(payload)
        scale = min(max_side / max(r.width, r.height), 1.0)
        ow = max(int(r.width * scale), 1)
        oh = max(int(r.height * scale), 1)
        thumb = imagecodec.encode_ppm(
            imagecodec.resize_nearest(
                r if r.channels == 3 else imagecodec.Raster(
                    r.width, r.height, 3,
                    np.repeat(np.frombuffer(r.pixels, dtype=np.uint8), 3).tobytes(),
                ),
                ow, oh,
            )
        )
        yield doc_id, r.width, r.height, ow, oh, thumb

    return map_rows(df.select("doc_id", "payload"), _row, REAL_RESIZE_SCHEMA)


def dhash_raster(width: int, height: int, channels: int, pixels: bytes) -> tuple[int, int]:
    """dHash (difference hash) of a decoded raster: nearest-neighbor
    downsample to 9x8, integer gray = (r+g+b)//3, bit(y,x) = gray[y][x] <
    gray[y][x+1] — 64 bits returned as two unsigned 32-bit halves (hi =
    bits 32..63) so SQL oracles and signed-long columns never wrap.

    The standard perceptual near-dup signature: stable under re-encoding
    (PPM vs PNG vs BMP of the same raster hash identically — pinned by
    the mm_dhash_dedup oracle) and under mild resampling, because only
    the 9x8 luminance GRADIENT survives into the hash."""
    from pasardassist_spark.operators import imagecodec

    r = imagecodec.Raster(width, height, channels, pixels)
    small = imagecodec.resize_nearest(r, 9, 8)
    ch = small.channels
    bits = 0
    for y in range(8):
        row = y * 9 * ch
        prev = None
        for x in range(9):
            p = row + x * ch
            if ch == 3:
                g = (small.pixels[p] + small.pixels[p + 1] + small.pixels[p + 2]) // 3
            else:
                g = small.pixels[p]
            if prev is not None and prev < g:
                bits |= 1 << (y * 8 + (x - 1))
            prev = g
    return bits >> 32, bits & 0xFFFFFFFF


DHASH_SCHEMA = "doc_id long, dhash_hi long, dhash_lo long"


def dhash_images(df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual-hash stage: decode each payload with the
    real codecs and emit its dHash halves. At 100 TB the (dhash_hi,
    dhash_lo) pair is the shuffle key for exact perceptual dedup (one
    groupBy — the image-side sibling of content-hash text dedup); near-dup
    extends by banding the 64 bits, same LSH discipline as SimHash."""
    from pasardassist_spark.operators import imagecodec

    def _row(doc_id, payload):
        r = imagecodec.decode(payload)
        yield (doc_id, *dhash_raster(r.width, r.height, r.channels, r.pixels))

    return map_rows(df.select("doc_id", "payload"), _row, DHASH_SCHEMA)


def dhash_near_pairs(hashes: DataFrame, max_dist: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance — the
    image-side sibling of SimHash near-dup text dedup, same pigeonhole
    discipline: the 64 hash bits split into 4 16-bit bands; two hashes
    within Hamming distance 3 MUST agree exactly on at least one band, so
    the banded equi-join has guaranteed recall for ``max_dist`` <= 3 and
    the exact popcount filter runs only on band-collision candidates.

    Input: (doc_id, dhash_hi, dhash_lo). Output: (id_a, id_b, dist),
    id_a < id_b. At 100 TB the shuffle key is (band_idx, band_value) —
    cost is sum over bands of collision-group sizes squared, never
    corpus^2 (identical scale shape to operators/dedup.py:simhash)."""
    if max_dist > 3:
        raise ValueError(
            f"4-band pigeonhole guarantees recall only for max_dist <= 3 "
            f"(got {max_dist}); widen the band count for larger radii"
        )
    h = hashes.select("doc_id", "dhash_hi", "dhash_lo")
    bands = h.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), (F.col("dhash_lo").bitwiseAND(0xFFFF)).alias("val")),
                F.struct(F.lit(1).alias("band"), F.shiftright("dhash_lo", 16).alias("val")),
                F.struct(F.lit(2).alias("band"), (F.col("dhash_hi").bitwiseAND(0xFFFF)).alias("val")),
                F.struct(F.lit(3).alias("band"), F.shiftright("dhash_hi", 16).alias("val")),
            )
        ).alias("b"),
    ).select("doc_id", "dhash_hi", "dhash_lo", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("dhash_hi").alias("hi_a"),
        F.col("dhash_lo").alias("lo_a"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("dhash_hi").alias("hi_b"),
        F.col("dhash_lo").alias("lo_b"),
        "band",
        "val",
    )
    dist = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .distinct()
        .filter(F.col("dist") <= max_dist)
    )


def synth_video_frames(doc_id: int) -> tuple[int, int, int, list[bytes]]:
    """Deterministic synthetic video for a document id: n = doc_id % 6 + 2
    frames of w = doc_id % 13 + 4 by h = (doc_id*3) % 11 + 4, frame f's
    pixel (x, y) channels = (x*7 + y*13 + doc_id + f*17) + (0, 29, 58),
    each mod 256 — closed-form for the SQL oracle."""
    did = int(doc_id)
    n = did % 6 + 2
    w = did % 13 + 4
    h = (did * 3) % 11 + 4
    grid = (
        np.arange(w, dtype=np.int64) * 7
        + np.arange(h, dtype=np.int64).reshape(h, 1) * 13
        + did
    )
    frames = []
    for f in range(n):
        base = grid + f * 17
        px = np.stack(
            [base % 256, (base + 29) % 256, (base + 58) % 256], axis=-1
        ).astype(np.uint8)
        frames.append(px.tobytes())
    return n, w, h, frames


VIDEO_FRAME_SCHEMA = (
    "doc_id long, sample_i int, frame_idx int, n_frames int, "
    "width int, height int, pixel_sum long"
)


def video_sample_frames(df: DataFrame, k: int = 4, id_col: str = "doc_id") -> DataFrame:
    """REAL video frame sampling end-to-end: build a genuine AVI container
    per row (RIFF hdrl/movi tree, uncompressed DIB frames), parse it back
    with the pure-Python codec (operators/videocodec.py), pick k
    evenly-spaced keyframes, and emit each sampled frame's dimensions and
    raster checksum. This retires the last multimodal stub — the sampled
    frames are the same Raster type the image stages consume, so dHash /
    resize compose directly. mapInPandas; per-row CPU, zero shuffle."""
    from pasardassist_spark.operators import imagecodec, videocodec

    def _row(doc_id):
        n, w, h, rasters = synth_video_frames(int(doc_id))
        payload = videocodec.encode_avi(
            [imagecodec.Raster(w, h, 3, px) for px in rasters], fps=10
        )
        video = videocodec.decode_avi(payload)
        if video.width != w or len(video.frames) != n:
            # explicit (not assert — must survive python -O): a
            # codec regression must fail the task with context,
            # never silently emit wrong checksums
            raise ValueError(
                f"AVI round-trip mismatch for doc {doc_id}: "
                f"{video.width}x{len(video.frames)} != {w}x{n}"
            )
        for i, idx in enumerate(videocodec.sample_frame_indices(len(video.frames), k)):
            fr = video.frames[idx]
            pixel_sum = int(np.frombuffer(fr.pixels, dtype=np.uint8).sum())
            yield doc_id, i, idx, n, fr.width, fr.height, pixel_sum

    return map_rows(df.select(id_col), _row, VIDEO_FRAME_SCHEMA)


VIDEO_FP_SCHEMA = (
    "doc_id long, n_frames int, "
    "first_hi long, first_lo long, last_hi long, last_lo long"
)


def video_fingerprints(
    df: DataFrame, seed_mod: int = 89, id_col: str = "doc_id"
) -> DataFrame:
    """Video-level dedup stage: each row gets a genuine AVI built from
    seed = doc_id % seed_mod (docs sharing a seed are the SAME clip), the
    container round-trips the codec, and the clip folds to a signature of
    (frame count, dHash of the first DECODED frame, dHash of the last) —
    the bookend-keyframe signature video dedup pipelines use before
    falling back to full frame-sequence comparison. Re-containered copies
    collapse (the hashes see pixels); clips differing anywhere the
    bookends or length see don't."""
    from pasardassist_spark.operators import imagecodec, videocodec

    def _row(doc_id):
        n, w, h, rasters = synth_video_frames(int(doc_id) % seed_mod)
        payload = videocodec.encode_avi(
            [imagecodec.Raster(w, h, 3, px) for px in rasters], fps=10
        )
        video = videocodec.decode_avi(payload)
        first, last = video.frames[0], video.frames[-1]
        fh, fl = dhash_raster(first.width, first.height, first.channels, first.pixels)
        lh, ll = dhash_raster(last.width, last.height, last.channels, last.pixels)
        yield doc_id, len(video.frames), fh, fl, lh, ll

    return map_rows(df.select(id_col), _row, VIDEO_FP_SCHEMA)


def synth_wav_samples(doc_id: int) -> tuple[int, list[int]]:
    """Deterministic synthetic PCM stream for a document id: n = doc_id %
    300 + 100 mono samples at 8 kHz, s[i] = ((i*37 + doc_id*11) % 2048) -
    1024 — pure integer arithmetic a SQL oracle re-derives exactly."""
    did = int(doc_id)
    n = did % 300 + 100
    return n, [((i * 37 + did * 11) % 2048) - 1024 for i in range(n)]


def synth_wav_variant(doc_id: int, seed_mod: int = 101) -> tuple[int, int, list[int]]:
    """Volume-variant synthetic PCM: base samples from seed = doc_id %
    seed_mod, multiplied by gain = (doc_id // seed_mod) % 3 + 1 — docs
    sharing a seed are the SAME recording at different levels (|sample|
    <= 3*1024, well inside int16), the planted-duplicate corpus for
    fingerprint dedup."""
    did = int(doc_id)
    seed = did % seed_mod
    gain = (did // seed_mod) % 3 + 1
    n = seed % 300 + 100
    return seed, gain, [
        (((i * 37 + seed * 11) % 2048) - 1024) * gain for i in range(n)
    ]


FP_SCHEMA = "doc_id long, fingerprint long"


def audio_fingerprints(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio-dedup stage: genuine WAV payloads (volume-variant corpus)
    round-trip the codec, then fold to the 31-bit energy-delta
    fingerprint. At 100 TB the fingerprint is the shuffle key for exact
    recording-level dedup (one groupBy, the audio sibling of dHash),
    robust to uniform re-leveling by construction."""
    from pasardassist_spark.operators import audiocodec

    def _row(doc_id):
        _seed, _gain, samples = synth_wav_variant(int(doc_id))
        payload = audiocodec.encode_wav(audiocodec.PcmAudio(AUDIO_RATE, 1, samples))
        decoded = audiocodec.decode_wav(payload)
        yield doc_id, audiocodec.energy_fingerprint(decoded.samples)

    return map_rows(df.select(id_col), _row, FP_SCHEMA)


AUDIO_RATE = 8000

AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_samples int, duration_ms int, "
    "sq_sum long, zero_crossings int"
)


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio pipeline end-to-end: synthesize a genuine RIFF/PCM16 WAV
    payload per row, parse it back with the pure-Python codec
    (operators/audiocodec.py — chunk walk, fmt validation, sample
    unpacking), and emit integer-exact features (energy sum-of-squares,
    strict zero crossings). Same mapInPandas shape as the image stages;
    at scale the synth step is whatever fetch produces the bytes."""
    from pasardassist_spark.operators import audiocodec

    def _row(doc_id):
        _n, samples = synth_wav_samples(int(doc_id))
        payload = audiocodec.encode_wav(audiocodec.PcmAudio(AUDIO_RATE, 1, samples))
        f = audiocodec.extract_audio_features(audiocodec.decode_wav(payload))
        yield (
            doc_id, f.sample_rate, f.n_samples, f.duration_ms, f.sq_sum,
            f.zero_crossings,
        )

    return map_rows(df.select(id_col), _row, AUDIO_SCHEMA)


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in decode: dimensions derived from the payload
    digest (so tests and oracles can verify the plumbing end-to-end)."""
    h = hashlib.md5(payload).hexdigest()
    return int(h[:4], 16) % 1024, int(h[4:8], 16) % 1024


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    mapInPandas: one pandas batch in, one out — the shape a real
    decode/resize/frame-sample stage uses. Payload bytes never pass through
    Python row-by-row; Arrow moves them in columnar batches.

    Payloads whose magic bytes identify a supported image container
    (PPM/PGM/BMP/PNG) go through the REAL decoder (operators/imagecodec);
    anything else (the text/plain stand-ins) keeps the deterministic
    digest-derived dimensions so non-image plumbing stays checkable.
    """
    from pasardassist_spark.operators import imagecodec

    def _dims(payload: bytes) -> tuple[int, int]:
        # the magic sniff is only a ROUTE, not a guarantee: text payloads
        # can legitimately start with b"BM" or b"P5 " (a sentence about
        # BMWs), and parsing those as headers raises. Any decode failure
        # means "not actually an image" — fall back to the digest path,
        # preserving the non-image contract for every payload.
        if imagecodec.sniff_format(payload):
            try:
                return decode_image(payload)
            except (ValueError, NotImplementedError):
                pass
        return fake_decode(payload)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf["payload"].map(_dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [m["kind"] for m in pdf["meta"]],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    return df.select("doc_id", "payload", "meta").mapInPandas(_batches, FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id long, width int, height int, out_w int, out_h int, thumb binary"


def resize_thumbnails(df: DataFrame, max_side: int = 128) -> DataFrame:
    """Arrow-batched resize stage: aspect-preserving target dimensions plus a
    thumbnail payload. Dimension math is real (what a resize must compute);
    the pixel work is the documented stub — a production build calls
    PIL.Image.thumbnail where ``_thumb_bytes`` truncates. Output thumbnails
    stay a ``binary`` column, so the stage composes with further mapInPandas
    stages exactly like a real codec pipeline."""

    def _thumb_bytes(payload: bytes, w: int, h: int) -> bytes:
        # STUB pixel path: deterministic truncation proportional to area
        # ratio; PIL/libvips plug in here.
        keep = max(1, int(len(payload) * min(1.0, (w * h) / (1024 * 1024))))
        return payload[:keep]

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf["payload"].map(fake_decode)
            w = dims.map(lambda d: d[0]).astype("int32")
            h = dims.map(lambda d: d[1]).astype("int32")
            scale = (max_side / pd.concat([w, h], axis=1).max(axis=1)).clip(upper=1.0)
            out_w = (w * scale).astype("int32").clip(lower=1)
            out_h = (h * scale).astype("int32").clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "out_w": out_w,
                    "out_h": out_h,
                    "thumb": [
                        _thumb_bytes(p, ow, oh)
                        for p, ow, oh in zip(pdf["payload"], out_w, out_h)
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_batches, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_offset long, frame binary"


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage (video analog): 1 payload row fans out to
    ``n_frames`` evenly-spaced frame rows — the ST5 explode shape driven
    through Python because frame extraction needs a codec. Offsets are the
    real part (even spacing over the byte length); the frame bytes are the
    stub (a fixed-size slice at the offset; ffmpeg plugs in here)."""
    frame_len = 16

    def _row(doc_id, payload):
        n = max(1, len(payload))
        for i in range(n_frames):
            off = (i * n) // n_frames
            yield doc_id, i, off, bytes(payload[off : off + frame_len])

    return map_rows(df.select("doc_id", "payload"), _row, FRAME_SCHEMA)


def attach_gif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build REAL GIF payloads: the same deterministic raster family as
    attach_image_payload, expressed as an indexed-color image — palette
    entry i = (i, (i+29)%256, (i+58)%256) and index(x,y) =
    (x*7 + y*13 + doc_id) % 256, so the DECODED RGB raster equals
    synth_raster(doc_id) exactly and the SQL oracle's closed-form pixel
    sum carries over unchanged. Exercises the full LZW encode path
    (dictionary growth past the 9-bit boundary on every raster wider
    than a few hundred pixels)."""
    from pasardassist_spark.operators import gifcodec

    schema = f"{id_col} long, kind string, payload binary"
    palette = bytes(
        b for i in range(256) for b in (i, (i + 29) % 256, (i + 58) % 256)
    )

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 61 + 4
        h = (seed * 7) % 53 + 4
        idx = (
            (
                np.arange(w, dtype=np.int64) * 7
                + np.arange(h, dtype=np.int64).reshape(h, 1) * 13
                + seed
            )
            % 256
        ).astype(np.uint8).tobytes()
        # odd ids store the Appendix E four-pass interlace row order
        # (round 14) — pure container layout, the decoded raster and
        # hence the oracle are unchanged
        yield doc_id, "image/gif", gifcodec.encode_gif(
            idx, w, h, palette, interlace=seed % 2 == 1
        )

    return map_rows(df.select(id_col), _row, schema)


def attach_jpeg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build REAL baseline-JPEG payloads whose lossy roundtrip is EXACT:
    rasters constant within each 8x8 block (so the FDCT is DC-only with
    AC exactly zero), block value 2*((bx*19 + by*31 + doc_id) % 128)
    (level-shifted value even), flat quantization 16 (so the quantized
    DC (v-128)/2 is an exact integer and reconstruction returns v
    bit-exactly — see operators/jpegcodec.py's exactness note). Encoded
    4:2:0 with restart interval 2, so the driver row exercises Huffman
    decode, DC prediction resets at RSTn, MCU interleave, chroma
    upsampling, and YCbCr->RGB — all certifiable by the closed-form SQL
    pixel sum."""
    from pasardassist_spark.operators import jpegcodec
    from pasardassist_spark.operators.imagecodec import Raster

    schema = f"{id_col} long, kind string, payload binary"
    q16 = np.full((8, 8), 16, dtype=np.int32)

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 57 + 4
        h = (seed * 11) % 47 + 4
        bx = np.arange((w + 7) // 8, dtype=np.int64) * 19
        by = np.arange((h + 7) // 8, dtype=np.int64) * 31
        blocks = (2 * ((by[:, None] + bx[None, :] + seed) % 128)).astype(np.uint8)
        v = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)[:h, :w]
        rgb = np.repeat(v[:, :, None], 3, axis=2)
        yield doc_id, "image/jpeg", jpegcodec.encode_jpeg(
            Raster(w, h, 3, rgb.tobytes()),
            subsampling="4:2:0",
            restart_interval=2,
            quant_luma=q16,
            quant_chroma=q16,
        )

    return map_rows(df.select(id_col), _row, schema)


def mjpeg_sample_frames(df: DataFrame, k: int = 4, id_col: str = "doc_id") -> DataFrame:
    """REAL MJPEG keyframe sampling: each row gets a genuine MJPEG AVI —
    every frame chunk a standalone baseline JPEG from this repo's own
    encoder (operators/jpegcodec.py) inside the RIFF container
    (operators/videocodec.py) — decoded back frame-for-frame, k
    evenly-spaced keyframes checksummed. Frames are the block-constant
    exact-roundtrip family (jpegcodec's exactness note: DC-only blocks,
    even level-shifted values, flat Q=16), value
    2*((bx*19 + by*31 + doc_id + fr*17) % 128), dims w = doc_id%21+4,
    h = (doc_id*5)%19+4, n = doc_id%6+2 frames, 4:2:0 with restart
    interval 2 — so the SQL oracle re-derives every sampled frame's
    raster sum closed-form. mapInPandas; per-row CPU, zero shuffle."""
    from pasardassist_spark.operators import jpegcodec, videocodec
    from pasardassist_spark.operators.imagecodec import Raster

    q16 = np.full((8, 8), 16, dtype=np.int32)

    def _frame(seed: int, w: int, h: int, fr: int) -> Raster:
        bx = np.arange((w + 7) // 8, dtype=np.int64) * 19
        by = np.arange((h + 7) // 8, dtype=np.int64) * 31
        blocks = (2 * ((by[:, None] + bx[None, :] + seed + fr * 17) % 128)).astype(
            np.uint8
        )
        v = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)[:h, :w]
        return Raster(w, h, 3, np.repeat(v[:, :, None], 3, axis=2).tobytes())

    def _row(doc_id):
        seed = int(doc_id)
        n = seed % 6 + 2
        w = seed % 21 + 4
        h = (seed * 5) % 19 + 4
        payload = videocodec.encode_avi(
            [_frame(seed, w, h, fr) for fr in range(n)],
            fps=10,
            codec="mjpg",
            jpeg_opts=dict(
                subsampling="4:2:0", restart_interval=2,
                quant_luma=q16, quant_chroma=q16,
            ),
        )
        video = videocodec.decode_avi(payload)
        if video.width != w or len(video.frames) != n:
            raise ValueError(
                f"MJPEG round-trip mismatch for doc {doc_id}: "
                f"{video.width}x{len(video.frames)} != {w}x{n}"
            )
        for i, idx in enumerate(videocodec.sample_frame_indices(n, k)):
            fr = video.frames[idx]
            pixel_sum = int(np.frombuffer(fr.pixels, dtype=np.uint8).sum())
            yield doc_id, i, idx, n, fr.width, fr.height, pixel_sum

    return map_rows(df.select(id_col), _row, VIDEO_FRAME_SCHEMA)


def attach_jpeg_progressive_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """attach_jpeg_payload's PROGRESSIVE (SOF2) sibling: the same
    exact-roundtrip block-constant family (block value
    2*((bx*23 + by*37 + doc_id) % 128), dims w = doc_id%49+4,
    h = (doc_id*13)%41+4) through encode_jpeg_progressive's libjpeg-
    shaped scan script — DC Al=1 + DC refinement + two AC spectral bands
    + AC bit refinement per component, 4:2:0, restart interval 2 — so
    the driver row exercises every progressive scan kind on real
    multi-scan files."""
    from pasardassist_spark.operators import jpegcodec
    from pasardassist_spark.operators.imagecodec import Raster

    schema = f"{id_col} long, kind string, payload binary"
    q16 = np.full((8, 8), 16, dtype=np.int32)

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 49 + 4
        h = (seed * 13) % 41 + 4
        bx = np.arange((w + 7) // 8, dtype=np.int64) * 23
        by = np.arange((h + 7) // 8, dtype=np.int64) * 37
        blocks = (2 * ((by[:, None] + bx[None, :] + seed) % 128)).astype(np.uint8)
        v = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)[:h, :w]
        rgb = np.repeat(v[:, :, None], 3, axis=2)
        yield doc_id, "image/jpeg", jpegcodec.encode_jpeg_progressive(
            Raster(w, h, 3, rgb.tobytes()),
            subsampling="4:2:0",
            restart_interval=2,
            quant_luma=q16,
            quant_chroma=q16,
        )

    return map_rows(df.select(id_col), _row, schema)


def audio_features_float(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """audio_features' IEEE-FLOAT sibling (format tag 3): the identical
    deterministic sample family is written as float32 (even doc_ids) or
    float64 (odd doc_ids) WAV — s/32767.0 per sample — and decoded back
    through the float->PCM16 normalization (clip, x32767, round half
    even). For |s| <= 32767 the float32 relative error keeps the
    round-trip landing on the EXACT original integers, so the features
    (and the SQL oracle) are identical to the PCM16 path — the hash
    match certifies the float decode normalization bit-for-bit."""
    from pasardassist_spark.operators import audiocodec

    def _row(doc_id):
        _n, samples = synth_wav_samples(int(doc_id))
        payload = audiocodec.encode_wav_float(
            audiocodec.PcmAudio(AUDIO_RATE, 1, samples),
            bits=32 if int(doc_id) % 2 == 0 else 64,
        )
        f = audiocodec.extract_audio_features(audiocodec.decode_wav(payload))
        yield (
            doc_id, f.sample_rate, f.n_samples, f.duration_ms, f.sq_sum,
            f.zero_crossings,
        )

    return map_rows(df.select(id_col), _row, AUDIO_SCHEMA)


def attach_webp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build REAL lossless-WebP (VP8L) payloads over the synth_raster
    pixel family (base = (x*7 + y*13 + doc_id) % 256, channels (base,
    base+29, base+58) mod 256; dims w = doc_id%45+4, h = (doc_id*3)%37+4)
    — losslessness means the decoded raster equals the formula exactly,
    whatever the coding route. doc_id % 6 rotates that route so the
    driver row exercises EVERY decoder path: plain literals /
    subtract-green + color cache / single-mode predictor (doc_id % 14) /
    uniform color transform / LZ77 runs + cache / color-indexing
    (palette, bundled when small)."""
    from pasardassist_spark.operators import webpcodec
    from pasardassist_spark.operators.imagecodec import Raster

    schema = f"{id_col} long, kind string, payload binary"

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 45 + 4
        h = (seed * 3) % 37 + 4
        x = np.arange(w)
        y = np.arange(h).reshape(h, 1)
        base = (x * 7 + y * 13 + seed) % 256
        rgb = np.stack(
            [base, (base + 29) % 256, (base + 58) % 256], axis=-1
        ).astype(np.uint8)
        rast = Raster(w, h, 3, rgb.tobytes())
        variant = seed % 6
        if variant == 0:
            p = webpcodec.encode_webp_lossless(rast)
        elif variant == 1:
            p = webpcodec.encode_webp_lossless(rast, subtract_green=True, cache_bits=5)
        elif variant == 2:
            p = webpcodec.encode_webp_lossless(rast, predictor_mode=seed % 14)
        elif variant == 3:
            p = webpcodec.encode_webp_lossless(rast, color_transform=(32, 16, 8))
        elif variant == 4:
            p = webpcodec.encode_webp_lossless(rast, use_runs=True, cache_bits=4)
        else:  # the base formula has <= 256 distinct colors
            p = webpcodec.encode_webp_lossless(rast, palette=True)
        yield doc_id, "image/webp", p

    return map_rows(df.select(id_col), _row, schema)


def attach_png_variant_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL PNGs across the decoder's full real-world matrix: doc_id % 4
    rotates plain (type 2) / Adam7-interlaced / palette depth 8 /
    palette depth 4 (sub-byte index packing). Pixel family: base =
    (x*7 + y*13 + doc_id) % M with M = 16 for the depth-4 variant (a
    palette can hold at most 16 colors there) and 256 otherwise;
    channels (base, base+29, base+58) mod 256 — so the raster is
    closed-form whatever the container route. Dims w = doc_id%41+4,
    h = (doc_id*7)%31+4."""
    from pasardassist_spark.operators import imagecodec

    schema = f"{id_col} long, kind string, payload binary"

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 41 + 4
        h = (seed * 7) % 31 + 4
        variant = seed % 4
        mod = 16 if variant == 3 else 256
        x = np.arange(w)
        y = np.arange(h).reshape(h, 1)
        base = (x * 7 + y * 13 + seed) % mod
        rgb = np.stack(
            [base, (base + 29) % 256, (base + 58) % 256], axis=-1
        ).astype(np.uint8)
        r = imagecodec.Raster(w, h, 3, rgb.tobytes())
        if variant == 0:
            p = imagecodec.encode_png(r)
        elif variant == 1:
            p = imagecodec.encode_png(r, interlace=True)
        else:
            pal = bytes(
                b for c in range(mod) for b in (c, (c + 29) % 256, (c + 58) % 256)
            )
            p = imagecodec.encode_png_palette(
                base.astype(np.uint8).tobytes(), w, h, pal,
                depth=8 if variant == 2 else 4,
            )
        yield doc_id, "image/png", p

    return map_rows(df.select(id_col), _row, schema)


def gif_sample_frames(df: DataFrame, k: int = 3, id_col: str = "doc_id") -> DataFrame:
    """REAL animated-GIF keyframe sampling: each row gets a genuine
    multi-frame GIF89a (operators/gifcodec.py) whose frames are
    CONCENTRIC SUB-RECTANGLES — frame fr insets the canvas by fr pixels
    and paints base = (x*7 + y*13 + doc_id + 17*fr) % 256 through the
    (c, c+29, c+58) palette — so the composited canvas after frame fr is
    closed-form: every pixel shows the layer min(fr, ring) where ring is
    its border distance. k evenly-spaced composited snapshots are
    checksummed; the oracle re-derives each from doc_id arithmetic,
    certifying LZW per frame, sub-rectangle compositing, and
    keep-disposal sequencing. Dims w = doc_id%23+10, h = (doc_id*3)%19+10,
    n = doc_id%4+2 frames."""
    from pasardassist_spark.operators import gifcodec, videocodec

    pal = bytes(b for c in range(256) for b in (c, (c + 29) % 256, (c + 58) % 256))

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 23 + 10
        h = (seed * 3) % 19 + 10
        n = seed % 4 + 2
        frames = []
        for fr in range(n):
            fw, fh = w - 2 * fr, h - 2 * fr
            xs = np.arange(fr, fr + fw, dtype=np.int64)
            ys = np.arange(fr, fr + fh, dtype=np.int64).reshape(fh, 1)
            idx = ((xs * 7 + ys * 13 + seed + 17 * fr) % 256).astype(np.uint8)
            frames.append((fr, fr, fw, fh, idx.tobytes()))
        # odd ids store every frame interlaced (round 14) — pure
        # container layout, the composited canvases are unchanged
        payload = gifcodec.encode_gif_animated(
            frames, w, h, pal, interlace=seed % 2 == 1
        )
        cw, ch, decoded = gifcodec.decode_gif_frames(payload)
        if (cw, ch, len(decoded)) != (w, h, n):
            raise ValueError(f"animated GIF round-trip mismatch for doc {doc_id}")
        for i, fidx in enumerate(videocodec.sample_frame_indices(n, k)):
            f = decoded[fidx]
            pixel_sum = int(np.frombuffer(f.pixels, dtype=np.uint8).sum())
            yield doc_id, i, fidx, n, f.width, f.height, pixel_sum

    return map_rows(df.select(id_col), _row, VIDEO_FRAME_SCHEMA)


def audio_g711_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL G.711 decode: each row gets a genuine 8-bit mu-law (even
    doc_id) or A-law (odd) WAV whose code bytes are closed-form
    (code_i = (i*7 + doc_id) % 256, n = doc_id % 181 + 60), expanded to
    PCM16 by the ITU bit math (operators/audiocodec.py) — the oracle
    re-derives every decoded sample from the same integer formulas."""
    from pasardassist_spark.operators import audiocodec

    schema = (
        f"{id_col} long, law string, n_samples int, sum_pcm long, "
        "min_pcm int, max_pcm int"
    )

    def _row(doc_id):
        seed = int(doc_id)
        n = seed % 181 + 60
        law = "ulaw" if seed % 2 == 0 else "alaw"
        codes = bytes((i * 7 + seed) % 256 for i in range(n))
        au = audiocodec.decode_wav(audiocodec.encode_wav_g711(codes, 8000, law))
        if len(au.samples) != n:
            # raise, not assert (must survive python -O)
            raise ValueError(f"G.711 round-trip length mismatch for doc {doc_id}")
        yield doc_id, law, n, sum(au.samples), min(au.samples), max(au.samples)

    return map_rows(df.select(id_col), _row, schema)


def audio_adpcm_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL IMA-ADPCM decode: each row gets a genuine single-block mono
    format-tag-17 WAV — closed-form header state (pred0 = (doc_id*31) %
    65536 - 32768, idx0 = doc_id % 89) and nibble stream (nib_i =
    (i*5 + doc_id) % 16, n_nib = 2*(doc_id % 100 + 20)) — decoded by the
    stateful IMA fold; the oracle replays the identical fold as a
    recursive CTE, certifying predictor clamping, step-index walking,
    and nibble unpacking sample-for-sample."""
    from pasardassist_spark.operators import audiocodec

    schema = f"{id_col} long, n_samples int, sum_pcm long, last_pcm int"

    def _row(doc_id):
        seed = int(doc_id)
        n_nib = 2 * (seed % 100 + 20)
        pred0 = (seed * 31) % 65536 - 32768
        idx0 = seed % 89
        nibs = bytes((i * 5 + seed) % 16 for i in range(n_nib))
        payload = audiocodec.encode_wav_ima_adpcm(nibs, 8000, pred0, idx0)
        au = audiocodec.decode_wav(payload)
        if len(au.samples) != n_nib + 1:
            raise ValueError(f"ADPCM round-trip length mismatch for doc {doc_id}")
        yield doc_id, n_nib + 1, sum(au.samples), au.samples[-1]

    return map_rows(df.select(id_col), _row, schema)


def tiff_page_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL multi-page TIFF decode: each row gets a genuine TIFF document
    rotating the full supported matrix by doc_id — byte order II/MM
    (doc_id % 2), compression none/LZW/PackBits (doc_id % 3), predictor
    1/2 ((doc_id // 3) % 2), TILED 16x16 grid vs 5-row strips
    (doc_id % 7 < 3 → tiled, round 14 — edge-tile padding and
    per-tile-row predictor both land on every shape), gray/RGB/PALETTE
    (doc_id % 5: <3 RGB, 3 gray, 4 photometric-3 palette through the
    deterministic ColorMap, decoding to mapped RGB), doc_id % 3 + 1
    pages — with closed-form pixels (x*7 + y*13 + c*29 + doc_id +
    31*page) % 256, so the oracle re-derives every page checksum
    (palette sums map v -> v + (v*37)%256 + (v*91)%256) while the
    decoder exercises the TIFF-LZW early-change bit discipline,
    PackBits runs, horizontal differencing, tile blits, ColorMap
    lookup, and the IFD chain on genuine files."""
    from pasardassist_spark.operators import tiffcodec
    from pasardassist_spark.operators.imagecodec import Raster

    schema = (
        f"{id_col} long, page_no int, n_pages int, width int, height int, "
        "channels int, layout string, pixel_sum bigint"
    )

    def _synth(w: int, h: int, ch: int, seed: int) -> Raster:
        xs = np.arange(w, dtype=np.int64) * 7
        ys = np.arange(h, dtype=np.int64).reshape(h, 1) * 13
        cs = np.arange(ch, dtype=np.int64).reshape(1, 1, ch) * 29
        px = ((xs.reshape(1, w, 1) + ys.reshape(h, 1, 1) + cs + seed) % 256
              ).astype(np.uint8)
        return Raster(w, h, ch, px.tobytes())

    _pal = np.array(tiffcodec.PALETTE_MAP, dtype=np.uint8)  # (256, 3)

    def _row(doc_id):
        seed = int(doc_id)
        w = seed % 19 + 8
        h = (seed * 3) % 17 + 8
        palette = seed % 5 == 4
        ch = 3 if seed % 5 < 3 else 1
        n_pages = seed % 3 + 1
        bo = "II" if seed % 2 == 0 else "MM"
        comp = (1, 5, 32773)[seed % 3]
        pred = 1 if (seed // 3) % 2 == 0 else 2
        tiled = seed % 7 < 3
        pages = [_synth(w, h, ch, seed + 31 * pg) for pg in range(n_pages)]
        payload = tiffcodec.encode_tiff(
            pages, byte_order=bo, compression=comp,
            predictor=pred,
            rows_per_strip=None if tiled else 5,
            tile=(16, 16) if tiled else None,
            palette=palette,
        )
        decoded = tiffcodec.decode_tiff_pages(payload)
        expected = pages if not palette else [
            Raster(
                p.width, p.height, 3,
                _pal[np.frombuffer(p.pixels, dtype=np.uint8)].tobytes(),
            )
            for p in pages
        ]
        if decoded != expected:
            # raise, not assert (must survive python -O)
            raise ValueError(f"TIFF round-trip mismatch for doc {doc_id}")
        layout = f"{bo}-{comp}-{pred}" + ("-t" if tiled else "") + (
            "-p" if palette else ""
        )
        for pg, r in enumerate(decoded):
            pixel_sum = int(
                np.frombuffer(r.pixels, dtype=np.uint8).astype(np.int64).sum()
            )
            yield (
                doc_id, pg, n_pages, r.width, r.height, r.channels, layout,
                pixel_sum,
            )

    return map_rows(df.select(id_col), _row, schema)


def attach_jpeg_exif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real JPEGs carrying a spec-faithful EXIF APP1 (operators/exif.py):
    II/MM byte order rotates by id parity, GPS rationals use exact
    integer pairs, and every 4th payload ALSO carries a decoy non-Exif
    APP1 and a COM segment BEFORE the Exif one — the marker walk must
    skip both (crawl JPEGs routinely lead with XMP APP1s).  All field
    values are closed-form doc_id arithmetic so a SQL oracle re-derives
    them without touching the container."""
    from pasardassist_spark.operators import exif as EX
    from pasardassist_spark.operators import jpegcodec
    from pasardassist_spark.operators.imagecodec import Raster

    schema = f"{id_col} long, payload binary"

    def _row(doc_id):
        i = int(doc_id)
        w, h = i % 8 + 4, (i * 3) % 8 + 4
        v = np.full((h, w, 3), (2 * (i % 128)), dtype=np.uint8)
        jpeg = jpegcodec.encode_jpeg(Raster(w, h, 3, v.tobytes()))
        app1 = EX.encode_exif_app1(
            byte_order="II" if i % 2 == 0 else "MM",
            make=f"CamCo {i % 5}",
            model=f"DSLR-{i % 7}",
            orientation=i % 8 + 1,
            dt_original=(
                f"2021:{i % 12 + 1:02d}:{i % 28 + 1:02d} "
                f"{i % 24:02d}:{i * 7 % 60:02d}:{i * 13 % 60:02d}"
            ),
            lat_ref="N" if i % 2 == 0 else "S",
            lat_dms=((i % 90, 1), (i * 3 % 60, 1), (i * 77 % 60000, 1000)),
            lon_ref="W" if i % 3 == 0 else "E",
            lon_dms=((i % 180, 1), (i * 5 % 60, 1), (i * 131 % 60000, 1000)),
        )
        jpeg = EX.insert_app1(jpeg, app1)
        if i % 4 == 0:
            # decoys spliced in FRONT of the Exif APP1
            decoy = b"XMP\x00 not exif"
            decoy_app1 = b"\xff\xe1" + struct.pack(">H", len(decoy) + 2) + decoy
            com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
            jpeg = EX.insert_app1(EX.insert_app1(jpeg, com), decoy_app1)
        yield doc_id, jpeg

    return map_rows(df.select(id_col), _row, schema)


def extract_exif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched EXIF extraction over (id, payload) rows — marker
    headers only, O(header bytes) per image at any resolution."""
    from pasardassist_spark.operators import exif as EX

    schema = (
        f"{id_col} long, byte_order string, make string, model string, "
        "orientation int, dt_original string, lat_ref string, "
        "lat_mas long, lon_ref string, lon_mas long"
    )

    fields = (
        "byte_order", "make", "model", "orientation", "dt_original",
        "lat_ref", "lat_mas", "lon_ref", "lon_mas",
    )

    def _row(doc_id, payload):
        meta = EX.parse_exif(bytes(payload)) or {}
        yield (doc_id, *(meta.get(k) for k in fields))

    return map_rows(df.select(id_col, "payload"), _row, schema)
