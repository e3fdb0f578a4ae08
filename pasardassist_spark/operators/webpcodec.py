"""WebP-lossless (VP8L) codec — pure stdlib + numpy against the public
"WebP Lossless Bitstream Specification" (the format of ``cwebp
-lossless`` output and of transparent web images at large; the sibling
of the r11 JPEG work on the lossless side).

Decoder scope — the full VP8L feature set:
- RIFF/WEBP container with the VP8L chunk, LSB-first bit stream;
- canonical prefix codes, both "simple" (1-2 symbols) and normal
  (code-length-code with the DEFLATE-style 16/17/18 repeats and the
  kCodeLengthCodeOrder permutation, optional max_symbol cap);
- the five-code entropy image (green+length+cache / red / blue / alpha
  / distance), LZ77 backward references with prefix-coded
  length/distance extra bits, the 120-entry 2D neighborhood distance
  mapping, and the 0x1e35a7bd color cache;
- all four transforms, inverted in reverse signaling order: PREDICTOR
  (the 14 spatial modes with the black/left/top edge rules, per-block
  mode sub-image), COLOR (signed 3.5 fixed-point cross-channel deltas),
  SUBTRACT_GREEN, and COLOR_INDEXING (delta-coded palette + sub-byte
  index bundling for palettes <= 16);
- meta-prefix (huffman-image) streams raise NotImplementedError by name
  (the one spec feature with no single-group fixture path); malformed
  streams raise ValueError (the operators/imagecodec.py error closure).

Encoder scope — the fixture-synthesis half: single prefix-code group,
flat equal-weight trees (complete by construction), optional
subtract-green, single-mode predictor, uniform color transform,
palette mode with bundling, run-length LZ77 (distance 1) and color
cache — enough to produce REAL multi-feature VP8L files whose lossless
round-trip lets a closed-form SQL oracle certify the decoder.

One cross-implementation caveat, stated loudly: the 120-entry distance
neighborhood table is GENERATED here from the spec's ordering rule
(window dy in 0..7 / dx in -7..8, positive-dx-only on the dy=0 row,
sorted by squared distance, ties by larger dy first, positive dx before
negative). Round-trips certify self-consistency; byte parity against
libwebp for plane-coded distances is untestable in this container (no
libwebp) — flagged for a one-line check wherever libwebp exists.
"""

from __future__ import annotations

import struct

import numpy as np

from pasardassist_spark.operators.imagecodec import Raster, _check_dims

# code-length-code symbol transmission order (shared with DEFLATE-family)
K_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]

GREEN_LITERALS = 256
N_LENGTH_CODES = 24
N_DIST_CODES = 40
CACHE_MULT = 0x1E35A7BD


def _plane_codes() -> list[tuple[int, int]]:
    """The 120 (dx, dy) near-neighborhood offsets of distance codes
    1..120, generated from the spec's ordering rule (module docstring)."""
    cands = []
    for dy in range(0, 8):
        for dx in range(-7, 9):
            if dy == 0 and dx <= 0:
                continue
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -(p[0] > 0), abs(p[0])))
    return cands[:120]


PLANE_CODES = _plane_codes()
_PLANE_INDEX = {off: i + 1 for i, off in enumerate(PLANE_CODES)}


# ----------------------------------------------------------- bit streams --

class _LsbReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("vp8l: bit stream truncated")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_bit(self) -> int:
        return self.read(1)


class _LsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self._bit == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << self._bit
            self._bit = (self._bit + 1) % 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix codes go most-significant code bit first (the DEFLATE
        convention VP8L inherits)."""
        for b in range(length - 1, -1, -1):
            self.write((code >> b) & 1, 1)


# -------------------------------------------------------- canonical codes --

def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical per DEFLATE: codes assigned in
    (length, symbol) order."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        if ln == 0:
            continue
        code <<= ln - prev_len
        out[sym] = (code, ln)
        code += 1
        prev_len = ln
    return out


class _PrefixDecoder:
    """Canonical prefix decode via per-length first-code ranges (the
    jpegcodec._HuffDecoder walk, over an LSB-first bit source)."""

    def __init__(self, lengths: dict[int, int]) -> None:
        by_len: dict[int, list[int]] = {}
        kraft = 0.0
        max_len = 0
        for sym, ln in lengths.items():
            if ln == 0:
                continue
            by_len.setdefault(ln, []).append(sym)
            kraft += 2.0 ** -ln
            max_len = max(max_len, ln)
        n_used = sum(len(v) for v in by_len.values())
        if n_used == 0:
            raise ValueError("vp8l: empty prefix code")
        if n_used == 1:
            # single-symbol tree: zero bits per decode (spec special case)
            self.single = by_len[max_len][0]
            return
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("vp8l: prefix code not complete")
        self.single = None
        self.min_code = [0] * (max_len + 1)
        self.max_code = [-1] * (max_len + 1)
        self.syms = [[]] * (max_len + 1)
        code = 0
        for ln in range(1, max_len + 1):
            group = sorted(by_len.get(ln, []))
            if group:
                self.min_code[ln] = code
                self.max_code[ln] = code + len(group) - 1
                self.syms[ln] = group
                code += len(group)
            code <<= 1
        self.max_len = max_len

    def decode(self, r: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = r.read_bit()
        ln = 1
        while code > self.max_code[ln]:
            if ln >= self.max_len:
                raise ValueError("vp8l: invalid prefix code word")
            code = (code << 1) | r.read_bit()
            ln += 1
        return self.syms[ln][code - self.min_code[ln]]


def _equal_weight_lengths(n: int) -> list[int]:
    """Complete canonical tree over n equally-likely symbols: the first
    m = 2^L - n symbols at length L-1, the rest at L (Kraft exactly 1)."""
    if n == 1:
        return [1]
    L = (n - 1).bit_length()
    m = (1 << L) - n
    return [L - 1] * m + [L] * (n - m)


# ----------------------------------------------- prefix-code read / write --

class _SimpleTwo:
    """Two-symbol simple code: bit 0 -> first TRANSMITTED symbol, bit 1 ->
    second (transmission order, not value order — the spec's special
    case; canonical ordering would silently swap unsorted pairs)."""

    def __init__(self, s0: int, s1: int) -> None:
        self.s = (s0, s1)

    def decode(self, r: _LsbReader) -> int:
        return self.s[r.read_bit()]


def _read_prefix_code(r: _LsbReader, alphabet_size: int):
    if r.read_bit():  # simple code
        num_symbols = r.read_bit() + 1
        first_8bit = r.read_bit()
        s0 = r.read(8 if first_8bit else 1)
        if num_symbols == 1:
            if s0 >= alphabet_size:
                raise ValueError("vp8l: simple-code symbol out of alphabet")
            return _PrefixDecoder({s0: 1})  # single symbol, zero-bit reads
        s1 = r.read(8)
        if s0 >= alphabet_size or s1 >= alphabet_size:
            raise ValueError("vp8l: simple-code symbol out of alphabet")
        return _SimpleTwo(s0, s1)
    num_codes = 4 + r.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_codes):
        ln = r.read(3)
        if ln:
            cl_lengths[K_CL_ORDER[i]] = ln
    cl = _PrefixDecoder(cl_lengths)
    # optional cap on the number of transmitted symbols
    if r.read_bit():
        length_nbits = 2 + 2 * r.read(3)
        max_symbol = 2 + r.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl.decode(r)
        if code_len < 16:
            if code_len:
                lengths[sym] = code_len
                prev_len = code_len
            sym += 1
        elif code_len == 16:
            for _ in range(3 + r.read(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif code_len == 17:
            sym += 3 + r.read(3)
        else:  # 18
            sym += 11 + r.read(7)
    return _PrefixDecoder(lengths)


def _write_prefix_code(w: _LsbWriter, lengths: dict[int, int], alphabet_size: int) -> None:
    """Normal (code-length-coded) transmission of an arbitrary valid
    lengths map; zero-runs use symbol 17/18 repeats."""
    used = sorted({ln for ln in lengths.values() if ln})
    w.write(0, 1)  # not simple
    # code-length code over the used lengths (+17/18 when zero-runs exist)
    # full alphabet, trailing zeros included: the reader consumes symbols
    # until alphabet_size (no max_symbol cap is written), so every zero —
    # tail included — must be carried by the 17/18 repeat codes
    arr = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_set = set(used)
    if 0 in arr:
        # zero gaps: short runs emit literal 0s, long runs the 17/18 repeats
        cl_set |= {0, 17, 18}
    if len(cl_set) == 1:
        cl_set |= {0}  # pad to a 2-leaf complete tree
    cl_syms = sorted(cl_set)
    cl_lens_list = _equal_weight_lengths(len(cl_syms))
    cl_lengths = dict(zip(cl_syms, cl_lens_list))
    n_order = max(K_CL_ORDER.index(s) for s in cl_syms) + 1
    n_order = max(n_order, 4)
    w.write(n_order - 4, 4)
    for i in range(n_order):
        w.write(cl_lengths.get(K_CL_ORDER[i], 0), 3)
    cl_codes = _canonical_codes(cl_lengths)
    w.write(0, 1)  # no max_symbol cap
    i = 0
    while i < len(arr):
        v = arr[i]
        if v == 0:
            run = 1
            while i + run < len(arr) and arr[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                take = min(left, 138)
                c, ln = cl_codes[18]
                w.write_code(c, ln)
                w.write(take - 11, 7)
                left -= take
            while left >= 3:
                take = min(left, 10)
                c, ln = cl_codes[17]
                w.write_code(c, ln)
                w.write(take - 3, 3)
                left -= take
            for _ in range(left):
                c, ln = cl_codes[0]
                w.write_code(c, ln)
            i += run
        else:
            c, ln = cl_codes[v]
            w.write_code(c, ln)
            i += 1


# -------------------------------------------------- LZ77 prefix integers --

def _read_prefixed_int(r: _LsbReader, prefix_sym: int) -> int:
    """length/distance prefix decoding: symbols 0-3 are the values 1-4;
    beyond that (2 + (sym & 1)) << extra carries ReadBits(extra)."""
    if prefix_sym < 4:
        return prefix_sym + 1
    extra = (prefix_sym - 2) >> 1
    offset = (2 + (prefix_sym & 1)) << extra
    return offset + r.read(extra) + 1


def _prefix_of_int(value: int) -> tuple[int, int, int]:
    """Inverse of _read_prefixed_int: value -> (prefix_sym, extra_bits,
    extra_val)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    nbits = v.bit_length() - 1
    hi = (v >> (nbits - 1)) & 1
    sym = 2 * nbits + hi
    offset = (2 + hi) << (nbits - 1)
    return sym, nbits - 1, v - offset


# --------------------------------------------------------------- decoding --

def sniff_webp(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"


def _hash_argb(argb: int, cache_bits: int) -> int:
    return ((CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _decode_entropy_image(
    r: _LsbReader, w: int, h: int, is_level0: bool
) -> tuple[np.ndarray, list]:
    """Decode one entropy-coded ARGB image of w x h (the spec's
    DecodeImageStream without the transform layer); returns (pixels
    uint32 array (h, w), transforms list — empty unless is_level0)."""
    transforms = []
    if is_level0:
        seen = set()
        while r.read_bit():
            ttype = r.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            transforms.append(_read_transform(r, ttype, w, h))
            if ttype == 3:  # color indexing narrows the coded width
                n_colors = transforms[-1][1].shape[0]
                wbits = _index_width_bits(n_colors)
                w = -(-w // (1 << wbits))
    cache_bits = r.read(4) if r.read_bit() else 0
    if cache_bits and not (1 <= cache_bits <= 11):
        raise ValueError(f"vp8l: bad color cache bits {cache_bits}")
    if is_level0 and r.read_bit():
        raise NotImplementedError(
            "vp8l: meta prefix (huffman image) unsupported"
        )
    green_size = GREEN_LITERALS + N_LENGTH_CODES + (1 << cache_bits if cache_bits else 0)
    green = _read_prefix_code(r, green_size)
    red = _read_prefix_code(r, 256)
    blue = _read_prefix_code(r, 256)
    alpha = _read_prefix_code(r, 256)
    dist = _read_prefix_code(r, N_DIST_CODES)
    cache = [0] * (1 << cache_bits) if cache_bits else None

    n = w * h
    px = np.zeros(n, dtype=np.uint32)
    i = 0
    while i < n:
        sym = green.decode(r)
        if sym < 256:
            g = sym
            rr = red.decode(r)
            b = blue.decode(r)
            a = alpha.decode(r)
            argb = (a << 24) | (rr << 16) | (g << 8) | b
            px[i] = argb
            if cache is not None:
                cache[_hash_argb(argb, cache_bits)] = argb
            i += 1
        elif sym < 256 + N_LENGTH_CODES:
            length = _read_prefixed_int(r, sym - 256)
            dist_code = _read_prefixed_int(r, dist.decode(r))
            if dist_code > 120:
                d = dist_code - 120
            else:
                dx, dy = PLANE_CODES[dist_code - 1]
                d = dy * w + dx
                if d < 1:
                    d = 1
            if d > i or i + length > n:
                raise ValueError("vp8l: backward reference out of range")
            for _ in range(length):
                argb = int(px[i - d])
                px[i] = argb
                if cache is not None:
                    cache[_hash_argb(argb, cache_bits)] = argb
                i += 1
        else:
            if cache is None:
                raise ValueError("vp8l: cache symbol without color cache")
            px[i] = cache[sym - 256 - N_LENGTH_CODES]
            i += 1
    return px.reshape(h, w), transforms


def _index_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _read_transform(r: _LsbReader, ttype: int, w: int, h: int):
    if ttype == 2:  # subtract green
        return (2, None, 0)
    if ttype in (0, 1):  # predictor / color: per-block sub-image
        size_bits = r.read(3) + 2
        bs = 1 << size_bits
        bw, bh = -(-w // bs), -(-h // bs)
        sub, _ = _decode_entropy_image(r, bw, bh, False)
        return (ttype, sub, size_bits)
    if ttype == 3:  # color indexing: delta-coded palette
        n_colors = r.read(8) + 1
        pal_img, _ = _decode_entropy_image(r, n_colors, 1, False)
        pal = pal_img.reshape(-1).astype(np.uint32)
        # palette entries accumulate componentwise mod 256
        acc = np.zeros(n_colors, dtype=np.uint32)
        prev = 0
        for i in range(n_colors):
            cur = 0
            for shift in (24, 16, 8, 0):
                comp = ((int(pal[i]) >> shift) + (prev >> shift)) & 0xFF
                cur |= comp << shift
            acc[i] = cur
            prev = cur
        return (3, acc, 0)
    raise ValueError(f"vp8l: unknown transform {ttype}")


def _avg2(a: int, b: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= (((a >> shift & 0xFF) + (b >> shift & 0xFF)) // 2) << shift
    return out


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select(T, L, TL)
        pa_minus_pb = 0
        for shift in (24, 16, 8, 0):
            a = (T >> shift) & 0xFF
            b = (L >> shift) & 0xFF
            c = (TL >> shift) & 0xFF
            pa_minus_pb += abs(b - c) - abs(a - c)
        return T if pa_minus_pb <= 0 else L
    if mode == 12:  # ClampAddSubtractFull(L, T, TL)
        out = 0
        for shift in (24, 16, 8, 0):
            v = _clip255(((L >> shift) & 0xFF) + ((T >> shift) & 0xFF) - ((TL >> shift) & 0xFF))
            out |= v << shift
        return out
    if mode == 13:  # ClampAddSubtractHalf(avg2(L,T), TL)
        ave = _avg2(L, T)
        out = 0
        for shift in (24, 16, 8, 0):
            a = (ave >> shift) & 0xFF
            b = (TL >> shift) & 0xFF
            v = _clip255(a + int((a - b) / 2))
            out |= v << shift
        return out
    raise ValueError(f"vp8l: predictor mode {mode} out of range")


def _add_pixels(residual: int, pred: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((residual >> shift) & 0xFF) + ((pred >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _sub_pixels(pixel: int, pred: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((pixel >> shift) & 0xFF) - ((pred >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _ct_delta_vec(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta over int32 arrays: signed(int8 t) * signed(int8 c)
    >> 5, where t is already 0..255 and c is masked to its low byte (numpy
    >> on negatives is arithmetic, as the spec's shift is)."""
    ts = np.where(t >= 128, t - 256, t)
    cs = np.where((c & 0xFF) >= 128, (c & 0xFF) - 256, c & 0xFF)
    return (ts * cs) >> 5


def _apply_inverse_transforms(px: np.ndarray, transforms, w: int, h: int) -> np.ndarray:
    # Pixel bundling (color indexing with wbits > 0) narrows the coded plane;
    # transforms read AFTER it in the bitstream were applied to that narrowed
    # plane, so their inverses (which run FIRST here) must use the coded
    # width.  Inverting the color-indexing transform unbundles back to w.
    cur_w = w
    for ttype, data, _sb in transforms:
        if ttype == 3:
            wbits = _index_width_bits(data.shape[0])
            if wbits:
                cur_w = (w + (1 << wbits) - 1) >> wbits
    for ttype, data, size_bits in reversed(transforms):
        if ttype == 2:  # add green back
            g = (px >> 8) & 0xFF
            r = (((px >> 16) & 0xFF) + g) & 0xFF
            b = ((px & 0xFF) + g) & 0xFF
            px = (px & np.uint32(0xFF00FF00)) | (r.astype(np.uint32) << 16) | b.astype(np.uint32)
        elif ttype == 0:  # predictor
            if px.shape[1] != cur_w:
                raise ValueError(
                    f"vp8l: predictor plane width {px.shape[1]} != coded "
                    f"width {cur_w}"
                )
            out = px.copy()
            bs = 1 << size_bits
            for y in range(h):
                for x in range(cur_w):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(out[y, x - 1])
                    elif x == 0:
                        pred = int(out[y - 1, x])
                    else:
                        mode = int(data[y // bs, x // bs] >> 8) & 0xFF
                        L = int(out[y, x - 1])
                        T = int(out[y - 1, x])
                        TL = int(out[y - 1, x - 1])
                        # TR off the right edge: pixels live in one linear
                        # buffer, so index (y-1)*w + x+1 wraps to (y, 0) —
                        # the CURRENT row's first pixel (already decoded)
                        TR = int(out[y - 1, x + 1]) if x + 1 < cur_w else int(out[y, 0])
                        pred = _predict(mode, L, T, TL, TR)
                    out[y, x] = _add_pixels(int(px[y, x]), pred)
            px = out
        elif ttype == 1:  # color transform — element-wise, so vectorized
            bs = 1 << size_bits
            cte = data[np.arange(h) // bs][:, np.arange(cur_w) // bs]
            g2r = (cte & 0xFF).astype(np.int32)
            g2b = ((cte >> 8) & 0xFF).astype(np.int32)
            r2b = ((cte >> 16) & 0xFF).astype(np.int32)
            g = ((px >> 8) & 0xFF).astype(np.int32)
            red = ((px >> 16) & 0xFF).astype(np.int32)
            blue = (px & 0xFF).astype(np.int32)
            red = (red + _ct_delta_vec(g2r, g)) & 0xFF
            blue = (blue + _ct_delta_vec(g2b, g)) & 0xFF
            blue = (blue + _ct_delta_vec(r2b, red)) & 0xFF
            px = (
                (px & np.uint32(0xFF00FF00))
                | (red.astype(np.uint32) << 16)
                | blue.astype(np.uint32)
            )
        elif ttype == 3:  # color indexing (+ unbundle)
            pal = data
            wbits = _index_width_bits(pal.shape[0])
            if wbits:
                per = 1 << wbits
                ibits = 8 >> wbits
                mask = (1 << ibits) - 1
                wide = np.zeros((h, px.shape[1] * per), dtype=np.uint32)
                for k in range(per):
                    wide[:, k::per] = (px >> np.uint32(8 + k * ibits)) & np.uint32(mask)
                idx = wide[:, :w]
            else:
                idx = (px >> 8) & 0xFF
            if int(idx.max(initial=0)) >= pal.shape[0]:
                raise ValueError("vp8l: palette index out of range")
            px = pal[idx]
            cur_w = w  # unbundled: later (earlier-read) inverses see full width
    return px


def decode_webp(payload: bytes) -> Raster:
    """Decode a lossless (VP8L) WebP file to a Raster (RGB; alpha is
    dropped per the imagecodec normalization). Lossy VP8 and the
    extended VP8X container raise NotImplementedError by chunk name."""
    if not sniff_webp(payload):
        raise ValueError("not a RIFF/WEBP payload")
    pos = 12
    vp8l = None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + csize]
        if len(body) != csize:
            raise ValueError("webp: truncated chunk")
        if cid == b"VP8L":
            vp8l = body
            break
        if cid in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                f"webp: {cid.decode().strip()} (lossy/extended) unsupported "
                "(VP8L lossless only; libwebp plugs in here)"
            )
        pos += 8 + csize + (csize & 1)
    if vp8l is None:
        raise ValueError("webp: no VP8L chunk")
    if not vp8l or vp8l[0] != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    r = _LsbReader(vp8l, 1)
    w = r.read(14) + 1
    h = r.read(14) + 1
    _check_dims(w, h)
    r.read(1)  # alpha hint
    version = r.read(3)
    if version != 0:
        raise NotImplementedError(f"vp8l: version {version} unsupported")
    px, transforms = _decode_entropy_image(r, w, h, True)
    px = _apply_inverse_transforms(px, transforms, w, h)
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[..., 0] = (px >> 16) & 0xFF
    rgb[..., 1] = (px >> 8) & 0xFF
    rgb[..., 2] = px & 0xFF
    return Raster(w, h, 3, rgb.tobytes())


# --------------------------------------------------------------- encoding --

def _write_entropy_pixels(
    w: _LsbWriter,
    argb: list[int],
    cache_bits: int = 0,
    use_runs: bool = False,
    level0: bool = False,
) -> None:
    """Encode a pixel stream with one prefix-code group: flat complete
    trees over the observed symbol sets; optional color cache and
    distance-1 run references (exercising the LZ77 + plane-code path)."""
    n = len(argb)
    # plan the token stream first so the trees cover exactly the symbols
    tokens = []  # ("lit", argb) | ("cache", idx) | ("run", length)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    i = 0
    while i < n:
        if use_runs and i > 0 and argb[i] == argb[i - 1]:
            run = 1
            while i + run < n and argb[i + run] == argb[i]:
                run += 1
            if run >= 4:
                tokens.append(("run", run))
                if cache is not None:
                    for _ in range(run):
                        cache[_hash_argb(argb[i], cache_bits)] = argb[i]
                i += run
                continue
        v = argb[i]
        if cache is not None:
            hidx = _hash_argb(v, cache_bits)
            if cache[hidx] == v:
                tokens.append(("cache", hidx))
                i += 1
                continue
            cache[hidx] = v
        tokens.append(("lit", v))
        i += 1

    greens = sorted(
        {(t[1] >> 8) & 0xFF for t in tokens if t[0] == "lit"}
        | {256 + _prefix_of_int(t[1])[0] for t in tokens if t[0] == "run"}
        | {256 + N_LENGTH_CODES + t[1] for t in tokens if t[0] == "cache"}
    )
    reds = sorted({(t[1] >> 16) & 0xFF for t in tokens if t[0] == "lit"}) or [0]
    blues = sorted({t[1] & 0xFF for t in tokens if t[0] == "lit"}) or [0]
    alphas = sorted({(t[1] >> 24) & 0xFF for t in tokens if t[0] == "lit"}) or [0]
    dist_syms = [_prefix_of_int(_PLANE_INDEX[(1, 0)])[0]] if any(
        t[0] == "run" for t in tokens
    ) else [0]

    w.write(1 if cache_bits else 0, 1)
    if cache_bits:
        w.write(cache_bits, 4)
    if level0:
        w.write(0, 1)  # no meta-prefix (huffman image)

    def write_tree(symbols: list[int], alphabet: int) -> dict[int, tuple[int, int]]:
        if len(symbols) <= 2 and all(s < 256 for s in symbols):
            # simple code
            w.write(1, 1)
            w.write(len(symbols) - 1, 1)
            s0 = symbols[0]
            if s0 <= 1 and len(symbols) == 1:
                w.write(0, 1)  # first symbol in 1 bit
                w.write(s0, 1)
            else:
                w.write(1, 1)
                w.write(s0, 8)
            if len(symbols) == 2:
                w.write(symbols[1], 8)
                return {symbols[0]: (0, 1), symbols[1]: (1, 1)}
            return {symbols[0]: (0, 0)}
        lens = _equal_weight_lengths(len(symbols))
        lengths = dict(zip(symbols, lens))
        _write_prefix_code(w, lengths, alphabet)
        return _canonical_codes(lengths)

    green_alpha = GREEN_LITERALS + N_LENGTH_CODES + (1 << cache_bits if cache_bits else 0)
    gc = write_tree(greens, green_alpha)
    rc = write_tree(reds, 256)
    bc = write_tree(blues, 256)
    ac = write_tree(alphas, 256)
    dc = write_tree(dist_syms, N_DIST_CODES)

    run_dist_code = _PLANE_INDEX[(1, 0)]  # distance 1 = offset (dx=1, dy=0)
    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            c, ln = gc[(v >> 8) & 0xFF]
            w.write_code(c, ln)
            c, ln = rc[(v >> 16) & 0xFF]
            w.write_code(c, ln)
            c, ln = bc[v & 0xFF]
            w.write_code(c, ln)
            c, ln = ac[(v >> 24) & 0xFF]
            w.write_code(c, ln)
        elif t[0] == "run":
            sym, extra, extra_val = _prefix_of_int(t[1])
            c, ln = gc[256 + sym]
            w.write_code(c, ln)
            if extra:
                w.write(extra_val, extra)
            dsym, dextra, dval = _prefix_of_int(run_dist_code)
            c, ln = dc[dsym]
            w.write_code(c, ln)
            if dextra:
                w.write(dval, dextra)
        else:  # cache
            c, ln = gc[256 + N_LENGTH_CODES + t[1]]
            w.write_code(c, ln)


def encode_webp_lossless(
    raster: Raster,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    color_transform: tuple[int, int, int] | None = None,
    palette: bool = False,
    cache_bits: int = 0,
    use_runs: bool = False,
) -> bytes:
    """Encode an RGB raster as a lossless VP8L WebP. Transform options
    compose in spec signaling order (predictor and color use a single
    uniform mode/element over 32x32 blocks); ``palette`` switches to
    color-indexing with sub-byte bundling when the distinct-color count
    allows. All options round-trip bit-exactly through decode_webp —
    that equivalence is the pytest contract."""
    w_, h_, ch = raster.width, raster.height, raster.channels
    _check_dims(w_, h_)
    if ch != 3:
        raise ValueError("vp8l encode expects RGB rasters")
    arr = np.frombuffer(raster.pixels, dtype=np.uint8).reshape(h_, w_, 3)
    px = (
        np.full((h_, w_), 0xFF000000, dtype=np.uint32)
        | (arr[..., 0].astype(np.uint32) << 16)
        | (arr[..., 1].astype(np.uint32) << 8)
        | arr[..., 2].astype(np.uint32)
    )

    w = _LsbWriter()
    w.write(w_ - 1, 14)
    w.write(h_ - 1, 14)
    w.write(0, 1)  # no alpha
    w.write(0, 3)  # version

    coded = px
    size_bits = 5  # 32x32 blocks for predictor/color sub-images

    if palette:
        colors = sorted({int(v) for v in px.reshape(-1)})
        if len(colors) > 256:
            raise ValueError("vp8l palette encode: > 256 distinct colors")
        lut = {c: i for i, c in enumerate(colors)}
        wbits = _index_width_bits(len(colors))
        w.write(1, 1)
        w.write(3, 2)  # COLOR_INDEXING
        w.write(len(colors) - 1, 8)
        # delta-code the palette componentwise mod 256
        deltas = []
        prev = 0
        for c in colors:
            d = 0
            for shift in (24, 16, 8, 0):
                d |= (((c >> shift) - (prev >> shift)) & 0xFF) << shift
            deltas.append(d)
            prev = c
        _write_entropy_pixels(w, deltas)
        idx = np.vectorize(lut.get)(px).astype(np.uint32)
        if wbits:
            per = 1 << wbits
            ibits = 8 >> wbits
            packed_w = -(-w_ // per)
            packed = np.zeros((h_, packed_w), dtype=np.uint32)
            for k in range(per):
                col = idx[:, k::per]
                packed[:, : col.shape[1]] |= col << np.uint32(k * ibits)
            coded = np.uint32(0xFF000000) | (packed << np.uint32(8))
        else:
            coded = np.uint32(0xFF000000) | (idx << np.uint32(8))
    else:
        if predictor_mode is not None:
            if not 0 <= predictor_mode <= 13:
                raise ValueError("vp8l predictor mode out of range")
            w.write(1, 1)
            w.write(0, 2)  # PREDICTOR
            w.write(size_bits - 2, 3)
            bs = 1 << size_bits
            bw, bh = -(-w_ // bs), -(-h_ // bs)
            mode_px = [0xFF000000 | (predictor_mode << 8)] * (bw * bh)
            _write_entropy_pixels(w, mode_px)
            res = np.zeros_like(coded)
            for y in range(h_):
                for x in range(w_):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(coded[y, x - 1])
                    elif x == 0:
                        pred = int(coded[y - 1, x])
                    else:
                        L = int(coded[y, x - 1])
                        T = int(coded[y - 1, x])
                        TL = int(coded[y - 1, x - 1])
                        # linear-buffer TR wrap (see _apply_inverse_transforms)
                        TR = int(coded[y - 1, x + 1]) if x + 1 < w_ else int(coded[y, 0])
                        pred = _predict(predictor_mode, L, T, TL, TR)
                    res[y, x] = _sub_pixels(int(coded[y, x]), pred)
            coded = res
        if color_transform is not None:
            g2r, g2b, r2b = color_transform
            w.write(1, 1)
            w.write(1, 2)  # COLOR
            w.write(size_bits - 2, 3)
            bs = 1 << size_bits
            bw, bh = -(-w_ // bs), -(-h_ // bs)
            cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
            _write_entropy_pixels(w, [cte] * (bw * bh))
            g = ((coded >> 8) & 0xFF).astype(np.int32)
            red = ((coded >> 16) & 0xFF).astype(np.int32)
            blue = (coded & 0xFF).astype(np.int32)
            t_g2r = np.full_like(g, g2r)
            t_g2b = np.full_like(g, g2b)
            t_r2b = np.full_like(g, r2b)
            new_red = (red - _ct_delta_vec(t_g2r, g)) & 0xFF
            new_blue = (
                blue - _ct_delta_vec(t_g2b, g) - _ct_delta_vec(t_r2b, red)
            ) & 0xFF
            coded = (
                (coded & np.uint32(0xFF00FF00))
                | (new_red.astype(np.uint32) << 16)
                | new_blue.astype(np.uint32)
            )
        if subtract_green:
            w.write(1, 1)
            w.write(2, 2)  # SUBTRACT_GREEN
            g = (coded >> 8) & 0xFF
            r_ = (((coded >> 16) & 0xFF) - g) & 0xFF
            b_ = ((coded & 0xFF) - g) & 0xFF
            coded = (coded & np.uint32(0xFF00FF00)) | (r_.astype(np.uint32) << 16) | b_.astype(np.uint32)

    w.write(0, 1)  # end of transforms
    _write_entropy_pixels(
        w, [int(v) for v in coded.reshape(-1)], cache_bits=cache_bits,
        use_runs=use_runs, level0=True,
    )
    vp8l = b"\x2f" + bytes(w.out)
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body
