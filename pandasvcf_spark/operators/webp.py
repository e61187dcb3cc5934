"""Lossless WebP (VP8L) codec — stdlib + numpy only, no pillow/libwebp.

Closes the webp decision the round-9 verdict asked for (task #3): the
LOSSLESS half of WebP decodes natively in the PNG/GIF/JPEG style, and
the LOSSY half (VP8 intra-frame video coding: boolean arithmetic
decoder, DCT/WHT, loop filter — a video codec, not a container parse)
is the PERMANENT pillow gate, recorded in COVERAGE.md. This module is a
from-scratch implementation of the PUBLIC "WebP Lossless Bitstream
Specification" (Google, 2012-2023) and RIFF container layout:

- `decode_webp(blob)` -> (h, w, channels, rgb_bytes) — full VP8L
  feature set: LSB-first bitstream, canonical prefix codes (simple and
  code-length-coded forms, max-symbol escape), color cache, LZ77
  backward references with the two-dimensional near-distance map, meta
  prefix groups, and all four inverse transforms (predictor / color /
  subtract-green / color-indexing incl. sub-byte pixel packing).
  Lossy `VP8 ` payloads and animation/EXIF-bearing `VP8X` containers
  raise NotImplementedError naming the chunk — the honest-boundary
  convention of operators/multimodal.py.
- `encode_webp_lossless(h, w, c, pixels)` — a matching minimal VP8L
  encoder (literal-only: per-channel prefix codes, no transforms, no
  LZ77, no cache — every pixel entropy-coded exactly), emitting files
  any webp decoder reads. Exists so the decoder is testable WITHOUT
  pillow (the encode_jpeg precedent) and as a lossless thumbnail sink.

Verification honesty: the container ships neither libwebp nor pillow,
so there is no in-process cross-codec golden; what IS verified is (a)
encoder->decoder round-trips over gradients/noise/palettes (bit-exact,
pixels preserved), (b) hand-derived spec vectors for the prefix-coded
LZ77 value layout, the predictor modes, the color-transform delta and
the subtract-green inverse, and (c) the near-distance map's generative
structure (the spec's fixed 120-entry table equals "all (dx, dy) with
dy >= 0, sorted by dx^2+dy^2 then dy descending then dx descending",
checked in tests against the spec's published leading entries). A
cross-check against PIL lands automatically the day pillow appears
(tests/test_multimodal_udf.py's PIL-branch test).

Throughput: like decode_jpeg, symbol decoding walks the bitstream in
Python (prefix streams have no fixed alignment); inverse transforms are
numpy-vectorized where scan order allows (subtract-green, color,
palette) and per-pixel only for the predictor (its data dependency is
inherent). For CORRECTNESS and moderate-rate paths.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Spec constants
# ---------------------------------------------------------------------------

#: code-length-code reading order (VP8L spec §"Decoding the Code Lengths")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_NUM_LITERAL = 256
_NUM_LENGTH = 24
_NUM_DISTANCE = 40
_ARGB_BLACK = 0xFF000000


def _code_to_plane_table() -> list[int]:
    """The spec's fixed 120-entry near-distance map: LZ77 distance codes
    1..120 name a 2-D (dx, dy) offset instead of a scan-order distance.
    The published table enumerates every (dx, dy) with dy >= 0 (dx > 0
    when dy == 0), dx in [-7, 8], ordered by squared euclidean distance,
    ties by dy DESCENDING then dx DESCENDING — the generative form of
    the spec's list (its leading entries are pinned in tests). Entries
    pack as (dy << 4) | (8 - dx)."""
    cand = [
        (dx, dy)
        for dy in range(0, 16)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ]
    order = sorted(cand, key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], -p[0]))
    return [(dy << 4) | (8 - dx) for dx, dy in order[:120]]


_CODE_TO_PLANE = _code_to_plane_table()


def _plane_code_to_distance(xsize: int, plane_code: int) -> int:
    if plane_code > len(_CODE_TO_PLANE):
        return plane_code - len(_CODE_TO_PLANE)
    packed = _CODE_TO_PLANE[plane_code - 1]
    yoffset = packed >> 4
    xoffset = 8 - (packed & 0xF)
    dist = yoffset * xsize + xoffset
    return dist if dist >= 1 else 1


# ---------------------------------------------------------------------------
# LSB-first bit I/O
# ---------------------------------------------------------------------------


class _BitReader:
    """LSB-first bit reader (the first bit read is the least-significant
    bit of the current byte — DEFLATE/VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bit(self) -> int:
        p = self.pos
        if p >> 3 >= len(self.data):
            raise ValueError("VP8L: bitstream truncated")
        b = (self.data[p >> 3] >> (p & 7)) & 1
        self.pos = p + 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.bit() << i
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------


class _PrefixCode:
    """Canonical prefix code from code lengths (DEFLATE convention:
    codes assigned in (length, symbol) order; decoding consumes bits
    most-significant-code-bit first). A single-symbol code (the spec's
    'simple' 1-symbol form, or one nonzero length) reads ZERO bits."""

    def __init__(self, lengths: list[int]):
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            return
        self.single = None
        max_len = max(ln for ln, _ in nz)
        count = [0] * (max_len + 1)
        for ln, _ in nz:
            count[ln] += 1
        # Kraft check: over-subscribed codes are corrupt input
        total = 0
        for ln in range(1, max_len + 1):
            total += count[ln] << (max_len - ln)
        if total > (1 << max_len):
            raise ValueError("VP8L: over-subscribed prefix code")
        first_code = [0] * (max_len + 2)
        code = 0
        for ln in range(1, max_len + 1):
            first_code[ln] = code
            code = (code + count[ln]) << 1
        self.first_code = first_code
        self.count = count
        self.symbols_at: dict[int, list[int]] = {}
        nz.sort()
        for ln, sym in nz:
            self.symbols_at.setdefault(ln, []).append(sym)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        while True:
            code = (code << 1) | br.bit()
            ln += 1
            if ln >= len(self.count):
                raise ValueError("VP8L: invalid prefix code bits")
            c = self.count[ln]
            if c and code - self.first_code[ln] < c:
                return self.symbols_at[ln][code - self.first_code[ln]]


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    """One prefix code: the 'simple' 1-2 symbol form or the code-length
    -coded form (spec §"Prefix Codes")."""
    if br.bit():  # simple
        num_symbols = br.bit() + 1
        if br.bit():  # first symbol is 8 bits
            sym0 = br.bits(8)
        else:
            sym0 = br.bits(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[sym0] = 1  # single-symbol code: 0 bits at read time
        else:
            sym1 = br.bits(8)
            lengths[sym0] = 1
            lengths[sym1] = 1
        return _PrefixCode(lengths)
    # code-length-coded form
    num_codes = br.bits(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.bit():  # max-symbol escape
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev = cl
        elif cl == 16:
            for _ in range(3 + br.bits(2)):
                if symbol < alphabet_size:
                    lengths[symbol] = prev
                    symbol += 1
        elif cl == 17:
            symbol += 3 + br.bits(3)
        else:  # 18
            symbol += 11 + br.bits(7)
    return _PrefixCode(lengths)


def _prefix_value(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec: codes 0-3 direct,
    then (code-2)>>1 extra bits)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


class _Group:
    __slots__ = ("green", "red", "blue", "alpha", "distance")

    def __init__(self, br: _BitReader, cache_bits: int):
        g_size = _NUM_LITERAL + _NUM_LENGTH + (
            (1 << cache_bits) if cache_bits else 0
        )
        self.green = _read_prefix_code(br, g_size)
        self.red = _read_prefix_code(br, _NUM_LITERAL)
        self.blue = _read_prefix_code(br, _NUM_LITERAL)
        self.alpha = _read_prefix_code(br, _NUM_LITERAL)
        self.distance = _read_prefix_code(br, _NUM_DISTANCE)


# ---------------------------------------------------------------------------
# Entropy-coded image (used for the ARGB image AND transform sub-images)
# ---------------------------------------------------------------------------


def _decode_entropy_image(
    br: _BitReader, w: int, h: int, allow_meta: bool
) -> np.ndarray:
    """Decode one spatially-coded ARGB image to a uint32 array of
    length w*h (scan order). `allow_meta` is True only for the main
    image (sub-images never carry meta prefix groups)."""
    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.bit():
        meta_bits = br.bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh, False)
        # group index = (red << 8) | green of the meta pixel
        meta = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta.max()) + 1 if meta.size else 1
        meta_w = mw
    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError(f"VP8L: invalid color-cache bits {cache_bits}")
    groups = [_Group(br, cache_bits) for _ in range(n_groups)]
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits if cache_bits else 0

    n = w * h
    px = np.zeros(n, dtype=np.uint32)
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            x = pos % w
            y = pos // w
            group = groups[meta[(y >> meta_bits) * meta_w + (x >> meta_bits)]]
        sym = group.green.read(br)
        if sym < _NUM_LITERAL:
            r = group.red.read(br)
            b = group.blue.read(br)
            a = group.alpha.read(br)
            p = (a << 24) | (r << 16) | (sym << 8) | b
            px[pos] = p
            pos += 1
            if cache_bits:
                cache[(0x1E35A7BD * p & 0xFFFFFFFF) >> cache_shift] = p
        elif sym < _NUM_LITERAL + _NUM_LENGTH:
            length = _prefix_value(br, sym - _NUM_LITERAL)
            dist_code = _prefix_value(br, group.distance.read(br))
            dist = _plane_code_to_distance(w, dist_code)
            if dist > pos:
                raise ValueError("VP8L: backward reference before start")
            if pos + length > n:
                raise ValueError("VP8L: backward reference past end")
            for _ in range(length):
                p = int(px[pos - dist])
                px[pos] = p
                pos += 1
                if cache_bits:
                    cache[(0x1E35A7BD * p & 0xFFFFFFFF) >> cache_shift] = p
        else:
            px[pos] = cache[sym - _NUM_LITERAL - _NUM_LENGTH]
            pos += 1
    return px


# ---------------------------------------------------------------------------
# Inverse transforms
# ---------------------------------------------------------------------------


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-channel floor average of two ARGB uint32 pixels."""
    return (((a ^ b) & np.uint32(0xFEFEFEFE)) >> np.uint32(1)) + (a & b)


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _add_pixels(p: int, pred: int) -> int:
    """Per-channel modular add of residual and prediction."""
    return (
        (((p >> 24) + (pred >> 24)) & 0xFF) << 24
        | ((((p >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((p >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((p & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    if mode == 0:
        return _ARGB_BLACK
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    av2 = lambda x, y: int(  # noqa: E731 — scalar _avg2
        _avg2(np.uint32(x), np.uint32(y))
    )
    if mode == 5:
        return av2(av2(L, TR), T)
    if mode == 6:
        return av2(L, TL)
    if mode == 7:
        return av2(L, T)
    if mode == 8:
        return av2(TL, T)
    if mode == 9:
        return av2(T, TR)
    if mode == 10:
        return av2(av2(L, TL), av2(T, TR))
    if mode == 11:  # Select(T, L, TL)
        pa_minus_pb = 0
        for sh in (24, 16, 8, 0):
            t = (T >> sh) & 0xFF
            l_ = (L >> sh) & 0xFF
            tl = (TL >> sh) & 0xFF
            pa_minus_pb += abs(l_ - tl) - abs(t - tl)
        return T if pa_minus_pb <= 0 else L
    if mode == 12:  # ClampedAddSubtractFull(L, T, TL)
        out = 0
        for sh in (24, 16, 8, 0):
            v = _clamp(((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF))
            out |= v << sh
        return out
    if mode == 13:  # ClampedAddSubtractHalf(Average2(L, T), TL)
        ave = int(_avg2(np.uint32(L), np.uint32(T)))
        out = 0
        for sh in (24, 16, 8, 0):
            a = (ave >> sh) & 0xFF
            b = (TL >> sh) & 0xFF
            d = a - b
            # C truncating division by 2 (toward zero), per libwebp
            half = d // 2 if d >= 0 else -((-d) // 2)
            out |= _clamp(a + half) << sh
        return out
    raise ValueError(f"VP8L: invalid predictor mode {mode}")


def _inverse_predictor(px: np.ndarray, w: int, h: int, size_bits: int,
                       modes: np.ndarray) -> None:
    """In-place inverse spatial prediction (scan-order data dependency
    forces the per-pixel loop)."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    data = px  # uint32, length w*h
    for pos in range(w * h):
        x = pos % w
        y = pos // w
        if pos == 0:
            pred = _ARGB_BLACK
        elif y == 0:
            pred = int(data[pos - 1])  # row 0: left
        elif x == 0:
            pred = int(data[pos - w])  # col 0: top
        else:
            mode = (int(modes[(y >> size_bits) * bw + (x >> size_bits)]) >> 8) & 0xFF
            L = int(data[pos - 1])
            T = int(data[pos - w])
            TL = int(data[pos - w - 1])
            TR = int(data[pos - w + 1])  # x==w-1 wraps to row y x=0 (spec)
            pred = _predict(mode, L, T, TL, TR)
        data[pos] = _add_pixels(int(data[pos]), pred)


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Color-transform delta: (int8(t) * int8(c)) >> 5 (arithmetic)."""
    return (t.astype(np.int8).astype(np.int32)
            * c.astype(np.int8).astype(np.int32)) >> 5


def _inverse_color_transform(px: np.ndarray, w: int, h: int,
                             size_bits: int, cte: np.ndarray) -> np.ndarray:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    xs = (np.arange(w * h) % w) >> size_bits
    ys = (np.arange(w * h) // w) >> size_bits
    e = cte[ys * bw + xs]
    g2r = (e & 0xFF).astype(np.uint8)           # blue channel
    g2b = ((e >> 8) & 0xFF).astype(np.uint8)    # green channel
    r2b = ((e >> 16) & 0xFF).astype(np.uint8)   # red channel
    a = (px >> 24) & 0xFF
    r = ((px >> 16) & 0xFF).astype(np.int32)
    g = ((px >> 8) & 0xFF).astype(np.uint8)
    b = (px & 0xFF).astype(np.int32)
    r = (r + _ct_delta(g2r, g)) & 0xFF
    b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r.astype(np.uint8))) & 0xFF
    return (a.astype(np.uint32) << 24 | r.astype(np.uint32) << 16
            | g.astype(np.uint32) << 8 | b.astype(np.uint32))


def _inverse_subtract_green(px: np.ndarray) -> np.ndarray:
    g = (px >> 8) & 0xFF
    r = (((px >> 16) & 0xFF) + g) & 0xFF
    b = ((px & 0xFF) + g) & 0xFF
    return (px & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _inverse_color_indexing(
    px: np.ndarray, w: int, h: int, palette: np.ndarray, width_bits: int
) -> np.ndarray:
    """Map green-channel indices through the palette; unpack sub-byte
    packed pixels when the palette is small (spec pixel bundling)."""
    if width_bits:
        ppb = 1 << width_bits            # pixels per (byte-held) unit
        bpp = 8 >> width_bits            # bits per packed pixel
        mask = (1 << bpp) - 1
        packed_w = (w + ppb - 1) >> width_bits
        g = ((px >> 8) & 0xFF).reshape(h, packed_w)
        xs = np.arange(w)
        src = g[:, xs >> width_bits]
        shift = (xs & (ppb - 1)) * bpp
        idx = (src >> shift[None, :]) & mask
        idx = idx.reshape(-1).astype(np.int64)
    else:
        idx = ((px >> 8) & 0xFF).astype(np.int64)
    out = np.zeros(w * h, dtype=np.uint32)
    valid = idx < len(palette)
    out[valid] = palette[idx[valid]]     # out-of-range -> transparent black
    return out


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_webp(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a lossless WebP file to (height, width, channels, pixel
    bytes) — channels 3 (opaque) or 4 (alpha present), matching the
    IMG1 conventions of operators/multimodal.py. Lossy and extended
    containers raise NotImplementedError naming the chunk."""
    if len(blob) < 20 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) file")
    off = 12
    payload = None
    while off + 8 <= len(blob):
        fourcc = blob[off:off + 4]
        size = struct.unpack_from("<I", blob, off + 4)[0]
        body = blob[off + 8:off + 8 + size]
        if fourcc == b"VP8L":
            payload = body
            break
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "WebP chunk 'VP8 ' is LOSSY VP8 (boolean arithmetic "
                "decoder + DCT + loop filter — a video codec); decoding "
                "it requires pillow/libwebp, the documented permanent "
                "gate (COVERAGE.md). Lossless 'VP8L' decodes natively."
            )
        if fourcc == b"VP8X":
            raise NotImplementedError(
                "WebP chunk 'VP8X' (extended container: animation / "
                "EXIF / ICC) is not supported natively; re-mux to a "
                "simple VP8L file or install pillow."
            )
        off += 8 + size + (size & 1)
    if payload is None:
        raise ValueError("WebP: no VP8L chunk found")
    if not payload or payload[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = _BitReader(payload[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()  # alpha-is-used hint
    version = br.bits(3)
    if version != 0:
        raise ValueError(f"VP8L: unsupported version {version}")

    transforms = []
    xsize = w
    seen = set()
    while br.bit():
        t = br.bits(2)
        if t in seen:
            raise ValueError(f"VP8L: duplicate transform {t}")
        seen.add(t)
        if t == 2:  # subtract green
            transforms.append(("sub_green",))
        elif t == 0:  # predictor
            size_bits = br.bits(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            data = _decode_entropy_image(br, bw, bh, False)
            transforms.append(("predictor", size_bits, data))
        elif t == 1:  # cross-color
            size_bits = br.bits(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            data = _decode_entropy_image(br, bw, bh, False)
            transforms.append(("color", size_bits, data))
        elif t == 3:  # color indexing
            n_colors = br.bits(8) + 1
            pal = _decode_entropy_image(br, n_colors, 1, False)
            # palette entries are per-channel delta-coded
            pal = pal.copy()
            for i in range(1, n_colors):
                pal[i] = _add_pixels(int(pal[i]), int(pal[i - 1]))
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("palette", pal, width_bits))
            if width_bits:
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits

    px = _decode_entropy_image(br, xsize, h, True)

    for tr in reversed(transforms):
        if tr[0] == "palette":
            _, pal, width_bits = tr
            px = _inverse_color_indexing(px, w, h, pal, width_bits)
            xsize = w
        elif tr[0] == "sub_green":
            px = _inverse_subtract_green(px)
        elif tr[0] == "color":
            px = _inverse_color_transform(px, xsize, h, tr[1], tr[2])
        else:  # predictor
            _inverse_predictor(px, xsize, h, tr[1], tr[2])

    a = ((px >> 24) & 0xFF).astype(np.uint8)
    r = ((px >> 16) & 0xFF).astype(np.uint8)
    g = ((px >> 8) & 0xFF).astype(np.uint8)
    b = (px & 0xFF).astype(np.uint8)
    if bool(np.all(a == 255)):
        out = np.stack([r, g, b], axis=1)
        return h, w, 3, out.reshape(-1).tobytes()
    out = np.stack([r, g, b, a], axis=1)
    return h, w, 4, out.reshape(-1).tobytes()


# ---------------------------------------------------------------------------
# Minimal literal-only encoder (fixtures + lossless sink)
# ---------------------------------------------------------------------------


def _code_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Optimal length-limited prefix-code lengths via package-merge
    (Larmore & Hirschberg 1990, the coin-collector algorithm) — the
    lengths are cost-minimal under the `max_len` cap AND form a
    COMPLETE code (Kraft sum exactly 1), which strict decoders
    (libwebp rejects incomplete prefix tables) require. The previous
    plain-Huffman + decrement/increment depth clamp broke Kraft
    equality badly on skewed inputs (Fibonacci-weighted planes reached
    Kraft sum 0.0066 — round-10 ADVICE); this repo's own tolerant
    decoder round-tripped such files, external ones may refuse them.

    Alphabets here are <= 280 symbols and max_len <= 15, so the
    O(n * max_len) package lists stay tiny."""
    syms = [s for s, f in freqs.items() if f > 0]
    if len(syms) <= 1:
        return {s: 1 for s in syms}
    if len(syms) > (1 << max_len):  # unreachable at VP8L sizes
        raise ValueError("alphabet too large for max_len")
    # coin-collector: each item is (weight, leaf-multiset); one
    # package pass per level from depth max_len up; a symbol's code
    # length = how often its leaf appears among the 2n-2 cheapest
    # items of the final top-level list.
    leaves = sorted(
        ((freqs[s], (s,)) for s in syms), key=lambda x: x[0]
    )
    lst = leaves
    for _ in range(max_len - 1):
        pkgs = [
            (lst[i][0] + lst[i + 1][0], lst[i][1] + lst[i + 1][1])
            for i in range(0, len(lst) - 1, 2)
        ]
        lst = sorted(pkgs + leaves, key=lambda x: x[0])
    depth = {s: 0 for s in syms}
    for _, members in lst[: 2 * len(syms) - 2]:
        for s in members:
            depth[s] += 1
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """(code, nbits) per symbol, canonical (length, symbol) order."""
    items = sorted((ln, s) for s, ln in lengths.items() if ln > 0)
    codes = {}
    code = 0
    prev_len = 0
    for ln, s in items:
        code <<= ln - prev_len
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


def _write_code_msb(bwr: _BitWriter, code: int, nbits: int) -> None:
    """Prefix-code bits are consumed MSB-first by the decoder; the
    LSB-first writer must emit them most-significant bit first."""
    for i in range(nbits - 1, -1, -1):
        bwr.write((code >> i) & 1, 1)


def _write_prefix_code(
    bwr: _BitWriter, lengths: dict[int, int], alphabet_size: int
) -> None:
    nz = sorted(s for s, ln in lengths.items() if ln > 0)
    if 1 <= len(nz) <= 2 and all(s < 256 for s in nz):
        bwr.write(1, 1)  # simple
        bwr.write(len(nz) - 1, 1)
        if nz[0] >= 2:
            bwr.write(1, 1)
            bwr.write(nz[0], 8)
        else:
            bwr.write(0, 1)
            bwr.write(nz[0], 1)
        if len(nz) == 2:
            bwr.write(nz[1], 8)
        return
    # code-length-coded form, no repeats: one CL symbol per alphabet slot
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freq: dict[int, int] = {}
    for ln in full:
        cl_freq[ln] = cl_freq.get(ln, 0) + 1
    cl_lengths = _code_lengths(cl_freq, max_len=7)
    if len(cl_lengths) == 1:
        # decoder needs >= 1 bit total structure; give the lone symbol
        # length 1 (a 1-entry code reads 0 bits, which is still valid,
        # but emit a 2nd dummy to keep the CL table well-formed)
        (only,) = cl_lengths
        cl_lengths = {only: 1, (only + 1) % 16: 1}
    cl_codes = _canonical_codes(cl_lengths)
    bwr.write(0, 1)  # not simple
    # cover every order slot whose CL symbol has a nonzero length
    need = max(
        (i for i, s in enumerate(_CL_ORDER) if cl_lengths.get(s, 0) > 0),
        default=0,
    ) + 1
    need = max(need, 4)
    bwr.write(need - 4, 4)
    for i in range(need):
        bwr.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    bwr.write(0, 1)  # no max-symbol escape: emit all alphabet_size lengths
    for ln in full:
        c, nb = cl_codes[ln]
        _write_code_msb(bwr, c, nb)


def encode_webp_lossless(
    h: int, w: int, c: int, pixels: bytes
) -> bytes:
    """Encode RGB(A) pixel bytes as a literal-only VP8L WebP: no
    transforms, no LZ77, no color cache — each pixel's four channels
    entropy-coded with per-channel canonical prefix codes. Bit-exact
    lossless; ~1-2x raw size on noise, well under on flat fixtures."""
    if c not in (3, 4):
        raise ValueError("encode_webp_lossless: channels must be 3 or 4")
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L dimensions must be in 1..16384")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h * w, c)
    r, g, b = arr[:, 0], arr[:, 1], arr[:, 2]
    a = arr[:, 3] if c == 4 else np.full(h * w, 255, dtype=np.uint8)

    bwr = _BitWriter()
    bwr.write(w - 1, 14)
    bwr.write(h - 1, 14)
    bwr.write(1 if (c == 4 and not bool(np.all(a == 255))) else 0, 1)
    bwr.write(0, 3)  # version
    bwr.write(0, 1)  # no transforms
    bwr.write(0, 1)  # (main image) no meta prefix groups
    bwr.write(0, 1)  # no color cache

    def freqs(vals: np.ndarray) -> dict[int, int]:
        u, cnt = np.unique(vals, return_counts=True)
        return {int(s): int(n) for s, n in zip(u, cnt)}

    planes = [freqs(g), freqs(r), freqs(b), freqs(a)]
    lens = [_code_lengths(f) for f in planes]
    codes = [_canonical_codes(ln) for ln in lens]
    g_alpha = _NUM_LITERAL + _NUM_LENGTH  # no cache
    _write_prefix_code(bwr, lens[0], g_alpha)       # green (+len)
    _write_prefix_code(bwr, lens[1], _NUM_LITERAL)  # red
    _write_prefix_code(bwr, lens[2], _NUM_LITERAL)  # blue
    _write_prefix_code(bwr, lens[3], _NUM_LITERAL)  # alpha
    _write_prefix_code(bwr, {1: 1}, _NUM_DISTANCE)  # distance (unused)

    gc, rc, bc, ac = codes
    single = [len([s for s in ln.values() if s > 0]) == 1 for ln in lens]
    for i in range(h * w):
        if not single[0]:
            cd, nb = gc[int(g[i])]
            _write_code_msb(bwr, cd, nb)
        if not single[1]:
            cd, nb = rc[int(r[i])]
            _write_code_msb(bwr, cd, nb)
        if not single[2]:
            cd, nb = bc[int(b[i])]
            _write_code_msb(bwr, cd, nb)
        if not single[3]:
            cd, nb = ac[int(a[i])]
            _write_code_msb(bwr, cd, nb)

    body = b"\x2f" + bwr.finish()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
