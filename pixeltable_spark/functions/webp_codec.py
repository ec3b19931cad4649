"""Pure-python WebP LOSSLESS (VP8L) codec, stdlib + numpy only.

Implements the public "WebP Lossless Bitstream Specification"
(Google; RFC 9649):

* decoder: full VP8L — LSB-first bitstream, canonical prefix codes
  (simple and code-length-coded forms, incl. 16/17/18 RLE), meta-prefix
  groups, color cache, LZ77 backward references with the 2D distance
  mapping, and all four transforms (predictor with its 14 modes, color
  transform, subtract-green, color-indexing incl. sub-byte pixel
  bundling), applied in reverse order.
* encoder (drives round-trip tests; produces real WebP): literal-only
  VP8L — no LZ77/cache, single prefix group, complete canonical codes
  (kraft-exact 8/9-bit lengths), optional subtract-green transform.

Lossy VP8 and extended VP8X-wrapped lossy raise with a precise message
(those genuinely need libwebp); VP8X containers whose image data is
VP8L decode fine.

The reference reads WebP via PIL (reference functions/image.py); this
is the sandbox-real stand-in behind the same image_codec waist.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np


class _LsbReader:
    """LSB-first bit reader (VP8L convention)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        d, p = self.data, self.pos
        for i in range(n):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos += n
        return v

    def read_bit(self) -> int:
        p = self.pos
        self.pos += 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class _LsbWriter:
    def __init__(self):
        self.buf = bytearray()
        self.bit = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.buf.append(0)
            if (v >> i) & 1:
                self.buf[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits are consumed MSB-of-code first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        return bytes(self.buf)


# -- canonical prefix codes --------------------------------------------------

def _canonical_codes(lengths: list) -> dict:
    """symbol -> (code, length), DEFLATE-style canonical assignment."""
    pairs = sorted((ln, sym) for sym, ln in enumerate(lengths) if ln > 0)
    codes: dict = {}
    code, prev_len = 0, 0
    for ln, sym in pairs:
        code <<= (ln - prev_len)
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _PrefixTree:
    """Decode tree built from code lengths; walk bit by bit."""

    __slots__ = ("table",)

    def __init__(self, lengths: list):
        codes = _canonical_codes(lengths)
        self.table = {(ln, code): sym for sym, (code, ln) in codes.items()}
        if not self.table:
            raise ValueError("empty prefix code")

    def decode(self, br: _LsbReader) -> int:
        code, ln = 0, 0
        t = self.table
        while ln <= 15:
            code = (code << 1) | br.read_bit()
            ln += 1
            sym = t.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")


_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_prefix_code(br: _LsbReader, alphabet_size: int) -> "_PrefixTree":
    if br.read_bit():  # simple code: 1 or 2 symbols
        nsym = br.read(1) + 1
        first_8bit = br.read_bit()
        sym0 = br.read(8 if first_8bit else 1)
        lengths = [0] * alphabet_size
        if nsym == 1:
            lengths[sym0] = 0
            t = _PrefixTree.__new__(_PrefixTree)
            t.table = {(0, 0): sym0}  # zero-bit code: always sym0
            return t
        sym1 = br.read(8)
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _PrefixTree(lengths)
    num_codes = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_tree = _PrefixTree(cl_lengths)
    # optional limit on coded symbols
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl_tree.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _PrefixTree(lengths)


class _ZeroTree:
    """Degenerate single-symbol tree: consumes no bits."""

    __slots__ = ("sym",)

    def __init__(self, sym: int):
        self.sym = sym

    def decode(self, br: _LsbReader) -> int:
        return self.sym


def _wrap_tree(t) -> object:
    if isinstance(t, _PrefixTree) and len(t.table) == 1:
        (ln, _code), sym = next(iter(t.table.items()))
        if ln == 0:
            return _ZeroTree(sym)
    return t


def _lz77_value(br: _LsbReader, sym: int) -> int:
    """Length/distance prefix decoding (spec 'LZ77 backward reference')."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1

# 2D distance mapping: first 120 codes are (dx, dy) neighbors
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (8, 5),
    (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 6), (8, 7)]


def _plane_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    d = dy * xsize + dx
    return max(d, 1)


def _decode_entropy_image(br: _LsbReader, w: int, h: int,
                          allow_meta: bool) -> np.ndarray:
    """Decode a (h, w) image of ARGB uint32 pixels (spec 'spatially-coded
    image' when allow_meta, else 'entropy-coded image')."""
    cache_bits = 0
    cache = None
    if br.read_bit():
        cache_bits = br.read(4)
        cache = [0] * (1 << cache_bits)
    groups = 1
    meta = None
    meta_bits = 0
    if allow_meta and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_entropy_image(br, mw, mh, False)
        groups = int(((meta >> 8) & 0xFFFF).max()) + 1
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    trees = []
    for _ in range(groups):
        g = _wrap_tree(_read_prefix_code(br, green_size))
        r = _wrap_tree(_read_prefix_code(br, 256))
        b = _wrap_tree(_read_prefix_code(br, 256))
        a = _wrap_tree(_read_prefix_code(br, 256))
        d = _wrap_tree(_read_prefix_code(br, 40))
        trees.append((g, r, b, a, d))

    n = w * h
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            mp = meta[y >> meta_bits, (x >> meta_bits)]
            gi = int((mp >> 8) & 0xFFFF)
        else:
            gi = 0
        gt, rt, bt, at, dt = trees[gi]
        sym = gt.decode(br)
        if sym < 256:
            red = rt.decode(br)
            blue = bt.decode(br)
            alpha = at.decode(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif sym < 256 + 24:
            length = _lz77_value(br, sym - 256)
            dcode = dt.decode(br)
            dist = _plane_dist(_lz77_value(br, dcode), w)
            if dist > pos:
                raise ValueError("LZ77 distance before image start")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += 1
                if pos >= n:
                    break
        else:
            if cache is None:
                raise ValueError("color-cache symbol without color cache")
            out[pos] = cache[sym - 256 - 24]
            pos += 1
    return out.reshape(h, w)


# -- transforms --------------------------------------------------------------

def _apply_inverse_transforms(argb: np.ndarray, transforms: list,
                              w: int, h: int) -> np.ndarray:
    for ttype, tdata in reversed(transforms):
        if ttype == 2:  # subtract green
            g = (argb >> 8) & 0xFF
            r = (((argb >> 16) & 0xFF) + g) & 0xFF
            b = ((argb & 0xFF) + g) & 0xFF
            argb = (argb & 0xFF00FF00) | (r << 16) | b
        elif ttype == 0:  # predictor
            bits, tiles = tdata
            argb = _inverse_predictor(argb, bits, tiles, w, h)
        elif ttype == 1:  # color transform
            bits, tiles = tdata
            argb = _inverse_color_transform(argb, bits, tiles, w, h)
        elif ttype == 3:  # color indexing
            palette, packed_w = tdata
            argb = _inverse_color_index(argb, palette, w, h)
    return argb


def _pred_clamp_add_sub_full(a, b, c):
    out = 0
    for shift in (24, 16, 8, 0):
        pa = (a >> shift) & 0xFF
        pb = (b >> shift) & 0xFF
        pc = (c >> shift) & 0xFF
        v = pa + pb - pc
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << shift
    return out


def _pred_clamp_add_sub_half(a, b, c):
    # spec: Clamp(ave2 + (ave2 - c) / 2), integer /2 truncating toward zero
    out = 0
    for shift in (24, 16, 8, 0):
        pa = (a >> shift) & 0xFF
        pb = (b >> shift) & 0xFF
        pc = (c >> shift) & 0xFF
        ave = (pa + pb) >> 1
        d = ave - pc
        half = d // 2 if d >= 0 else -((-d) // 2)
        v = ave + half
        v = 0 if v < 0 else (255 if v > 255 else v)
        out |= v << shift
    return out


def _avg2_px(a, b):
    out = 0
    for shift in (24, 16, 8, 0):
        out |= (((a >> shift & 0xFF) + (b >> shift & 0xFF)) >> 1) << shift
    return out


def _select_pred(left, top, topleft):
    # per spec: predict = L + T - TL per channel (no clamp); return
    # whichever of (L, T) is Manhattan-closer to the prediction
    dl = dt = 0
    for shift in (24, 16, 8, 0):
        pr = (left >> shift & 0xFF) + (top >> shift & 0xFF) \
             - (topleft >> shift & 0xFF)
        dl += abs(pr - (left >> shift & 0xFF))
        dt += abs(pr - (top >> shift & 0xFF))
    return left if dl <= dt else top


def _inverse_predictor(argb, bits, tiles, w, h):
    a = argb.astype(np.int64).copy()
    tw = tiles.shape[1]
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(a[0, x - 1])  # mode L for top row
            elif x == 0:
                pred = int(a[y - 1, 0])  # mode T for left column
            else:
                mode = int((tiles[y >> bits, x >> bits] >> 8) & 0xFF)
                L = int(a[y, x - 1])
                T = int(a[y - 1, x])
                TL = int(a[y - 1, x - 1])
                TR = int(a[y - 1, x + 1]) if x + 1 < w else int(a[y - 1, 0])
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2_px(_avg2_px(L, TR), T)
                elif mode == 6:
                    pred = _avg2_px(L, TL)
                elif mode == 7:
                    pred = _avg2_px(L, T)
                elif mode == 8:
                    pred = _avg2_px(TL, T)
                elif mode == 9:
                    pred = _avg2_px(T, TR)
                elif mode == 10:
                    pred = _avg2_px(_avg2_px(L, TL), _avg2_px(T, TR))
                elif mode == 11:
                    pred = _select_pred(L, T, TL)
                elif mode == 12:
                    pred = _pred_clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _pred_clamp_add_sub_half(L, T, TL)
                else:
                    raise ValueError(f"invalid predictor mode {mode}")
            px = int(a[y, x])
            out = 0
            for shift in (24, 16, 8, 0):
                out |= (((px >> shift) + (pred >> shift)) & 0xFF) << shift
            a[y, x] = out
    return a.astype(np.uint32)


def _cdelta(t: int, c: int) -> int:
    t = t - 256 if t >= 128 else t  # signed 8-bit
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _inverse_color_transform(argb, bits, tiles, w, h):
    a = argb.astype(np.int64).copy()
    for y in range(h):
        for x in range(w):
            t = int(tiles[y >> bits, x >> bits])
            g2r = (t >> 16) & 0xFF
            g2b = (t >> 8) & 0xFF
            r2b = t & 0xFF
            px = int(a[y, x])
            g = (px >> 8) & 0xFF
            r = (px >> 16) & 0xFF
            b = px & 0xFF
            r = (r + _cdelta(g2r, g)) & 0xFF
            b = (b + _cdelta(g2b, g) + _cdelta(r2b, r)) & 0xFF
            a[y, x] = (px & 0xFF00FF00) | (r << 16) | b
    return a.astype(np.uint32)


def _inverse_color_index(argb, palette, w, h):
    psize = len(palette)
    if psize > 16:
        idx = (argb >> 8) & 0xFF
        return palette[np.clip(idx, 0, psize - 1)]
    if psize > 4:
        ppb, width_bits = 2, 2  # 2 pixels per byte, 4 bits each
        bits_per = 4
    elif psize > 2:
        ppb, bits_per = 4, 2
    else:
        ppb, bits_per = 8, 1
    packed_w = argb.shape[1]
    out = np.zeros((h, w), dtype=np.uint32)
    mask = (1 << bits_per) - 1
    for y in range(h):
        for x in range(w):
            packed = int((argb[y, x // ppb] >> 8) & 0xFF)
            idx = (packed >> (bits_per * (x % ppb))) & mask
            out[y, x] = palette[min(idx, psize - 1)]
    return out


def probe_webp(payload: bytes) -> Optional[dict]:
    if payload is None or len(payload) < 16:
        return None
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    pos = 12
    while pos + 8 <= len(p):
        tag = p[pos:pos + 4]
        ln = struct.unpack("<I", p[pos + 4:pos + 8])[0]
        if tag == b"VP8L":
            br = _LsbReader(p[pos + 8:pos + 8 + ln])
            if br.read(8) != 0x2F:
                return None
            w = br.read(14) + 1
            h = br.read(14) + 1
            alpha = br.read(1)
            return {"format": "WEBP", "width": w, "height": h,
                    "mode": "RGBA" if alpha else "RGB", "lossless": True}
        if tag == b"VP8 ":
            if ln >= 10:
                w, h = struct.unpack("<HH", p[pos + 8 + 6:pos + 8 + 10])
                return {"format": "WEBP", "width": w & 0x3FFF,
                        "height": h & 0x3FFF, "mode": "RGB",
                        "lossless": False}
            return None
        if tag == b"VP8X":
            if ln >= 10:
                wh = p[pos + 8 + 4:pos + 8 + 10]
                w = 1 + (wh[0] | (wh[1] << 8) | (wh[2] << 16))
                h = 1 + (wh[3] | (wh[4] << 8) | (wh[5] << 16))
                # keep walking: a VP8L chunk may follow
                info = {"format": "WEBP", "width": w, "height": h,
                        "mode": "RGBA", "lossless": None}
                rest = probe_webp(b"RIFF" + p[4:8] + b"WEBP"
                                  + p[pos + 8 + ln + (ln & 1):])
                if rest is not None:
                    info["lossless"] = rest.get("lossless")
                return info
        pos += 8 + ln + (ln & 1)
    return None


def decode_webp(payload: bytes) -> tuple:
    """Decode lossless WebP; returns (array (H, W, 4) uint8 RGBA, 'RGBA').
    Lossy VP8 raises (needs libwebp)."""
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    vp8l = None
    while pos + 8 <= len(p):
        tag = p[pos:pos + 4]
        ln = struct.unpack("<I", p[pos + 4:pos + 8])[0]
        if tag == b"VP8L":
            vp8l = p[pos + 8:pos + 8 + ln]
            break
        if tag == b"VP8 ":
            raise ValueError(
                "lossy VP8 WebP needs libwebp; only lossless (VP8L) "
                "decodes here")
        pos += 8 + ln + (ln & 1)
    if vp8l is None:
        raise ValueError("no VP8L chunk in WebP container")
    br = _LsbReader(vp8l)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")

    transforms = []
    xsize = w
    while br.read_bit():
        ttype = br.read(2)
        if ttype == 2:  # subtract green
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / color transform
            bits = br.read(3) + 2
            tw = (xsize + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            tiles = _decode_entropy_image(br, tw, th, False)
            transforms.append((ttype, (bits, tiles)))
        elif ttype == 3:  # color indexing
            psize = br.read(8) + 1
            praw = _decode_entropy_image(br, psize, 1, False)[0]
            # palette entries are delta-coded
            palette = np.zeros(psize, dtype=np.uint32)
            prev = 0
            for i in range(psize):
                d = int(praw[i])
                px = 0
                for shift in (24, 16, 8, 0):
                    px |= (((d >> shift) + (prev >> shift)) & 0xFF) << shift
                palette[i] = px
                prev = px
            if psize <= 2:
                xsize = (xsize + 7) >> 3
            elif psize <= 4:
                xsize = (xsize + 3) >> 2
            elif psize <= 16:
                xsize = (xsize + 1) >> 1
            transforms.append((3, (palette, xsize)))
        else:
            raise ValueError("reserved transform type")

    argb = _decode_entropy_image(br, xsize, h, True)
    argb = _apply_inverse_transforms(argb, transforms, w, h)
    if argb.shape != (h, w):
        argb = argb[:h, :w]
    a = ((argb >> 24) & 0xFF).astype(np.uint8)
    r = ((argb >> 16) & 0xFF).astype(np.uint8)
    g = ((argb >> 8) & 0xFF).astype(np.uint8)
    b = (argb & 0xFF).astype(np.uint8)
    return np.stack([r, g, b, a], axis=2), "RGBA"


# ---------------------------------------------------------------------------
# encoder: literal-only VP8L (complete canonical codes, no LZ77/cache)
# ---------------------------------------------------------------------------

def _write_full_code(bw: _LsbWriter, lengths: list) -> dict:
    """Serialize a complete code via code-length codes; returns the
    symbol->(code, length) map for emitting values."""
    used = sorted({ln for ln in lengths if ln})
    assert used, "cannot serialize an all-zero code"
    bw.write(0, 1)  # not simple
    # code-length code: give each used length a 1..2-bit code (kraft-exact)
    cl_lengths = [0] * 19
    if len(used) == 1:
        cl_lengths[used[0]] = 1  # incomplete 1-symbol CL code is allowed
        # (the reader's tree has a single 1-bit code; we always emit 0)
    elif len(used) == 2:
        cl_lengths[used[0]] = 1
        cl_lengths[used[1]] = 1
    else:
        raise NotImplementedError("encoder emits at most 2 distinct lengths")
    # num_codes must cover every used index in _CL_ORDER
    max_idx = max(_CL_ORDER.index(u) for u in used)
    num_codes = max(4, max_idx + 1)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max-symbol limit: lengths for the whole alphabet
    cl_codes = _canonical_codes(cl_lengths)
    for ln in lengths:
        # lengths of 0 can't happen: our codes assign every symbol a length
        code, cln = cl_codes[ln]
        bw.write_code(code, cln)
    return _canonical_codes(lengths)


def _complete_lengths(nsyms: int) -> list:
    """Kraft-exact lengths using at most two distinct values: with
    2^L < n <= 2^(L+1), (2^(L+1) - n) symbols at L bits and the rest at
    L+1 bits sum to exactly 1."""
    bits = nsyms.bit_length() - 1
    if (1 << bits) == nsyms:
        return [bits] * nsyms
    n_short = (1 << (bits + 1)) - nsyms
    return [bits] * n_short + [bits + 1] * (nsyms - n_short)


def encode_webp(arr: np.ndarray, mode: str = "RGBA") -> bytes:
    """Literal-only lossless WebP of an (H, W, 3|4) uint8 array."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nch = arr.shape
    if nch == 1:
        arr = np.repeat(arr, 3, axis=2)
        nch = 3
    if nch == 3:
        alpha = np.full((h, w), 255, dtype=np.uint8)
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    else:
        r, g, b, alpha = (arr[:, :, i] for i in range(4))

    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if nch == 4 else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta-prefix
    green_codes = _write_full_code(bw, _complete_lengths(256 + 24))
    chan_codes = [_write_full_code(bw, _complete_lengths(256))
                  for _ in range(3)]  # red, blue, alpha
    _write_full_code(bw, _complete_lengths(40))  # distance (unused)
    rc, bc, ac = chan_codes
    for y in range(h):
        for x in range(w):
            code, ln = green_codes[int(g[y, x])]
            bw.write_code(code, ln)
            code, ln = rc[int(r[y, x])]
            bw.write_code(code, ln)
            code, ln = bc[int(b[y, x])]
            bw.write_code(code, ln)
            code, ln = ac[int(alpha[y, x])]
            bw.write_code(code, ln)
    vp8l = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    riff = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    return riff
