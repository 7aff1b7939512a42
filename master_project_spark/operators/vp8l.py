"""Pure-Python VP8L (lossless WebP) pixel decoder.

Implements the public WebP Lossless Bitstream Specification (RFC 9649):
LSB-first bit stream, canonical (DEFLATE-style) prefix codes with the
19-symbol code-length code, optional color cache, LZ77 backward
references with the 120-entry 2-D distance neighborhood map, meta prefix
codes (entropy image), and all four transforms (predictor, color,
subtract-green, color-indexing with pixel packing), inverted in reverse
read order.

Standalone: no pipeline stage, contract query or benchmark imports it.
It is the last piece of the removed media-codec stack, kept with its
tests until a later change deletes it (ROADMAP item 2).
"""
from __future__ import annotations


class _Bits:
    """LSB-first bit reader (bit k of the stream is byte[k>>3] >> (k&7))."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def u(self, k: int) -> int:
        p = self.pos
        if p + k > self.nbits:
            raise ValueError("VP8L: bitstream truncated")
        v = 0
        for i in range(k):
            v |= ((self.data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + k
        return v

    def bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise ValueError("VP8L: bitstream truncated")
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class _Prefix:
    """Canonical prefix code: decode MSB-first code bits read one at a
    time from the LSB-first stream (DEFLATE canonicalization: codes
    assigned in (length, symbol) order)."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths: list[int]):
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("VP8L: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]      # 0-bit code: always this symbol
            self.table = {}
            self.max_len = 0
            return
        self.single = -1
        # Kraft check guards against over-subscribed (corrupt) codes
        if sum(1 << (15 - l) for l, _ in used) > (1 << 15):
            raise ValueError("VP8L: over-subscribed prefix code")
        self.table = {}
        code = 0
        prev_len = 0
        for l, s in sorted(used):
            code <<= (l - prev_len)
            self.table[(l, code)] = s
            code += 1
            prev_len = l
        self.max_len = prev_len

    def decode(self, br: _Bits) -> int:
        if self.single >= 0:
            return self.single
        code = 0
        for l in range(1, self.max_len + 1):
            code = (code << 1) | br.bit()
            sym = self.table.get((l, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L: invalid prefix code word")


#: RFC 9649 code-length-code read order
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14,
              15)
#: repeat symbols 16/17/18: (extra bits, repeat offset)
_REPEAT = {16: (2, 3), 17: (3, 3), 18: (7, 11)}

def _gen_dist_map() -> tuple:
    """RFC 9649 distance neighborhood map, dist_code 1..120 -> (dx, dy):
    the 120 closest pixel offsets with dy in [0, 8] and dx in [-7, 8]
    (the spec packs each entry as a nibble pair y:(8-x), bounding the
    ranges), ordered by squared euclidean distance, ties by |dx| with
    positive dx before negative. The ordering rule is pinned by the
    spec's own listing — tests/test_vp8l.py asserts the table's leading
    entries against hand-transcribed spec values, including the
    d^2 = 25 tie (0,5),(3,4),(-3,4),(4,3),(-4,3),(5,0)."""
    cands = []
    for dy in range(0, 9):
        for dx in range(-7, 9):
            if dy == 0 and dx <= 0:
                continue
            cands.append((dx * dx + dy * dy, abs(dx), 0 if dx > 0 else 1,
                          dx, dy))
    cands.sort()
    return tuple((dx, dy) for _, _, _, dx, dy in cands[:120])


_DIST_MAP = _gen_dist_map()


def _read_prefix(br: _Bits, alphabet_size: int) -> _Prefix:
    if br.bit():                               # simple code
        num_symbols = br.bit() + 1
        sym0 = br.u(8) if br.bit() else br.bit()
        if sym0 >= alphabet_size:
            raise ValueError("VP8L: simple-code symbol out of range")
        # 2-symbol simple codes assign code 0 to the FIRST-read symbol;
        # canonical (length, symbol) order would swap them when
        # sym0 > sym1, so build the table directly in read order.
        code = _Prefix.__new__(_Prefix)
        if num_symbols == 1:
            code.single = sym0
            code.table = {}
            code.max_len = 0
        else:
            sym1 = br.u(8)
            if sym1 >= alphabet_size:
                raise ValueError("VP8L: simple-code symbol out of range")
            if sym0 == sym1:
                raise ValueError("VP8L: duplicate simple-code symbols")
            code.single = -1
            code.table = {(1, 0): sym0, (1, 1): sym1}
            code.max_len = 1
        return code
    # normal: code lengths, themselves prefix-coded
    num_clc = 4 + br.u(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.u(3)
    clc = _Prefix(clc_lengths)
    if br.bit():                               # bounded number of symbols
        length_nbits = 2 + 2 * br.u(3)
        max_symbol = 2 + br.u(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code_len = clc.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            extra, offset = _REPEAT[code_len]
            repeat = br.u(extra) + offset
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L: code-length repeat overflow")
            fill = prev_len if code_len == 16 else 0
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Prefix(lengths)


def _prefix_value(br: _Bits, prefix_code: int) -> int:
    """LZ77 length / distance-code decode (RFC 9649 §3.2.3)."""
    if prefix_code < 4:
        return prefix_code + 1
    extra_bits = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra_bits
    return offset + br.u(extra_bits) + 1


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_pixels(br: _Bits, xsize: int, ysize: int,
                   allow_meta: bool) -> list[int]:
    """One entropy-coded image -> flat row-major list of ARGB uint32.
    The main image passes allow_meta=True (spatially coded: may carry an
    entropy image selecting per-tile prefix groups); sub-resolution
    images (entropy/predictor/color/palette) pass False."""
    cache_bits = br.u(4) if br.bit() else 0
    if cache_bits > 11:
        raise ValueError("VP8L: color cache too large")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.bit():
        meta_bits = br.u(3) + 2
        mw, mh = _sub_size(xsize, meta_bits), _sub_size(ysize, meta_bits)
        meta = _decode_pixels(br, mw, mh, False)
        n_groups = 1 + max(((p >> 8) & 0xFFFF) for p in meta)

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((_read_prefix(br, green_size),
                       _read_prefix(br, 256),      # red
                       _read_prefix(br, 256),      # blue
                       _read_prefix(br, 256),      # alpha
                       _read_prefix(br, 40)))      # distance
    g_green, g_red, g_blue, g_alpha, g_dist = groups[0]

    out = [0] * (xsize * ysize)
    n = xsize * ysize
    i = 0
    mrow_w = _sub_size(xsize, meta_bits) if meta is not None else 0
    while i < n:
        if meta is not None:
            x, y = i % xsize, i // xsize
            mpix = meta[(y >> meta_bits) * mrow_w + (x >> meta_bits)]
            g_green, g_red, g_blue, g_alpha, g_dist = \
                groups[(mpix >> 8) & 0xFFFF]
        s = g_green.decode(br)
        if s < 256:                            # literal ARGB
            red = g_red.decode(br)
            blue = g_blue.decode(br)
            alpha = g_alpha.decode(br)
            pix = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[i] = pix
            i += 1
            if cache is not None:
                cache[((0x1E35A7BD * pix) & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = pix
        elif s < 256 + 24:                     # LZ77 backward reference
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, g_dist.decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > n:
                raise ValueError("VP8L: backward reference out of range")
            for _ in range(length):            # may overlap (dist < length)
                pix = out[i - dist]
                out[i] = pix
                i += 1
                if cache is not None:
                    cache[((0x1E35A7BD * pix) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = pix
        else:                                  # color cache hit
            if cache is None:
                raise ValueError("VP8L: cache symbol without cache")
            out[i] = cache[s - 256 - 24]
            i += 1
    return out


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _add_pixels(a: int, b: int) -> int:
    """Per-channel mod-256 sum of two packed ARGB values."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        cl, ct, ctl = (l >> sh) & 0xFF, (t >> sh) & 0xFF, (tl >> sh) & 0xFF
        # predict = L + T - TL per channel; distance of predict to L is
        # |T - TL| and to T is |L - TL|
        pl += abs(ct - ctl)
        pt += abs(cl - ctl)
    return l if pl < pt else t


def _casf(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                   - ((tl >> sh) & 0xFF))
        out |= v << sh
    return out


def _cash(l: int, t: int, tl: int) -> int:
    av = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (av >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)   # C truncation toward 0
        out |= _clamp(a + half) << sh
    return out


def _inverse_predictor(out: list[int], xsize: int, ysize: int,
                       bits: int, modes: list[int]) -> None:
    mw = _sub_size(xsize, bits)
    for y in range(ysize):
        for x in range(xsize):
            i = y * xsize + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[i - 1]
            elif x == 0:
                pred = out[i - xsize]
            else:
                mode = (modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF
                L = out[i - 1]
                T = out[i - xsize]
                TL = out[i - xsize - 1]
                # TR of the rightmost column wraps to the leftmost pixel
                # of the CURRENT row (flat index (y-1)*w + x + 1), which
                # is decoded by the time it is read
                TR = out[i - xsize + 1]
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
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _casf(L, T, TL)
                elif mode == 13:
                    pred = _cash(L, T, TL)
                else:
                    raise ValueError("VP8L: bad predictor mode")
            out[i] = _add_pixels(out[i], pred)


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: (int8)t * (int8)c >> 5 (arithmetic shift)."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _inverse_color_transform(out: list[int], xsize: int, ysize: int,
                             bits: int, ctes: list[int]) -> None:
    mw = _sub_size(xsize, bits)
    for y in range(ysize):
        for x in range(xsize):
            i = y * xsize + x
            pix = out[i]
            cte = ctes[(y >> bits) * mw + (x >> bits)]
            g2r = cte & 0xFF                   # blue channel
            g2b = (cte >> 8) & 0xFF            # green channel
            r2b = (cte >> 16) & 0xFF           # red channel
            green = (pix >> 8) & 0xFF
            red = ((pix >> 16) & 0xFF) + _ctd(g2r, green)
            blue = (pix & 0xFF) + _ctd(g2b, green) + _ctd(r2b, red & 0xFF)
            out[i] = (pix & 0xFF00FF00) | ((red & 0xFF) << 16) | (blue & 0xFF)


def decode_vp8l(body: bytes) -> tuple[int, int, list[int]]:
    """VP8L chunk body (starting at the 0x2F signature) -> (width,
    height, flat row-major ARGB pixels)."""
    if not body or body[0] != 0x2F:
        raise ValueError("VP8L: bad signature")
    br = _Bits(body[1:])
    width = 1 + br.u(14)
    height = 1 + br.u(14)
    br.bit()                                   # alpha hint
    if br.u(3) != 0:
        raise ValueError("VP8L: unknown version")

    xsize = width                              # reduced by color indexing
    transforms = []                            # (type, data...) read order
    seen = set()
    while br.bit():
        ttype = br.u(2)
        if ttype in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == 0:                         # predictor
            bits = br.u(3) + 2
            sub = _decode_pixels(br, _sub_size(xsize, bits),
                                 _sub_size(height, bits), False)
            transforms.append((0, xsize, bits, sub))
        elif ttype == 1:                       # color transform
            bits = br.u(3) + 2
            sub = _decode_pixels(br, _sub_size(xsize, bits),
                                 _sub_size(height, bits), False)
            transforms.append((1, xsize, bits, sub))
        elif ttype == 2:                       # subtract green
            transforms.append((2, xsize))
        else:                                  # color indexing
            palette_size = br.u(8) + 1
            pal = _decode_pixels(br, palette_size, 1, False)
            for k in range(1, palette_size):   # entries are delta-coded
                pal[k] = _add_pixels(pal[k], pal[k - 1])
            if palette_size <= 2:
                pbits = 3
            elif palette_size <= 4:
                pbits = 2
            elif palette_size <= 16:
                pbits = 1
            else:
                pbits = 0
            transforms.append((3, xsize, pbits, pal))
            xsize = _sub_size(xsize, pbits)

    out = _decode_pixels(br, xsize, height, True)

    for tr in reversed(transforms):
        if tr[0] == 0:
            _, txsize, bits, sub = tr
            _inverse_predictor(out, txsize, height, bits, sub)
        elif tr[0] == 1:
            _, txsize, bits, sub = tr
            _inverse_color_transform(out, txsize, height, bits, sub)
        elif tr[0] == 2:
            for i, pix in enumerate(out):
                g = (pix >> 8) & 0xFF
                r = (((pix >> 16) & 0xFF) + g) & 0xFF
                b = ((pix & 0xFF) + g) & 0xFF
                out[i] = (pix & 0xFF00FF00) | (r << 16) | b
        else:
            _, txsize, pbits, pal = tr
            packed_w = _sub_size(txsize, pbits)
            expanded = [0] * (txsize * height)
            ppc = 1 << pbits                   # pixels per packed green
            ibits = 8 >> pbits                 # index width in bits
            mask = (1 << ibits) - 1
            for y in range(height):
                for x in range(txsize):
                    packed = out[y * packed_w + (x >> pbits)]
                    idx = (((packed >> 8) & 0xFF)
                           >> (ibits * (x % ppc))) & mask
                    if idx >= len(pal):
                        raise ValueError("VP8L: palette index out of range")
                    expanded[y * txsize + x] = pal[idx]
            out = expanded
    return width, height, out
