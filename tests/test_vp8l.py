"""VP8L (lossless WebP) decoder vs the independent hand-written encoder.

The oracle encoder (tests/vp8l_encoder.py) is written from the RFC 9649
spec with its own bit writer, Huffman builder, and forward transforms —
no tables or code shared with the decoder — so agreement pins both
implementations to the spec."""
import random
import struct

import pytest

from master_project_spark.operators.vp8l import decode_vp8l
from vp8l_encoder import (BitW, encode_vp8l, tokenize, write_image_data,
                          write_prefix_code)


def _body(data: bytes) -> bytes:
    """VP8L chunk body out of a full RIFF file (skip to the 0x2F)."""
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    pos = 12
    while pos + 8 <= len(data):
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if data[pos:pos + 4] == b"VP8L":
            return data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise AssertionError("no VP8L chunk")


def _pix(rng: random.Random, n_colors: int | None = None) -> int:
    if n_colors:
        rng2 = random.Random(n_colors * 7 + 1)
        colors = [(0xFF000000 | rng2.getrandbits(24))
                  for _ in range(n_colors)]
        return colors[rng.randrange(n_colors)]
    return (rng.getrandbits(8) << 24) | rng.getrandbits(24)


def _image(w: int, h: int, seed: int, n_colors: int | None = None):
    rng = random.Random(seed)
    return [_pix(rng, n_colors) for _ in range(w * h)]


def _roundtrip(px, w, h, **kw):
    data = encode_vp8l(px, w, h, **kw)
    dw, dh, out = decode_vp8l(_body(data))
    assert (dw, dh) == (w, h)
    assert out == px, kw
    return data


def test_vp8l_literals_roundtrip():
    _roundtrip(_image(13, 7, seed=1), 13, 7)
    _roundtrip(_image(1, 1, seed=2), 1, 1)
    _roundtrip(_image(64, 1, seed=3), 64, 1)


def test_vp8l_color_cache_roundtrip():
    # few distinct colors -> the tokenizer emits real cache hits
    px = _image(20, 9, seed=4, n_colors=5)
    data_nc = encode_vp8l(px, 20, 9)
    data_c = _roundtrip(px, 20, 9, cache_bits=4)
    assert len(data_c) < len(data_nc)      # the cache must actually fire
    _roundtrip(px, 20, 9, cache_bits=1)    # 1-slot edge
    _roundtrip(px, 20, 9, cache_bits=11)   # max size


def test_vp8l_lz77_runs_roundtrip():
    rng = random.Random(5)
    px = []
    while len(px) < 30 * 8:
        px.extend([0xFF000000 | rng.getrandbits(24)]
                  * rng.choice([1, 1, 4, 9, 17]))
    px = px[:30 * 8]
    # dist-1 runs are overlapping copies (dist < length) by construction
    data = _roundtrip(px, 30, 8, lz77_runs=True)
    plain = encode_vp8l(px, 30, 8)
    assert len(data) < len(plain)
    _roundtrip(px, 30, 8, lz77_runs=True, cache_bits=6)


def test_vp8l_distance_map_directed():
    """dist_code <= 120 goes through the 2-D neighborhood map:
    (dx, dy) -> dist = dy*xsize + dx. Hand-build streams around copym
    tokens and check against spec-computed source pixels."""
    from master_project_spark.operators.vp8l import _DIST_MAP

    # the table's leading entries, hand-transcribed from the spec
    # listing (incl. the d^2=25 tie-break run) — pins _gen_dist_map
    assert _DIST_MAP[:40] == (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
        (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
        (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0))
    assert len(_DIST_MAP) == 120

    w, h = 11, 12
    px0 = _image(w, h, seed=6)
    # entries 1..13 verified by hand; code 2 yields dist=1 via the
    # clamp-to-1 rule at dx=1,dy=0; code 120 reads the generated tail
    for dist_code, (dx, dy) in [(1, (0, 1)), (2, (1, 0)), (4, (-1, 1)),
                                (9, (2, 1)), (13, (0, 3)),
                                (120, _DIST_MAP[119])]:
        dist = dy * w + dx
        if dist < 1:
            dist = 1
        # tokens: first 90 literals, one mapped copy of 5, rest literals
        toks = [("lit", p) for p in px0[:90]] + [("copym", 5, dist_code)]
        expect = px0[:90]
        for _ in range(5):
            expect.append(expect[len(expect) - dist])
        toks += [("lit", p) for p in px0[95:]]
        expect += px0[95:]
        bw = BitW()
        bw.put(w - 1, 14)
        bw.put(h - 1, 14)
        bw.put(0, 1)
        bw.put(0, 3)
        bw.put(0, 1)                           # no transforms
        bw.put(0, 1)                           # no cache
        bw.put(0, 1)                           # no meta
        write_image_data(bw, [toks], [0] * len(toks), 0)
        dw, dh, out = decode_vp8l(b"\x2f" + bw.bytes())
        assert (dw, dh) == (w, h)
        assert out == expect, dist_code


def test_vp8l_subtract_green_roundtrip():
    _roundtrip(_image(17, 5, seed=7), 17, 5, subtract_green=True)


@pytest.mark.parametrize("mode", list(range(14)))
def test_vp8l_predictor_roundtrip(mode):
    _roundtrip(_image(19, 9, seed=8 + mode), 19, 9, predictor_mode=mode,
               pred_bits=3)
    # tile size larger than the image: single tile
    _roundtrip(_image(6, 4, seed=30 + mode), 6, 4, predictor_mode=mode,
               pred_bits=5)
    # low-entropy gradient image: exercises ties in Select and negative
    # half-differences in ClampAddSubtractHalf
    grad = [0xFF000000 | (((x * 7 + y * 3) % 256) << 16)
            | (((x * 2) % 256) << 8) | ((y * 5) % 256)
            for y in range(6) for x in range(16)]
    _roundtrip(grad, 16, 6, predictor_mode=mode, pred_bits=2)


def test_vp8l_predictor_plus_color_transform_roundtrip():
    """Two sub-image transforms read in order [predictor, color] must be
    inverted in reverse order; forward-encoded as predictor-then-color."""
    _roundtrip(_image(18, 7, seed=60), 18, 7, predictor_mode=7,
               pred_bits=3, color_cte=0x0503FA)


def test_vp8l_color_transform_roundtrip():
    # cte bytes: red=r2b, green=g2b, blue=g2r — incl. negative (int8)
    for cte in [0x000000, 0x0102FD, 0xFC80FF, 0x7F7F7F]:
        _roundtrip(_image(14, 6, seed=9), 14, 6, color_cte=cte,
                   pred_bits=2)


def test_vp8l_palette_roundtrip():
    for n_colors, w in [(2, 21), (3, 10), (4, 8), (5, 13), (16, 9),
                        (17, 7), (40, 5)]:
        rng = random.Random(100 + n_colors)
        palette = []
        while len(palette) < n_colors:
            c = 0xFF000000 | rng.getrandbits(24)
            if c not in palette:
                palette.append(c)
        px = [palette[rng.randrange(n_colors)] for _ in range(w * 6)]
        _roundtrip(px, w, 6, palette=palette)


def test_vp8l_meta_prefix_groups_roundtrip():
    _roundtrip(_image(24, 10, seed=11), 24, 10, meta_split=2)
    _roundtrip(_image(33, 7, seed=12, n_colors=6), 33, 7, meta_split=3,
               cache_bits=3)


def test_vp8l_combined_transforms_roundtrip():
    rng = random.Random(13)
    px = []
    while len(px) < 25 * 12:
        px.extend([0xFF000000 | rng.getrandbits(24)]
                  * rng.choice([1, 2, 6]))
    px = px[:25 * 12]
    _roundtrip(px, 25, 12, subtract_green=True, predictor_mode=2,
               pred_bits=3, cache_bits=5, lz77_runs=True)


def test_vp8l_simple_and_degenerate_codes():
    """Single-color images force 0-bit (single-symbol) codes through the
    simple-code and the degenerate normal-code paths."""
    px = [0xFF123456] * (8 * 5)
    _roundtrip(px, 8, 5)
    _roundtrip(px, 8, 5, lz77_runs=True)
    # two colors -> 2-symbol simple codes, incl. sym0 > sym1 read order
    px2 = [(0xFFAA0011 if (i * 7) % 3 else 0xFF550099) for i in range(36)]
    _roundtrip(px2, 6, 6)


def test_vp8l_prefix_writer_decoder_agreement():
    """Pin the code-machinery contract: write a prefix code with the
    oracle writer, read it with the decoder's reader, decode symbols."""
    from master_project_spark.operators.vp8l import _Bits, _read_prefix
    from vp8l_encoder import huff_lengths, put_code

    rng = random.Random(17)
    for alphabet, n_used in [(256, 1), (256, 2), (256, 7), (280, 40),
                             (40, 3), (19, 19)]:
        syms = rng.sample(range(alphabet), n_used)
        freqs = {s: rng.randrange(1, 100) for s in syms}
        lengths = huff_lengths(freqs, 15)
        bw = BitW()
        codes = write_prefix_code(bw, lengths, alphabet)
        stream = rng.choices(syms, k=60)
        for s in stream:
            put_code(bw, codes, s)
        br = _Bits(bw.bytes())
        code = _read_prefix(br, alphabet)
        assert [code.decode(br) for _ in stream] == stream, (alphabet,
                                                             n_used)
