"""Property-based roundtrips for the multimodal decoders (hypothesis):
random inputs through encode→decode must reproduce exactly, and junk
behind any magic must fail with ValueError/NotImplementedError. These
are the adversarial complement to the structured fixtures — the
generators explore block-size edges, bit-depth extremes, and
sample-domain corners no hand-written case covers."""

from __future__ import annotations

import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "tests")

from simple_etl_spark.llm.multimodal import (
    decode_audio,
    decode_image,
    demux_video,
    encode_flac_verbatim,
    encode_y4m,
)


@settings(max_examples=40, deadline=None)
@given(
    pcm=st.lists(st.integers(-32768, 32767), min_size=0, max_size=600),
    rate=st.sampled_from([8000, 16000, 44100]),
    block=st.integers(16, 200),
)
def test_flac_verbatim_roundtrip_property(pcm, rate, block):
    r, c, b, got = decode_audio(
        encode_flac_verbatim(pcm, rate, 16, block_size=block))
    assert (r, c, b) == (rate, 1, 16)
    assert list(got) == pcm


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    nframes=st.integers(1, 4),
    data=st.data(),
)
def test_y4m_mono_roundtrip_property(w, h, nframes, data):
    frames = [
        bytes(data.draw(st.integers(0, 255)) for _ in range(w * h))
        for _ in range(nframes)
    ]
    v = demux_video(encode_y4m(w, h, frames))
    assert v["frames"] == frames


@settings(max_examples=40, deadline=None)
@given(junk=st.binary(min_size=0, max_size=300))
def test_decoders_never_crash_on_junk_property(junk):
    """Arbitrary bytes (optionally wearing a real magic) must decode
    or raise ValueError/NotImplementedError — never IndexError,
    struct.error, or a hang."""
    for magic in (b"", b"fLaC", b"\x89PNG\r\n\x1a\n", b"YUV4MPEG2 ",
                  b"RIFF\x00\x00\x00\x00WAVE", b"GIF87a", b"GIF89a",
                  b"II*\x00", b"MM\x00*", b"BM", b"P5", b"P6",
                  b"FORM\x00\x00\x01\x00AIFF", b"FORM\x00\x00\x01\x00AIFC",
                  # formats without a built-in decoder
                  b"\xff\xd8\xff", b"RIFF\x00\x00\x00\x00AVI "):
        for fn in (decode_image, decode_audio):
            try:
                fn(magic + junk)
            except (ValueError, NotImplementedError):
                pass
        try:
            demux_video(magic + junk)
        except (ValueError, NotImplementedError):
            pass


# -- round-13 surfaces -------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    pcm=st.lists(st.integers(-128, 127), min_size=0, max_size=400),
    block=st.integers(16, 96),
)
def test_flac_verbatim_8bit_roundtrip_property(pcm, block):
    """The r13 byte-aligned fast path covers 8-bit verbatim runs too."""
    r, c, b, got = decode_audio(
        encode_flac_verbatim(pcm, 8000, 8, block_size=block))
    assert (r, c, b) == (8000, 1, 8)
    assert list(got) == pcm


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 10),
    depth=st.sampled_from([1, 2, 4]),
    data=st.data(),
)
def test_png_sub8_gray_roundtrip_property(w, h, depth, data):
    from tests.test_multimodal import _png

    mask = (1 << depth) - 1
    vals = [data.draw(st.integers(0, mask)) for _ in range(w * h)]
    per = 8 // depth
    stride = (w * depth + 7) // 8
    rows = bytearray(stride * h)
    for y in range(h):
        for x in range(w):
            shift = 8 - depth * ((x % per) + 1)
            rows[y * stride + x // per] |= vals[y * w + x] << shift
    got = decode_image(_png(w, h, 0, bytes(rows), depth=depth))
    scale = 255 // mask
    assert got == (w, h, 1, bytes(v * scale for v in vals))


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 10),
    h=st.integers(1, 8),
    depth=st.sampled_from([10, 12, 16]),
    data=st.data(),
)
def test_y4m_high_depth_scaling_property(w, h, depth, data):
    import struct

    from simple_etl_spark.llm.multimodal import decode_video_frame

    ceil = (1 << depth) - 1
    luma = [data.draw(st.integers(0, ceil)) for _ in range(w * h)]
    body = struct.pack(f"<{w * h}H", *luma)
    # drive through a 444 frame with neutral chroma so the scaled
    # luma must appear on all channels
    mid = (ceil + 1) // 2
    frame = body + struct.pack(f"<{w * h}H", *([mid] * (w * h))) * 2
    _w, _h, _c, px = decode_video_frame(f"yuv444p{depth}", w, h, frame)
    half = ceil >> 1
    exp = [(v * 255 + half) // ceil for v in luma]
    assert all(
        px[i * 3] == px[i * 3 + 1] == px[i * 3 + 2] == exp[i]
        for i in range(w * h)
    )
