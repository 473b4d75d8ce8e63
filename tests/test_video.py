"""Video container tier: stdlib YUV4MPEG2 demux, planar per-frame
decode (BT.601 full-range matrix, high-bit-depth scaling), the loud
error for containers without a built-in demuxer, and the Spark
plumbing (video_features mapInPandas). Fixtures are byte-built, by
hand or by the engine's own encode_y4m synthesizer."""

from __future__ import annotations

import struct

import pytest

from simple_etl_spark.llm.multimodal import (
    decode_video_frame,
    demux_video,
    encode_y4m,
    video_features,
)


def test_y4m_mono_roundtrip():
    frames = [bytes(range(64)), bytes([200]) * 64, bytes([5]) * 64]
    v = demux_video(encode_y4m(8, 8, frames, (30, 1)))
    assert (v["container"], v["width"], v["height"]) == ("y4m", 8, 8)
    assert (v["fps_num"], v["fps_den"], v["frame_kind"]) == (30, 1, "gray")
    assert v["frames"] == frames
    assert decode_video_frame("gray", 8, 8, frames[0])[3] == frames[0]


def test_y4m_yuv420_matches_jpeg_matrix():
    """The raw-YUV frame decode uses the BT.601 full-range (JFIF)
    matrix with nearest-sample chroma upsampling: gray chroma (128)
    yields r=g=b=luma exactly."""
    w, h = 4, 2
    yp = bytes([0, 64, 128, 255, 10, 20, 200, 250])
    cp = bytes([128, 128])  # 2x1 chroma plane at 4:2:0
    hdr = b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n"
    payload = hdr + b"FRAME\n" + yp + cp + cp
    v = demux_video(payload)
    assert v["frame_kind"] == "yuv420"
    fw, fh, fc, px = decode_video_frame("yuv420", w, h, v["frames"][0])
    assert (fw, fh, fc) == (w, h, 3)
    assert all(px[i * 3] == px[i * 3 + 1] == px[i * 3 + 2] == yp[i]
               for i in range(w * h))


def test_y4m_yuv444_known_color():
    """Full-resolution chroma: one saturated pixel through the JFIF
    matrix (y=76, cb=84, cr=255 is ~pure red under BT.601)."""
    hdr = b"YUV4MPEG2 W1 H1 F25:1 Ip A1:1 C444\n"
    payload = hdr + b"FRAME\n" + bytes([76, 84, 255])
    v = demux_video(payload)
    _w, _h, _c, px = decode_video_frame("yuv444", 1, 1, v["frames"][0])
    r, g, b = px
    assert r == 254 and g < 35 and b < 10


def test_unknown_codec_and_malformed_fail_loud():
    with pytest.raises(NotImplementedError, match="AVI"):
        demux_video(b"RIFF\x10\x00\x00\x00AVI LIST")
    with pytest.raises(ValueError):
        demux_video(b"YUV4MPEG2 W4 H2 C420jpeg\nFRAME\n\x00")
    with pytest.raises(NotImplementedError, match="colorspace"):
        demux_video(b"YUV4MPEG2 W4 H2 C411\nFRAME\n")
    with pytest.raises(ValueError):
        demux_video(b"\x89PNG....")


def test_video_header_bomb_is_rejected():
    hdr = b"YUV4MPEG2 W60000 H60000 F25:1 Cmono\n"
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        demux_video(hdr)


def test_video_features_and_frames_spark(spark):
    frames = [bytes([10] * 64), bytes([20] * 64), bytes([60] * 64)]
    y4m = encode_y4m(8, 8, frames, (30, 1))
    avi = b"RIFF\x10\x00\x00\x00AVI LIST"  # no built-in demuxer
    df = spark.createDataFrame(
        [(1, bytearray(y4m)), (2, bytearray(avi)), (3, None),
         (4, bytearray(b"junk"))],
        "doc_id bigint, payload binary",
    )
    rows = {r["doc_id"]: r for r in video_features(df).collect()}
    assert rows[1]["container"] == "y4m" and rows[1]["n_frames"] == 3
    assert rows[1]["mean_px"] == (10 + 20 + 60) * 64 // 192
    # unsupported container, NULL payload and junk all yield NULL
    # features rather than failing the task
    for did in (2, 3, 4):
        assert rows[did]["container"] is None
        assert rows[did]["mean_px"] is None


def test_y4m_high_bit_depth_planar():
    """C420p10/C444p12-style tags (2-byte LE samples) decode through
    the exact 16-bit-PNG rounding rule into the 8-bit pipeline: a
    gray-chroma high-depth frame must reproduce the scaled luma on
    all three channels, and out-of-ceiling samples fail loud."""
    w, h = 4, 2
    luma10 = [0, 256, 512, 1023, 100, 200, 300, 1000]
    mid10 = [512] * 2  # 2x1 chroma at 4:2:0, 10-bit midpoint
    body = struct.pack("<8H", *luma10) + struct.pack("<2H", *mid10) * 2
    payload = (b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420p10\n"
               + b"FRAME\n" + body)
    v = demux_video(payload)
    assert v["frame_kind"] == "yuv420p10"
    fw, fh, fc, px = decode_video_frame("yuv420p10", w, h, v["frames"][0])
    assert (fw, fh, fc) == (w, h, 3)
    exp = [(x * 255 + 511) // 1023 for x in luma10]
    # the 10-bit midpoint 512 scales to exactly 128 — the 8-bit
    # matrix's neutral chroma — so r=g=b=scaled luma must hold
    assert all(
        px[i * 3] == px[i * 3 + 1] == px[i * 3 + 2] == exp[i]
        for i in range(w * h)
    )
    # 444p12 single pixel: 12-bit midpoint 2048 -> 128 as well
    body = struct.pack("<3H", 4095, 2048, 2048)
    payload = (b"YUV4MPEG2 W1 H1 F25:1 C444p12\n" + b"FRAME\n" + body)
    v = demux_video(payload)
    px = decode_video_frame("yuv444p12", 1, 1, v["frames"][0])[3]
    assert px == bytes([255, 255, 255])
    # out-of-ceiling sample fails loud
    bad = struct.pack("<8H", 1024, *luma10[1:]) \
        + struct.pack("<2H", *mid10) * 2
    with pytest.raises(ValueError, match="ceiling"):
        decode_video_frame("yuv420p10", w, h, bad)
    # unknown high-depth tag still gates
    with pytest.raises(NotImplementedError, match="colorspace"):
        demux_video(b"YUV4MPEG2 W4 H2 C420p9\nFRAME\n")


def test_y4m_high_bit_depth_odd_dims_fail_with_clear_error():
    """Odd dimensions under chroma subsampling must hit the same
    even-dimension guard the 8-bit tags do — a literal kind compare
    let C420p10/C422p12 odd-dims files through to a garbled
    frame-offset error (review r14)."""
    with pytest.raises(ValueError, match="must be even"):
        demux_video(b"YUV4MPEG2 W3 H2 F25:1 C420p10\nFRAME\n" + b"\x00" * 18)
    with pytest.raises(ValueError, match="must be even"):
        demux_video(b"YUV4MPEG2 W4 H3 F25:1 C420p16\nFRAME\n" + b"\x00" * 36)
    with pytest.raises(ValueError, match="must be even"):
        demux_video(b"YUV4MPEG2 W3 H1 F25:1 C422p12\nFRAME\n" + b"\x00" * 12)
    # odd dims stay fine where chroma is full-resolution
    body = struct.pack("<3H", 4095, 2048, 2048)
    v = demux_video(b"YUV4MPEG2 W1 H1 F25:1 C444p12\n" + b"FRAME\n" + body)
    assert v["width"] == 1 and v["height"] == 1
