"""WAV/PCM audio decode — the audio leg of the multimodal tier.

Fixtures are built byte-by-byte (no audio library exists here), and
features are verified against NumPy computations on the same sample
values, plus closed-form expectations for synthetic tones.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from simple_etl_spark.llm.multimodal import audio_features, decode_audio


def make_wav(samples, rate, channels, bits, extra_chunk=False):
    """Interleaved SIGNED sample ints -> RIFF/WAVE bytes."""
    if bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    else:
        data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST metadata chunk with odd length (pad byte)
        meta = b"INFOx"
        chunks += b"LIST" + struct.pack("<I", len(meta)) + meta + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_16bit_stereo_roundtrip():
    samples = [0, 1000, -1000, 32767, -32768, 5, -5, 128]
    rate, ch, bits, got = decode_audio(make_wav(samples, 44100, 2, 16))
    assert (rate, ch, bits) == (44100, 2, 16)
    assert list(got) == samples


def test_wav_8bit_mono_recentered():
    samples = [-128, -1, 0, 1, 127]
    rate, ch, bits, got = decode_audio(make_wav(samples, 8000, 1, 8))
    assert (rate, ch, bits) == (8000, 1, 8)
    assert list(got) == samples


def test_wav_extra_chunks_and_odd_padding_skipped():
    samples = [7, -7, 7, -7]
    payload = make_wav(samples, 16000, 1, 16, extra_chunk=True)
    assert list(decode_audio(payload)[3]) == samples


def test_wav_sine_tone_peak_matches_numpy():
    rate, n, amp = 16000, 1600, 20000
    samples = [int(round(amp * math.sin(2 * math.pi * 440 * i / rate)))
               for i in range(n)]
    _, _, _, got = decode_audio(make_wav(samples, rate, 1, 16))
    arr = np.abs(np.array(got))
    assert arr.max() == max(abs(s) for s in samples)
    assert int(arr.sum()) // n == sum(abs(s) for s in samples) // n


@pytest.mark.parametrize("junk", [
    b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAVE",       # no chunks
    b"RIFF\x00\x00\x00\x00WAVEdata\x04\x00\x00\x00abcd",  # no fmt
])
def test_malformed_wav_raises_value_error(junk):
    with pytest.raises(ValueError):
        decode_audio(junk)


def test_wav_codec_gates():
    good = bytearray(make_wav([0, 1], 8000, 1, 16))
    fmt_at = good.index(b"fmt ") + 8
    ieee16 = bytearray(good)
    struct.pack_into("<H", ieee16, fmt_at, 3)  # IEEE float, 16-bit: bogus
    with pytest.raises(ValueError, match="IEEE-float WAV bit depth"):
        decode_audio(bytes(ieee16))
    for code in (2, 6, 7, 0x11):  # MS ADPCM, A-law, mu-law, IMA ADPCM
        compressed = bytearray(good)
        struct.pack_into("<H", compressed, fmt_at, code)
        with pytest.raises(NotImplementedError, match=f"format {code}"):
            decode_audio(bytes(compressed))
    mp3 = bytearray(good)
    struct.pack_into("<H", mp3, fmt_at, 0x55)  # MPEG Layer 3: gated
    with pytest.raises(NotImplementedError):
        decode_audio(bytes(mp3))
    f32 = bytearray(good)
    struct.pack_into("<H", f32, fmt_at + 14, 32)  # 32-bit PCM
    with pytest.raises(NotImplementedError):
        decode_audio(bytes(f32))


def test_wav_ragged_data_raises():
    good = make_wav([0, 1, 2, 3], 8000, 2, 16)
    # chop one byte off the data chunk AND fix its declared length
    bad = bytearray(good[:-1])
    data_at = bytes(bad).index(b"data") + 4
    struct.pack_into("<I", bad, data_at, 7)  # 7 bytes: not whole samples
    with pytest.raises(ValueError):
        decode_audio(bytes(bad))


def test_audio_features_spark_path(spark):
    tone = [int(round(10000 * math.sin(2 * math.pi * i / 50)))
            for i in range(16000)]  # 1 s @ 16 kHz mono
    wav = make_wav(tone, 16000, 1, 16)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not audio")), (3, None),
         (4, bytearray(b"FORM\x00\x00\x00\x04AIFF"))],
        "doc_id bigint, payload binary",
    )
    rows = {r["doc_id"]: r for r in audio_features(df).collect()}
    r = rows[1]
    assert (r["sample_rate"], r["channels"], r["n_frames"],
            r["duration_ms"]) == (16000, 1, 16000, 1000)
    assert r["peak_abs"] == max(abs(s) for s in tone)
    assert r["mean_abs"] == sum(abs(s) for s in tone) // len(tone)
    assert rows[2]["sample_rate"] is None  # junk -> NULL, not task death
    assert rows[3]["sample_rate"] is None  # NULL payload is data
    assert rows[4]["sample_rate"] is None  # AIFF: no built-in decoder


def test_encode_wav_roundtrips_through_decode():
    from simple_etl_spark.llm.multimodal import encode_wav

    ranges = {8: (-128, 127), 16: (-32768, 32767), 24: (-8388608, 8388607)}
    for bits in (8, 16, 24):
        lo, hi = ranges[bits]
        samples = [0, 1, -1, hi, lo]
        rate, ch, b, got = decode_audio(encode_wav(samples, 22050, 1, bits))
        assert (rate, ch, b, list(got)) == (22050, 1, bits, samples)
    # empty payload round-trips to zero frames
    rate, ch, b, got = decode_audio(encode_wav([], 8000, 1, 8))
    assert list(got) == []


def test_encode_wav_rejects_out_of_range_and_pads_odd_chunks():
    from simple_etl_spark.llm.multimodal import encode_wav

    with pytest.raises(ValueError, match="range"):
        encode_wav([200], 8000, 1, 8)
    with pytest.raises(ValueError, match="range"):
        encode_wav([40000], 8000, 1, 16)
    # odd-length data chunk gets its RIFF pad byte and still decodes
    wav = encode_wav([1, 2, 3], 8000, 1, 8)
    assert len(wav) % 2 == 0
    assert list(decode_audio(wav)[3]) == [1, 2, 3]


def test_duplicate_chunks_rejected():
    wav = make_wav([0, 1], 8000, 1, 16)
    data_chunk = wav[wav.index(b"data"):]
    with pytest.raises(ValueError, match="more than one"):
        decode_audio(wav + data_chunk)


def make_wav24(samples, rate, channels):
    """Interleaved signed ints -> 24-bit PCM RIFF/WAVE bytes."""
    data = b"".join(s.to_bytes(3, "little", signed=True) for s in samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate,
        rate * channels * 3, channels * 3, 24,
    )
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data
              + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_24bit_sign_extension_and_extremes():
    samples = [0, 1, -1, 8388607, -8388608, 65536, -65536, 0x7FFFFF - 1]
    rate, ch, bits, got = decode_audio(make_wav24(samples, 48000, 2))
    assert (rate, ch, bits) == (48000, 2, 24)
    assert list(got) == samples


def test_wav_24bit_ragged_frames_raise():
    wav = bytearray(make_wav24([1, 2, 3], 48000, 1))
    data_at = bytes(wav).index(b"data") + 4
    struct.pack_into("<I", wav, data_at, 8)  # 8 bytes: not whole samples
    with pytest.raises(ValueError, match="whole number of samples"):
        decode_audio(bytes(wav))


def test_decode_audio_returns_compact_arrays():
    """Samples come back as stdlib array (1/2/4 bytes each), not a
    list of boxed ints — the memory-amplification fix (ADVICE r9):
    a ~128 MB hostile WAV must not expand to GBs of int objects."""
    from array import array

    for bits, code in ((8, "b"), (16, "h")):
        got = decode_audio(make_wav([3, -3], 8000, 1, bits))[3]
        assert isinstance(got, array) and got.typecode == code
    got = decode_audio(make_wav24([3, -3], 8000, 1))[3]
    assert isinstance(got, array) and got.typecode == "i"


def test_encode_wav_validates_layout_up_front():
    from simple_etl_spark.llm.multimodal import encode_wav

    with pytest.raises(ValueError, match="bad WAV layout"):
        encode_wav([0], 0, 1, 8)
    with pytest.raises(ValueError, match="bad WAV layout"):
        encode_wav([0], 8000, 0, 8)
    with pytest.raises(ValueError, match="whole number"):
        encode_wav([0, 1, 2], 8000, 2, 16)  # 3 samples, 2 channels
    with pytest.raises(ValueError, match="8/16/24-bit"):
        encode_wav([0], 8000, 1, 32)
    with pytest.raises(ValueError, match="range"):
        encode_wav([8388608], 8000, 1, 24)


def make_wav_float(samples, rate, channels, bits=32):
    """Float samples -> IEEE-float (format 3) RIFF/WAVE bytes."""
    code = "f" if bits == 32 else "d"
    data = struct.pack(f"<{len(samples)}{code}", *samples)
    fmt = struct.pack(
        "<HHIIHH", 3, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@pytest.mark.parametrize("bits", [32, 64])
def test_wav_ieee_float_quantizes_deterministically(bits):
    """Format-3 WAV decodes via stdlib struct; samples land in the
    signed-16-bit domain via round-half-even x 32767 with clamping
    (1.0 -> 32767, 0.5 -> 16384 by banker's rounding of 16383.5,
    out-of-range clamps, float32 widening is exact)."""
    vals = [0.0, 1.0, -1.0, 0.5, -0.5, 1.5, -2.0]
    rate, ch, b, got = decode_audio(
        make_wav_float(vals, 48000, 1, bits=bits))
    assert (rate, ch, b) == (48000, 1, bits)
    assert list(got) == [0, 32767, -32767, 16384, -16384, 32767, -32768]
    from array import array
    assert isinstance(got, array) and got.typecode == "h"


def test_wav_ieee_float_nonfinite_raises():
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            decode_audio(make_wav_float([0.0, bad], 8000, 2))


def test_audio_features_ieee_float_spark_path(spark):
    import math

    tone = [math.sin(2 * math.pi * i / 50) for i in range(800)]
    ints = [min(32767, max(-32768, round(v * 32767.0))) for v in tone]
    wav = make_wav_float(tone, 8000, 1)
    df = spark.createDataFrame(
        [(1, bytearray(wav))], "doc_id bigint, payload binary",
    )
    r = audio_features(df).collect()[0]
    assert (r["sample_rate"], r["channels"], r["n_frames"],
            r["duration_ms"]) == (8000, 1, 800, 100)
    assert r["peak_abs"] == max(abs(v) for v in ints)
    assert r["mean_abs"] == sum(abs(v) for v in ints) // len(ints)


def make_wav_fmt(fmt_payload, data):
    chunks = (b"fmt " + struct.pack("<I", len(fmt_payload)) + fmt_payload
              + b"data" + struct.pack("<I", len(data)) + data
              + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _extensible_fmt(code, channels, rate, bits):
    guid_tail = bytes([0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00, 0xAA,
                       0x00, 0x38, 0x9B, 0x71])
    return struct.pack(
        "<HHIIHH", 0xFFFE, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    ) + struct.pack("<HHI", 22, bits, (1 << channels) - 1) \
      + struct.pack("<HH", code, 0) + guid_tail


def test_extensible_wav_unwraps_to_pcm_and_float():
    samples = [0, 1000, -1000, 32767, -32768, 7]
    data = struct.pack("<6h", *samples)
    wav = make_wav_fmt(_extensible_fmt(1, 2, 44100, 16), data)
    rate, ch, bits, got = decode_audio(wav)
    assert (rate, ch, bits, list(got)) == (44100, 2, 16, samples)

    vals = [0.0, 0.5, -1.0]
    fwav = make_wav_fmt(_extensible_fmt(3, 1, 48000, 32),
                        struct.pack("<3f", *vals))
    rate, ch, bits, got = decode_audio(fwav)
    assert (rate, ch, bits, list(got)) == (48000, 1, 32, [0, 16384, -32767])


def test_extensible_wav_bad_guid_and_short_fmt_raise():
    fmt = bytearray(_extensible_fmt(1, 1, 8000, 16))
    fmt[-1] ^= 0x01  # corrupt the GUID tail
    with pytest.raises(NotImplementedError, match="SubFormat"):
        decode_audio(make_wav_fmt(bytes(fmt), b"\x00\x00"))
    short = _extensible_fmt(1, 1, 8000, 16)[:20]
    with pytest.raises(ValueError, match="too short|extension"):
        decode_audio(make_wav_fmt(short, b"\x00\x00"))
    # an EXTENSIBLE wrapper around a compressed SubFormat hits the
    # same codec gate as the bare format code
    with pytest.raises(NotImplementedError, match="format 7"):
        decode_audio(make_wav_fmt(_extensible_fmt(7, 1, 8000, 8), b"\x00"))


def test_ieee_float_huge_finite_saturates_not_crashes():
    """A finite-but-huge float64 sample must saturate like any other
    out-of-range value, not overflow to inf inside the quantizer and
    escape the ValueError contract as OverflowError (review r10,
    reproduced): one hostile payload would kill the whole Arrow batch
    instead of yielding NULL features."""
    _, _, _, got = decode_audio(
        make_wav_float([1e308, -1e308, 0.25], 8000, 1, bits=64))
    assert list(got) == [32767, -32768, 8192]
