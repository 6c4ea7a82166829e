"""Stdlib codec round trip: _try_real_decode must parse spec-valid
PNG/WAV payloads exactly and keep the NotImplementedError boundary for
formats whose codecs are genuinely absent (video, non-grayscale PNG,
non-PCM WAV)."""

from __future__ import annotations

import numpy as np
import pytest

from spark_spotify.multimodal import (
    _png_encode,
    _try_real_decode,
    _wav_encode,
)


def test_png_round_trip():
    w, h = 7, 5
    pix = (np.arange(w * h, dtype=np.int64) * 7 + 4) % 251
    got = _try_real_decode(
        _png_encode(w, h, pix.astype(np.uint8).tobytes()), "image"
    )
    assert got == (w, h, int(pix.sum()))


def test_wav_round_trip():
    smp = ((13 + np.arange(40, dtype=np.int64) * 31) % 65536) - 32768
    got = _try_real_decode(_wav_encode(16000, smp), "audio")
    assert got == (16000, 40, int(smp.sum()))


def test_video_corrupt_rejected():
    # video is no longer categorically gated (MJPG + raw DIB decode
    # for real); a non-AVI payload is CORRUPT, not unsupported
    with pytest.raises(ValueError, match="AVI"):
        _try_real_decode(b"\x00" * 64, "video")


def test_corrupt_streams_rejected():
    with pytest.raises(ValueError, match="PNG"):
        _try_real_decode(b"JFIF" + b"\x00" * 64, "image")
    with pytest.raises(ValueError, match="RIFF"):
        _try_real_decode(b"OggS" + b"\x00" * 64, "audio")


def test_unsupported_profiles_gated():
    import io
    import wave

    # stereo WAV: PCM but not the mono profile the stdlib path decodes
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 8)
    with pytest.raises(NotImplementedError, match="mono"):
        _try_real_decode(buf.getvalue(), "audio")


def test_jpeg_flat_block_closed_form():
    """The real JPEG pair round-trips flat-per-block images to the
    exact closed form the oracle computes (DC-only quantization with
    the table's q00=16)."""
    import math

    import numpy as np

    from spark_spotify.multimodal import _jpeg_decode, _jpeg_encode

    for d in (0, 7, 123, 254, 999):
        w, h = (d % 3 + 1) * 8, (d % 2 + 1) * 8
        img = np.zeros((h, w), dtype=np.uint8)
        exp = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                v = (d * 5 + bx * 11 + by * 17) % 256
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
                fq = math.floor((v - 128) / 2.0 + 0.5)
                exp += 64 * min(255, max(0, 2 * fq + 128))
        dec = _jpeg_decode(_jpeg_encode(img))
        assert dec.shape == (h, w)
        assert int(dec.astype(np.int64).sum()) == exp


def test_jpeg_general_roundtrip_within_quantization():
    """A full random grayscale image survives encode/decode within a
    bound set by the quantization table (the general-machinery check:
    every AC run/size path, ZRL, EOB, byte stuffing, negative DC
    diffs)."""
    import numpy as np

    from spark_spotify.multimodal import _jpeg_decode, _jpeg_encode

    rng = np.random.RandomState(42)
    # smooth-ish random: random low-res upsampled, so quantization
    # error stays bounded while AC coefficients are dense
    base = rng.randint(0, 256, (4, 6)).astype(np.float64)
    img = np.clip(
        np.rint(np.kron(base, np.ones((8, 8)))), 0, 255
    ).astype(np.uint8)
    dec = _jpeg_decode(_jpeg_encode(img))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= 8, err
    # and a genuinely rough image still decodes losslessly enough to
    # keep the stream well-formed (no assertion on error bound beyond
    # sanity; the decode itself exercising the huffman paths is the
    # point)
    rough = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    dec2 = _jpeg_decode(_jpeg_encode(rough))
    assert dec2.shape == rough.shape


def test_avi_roundtrip_and_malformed():
    """The AVI writer/demuxer pair round-trips exactly (lossless raw
    frames), and the demuxer rejects truncated/mislabeled streams."""
    import numpy as np
    import pytest

    from spark_spotify.multimodal import _avi_demux, _avi_encode

    rng = np.random.RandomState(7)
    frames = [
        rng.randint(0, 256, (5, 7, 3)).astype(np.uint8) for _ in range(3)
    ]
    w, h, got = _avi_demux(_avi_encode(7, 5, frames))
    assert (w, h) == (7, 5)
    assert [f for f, _ in got] == [0, 1, 2]
    for (_, fr), exp in zip(got, frames):
        assert np.array_equal(fr, exp)
    with pytest.raises(ValueError):
        _avi_demux(b"RIFF\x04\x00\x00\x00WAVE")


def test_jpeg_property_flat_blocks_closed_form():
    """Property: ANY flat-per-block image round-trips to the DC-only
    closed form — across the full gray range and several geometries."""
    import math

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_spotify.multimodal import _jpeg_decode, _jpeg_encode

    @settings(max_examples=25, deadline=None)
    @given(
        nbx=st.integers(1, 4),
        nby=st.integers(1, 3),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(nbx: int, nby: int, seed: int) -> None:
        rng = np.random.RandomState(seed)
        vals = rng.randint(0, 256, (nby, nbx))
        img = np.kron(vals, np.ones((8, 8))).astype(np.uint8)
        dec = _jpeg_decode(_jpeg_encode(img))
        exp = sum(
            64
            * min(
                255,
                max(0, 2 * math.floor((int(v) - 128) / 2.0 + 0.5) + 128),
            )
            for v in vals.flat
        )
        assert int(dec.astype(np.int64).sum()) == exp

    prop()


def test_avi_property_lossless():
    """Property: the AVI pair is lossless for any frame stack whose
    dims force every stride-padding case (w*3 mod 4 in all classes)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_spotify.multimodal import _avi_demux, _avi_encode

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 6),
        n=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(w: int, h: int, n: int, seed: int) -> None:
        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            for _ in range(n)
        ]
        gw, gh, got = _avi_demux(_avi_encode(w, h, frames))
        assert (gw, gh, len(got)) == (w, h, n)
        for (_, fr), exp in zip(got, frames):
            assert fr.shape == (h, w, 3)
            assert np.array_equal(fr, exp)

    prop()


def test_avi_stream_header_is_56_bytes():
    """AVISTREAMHEADER must be exactly 56 bytes with the frame count in
    dwLength (slot 8), not dwStart — a strict external player parses
    strh even though the in-repo demuxer does not (ADVICE r9)."""
    import struct

    import numpy as np

    from spark_spotify.multimodal import _avi_encode

    n = 3
    data = _avi_encode(5, 4, [np.zeros((4, 5, 3), dtype=np.uint8)] * n)
    i = data.index(b"strh")
    ln = struct.unpack("<I", data[i + 4 : i + 8])[0]
    assert ln == 56
    body = data[i + 8 : i + 8 + ln]
    assert body[:8] == b"vids" + b"DIB "
    fields = struct.unpack("<IHHIIIIIIII", body[8:48])
    scale, rate, start, length = fields[4], fields[5], fields[6], fields[7]
    assert (scale, rate, start, length) == (1, 25, 0, n)


def test_mjpeg_avi_roundtrip_with_stride_pushdown():
    """MJPG AVI: JPEG frames mux into '00dc' chunks with biCompression
    'MJPG'; the demuxer decodes only stride-sampled frames (frame
    independence is what makes the pushdown legal) and the decoded
    flat-block content matches the DC-quantization closed form."""
    import math
    import struct

    import numpy as np

    from spark_spotify.multimodal import (
        _avi_demux,
        _avi_encode,
        _jpeg_encode,
    )

    w, h, n = 16, 8, 7
    blobs, exp = [], {}
    for f in range(n):
        img = np.zeros((h, w), dtype=np.uint8)
        s = 0
        for bx in range(w // 8):
            v = (f * 9 + bx * 11) % 256
            img[:, bx * 8 : bx * 8 + 8] = v
            s += 64 * min(
                255, max(0, 2 * math.floor((v - 128) / 2.0 + 0.5) + 128)
            )
        blobs.append(_jpeg_encode(img))
        exp[f] = s
    avi = _avi_encode(w, h, blobs, codec="MJPG")
    # container declares the MJPG fourcc in strf biCompression
    i = avi.index(b"strf")
    assert avi[i + 8 + 16 : i + 8 + 20] == b"MJPG"
    gw, gh, sampled = _avi_demux(avi, stride=3)
    assert (gw, gh) == (w, h)
    assert [f for f, _ in sampled] == [0, 3, 6]
    for f, fr in sampled:
        assert int(fr.astype(np.int64).sum()) == exp[f]
    # full decode sees every frame
    assert len(_avi_demux(avi)[2]) == n


def test_video_codec_routing():
    """_try_real_decode('video'): MJPG AVIs entropy-decode, raw DIB
    AVIs decode as raw frames, and a foreign compressed fourcc still
    raises (the inter-frame boundary)."""
    import struct

    import numpy as np
    import pytest

    from spark_spotify.multimodal import (
        _avi_encode,
        _jpeg_encode,
        _try_real_decode,
    )

    img = np.full((8, 8), 200, dtype=np.uint8)
    mj = _avi_encode(8, 8, [_jpeg_encode(img)] * 2, codec="MJPG")
    w, h, total = _try_real_decode(mj, "video")
    assert (w, h) == (8, 8)
    assert total == 2 * 64 * 200  # 200 is even: DC quantizes exactly

    raw = _avi_encode(
        2, 2, [np.ones((2, 2, 3), dtype=np.uint8)], codec="DIB"
    )
    assert _try_real_decode(raw, "video") == (2, 2, 12)

    h264 = bytearray(raw)
    i = h264.index(b"strf")
    h264[i + 8 + 16 : i + 8 + 20] = b"avc1"
    with pytest.raises(NotImplementedError):
        _try_real_decode(bytes(h264), "video")


def test_per_row_with_no_output_rows_keeps_the_schema(spark):
    """A per-row stage that emits nothing for every input row returns 0
    rows typed exactly as declared: ``payload_phash`` skips payloads
    under 64 bytes, and the empty pandas frame it builds still carries
    the declared columns through Arrow."""
    from spark_spotify.multimodal import PHASH_SCHEMA, payload_phash

    media = spark.createDataFrame(
        [(1, "image", b"short"), (2, "audio", b"")],
        "doc_id bigint, media_type string, payload binary",
    )
    out = payload_phash(media)
    assert out.collect() == []
    assert out.schema == spark.createDataFrame([], PHASH_SCHEMA).schema
