"""Golden-byte tests for the pure-NumPy media codecs (kernels.codecs, T12).

Byte layouts asserted against the public BMP/RIFF specs by hand, not against
the encoder — a 1x1 red BMP and a 2-sample WAV are written out field by
field, so encode and decode are each checked against the format, then
against each other (round-trip), then through the Spark pipeline.
"""

import struct

import numpy as np
import pytest

from imposm2_spark.kernels import codecs

pytestmark = pytest.mark.spark


def test_bmp_1x1_golden_bytes():
    px = np.array([[[255, 0, 0]]], dtype=np.uint8)  # one red pixel
    b = codecs.encode_bmp(px)
    # hand-built per the BMP spec: 54-byte header + one 4-byte-padded BGR row
    expected = (
        b"BM" + struct.pack("<IHHI", 54 + 4, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835, 0, 0)
        + bytes([0, 0, 255, 0])  # BGR + 1 pad byte
    )
    assert b == expected
    assert np.array_equal(codecs.decode_bmp(expected), px)


def test_bmp_roundtrip_padding_and_orientation():
    # width 3 -> row 9 bytes padded to 12; asymmetric content catches
    # bottom-up/BGR mistakes
    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    out = codecs.decode_bmp(codecs.encode_bmp(px))
    assert np.array_equal(out, px)


def test_bmp_rejects_unsupported():
    with pytest.raises(ValueError):
        codecs.decode_bmp(b"PNG whatever")
    px = np.zeros((1, 1, 3), dtype=np.uint8)
    b = bytearray(codecs.encode_bmp(px))
    b[28] = 8  # bpp=8
    with pytest.raises(ValueError):
        codecs.decode_bmp(bytes(b))


def test_wav_2sample_golden_bytes():
    s = np.array([1, -2], dtype=np.int16)
    b = codecs.encode_wav(s, rate=8000)
    expected = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 12) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 4) + struct.pack("<hh", 1, -2)
    )
    assert b == expected
    out = codecs.decode_wav(expected)
    assert np.allclose(out, np.array([1, -2]) / 32768.0)


def test_wav_rejects_unsupported():
    with pytest.raises(ValueError):
        codecs.decode_wav(b"OggS")
    s = np.zeros(4, dtype=np.int16)
    b = bytearray(codecs.encode_wav(s))
    b[22] = 2  # channels=2
    with pytest.raises(ValueError):
        codecs.decode_wav(bytes(b))


def test_image_features_known_values():
    # solid mid-gray image: means=0.5, stds=0, all luminance in bucket 5
    px = np.full((4, 4, 3), 128, dtype=np.uint8)
    f = codecs.image_features(px)
    assert f.shape == (16,)
    assert np.allclose(f[:3], 128 / 255)
    assert np.allclose(f[3:6], 0.0)
    assert f[6 + 5] == 1.0 and f[6:].sum() == 1.0


def test_audio_features_known_values():
    # alternating +/- half-scale square wave
    s = np.tile([0.5, -0.5], 8)
    f = codecs.audio_features(s)
    assert f.shape == (16,)
    assert abs(f[0]) < 1e-12  # mean
    assert abs(f[1] - 0.5) < 1e-12  # std
    assert abs(f[2] - 0.5) < 1e-12  # rms
    assert abs(f[3] - 1.0) < 1e-12  # zcr: flips every sample
    assert f[4 + 6] == 1.0  # |0.5| lands in bucket 6 of 12


def test_media_features_end_to_end(spark):
    """synth_media emits REAL bmp/wav payloads; media_features decodes them
    and the features match a driver-side recompute from the same text."""
    from imposm2_spark.functions.multimodal import (
        media_features,
        media_pixels_from_text,
        media_samples_from_text,
        synth_media,
    )

    docs = spark.createDataFrame(
        [(i, f"doc text {i} lorem ipsum") for i in range(9)],
        "doc_id long, text string",
    )
    feats = {r.media_id: r for r in media_features(synth_media(docs)).collect()}
    assert len(feats) == 9
    for i in range(9):
        tb = f"doc text {i} lorem ipsum".encode()
        w, h = (i % 7 + 1) * 8, (i % 5 + 1) * 8
        if i % 3 == 0:
            expected = codecs.image_features(media_pixels_from_text(tb, w, h))
            assert feats[i].kind == "image"
        elif i % 3 == 1:
            expected = codecs.audio_features(
                media_samples_from_text(tb).astype(np.float64) / 32768.0
            )
            assert feats[i].kind == "audio"
        else:
            continue
        assert np.allclose(np.array(feats[i].features), expected)


def test_media_features_corrupt_payload_falls_back(spark):
    """A corrupt/truncated payload tagged with a REAL codec must not kill the
    stage: the row falls back to the byte histogram with decode_ok=False,
    healthy rows keep decode_ok=True."""
    from imposm2_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _byte_histogram,
        media_features,
        synth_media,
    )

    docs = spark.createDataFrame([(0, "healthy row text")], "doc_id long, text string")
    good = synth_media(docs)
    bad_rows = [
        (100, b"BMfar-too-short", {"kind": "image", "width": 8, "height": 8,
                                   "codec": "bmp", "n_bytes": 15}),
        (101, b"RIFF\x00\x00\x00\x00WAVEfmt \x02\x00\x00\x00\x01\x00",
         {"kind": "audio", "width": 0, "height": 0, "codec": "wav", "n_bytes": 24}),
        (102, None, {"kind": "image", "width": 8, "height": 8,
                     "codec": "bmp", "n_bytes": 0}),
    ]
    bad = spark.createDataFrame(bad_rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in media_features(good.unionByName(bad)).collect()}
    assert feats[0].decode_ok is True
    for mid, payload in ((100, b"BMfar-too-short"),
                         (101, b"RIFF\x00\x00\x00\x00WAVEfmt \x02\x00\x00\x00\x01\x00"),
                         (102, b"")):
        assert feats[mid].decode_ok is False
        assert np.allclose(feats[mid].features, _byte_histogram(payload))


def test_media_features_null_meta_falls_back(spark):
    """Review r5: a NULL meta struct (dirty external media table) must take
    the byte-histogram fallback with decode_ok=False and null kind/n_bytes
    — not TypeError the whole stage. A NULL payload reads as an empty one."""
    from imposm2_spark.functions.multimodal import media_features

    rows = [
        (1, b"\x00\x01\x02\x03", ("bmp", "image", 4)),
        (2, b"\x00\x01", None),
        (3, None, ("bmp", "image", 0)),  # NULL payload: an empty one
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<codec string, kind string, n_bytes long>",
    )
    feats = {r.media_id: r for r in media_features(df).collect()}
    assert feats[2].decode_ok is False
    assert feats[2].kind is None and feats[2].n_bytes is None
    assert len(feats[2].features) == 16
    assert feats[3].decode_ok is False and feats[3].kind == "image"
    assert feats[3].features == [0.0] * 16
