"""Real numpy BMP/WAV codecs and the encode-decode feature kernel."""

import numpy as np
import pytest

from federated_gcn_spark.functions.codecs import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
)

def test_bmp_roundtrip_exact():
    # encoder → decoder is the identity on pixels, including non-multiple-
    # of-4 widths (row padding) — real byte-level parsing, no PIL
    rng = np.random.default_rng(3)
    for h, w in [(5, 7), (1, 1), (16, 16), (3, 10)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)


def test_bmp_rejects_garbage_and_truncation():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    payload = encode_bmp(px)
    with pytest.raises(ValueError):
        decode_bmp(b"notabmp")
    with pytest.raises(ValueError):
        decode_bmp(payload[: len(payload) // 2])


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(4)
    mono = rng.integers(-32768, 32767, size=1000, dtype=np.int16)
    rate, out = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(out[:, 0], mono)
    stereo = rng.integers(-32768, 32767, size=(500, 2), dtype=np.int16)
    rate, out = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and np.array_equal(out, stereo)


def test_encode_decode_features_numpy_parity_and_errors(spark):
    """encode_decode_features must equal a direct numpy computation on
    the generated values (round trip through REAL bytes is lossless) and
    isolate per-row failures (short vals array -> decoded_ok=0)."""
    from federated_gcn_spark.operators.multimodal import encode_decode_features

    rng = np.random.default_rng(11)
    img_vals = rng.integers(0, 256, size=192).tolist()
    aud_vals = rng.integers(0, 65536, size=128).tolist()
    gen = spark.createDataFrame(
        [
            (1, "image", img_vals),
            (2, "audio", aud_vals),
            (3, "image", [1, 2, 3]),  # cannot reshape -> per-row failure
        ],
        "media_id long, kind string, vals array<int>",
    )
    out = {r["media_id"]: r for r in encode_decode_features(gen).collect()}
    px = np.array(img_vals, dtype=np.int64).reshape(8, 8, 3)
    luma = px @ np.array([299, 587, 114])
    img_ref = luma.reshape(2, 4, 2, 4).sum(axis=(1, 3)).reshape(4)
    mono = np.array(aud_vals, dtype=np.int64) - 32768
    aud_ref = np.abs(mono).reshape(4, 32).sum(axis=1)
    assert [out[1][f"f{i}"] for i in range(4)] == img_ref.tolist()
    assert [out[2][f"f{i}"] for i in range(4)] == aud_ref.tolist()
    assert out[1]["decoded_ok"] == 1 and out[1]["n_payload_bytes"] == 246
    assert out[2]["decoded_ok"] == 1 and out[2]["n_payload_bytes"] == 300
    assert out[3]["decoded_ok"] == 0 and out[3]["n_payload_bytes"] == 0
    assert [out[3][f"f{i}"] for i in range(4)] == [0, 0, 0, 0]
