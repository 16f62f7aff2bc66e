"""Multimodal (image/audio) column operator (driver extension §2.10).

``encode_decode_features`` runs as an Arrow-batched ``mapInPandas`` with an
explicit output schema: each row is encoded to genuine media bytes and
decoded back with the dependency-free numpy codecs in functions/codecs.py
(24-bit BMP, PCM-16 WAV — magic-byte dispatch, per-row failure isolation).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def encode_decode_features(gen: DataFrame) -> DataFrame:
    """Value array → REAL media bytes → real decode → integer-exact
    pooled features.  Input ``gen``: (media_id LONG, kind STRING, vals
    ARRAY<INT>) where vals are pixel bytes (image: 8*8*3 values in
    0..255) or unsigned 16-bit sample codes (audio: 128 values in
    0..65535).

    The kernel ENCODEs each row into genuine on-disk bytes (24-bit BMP /
    PCM-16 WAV via functions/codecs.py), then DECODEs through the
    magic-byte dispatch — the same real-codec path production payloads
    take; nothing downstream sees the generated values, only decoded
    bytes.  Features are integer-exact so a SQL oracle can replay them
    with zero FP-association risk:

    - image: 4 luma-1000 block sums (299 R + 587 G + 114 B summed over
      each 4x4 quadrant of the decoded 8x8 RGB grid);
    - audio: 4 quarter-frame sums of \\|sample\\| over the decoded mono PCM.

    Output: (media_id, kind, decoded_ok INT, n_payload_bytes LONG,
    f0..f3 LONG).  Per-row failures emit decoded_ok = 0 and zeros, the
    standard per-row error contract.  Only (media_id, kind, vals) cross
    the Arrow boundary — bounded-width rows, batch-friendly.
    """
    from federated_gcn_spark.functions.codecs import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    _luma = np.array([299, 587, 114], dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "kind": [], "decoded_ok": [],
                "n_payload_bytes": [], "f0": [], "f1": [], "f2": [], "f3": [],
            }
            for mid, kind, vals in zip(
                pdf["media_id"], pdf["kind"], pdf["vals"]
            ):
                try:
                    v = np.asarray(list(vals), dtype=np.int64)
                    if kind == "image":
                        payload = encode_bmp(
                            v.astype(np.uint8).reshape(8, 8, 3)
                        )
                    else:
                        payload = encode_wav(
                            (v - 32768).astype(np.int16), 16000
                        )
                    # real decode via magic dispatch — the bytes, not the
                    # generator, are the source of truth from here on
                    if payload[:2] == b"BM":
                        luma = decode_bmp(payload).astype(np.int64) @ _luma
                        f = luma.reshape(2, 4, 2, 4).sum(axis=(1, 3)).reshape(4)
                    else:
                        _, samp = decode_wav(payload)
                        mono = samp[:, 0].astype(np.int64)
                        f = np.abs(mono).reshape(4, 32).sum(axis=1)
                    ok, n_bytes = 1, len(payload)
                except Exception:
                    f, ok, n_bytes = np.zeros(4, np.int64), 0, 0
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["decoded_ok"].append(ok)
                out["n_payload_bytes"].append(n_bytes)
                for c in range(4):
                    out[f"f{c}"].append(int(f[c]))
            yield pd.DataFrame(out)

    return gen.mapInPandas(
        run,
        schema=(
            "media_id long, kind string, decoded_ok int, "
            "n_payload_bytes long, f0 long, f1 long, f2 long, f3 long"
        ),
    )
