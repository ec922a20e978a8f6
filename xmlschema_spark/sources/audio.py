"""Deterministic synthetic audio-clip table (the audio face of
``sources/images.py``).

Schema: ``audio_id:string, bytes:binary, sample_rate:int, channels:int,
bits:int, n_samples:bigint, part:string`` — real RIFF/WAVE PCM payloads
from the pure-Python encoder (functions/containers.py), with seeded
violation-family injection so the WAV header rules
(``operators.multimodal.wav_header_check``) and the decode path
(``audio_features`` with the default WAV hook) are exercised on real
container bytes. No external data; row i derives from
``default_rng(seed * 1_000_003 + i)`` alone, so determinism is
independent of partitioning (the images.py contract).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from xmlschema_spark.functions.containers import encode_wav

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("part", T.StringType(), True),
    ]
)

_COLUMNS = [f.name for f in AUDIO_SCHEMA.fields]

_RATES = (8000, 16000, 22050)

_FAMILIES = (
    "null", "short", "truncated", "bad_magic", "nonpcm", "layout",
    "rate_mismatch", "channels_mismatch", "bits_mismatch", "nsamples_mismatch",
)


def _family_bounds(n: int, fracs: dict[str, float]) -> list[tuple[str, int, int]]:
    bounds = []
    cursor = 0
    for fam in _FAMILIES:
        cnt = int(n * fracs.get(fam, 0.0))
        bounds.append((fam, cursor, min(cursor + cnt, n)))
        cursor += cnt
    return bounds


def _family_of(i: int, bounds: list[tuple[str, int, int]]) -> str | None:
    for fam, lo, hi in bounds:
        if lo <= i < hi:
            return fam
    return None


def _make_row(i: int, seed: int, fam: str | None, n_parts: int) -> tuple:
    r = np.random.default_rng(seed * 1_000_003 + i)
    part = f"p{i % n_parts:02d}"
    rate = int(_RATES[int(r.integers(0, len(_RATES)))])
    channels = int(r.integers(1, 3))
    bits = 16 if r.integers(0, 2) else 8
    n = int(r.integers(200, 1001))
    freq = float(r.uniform(100, 1000))
    amp = float(r.uniform(0.2, 0.9))
    t = np.arange(n) / rate
    samples = amp * np.sin(2 * np.pi * freq * t) + r.normal(0, 0.01, n)
    data = encode_wav(np.clip(samples, -1, 1), rate, channels=channels, bits=bits)
    audio_id = f"aud_{r.integers(0, 2**63):016x}"[:20]

    if fam == "null":
        data = None
    elif fam == "short":
        data = data[:20]  # below the 44-byte canonical header
    elif fam == "truncated":
        data = data[: 44 + (len(data) - 44) // 2]  # header intact, data cut
    elif fam == "bad_magic":
        data = b"OggS" + data[4:]  # foreign container
    elif fam == "nonpcm":
        # patch the fmt-chunk audio-format word (offset 20) to 3 = IEEE float
        data = data[:20] + struct.pack("<H", 3) + data[22:]
    elif fam == "layout":
        # splice a LIST/INFO chunk between fmt and data: still a VALID
        # RIFF/WAVE (the chunk-walk decoder reads it fine) but not the
        # canonical 44-byte-header layout the fast JVM path owns
        info = b"INFOcmt " + struct.pack("<I", 4) + b"ok!\x00"
        extra = b"LIST" + struct.pack("<I", len(info)) + info
        data = (
            data[:4]
            + struct.pack("<I", struct.unpack("<I", data[4:8])[0] + len(extra))
            + data[8:36] + extra + data[36:]
        )
    elif fam == "rate_mismatch":
        rate += 1000  # declared metadata disagrees with the header word
    elif fam == "channels_mismatch":
        channels += 1
    elif fam == "bits_mismatch":
        bits = 24 - bits  # 16 <-> 8
    elif fam == "nsamples_mismatch":
        n += 7

    return (audio_id, data, rate, channels, bits, n, part)


def _collect_fracs(
    null_frac=0.0, short_frac=0.0, truncated_frac=0.0, bad_magic_frac=0.0,
    nonpcm_frac=0.0, layout_frac=0.0, rate_mismatch_frac=0.0,
    channels_mismatch_frac=0.0, bits_mismatch_frac=0.0,
    nsamples_mismatch_frac=0.0,
) -> dict[str, float]:
    return {
        "null": null_frac, "short": short_frac, "truncated": truncated_frac,
        "bad_magic": bad_magic_frac, "nonpcm": nonpcm_frac,
        "layout": layout_frac, "rate_mismatch": rate_mismatch_frac,
        "channels_mismatch": channels_mismatch_frac,
        "bits_mismatch": bits_mismatch_frac,
        "nsamples_mismatch": nsamples_mismatch_frac,
    }


def generate_audio_pdf(n: int, seed: int = 42, n_parts: int = 8, **fracs) -> pd.DataFrame:
    """Driver-side pandas generation (pytest tables + the committed
    fixture)."""
    bounds = _family_bounds(n, _collect_fracs(**fracs))
    rows = [
        _make_row(i, seed, _family_of(i, bounds), n_parts) for i in range(n)
    ]
    return pd.DataFrame(rows, columns=_COLUMNS)
