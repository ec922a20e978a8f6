"""Deterministic synthetic video-clip (multi-frame GIF) table — the video
face of ``sources/audio.py``.

Schema: ``video_id:string, bytes:binary, w:int, h:int, n_frames:int,
part:string`` — real GIF87a payloads from the pure-Python encoder
(functions/containers.py), with seeded violation-family injection so the
GIF header rules (``operators.multimodal.gif_header_check``) and the
frame-decode path (``extract_frames`` with the default GIF hook) are
exercised on real container bytes. Row i derives from
``default_rng(seed * 1_000_003 + i)`` alone (the images.py determinism
contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from xmlschema_spark.functions.containers import encode_gif

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("part", T.StringType(), True),
    ]
)

_COLUMNS = [f.name for f in VIDEO_SCHEMA.fields]

_FAMILIES = (
    "null", "short", "bad_magic", "truncated",
    "dims_mismatch", "corrupt_lzw", "frames_mismatch",
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
    w = int(r.integers(6, 17))
    h = int(r.integers(6, 17))
    n_frames = int(r.integers(1, 5))
    frames = [
        r.integers(0, 256, (h, w, 3)).astype(np.uint8) for _ in range(n_frames)
    ]
    data = encode_gif(frames)
    video_id = f"vid_{r.integers(0, 2**63):016x}"[:20]

    if fam == "null":
        data = None
    elif fam == "short":
        data = data[:8]  # below the 13-byte header
    elif fam == "bad_magic":
        data = b"RIFF" + data[4:]  # foreign container
    elif fam == "truncated":
        data = data[:-1]  # trailer byte gone: mid-stream truncation
    elif fam == "dims_mismatch":
        w += 3  # declared width disagrees with the logical screen
    elif fam == "corrupt_lzw":
        # header + trailer intact, LZW payload damaged: invisible to the
        # zero-decode header rules BY DESIGN, caught by the decode pass.
        # Deterministic: cut the first frame's stream 10 bytes into its
        # first sub-block (whose length byte still claims the full
        # sub-block) and close the file with a valid 0x3B trailer — a
        # naive mid-file bit-flip usually lands in the 768-byte global
        # color table and decodes silently with wrong colors.
        cut = 13 + 768 + 10 + 1 + 1 + 10  # LSD+GCT, img desc, min-code, len, 10 data bytes
        data = data[:cut] + b"\x3b"
    elif fam == "frames_mismatch":
        n_frames += 1  # declared frame count disagrees with the container

    return (video_id, data, w, h, n_frames, part)


def _collect_fracs(
    null_frac=0.0, short_frac=0.0, bad_magic_frac=0.0, truncated_frac=0.0,
    dims_mismatch_frac=0.0, corrupt_lzw_frac=0.0, frames_mismatch_frac=0.0,
) -> dict[str, float]:
    return {
        "null": null_frac, "short": short_frac, "bad_magic": bad_magic_frac,
        "truncated": truncated_frac, "dims_mismatch": dims_mismatch_frac,
        "corrupt_lzw": corrupt_lzw_frac, "frames_mismatch": frames_mismatch_frac,
    }


def generate_video_pdf(n: int, seed: int = 42, n_parts: int = 8, **fracs) -> pd.DataFrame:
    """Driver-side pandas generation (pytest tables + the committed
    fixture)."""
    bounds = _family_bounds(n, _collect_fracs(**fracs))
    rows = [_make_row(i, seed, _family_of(i, bounds), n_parts) for i in range(n)]
    return pd.DataFrame(rows, columns=_COLUMNS)
