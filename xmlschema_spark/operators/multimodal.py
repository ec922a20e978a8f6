"""Multimodal (image) rule kinds: decode / dims / PSNR / phash checks, plus
generic binary-column plumbing (resize, feature extract, frame sampling).

This is the scaled analog of the reference's "binary decodes cleanly"
validators (hex/base64, /root/reference/xmlschema/validators/builtins.py:139-155)
applied to opaque image payloads, per BASELINE.json's per-row invariant:
decoded-pixel consistency (PSNR ≥ 40 dB for lossy formats) + metadata
agreement.

Execution model: ``decode_check`` is a ``mapInArrow`` over Arrow
RecordBatches of (image_id, bytes, w, h, fmt, phash) plus any passthrough
columns; the UDF body reads each payload as a zero-copy view of the
``bytes`` column's data buffer, decodes with the numpy codec and emits one
verdict row per input row as a RecordBatch (passthrough columns copied
zero-copy). The transforms (resize, feature and frame extraction, audio
features) are ``mapInPandas`` over pandas batches of (id, bytes). Batch
size is capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
(session.py) because ``bytes`` is MB-scale at production; the scan reads
ONLY the needed columns (column pruning keeps this pass cheap relative to
the full row-rule pass).

Real image libraries (PIL/libjpeg/ffmpeg) are not in this container; the
codec in functions/codec.py provides real lossless/lossy semantics. The
``extract_frames`` / ``audio_features`` codec hooks default to the
pure-Python GIF87a/89a and RIFF/WAVE readers in functions/containers.py
(sniffed by container magic), so both paths run end-to-end on real
container bytes; other formats still need a caller-supplied ``decode_fn``
(NotImplementedError names the contract).
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmlschema_spark.functions import codec, containers
from xmlschema_spark.rules import RuleCompileError, register_rule_kind

DECODE_CHECK_SCHEMA = (
    "image_id string, decode_ok boolean, fmt_match boolean, dims_match boolean, "
    "psnr double, psnr_ok boolean, phash_hamming int, phash_match boolean, error string"
)


def _decode_inputs(id_col: str, check_phash: bool, passthrough: list[str]) -> list[str]:
    """The columns :func:`decode_check` reads, in the order it reads them."""
    cols = [id_col, "bytes", "w", "h", "fmt"] + (["phash"] if check_phash else [])
    return cols + [c for c in passthrough if c not in cols]


def decode_check(
    df: DataFrame,
    psnr_db: float = 40.0,
    id_col: str = "image_id",
    check_phash: bool = True,
    phash_max_hamming_lossy: int = 20,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Per-row invariant table: does ``bytes`` decode, do decoded dims match
    declared (w, h), does fmt match the container, is PSNR vs a reference
    re-encode ≥ threshold for lossy formats, does phash recompute.

    For lossless formats PSNR is +inf (exact roundtrip); for lossy formats
    we decode and measure against the decoded pixels re-encoded losslessly
    — i.e. "the payload is internally consistent", the distributed analog
    of base64_binary_validator's strict decode (builtins.py:144-155).

    phash consistency is *perceptual*: the stored hash was computed on the
    original pixels, the check recomputes on the decoded pixels, so lossy
    formats may legitimately flip a few bits — exact match is required for
    lossless, hamming ≤ ``phash_max_hamming_lossy`` for lossy.

    ``passthrough`` columns (e.g. the partition column) are copied to the
    output unchanged — carrying them through the UDF is free, whereas
    joining them back afterwards costs a broadcast + join per run.
    """
    passthrough = [c for c in (passthrough or []) if c != id_col]
    cols = _decode_inputs(id_col, check_phash, passthrough)

    def batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for rb in it:
            n = rb.num_rows
            names = rb.schema.names
            barr = rb.column(names.index("bytes"))
            # zero-copy per-row payload views: slice the Arrow data buffer
            # through the offsets buffer directly — materializing a Python
            # ``bytes`` per row would copy the full payload stream again
            # (pure DRAM traffic, the one resource more cores don't add)
            validity, off_buf = barr.buffers()[0], barr.buffers()[1]
            data_mv = memoryview(barr.buffers()[2]) if barr.buffers()[2] is not None else None
            # offsets buffer dtype follows the Arrow type: binary → int32,
            # large_binary (spark.sql.execution.arrow.useLargeVarTypes) →
            # int64 — assuming int32 would silently misread large_binary
            if pa.types.is_binary(barr.type):
                off_dtype = np.int32
            elif pa.types.is_large_binary(barr.type):
                off_dtype = np.int64
            else:
                raise TypeError(f"bytes column has Arrow type {barr.type}, expected (large_)binary")
            offs = np.frombuffer(off_buf, off_dtype, count=barr.offset + n + 1)
            if validity is None:
                valid = np.ones(n, bool)
            else:
                valid = np.unpackbits(
                    np.frombuffer(validity, np.uint8), bitorder="little"
                )[barr.offset: barr.offset + n].astype(bool)
            ws = rb.column(names.index("w")).to_numpy(zero_copy_only=False)
            hs = rb.column(names.index("h")).to_numpy(zero_copy_only=False)
            fmts = rb.column(names.index("fmt")).to_pylist()
            phs = (
                rb.column(names.index("phash")).to_numpy(zero_copy_only=False)
                if check_phash else None
            )

            decode_ok = np.zeros(n, bool)
            fmt_match = np.zeros(n, bool)
            dims_match = np.zeros(n, bool)
            psnr_v = np.zeros(n, np.float64)
            hamming_v = np.full(n, 64, np.int32)
            phash_ok = np.zeros(n, bool)
            errors: list[str | None] = [None] * n

            for i in range(n):
                try:
                    if not valid[i]:
                        raise ValueError("truncated header")
                    o0, o1 = offs[barr.offset + i], offs[barr.offset + i + 1]
                    pixels, actual_fmt = codec.decode_image(data_mv[o0:o1])
                    dh, dw = pixels.shape[:2]
                    fmt_match[i] = fmts[i] == actual_fmt
                    dims_match[i] = (ws[i] == dw) and (hs[i] == dh)
                    if actual_fmt in codec.LOSSLESS:
                        psnr_v[i] = float("inf")
                    else:
                        # internal-consistency PSNR: the decoded pixels
                        # must reproduce themselves through the lossy
                        # transform. reencode_values is the value-space
                        # encode→decode roundtrip minus the zlib stage
                        # (bijective — bytes change, values never do), so
                        # the PSNR is bit-identical to a real re-encode
                        # while skipping deflate+inflate per image.
                        re_dec = codec.reencode_values(pixels, actual_fmt)
                        psnr_v[i] = codec.psnr(pixels, re_dec)
                    if check_phash:
                        ham = codec.hamming64(codec.phash64(pixels), int(phs[i]))
                        limit = 0 if actual_fmt in codec.LOSSLESS else phash_max_hamming_lossy
                        hamming_v[i] = ham
                        phash_ok[i] = ham <= limit
                    else:
                        hamming_v[i] = 0
                        phash_ok[i] = True
                    decode_ok[i] = True
                except Exception as e:  # noqa: BLE001 — verdicts, not crashes
                    errors[i] = f"{type(e).__name__}: {e}"

            arrays = [
                rb.column(names.index(id_col)),  # zero-copy passthrough
                pa.array(decode_ok),
                pa.array(fmt_match),
                pa.array(dims_match),
                pa.array(psnr_v),
                pa.array((psnr_v >= psnr_db) & decode_ok),
                pa.array(hamming_v, pa.int32()),
                pa.array(phash_ok),
                pa.array(errors, pa.string()),
            ]
            out_names = [
                "image_id", "decode_ok", "fmt_match", "dims_match",
                "psnr", "psnr_ok", "phash_hamming", "phash_match", "error",
            ]
            for c in passthrough:
                arrays.append(rb.column(names.index(c)))  # zero-copy
                out_names.append(c)
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    # a frame that is already exactly ``cols`` is read as is: selecting a
    # column by name costs several JVM round trips
    src = df if df.columns == cols else df.select(*cols)
    schema = DECODE_CHECK_SCHEMA + "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in passthrough
    )
    return src.mapInArrow(batches, schema=schema)


HEADER_LEN = 12  # magic(4s) + w(u32 LE) + h(u32 LE), functions/codec.py
_HEX_MAGIC = {fmt: codec.MAGIC[fmt].hex().upper() for fmt in codec.FORMATS}


def _le32(bytes_col, off: int):
    """Little-endian u32 at 1-based byte offset ``off`` of a binary column,
    as a pure Catalyst expression: hex the 4 stored bytes, reverse the hex
    pairs, conv base-16. Stays inside whole-stage codegen — no Python."""
    h = F.hex(F.substring(bytes_col, off, 4))
    rev = F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
    )
    return F.conv(rev, 16, 10).cast("long")


def _le16(bytes_col, off: int):
    """Little-endian u16 at 1-based byte offset ``off`` — same pure
    Catalyst hex/conv construction as :func:`_le32`."""
    h = F.hex(F.substring(bytes_col, off, 2))
    return F.conv(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)), 16, 10).cast("long")


def header_fields(bytes_col) -> dict:
    """Container-header fields of an encoded image as Catalyst columns:
    ``header_fmt`` (format implied by the 4-byte magic, NULL if unknown),
    ``header_w`` / ``header_h`` (the u32 LE dims words). The magic is
    compared in hex (UTF-8-safe for arbitrary corrupt bytes).

    This is declared-metadata validation WITHOUT decoding: at 10^12 rows
    the full pixel decode is the expensive Arrow-UDF pass
    (:func:`decode_check`); the header, by contrast, is 12 bytes of pure
    JVM expression — `fmt`/`w`/`h` disagreement, truncation, and foreign
    containers are all caught in whole-stage codegen at scan speed. The
    scaled analog of the reference peeking at a resource's declared
    encoding before parsing (resources.py XMLResource lazy checks)."""
    magic_hex = F.hex(F.substring(bytes_col, 1, 4))
    hdr_fmt = F.lit(None).cast("string")
    for fmt, mh in _HEX_MAGIC.items():
        hdr_fmt = F.when(magic_hex == F.lit(mh), F.lit(fmt)).otherwise(hdr_fmt)
    return {
        "header_fmt": hdr_fmt,
        "header_w": _le32(bytes_col, 5),
        "header_h": _le32(bytes_col, 9),
    }


# canonical-layout WAV field offsets (1-based, RIFF + 16-byte PCM fmt +
# data header = 44 bytes; functions/containers.py encode_wav emits this)
WAV_HEADER_LEN = 44
_WAV_RIFF_HEX = "52494646"  # b"RIFF"
_WAV_WAVE_HEX = "57415645"  # b"WAVE"
_WAV_FMT_HEX = "666D7420"   # b"fmt "
_WAV_DATA_HEX = "64617461"  # b"data"


def _wav_fields(b) -> dict:
    """Header fields of a canonical-layout PCM WAV as Catalyst columns —
    the audio twin of :func:`header_fields`: magic flags plus the fmt-chunk
    words and the data-chunk size some aspect reads, all hex/conv
    whole-stage codegen, zero Python, zero decode."""
    return {
        "riff_ok": F.hex(F.substring(b, 1, 4)) == F.lit(_WAV_RIFF_HEX),
        "wave_ok": F.hex(F.substring(b, 9, 4)) == F.lit(_WAV_WAVE_HEX),
        "fmt_tag_ok": F.hex(F.substring(b, 13, 4)) == F.lit(_WAV_FMT_HEX),
        "fmt_size": _le32(b, 17),
        "audio_format": _le16(b, 21),
        "channels": _le16(b, 23),
        "sample_rate": _le32(b, 25),
        "block_align": _le16(b, 33),
        "bits": _le16(b, 35),
        "data_tag_ok": F.hex(F.substring(b, 37, 4)) == F.lit(_WAV_DATA_HEX),
        "data_size": _le32(b, 41),
    }


# GIF logical-screen-descriptor layout: magic(6) + w(u16 LE) + h(u16 LE)
# + packed + bg + aspect = 13-byte header; 0x3B trailer closes the file
GIF_HEADER_LEN = 13
_GIF_MAGICS_HEX = ("474946383761", "474946383961")  # b"GIF87a", b"GIF89a"


def _gif_fields(b) -> dict:
    """Header fields of a GIF container as Catalyst columns — the video
    face of :func:`header_fields` / :func:`_wav_fields`: magic flag, the
    logical-screen u16 LE dims, and the trailer byte (a cheap whole-file
    truncation detector — every complete GIF ends in 0x3B)."""
    magic_hex = F.hex(F.substring(b, 1, 6))
    return {
        "magic_ok": magic_hex.isin(list(_GIF_MAGICS_HEX)),
        "screen_w": _le16(b, 7),
        "screen_h": _le16(b, 9),
        "trailer_ok": F.hex(F.substring(b, F.octet_length(b), 1)) == F.lit("3B"),
    }


# Aspect tables — one per container, each check of the zero-decode header
# family written once. An aspect maps its name (the rule kinds'
# ``params.check`` value) to the operator's ``rule_id``, the violation
# ``column`` label, and ``ok``: True ⇔ the row passes. A table is built
# from the payload column and ``declared(aspect, column)``, which resolves
# a declared-metadata column (default name ``column``). The operators
# report the aspects whose ``ok`` is false; the rule kinds compile ``ok``.
#
# NULL semantics, shared by every container: NULL bytes passes every
# aspect (``not_null`` owns missingness); a payload shorter than the
# header passes every aspect but ``short``; a foreign magic passes the
# field aspects (``magic`` owns foreign containers); a non-canonical WAV
# passes the aspects that read its fields (``layout`` owns it), and a
# non-PCM one the declared-metadata aspects (``pcm`` owns it); NULL
# declared metadata passes its comparison, and a declared value that is
# not an integer fails it (``try_cast``: a verdict, not an ANSI cast error).
class _Aspect(NamedTuple):
    rule_id: str
    column: str
    ok: Column


def _framing(prefix: str, b, header_len: int, foreign):
    """The ``short`` and ``magic`` aspects every container has, and the
    mask under which its field aspects pass (NULL, short or ``foreign``)."""
    short = F.octet_length(b) < header_len
    return b.isNull() | short | foreign, {
        "short": _Aspect(f"{prefix}_short", "bytes", b.isNull() | ~short),
        "magic": _Aspect(f"{prefix}_magic", "bytes", b.isNull() | short | ~foreign),
    }


def _agrees(rule_id: str, column: str, skip, declared, header) -> _Aspect:
    """The declared integer ``declared`` equals the header word ``header``."""
    n = declared.try_cast("long")
    return _Aspect(rule_id, column, skip | declared.isNull() | (n.isNotNull() & (n == header)))


def _image_aspects(b, declared) -> dict[str, _Aspect]:
    hf = header_fields(b)
    skip, table = _framing("header", b, HEADER_LEN, hf["header_fmt"].isNull())
    fmt = declared("fmt", "fmt")
    return {
        **table,
        "fmt": _Aspect(
            "header_fmt_match", "fmt", skip | fmt.isNull() | (fmt == hf["header_fmt"])
        ),
        "w": _agrees("header_w_match", "w", skip, declared("w", "w"), hf["header_w"]),
        "h": _agrees("header_h_match", "h", skip, declared("h", "h"), hf["header_h"]),
    }


def _wav_aspects(b, declared) -> dict[str, _Aspect]:
    hf = _wav_fields(b)
    skip, table = _framing("wav", b, WAV_HEADER_LEN, ~(hf["riff_ok"] & hf["wave_ok"]))
    canonical = hf["fmt_tag_ok"] & (hf["fmt_size"] == 16) & hf["data_tag_ok"]
    skip_canon = skip | ~canonical
    skip_pcm = skip_canon | (hf["audio_format"] != 1)
    n_samples = declared("n_samples", "n_samples")
    n = n_samples.try_cast("long")
    return {
        **table,
        "layout": _Aspect("wav_layout", "bytes", skip | canonical),
        "pcm": _Aspect("wav_fmt_pcm", "bytes", skip_canon | (hf["audio_format"] == 1)),
        "rate": _agrees(
            "wav_rate_match", "sample_rate", skip_pcm,
            declared("rate", "sample_rate"), hf["sample_rate"],
        ),
        "channels": _agrees(
            "wav_channels_match", "channels", skip_pcm,
            declared("channels", "channels"), hf["channels"],
        ),
        "bits": _agrees("wav_bits_match", "bits", skip_pcm, declared("bits", "bits"), hf["bits"]),
        "truncated": _Aspect(
            "wav_truncated", "bytes",
            skip_canon
            | (F.octet_length(b).cast("long") == hf["data_size"] + F.lit(WAV_HEADER_LEN)),
        ),
        "n_samples": _Aspect(
            "wav_n_samples_match", "n_samples",
            skip_pcm | n_samples.isNull() | (hf["block_align"] <= 0)
            | (n.isNotNull() & (hf["data_size"] == n * hf["block_align"])),
        ),
    }


def _gif_aspects(b, declared) -> dict[str, _Aspect]:
    hf = _gif_fields(b)
    skip, table = _framing("gif", b, GIF_HEADER_LEN, ~hf["magic_ok"])
    return {
        **table,
        "w": _agrees("gif_w_match", "w", skip, declared("w", "w"), hf["screen_w"]),
        "h": _agrees("gif_h_match", "h", skip, declared("h", "h"), hf["screen_h"]),
        "trailer": _Aspect("gif_trailer", "bytes", skip | hf["trailer_ok"]),
    }


def _header_violations(df: DataFrame, aspects, id_col: str, part_col: str | None) -> DataFrame:
    """Violation rows of every aspect a row fails, in the engine's shape
    (partition_id, rule_id, row_id, column, severity): one pruned scan,
    one Generate (explode of a per-row violation array) — no shuffle, no
    Python. The field decodes appear once per aspect branch in the plan
    (CollapseProject inlines any pre-projection and CASE branches defeat
    codegen subexpression elimination — the compiler's ``_np`` note), but
    each is a ≤ 4-byte hex/conv: nanoseconds against the KB-scale
    ``bytes`` column the scan already moves, so the pass stays scan-bound
    at any row count."""
    table = aspects(F.col("bytes"), lambda aspect, column: F.col(column))
    viols = F.array(*(
        F.when(~a.ok, F.struct(F.lit(a.rule_id).alias("rule_id"), F.lit(a.column).alias("column")))
        for a in table.values()
    ))
    part = F.col(part_col) if part_col else F.lit("__table__")
    return (
        df.select(
            part.alias("partition_id"),
            F.col(id_col).alias("row_id"),
            F.explode(F.filter(viols, lambda x: x.isNotNull())).alias("__v"),
        )
        .select(
            "partition_id",
            F.col("__v.rule_id").alias("rule_id"),
            "row_id",
            F.col("__v.column").alias("column"),
            F.lit("error").alias("severity"),
        )
    )


def header_check(
    df: DataFrame,
    id_col: str = "image_id",
    part_col: str | None = None,
) -> DataFrame:
    """Violation rows for declared-metadata vs container-header disagreement
    — the zero-decode row-rule family (the image aspect table):

    - ``header_short``     — bytes non-null but shorter than the 12-byte header
    - ``header_magic``     — unknown 4-byte magic (foreign/garbage container)
    - ``header_fmt_match`` — declared ``fmt`` != format implied by the magic
    - ``header_w_match`` / ``header_h_match`` — declared dims != header dims
      (catches the ``bad_dims`` corruption family without touching pixels)"""
    return _header_violations(df, _image_aspects, id_col, part_col)


def wav_header_check(
    df: DataFrame,
    id_col: str = "audio_id",
    part_col: str | None = None,
) -> DataFrame:
    """Violation rows for declared metadata vs the RIFF/WAVE container
    header — the zero-decode row-rule family for audio payloads, the
    twin of :func:`header_check`, and the 10^12-row pre-flight before
    any Arrow decode pass:

    - ``wav_short``          — bytes non-null but < the 44-byte canonical header
    - ``wav_magic``          — RIFF or WAVE magic missing (foreign container)
    - ``wav_layout``         — magic ok but not the canonical layout
      (``fmt `` not at 13 with size 16, or ``data`` not at 37 — real WAVs
      with LIST/INFO chunks land here; the Python decoder still reads
      them, this rule flags "not the canonical shape the fast path owns")
    - ``wav_fmt_pcm``        — fmt chunk present but audio format != 1 (PCM)
    - ``wav_rate_match`` / ``wav_channels_match`` / ``wav_bits_match`` —
      declared ``sample_rate`` / ``channels`` / ``bits`` != header words
    - ``wav_truncated``      — actual payload length != 44 + header data size
    - ``wav_n_samples_match``— declared ``n_samples`` inconsistent with the
      header data size (``data_size != n_samples * block_align``)"""
    return _header_violations(df, _wav_aspects, id_col, part_col)


def gif_header_check(
    df: DataFrame,
    id_col: str = "video_id",
    part_col: str | None = None,
) -> DataFrame:
    """Violation rows for declared metadata vs the GIF container header —
    the zero-decode pre-flight of the video path (the triad-completing
    twin of :func:`header_check` and :func:`wav_header_check`), run
    before any frame decode:

    - ``gif_short``   — bytes non-null but < the 13-byte header
    - ``gif_magic``   — neither ``GIF87a`` nor ``GIF89a``
    - ``gif_w_match`` / ``gif_h_match`` — declared ``w`` / ``h`` != the
      logical-screen u16 LE dims
    - ``gif_trailer`` — the file does not end in the ``0x3B`` trailer
      (mid-stream truncation caught without touching the LZW payload)"""
    return _header_violations(df, _gif_aspects, id_col, part_col)


def _register_header_kind(kind: str, aspects, what: str) -> None:
    """Register ``kind`` as a row rule over an aspect table: ``rule.column``
    is the binary column (default ``bytes``), ``params.check`` picks one
    aspect or ``all`` (default, the conjunction), and ``params.<aspect>_col``
    renames a declared-metadata column (``fmt_col``, ``rate_col``, …).

    Declarative integration: rulesets may say ``{"kind": kind}`` and the
    zero-decode header validation flows through the engine's normal
    violation/verdict/checkpoint path (the same extension registry user
    facets use, rules.register_rule_kind)."""

    def compile_ok(rule):
        p = rule.params or {}
        table = aspects(
            F.col(rule.column or "bytes"),
            lambda aspect, column: F.col(p.get(f"{aspect}_col", column)),
        )
        check = p.get("check", "all")
        if check == "all":
            return functools.reduce(operator.and_, (a.ok for a in table.values()))
        if check not in table:
            raise RuleCompileError(
                f"{rule.rule_id}: {kind} check must be one of "
                f"{sorted(table)} or 'all', got {check!r}"
            )
        return table[check].ok

    def reason(rule) -> str:
        check = (rule.params or {}).get("check", "all")
        return f"{what} inconsistent with declared metadata (check={check})"

    register_rule_kind(kind, compile_ok, reason)


_register_header_kind("header_consistent", _image_aspects, "container header")
_register_header_kind("wav_header_consistent", _wav_aspects, "RIFF/WAVE header")
_register_header_kind("gif_header_consistent", _gif_aspects, "GIF header")


def resize_images(df: DataFrame, out_w: int, out_h: int, id_col: str = "image_id") -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode lossless. Demonstrates
    the transform path (feature-extraction plumbing) on binary columns."""
    schema = f"{id_col} string, bytes binary, w int, h int, fmt string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for row in pdf.itertuples(index=False):
                try:
                    pixels, _ = codec.decode_image(row.bytes)
                except ValueError:
                    continue
                h, w = pixels.shape[:2]
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                resized = pixels[yi][:, xi]
                ids.append(getattr(row, id_col))
                blobs.append(codec.encode_image(resized, "png"))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "bytes": blobs,
                    "w": out_w,
                    "h": out_h,
                    "fmt": "png",
                }
            )

    return df.select(id_col, "bytes").mapInPandas(batches, schema=schema)


def extract_features(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Per-image feature extraction over Arrow batches: mean RGB, luma
    mean/std, an 8-bin luma histogram (array<double>, L1-normalized), and
    aspect ratio. The feature-extract stage of a training-data pipeline —
    the same pruned scan as decode_check, over mapInPandas batches,
    numpy-vectorized per image, no per-row Python in the driver path."""
    schema = (
        f"{id_col} string, mean_r double, mean_g double, mean_b double, "
        "luma_mean double, luma_std double, luma_hist array<double>, "
        "aspect double, decode_ok boolean"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                rid = getattr(row, id_col)
                try:
                    pixels, _ = codec.decode_image(row.bytes)
                except ValueError:
                    rows.append((rid, 0.0, 0.0, 0.0, 0.0, 0.0, [0.0] * 8, 0.0, False))
                    continue
                p = pixels.astype(np.float64)
                luma = p[..., 0] * 0.299 + p[..., 1] * 0.587 + p[..., 2] * 0.114
                hist, _ = np.histogram(luma, bins=8, range=(0, 256))
                hist = (hist / max(hist.sum(), 1)).tolist()
                h, w = pixels.shape[:2]
                rows.append(
                    (
                        rid,
                        float(p[..., 0].mean()), float(p[..., 1].mean()), float(p[..., 2].mean()),
                        float(luma.mean()), float(luma.std()),
                        hist, float(w) / float(h), True,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "mean_r", "mean_g", "mean_b",
                    "luma_mean", "luma_std", "luma_hist", "aspect", "decode_ok",
                ],
            )

    return df.select(id_col, "bytes").mapInPandas(batches, schema=schema)


def default_video_decode(data):
    """Default ``extract_frames`` codec hook: sniff the container magic.
    GIF87a/GIF89a payloads decode through the pure-Python LZW reader
    (functions/containers.py); each frame is re-encoded as a lossless
    BMP payload of the engine codec, so every downstream image operator
    (decode_check, extract_features, resize) consumes frames directly.
    Corrupt GIFs and NULL payloads raise ValueError (row dropped, the
    coverage-check signal); containers this build has no codec for raise
    NotImplementedError naming the ``decode_fn`` contract (loud, not a
    silent drop)."""
    if data is None:
        raise ValueError("NULL video payload")
    head = bytes(data[:6])
    if head in (b"GIF87a", b"GIF89a"):
        return [codec.encode_image(f, "bmp") for f in containers.decode_gif(data)]
    raise NotImplementedError(
        f"no built-in codec for container magic {head[:4]!r}: pass "
        "decode_fn=(bytes -> iterable of frame bytes), e.g. a PyAV wrapper"
    )


def default_audio_decode(data):
    """Default ``audio_features`` codec hook: RIFF/WAVE PCM decodes via
    the pure-Python chunk-walk parser (functions/containers.py) to
    (mono float64 samples, rate); corrupt WAVs and NULL payloads raise
    ValueError (``decode_ok=false`` row); other containers raise
    NotImplementedError naming the ``decode_fn`` contract."""
    if data is None:
        raise ValueError("NULL audio payload")
    head = bytes(data[:4])
    if head == b"RIFF" and bytes(data[8:12]) == b"WAVE":
        return containers.decode_wav(data)
    raise NotImplementedError(
        f"no built-in codec for container magic {head!r}: pass "
        "decode_fn=(bytes -> (mono float ndarray, sample_rate))"
    )


def extract_frames(
    df: DataFrame,
    every_n: int = 30,
    decode_fn=None,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame sampling over a PLUGGABLE codec hook.

    ``decode_fn(data: bytes) -> Iterable[bytes]`` yields the video's
    encoded frames in order (e.g. a PyAV/ffmpeg wrapper on a real
    cluster); it is pickled into the executor closure, so it must be a
    module-level callable. Every ``every_n``-th frame (0, n, 2n, …) is
    emitted as one output row ``(id_col, frame_idx, bytes)``. A video
    that fails to decode (``decode_fn`` raises ``ValueError``)
    contributes zero rows — downstream coverage checks (count of
    distinct ids in vs out) surface the drops, matching the
    decode-verdict pattern of the image suite.

    ``decode_fn=None`` uses :func:`default_video_decode`: GIF87a/89a
    payloads decode end-to-end via the pure-Python LZW reader, each
    frame re-encoded as a lossless BMP of the engine codec; containers
    with no built-in codec raise ``NotImplementedError`` naming the
    contract.

    Scale shape: ``mapInPandas`` over only (id, bytes) — column-pruned
    scan, one Arrow crossing per video, one output DataFrame per input
    row so a long video never accumulates all its frames in memory
    alongside its neighbours'.
    """
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if decode_fn is None:
        decode_fn = default_video_decode
    schema = f"{id_col} string, frame_idx int, bytes binary"
    cols = [id_col, "frame_idx", "bytes"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                rid = getattr(row, id_col)
                try:
                    frames = decode_fn(getattr(row, bytes_col))
                except ValueError:
                    continue
                out = [
                    (rid, i, f) for i, f in enumerate(frames) if i % every_n == 0
                ]
                if out:
                    yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, bytes_col).mapInPandas(batches, schema=schema)


def audio_features(
    df: DataFrame,
    decode_fn=None,
    id_col: str = "audio_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Per-clip audio feature extraction over a pluggable codec hook —
    the audio twin of :func:`image_features`.

    ``decode_fn(data: bytes) -> (samples, sample_rate)`` returns a 1-D
    float numpy array of mono PCM samples plus the rate (e.g. a
    soundfile/ffmpeg wrapper). Output: one row per clip with
    ``duration_s``, ``rms`` (loudness), ``peak``, ``zero_cross_rate``
    (crude voicing/noisiness proxy) and ``decode_ok``; undecodable
    clips (``ValueError``) keep their row with ``decode_ok=false`` and
    zeroed features, so the operator is row-preserving and feeds the
    same verdict machinery as the image suite.

    ``decode_fn=None`` uses :func:`default_audio_decode`: RIFF/WAVE PCM
    decodes end-to-end via the pure-Python chunk-walk parser; containers
    with no built-in codec raise ``NotImplementedError`` naming the
    contract.
    """
    if decode_fn is None:
        decode_fn = default_audio_decode
    schema = (
        f"{id_col} string, duration_s double, rms double, peak double, "
        "zero_cross_rate double, decode_ok boolean"
    )
    cols = [id_col, "duration_s", "rms", "peak", "zero_cross_rate", "decode_ok"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                rid = getattr(row, id_col)
                try:
                    samples, rate = decode_fn(getattr(row, bytes_col))
                except ValueError:
                    rows.append((rid, 0.0, 0.0, 0.0, 0.0, False))
                    continue
                s = np.asarray(samples, dtype=np.float64)
                n = s.size
                zcr = float(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1]))) / max(n - 1, 1)
                rows.append(
                    (
                        rid,
                        float(n) / float(rate),
                        float(np.sqrt(np.mean(s * s))) if n else 0.0,
                        float(np.abs(s).max()) if n else 0.0,
                        zcr,
                        True,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, bytes_col).mapInPandas(batches, schema=schema)
