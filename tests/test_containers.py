"""Round-5: pure-Python WAV/GIF container codecs, the default
audio/video decode hooks (end-to-end, real container bytes, no external
codec), the WAV header row-rule family, and the committed audio fixture.
"""

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

from xmlschema_spark.functions import codec, containers

REPO = Path(__file__).resolve().parents[1]


# --------------------------------------------------------------------------
# WAV codec
# --------------------------------------------------------------------------

def _sine(n=1600, rate=8000, freq=440.0, amp=0.5):
    return amp * np.sin(2 * np.pi * freq * np.arange(n) / rate)


@pytest.mark.parametrize("channels,bits,tol", [(1, 16, 1e-3), (2, 16, 1e-3), (1, 8, 2e-2)])
def test_wav_roundtrip(channels, bits, tol):
    s = _sine()
    data = containers.encode_wav(s, 8000, channels=channels, bits=bits)
    dec, rate = containers.decode_wav(data)
    assert rate == 8000 and len(dec) == len(s)
    assert np.abs(dec - s).max() < tol


def test_wav_canonical_header_layout():
    data = containers.encode_wav(_sine(100), 16000, channels=2, bits=16)
    assert data[0:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert data[12:16] == b"fmt " and data[36:40] == b"data"
    assert len(data) == 44 + 100 * 2 * 2  # header + n*channels*2 bytes
    import struct
    assert struct.unpack_from("<I", data, 4)[0] == len(data) - 8


def test_wav_chunk_walk_reads_noncanonical():
    """A WAV with an extra LIST chunk between fmt and data is still a
    valid RIFF — the generic chunk-walk decoder must read it (while the
    canonical-layout header RULE flags it, by design)."""
    import struct
    data = containers.encode_wav(_sine(64), 8000)
    info = b"INFOcmt " + struct.pack("<I", 4) + b"ok!\x00"
    extra = b"LIST" + struct.pack("<I", len(info)) + info
    spliced = (
        data[:4]
        + struct.pack("<I", struct.unpack("<I", data[4:8])[0] + len(extra))
        + data[8:36] + extra + data[36:]
    )
    dec, rate = containers.decode_wav(spliced)
    ref, _ = containers.decode_wav(data)
    assert rate == 8000 and np.array_equal(dec, ref)


@pytest.mark.parametrize("bad", [
    None, b"", b"RIFF", b"RIFFxxxxWAVE",
    b"OggS" + b"\x00" * 60,
])
def test_wav_decode_rejects_corruption(bad):
    with pytest.raises(ValueError):
        containers.decode_wav(bad)


def test_wav_decode_rejects_truncated_and_nonpcm():
    import struct
    data = containers.encode_wav(_sine(100), 8000)
    with pytest.raises(ValueError):
        containers.decode_wav(data[:30])  # inside the fmt chunk
    nonpcm = data[:20] + struct.pack("<H", 3) + data[22:]
    with pytest.raises(ValueError, match="not PCM"):
        containers.decode_wav(nonpcm)


# --------------------------------------------------------------------------
# GIF codec
# --------------------------------------------------------------------------

def test_gif_roundtrip_multiframe():
    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (13, 17, 3)).astype(np.uint8) for _ in range(3)]
    data = containers.encode_gif(frames)
    assert data[:6] == b"GIF87a"
    dec = containers.decode_gif(data)
    assert len(dec) == 3
    for f, d in zip(frames, dec):
        assert np.array_equal(containers.GIF_PALETTE[containers.quantize_to_palette(f)], d)


def test_gif_large_frame_multi_subblock():
    """>255-byte LZW streams span multiple sub-blocks and cross several
    CLEAR resets — the decoder's table handling is exercised for real."""
    rng = np.random.default_rng(12)
    frame = rng.integers(0, 256, (100, 100, 3)).astype(np.uint8)
    dec = containers.decode_gif(containers.encode_gif([frame]))
    assert np.array_equal(
        containers.GIF_PALETTE[containers.quantize_to_palette(frame)], dec[0]
    )


@pytest.mark.parametrize("bad", [None, b"", b"GIF87a", b"PNG\x00" + b"\x00" * 50])
def test_gif_decode_rejects_corruption(bad):
    with pytest.raises(ValueError):
        containers.decode_gif(bad)


def test_gif_decode_rejects_truncation():
    data = containers.encode_gif([np.zeros((5, 5, 3), np.uint8)])
    for cut in (20, len(data) - 2):
        with pytest.raises(ValueError):
            containers.decode_gif(data[:cut])


# --------------------------------------------------------------------------
# default decode hooks end-to-end through the Spark operators
# --------------------------------------------------------------------------

def test_audio_features_default_wav_hook(spark):
    """audio_features with decode_fn=None decodes REAL WAV bytes via the
    default RIFF/WAVE hook: exact duration, analytic RMS/peak/ZCR."""
    from xmlschema_spark.operators import multimodal

    rate = 8000
    # square wave at 1/4 the rate: |s|=0.5 everywhere, sign flips every
    # 2 samples -> rms=0.5, peak=0.5, zcr=(n/2-... ) computed exactly below
    n = 1600
    sq = 0.5 * np.where((np.arange(n) // 2) % 2 == 0, 1.0, -1.0)
    wav = containers.encode_wav(sq, rate)
    corrupt = wav[:30]
    df = spark.createDataFrame(
        [("good", bytearray(wav)), ("bad", bytearray(corrupt)), ("null", None)],
        "audio_id string, bytes binary",
    )
    out = {r.audio_id: r for r in multimodal.audio_features(df).collect()}
    g = out["good"]
    assert g.decode_ok
    assert g.duration_s == pytest.approx(n / rate)
    assert g.rms == pytest.approx(0.5, rel=1e-3)
    assert g.peak == pytest.approx(0.5, rel=1e-3)
    flips = int(np.count_nonzero(np.signbit(sq[1:]) != np.signbit(sq[:-1])))
    assert g.zero_cross_rate == pytest.approx(flips / (n - 1), rel=1e-6)
    for bad in ("bad", "null"):  # corrupt and NULL payloads: verdicts, not crashes
        b = out[bad]
        assert not b.decode_ok and b.rms == 0.0


def test_extract_frames_default_gif_hook(spark):
    """extract_frames with decode_fn=None decodes a REAL multi-frame GIF
    via the default hook; sampled frames come back as engine-codec BMP
    payloads with exact quantized pixels."""
    from xmlschema_spark.operators import multimodal

    rng = np.random.default_rng(21)
    frames = [rng.integers(0, 256, (9, 11, 3)).astype(np.uint8) for _ in range(5)]
    gif = containers.encode_gif(frames)
    df = spark.createDataFrame(
        [("v1", bytearray(gif)), ("v2", bytearray(gif[:25])), ("v3", None)],
        "video_id string, bytes binary",
    )
    out = multimodal.extract_frames(df, every_n=2).collect()
    got = sorted((r.video_id, r.frame_idx) for r in out)
    assert got == [("v1", 0), ("v1", 2), ("v1", 4)]  # corrupt v2, NULL v3 dropped
    by = {r.frame_idx: bytes(r.bytes) for r in out}
    for idx in (0, 2, 4):
        pixels, fmt = codec.decode_image(by[idx])
        assert fmt == "bmp"
        want = containers.GIF_PALETTE[containers.quantize_to_palette(frames[idx])]
        assert np.array_equal(pixels, want)


def test_default_hooks_unknown_magic_raises():
    with pytest.raises(NotImplementedError, match="decode_fn"):
        multimodal_default_video(b"AVI LIST" + b"\x00" * 20)
    with pytest.raises(NotImplementedError, match="decode_fn"):
        multimodal_default_audio(b"fLaC" + b"\x00" * 20)


def multimodal_default_video(data):
    from xmlschema_spark.operators.multimodal import default_video_decode
    return default_video_decode(data)


def multimodal_default_audio(data):
    from xmlschema_spark.operators.multimodal import default_audio_decode
    return default_audio_decode(data)


# --------------------------------------------------------------------------
# the committed audio fixture + WAV header rules
# --------------------------------------------------------------------------

def test_audio_fixture_matches_generator():
    """The committed fixture parquet must be value-identical to the
    deterministic generator at the pinned parameters."""
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    from make_audio_fixture import OUT, build_table

    assert OUT.exists(), "run scripts/make_audio_fixture.py"
    committed = pq.read_table(OUT)
    regenerated = build_table()
    assert committed.schema == regenerated.schema
    assert committed.num_rows == regenerated.num_rows == 300
    assert committed.equals(regenerated)


def test_video_fixture_matches_generator():
    """The committed GIF fixture parquet must be value-identical to the
    deterministic generator at the pinned parameters."""
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    from make_video_fixture import OUT, build_table

    assert OUT.exists(), "run scripts/make_video_fixture.py"
    committed = pq.read_table(OUT)
    regenerated = build_table()
    assert committed.schema == regenerated.schema
    assert committed.num_rows == regenerated.num_rows == 300
    assert committed.equals(regenerated)


def test_gif_header_check_fixture_counts(spark):
    """Exactly the four header-visible families fire (9 rows each);
    corrupt-LZW and declared-frame-count families are header-invisible
    BY DESIGN (the decode pass owns them)."""
    from xmlschema_spark.operators import multimodal

    df = spark.read.parquet(str(REPO / "fixtures" / "video_rowrules.parquet"))
    by_rule = {
        r.rule_id: r.n
        for r in multimodal.gif_header_check(df, part_col="part")
        .groupBy("rule_id").count().withColumnRenamed("count", "n").collect()
    }
    assert by_rule == {
        "gif_short": 9, "gif_magic": 9, "gif_w_match": 9, "gif_trailer": 9,
    }


def test_video_frames_stats_golden(spark):
    """The rows-only decode query over the fixture: null and bad_magic
    drop at the JVM triage, short passes the magic slice but fails the
    header decode, truncated and corrupt-LZW reach the LZW decoder and
    fail there — 5 families x 9 rows never decode; only the
    frames_mismatch family (9) disagrees with its declared count."""
    import __spark_entry__ as entry

    r = entry.q_video_frames_stats(spark, "unused").collect()[0]
    assert r.n_videos == 300
    assert r.n_videos_decoded == 300 - 9 * 5
    assert r.n_frame_count_mismatch == 9
    assert r.n_frames_total == 614  # deterministic fixture


def test_wav_header_check_counts(spark):
    """Each injected family fires exactly its rule, 9 rows per family
    (frac 0.03 x n=300); clean rows fire nothing."""
    from xmlschema_spark.operators import multimodal

    df = spark.read.parquet(str(REPO / "fixtures" / "audio_rowrules.parquet"))
    out = multimodal.wav_header_check(df, part_col="part")
    by_rule = {r.rule_id: r.n for r in
               out.groupBy("rule_id").count().withColumnRenamed("count", "n").collect()}
    assert by_rule == {
        "wav_short": 9,
        "wav_magic": 9,
        "wav_layout": 9,
        "wav_fmt_pcm": 9,
        "wav_rate_match": 9,
        "wav_channels_match": 9,
        "wav_bits_match": 9,
        "wav_truncated": 9,
        "wav_n_samples_match": 9,
    }


def test_wav_fixture_layout_rows_still_decode(spark):
    """The 'layout' family is flagged by the canonical-header rule but
    remains a VALID WAV: the chunk-walk decoder (default audio hook)
    decodes every non-canonical row fine."""
    from xmlschema_spark.operators import multimodal

    pdf = pq.read_table(REPO / "fixtures" / "audio_rowrules.parquet").to_pandas()
    # layout family = rows 15..17 of each... identify via the rule itself
    df = spark.read.parquet(str(REPO / "fixtures" / "audio_rowrules.parquet"))
    layout_ids = {
        r.row_id for r in multimodal.wav_header_check(df).filter("rule_id = 'wav_layout'").collect()
    }
    assert len(layout_ids) == 9
    sub = pdf[pdf["audio_id"].isin(layout_ids)]
    for b in sub["bytes"]:
        samples, rate = containers.decode_wav(bytes(b))
        assert len(samples) > 0 and rate in (8000, 16000, 22050)


def test_wav_header_rule_kind_registered(spark):
    """The declarative `wav_header_consistent` rule kind evaluates inside
    the normal engine pass, matching wav_header_check's verdicts."""
    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleSet

    df = spark.read.parquet(str(REPO / "fixtures" / "audio_rowrules.parquet"))
    rules = RuleSet([
        Rule(rule_id="wav_ok", kind="wav_header_consistent", column="bytes"),
    ])
    res = ValidationEngine(rules, id_col="audio_id", partition_col="part").validate(
        df, run_id="wavrule", with_stats=False
    )
    viol = res.violations.collect()
    # every row in a violation family except 'null' (NULL bytes passes)
    # and except... all 9 non-null families fail at least one aspect
    assert len(viol) == 81
    assert all(v.rule_id == "wav_ok" for v in viol)


def test_wav_header_rule_kind_single_check(spark):
    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleSet

    df = spark.read.parquet(str(REPO / "fixtures" / "audio_rowrules.parquet"))
    rules = RuleSet([
        Rule(rule_id="wav_rate", kind="wav_header_consistent", column="bytes",
             params={"check": "rate"}),
    ])
    res = ValidationEngine(rules, id_col="audio_id", partition_col="part").validate(
        df, run_id="wavrate", with_stats=False
    )
    assert res.violations.count() == 9  # only the rate_mismatch family


_GIF_GOOD = containers.encode_gif([np.zeros((7, 5, 3), np.uint8)])
# (video_id, bytes, w, h) crafted rows and the violations each fires
_GIF_ROWS = [
    ("ok", bytearray(_GIF_GOOD), 5, 7),
    ("alien", bytearray(b"RIFF" + _GIF_GOOD[4:]), 5, 7),
    ("short", bytearray(_GIF_GOOD[:8]), 5, 7),
    ("cut", bytearray(_GIF_GOOD[:-1]), 5, 7),
    ("bad_w", bytearray(_GIF_GOOD), 6, 7),
    ("bad_h", bytearray(_GIF_GOOD), 5, 9),
    ("nullb", None, 5, 7),
    ("nulldims", bytearray(_GIF_GOOD), None, None),
    ("empty", bytearray(b""), 5, 7),
    ("one_byte", bytearray(b";"), 5, 7),
]
_GIF_VIOLATIONS = [
    ("alien", "gif_magic"),
    ("bad_h", "gif_h_match"),
    ("bad_w", "gif_w_match"),
    ("cut", "gif_trailer"),
    ("empty", "gif_short"),
    ("one_byte", "gif_short"),
    ("short", "gif_short"),
]


def test_gif_header_check_rules(spark):
    """Zero-decode GIF pre-flight: each crafted row fires exactly its
    rule; declared dims come from the logical screen descriptor."""
    import struct

    from xmlschema_spark.operators import multimodal

    df = spark.createDataFrame(_GIF_ROWS, "video_id string, bytes binary, w int, h int")
    got = sorted(
        (r.row_id, r.rule_id)
        for r in multimodal.gif_header_check(df).collect()
    )
    assert got == _GIF_VIOLATIONS
    # sanity on the LSD arithmetic the rule decodes
    assert struct.unpack_from("<HH", bytes(_GIF_GOOD), 6) == (5, 7)


def _header_rule_violations(df, kind: str, id_col: str, check: str = "all"):
    """Sorted row ids the ``kind`` rule (one ``check``) flags through the engine."""
    from pyspark.sql import functions as F

    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleSet

    rules = RuleSet([Rule(rule_id="r", kind=kind, column="bytes", params={"check": check})])
    res = ValidationEngine(rules, id_col=id_col, partition_col="part").validate(
        df.withColumn("part", F.lit("p0")), run_id=kind, with_stats=False
    )
    return sorted(r.row_id for r in res.violations.collect())


def test_gif_header_non_integer_declared_w_is_a_violation(spark):
    """A declared ``w`` that is present but not an integer ("5x" in a
    string column) fails ``gif_w_match`` in the operator and the rule
    kind, instead of aborting on an ANSI cast error."""
    from xmlschema_spark.operators import multimodal

    rows = [(i, b, None if w is None else str(w), h) for i, b, w, h in _GIF_ROWS]
    rows.append(("w_5x", bytearray(_GIF_GOOD), "5x", 7))
    df = spark.createDataFrame(rows, "video_id string, bytes binary, w string, h int")
    got = sorted((r.row_id, r.rule_id) for r in multimodal.gif_header_check(df).collect())
    assert got == sorted([*_GIF_VIOLATIONS, ("w_5x", "gif_w_match")])
    assert _header_rule_violations(df, "gif_header_consistent", "video_id", "w") == [
        "bad_w", "w_5x",
    ]
    assert "w_5x" in _header_rule_violations(df, "gif_header_consistent", "video_id")


def test_wav_header_non_integer_declared_values_are_violations(spark):
    """Declared ``sample_rate`` / ``n_samples`` that are present but not
    integers ("5x" in string columns) fail ``wav_rate_match`` /
    ``wav_n_samples_match`` in the operator and the rule kind, instead of
    aborting on an ANSI cast error; NULL declared values still pass."""
    from xmlschema_spark.operators import multimodal

    good = bytearray(containers.encode_wav(_sine(), 8000))  # mono, 16-bit, 1600 samples
    rows = [
        ("ok", good, "8000", 1, 16, "1600"),
        ("rate_5x", good, "5x", 1, 16, "1600"),
        ("n_5x", good, "8000", 1, 16, "5x"),
        ("null_meta", good, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "audio_id string, bytes binary, sample_rate string, channels int, bits int,"
        " n_samples string",
    )
    got = sorted((r.row_id, r.rule_id) for r in multimodal.wav_header_check(df).collect())
    assert got == [("n_5x", "wav_n_samples_match"), ("rate_5x", "wav_rate_match")]
    kind = "wav_header_consistent"
    assert _header_rule_violations(df, kind, "audio_id", "rate") == ["rate_5x"]
    assert _header_rule_violations(df, kind, "audio_id", "n_samples") == ["n_5x"]
    assert _header_rule_violations(df, kind, "audio_id") == ["n_5x", "rate_5x"]


def test_gif_header_rule_kind(spark):
    from xmlschema_spark.compiler import compile_row_rule
    from xmlschema_spark.engine import ValidationEngine
    from xmlschema_spark.rules import Rule, RuleCompileError, RuleSet

    good = containers.encode_gif([np.zeros((4, 4, 3), np.uint8)])
    df = spark.createDataFrame(
        [("a", bytearray(good), 4, 4, "p0"), ("b", bytearray(good[:-1]), 4, 4, "p0")],
        "video_id string, bytes binary, w int, h int, part string",
    )
    rules = RuleSet([
        Rule(rule_id="gif_ok", kind="gif_header_consistent", column="bytes"),
    ])
    res = ValidationEngine(rules, id_col="video_id", partition_col="part").validate(
        df, run_id="gif", with_stats=False
    )
    assert [r.row_id for r in res.violations.collect()] == ["b"]
    with pytest.raises(RuleCompileError, match="gif_header_consistent check must be one of"):
        compile_row_rule(Rule(rule_id="x", kind="gif_header_consistent",
                              column="bytes", params={"check": "fps"}))


def test_wav_header_rule_kind_bad_check_raises(spark):
    from xmlschema_spark.compiler import compile_row_rule
    from xmlschema_spark.operators import multimodal  # noqa: F401 — registers the kind
    from xmlschema_spark.rules import Rule, RuleCompileError

    with pytest.raises(RuleCompileError, match="wav_header_consistent check must be one of"):
        compile_row_rule(Rule(rule_id="x", kind="wav_header_consistent",
                              column="bytes", params={"check": "tempo"}))
