"""Pure-Python audio/video container codecs: RIFF/WAVE PCM and GIF87a/89a.

These are the default ``decode_fn`` implementations behind the pluggable
codec hooks of ``operators/multimodal.py`` (``audio_features`` /
``extract_frames``): this sandbox ships no soundfile/ffmpeg/PIL, but both
of these REAL container formats are trivially parseable with stdlib
``struct`` + numpy, so the audio/video operators get an executed
end-to-end path instead of an interface-only contract. The scaled analog
of the reference's principle that every declared format gets a real
decoder (/root/reference/xmlschema/validators/builtins.py:144-155 — the
hex/base64 lexical decoders are real codecs, not stubs).

- WAV: canonical RIFF/WAVE with a generic chunk walk; PCM (format 1)
  8/16-bit, any channel count (decoded to mono float64 in [-1, 1]).
- GIF: GIF87a/GIF89a with a global color table and a REAL variable-width
  LZW decoder (handles any conformant stream, not just our encoder's
  output); 89a graphic-control/application extensions are skipped.

The matching encoders exist so fixtures and tests can generate real
container bytes deterministically — ``encode_gif`` quantizes to a fixed
6x6x6 color cube and emits the classic "uncompressed GIF" LZW stream
(literal codes with periodic clears, decodable by ANY conformant LZW
decoder), ``encode_wav`` writes the canonical 44-byte-header layout that
``operators.multimodal.wav_header_check`` validates JVM-side.

Everything is per-payload numpy (no per-sample Python loops on the decode
hot paths: PCM conversion, palette mapping and pixel assembly are
vectorized; the LZW symbol loop is inherently sequential but touches only
index lists, not pixels).
"""

from __future__ import annotations

import struct
import zlib  # noqa: F401  (kept for API parity with functions.codec)

import numpy as np

# --------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM)
# --------------------------------------------------------------------------

WAV_HEADER_LEN = 44  # canonical layout: RIFF(12) + fmt chunk(24) + data hdr(8)


def encode_wav(
    samples: np.ndarray,
    rate: int,
    channels: int = 1,
    bits: int = 16,
) -> bytes:
    """Encode float samples in [-1, 1] (shape (n,) or (n, channels)) as a
    canonical-layout PCM WAV: ``RIFF`` + ``fmt `` + ``data`` with no extra
    chunks, the exact 44-byte-header shape ``wav_header_check`` validates."""
    if bits not in (8, 16):
        raise ValueError(f"bits must be 8 or 16, got {bits}")
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError(f"expected (n,) or (n, channels) samples, got shape {s.shape}")
    if s.shape[1] != channels:
        if s.shape[1] == 1:
            s = np.repeat(s, channels, axis=1)
        else:
            raise ValueError(f"samples have {s.shape[1]} channels, declared {channels}")
    s = np.clip(s, -1.0, 1.0)
    if bits == 16:
        pcm = np.round(s * 32767.0).astype("<i2").tobytes()
    else:
        pcm = (np.round(s * 127.0) + 128).astype(np.uint8).tobytes()
    block_align = channels * bits // 8
    byte_rate = rate * block_align
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate, block_align, bits)
    hdr += b"data" + struct.pack("<I", len(pcm))
    return hdr + pcm


def decode_wav(data) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV to (mono float64 samples in [-1, 1], sample_rate).

    Generic RIFF chunk walk (tolerates extra chunks like LIST/INFO in any
    order), PCM format only, 8/16-bit, multi-channel averaged to mono.
    Raises ValueError on any corruption — the row-drop/`decode_ok=false`
    signal of the multimodal operators."""
    if data is None:  # a NULL payload is truncated, not a TypeError
        data = b""
    buf = bytes(data) if not isinstance(data, (bytes, bytearray)) else data
    if len(buf) < 12:
        raise ValueError("truncated RIFF header")
    if buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError(f"bad magic {buf[0:4]!r}/{buf[8:12]!r}")
    fmt = None
    pcm = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos: pos + 4]
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8: pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16 or len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if len(body) < clen:
                raise ValueError("truncated data chunk")
            pcm = body
        pos += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"not PCM (format {audio_format})")
    if bits not in (8, 16):
        raise ValueError(f"unsupported bit depth {bits}")
    if channels < 1 or block_align != channels * bits // 8:
        raise ValueError(f"inconsistent fmt: channels={channels} block_align={block_align}")
    n_frames = len(pcm) // block_align
    if n_frames * block_align != len(pcm):
        raise ValueError("data chunk not frame-aligned")
    if bits == 16:
        arr = np.frombuffer(pcm, "<i2", count=n_frames * channels).astype(np.float64) / 32768.0
    else:
        arr = (np.frombuffer(pcm, np.uint8, count=n_frames * channels).astype(np.float64) - 128.0) / 128.0
    return arr.reshape(n_frames, channels).mean(axis=1), int(rate)


# --------------------------------------------------------------------------
# GIF87a / GIF89a (global color table, real LZW)
# --------------------------------------------------------------------------

# fixed deterministic palette: the 6x6x6 color cube (216 entries) padded to
# the mandatory power-of-two GCT size of 256
_CUBE = np.arange(6) * 51
GIF_PALETTE = np.zeros((256, 3), np.uint8)
GIF_PALETTE[:216] = (
    np.stack(np.meshgrid(_CUBE, _CUBE, _CUBE, indexing="ij"), axis=-1)
    .reshape(216, 3)
    .astype(np.uint8)
)


def quantize_to_palette(pixels: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 → (h, w) palette indices into the 6x6x6 cube
    (round-to-nearest per channel — deterministic, vectorized)."""
    q = ((pixels.astype(np.uint16) + 25) // 51).clip(0, 5)
    return (q[..., 0] * 36 + q[..., 1] * 6 + q[..., 2]).astype(np.uint8)


def _lzw_encode_literal(indices: np.ndarray, min_code_size: int = 8) -> bytes:
    """The classic "uncompressed GIF" LZW stream: every pixel index is
    emitted as a literal code at ``min_code_size + 1`` bits, with a CLEAR
    code every 250 symbols so the decoder's table never forces a width
    increase. Decodable by any conformant LZW decoder."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for i, idx in enumerate(indices.ravel().tolist()):
        if i and i % 250 == 0:
            emit(clear)
        emit(int(idx))
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """Real variable-width LZW decode of a GIF image data stream →
    ``expected`` palette indices. Standard dictionary algorithm: width
    grows as the table fills, CLEAR resets, the KwKwK case handled."""
    clear = 1 << min_code_size
    end = clear + 1
    base = [(i,) for i in range(clear)] + [(), ()]
    table = list(base)
    width = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > expected:
            raise ValueError("LZW decoded more pixels than the frame holds")
    if len(out) != expected:
        raise ValueError(f"LZW decoded {len(out)} pixels, expected {expected}")
    return np.asarray(out, np.uint16)


def encode_gif(frames: list[np.ndarray]) -> bytes:
    """Encode (h, w, 3) uint8 frames (all the same size) as a multi-image
    GIF87a with the fixed 6x6x6 global color table. Lossy exactly by the
    palette quantization: decode returns ``GIF_PALETTE[quantize(frame)]``."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 2^(7+1)=256 entries
    out += GIF_PALETTE.tobytes()
    for fr in frames:
        if fr.shape[:2] != (h, w) or fr.ndim != 3 or fr.shape[2] != 3:
            raise ValueError("all frames must be (h, w, 3) of the same size")
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(8)  # LZW min code size
        stream = _lzw_encode_literal(quantize_to_palette(fr))
        for i in range(0, len(stream), 255):
            block = stream[i: i + 255]
            out.append(len(block))
            out += block
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(data) -> list[np.ndarray]:
    """Decode a GIF87a/GIF89a to its list of (h, w, 3) uint8 frames.

    Real parser: logical screen descriptor, global/local color tables,
    89a extension blocks skipped, per-image LZW decode. Frames smaller
    than the screen are composited onto the previous frame at their
    (left, top) offset, starting from the GCT background. Interlaced
    images are rejected (ValueError). Raises ValueError on corruption."""
    if data is None:  # a NULL payload is truncated, not a TypeError
        data = b""
    buf = bytes(data) if not isinstance(data, (bytes, bytearray)) else data
    if len(buf) < 13:
        raise ValueError("truncated GIF header")
    if buf[0:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"bad magic {buf[0:6]!r}")
    sw, sh = struct.unpack_from("<HH", buf, 6)
    packed = buf[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(buf):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(buf, np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    frames: list[np.ndarray] = []
    canvas = np.zeros((sh, sw, 3), np.uint8)
    if gct is not None and len(gct) > buf[11]:
        canvas[:] = gct[buf[11]]

    def _subblocks(p: int) -> tuple[bytes, int]:
        chunks = []
        while True:
            if p >= len(buf):
                raise ValueError("unterminated sub-block sequence")
            ln = buf[p]
            p += 1
            if ln == 0:
                return b"".join(chunks), p
            if p + ln > len(buf):
                raise ValueError("truncated sub-block")
            chunks.append(buf[p: p + ln])
            p += ln

    while True:
        if pos >= len(buf):
            raise ValueError("missing GIF trailer")
        block = buf[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # 89a extension: label byte + sub-blocks
            if pos >= len(buf):
                raise ValueError("truncated extension")
            _, pos = _subblocks(pos + 1)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown block 0x{block:02x}")
        if pos + 9 > len(buf):
            raise ValueError("truncated image descriptor")
        left, top, iw, ih = struct.unpack_from("<HHHH", buf, pos)
        ipacked = buf[pos + 8]
        pos += 9
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(buf):
                raise ValueError("truncated local color table")
            table = np.frombuffer(buf, np.uint8, count=3 * n, offset=pos).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("image has no color table")
        if pos >= len(buf):
            raise ValueError("missing LZW min code size")
        min_code = buf[pos]
        if not 2 <= min_code <= 11:
            raise ValueError(f"bad LZW min code size {min_code}")
        stream, pos = _subblocks(pos + 1)
        idx = _lzw_decode(stream, min_code, iw * ih)
        if idx.max(initial=0) >= len(table):
            raise ValueError("palette index out of range")
        if left + iw > sw or top + ih > sh:
            raise ValueError("frame exceeds logical screen")
        canvas[top: top + ih, left: left + iw] = table[idx].reshape(ih, iw, 3)
        frames.append(canvas.copy())
    if not frames:
        raise ValueError("GIF contains no image")
    return frames
