"""Pure-stdlib WAV codec: 16-bit PCM and IEEE float32 RIFF/WAVE.

A WAV file is a RIFF chunk tree (Microsoft multimedia container spec,
public): ``RIFF <size> WAVE`` followed by tagged chunks. The decoder
walks the chunks defensively and normalizes every parse failure to
``ValueError``, so a caller can tell "malformed payload" from "format
not supported" (``NotImplementedError``: compressed formats such as
ADPCM/MP3/ALAW have no path here).

No query, CLI or extraction path uses this module; the transcript
payloads carry detection lines, not audio.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 samples, shape (n,) mono or (n, ch) → canonical RIFF/WAVE
    with one 'fmt ' and one 'data' chunk."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError("samples must be (n,) or (n, ch)")
    n, ch = s.shape
    data = s.tobytes()  # interleaved row-major == interleaved channels
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk_riff(data: bytes, form: bytes):
    """Yield (tag, payload) for each top-level chunk of a RIFF form."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != form:
        raise ValueError(f"not a RIFF {form.decode(errors='replace')} stream")
    pos, end = 12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + size]
        if len(payload) < size:
            raise ValueError("truncated RIFF chunk")
        yield tag, payload
        pos += 8 + size + (size % 2)  # skip alignment pad


def encode_wav_float32(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """float samples in [-1, 1], shape (n,) or (n, ch) → IEEE-float WAV
    (format 3, 32-bit)."""
    s = np.asarray(samples, dtype="<f4")
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError("samples must be (n,) or (n, ch)")
    n, ch = s.shape
    data = s.tobytes()
    block_align = ch * 4
    fmt = struct.pack(
        "<HHIIHH", 3, ch, sample_rate, sample_rate * block_align, block_align, 32
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, n)
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes → (sample_rate, samples) with samples int16 (n, ch).
    16-bit PCM (format 1) and IEEE float32 (format 3, scaled to int16);
    malformed input → ValueError, other formats → NotImplementedError."""
    fmt = pcm = None
    for tag, payload in _walk_riff(bytes(data), b"WAVE"):
        if tag == b"fmt " and fmt is None:
            if len(payload) < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif tag == b"data" and pcm is None:
            pcm = payload
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, ch, sample_rate, _byte_rate, _block_align, bits = fmt
    if ch < 1 or sample_rate < 1:
        raise ValueError("bad fmt fields")
    if audio_format == 3:  # IEEE float: scale [-1, 1] → int16
        if bits != 32:
            raise NotImplementedError(f"{bits}-bit float WAV (only float32)")
        usable = len(pcm) - len(pcm) % (4 * ch)
        f = np.frombuffer(pcm[:usable], dtype="<f4").reshape(-1, ch)
        return sample_rate, np.clip(
            np.rint(f.astype(np.float64) * 32767.0), -32768, 32767
        ).astype(np.int16)
    if audio_format != 1:
        raise NotImplementedError(f"WAV format {audio_format} (unsupported)")
    if bits != 16:
        raise NotImplementedError(f"{bits}-bit WAV (only 16-bit PCM)")
    usable = len(pcm) - len(pcm) % (2 * ch)
    samples = np.frombuffer(pcm[:usable], dtype="<i2").reshape(-1, ch)
    return sample_rate, samples


def wav_features(data: bytes) -> dict:
    """Deterministic audio features from a real decode: duration, RMS,
    peak, zero-crossing count. Integer/exact math, one final sqrt."""
    sample_rate, s = decode_wav(data)
    mono = s.astype(np.int64).sum(axis=1) // s.shape[1]  # channel mean
    n = len(mono)
    sq = int((mono * mono).sum())
    signs = mono[:-1] * mono[1:] if n > 1 else np.array([], dtype=np.int64)
    return {
        "sample_rate": int(sample_rate),
        "n_channels": int(s.shape[1]),
        "n_samples": n,
        "duration_ms": round(1000.0 * n / sample_rate, 3),
        "rms": round(float(np.sqrt(sq / n)) if n else 0.0, 3),
        "peak": int(np.abs(mono).max(initial=0)),
        "zero_crossings": int((signs < 0).sum()),
    }
