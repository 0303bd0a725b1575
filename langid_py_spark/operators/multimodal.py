"""Multimodal column plumbing for the `media_features` query: opaque
binary payloads + typed metadata, synthesized (`synth_media`) and then
decoded in one Arrow-batched stage (`decode_features`).

The decode stage is REAL for three self-describing formats that need no
external library (r06, VERDICT r05 item 5): BMP (uncompressed 24-bit
BI_RGB, incl. 4-byte row padding and bottom-up row order), binary PPM
(P6), and PCM16 WAV — pure-NumPy header parse + frombuffer. Payload
synthesis encodes REAL pixels/samples with the matching pure-Python
encoders, so decode is exercised against genuine files, round-trip
property-tested. Mimes outside the bundled set fall through to the
clearly-marked deterministic stub (`_decode_stub`) — swapping it for
PIL/librosa remains a one-function change.

Design for 100 TB of media: payloads stay opaque `binary` until the last
possible stage (no JVM<->Python copies of blobs except in the decode
stage itself); `mapInPandas` streams Arrow batches so one task never
materializes more than `maxRecordsPerBatch` blobs; metadata columns
travel beside the payload so filters (mime, size) push down BEFORE
decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id bigint, mime string, nbytes int, payload binary"
)

FEATURE_SCHEMA = (
    "media_id bigint, mime string, nbytes int, "
    "width int, height int, feat array<float>"
)


# --------------------------------------------- pure-NumPy codecs (r06)
def encode_bmp(rgb: np.ndarray) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bit BI_RGB encoder. rgb: HxWx3 uint8.
    BMP stores rows BOTTOM-UP, pixels as BGR, each row padded to a
    4-byte boundary — all three quirks round-trip-tested."""
    h, w, _ = rgb.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += rgb[y, :, ::-1].tobytes() + b"\x00" * pad
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    hdr = (
        b"BM"
        + int(size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + int(pixel_off).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + int(w).to_bytes(4, "little", signed=True)
        + int(h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(body).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 DPI
        + (0).to_bytes(4, "little") * 2
    )
    return bytes(hdr) + bytes(body)


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(width, height, HxWx3 uint8 RGB) for uncompressed 24-bit BMP."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=pixel_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, h, rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_ppm(rgb: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255). rgb: HxWx3 uint8."""
    h, w, _ = rgb.shape
    return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(width, height, HxWx3 uint8 RGB) for binary P6 PPM (supports
    '#' comments and arbitrary whitespace in the header, per spec)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic + 3 whitespace-separated ints, '#' comments to EOL
    vals: list[int] = []
    i = 2
    while len(vals) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    rgb = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return w, h, rgb.reshape(h, w, 3).copy()


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal mono PCM16 RIFF/WAVE encoder. samples: int16 array."""
    data = samples.astype("<i2").tobytes()
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + int(rate).to_bytes(4, "little")
        + int(rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(n_samples, n_channels, int16 samples) for PCM16 WAV — walks the
    RIFF chunk list (fmt may be followed by LIST/fact before data)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    channels = bits = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        clen = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"fmt ":
            channels = int.from_bytes(payload[i + 10 : i + 12], "little")
            bits = int.from_bytes(payload[i + 22 : i + 24], "little")
        elif cid == b"data":
            if channels is None or bits != 16:
                raise ValueError(f"unsupported WAV (bits={bits})")
            samples = np.frombuffer(
                payload, dtype="<i2", count=clen // 2, offset=i + 8
            )
            return len(samples) // channels, channels, samples.copy()
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    raise ValueError("WAV data chunk not found")


def synth_payload(i: int) -> tuple[str, int, bytes]:
    """Deterministic per-id REAL media payload (mime, nbytes, payload) —
    random pixels/samples encoded with the bundled codecs. The single
    source of truth shared by synth_media AND scripts/make_golden.py, so
    a constant change here cannot silently desync the golden oracle."""
    rng = np.random.RandomState(9000 + int(i))
    mime = ["image/bmp", "image/x-portable-pixmap", "audio/wav"][int(i) % 3]
    if mime == "audio/wav":
        n = int(rng.randint(64, 1024))
        payload = encode_wav(
            rng.randint(-(2**15), 2**15, size=n).astype(np.int16)
        )
    else:
        w = int(rng.randint(4, 33))
        h = int(rng.randint(4, 33))
        rgb = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        payload = encode_bmp(rgb) if mime == "image/bmp" else encode_ppm(rgb)
    return mime, len(payload), payload


def synth_media(spark, n: int = 64, partitions: int = 4) -> DataFrame:
    """Deterministic fake media table (seeded per media_id)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            rows = []
            for i in ids:
                mime, nb, payload = synth_payload(int(i))
                rows.append((int(i), mime, nb, payload))
            yield pd.DataFrame(rows, columns=["media_id", "mime", "nbytes", "payload"])

    return spark.range(0, n, 1, numPartitions=partitions).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def _decode_stub(payload: bytes, mime: str) -> tuple[int, int, np.ndarray]:
    """STUB decode for mimes OUTSIDE the bundled codec set (jpeg/png/
    mp3/... need external libraries this container lacks): deterministic
    fake derived from the payload bytes so tests are stable —
    "dimensions" from the first bytes, an 8-dim "feature" from byte
    histogram moments. Real impl would be PIL.Image.open /
    soundfile.read.
    """
    if not payload:
        raise NotImplementedError("empty payload; real decoder not bundled")
    w = 16 + payload[0] % 240
    h = 16 + payload[1 % len(payload)] % 240
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 5, minlength=8).astype(np.float32)
    feat = hist / max(len(arr), 1)
    return w, h, feat


def _hist8(arr: np.ndarray) -> np.ndarray:
    """Shared 8-bin feature: normalized top-3-bit histogram of content
    bytes (pixels / samples) — deliberately the same shape as the stub's
    so downstream schema is mime-independent."""
    a = arr.reshape(-1).view(np.uint8) if arr.dtype != np.uint8 else arr.reshape(-1)
    hist = np.bincount(a >> 5, minlength=8).astype(np.float32)
    return hist / max(a.size, 1)


def decode_media(payload: bytes, mime: str) -> tuple[int, int, np.ndarray]:
    """(width, height, feat8): REAL decode for the bundled formats —
    dimensions come from the parsed header, features from the decoded
    CONTENT (pixels / samples), not the raw file bytes. For audio,
    width = frames per channel and height = channel count. Unknown
    mimes take the documented stub path."""
    if mime == "image/bmp":
        w, h, rgb = decode_bmp(payload)
        return w, h, _hist8(rgb)
    if mime in ("image/x-portable-pixmap", "image/ppm"):
        w, h, rgb = decode_ppm(payload)
        return w, h, _hist8(rgb)
    if mime in ("audio/wav", "audio/x-wav"):
        frames, channels, samples = decode_wav(payload)
        return frames, channels, _hist8(samples)
    return _decode_stub(payload, mime)


def decode_features(media: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extract stage (Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {
                "media_id": b["media_id"],
                "mime": b["mime"],
                "nbytes": b["nbytes"],
                "width": [],
                "height": [],
                "feat": [],
            }
            for payload, mime in zip(b["payload"], b["mime"]):
                w, h, f = decode_media(bytes(payload), mime)
                out["width"].append(w)
                out["height"].append(h)
                out["feat"].append(f.tolist())
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)

