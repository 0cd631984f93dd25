"""Deterministic image codecs for the validation engine.

The engine's per-row invariant (BASELINE.json input_hint) is: decode the
``bytes`` column, compare pixels against the deterministic reference
rendering, require PSNR >= 40 dB for lossy formats (allclose for
lossless) plus caption equality.

This container has no imaging libraries (no PIL/cv2), so:

* ``png`` is a REAL, self-contained PNG codec (spec-compliant subset:
  8-bit RGB, zlib DEFLATE, filter types 0-4 on decode, filter 0 on
  encode).  Round-trips with any standard PNG reader.
* ``jpeg`` / ``webp`` are DETERMINISTIC STUB codecs: a tiny container
  (magic + dims + zlib-compressed uniformly-quantized pixels) that
  simulates lossy quantization with an exactly reproducible error,
  so the PSNR arithmetic downstream is real.  Swap ``encode_stub_lossy``
  / ``decode_stub_lossy`` for a real libjpeg/libwebp binding in
  production — the Spark-side plumbing (binary column, Arrow batch
  decode, schema) does not change.

All functions are pure and executor-safe (no globals, no RNG). On a
corrupt or foreign payload every decoder raises one of ``DATA_ERRORS``;
any other exception is an engine fault.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# what the decoders (and the datagen renderers' id parse) raise on bad
# data — the per-row media harness turns exactly these into row faults
DATA_ERRORS = (ValueError, zlib.error, struct.error)


PNG_SIG = b"\x89PNG\r\n\x1a\n"
STUB_MAGIC = {"jpeg": b"QJPG", "webp": b"QWBP"}
# quantization step per stub format at default quality; step 8 yields
# PSNR ~= 20*log10(255 / (8/sqrt(12))) ~= 40.9 dB — just above the
# 40 dB gate, like a high-quality JPEG.
DEFAULT_QSTEP = {"jpeg": 8, "webp": 8}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a standard RGB8 PNG."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    # filter byte 0 (None) per scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters (types 0-4). Returns (h, stride) bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = raw[y, 0]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-neighbor scan
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode an RGB8 PNG produced by ``encode_png`` (or any 8-bit RGB,
    non-interlaced PNG) into an (h, w, 3) uint8 array."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("only 8-bit RGB non-interlaced supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    stride = w * 3
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + stride)
    if (raw[:, 0] == 0).all():  # fast path: our own encoder output
        return raw[:, 1:].reshape(h, w, 3).copy()
    return _unfilter(raw, h, stride, 3).reshape(h, w, 3)


def encode_stub_lossy(img: np.ndarray, fmt: str, qstep: int | None = None) -> bytes:
    """STUB lossy encoder (see module docstring): deterministic uniform
    quantization with step ``qstep`` + zlib. NOT a real JPEG/WebP."""
    q = qstep or DEFAULT_QSTEP[fmt]
    h, w = img.shape[:2]
    quant = ((img.astype(np.int32) // q) * q + q // 2).clip(0, 255).astype(np.uint8)
    return (
        STUB_MAGIC[fmt]
        + struct.pack(">IIB", w, h, min(q, 255))
        + zlib.compress(quant.tobytes(), 6)
    )


def decode_stub_lossy(data: bytes) -> np.ndarray:
    for fmt, magic in STUB_MAGIC.items():
        if data[:4] == magic:
            w, h, _q = struct.unpack(">IIB", data[4:13])
            pix = np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8)
            return pix.reshape(h, w, 3).copy()
    raise ValueError("not a stub-lossy payload")


def encode_image(img: np.ndarray, fmt: str, qstep: int | None = None) -> bytes:
    if fmt == "png":
        return encode_png(img)
    if fmt in STUB_MAGIC:
        return encode_stub_lossy(img, fmt, qstep)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt in STUB_MAGIC:
        return decode_stub_lossy(data)
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; ``inf`` for identical images,
    ``-inf`` for shape mismatch (counts as a hard pixel violation)."""
    if a.shape != b.shape:
        return float("-inf")
    if a.dtype == np.uint8 and b.dtype == np.uint8:
        # equality short-circuit (r6): in the validation pass MOST rows
        # are bit-exact matches (lossless formats), and a uint8 compare
        # reads 1 byte/element with no temporaries vs the diff path's
        # int16 casts — measured ~2.5x on the matching rows, and the
        # unequal rows pay only this cheap pre-scan before the real MSE
        if np.array_equal(a, b):
            return float("inf")
        # integer diff path — bit-identical to the float64 formulation:
        # every diff is an exact integer in [-255, 255], every square
        # <= 255² is exact in float64, and the accumulated sum stays
        # < 2^53 for any image under ~180 gigapixels, so the fused
        # sum-of-squares is exact regardless of summation order (same
        # value np.mean(d32*d32, dtype=float64) produced). einsum, NOT
        # np.dot: OpenBLAS ddot spins up one thread per core, and 8
        # concurrent Arrow workers each doing that on every row
        # oversubscribes the executor; einsum is single-threaded SIMD
        # and measured within ~25% of ddot at this size
        d = (a.astype(np.int16) - b.astype(np.int16)).ravel().astype(
            np.float64
        )
        mse = np.einsum("i,i->", d, d) / d.size
    else:
        mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


# ---------------------------------------------------------------------------
# WAV (RIFF PCM16) — a REAL audio codec in pure stdlib: the one audio
# container that needs no external library. mp3/flac/ogg stay stubbed in
# operators/multimodal.py; this gives the audio pipeline an executable
# end-to-end path (encode → Arrow batch decode → features) in this
# container.
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """PCM16 WAV bytes from an int16 array shaped (n,) mono or
    (n, channels)."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.tobytes()  # interleaved little-endian
    byte_rate = sample_rate * ch * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sample_rate, byte_rate, ch * 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """(samples int16 (n, channels), sample_rate) from PCM16 RIFF/WAVE.
    Walks chunks properly (fmt may not directly precede data)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sample_rate, channels, bits = None, None, None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 1 or bits != 16:
                raise ValueError("only PCM16 supported")
        elif tag == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if pcm is None or sample_rate is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(pcm, dtype="<i2")
    return samples.reshape(-1, channels).copy(), int(sample_rate)


# ---------------------------------------------------------------------------
# Video: YUV4MPEG2 (Y4M) — a REAL, pure-stdlib uncompressed video codec
# (the video analog of decode_wav). Y4M is the standard raw-video
# interchange container (mjpegtools/ffmpeg): one ASCII header line,
# then per frame a "FRAME\n" marker + raw planar YCbCr. We support
# C444 (full-res chroma) and C420jpeg/C420mpeg2/C420 (2x2-subsampled
# chroma, upsampled by replication on decode). Colorspace is full-range
# BT.601 (JPEG-style), integer-rounded — C444 round-trips RGB to
# within +/-1 per channel (PSNR >> 40 dB). Compressed codecs (h264 et
# al) need ffmpeg and degrade per-row upstream.
# ---------------------------------------------------------------------------

Y4M_MAGIC = b"YUV4MPEG2"


def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB → full-range BT.601 YCbCr, uint8."""
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.rint(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(img: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 full-range BT.601 YCbCr → RGB, uint8."""
    f = img.astype(np.float64)
    y, cb, cr = f[..., 0], f[..., 1] - 128.0, f[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_y4m(frames: np.ndarray, fps: int = 30, subsampling: str = "444") -> bytes:
    """Y4M bytes from (n_frames, h, w, 3) uint8 RGB frames.
    subsampling: '444' (lossless to +/-1) or '420' (2x2 chroma mean)."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w = frames.shape[:3]
    if subsampling == "420" and (h % 2 or w % 2):
        raise ValueError("C420 needs even dimensions")
    ctag = "C444" if subsampling == "444" else "C420jpeg"
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 {ctag}\n".encode()]
    for fr in frames:
        ycc = rgb_to_ycbcr(fr)
        out.append(b"FRAME\n")
        out.append(ycc[..., 0].tobytes())
        if subsampling == "444":
            out.append(ycc[..., 1].tobytes())
            out.append(ycc[..., 2].tobytes())
        else:
            for ch in (1, 2):
                p = ycc[..., ch].astype(np.float64)
                sub = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
                out.append(np.clip(np.rint(sub), 0, 255).astype(np.uint8).tobytes())
    return b"".join(out)


def decode_y4m(data: bytes) -> tuple[list[np.ndarray], int]:
    """([(h, w, 3) uint8 RGB frames], fps) from Y4M bytes."""
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fps = 30
    ctag = "C420jpeg"  # the spec default when no C tag is present
    for tok in data[len(Y4M_MAGIC):nl].decode("ascii", "replace").split():
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(v) for v in tok[1:].split(":"))
            if not den:
                raise ValueError(f"bad Y4M frame rate {tok}")
            fps = max(1, round(num / den))
        elif tok[0] == "C":
            ctag = tok
    if not w or not h:
        raise ValueError("missing W/H in Y4M header")
    if ctag.startswith("C444"):
        sub = False
    elif ctag.startswith("C420"):
        sub = True
    else:
        raise ValueError(f"unsupported subsampling {ctag}")
    ysz = w * h
    csz = ysz if not sub else (w // 2) * (h // 2)
    frames = []
    pos = nl + 1
    while pos < len(data):
        fnl = data.find(b"\n", pos)
        if fnl < 0 or not data[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad FRAME marker")
        pos = fnl + 1
        if pos + ysz + 2 * csz > len(data):
            raise ValueError("truncated frame")
        y = np.frombuffer(data, np.uint8, ysz, pos).reshape(h, w)
        cb = np.frombuffer(data, np.uint8, csz, pos + ysz)
        cr = np.frombuffer(data, np.uint8, csz, pos + ysz + csz)
        if sub:
            cb = cb.reshape(h // 2, w // 2).repeat(2, 0).repeat(2, 1)
            cr = cr.reshape(h // 2, w // 2).repeat(2, 0).repeat(2, 1)
        else:
            cb = cb.reshape(h, w)
            cr = cr.reshape(h, w)
        frames.append(ycbcr_to_rgb(np.stack([y, cb, cr], axis=-1)))
        pos += ysz + 2 * csz
    return frames, fps
