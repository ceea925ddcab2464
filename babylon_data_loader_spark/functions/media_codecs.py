"""Pure-Python/numpy media codecs for the multimodal column family.

This container ships no image/audio libraries, but several real
formats are decodable from first principles with only the stdlib and
numpy — which is what these are: actual byte-level codecs, not stubs.

- BMP  : 24-bit uncompressed BI_RGB, full encode + decode
- PPM  : binary P6 decode
- PNG  : 8-bit gray/RGB/RGBA non-interlaced decode (zlib inflate +
         scanline unfilter, incl. Paeth)
- WAV  : PCM16 RIFF encode + decode
- JPEG / GIF and anything else: `decode_image` falls back to Pillow
         when it is importable

`decode_image` sniffs the magic bytes and dispatches; unsupported
payloads raise ValueError so callers fail loudly instead of producing
garbage features. Everything here runs inside Arrow-batched
`mapInPandas` workers (multimodal.py) — payload bytes never visit the
driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

try:  # optional accelerator/fallback for formats we don't hand-decode
    from PIL import Image as _PILImage  # type: ignore
except Exception:  # pragma: no cover - Pillow absent in this container
    _PILImage = None


# -- BMP ---------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → 24-bit uncompressed BMP bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_size = (3 * w + 3) // 4 * 4
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    bgr = px[:, :, ::-1]
    pad = b"\x00" * (row_size - 3 * w)
    rows = [bgr[r].tobytes() + pad for r in range(h - 1, -1, -1)]
    return header + info + b"".join(rows)


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → HxWx3 uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    bottom_up = h > 0
    h = abs(h)
    row_size = (3 * w + 3) // 4 * 4
    arr = np.frombuffer(data, np.uint8, row_size * h, data_offset).reshape(
        h, row_size
    )
    px = arr[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]
    if bottom_up:
        px = px[::-1]
    return px.copy()


# -- PPM (binary P6) ---------------------------------------------------------


def decode_ppm(data: bytes) -> np.ndarray:
    if data[:2] != b"P6":
        raise ValueError("not a binary PPM payload")
    # header = magic, width, height, maxval — whitespace/comment
    # separated, then a single whitespace byte before pixel data.
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while data[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return (
        np.frombuffer(data, np.uint8, w * h * 3, pos)
        .reshape(h, w, 3)
        .copy()
    )


# -- PNG ---------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """8-bit gray/RGB/RGBA non-interlaced PNG → HxWx3 uint8 RGB."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            meta = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _, _, interlace = meta
    if bit_depth != 8 or color_type not in (0, 2, 6) or interlace:
        raise ValueError("only 8-bit non-interlaced gray/RGB/RGBA PNG")
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    stride = w * nch
    raw = zlib.decompress(b"".join(idat))
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth — sequential in x
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, nch)
    if nch == 1:
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()


def decode_image(data: bytes) -> np.ndarray:
    """Payload bytes → HxWx3 uint8 RGB, dispatched on magic bytes.

    BMP/PPM/PNG decode natively; other formats fall back to Pillow
    when importable, else raise."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:8] == _PNG_MAGIC:
        return decode_png(data)
    if _PILImage is not None:
        import io

        try:
            with _PILImage.open(io.BytesIO(data)) as im:
                return np.asarray(im.convert("RGB"))
        except Exception as exc:  # pragma: no cover
            raise ValueError(f"Pillow could not decode payload: {exc}")
    raise ValueError("unsupported image format")


# -- WAV (PCM16) -------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 samples (1-D mono or (n, channels)) → RIFF/WAVE PCM16."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    body = s.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
        )
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 → ((n, channels) int16 array, sample_rate)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, payload = 12, None, None
    while pos + 8 <= len(data):
        cid, length = struct.unpack_from("<4sI", data, pos)
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", data, pos + 8)
        elif cid == b"data":
            payload = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, ch, sample_rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only PCM16 WAV supported")
    return np.frombuffer(payload, "<i2").reshape(-1, ch), sample_rate


# -- Y4M (YUV4MPEG2) video ---------------------------------------------------


def encode_y4m(frames: np.ndarray, fps_num: int) -> bytes:
    """(n_frames, H, W, 3) uint8 YUV (C444 planar order per frame) →
    YUV4MPEG2 bytes. The simplest real video container: a text header
    then `FRAME\\n` + raw planes per frame — no entropy coding, which
    is exactly why it is decodable from first principles here."""
    n, h, w, _ = frames.shape
    header = f"YUV4MPEG2 W{w} H{h} F{fps_num}:1 Ip A1:1 C444\n"
    out = [header.encode("ascii")]
    for f in range(n):
        out.append(b"FRAME\n")
        # planar: all Y, then all U, then all V
        for c in range(3):
            out.append(frames[f, :, :, c].astype(np.uint8).tobytes())
    return b"".join(out)


def y4m_info(data: bytes) -> dict:
    """Container-level metadata without decoding pixel data:
    {width, height, fps_num, fps_den, n_frames, duration_s}.
    Frame count comes from the fixed frame stride (C444: 3·W·H), so
    this is O(1) arithmetic over the payload length plus one header
    parse — the cheap metadata pass a 100 TB video table wants."""
    nl = data.index(b"\n")
    head = data[:nl].decode("ascii", errors="strict")
    parts = head.split(" ")
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    num, den = 25, 1
    colorspace = "C420"
    for p in parts[1:]:
        if p.startswith("W"):
            w = int(p[1:])
        elif p.startswith("H"):
            h = int(p[1:])
        elif p.startswith("F"):
            num, den = (int(x) for x in p[1:].split(":"))
        elif p.startswith("C"):
            colorspace = p
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if not colorspace.startswith("C444"):
        raise ValueError("only C444 Y4M supported")
    frame_bytes = 3 * w * h
    body = len(data) - nl - 1
    stride = len(b"FRAME\n") + frame_bytes
    if body % stride:
        raise ValueError("truncated Y4M frame data")
    n_frames = body // stride
    return {
        "width": w,
        "height": h,
        "fps_num": num,
        "fps_den": den,
        "n_frames": n_frames,
        "duration_s": n_frames * den / num,
    }


def decode_y4m_frame(data: bytes, frame_idx: int) -> np.ndarray:
    """Random-access decode of ONE frame → (H, W, 3) uint8 YUV.
    Frame-sampling primitive: feature extraction reads k sampled
    frames without materializing the whole clip."""
    info = y4m_info(data)
    w, h, n = info["width"], info["height"], info["n_frames"]
    if not 0 <= frame_idx < n:
        raise IndexError(f"frame {frame_idx} out of range 0..{n-1}")
    nl = data.index(b"\n")
    frame_bytes = 3 * w * h
    stride = len(b"FRAME\n") + frame_bytes
    start = nl + 1 + frame_idx * stride
    if data[start : start + 6] != b"FRAME\n":
        raise ValueError("bad FRAME marker")
    raw = np.frombuffer(data, np.uint8, count=frame_bytes, offset=start + 6)
    return raw.reshape(3, h, w).transpose(1, 2, 0)


def nn_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample with the integer index map
    src = (dst * in) // out — deterministic (no float kernel), identity
    when dimensions are unchanged."""
    in_h, in_w = px.shape[0], px.shape[1]
    yi = (np.arange(out_h) * in_h) // out_h
    xi = (np.arange(out_w) * in_w) // out_w
    return px[yi][:, xi]


def linear_resample(
    samples: np.ndarray, sr: int, target_sr: int
) -> np.ndarray:
    """Linear-interpolation sample-rate conversion of int16 PCM:
    (n, ch) at `sr` → (floor(n·target/sr), ch) at `target_sr`.
    Output index j reads the fractional source position j·sr/target
    via np.interp, rounded half-away-from-zero back to int16 —
    identity when rates match, exactly the constant for
    constant-amplitude input (interpolating a constant is the
    constant, which is what lets q_media_resample pin features
    arithmetically). A production pipeline would use a windowed-sinc
    kernel; linear keeps the index-map semantics testable to the
    sample."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if sr == target_sr or n == 0:
        return s.astype(np.int16)
    n_out = (n * target_sr) // sr
    pos = np.arange(n_out) * (sr / target_sr)
    src = np.arange(n)
    out = np.empty((n_out, ch), dtype=np.int16)
    for c in range(ch):
        vals = np.interp(pos, src, s[:, c].astype(np.float64))
        out[:, c] = np.clip(
            np.floor(vals + 0.5), -32768, 32767
        ).astype(np.int16)
    return out
