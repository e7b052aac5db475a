"""Pure-numpy BMP codec — makes the real image path testable without PIL.

The reference decodes real radiography images through Spark's ``image``
source (``spark/jobs/radiography_analysis.py:71-89``) and computes pixel
stats over ``image.data`` (``:127-131``). This container has no imaging
library, so the engine ships a dependency-free codec for the one format
both sides can handle exactly:

- **encode**: 24-bit uncompressed bottom-up BMP (BGR, 4-byte row padding)
  — the simplest spec-complete variant, and one Java's ImageIO reads, so
  files produced here are decodable by Spark's ``format("image")`` reader
  in the same JVM-only container.
- **decode**: 24/32-bit uncompressed BMPs, bottom-up or top-down — the
  shapes this encoder and common screenshot tools emit. Anything else
  (palettized, RLE, JPEG/PNG) is delegated to PIL by the caller when
  present.

Everything is vectorized numpy (reshape + slice, no per-pixel Python), so
the decoder is fit for Arrow-batched ``mapInPandas`` hot paths.
"""

from __future__ import annotations

import struct

import numpy as np

_FILE_HEADER = struct.Struct("<2sIHHI")  # magic, file size, res1, res2, data offset
_INFO_HEADER = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER (40 bytes)


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode a (h, w) grayscale or (h, w, 3) BGR uint8 array as a 24-bit
    uncompressed BMP (bottom-up, rows padded to 4 bytes)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h,w) or (h,w,3) uint8, got {arr.shape}")
    h, w, _ = a.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    padded = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    padded[:, :row_bytes] = a.reshape(h, row_bytes)
    pixels = padded[::-1].tobytes()  # bottom-up row order
    offset = _FILE_HEADER.size + _INFO_HEADER.size
    file_header = _FILE_HEADER.pack(b"BM", offset + len(pixels), 0, 0, offset)
    info_header = _INFO_HEADER.pack(
        _INFO_HEADER.size, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_header + info_header + pixels


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode an uncompressed 24/32-bit BMP to a (h, w, 3) uint8 BGR array.

    Handles bottom-up (positive height) and top-down (negative height)
    layouts and 4-byte row padding; 32-bit sources drop their padding/alpha
    byte. Raises ValueError on non-BMP bytes or unsupported sub-formats so
    callers can fall through to a real imaging library."""
    if len(data) < _FILE_HEADER.size + _INFO_HEADER.size or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    _, _, _, _, offset = _FILE_HEADER.unpack_from(data, 0)
    (
        header_size,
        w,
        h_signed,
        _planes,
        bpp,
        compression,
        *_rest,
    ) = _INFO_HEADER.unpack_from(data, _FILE_HEADER.size)
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP variant (bpp={bpp}, compression={compression}); "
            "use an imaging library for palettized/RLE/embedded formats"
        )
    top_down = h_signed < 0
    h = abs(h_signed)
    ch = bpp // 8
    stride = (w * ch + 3) & ~3
    pixels = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    rows = pixels.reshape(h, stride)[:, : w * ch].reshape(h, w, ch)
    if not top_down:
        rows = rows[::-1]
    return np.ascontiguousarray(rows[:, :, :3])
