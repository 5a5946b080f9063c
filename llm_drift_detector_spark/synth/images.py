"""Deterministic synthetic IMAGE tier: real 24-bit BMP and 8-bit RGB
PNG payloads with planted violation classes, for the multimodal image
operators.

Separate from the clips synth (``synth/clips.py``) so the audio tier's
on-disk cache is never invalidated by image changes.  Rows are fully
deterministic in (index) — no RNG — so tests and oracles can recompute
any row's expected features.

Container mix: ``i % 3 == 1`` rows are PNG (compressed, filtered
scanlines), everything else BMP (raw pixel rows) — the feature operator
dispatches per row on magic bytes, never on the metadata column.

Violation classes (by row index, disjoint):

- ``i % 10 == 3`` malformed: first two magic bytes corrupted
  (-> decode_failed; hits both containers as i varies)
- ``i % 10 == 7`` truncated: BMP rows cut the pixel region to half its
  rows at a byte offset; PNG rows compress only the first half of the
  scanlines while declaring full height (deterministic — a byte-level
  cut of a DEFLATE stream lands mid-row unpredictably)
  (-> truncated, rows_decoded < height)
- ``i % 10 == 5`` null payload (-> null_payload)

Everything else decodes cleanly (``ok``).
"""

from __future__ import annotations

import numpy as np

from .. import codecs
from ..session import local_frame

IMAGES_DDL = "item_id string, media binary, media_type string"


def make_pixels(i: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 gradient pattern for row i."""
    w = 8 + (i % 9)
    h = 6 + (i % 5)
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255) // max(w - 1, 1)
    g = (yy * 255) // max(h - 1, 1)
    b = (r + g + i * 7) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def is_png_row(i: int) -> bool:
    return i % 3 == 1


def image_rows(n: int = 100) -> list[tuple]:
    """n (item_id, media, media_type) tuples with the planted classes."""
    rows = []
    for i in range(n):
        item_id = f"img{i:05d}"
        png = is_png_row(i)
        media_type = "png" if png else "bmp"
        if i % 10 == 5:
            rows.append((item_id, None, media_type))
            continue
        px = make_pixels(i)
        if i % 10 == 7:
            h = px.shape[0]
            if png:
                payload = codecs.png_encode(px, rows_present=h // 2)
            else:
                stride = (px.shape[1] * 3 + 3) & ~3
                keep = codecs.BMP_HEADER_BYTES + (h // 2) * stride
                payload = codecs.bmp_encode(px)[:keep]
        else:
            payload = codecs.png_encode(px) if png else codecs.bmp_encode(px)
        if i % 10 == 3:
            payload = b"XX" + payload[2:]
        rows.append((item_id, bytes(payload), media_type))
    return rows


def images_frame(spark, n: int = 100):
    """The image tier as a DataFrame."""
    return local_frame(spark, image_rows(n), IMAGES_DDL)
