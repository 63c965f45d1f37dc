"""T1-T3 + north-star extensions: the image preprocessing chain.

Reference chain (``ocr_service.py:70-94``): grayscale
(``preprocess_image``, :49-68, cv2 RGB2GRAY) then in-memory PNG encode
(:83-86) before recognition.  The folder path deliberately skips
preprocessing (:173-174) and keeps the source format when it is in
{PNG, JPEG, BMP, TIFF}, else re-encodes to PNG (:177-179).

The chain itself runs in the extraction kernel's recognize half
(``plans/fused.make_recognize_item``): grayscale and PNG encode come
from ``formats``; this module holds the north-star extensions (Otsu
binarization, deskew, DPI normalization) — real numpy implementations
behind explicit opt-in flags, default **off** to preserve
reference-identical bytes.
"""

from __future__ import annotations

import numpy as np

from .. import formats


def _otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's method on the 256-bin histogram (north-star extension)."""
    hist = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
    total = gray.size
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu_t * omega - mu) ** 2 / (omega * (total - omega))
    sigma_b[~np.isfinite(sigma_b)] = -1.0
    return int(np.argmax(sigma_b))


def otsu_binarize(gray: np.ndarray) -> np.ndarray:
    t = _otsu_threshold(gray)
    return np.where(gray > t, np.uint8(255), np.uint8(0))


def deskew(gray: np.ndarray) -> np.ndarray:
    """Integer row-shift deskew from per-row ink-centroid slope.

    Deterministic, interpolation-free: estimates the horizontal drift
    of dark pixels down the page by least squares and shears rows back.
    """
    ink = (gray < 128).astype(np.float64)
    row_mass = ink.sum(axis=1)
    rows = np.nonzero(row_mass > 0)[0]
    if rows.size < 2:
        return gray
    cols = np.arange(gray.shape[1], dtype=np.float64)
    centroids = (ink[rows] * cols).sum(axis=1) / row_mass[rows]
    x = rows.astype(np.float64)
    slope = float(np.polyfit(x, centroids, 1)[0]) if rows.size > 1 else 0.0
    if abs(slope) < 1e-3:
        return gray
    out = np.full_like(gray, 255)
    for y in range(gray.shape[0]):
        shift = int(round(-slope * y))
        if shift == 0:
            out[y] = gray[y]
        elif shift > 0:
            out[y, shift:] = gray[y, : gray.shape[1] - shift]
        else:
            out[y, :shift] = gray[y, -shift:]
    return out


def dpi_normalize(gray: np.ndarray, target_width: int = formats.PAGE_WIDTH) -> np.ndarray:
    """Nearest-neighbor rescale to a fixed raster width."""
    h, w = gray.shape
    if w == target_width:
        return gray
    scale = target_width / w
    new_h = max(1, int(round(h * scale)))
    ys = np.minimum((np.arange(new_h) / scale).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(target_width) / scale).astype(np.int64), w - 1)
    return gray[np.ix_(ys, xs)]
