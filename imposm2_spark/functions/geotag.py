"""F-GEO: deterministic per-document geotag (FIXTURES.md §1 rule, frozen).

Rule: if the html carries a `<meta name="geo.position" content="{lat};{lon}">`
tag, use it; otherwise derive a deterministic fallback from the url:
    lon = (blake2b(url, digest_size=8, salt=b'lon') % 3_600_000) / 10_000 - 180
    lat mapped into [-85.05, 85.05] with salt b'lat' (web-mercator clamp).

Reference analog: imposm2's node (lon, lat) is intrinsic to the input; the
graft derives it, after which documents play the node-stream role (SURVEY §1.3).

geotag_pair applies the rule to one document; geotag_batch applies it to a
whole Arrow batch (one regex pass over its html bytes, blake2b only for the
rows without a tag) inside plans.pipeline's one enrich crossing.
"""

from __future__ import annotations

import re
from hashlib import blake2b

import numpy as np
import pyarrow as pa

from ..kernels.texthash import value_buffer

# lat;lon with optional whitespace — the geo.position microformat
_GEO_META_RE = re.compile(
    rb'<meta\s+name="geo\.position"\s+content="\s*(-?\d+(?:\.\d+)?)\s*;'
    rb'\s*(-?\d+(?:\.\d+)?)\s*"',
    re.IGNORECASE,
)

LAT_CLAMP = 85.05


def fallback_lon(url: str) -> float:
    h = int.from_bytes(blake2b(url.encode("utf-8"), digest_size=8, salt=b"lon").digest(), "big")
    return (h % 3_600_000) / 10_000.0 - 180.0


def fallback_lat(url: str) -> float:
    h = int.from_bytes(blake2b(url.encode("utf-8"), digest_size=8, salt=b"lat").digest(), "big")
    span = int(2 * LAT_CLAMP * 10_000)  # 0.0001-degree grid over the clamp range
    return (h % span) / 10_000.0 - LAT_CLAMP


def geotag_pair(url: str | None, html: bytes | None) -> tuple[float, float]:
    """(lon, lat) for one document — geo meta wins, else url-hash fallback.

    A NULL url hashes as the empty string (review r5: url.encode() on None
    raised AttributeError and killed the whole Arrow batch; one dirty row
    must not fail the spine stage). Deterministic: every null-url document
    lands on the same fallback point."""
    if isinstance(html, (bytes, bytearray)):
        m = _GEO_META_RE.search(html)
        if m:
            lat = float(m.group(1))
            lon = float(m.group(2))
            return lon, lat
    # any non-str url (None) reads as the empty url
    u = url if isinstance(url, str) else ""
    return fallback_lon(u), fallback_lat(u)


def geotag_batch(url: pa.Array, html: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) float64 arrays: geotag_pair of every row of an Arrow
    batch (url string, html binary), at batch cost.

    One _GEO_META_RE pass over the batch's html bytes; a row takes its first
    match, the rows without one take the url-hash fallback. A match cannot
    start in one row and depend on the next without running into it, so a
    match that spans two rows sends the whole batch to geotag_pair."""
    data, bounds, valid = value_buffer(html)
    n = len(html)
    lon = np.full(n, np.nan)
    lat = np.full(n, np.nan)
    hits = [(m.start(), m.end(), m[1], m[2]) for m in _GEO_META_RE.finditer(data.tobytes())]
    if hits:
        start, end, lat_s, lon_s = zip(*hits)
        row = np.searchsorted(bounds, start, side="right") - 1
        if (np.asarray(end) > bounds[row + 1]).any():
            pairs = np.array([geotag_pair(u, h) for u, h in zip(url.to_pylist(), html.to_pylist())],
                             dtype=np.float64).reshape(n, 2)
            return pairs[:, 0].copy(), pairs[:, 1].copy()
        row, first = np.unique(row, return_index=True)
        keep = valid[row]
        row, first = row[keep], first[keep]
        # numpy parses a byte string to the correctly rounded double, as float() does
        lat[row] = np.array(lat_s, dtype=bytes)[first].astype(np.float64)
        lon[row] = np.array(lon_s, dtype=bytes)[first].astype(np.float64)
    rest = np.flatnonzero(np.isnan(lon))
    if len(rest):
        urls = [u if isinstance(u, str) else "" for u in url.take(pa.array(rest)).to_pylist()]
        lon[rest] = [fallback_lon(u) for u in urls]
        lat[rest] = [fallback_lat(u) for u in urls]
    return lon, lat
