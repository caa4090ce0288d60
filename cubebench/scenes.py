"""Seeded scene generator for the cube benchmark.

Everything here is numpy + stdlib and independent of the program under
test: the GeoTIFF encoder, the projection math (Snyder, *Map
Projections - A Working Manual*, USGS PP 1395) and the SCL cloud model
are written for the benchmark, so the oracles never check the program
against itself.

Two input sets, one per workload, both derived from ``--seed``:

- ``warp_inputs``: Sentinel-2-like scenes in UTM 22S (EPSG:32722),
  one window of a shared 10 m UTM pixel grid per (Albers tile, date,
  band), placed to cover its tile with a margin. Neighbouring windows
  overlap, and each scene has its own swath-edge nodata cut, so the
  program has to warp and mosaic.
- ``grid_inputs``: scenes already on the Albers tile grid (one file per
  tile, date and band), for the decode path of the incremental refresh.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

ALBERS = ("+proj=aea +lat_0=-12 +lon_0=-54 +lat_1=-2 +lat_2=-22 "
          "+x_0=5000000 +y_0=10000000 +ellps=GRS80")
UTM = "EPSG:32722"
RES = 10.0
TILE_PX = 128
MARGIN_PX = 8
BANDS = ("B04", "B8A", "SCL")
BAND_NODATA = -9999
SCL_NODATA = 0
CLEAR = (4, 5, 6)
START = date(2020, 1, 1)
DATE_STEP_DAYS = 4
# The cloud share of each date and the nodata share of each scene follow
# fixed schedules, so every seed has the same mix (mostly partly cloudy,
# one clear and one heavily clouded date; 5 % nodata on average) and
# byte counts stay comparable between seeds. The seed moves the clouds,
# the surface, the values and the swath corners.
CLOUD_SHARE = (0.15, 0.35, 0.0, 0.75, 0.25, 0.45, 0.1, 0.3)
NODATA_SHARE = (0.0, 0.05, 0.10, 0.05)
# north-west corner of the first Albers tile (~51.5 W, 12.5 S, inside
# UTM zone 22); tiles are laid out eastwards from here
ALBERS_ORIGIN = (5_271_040.0, 9_944_960.0)

_GRS80 = (6378137.0, 1 / 298.257222101)
_WGS84 = (6378137.0, 1 / 298.257223563)


# -- projection math ---------------------------------------------------------

def _e2(ellps):
    f = ellps[1]
    return f * (2 - f)


def _albers_q(e, sin):
    return (1 - e * e) * (sin / (1 - e * e * sin * sin)
                          - np.log((1 - e * sin) / (1 + e * sin)) / (2 * e))


def _albers_consts():
    a, e = _GRS80[0], np.sqrt(_e2(_GRS80))
    lat0, lat1, lat2 = np.radians([-12.0, -2.0, -22.0])

    def m(phi):
        return np.cos(phi) / np.sqrt(1 - e * e * np.sin(phi) ** 2)

    q0, q1, q2 = (_albers_q(e, np.sin(p)) for p in (lat0, lat1, lat2))
    n = (m(lat1) ** 2 - m(lat2) ** 2) / (q2 - q1)
    c = m(lat1) ** 2 + n * q1
    rho0 = a * np.sqrt(c - n * q0) / n
    return a, e, n, c, rho0


def albers_inverse(x, y):
    """Albers x/y (metres) -> lon/lat (degrees). Latitude from q by
    Newton's method on q(phi) (Snyder 14-19 solved directly)."""
    a, e, n, c, rho0 = _albers_consts()
    x = np.asarray(x, float) - 5_000_000.0
    y = rho0 - (np.asarray(y, float) - 10_000_000.0)
    rho = np.hypot(x, y) * np.sign(n)
    theta = np.arctan2(np.sign(n) * x, np.sign(n) * y)
    q = (c - (rho * n / a) ** 2) / n
    phi = np.arcsin(np.clip(q / 2, -1, 1))
    for _ in range(10):
        sin = np.sin(phi)
        dq = 2 * (1 - e * e) * np.cos(phi) / (1 - e * e * sin * sin) ** 2
        phi = phi - (_albers_q(e, sin) - q) / dq
    return np.degrees(np.radians(-54.0) + theta / n), np.degrees(phi)


def utm22s_forward(lon, lat):
    """lon/lat (degrees) -> UTM zone 22 south easting/northing (Snyder
    8-9, 8-10 ellipsoidal transverse Mercator series)."""
    a, e2 = _WGS84[0], _e2(_WGS84)
    k0, lam0 = 0.9996, np.radians(-51.0)
    phi, lam = np.radians(np.asarray(lat, float)), np.radians(np.asarray(lon, float))
    ep2 = e2 / (1 - e2)
    sin, cos, tan = np.sin(phi), np.cos(phi), np.tan(phi)
    nu = a / np.sqrt(1 - e2 * sin * sin)
    t, cc = tan * tan, ep2 * cos * cos
    aa = (lam - lam0) * cos
    e4, e6 = e2 * e2, e2 ** 3
    m = a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
             - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * phi)
             + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
             - (35 * e6 / 3072) * np.sin(6 * phi))
    x = k0 * nu * (aa + (1 - t + cc) * aa ** 3 / 6
                   + (5 - 18 * t + t * t + 72 * cc - 58 * ep2) * aa ** 5 / 120)
    y = k0 * (m + nu * tan * (aa ** 2 / 2 + (5 - t + 9 * cc + 4 * cc * cc) * aa ** 4 / 24
                              + (61 - 58 * t + t * t + 600 * cc - 330 * ep2)
                              * aa ** 6 / 720))
    return x + 500_000.0, y + 10_000_000.0


def albers_to_utm(x, y):
    return utm22s_forward(*albers_inverse(x, y))


# -- GeoTIFF encoder -----------------------------------------------------------

def geotiff_bytes(arr: np.ndarray, origin: tuple[float, float], res: float,
                  nodata: int) -> bytes:
    """Single-band int16 GeoTIFF: one deflate strip, ModelPixelScale,
    ModelTiepoint and GDAL_NODATA. The nodata string is NUL-padded to
    more than four bytes so it is stored out of line, as every reader
    handles that form."""
    arr = np.ascontiguousarray(arr, dtype="<i2")
    h, w = arr.shape
    strip = zlib.compress(arr.tobytes(), 6)
    nd = str(nodata).encode().ljust(5, b"\0") + b"\0"
    ext = [(33550, 12, 3, struct.pack("<3d", res, res, 0.0)),
           (33922, 12, 6, struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)),
           (42113, 2, len(nd), nd)]
    inline = [(256, 4, w), (257, 4, h), (258, 3, 16), (259, 3, 8), (262, 3, 1),
              (273, 4, None), (277, 3, 1), (278, 4, h), (279, 4, len(strip)),
              (339, 3, 2)]
    n = len(inline) + len(ext)
    ext_off = 8 + 2 + 12 * n + 4
    payload, offs = b"", {}
    for tag, _t, _c, data in ext:
        offs[tag] = ext_off + len(payload)
        payload += data + (b"\0" if len(data) % 2 else b"")
    strip_off = ext_off + len(payload)
    entries = []
    for tag, typ, val in inline:
        val = strip_off if tag == 273 else val
        raw = struct.pack("<H2x", val) if typ == 3 else struct.pack("<I", val)
        entries.append((tag, struct.pack("<HHI", tag, typ, 1) + raw))
    for tag, typ, count, _d in ext:
        entries.append((tag, struct.pack("<HHII", tag, typ, count, offs[tag])))
    ifd = struct.pack("<H", n) + b"".join(e for _t, e in sorted(entries))
    return (struct.pack("<2sHI", b"II", 42, 8) + ifd + struct.pack("<I", 0)
            + payload + strip)


# -- synthetic surface + cloud model ------------------------------------------

def _smooth(rng, h, w, cell):
    """Bilinear-upsampled uniform noise in [0, 1): blobs ~``cell`` px."""
    gh, gw = h // cell + 2, w // cell + 2
    g = rng.random((gh, gw))
    ys = np.arange(h) / cell
    xs = np.arange(w) / cell
    y0, x0 = ys.astype(int), xs.astype(int)
    fy, fx = (ys - y0)[:, None], (xs - x0)[None, :]
    top = g[y0][:, x0] * (1 - fx) + g[y0][:, x0 + 1] * fx
    bot = g[y0 + 1][:, x0] * (1 - fx) + g[y0 + 1][:, x0 + 1] * fx
    return top * (1 - fy) + bot * fy


def surface_and_clouds(rng, h, w, cloud_frac):
    """One acquisition over an (h, w) area: B04, B8A and SCL arrays
    with a realistic class mix. Clear land is vegetation (4) or bare
    soil (5), water (6) where the water field is low; clouds are
    thin/medium/high (10/9/8) by blob density, with shadow (3) offset
    from them; sparse unclassified (7), dark (2), saturated (1) and
    snow (11) pixels."""
    veg = _smooth(rng, h, w, 24)
    water = _smooth(rng, h, w, 40) < 0.12
    red = (300 + 1200 * (1 - veg) + rng.integers(0, 80, (h, w))).astype(np.int64)
    nir = (1500 + 3000 * veg + rng.integers(0, 120, (h, w))).astype(np.int64)
    red[water] = 150 + rng.integers(0, 60, int(water.sum()))
    nir[water] = 80 + rng.integers(0, 60, int(water.sum()))
    scl = np.where(water, 6, np.where(veg > 0.35, 4, 5)).astype(np.int64)

    density = _smooth(rng, h, w, 16)
    cut = np.quantile(density, 1 - cloud_frac) if cloud_frac > 0 else 2.0
    cloud = density >= cut
    shadow = np.zeros_like(cloud)
    shadow[6:, 6:] = cloud[:-6, :-6]
    shadow &= ~cloud
    scl[shadow] = 3
    red[shadow] //= 3
    nir[shadow] //= 3
    level = np.where(density > cut + 0.15, 8, np.where(density > cut + 0.05, 9, 10))
    scl[cloud] = level[cloud]
    bright = 3000 + rng.integers(0, 5000, (h, w))
    red[cloud] = bright[cloud]
    nir[cloud] = bright[cloud] + 200
    noise = rng.random((h, w))
    for cls, p in ((7, 0.010), (2, 0.005), (1, 0.002), (11, 0.001)):
        hit = noise < p
        scl[hit] = cls
        noise = np.where(hit, 2.0, noise - p)
    return {"B04": red, "B8A": nir, "SCL": scl}


def swath_cut(rng, h, w, frac):
    """Per-scene swath-edge nodata: a triangle covering ``frac`` of the
    scene, in a corner the seed picks."""
    r, c = np.mgrid[0:h, 0:w]
    r = r if rng.random() < 0.5 else h - 1 - r
    c = c if rng.random() < 0.5 else w - 1 - c
    # triangle r/h + c/w < s covers s^2/2 of the area
    return r / h + c / w < np.sqrt(2 * frac)


def _apply_nodata(bands, mask):
    out = {}
    for b, arr in bands.items():
        a = arr.copy()
        a[mask] = SCL_NODATA if b == "SCL" else BAND_NODATA
        out[b] = a.astype(np.int16)
    return out


def dates(n):
    return [START + timedelta(days=DATE_STEP_DAYS * i) for i in range(n)]


def _write(path, data: bytes) -> int:
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


@dataclass
class Inputs:
    """What a generator wrote plus what the oracles need to know."""
    root: str
    files: int = 0
    bytes: int = 0
    pixels: int = 0               # tile px x bands x dates (the metric base)
    meta: dict = field(default_factory=dict)

    def manifest(self) -> dict:
        return {"root": os.path.basename(self.root), "files": self.files,
                "bytes": self.bytes, "pixels": self.pixels}


def albers_tiles(n_tiles: int) -> list[dict]:
    x0, y0 = ALBERS_ORIGIN
    return [{"tile_id": t, "west": x0 + t * TILE_PX * RES, "north": y0,
             "width": TILE_PX, "height": TILE_PX, "res": RES}
            for t in range(n_tiles)]


def _tile_window(tile) -> tuple[int, int, int, int]:
    """UTM window (global 10 m grid col0, row0, width, height) covering
    ``tile`` with MARGIN_PX on every side. The tile outline is densified
    so the bowed projected edges are covered too."""
    s = np.linspace(0, 1, 33)
    w, n = tile["west"], tile["north"]
    span = tile["width"] * tile["res"]
    xs = np.concatenate([w + s * span, np.full_like(s, w + span), w + s * span,
                         np.full_like(s, w)])
    ys = np.concatenate([np.full_like(s, n), n - s * span, np.full_like(s, n - span),
                         n - s * span])
    ex, ny = albers_to_utm(xs, ys)
    col0 = int(np.floor(ex.min() / RES)) - MARGIN_PX
    col1 = int(np.ceil(ex.max() / RES)) + MARGIN_PX
    row0 = -int(np.ceil(ny.max() / RES)) - MARGIN_PX   # rows grow southwards
    row1 = -int(np.floor(ny.min() / RES)) + MARGIN_PX
    return col0, row0, col1 - col0, row1 - row0


def warp_inputs(root: str, seed: int, n_tiles: int = 2, n_dates: int = 8) -> Inputs:
    """UTM scenes covering ``n_tiles`` Albers tiles for ``n_dates``
    dates. ``meta['scenes']`` keeps each scene's window and nodata mask
    so the footprint oracle can predict every tile's valid pixels."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    tiles = albers_tiles(n_tiles)
    wins = [_tile_window(t) for t in tiles]
    gc0 = min(c for c, _r, _w, _h in wins)
    gr0 = min(r for _c, r, _w, _h in wins)
    gw = max(c + w for c, _r, w, _h in wins) - gc0
    gh = max(r + h for _c, r, _w, h in wins) - gr0
    out = Inputs(root, meta={"tiles": tiles, "scenes": []})
    for di, d in enumerate(dates(n_dates)):
        field_ = surface_and_clouds(rng, gh, gw, CLOUD_SHARE[di % len(CLOUD_SHARE)])
        for si, (c0, r0, w, h) in enumerate(wins):
            win = {b: a[r0 - gr0:r0 - gr0 + h, c0 - gc0:c0 - gc0 + w]
                   for b, a in field_.items()}
            mask = swath_cut(rng, h, w, NODATA_SHARE[(di + si) % len(NODATA_SHARE)])
            arrs = _apply_nodata(win, mask)
            origin = (c0 * RES, -r0 * RES)
            stamp = d.strftime("%Y%m%d")
            for b in BANDS:
                nd = SCL_NODATA if b == "SCL" else BAND_NODATA
                name = f"S2A_MSIL2A_s{si:02d}_{stamp}T133859_{b}.tif"
                out.bytes += _write(os.path.join(root, name),
                                    geotiff_bytes(arrs[b], origin, RES, nd))
                out.files += 1
            out.meta["scenes"].append({"date": d, "origin": origin,
                                       "shape": (h, w), "nodata": mask})
    out.pixels = n_tiles * TILE_PX * TILE_PX * len(BANDS) * n_dates
    return out


def predicted_valid(tile: dict, scenes: list[dict]) -> int:
    """How many of ``tile``'s pixels a nearest-neighbour warp of
    ``scenes`` (one date) can fill: a destination pixel centre maps to
    the nearest source pixel of some scene that is inside the scene and
    not nodata."""
    h, w = tile["height"], tile["width"]
    rows, cols = np.mgrid[0:h, 0:w]
    x = tile["west"] + (cols + 0.5) * tile["res"]
    y = tile["north"] - (rows + 0.5) * tile["res"]
    ex, ny = albers_to_utm(x, y)
    filled = np.zeros((h, w), bool)
    for s in scenes:
        sh, sw = s["shape"]
        ci = np.rint((ex - s["origin"][0]) / RES - 0.5).astype(np.int64)
        ri = np.rint((s["origin"][1] - ny) / RES - 0.5).astype(np.int64)
        ok = (ci >= 0) & (ci < sw) & (ri >= 0) & (ri < sh)
        good = np.zeros((h, w), bool)
        good[ok] = ~s["nodata"][ri[ok], ci[ok]]
        filled |= good
    return int(filled.sum())


def grid_inputs(root: str, seed: int, n_tiles: int, day_indices: list[int],
                arrays: dict | None = None) -> Inputs:
    """On-grid scenes ``S2A_t{tile}_{date}T000000_{band}.tif`` for the
    given date indices (one directory = one refresh micro-batch). When
    ``arrays`` is a dict, the written arrays land in it keyed
    (tile, date, band) for the refresh oracle. The draws for one date
    depend only on (seed, date index), so a date is identical whichever
    batch carries it."""
    os.makedirs(root, exist_ok=True)
    out = Inputs(root)
    for di in day_indices:
        d = START + timedelta(days=DATE_STEP_DAYS * di)
        rng = np.random.default_rng([seed, 2, di])
        for t in range(n_tiles):
            bands = surface_and_clouds(rng, TILE_PX, TILE_PX,
                                       CLOUD_SHARE[di % len(CLOUD_SHARE)])
            cut = swath_cut(rng, TILE_PX, TILE_PX,
                            NODATA_SHARE[(di + t) % len(NODATA_SHARE)])
            arrs = _apply_nodata(bands, cut)
            stamp = d.strftime("%Y%m%d")
            for b in BANDS:
                nd = SCL_NODATA if b == "SCL" else BAND_NODATA
                name = f"S2A_t{t:03d}_{stamp}T000000_{b}.tif"
                out.bytes += _write(os.path.join(root, name),
                                    geotiff_bytes(arrs[b], (0.0, 0.0), RES, nd))
                out.files += 1
                if arrays is not None:
                    arrays[(t, d, b)] = arrs[b]
    out.pixels = n_tiles * TILE_PX * TILE_PX * len(BANDS) * len(day_indices)
    return out


def tree_digest(root: str) -> str:
    """sha256 over every file name and byte under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
