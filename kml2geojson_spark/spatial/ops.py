"""Spatial operators over the quadtree cell index.

Design rules (BASELINE.json north_star / SURVEY.md §2.3):

- Bulk cell encoding is a pure Column expression (JVM, codegen) — the
  100-TB hot path never crosses into Python.
- Geometry-heavy kernels (polygon clipping, ray casting) run as numpy
  inside Arrow-batched ``mapInArrow`` / ``mapInPandas`` — vectorized
  per batch, never per-row Python.
- Joins are plain DataFrame equi-joins on ``cell_id`` so Catalyst picks
  broadcast vs shuffled hash vs SMJ (with AQE); the explicitly-salted
  variant for hot cells lives in :mod:`.salted`.
- Every numeric formula that also appears in a DuckDB oracle query uses
  the identical double-precision expression so results match
  bit-for-bit (ray-cast crossing rule, interval coverage, squared
  distances).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F

from .cells import (
    MAX_RES,
    cell_encode_col,
    cell_encode_grid_np,
    cell_encode_np,
    cell_kring_col,
    cell_kring_np,
    cell_bounds_np,
    cell_parent_col,
    cell_res_col,
)


# ---------------------------------------------------------------------------
# Point encoding
# ---------------------------------------------------------------------------

def encode_points(df: DataFrame, res: int, lon_col: str = "x",
                  lat_col: str = "y", out_col: str = "cell_id") -> DataFrame:
    """Attach a cell id to every point row — whole-stage-codegen only."""
    return df.withColumn(out_col, cell_encode_col(F.col(lon_col), F.col(lat_col), res))


# ---------------------------------------------------------------------------
# Rectangle cover + exact interval coverage (SQL-parity path)
# ---------------------------------------------------------------------------

def cover_cells_rect(df: DataFrame, res: int, *, west: str = "west",
                     south: str = "south", east: str = "east",
                     north: str = "north",
                     with_fraction: bool = True) -> DataFrame:
    """Explode each rectangle into the grid cells it intersects at
    ``res``, with exact area-fraction of each cell covered (interval
    math — the raster←vector path for axis-aligned extents).

    Pure Column implementation: sequence + explode + Morton encode, all
    JVM-side. Fractions use ``max(0, min(e,ce)-max(w,cw)) * ... /
    cell_area`` — the same expression the DuckDB oracle runs.

    Antimeridian / pole rules (the documented tie-breaks):

    - ``west > east`` means the rectangle CROSSES the antimeridian
      (the GeoJSON bbox convention): it is treated as the union
      ``[west, 180] ∪ [-180, east]``. Implementation: the x range is
      UNWRAPPED to ``[ix(west), ix(east) + 2^res]`` — one ascending
      sequence for every case, wrapped back per cell with a bitmask —
      so the generator input is the same single ``sequence`` whether
      or not the rect crosses (no array concat/distinct in the hot
      path). A near-360° wrap that reaches a cell from both sides is
      clamped to one pass (each cell at most once), and the covered
      width of a cell is the sum of its overlap with each piece, so
      the fraction is exact either way. Degenerate pieces (west = 180
      or east = -180) emit nothing. Rows never vanish silently.
    - Latitude never wraps: ``south > north`` is degenerate and
      yields no cells (poles clamp, matching the k-ring's y
      behavior).
    - Zero-width/zero-height rectangles on a cell boundary yield no
      cells (empty integer range), matching the DuckDB oracle's
      ``generate_series`` semantics.
    """
    n = float(1 << res)
    hi = (1 << res) - 1

    def scale_lo(c, offset, extent):
        return F.greatest(F.lit(0), F.least(F.lit(hi), F.floor(
            (F.col(c) + F.lit(offset)) / F.lit(extent) * F.lit(n)).cast("long")))

    def scale_hi(c, offset, extent):
        return F.greatest(F.lit(0), F.least(F.lit(hi), (F.ceil(
            (F.col(c) + F.lit(offset)) / F.lit(extent) * F.lit(n)) - F.lit(1)).cast("long")))

    # Spark's sequence(a, b) runs DESCENDING when a > b — a degenerate
    # (zero-width on a cell boundary) rectangle would emit spurious
    # cells. Empty-range → empty array → explode drops the row,
    # matching the DuckDB oracle's generate_series semantics.
    def seq(lo, hi):
        return F.when(hi >= lo, F.sequence(lo, hi)) \
            .otherwise(F.array().cast("array<bigint>"))

    crossing = F.col(west) > F.col(east)
    ncells = 1 << res
    # unwrapped x bounds: non-crossing runs [_ix0, _ix1] untouched; a
    # crossing rect runs [_ix0, _ix1 + 2^res] (east unwrapped past the
    # antimeridian) with each emitted index wrapped back by `& hi`.
    # Degenerate pieces emit nothing: west = 180 starts the sequence at
    # 2^res (first wrapped cell), east = -180 stops it at hi (last
    # unwrapped cell). The least() clamp bounds a near-360° wrap to one
    # pass over the grid, so no cell repeats — its fraction sums both
    # piece overlaps below.
    x_lo = F.when(~crossing, F.col("_ix0")).otherwise(
        F.when(F.col(west) < F.lit(180.0), F.col("_ix0"))
        .otherwise(F.lit(ncells)))
    x_hi = F.when(~crossing, F.col("_ix1")).otherwise(
        F.least(
            F.when(F.col(east) > F.lit(-180.0), F.col("_ix1") + F.lit(ncells))
            .otherwise(F.lit(hi)),
            x_lo + F.lit(ncells - 1)))
    out = (
        df.withColumn("_ix0", scale_lo(west, 180.0, 360.0))
        .withColumn("_ix1", scale_hi(east, 180.0, 360.0))
        .withColumn("_iy0", scale_lo(south, 90.0, 180.0))
        .withColumn("_iy1", scale_hi(north, 90.0, 180.0))
        .withColumn("_ixu", F.explode(seq(x_lo, x_hi)))
        .withColumn("_ix", F.col("_ixu").bitwiseAND(F.lit(hi)))
        .withColumn("_iy", F.explode(seq(F.col("_iy0"), F.col("_iy1"))))
    )
    # encode from grid coords: reuse the Column spreader via cell center
    cell_w = F.col("_ix") * F.lit(360.0 / n) - F.lit(180.0)
    cell_s = F.col("_iy") * F.lit(180.0 / n) - F.lit(90.0)
    cw, cs = cell_w, cell_s
    ce, cn = cell_w + F.lit(360.0 / n), cell_s + F.lit(180.0 / n)
    out = out.withColumn(
        "cell_id",
        cell_encode_col(cw + F.lit(180.0 / n), cs + F.lit(90.0 / n), res),
    )
    if with_fraction:
        ow_simple = F.greatest(
            F.lit(0.0), F.least(F.col(east), ce) - F.greatest(F.col(west), cw))
        # crossing: covered width = overlap with [west, 180] plus
        # overlap with [-180, east] (a cell normally touches one
        # piece; a near-360° wrap can touch both — the sum is still
        # the exact covered width)
        ow_cross = (
            F.greatest(F.lit(0.0),
                       F.least(F.lit(180.0), ce) - F.greatest(F.col(west), cw))
            + F.greatest(F.lit(0.0),
                         F.least(F.col(east), ce) - F.greatest(F.lit(-180.0), cw)))
        ow = F.when(crossing, ow_cross).otherwise(ow_simple)
        oh = F.greatest(F.lit(0.0), F.least(F.col(north), cn) - F.greatest(F.col(south), cs))
        cell_area = F.lit((360.0 / n) * (180.0 / n))
        out = out.withColumn("fraction", ow * oh / cell_area)
    return out.drop("_ix0", "_ix1", "_iy0", "_iy1", "_ixu", "_ix", "_iy")


# ---------------------------------------------------------------------------
# General polygon cover / coverage fractions (numpy kernel)
# ---------------------------------------------------------------------------

def _clip_half(pts: np.ndarray, axis: int, bound: float, keep_le: bool) -> np.ndarray:
    """Sutherland–Hodgman clip of a polygon against one half-plane."""
    if len(pts) == 0:
        return pts
    vals = pts[:, axis]
    inside = (vals <= bound) if keep_le else (vals >= bound)
    out = []
    m = len(pts)
    for i in range(m):
        j = (i + 1) % m
        p, q = pts[i], pts[j]
        pin, qin = inside[i], inside[j]
        if pin:
            out.append(p)
        if pin != qin:
            t = (bound - p[axis]) / (q[axis] - p[axis])
            out.append(p + t * (q - p))
    return np.asarray(out) if out else np.empty((0, 2))


def _clip_area_rect(ring: np.ndarray, w: float, s: float, e: float, n: float) -> float:
    """|area| of ring ∩ [w,e]×[s,n] (shoelace after 4 half-plane clips).

    Scalar reference implementation — production runs the vectorized
    strip kernel :func:`_ring_cell_areas`; tests assert the two are
    bit-identical. The shoelace is an IN-ORDER left-to-right fold
    (matching the SQL oracle's list_reduce and the vectorized kernel),
    not np.sum, whose pairwise summation reorders additions."""
    pts = ring
    pts = _clip_half(pts, 0, w, keep_le=False)
    pts = _clip_half(pts, 0, e, keep_le=True)
    pts = _clip_half(pts, 1, s, keep_le=False)
    pts = _clip_half(pts, 1, n, keep_le=True)
    if len(pts) < 3:
        return 0.0
    x, y = pts[:, 0], pts[:, 1]
    terms = x * np.roll(y, -1) - np.roll(x, -1) * y
    acc = 0.0
    for t in terms:
        acc = acc + t
    return abs(0.5 * acc)


def _clip_half_many(pts: np.ndarray, cnt: np.ndarray, axis: int,
                    bounds: np.ndarray, keep_le: bool):
    """Vectorized Sutherland–Hodgman over C polygons at once: ``pts``
    is (C, M, 2) padded vertex storage with per-polygon counts ``cnt``,
    ``bounds`` one half-plane bound per polygon. Emission order per
    edge (kept vertex, then intersection) and the intersection formula
    ``p + t*(q-p)`` with ``t = (bound-p)/(q-p)`` are exactly the scalar
    :func:`_clip_half`'s — results are bit-identical."""
    C, M, _ = pts.shape
    if M == 0 or not cnt.any():
        return pts[:, :0], np.zeros(C, dtype=np.int64)
    idx = np.arange(M)
    valid = idx[None, :] < cnt[:, None]
    safe = np.maximum(cnt, 1)
    nxt = np.where(idx[None, :] + 1 < safe[:, None], idx[None, :] + 1, 0)
    vals_p = pts[:, :, axis]
    vals_q = np.take_along_axis(vals_p, nxt, axis=1)
    b = bounds[:, None]
    inside_p = (vals_p <= b) if keep_le else (vals_p >= b)
    inside_q = (vals_q <= b) if keep_le else (vals_q >= b)
    keep_v = inside_p & valid
    cross = (inside_p != inside_q) & valid
    # interleaved emission slots per edge: (kept vertex, intersection)
    mask = np.empty((C, 2 * M), dtype=bool)
    mask[:, 0::2] = keep_v
    mask[:, 1::2] = cross
    new_cnt = mask.sum(axis=1).astype(np.int64)
    new_m = int(new_cnt.max()) if C else 0
    out = np.zeros((C, new_m, 2))
    if new_m == 0:
        return out, new_cnt
    pos = mask.cumsum(axis=1)
    pos -= 1
    r0, k0 = np.nonzero(keep_v)
    out[r0, pos[r0, 2 * k0]] = pts[r0, k0]
    r1, k1 = np.nonzero(cross)
    if len(r1):
        # intersections computed SPARSELY, only at actual crossings,
        # where the denominator is guaranteed nonzero (the endpoints
        # straddle the bound)
        p = pts[r1, k1]
        q = pts[r1, nxt[r1, k1]]
        t = (bounds[r1] - p[:, axis]) / (q[:, axis] - p[:, axis])
        out[r1, pos[r1, 2 * k1 + 1]] = p + t[:, None] * (q - p)
    return out, new_cnt


def _shoelace_many(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """|shoelace area| per padded polygon, IN-ORDER left-to-right fold
    (bit-matches the SQL oracle's list_reduce and the scalar path)."""
    C, M, _ = pts.shape
    if M == 0:
        return np.zeros(C)
    idx = np.arange(M)
    valid = idx[None, :] < cnt[:, None]
    safe = np.maximum(cnt, 1)
    nxt = np.where(idx[None, :] + 1 < safe[:, None], idx[None, :] + 1, 0)
    x, y = pts[:, :, 0], pts[:, :, 1]
    xn = np.take_along_axis(x, nxt, axis=1)
    yn = np.take_along_axis(y, nxt, axis=1)
    terms = x * yn - xn * y
    acc = np.zeros(C)
    for j in range(M):
        acc = acc + np.where(valid[:, j], terms[:, j], 0.0)
    area = np.abs(0.5 * acc)
    area[cnt < 3] = 0.0
    return area


def _rings_to_np(rings) -> list[np.ndarray]:
    """Nested ring lists → clean float64 (n, 2) arrays: vertices with
    fewer than 2 coordinates are dropped, then rings with fewer than 3
    surviving vertices. Identical semantics in every pip/cover mode (a
    malformed row must neither crash a task nor change results between
    the driver and cogroup shapes)."""
    out = []
    for ring in rings:
        pts = [p[:2] for p in ring if p is not None and len(p) >= 2]
        if len(pts) >= 3:
            out.append(np.asarray(pts, dtype=np.float64))
    return out


POLY_COVER_SCHEMA = "poly_id long, cell_id long, fraction double"

# cap on cells × vertices processed per vectorized chunk (bounds the
# (C, M, 2, 2) clip scratch to ~1 GB worst-case well below that; the
# typical chunk is far smaller)
_COVER_CHUNK_CELLS_X_VERTS = 4_000_000


def _bbox_grid(outer: np.ndarray, res: int):
    """Grid-index ranges (ix0..ix1, iy0..iy1) of a ring's bbox at
    ``res`` — the same float expressions as the SQL oracle."""
    nn = float(1 << res)
    hi = (1 << res) - 1
    ix0 = int(np.clip(np.floor((outer[:, 0].min() + 180.0) / 360.0 * nn), 0, hi))
    ix1 = int(np.clip(np.ceil((outer[:, 0].max() + 180.0) / 360.0 * nn) - 1, 0, hi))
    iy0 = int(np.clip(np.floor((outer[:, 1].min() + 90.0) / 180.0 * nn), 0, hi))
    iy1 = int(np.clip(np.ceil((outer[:, 1].max() + 90.0) / 180.0 * nn) - 1, 0, hi))
    return ix0, ix1, iy0, iy1


def _ring_cell_areas(ring: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                     cell_w: float, cell_h: float) -> np.ndarray:
    """Clipped |area| of ``ring`` against every grid cell (gx × gy),
    strip-decomposed: the two x clips run ONCE per column strip (cells
    in a column share their w/e bounds — identical operation sequence,
    so still bit-exact vs the scalar path), then only the much smaller
    strip polygons are clipped per cell in y. Output is strip-major
    (gx outer, gy inner)."""
    nx, ny = len(gx), len(gy)
    m = len(ring)
    if nx == 0 or ny == 0 or m < 3:
        return np.zeros(nx * ny)
    w_strip = gx * cell_w - 180.0
    pts = np.broadcast_to(ring, (nx, m, 2)).copy()
    cnt = np.full(nx, m, dtype=np.int64)
    pts, cnt = _clip_half_many(pts, cnt, 0, w_strip, keep_le=False)
    pts, cnt = _clip_half_many(pts, cnt, 0, w_strip + cell_w, keep_le=True)
    ms = max(pts.shape[1], 1)
    s_col = gy * cell_h - 90.0
    areas = np.empty(nx * ny)
    strips_per_chunk = max(1, _COVER_CHUNK_CELLS_X_VERTS // (ms * ny))
    for lo in range(0, nx, strips_per_chunk):
        hi = min(nx, lo + strips_per_chunk)
        k = hi - lo
        cpts = np.repeat(pts[lo:hi], ny, axis=0)
        ccnt = np.repeat(cnt[lo:hi], ny)
        s_all = np.tile(s_col, k)
        cpts, ccnt = _clip_half_many(cpts, ccnt, 1, s_all, keep_le=False)
        cpts, ccnt = _clip_half_many(cpts, ccnt, 1, s_all + cell_h,
                                     keep_le=True)
        areas[lo * ny:hi * ny] = _shoelace_many(cpts, ccnt)
    return areas


def _cover_one(rings: list[np.ndarray], res: int, min_fraction: float):
    """One polygon → (cell_ids, fractions) over its bbox cells at
    ``res``, vectorized across all candidate cells (strip-decomposed,
    chunked to bound memory)."""
    nn = float(1 << res)
    cell_w, cell_h = 360.0 / nn, 180.0 / nn
    cell_area = cell_w * cell_h
    outer = rings[0]
    ix0, ix1, iy0, iy1 = _bbox_grid(outer, res)
    gx = np.arange(ix0, ix1 + 1, dtype=np.int64)
    gy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    area = _ring_cell_areas(outer, gx, gy, cell_w, cell_h)
    for hole in rings[1:]:
        area = area - _ring_cell_areas(hole, gx, gy, cell_w, cell_h)
    frac = area / cell_area
    keep = frac > min_fraction
    if not keep.any():
        return (np.empty(0, dtype=np.int64), np.empty(0))
    gxx = np.repeat(gx, len(gy))
    gyy = np.tile(gy, len(gx))
    return (cell_encode_grid_np(gxx[keep], gyy[keep], res), frac[keep])


def _edge_touched_coarse_mask(rings: list[np.ndarray], cx0: int, cy0: int,
                              nx: int, ny: int, ccw: float,
                              cch: float) -> np.ndarray:
    """(nx, ny) bool mask of coarse cells whose rect MAY be touched by
    any ring edge — conservative (edge-bbox overlap, widened one cell
    on each side so edges lying exactly on a cell boundary never slip
    through). Rectangle marking is O(edges + grid) via a 2-D difference
    array, never O(edges × grid)."""
    D = np.zeros((nx + 1, ny + 1), dtype=np.int64)
    for ring in rings:
        a, b = ring, np.roll(ring, -1, axis=0)
        ex0 = np.minimum(a[:, 0], b[:, 0])
        ex1 = np.maximum(a[:, 0], b[:, 0])
        ey0 = np.minimum(a[:, 1], b[:, 1])
        ey1 = np.maximum(a[:, 1], b[:, 1])
        x0 = np.clip(np.floor((ex0 + 180.0) / ccw).astype(np.int64) - 1 - cx0,
                     0, nx - 1)
        x1 = np.clip(np.floor((ex1 + 180.0) / ccw).astype(np.int64) + 1 - cx0,
                     0, nx - 1)
        y0 = np.clip(np.floor((ey0 + 90.0) / cch).astype(np.int64) - 1 - cy0,
                     0, ny - 1)
        y1 = np.clip(np.floor((ey1 + 90.0) / cch).astype(np.int64) + 1 - cy0,
                     0, ny - 1)
        np.add.at(D, (x0, y0), 1)
        np.add.at(D, (x1 + 1, y0), -1)
        np.add.at(D, (x0, y1 + 1), -1)
        np.add.at(D, (x1 + 1, y1 + 1), 1)
    return D.cumsum(axis=0).cumsum(axis=1)[:nx, :ny] > 0


def _cover_one_hier(rings: list[np.ndarray], res: int, min_fraction: float,
                    coarse_delta: int):
    """Hierarchical two-pass cover of one polygon: classify cells at
    the coarse resolution ``res - coarse_delta`` as boundary (an edge
    may touch them — conservative bbox test), interior (edge-free,
    center inside by even-odd ray cast over ALL rings, so holes
    classify correctly), or exterior. Interior coarse cells emit every
    child at fraction exactly 1 WITHOUT clipping; boundary coarse
    cells run the exact strip-clip kernel on their child block only
    (bit-identical per cell to the flat kernel — the clip of a cell
    never depends on which other cells share the call); exterior
    cells emit nothing. Work scales with the polygon PERIMETER at
    ``res`` plus the interior cell count, not with bbox area — the
    planetary-polygon path the flat kernel's chunk cap only bounds in
    memory, not in time."""
    nn = float(1 << res)
    cell_w, cell_h = 360.0 / nn, 180.0 / nn
    cell_area = cell_w * cell_h
    k = 1 << coarse_delta
    ccw, cch = cell_w * k, cell_h * k
    outer = rings[0]
    ix0, ix1, iy0, iy1 = _bbox_grid(outer, res)
    cx0, cx1, cy0, cy1 = ix0 >> coarse_delta, ix1 >> coarse_delta, \
        iy0 >> coarse_delta, iy1 >> coarse_delta
    nx, ny = cx1 - cx0 + 1, cy1 - cy0 + 1

    boundary = _edge_touched_coarse_mask(rings, cx0, cy0, nx, ny, ccw, cch)
    cgx = np.repeat(np.arange(cx0, cx1 + 1, dtype=np.int64), ny)
    cgy = np.tile(np.arange(cy0, cy1 + 1, dtype=np.int64), nx)
    bflat = boundary.ravel()
    # edge-free coarse cells: center-point even-odd ray cast decides
    # fully-inside (fraction 1 children) vs fully-outside (dropped) —
    # a hole's interior ray-casts outside, so it drops correctly
    interior = np.zeros(nx * ny, dtype=bool)
    free = ~bflat
    if free.any():
        px = (cgx[free] + 0.5) * ccw - 180.0
        py = (cgy[free] + 0.5) * cch - 90.0
        interior[free] = _raycast_np(px, py, rings)

    out_cells, out_fracs = [], []
    child = np.arange(k, dtype=np.int64)
    # interior: pure enumeration, fully vectorized across blocks —
    # (B, k²) child coordinates, bbox-clipped by mask, one encode
    if interior.any() and min_fraction < 1.0:
        bx, by = cgx[interior], cgy[interior]
        gxx = np.repeat(bx[:, None] * k + child[None, :], k, axis=1)
        gyy = np.tile(by[:, None] * k + child[None, :], (1, k))
        ok = ((gxx >= ix0) & (gxx <= ix1) & (gyy >= iy0) & (gyy <= iy1))
        gxx, gyy = gxx[ok], gyy[ok]
        if len(gxx):
            out_cells.append(cell_encode_grid_np(gxx, gyy, res))
            out_fracs.append(np.ones(len(gxx)))
    # boundary: exact clip kernel batched PER COARSE COLUMN — within a
    # column the wanted fine cells are exactly {column children} ×
    # {union of boundary blocks' child rows}: a true cross product, so
    # one kernel call per column with zero fill-in
    bmask2d = boundary
    for col in np.nonzero(bmask2d.any(axis=1))[0]:
        cg_x = cx0 + int(col)
        gx = np.arange(max(cg_x * k, ix0), min((cg_x + 1) * k - 1, ix1) + 1,
                       dtype=np.int64)
        rows = cy0 + np.nonzero(bmask2d[col])[0]
        gy = (rows[:, None] * k + child[None, :]).ravel()
        gy = gy[(gy >= iy0) & (gy <= iy1)]
        if len(gx) == 0 or len(gy) == 0:
            continue
        area = _ring_cell_areas(outer, gx, gy, cell_w, cell_h)
        for hole in rings[1:]:
            area = area - _ring_cell_areas(hole, gx, gy, cell_w, cell_h)
        frac = area / cell_area
        keep = frac > min_fraction
        if keep.any():
            out_cells.append(cell_encode_grid_np(
                np.repeat(gx, len(gy))[keep], np.tile(gy, len(gx))[keep],
                res))
            out_fracs.append(frac[keep])
    if not out_cells:
        return (np.empty(0, dtype=np.int64), np.empty(0))
    return (np.concatenate(out_cells), np.concatenate(out_fracs))


def polygon_cover(polygons: DataFrame, res: int, *,
                  id_col: str = "poly_id", rings_col: str = "rings",
                  min_fraction: float = 0.0,
                  strategy: str = "flat",
                  coarse_delta: int = 3) -> DataFrame:
    """General raster←vector coverage: each polygon → the cells of its
    bbox at ``res`` with the exact fraction of each cell covered
    (Sutherland–Hodgman clip + shoelace; ring 0 is the outer ring,
    further rings are holes whose clipped area is subtracted).

    numpy kernel in Arrow batches; the clip runs VECTORIZED across all
    candidate cells of a polygon at once (strip-decomposed
    ``_ring_cell_areas``) — no per-cell Python.

    ``strategy`` picks the per-polygon enumeration:

    - ``"flat"`` (default, the oracle-matched baseline, driver q54 —
      the DuckDB Sutherland–Hodgman formulation matches the float
      arithmetic operation-for-operation): clip EVERY bbox cell at
      ``res``. Work and memory scale with bbox area — fine when
      bbox_cells ≈ O(100..10k) per polygon.
    - ``"hier"`` (the planetary-polygon path): two-pass hierarchical
      cover — classify cells at ``res - coarse_delta`` (conservative
      edge-bbox boundary test + center ray cast), emit interior
      children at fraction exactly 1 WITHOUT clipping, run the exact
      clip only on boundary blocks. Work scales with perimeter at
      ``res`` + interior count instead of bbox area. Per-cell clip
      results are bit-identical to ``"flat"`` (asserted in tests on
      the q54 corpus); an edge-free interior cell's flat-kernel clip
      reproduces the cell rectangle exactly there, so the fraction-1
      shortcut is also bit-equal — on adversarial rings the flat
      kernel may round an interior cell to 1 ± few ulps where hier
      reports the mathematically exact 1.
    """
    if strategy not in ("flat", "hier"):
        raise ValueError(f"unknown strategy {strategy!r}")

    def cover_fn(rs):
        if strategy == "hier" and res >= coarse_delta:
            return _cover_one_hier(rs, res, min_fraction, coarse_delta)
        return _cover_one(rs, res, min_fraction)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pids, cids, fracs = [], [], []
            for pid, rings in zip(pdf[id_col], pdf[rings_col]):
                rs = _rings_to_np(rings)
                if not rs:
                    continue
                c, f = cover_fn(rs)
                if len(c):
                    pids.append(np.full(len(c), int(pid), dtype=np.int64))
                    cids.append(c)
                    fracs.append(f)
            if pids:
                yield pd.DataFrame({"poly_id": np.concatenate(pids),
                                    "cell_id": np.concatenate(cids),
                                    "fraction": np.concatenate(fracs)})
            else:
                yield pd.DataFrame({"poly_id": pd.Series([], dtype="int64"),
                                    "cell_id": pd.Series([], dtype="int64"),
                                    "fraction": pd.Series([], dtype="float64")})

    return polygons.select(F.col(id_col), F.col(rings_col)) \
        .mapInPandas(run, POLY_COVER_SCHEMA)


def coverage_fractions(polygons: DataFrame, res: int, **kw) -> DataFrame:
    """Per-cell total covered fraction across all polygons.

    The sum is accumulated as integer picounits (each addend rounded
    once, identically on every engine) so the aggregate is independent
    of shuffle/partition order and bit-reproducible — a float SUM over
    doubles would change in the last ulps with the merge order.
    Oracle-checked end-to-end (driver q60). ``total_fraction`` is
    derived from the integer sum (exact division by 1e12).

    Output: (cell_id, total_frac_pico, total_fraction, n_polygons).
    """
    cover = polygon_cover(polygons, res, **kw)
    pico = F.sum(F.round(F.col("fraction") * 1e12).cast("long")) \
        .alias("total_frac_pico")
    return (cover.groupBy("cell_id")
            .agg(pico, F.count(F.lit(1)).alias("n_polygons"))
            .withColumn("total_fraction",
                        F.col("total_frac_pico") / F.lit(1e12))
            .select("cell_id", "total_frac_pico", "total_fraction",
                    "n_polygons"))


# ---------------------------------------------------------------------------
# Point-in-polygon join (cell-bucketed + ray cast)
# ---------------------------------------------------------------------------

_PIP_SCHEMA = "point_id long, poly_id long"


def _raycast_np(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Vectorized even-odd ray cast of m points against one polygon's
    rings. Crossing rule — identical expression to the SQL oracle:
    ``(y1 > py) != (y2 > py) AND px < (x2-x1)*(py-y1)/(y2-y1) + x1``.
    Holes fall out of even-odd parity automatically."""
    inside = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        r = ring
        if len(r) < 3:
            continue
        x1, y1 = r[:, 0][:, None], r[:, 1][:, None]  # (k,1)
        x2, y2 = np.roll(r[:, 0], -1)[:, None], np.roll(r[:, 1], -1)[:, None]
        cond = (y1 > py[None, :]) != (y2 > py[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
        cross = cond & (px[None, :] < xs)
        inside += cross.sum(axis=0)
    return (inside % 2) == 1


def pip_join(points: DataFrame, polygons: DataFrame, res: int, *,
             point_id: str = "point_id", x: str = "x", y: str = "y",
             poly_id: str = "poly_id", rings: str = "rings",
             salt: Optional[int] = None,
             rings_distribution: str = "auto",
             max_driver_rings: int = 20_000,
             cogroup_buckets: int = 64) -> DataFrame:
    """Ray-casting point-in-polygon join, bucketed by quadtree cell.

    Two plan shapes, chosen by ``rings_distribution``:

    - ``"driver"`` — polygons are a dimension table: ONE bounded collect
      (``limit(max_driver_rings + 1)``) brings the rings to the driver,
      which builds each polygon's bbox cell cover in numpy and
      broadcasts it, sorted, with the rings. Points get a cell id
      (codegen), then a single ``mapInArrow`` pass binary-searches each
      point's cell in the cover and ray-casts the candidates per
      polygon. No join, no Python cover job, no shuffle of the points.
      REFUSED above ``max_driver_rings`` polygons — a driver collect
      must never sit in a 100-TB hot path.
    - ``"cogroup"`` — polygons at any scale: rings never touch the
      driver. Each polygon's bbox cover cells are emitted WITH its
      rings (pure Column cover, JVM-side); both sides shuffle once on
      a HASH BUCKET of the cell id (``cogroup_buckets`` keys — one
      Python call per bucket, cells regrouped in pandas inside it;
      per-cell keys would pay Python dispatch per cell) and are
      ray-cast per cell there. Ring bytes are replicated only per
      covering cell, never per point. Size ``cogroup_buckets`` ≈
      cluster task slots × small multiple: each call holds ~1/buckets
      of the points, so more buckets = less memory per task and more
      parallelism. ``salt`` splits hot cells' points across ``salt``
      sub-keys of their bucket (rings replicated per salt); it applies
      to this shape only, as the driver shape never shuffles points.
    - ``"auto"`` (default) — the driver shape's bounded collect picks
      driver at or below ``max_driver_rings`` polygons, cogroup above.

    A point lives in exactly one cell and a polygon covers a cell at
    most once, so candidate pairs are unique — no post-join dedup
    shuffle in either shape.
    """
    if rings_distribution not in ("auto", "driver", "cogroup"):
        raise ValueError(f"unknown rings_distribution {rings_distribution!r}")
    pts = encode_points(points.select(
        F.col(point_id).alias("point_id"), F.col(x).alias("x"),
        F.col(y).alias("y")), res)
    polys = polygons.select(F.col(poly_id).alias("poly_id"),
                            F.col(rings).alias("rings"))

    if rings_distribution in ("auto", "driver"):
        # limit(threshold+1) stops scanning once the threshold is
        # exceeded; the same rows size the choice and supply the rings
        ring_rows = polys.limit(max_driver_rings + 1).collect()
        if len(ring_rows) <= max_driver_rings:
            return _pip_join_driver(pts, ring_rows, res)
        if rings_distribution == "driver":
            raise ValueError(
                f"rings_distribution='driver' with more than "
                f"{max_driver_rings} polygons (max_driver_rings): "
                f"collecting them would bottleneck the driver — use "
                f"'cogroup' (or raise the threshold explicitly)")
    return _pip_join_cogroup(pts, polys, res, salt, n_buckets=cogroup_buckets)


def _pip_join_driver(pts: DataFrame, ring_rows, res: int) -> DataFrame:
    """Dimension-table shape over collected ``(poly_id, rings)`` rows
    and points carrying ``cell_id``. Each polygon's bbox cells come from
    ``_bbox_grid`` (the float expressions of the cogroup shape and the
    oracle), sorted into one cell array with a parallel owner array.
    Per Arrow batch: ``searchsorted`` finds each point's candidate
    range, one stable argsort groups candidates by owner, and each
    group is ray-cast against its polygon's rings."""
    pids, ring_list, cells, owners = [], [], [], []
    for r in ring_rows:
        rs = _rings_to_np(r["rings"])
        if not rs:
            continue
        ix0, ix1, iy0, iy1 = _bbox_grid(rs[0], res)
        gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
        cells.append(cell_encode_grid_np(gx.ravel(), gy.ravel(), res))
        owners.append(np.full(gx.size, len(ring_list), dtype=np.int64))
        pids.append(int(r["poly_id"]))
        ring_list.append(rs)
    cover = np.concatenate([np.empty(0, dtype=np.int64)] + cells)
    owner = np.concatenate([np.empty(0, dtype=np.int64)] + owners)
    order = np.argsort(cover, kind="stable")
    bc = pts.sparkSession.sparkContext.broadcast((
        cover[order], owner[order], np.asarray(pids, dtype=np.int64), ring_list))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cover, owner, pids, rmap = bc.value
        for rb in batches:
            cell = rb.column("cell_id").to_numpy()
            lo = np.searchsorted(cover, cell, "left")
            n = np.searchsorted(cover, cell, "right") - lo
            pt = np.repeat(np.arange(len(cell)), n)
            # the k-th candidate of point i sits at cover[lo[i] + k]
            own = owner[np.repeat(lo - np.cumsum(n) + n, n) + np.arange(len(pt))]
            srt = np.argsort(own, kind="stable")
            pt, own = pt[srt], own[srt]
            px = rb.column("x").to_numpy(zero_copy_only=False).astype(np.float64)
            py = rb.column("y").to_numpy(zero_copy_only=False).astype(np.float64)
            keep = np.zeros(len(pt), dtype=bool)
            cuts = np.flatnonzero(np.diff(own, prepend=-1, append=-1))
            for a, b in zip(cuts[:-1], cuts[1:]):
                keep[a:b] = _raycast_np(px[pt[a:b]], py[pt[a:b]], rmap[own[a]])
            if keep.any():
                yield pa.RecordBatch.from_arrays(
                    [rb.column("point_id").take(pt[keep]).cast(pa.int64()),
                     pa.array(pids[own[keep]])], names=["point_id", "poly_id"])

    return pts.select("point_id", "x", "y", "cell_id").mapInArrow(run, _PIP_SCHEMA)


def _empty_pip() -> pd.DataFrame:
    return pd.DataFrame({"point_id": pd.Series([], dtype="int64"),
                         "poly_id": pd.Series([], dtype="int64")})


def _pip_join_cogroup(pts: DataFrame, polys: DataFrame, res: int,
                      salt: Optional[int], *,
                      n_buckets: int = 64) -> DataFrame:
    """Any-scale shape: rings ride the cover rows to the executors and
    meet their cell's points in a cogroup — no driver collect anywhere.

    The cogroup key is a BUCKET of cells (pmod(hash(cell), n_buckets)),
    not the raw cell id: cogrouped applyInPandas dispatches one Python
    call per key, and per-cell keys cost ~10s of pure dispatch overhead
    for 600k points at res 7 (measured) — per-bucket calls amortize it
    to ``n_buckets`` invocations, with the per-cell grouping done in
    pandas inside each call (the same bucketing trick as
    :mod:`..asof`).
    """
    # bbox cover cells computed with PURE Column expressions (array
    # min/max over the outer ring + sequence/explode + Morton encode):
    # rings stay JVM-side until the single cogroup exchange — no Python
    # round-trip of nested ring arrays in the cover stage
    n = float(1 << res)
    hi = (1 << res) - 1
    cw, ch = 360.0 / n, 180.0 / n
    # outer ring = FIRST ring with >= 3 well-formed vertices — the same
    # rule _rings_to_np applies, so driver and cogroup modes agree on
    # malformed polygons instead of diverging by table size
    valid_rings = F.filter(
        F.col("rings"),
        lambda r: F.size(F.filter(r, lambda v: F.size(v) >= 2)) >= 3)
    outer = F.filter(valid_rings[0], lambda v: F.size(v) >= 2)
    xs = F.transform(outer, lambda v: v[0])
    ys = F.transform(outer, lambda v: v[1])
    ok = F.size(valid_rings) >= 1

    def lo(c, off, ext):
        return F.greatest(F.lit(0), F.least(F.lit(hi), F.floor(
            (c + F.lit(off)) / F.lit(ext) * F.lit(n)).cast("long")))

    def up(c, off, ext):
        return F.greatest(F.lit(0), F.least(F.lit(hi), (F.ceil(
            (c + F.lit(off)) / F.lit(ext) * F.lit(n)) - 1).cast("long")))

    def seq(a, b):
        # sequence(a, b) runs DESCENDING when a > b (degenerate bbox on
        # a cell boundary) — empty range must drop the row instead
        return F.when(b >= a, F.sequence(a, b)) \
            .otherwise(F.array().cast("array<bigint>"))

    # nested array<array<array<double>>> columns segfault pyspark's
    # Arrow→pandas cogroup deserializer; ship the rings as two FLAT
    # arrays instead (interleaved x,y coords + per-ring vertex counts),
    # flattened JVM-side — flat arrays also convert much faster
    coords = F.flatten(F.transform(
        F.filter(F.flatten(F.col("rings")), lambda v: F.size(v) >= 2),
        lambda v: F.slice(v, 1, 2)))
    ringlens = F.transform(
        F.col("rings"), lambda r: F.size(F.filter(r, lambda v: F.size(v) >= 2)))
    cov = (polys.where(ok)
           .withColumn("_ix", F.explode(seq(lo(F.array_min(xs), 180.0, 360.0),
                                            up(F.array_max(xs), 180.0, 360.0))))
           .withColumn("_iy", F.explode(seq(lo(F.array_min(ys), 90.0, 180.0),
                                            up(F.array_max(ys), 90.0, 180.0))))
           .withColumn("cell_id", cell_encode_col(
               F.col("_ix") * F.lit(cw) - F.lit(180.0) + F.lit(cw / 2),
               F.col("_iy") * F.lit(ch) - F.lit(90.0) + F.lit(ch / 2), res))
           .select("poly_id", "cell_id", coords.alias("_coords"),
                   ringlens.alias("_ringlens")))

    bucket = F.pmod(F.hash(F.col("cell_id")), F.lit(n_buckets)).cast("int")
    pts = pts.withColumn("_bucket", bucket)
    cov = cov.withColumn("_bucket", bucket)
    keys = ["_bucket"]
    if salt:
        from .salted import hot_keys
        hot = hot_keys(pts, "cell_id")
        if hot:
            pts = pts.withColumn(
                "_salt",
                F.when(F.col("cell_id").isin(hot),
                       F.pmod(F.hash(F.col("point_id")), F.lit(salt)))
                .otherwise(F.lit(0)).cast("int"))
            cov = (cov.withColumn(
                "_salt",
                F.explode(F.when(F.col("cell_id").isin(hot),
                                 F.sequence(F.lit(0), F.lit(salt - 1)))
                          .otherwise(F.array(F.lit(0)))))
                .withColumn("_salt", F.col("_salt").cast("int")))
            keys = ["_bucket", "_salt"]

    def _cell_raycast(px, py, pt_ids, rgrp, keep_pt, keep_poly):
        # ONE edge table for every polygon covering the cell, with
        # per-polygon segment starts — the whole cell ray-casts in a
        # handful of numpy ops instead of a Python call per polygon
        ex1, ey1, ex2, ey2 = [], [], [], []
        seg_starts, pids = [], []
        n_edges = 0
        for pid, flat, lens in zip(rgrp["poly_id"], rgrp["_coords"],
                                   rgrp["_ringlens"]):
            verts = np.asarray(flat, dtype=np.float64).reshape(-1, 2)
            off = 0
            start = n_edges
            for ln in np.asarray(lens, dtype=np.int64):
                ring = verts[off:off + ln]
                off += ln
                if len(ring) < 3:
                    continue
                ex1.append(ring[:, 0])
                ey1.append(ring[:, 1])
                ex2.append(np.roll(ring[:, 0], -1))
                ey2.append(np.roll(ring[:, 1], -1))
                n_edges += len(ring)
            if n_edges > start:
                seg_starts.append(start)
                pids.append(int(pid))
        if not seg_starts:
            return
        x1 = np.concatenate(ex1)[:, None]
        y1 = np.concatenate(ey1)[:, None]
        x2 = np.concatenate(ex2)[:, None]
        y2 = np.concatenate(ey2)[:, None]
        starts = np.asarray(seg_starts, dtype=np.intp)
        pid_arr = np.asarray(pids, dtype=np.int64)
        # chunk points to bound the (edges x points) scratch
        chunk = max(1, 8_000_000 // max(n_edges, 1))
        for lo in range(0, len(px), chunk):
            cpx, cpy = px[None, lo:lo + chunk], py[None, lo:lo + chunk]
            cond = (y1 > cpy) != (y2 > cpy)
            # identical crossing expression to _raycast_np / the oracle
            with np.errstate(divide="ignore", invalid="ignore"):
                xs = (x2 - x1) * (cpy - y1) / (y2 - y1) + x1
            cross = cond & (cpx < xs)
            # int32, not int64: reduceat on bool would logical-or, and
            # the upcast copy is the widest scratch in the loop —
            # counts are bounded by the segment edge count (< 2^31)
            crossings = np.add.reduceat(
                cross.astype(np.int32), starts, axis=0)
            pidx, midx = np.nonzero((crossings % 2) == 1)
            keep_pt.append(pt_ids[lo + midx])
            keep_poly.append(pid_arr[pidx])

    def raycast(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return _empty_pip()
        px_all = lpdf["x"].to_numpy(np.float64)
        py_all = lpdf["y"].to_numpy(np.float64)
        ids_all = lpdf["point_id"].to_numpy(np.int64)
        l_idx = lpdf.groupby("cell_id").indices
        keep_pt, keep_poly = [], []
        for cell, rgrp in rpdf.groupby("cell_id", sort=False):
            pos = l_idx.get(cell)
            if pos is None:
                continue
            _cell_raycast(px_all[pos], py_all[pos], ids_all[pos], rgrp,
                          keep_pt, keep_poly)
        if not keep_pt:
            return _empty_pip()
        return pd.DataFrame({"point_id": np.concatenate(keep_pt),
                             "poly_id": np.concatenate(keep_poly)})

    return (pts.groupby(*keys).cogroup(cov.groupby(*keys))
            .applyInPandas(raycast, _PIP_SCHEMA))


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------

def knn_exact(points: DataFrame, queries: DataFrame, k: int, *,
              point_id: str = "point_id", x: str = "x", y: str = "y",
              query_id: str = "query_id", qx: str = "x", qy: str = "y") -> DataFrame:
    """Exact kNN baseline: broadcast the query set, brute-force squared
    distance, window top-k. Deterministic tie-break on neighbor id."""
    q = F.broadcast(queries.select(
        F.col(query_id).alias("query_id"),
        F.col(qx).alias("_qx"), F.col(qy).alias("_qy")))
    p = points.select(F.col(point_id).alias("neighbor_id"),
                      F.col(x).alias("_px"), F.col(y).alias("_py"))
    d2 = ((F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx"))
          + (F.col("_py") - F.col("_qy")) * (F.col("_py") - F.col("_qy")))
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("neighbor_id").asc())
    return (p.crossJoin(q)
            .withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist2", "rank"))


def explode_kring(df: DataFrame, lon, lat, res: int, radius: int,
                  out_col: str = "cell_id") -> DataFrame:
    """Explode each row into its k-ring cells at ``res`` — the
    DataFrame-shaped k-ring every candidate generator (kNN, DWithin,
    adaptive kNN) runs on. A literal (dx, dy) offset array is exploded
    FIRST and the Morton encode runs ONCE on the exploded rows, so the
    generated code is one tiny expression whatever the radius —
    measured ~4x faster (plan compile + run) than building a
    (2r+1)²-element array Column per row, which inflates the generated
    method past what Janino compiles cheaply — and still zero Python.
    Semantics match :func:`..cells.cell_kring_np`: x wraps via pmod
    (when the grid is narrower than the ring the offset list shrinks
    to exactly one full row, so no cell repeats), y clamps at the
    poles (out-of-range rows filtered). Rows whose ring is fully
    off-grid vanish, like an empty-array explode."""
    from .cells import RES_BITS, _grid_col, _spread_col

    n = 1 << res
    span = 2 * radius + 1
    dxs = list(range(-radius, radius + 1)) if n >= span else list(range(n))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys])
    d = (df.withColumn("_kgx", _grid_col(lon, 180.0, 360.0, res))
         .withColumn("_kgy", _grid_col(lat, 90.0, 180.0, res))
         .withColumn("_koff", F.explode(offs)))
    xs = F.pmod(F.col("_kgx") + F.col("_koff.dx"), F.lit(n))
    ys = F.col("_kgy") + F.col("_koff.dy")
    code = F.shiftleft(_spread_col(xs), 1).bitwiseOR(_spread_col(ys))
    cell = F.shiftleft(code, RES_BITS).bitwiseOR(F.lit(res))
    return (d.where((ys >= 0) & (ys < F.lit(n)))
            .withColumn(out_col, cell)
            .drop("_kgx", "_kgy", "_koff"))


def _kring_candidates(points: DataFrame, queries: DataFrame, res: int,
                      rings: int, *, point_id: str, x: str, y: str,
                      query_id: str) -> DataFrame:
    """Shared candidate generator for the k-ring family (kNN /
    DWithin): queries explode to the cells within ``rings`` Chebyshev
    rings at ``res``; points get their cell (codegen); equi-join on the
    cell, exact squared distance attached. Output columns:
    (cell_id, _pid, x, y, query_id, _qx, _qy, dist2) — a point lives
    in exactly one cell, so (query, point) candidates are unique."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(x).alias("_qx"), F.col(y).alias("_qy"))
    # ring cells as a pure-Column offsets expansion (no per-row Python
    # in the candidate stage; plan-asserted)
    q = explode_kring(q, F.col("_qx"), F.col("_qy"), res, rings)
    p = encode_points(points.select(
        F.col(point_id).alias("_pid"), F.col(x).alias("x"),
        F.col(y).alias("y")), res)
    d2 = ((F.col("x") - F.col("_qx")) * (F.col("x") - F.col("_qx"))
          + (F.col("y") - F.col("_qy")) * (F.col("y") - F.col("_qy")))
    return p.join(q, "cell_id").withColumn("dist2", d2)


def knn_join(points: DataFrame, queries: DataFrame, k: int, res: int,
             radius: int, *, point_id: str = "point_id", x: str = "x",
             y: str = "y", query_id: str = "query_id") -> DataFrame:
    """kNN via k-ring expansion + exact distance re-rank
    (BASELINE.json north_star). Each query point explodes to the cells
    within Chebyshev ``radius`` rings at ``res``; candidates come from
    an equi-join on cell, then a window re-ranks by exact distance.

    Correctness contract: exact iff every query's true k-th neighbor
    lies within ``radius`` rings — i.e. within ``radius × cell_size``
    degrees (Chebyshev). Callers pick (res, radius) from the known
    density (tests verify equality against :func:`knn_exact`);
    :func:`knn_join_adaptive` removes the radius knob via
    multi-resolution expansion (driver query q55).
    """
    cand = _kring_candidates(points, queries, res, radius,
                             point_id=point_id, x=x, y=y,
                             query_id=query_id) \
        .withColumnRenamed("_pid", "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist2", "rank"))


def within_distance_join(points: DataFrame, queries: DataFrame,
                         radius: float, res: int, *,
                         point_id: str = "point_id", x: str = "x",
                         y: str = "y",
                         query_id: str = "query_id") -> DataFrame:
    """DWithin: every (query, point) pair with Euclidean distance ≤
    ``radius`` (degrees). Candidates via k-ring expansion with the ring
    count derived from the radius — ``rings = floor(r/cell_min_dim)+1``
    guarantees any point within ``radius`` of a query shares one of the
    candidate cells (Chebyshev bound) — then the exact ``d² ≤ r²``
    filter (codegen, identical double expression to the SQL oracle,
    driver q65). A point lives in one cell → unique pairs, no dedup.

    Output: (query_id, point_id, dist2).
    """
    if radius < 0:
        raise ValueError(f"radius must be non-negative, got {radius}")
    n = 1 << res
    min_dim = min(360.0 / n, 180.0 / n)
    rings = int(radius // min_dim) + 1
    cand = _kring_candidates(points, queries, res, rings,
                             point_id=point_id, x=x, y=y,
                             query_id=query_id)
    return (cand.where(F.col("dist2")
                       <= F.lit(float(radius) * float(radius)))
            .select("query_id", F.col("_pid").alias("point_id"), "dist2"))


def knn_join_adaptive(points: DataFrame, queries: DataFrame, k: int, res: int,
                      *, ring_radius: int = 2, level_step: int = 2,
                      point_id: str = "point_id", x: str = "x", y: str = "y",
                      query_id: str = "query_id") -> DataFrame:
    """Exact kNN via MULTI-RESOLUTION k-ring expansion — no magic radius.

    Instead of growing the ring (whose cell count grows quadratically),
    each round keeps a small fixed ring (``ring_radius``) but climbs the
    cell hierarchy ``level_step`` levels (parent = id >> 2·step) — the
    searched area quadruples per round at constant candidate-cell count.

    A query is PROVEN done when it has ≥ k candidates and its k-th
    distance fits inside the current level's guaranteed coverage
    (``ring_radius × cell_size``): any closer point would already be a
    candidate. Unsatisfied queries continue to the coarser level; at
    resolution 0 the ring is the whole grid, so convergence is
    unconditional. Each round is one equi-join + window over only the
    still-unsatisfied queries. Result equals :func:`knn_exact`
    (tested on clustered data where any fixed radius fails).
    """
    p = encode_points(points.select(
        F.col(point_id).alias("neighbor_id"), F.col(x).alias("x"),
        F.col(y).alias("y")), res).persist()

    q_all = queries.select(F.col(query_id).alias("query_id"),
                           F.col(x).alias("_qx"), F.col(y).alias("_qy"))

    d2 = ((F.col("x") - F.col("_qx")) * (F.col("x") - F.col("_qx"))
          + (F.col("y") - F.col("_qy")) * (F.col("y") - F.col("_qy")))
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("neighbor_id").asc())

    pending = q_all
    done_parts = []
    cached = [p]  # unpersisted before return — no session-lifetime leak
    level = res
    while True:
        n = 1 << level
        cell_w, cell_h = 360.0 / n, 180.0 / n
        guarantee = ring_radius * min(cell_w, cell_h)

        # ring cells as a pure-Column offsets expansion — the candidate
        # stage stays entirely inside whole-stage codegen
        # (plan-asserted: no Python eval node)
        q = explode_kring(pending, F.col("_qx"), F.col("_qy"),
                          level, ring_radius, out_col="_cell_lvl")
        p_lvl = p.withColumn(
            "_cell_lvl",
            F.col("cell_id") if level == res
            else cell_parent_col(F.col("cell_id"), res - level))
        topk = (q.join(p_lvl, "_cell_lvl")
                .withColumn("dist2", d2)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))
        if level == 0:
            done_parts.append(
                topk.select("query_id", "neighbor_id", "dist2", "rank"))
            break
        stats = (topk.groupBy("query_id")
                 .agg(F.count(F.lit(1)).alias("_n"),
                      F.max("dist2").alias("_dk")))
        ok = (F.col("_n") >= k) & (F.sqrt(F.col("_dk")) <= F.lit(guarantee))
        satisfied = stats.where(ok).select("query_id")
        done_parts.append(
            topk.join(F.broadcast(satisfied), "query_id", "left_semi")
            .select("query_id", "neighbor_id", "dist2", "rank"))
        pending = pending.join(F.broadcast(satisfied), "query_id",
                               "left_anti").persist()
        cached.append(pending)
        if pending.count() == 0:
            break
        level = max(level - level_step, 0)

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    # materialize the (small: |queries| x k rows) result so every cached
    # frame it references can be released now rather than leaking for
    # the session lifetime
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


# ---------------------------------------------------------------------------
# Tile assignment
# ---------------------------------------------------------------------------

def tile_assignments(features: DataFrame, res: int) -> DataFrame:
    """Point features → per-cell tile stats: the engine's headline
    output table (cell_id, n_features, n_docs). Input is the
    ``extract_features`` frame; only Point geometries contribute
    (lines/polygons tile via :func:`polygon_cover`)."""
    pts = (features.where(F.col("geom_type") == "Point")
           .where(F.size(F.col("parts")) > 0)
           .withColumn("_pos", F.col("parts")[0][0])
           .where(F.size(F.col("_pos")) >= 2)
           .withColumn("x", F.col("_pos")[0])
           .withColumn("y", F.col("_pos")[1]))
    return _tile_agg(pts, res)


def _tile_agg(pts: DataFrame, res: int) -> DataFrame:
    # two-step instead of count+countDistinct in one agg: the combined
    # form plans an Expand that doubles every row into the shuffle; the
    # (cell_id, doc_id) pre-aggregate map-side combines the bulk of the
    # points before any exchange, and the second agg runs on tiny data
    pts = encode_points(pts, res)
    per_doc = (pts.groupBy("cell_id", "doc_id")
               .agg(F.count(F.lit(1)).alias("n")))
    return per_doc.groupBy("cell_id").agg(
        F.sum("n").alias("n_features"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def tile_assignments_from_docs(documents_kml: DataFrame, res: int) -> DataFrame:
    """Hot path: documents_kml → tile stats via the slim point
    extraction (flat Arrow columns, no feature JSON). Identical result
    to ``tile_assignments(extract_features(docs), res)`` for Point
    features — asserted in tests."""
    from ..engine import extract_points

    return _tile_agg(extract_points(documents_kml), res)


def polygon_stats(polys: DataFrame, *, rings_col: str = "rings",
                  id_col: str = "poly_id") -> DataFrame:
    """Vector analytics over polygon rings: shoelace area and perimeter
    of the outer ring, as pure Column expressions (in-order ``aggregate``
    fold over the vertex array — same double arithmetic an SQL oracle
    runs edge-by-edge). Rings are closed (first == last vertex).

    Output: (poly_id, area2 = 2x signed shoelace area, perimeter).
    """
    ring = F.col(rings_col)[0]
    idx = F.sequence(F.lit(1), F.size(ring) - 1)  # element_at is 1-based

    def vx(i):
        return F.element_at(ring, i)

    cross = F.aggregate(
        F.transform(idx, lambda i: vx(i)[0] * vx(i + 1)[1]
                    - vx(i + 1)[0] * vx(i)[1]),
        F.lit(0.0), lambda acc, v: acc + v)
    length = F.aggregate(
        F.transform(idx, lambda i: F.sqrt(
            (vx(i + 1)[0] - vx(i)[0]) * (vx(i + 1)[0] - vx(i)[0])
            + (vx(i + 1)[1] - vx(i)[1]) * (vx(i + 1)[1] - vx(i)[1]))),
        F.lit(0.0), lambda acc, v: acc + v)
    # degenerate rings (< 2 vertices, empty, or null rings) would make
    # the descending sequence index element_at(ring, 0) and crash the
    # job — they contribute 0 area/length instead
    ok = F.size(ring) >= 2
    return polys.select(F.col(id_col),
                        F.when(ok, cross).otherwise(F.lit(0.0)).alias("area2"),
                        F.when(ok, length).otherwise(F.lit(0.0))
                        .alias("perimeter"))


def rect_overlap_join(rects: DataFrame, res: int, *,
                      id_col: str = "rect_id") -> DataFrame:
    """Spatial self-join: pairs of axis-aligned rectangles with
    overlapping interiors, found via the cell-bucket candidate join —
    PROVABLY complete (an overlap region intersects some grid cell,
    which both cover lists contain), then an exact interval test.

    One shuffle on the cover cell; the exact test is a codegen'd row
    filter before the pair dedup, so the distinct only carries true
    overlaps. At 100 TB pick ``res`` so cells are near the median rect
    size (cover lists stay short and buckets stay selective); hot cells
    (dense areas) can be salted with :mod:`.salted`.

    Antimeridian rule (inherited from :func:`cover_cells_rect`):
    ``west > east`` marks a rectangle crossing the antimeridian —
    its x extent is the union ``[west, 180] ∪ [-180, east]``. The
    exact test below treats x as that union: two crossing rects
    always overlap in x (both contain the antimeridian); a crossing
    and a simple rect overlap when the simple one intersects either
    piece. The cell-bucket candidates stay complete because the
    cover emits cells for both pieces.

    Output: (rect_a, rect_b) with rect_a < rect_b.
    """
    cov = cover_cells_rect(rects, res, with_fraction=False)
    a = cov.select(F.col(id_col).alias("rect_a"),
                   F.col("west").alias("_wa"), F.col("south").alias("_sa"),
                   F.col("east").alias("_ea"), F.col("north").alias("_na"),
                   "cell_id")
    b = cov.select(F.col(id_col).alias("rect_b"),
                   F.col("west").alias("_wb"), F.col("south").alias("_sb"),
                   F.col("east").alias("_eb"), F.col("north").alias("_nb"),
                   "cell_id")
    ca = F.col("_wa") > F.col("_ea")
    cb = F.col("_wb") > F.col("_eb")
    x_simple = (F.col("_wa") < F.col("_eb")) & (F.col("_wb") < F.col("_ea"))
    # one side crossing: the simple side intersects [w,180] when its
    # east passes the crossing west (wa < eb), or [-180,e] when its
    # west is before the crossing east (wb < ea) — symmetric in a/b
    x_one_cross = (F.col("_wa") < F.col("_eb")) | (F.col("_wb") < F.col("_ea"))
    x_overlap = (F.when(ca & cb, F.lit(True))
                 .when(ca | cb, x_one_cross)
                 .otherwise(x_simple))
    overlap = (x_overlap
               & (F.col("_sa") < F.col("_nb")) & (F.col("_sb") < F.col("_na")))
    return (a.join(b, "cell_id")
            .where((F.col("rect_a") < F.col("rect_b")) & overlap)
            .select("rect_a", "rect_b").distinct())


def compact_cells(cells: DataFrame, *, cell_col: str = "cell_id",
                  min_res: int = 0) -> DataFrame:
    """S2/H3-style compaction of a cell SET: wherever all 4 sibling
    cells of a parent are present, they are replaced by the parent,
    recursively up to ``min_res`` — the canonical way to shrink a
    fine-resolution cover without changing the region it denotes
    (``uncompact_cells`` restores the original set exactly).

    Mixed input resolutions are supported; the input is deduplicated
    first. One level per pass: group the current level's cells by
    parent (hash aggregate, map-side combinable), complete quads
    collapse, incomplete ones keep their children — each pass is one
    small shuffle on the parent key and the loop length is the
    resolution RANGE (≤ 26), not the data size, so the shape holds at
    any scale. Deterministic; oracle-checked against a DuckDB
    per-level CTE replay (driver q68).
    """
    if not 0 <= min_res <= MAX_RES:
        raise ValueError(f"min_res must be in [0, {MAX_RES}]")
    out = (cells.select(F.col(cell_col).alias("cell_id")).distinct()
           .withColumn("_res", cell_res_col(F.col("cell_id"))))
    bounds = out.agg(F.max("_res").alias("mx")).collect()[0]
    max_res = int(bounds["mx"]) if bounds["mx"] is not None else min_res
    if max_res > MAX_RES:
        raise ValueError(f"data contains res {max_res} > MAX_RES")
    # cells already at or coarser than min_res pass through untouched
    # (the loop below is empty when max_res <= min_res)
    for r in range(max_res, min_res, -1):
        cur = out.where(F.col("_res") == r) \
            .withColumn("_parent", cell_parent_col(F.col("cell_id"), 1))
        rest = out.where(F.col("_res") != r)
        complete = (cur.groupBy("_parent")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") == 4)
                    .select("_parent"))
        kept = (cur.join(complete, "_parent", "left_anti")
                .select("cell_id", "_res"))
        promoted = complete.select(
            F.col("_parent").alias("cell_id"),
            cell_res_col(F.col("_parent")).alias("_res"))
        # promoted parents can complete a quad at the next level up —
        # the loop continues at r-1 with them included. The distinct
        # matters for SET semantics on inputs that mix a parent with
        # its own children: the promoted parent would otherwise
        # duplicate the pre-existing one, and the duplicated rows
        # could fake a complete quad (COUNT = 4 over < 4 distinct
        # siblings) at the next level. `out` is referenced three times
        # per level (rest/cur/kept), so WITHOUT truncation the plan
        # tree would grow ~3^levels (janino blows up and Spark falls
        # back to interpreted mode); a lazy localCheckpoint per level
        # keeps it linear.
        out = (rest.unionByName(kept).unionByName(promoted)
               .distinct()
               .localCheckpoint(eager=False))
    return out.select("cell_id")


def uncompact_cells(cells: DataFrame, res: int, *,
                    cell_col: str = "cell_id") -> DataFrame:
    """Inverse of :func:`compact_cells`: expand every cell to its
    descendants at ``res`` (cells already at ``res`` pass through).
    Pure Column sequence+explode — each Δ-level cell becomes its 4^Δ
    children via the Morton bit-shift, no Python."""
    from .cells import RES_BITS, RES_MASK

    # validation stays LAZY (raise_error inside the _r projection —
    # both downstream expressions force it) so calling this inside a
    # pipeline never triggers an extra validation scan; the error
    # surfaces at action time like any other row-level failure
    d = (cells.select(F.col(cell_col).alias("cell_id"))
         .withColumn("_r", F.expr(
             f"CASE WHEN (cell_id & {RES_MASK}) > {res} THEN "
             f"CAST(raise_error('uncompact_cells: input contains cells "
             f"finer than res {res}') AS BIGINT) "
             f"ELSE cell_id & {RES_MASK} END")))
    # column-valued shift amounts need the SQL expr form (the pyspark
    # wrapper only takes literal bit counts)
    base = F.expr(f"shiftleft(shiftright(cell_id, {RES_BITS}), "
                  f"2 * ({res} - _r))")
    child = F.explode(F.expr(
        f"sequence(0L, shiftleft(1L, 2 * ({res} - _r)) - 1)"))
    return (d.select(base.alias("_base"), child.alias("_i"))
            .select(F.expr(f"shiftleft(_base | _i, {RES_BITS})"
                           f" | {res}").cast("long").alias("cell_id")))


def tile_pyramid(pts: DataFrame, base_res: int,
                 levels: list[int]) -> DataFrame:
    """Hypertable-style multi-resolution rollup: encode ONCE at
    ``base_res``, then derive every coarser level's cell id by the
    hierarchical parent bit-shift (parent = code >> 2·Δres — free,
    pure Column) and aggregate all levels in one shuffle. At 100 TB
    this replaces L separate scan+agg jobs with one; the exchange key
    (level, cell) also keeps level skew bounded because coarse levels
    have few cells but proportionally fewer rows after the map-side
    partial aggregate.

    Output: (level, cell_id, n_points).
    """
    from .cells import RES_BITS

    if any(lv > base_res for lv in levels):
        raise ValueError(f"levels {levels} must all be <= base_res {base_res}")
    enc = encode_points(pts, base_res)
    lvl = F.explode(F.array(*[F.lit(lv) for lv in levels])).alias("level")
    cell = F.expr(
        f"shiftleft(shiftright(cell_id, {RES_BITS} + 2 * ({base_res} - level)),"
        f" {RES_BITS}) | level").cast("long")
    return (enc.select("cell_id", lvl)
            .select("level", cell.alias("cell"))
            .groupBy("level", "cell")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .withColumnRenamed("cell", "cell_id"))


def _dp_keep_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask (iterative, stack-based): endpoints
    always kept; a point is kept when its distance to the current
    simplification segment exceeds ``tol`` (segment-clipped distance —
    every DROPPED point is within ``tol`` of the output chain)."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        seg_l2 = float(seg @ seg)
        mid = pts[i + 1:j]
        if seg_l2 == 0.0:
            d2 = ((mid - pts[i]) ** 2).sum(axis=1)
        else:
            t = np.clip((mid - pts[i]) @ seg / seg_l2, 0.0, 1.0)
            proj = pts[i] + t[:, None] * seg
            d2 = ((mid - proj) ** 2).sum(axis=1)
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def simplify_lines(lines: DataFrame, tolerance: float, *,
                   id_col: str = "line_id",
                   coords_col: str = "coords") -> DataFrame:
    """Geometry generalization for multi-resolution tiling: Douglas–
    Peucker polyline simplification, numpy per line inside Arrow
    batches (``mapInPandas`` — a narrow map, no shuffle; at 100 TB each
    task simplifies its own partition's lines independently).

    Guarantees (property-tested): output vertices are a subsequence of
    the input with both endpoints kept; every dropped vertex lies
    within ``tolerance`` of the simplified chain; applying the operator
    to its own output is a fixpoint. Pair with :func:`tile_pyramid` —
    coarser levels render simplified geometry at matched tolerance
    (cell size).

    Input coords: array<array<double>> (one [x, y] per vertex).
    Output: (line_id, coords, n_in, n_out).
    """
    id_type = lines.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs, n_in, n_out = [], [], [], []
            for line_id, coords in zip(pdf[id_col], pdf[coords_col]):
                # one NULL/ragged record must not abort a 100-TB job:
                # emit it unsimplified-empty instead of raising
                if coords is None:
                    ids.append(line_id)
                    outs.append([])
                    n_in.append(0)
                    n_out.append(0)
                    continue
                pts = np.asarray(
                    [c[:2] for c in coords
                     if c is not None and len(c) >= 2], dtype=np.float64)
                if len(pts) <= 2:
                    kept = pts
                else:
                    kept = pts[_dp_keep_mask(pts, tolerance)]
                ids.append(line_id)
                outs.append(kept.tolist())
                n_in.append(len(pts))
                n_out.append(len(kept))
            yield pd.DataFrame({id_col: ids, coords_col: outs,
                                "n_in": n_in, "n_out": n_out})

    return lines.select(id_col, coords_col).mapInPandas(
        run, f"{id_col} {id_type}, {coords_col} array<array<double>>, "
             "n_in int, n_out int")


# ---------------------------------------------------------------------------
# Polyline supercover (raster←vector for LineStrings)
# ---------------------------------------------------------------------------

def line_cover(lines: DataFrame, res: int, *,
               id_col: str = "line_id",
               coords_col: str = "coords") -> DataFrame:
    """Exact supercover rasterization of polylines: every cell a
    segment passes through, via the column-sweep method — for each grid
    column the segment crosses, emit the rows spanned by the segment's
    y-range within that column. Completes the raster←vector family
    (points → :func:`encode_points`, polygons → :func:`polygon_cover`,
    lines → here; reference builds LineString geometry at
    /root/reference/kml2geojson/main.py:248-255 — this is the tiling
    engine's rasterization of those features).

    Entirely pure-Column (``transform`` over vertex pairs + two
    ``sequence`` explodes + Morton encode): zero Python, stays in
    whole-stage codegen, and at 100 TB is a narrow map + one distinct
    shuffle bounded by the output cell count. Fan-out is bounded by
    cells actually touched (O(len/cell_size) per segment), never a
    bbox blowup like a naive rect cover of a long diagonal line.

    Conventions (documented tie-breaks, same as point encoding):
    cells are half-open ``[w, w+cw) × [s, s+ch)``; a vertex exactly on
    a cell boundary belongs to the upper/right cell; coordinates clamp
    to the grid (no antimeridian wrap — split the input line first if
    it crosses; degenerate one-vertex lines cover their single cell).
    Every float expression is replayed verbatim by the DuckDB oracle
    (q74), so cell sets match bit-for-bit.

    Input coords: array<array<double>> ([x, y] per vertex, as
    :func:`simplify_lines`). Output: (id_col, cell_id) distinct.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = float(1 << res)
    cw = 360.0 / n

    # consecutive vertex pairs; a single-vertex line degenerates to a
    # zero-length segment so it still covers its own cell
    seg = F.expr(
        f"transform("
        f"  slice({coords_col}, 1, greatest(size({coords_col}) - 1, 1)),"
        f"  (p, i) -> named_struct("
        f"    'x0', p[0], 'y0', p[1],"
        f"    'x1', coalesce(get(get({coords_col}, i + 1), 0), p[0]),"
        f"    'y1', coalesce(get(get({coords_col}, i + 1), 1), p[1])))")
    segs = (lines.select(id_col, F.explode(seg).alias("s"))
            .select(id_col, "s.x0", "s.y0", "s.x1", "s.y1"))

    def gx_of(c):
        return _grid_lo(c, 180.0, 360.0, res)

    def gy_of(c):
        return _grid_lo(c, 90.0, 180.0, res)

    segs = (segs
            .withColumn("sx", F.least("x0", "x1"))
            .withColumn("ex", F.greatest("x0", "x1")))
    cols = (segs
            .withColumn("gx", F.explode(F.sequence(gx_of(F.col("sx")),
                                                   gx_of(F.col("ex"))))))
    # x-span of the segment inside column gx, then the y-values at both
    # span ends (linear interpolation from the ORIGINAL endpoint order;
    # denominator guarded so the unused branch never divides by zero)
    col_l = F.col("gx") * F.lit(cw) - F.lit(180.0)
    xa = F.greatest(F.col("sx"), col_l)
    xb = F.least(F.col("ex"), col_l + F.lit(cw))
    vertical = F.col("x1") == F.col("x0")
    m = ((F.col("y1") - F.col("y0"))
         / F.when(vertical, F.lit(1.0)).otherwise(F.col("x1") - F.col("x0")))
    ya = F.when(vertical, F.least("y0", "y1")) \
          .otherwise(F.col("y0") + (xa - F.col("x0")) * m)
    yb = F.when(vertical, F.greatest("y0", "y1")) \
          .otherwise(F.col("y0") + (xb - F.col("x0")) * m)
    rows = (cols
            .withColumn("ya", ya).withColumn("yb", yb)
            .withColumn("gy", F.explode(F.sequence(
                gy_of(F.least("ya", "yb")), gy_of(F.greatest("ya", "yb"))))))
    from .cells import cell_encode_grid_col
    return (rows
            .select(id_col, cell_encode_grid_col(F.col("gx"), F.col("gy"),
                                                 res).alias("cell_id"))
            .distinct())


def _grid_lo(coord, offset: float, extent: float, res: int):
    """floor((coord+offset)/extent * 2^res) clamped to [0, 2^res-1] —
    the shared grid formula (same floats as the DuckDB `_grid_sql`)."""
    nf = float(1 << res)
    raw = F.floor((coord + F.lit(offset)) / F.lit(extent) * F.lit(nf))
    return F.greatest(F.lit(0), F.least(F.lit((1 << res) - 1), raw)) \
        .cast("long")


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN-lite over occupied cells)
# ---------------------------------------------------------------------------

def grid_cluster(points: DataFrame, res: int, *,
                 x_col: str = "x", y_col: str = "y",
                 min_count: int = 1, diagonal: bool = True,
                 max_iters: int = 50,
                 components: str = "star") -> DataFrame:
    """Density clustering on the cell grid: cells holding at least
    ``min_count`` points are occupied; occupied cells that are
    8-neighbors (4 if ``diagonal=False``; x wraps at the antimeridian,
    y clamps at the poles — same rules as ``cell_kring_np``) belong to
    the same cluster; ``cluster_id`` = min cell id in the connected
    component. A grid-quantized DBSCAN: one pass over the points, then
    the problem shrinks to the occupied-cell set.

    Scale shape: the only full-data pass is the codegen groupBy
    (map-side combinable); neighbor generation is an 8-way explode
    over OCCUPIED CELLS ONLY (≪ points), the adjacency check is a
    self equi-join on grid coords, and components run on the cell
    graph. ``components`` defaults to ``"star"`` (large-star/small-star,
    O(log² n) rounds independent of cluster diameter) because occupied-
    cell graphs are the canonical LONG-CHAIN case — a snaking corridor
    of occupied cells has diameter ~ its length, and min-label
    propagation (``components="label"``) needs one round per hop (it
    RAISES past ``max_iters`` rather than return wrong labels; the
    sf0.1 customer grid at res 7 already exceeds 50 hops). Both
    variants yield the identical min-cell-id labeling. At 100 TB the
    cell graph is millions of rows, not trillions.

    Output: (cell_id, cluster_id, n_points) per occupied cell.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = 1 << res
    from .cells import cell_encode_grid_col

    occ = (points
           .select(_grid_lo(F.col(x_col), 180.0, 360.0, res).alias("gx"),
                   _grid_lo(F.col(y_col), 90.0, 180.0, res).alias("gy"))
           .groupBy("gx", "gy")
           .agg(F.count(F.lit(1)).alias("n_points"))
           .where(F.col("n_points") >= int(min_count))
           .withColumn("cell_id",
                       cell_encode_grid_col(F.col("gx"), F.col("gy"), res)))
    occ = occ.localCheckpoint(eager=False)  # reused 3×: neighbors, join, label

    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
               if (dx, dy) != (0, 0) and (diagonal or dx == 0 or dy == 0)]
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in offsets])).alias("o")
    nbr = (occ.select("cell_id", "gx", "gy", off)
           .select("cell_id",
                   ((F.col("gx") + F.col("o.dx") + F.lit(n)) % F.lit(n))
                   .alias("nx"),
                   (F.col("gy") + F.col("o.dy")).alias("ny"))
           .where((F.col("ny") >= 0) & (F.col("ny") < n)))
    edges = nbr.join(
        occ.select(F.col("gx").alias("nx"), F.col("gy").alias("ny"),
                   F.col("cell_id").alias("nbr_id")),
        ["nx", "ny"]).select(F.col("cell_id").alias("doc_a"),
                             F.col("nbr_id").alias("doc_b"))

    from ..graph import connected_components, connected_components_star
    if components not in ("label", "star"):
        raise ValueError(f"unknown components algorithm {components!r}")
    cc = connected_components if components == "label" \
        else connected_components_star
    comp = cc(edges, max_iters=max_iters)
    return (occ.join(comp, occ["cell_id"] == comp["node"], "left")
            .select("cell_id",
                    F.coalesce(F.col("component"), F.col("cell_id"))
                    .alias("cluster_id"),
                    "n_points"))


# ---------------------------------------------------------------------------
# Per-group spatial extent (bbox + exact centroid)
# ---------------------------------------------------------------------------

def spatial_extent(points: DataFrame, group_col: str, *,
                   x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-group extent summary: bounding box, point count, and
    centroid — the planning statistic a tiling job reads FIRST to pick
    resolutions, detect hot regions, and bound rect covers before
    touching geometry.

    One map-side-combinable hash aggregate, pure Column — at 100 TB
    this is a single shuffle of |groups| rows. Centroid sums are
    integerized to nano-degrees (``round(coord * 1e9)`` as long) so
    partial-aggregate order can't perturb a float sum — the same
    integerize-then-divide trick as the money columns — making the
    centroid bit-exact cross-engine (driver q78 replays it).

    Output: (group_col, minx, miny, maxx, maxy, n_points, cx, cy).
    """
    px = F.round(F.col(x_col) * F.lit(1e9)).cast("long")
    py = F.round(F.col(y_col) * F.lit(1e9)).cast("long")
    return (points.groupBy(group_col)
            .agg(F.min(x_col).alias("minx"), F.min(y_col).alias("miny"),
                 F.max(x_col).alias("maxx"), F.max(y_col).alias("maxy"),
                 F.count(F.lit(1)).alias("n_points"),
                 F.sum(px).alias("_sx"), F.sum(py).alias("_sy"))
            .select(group_col, "minx", "miny", "maxx", "maxy", "n_points",
                    ((F.col("_sx").cast("double")
                      / F.col("n_points")) / F.lit(1e9)).alias("cx"),
                    ((F.col("_sy").cast("double")
                      / F.col("n_points")) / F.lit(1e9)).alias("cy")))


# ---------------------------------------------------------------------------
# Trajectory statistics (per-entity path metrics)
# ---------------------------------------------------------------------------

def trajectory_stats(points: DataFrame, id_col: str, order_col: str, *,
                     x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-trajectory movement summary over a table of timestamped
    positions: point count, total planar path length, and net
    displacement (first→last position in ``order_col`` order) — the
    GPS-track / fleet-telemetry rollup a tiling engine feeds into
    speed filters and stay-point detection.

    Scale shape: the lag window partitions by ``id_col`` (millions of
    independent trajectories — no global funnel; a single whale
    trajectory is bounded by its own point count, and the follow-up
    aggregate is map-side combinable on the same key so AQE coalesces
    the two stages onto one exchange). Endpoints come from
    ``min_by``/``max_by`` — order-independent aggregates, no second
    window.

    Cross-engine determinism: each step length is
    ``sqrt(dx² + dy²)`` (IEEE-exact products/sums + correctly-rounded
    sqrt — deterministic on JVM, numpy, and DuckDB alike), integerized
    to nano-degrees BEFORE summation so partial-aggregate order cannot
    perturb the total (same trick as :func:`spatial_extent`).

    Output: (id_col, n_points, path_nano, disp_nano) — both lengths in
    round(len·1e9) nano-degree units as BIGINT.
    """
    w = Window.partitionBy(id_col).orderBy(order_col)
    dx = F.col(x_col) - F.lag(x_col).over(w)
    dy = F.col(y_col) - F.lag(y_col).over(w)
    step = F.sqrt(dx * dx + dy * dy)
    stepped = points.select(
        id_col, order_col, x_col, y_col,
        F.coalesce(F.round(step * F.lit(1e9)).cast("long"),
                   F.lit(0)).alias("_step_nano"))
    first_x = F.min_by(x_col, order_col)
    first_y = F.min_by(y_col, order_col)
    last_x = F.max_by(x_col, order_col)
    last_y = F.max_by(y_col, order_col)
    ddx = last_x - first_x
    ddy = last_y - first_y
    return (stepped.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("_step_nano").alias("path_nano"),
                 F.round(F.sqrt(ddx * ddx + ddy * ddy) * F.lit(1e9))
                 .cast("long").alias("disp_nano")))


def _dedupe_traj(fixes: DataFrame, id_col: str, t_col: str,
                 cols: list) -> DataFrame:
    """Shared trajectory prologue: drop NULL id/t/payload rows, then
    collapse duplicate ``(id, t)`` fixes to ``min(struct(cols))`` —
    pre-partitioned BY ID so the dedupe hash-agg (clustering (id, t) ⊇
    id) and every downstream id-partitioned window reuse ONE exchange
    instead of shuffling twice. A whale trajectory lands in one
    partition — inherent to any per-id window, bounded by its own
    length. ``cols`` = [(source_col, out_alias), ...]; t is cast to
    long."""
    cond = F.col(id_col).isNotNull() & F.col(t_col).isNotNull()
    for src, _ in cols:
        cond = cond & F.col(src).isNotNull()
    f = fixes.where(cond).repartition(F.col(id_col))
    st = F.min(F.struct(*[F.col(s).alias(a) for s, a in cols])) \
        .alias("_p")
    return (f.groupBy(id_col, t_col).agg(st)
            .select(id_col, F.col(t_col).cast("long").alias(t_col),
                    *[F.col(f"_p.{a}").alias(a) for _, a in cols]))


def trajectory_resample(points: DataFrame, id_col: str, t_col: str, *,
                        step: int, x_col: str = "x",
                        y_col: str = "y") -> DataFrame:
    """Resample every trajectory onto the fixed time grid ``T = k·step``
    by linear interpolation — the align-GPS-traces-to-a-common-clock
    primitive that precedes cross-trace comparison, map matching
    (:func:`nearest_segment_join`) and stay-point detection.

    Semantics: rows with a NULL id/t/x/y are dropped; duplicate
    ``(id, t)`` fixes collapse deterministically to ``min(struct(x,
    y))``; every grid tick with ``t_first <= T <= t_last`` is emitted
    exactly once, interpolated inside its owning segment (the unique
    consecutive pair with ``t_prev < T <= t_curr``; the first fix owns
    its own tick when it lies exactly on the grid). ``t_col`` is any
    integer time axis (epoch seconds, event sequence) — deliberately
    numeric so the semantics and the SQL oracle never touch timezone
    arithmetic (same rule as :mod:`..rangejoin`).

    Scale shape: dedupe hash-agg + ONE lead window, both partitioned
    by ``id_col`` (millions of independent trajectories — no global
    funnel; a whale trajectory costs its own length only), then an
    integer-sequence explode and pure-Column interpolation — zero
    Python, no shuffle after the window. Output size is
    ``(t_last - t_first) / step`` per trajectory: choose ``step``
    against the fix cadence, not the row count.

    Cross-engine determinism: tick ownership is integer arithmetic;
    the interpolation ``x0 + (x1-x0)·(T-t0)/(t1-t0)`` is the same IEEE
    double tree on JVM and DuckDB; outputs integerize to nano units
    (round(x·1e9) BIGINT) like :func:`trajectory_stats`.

    Output: (id_col, t, x_nano, y_nano).
    """
    if step <= 0:
        raise ValueError("step must be positive")
    stepL = F.lit(int(step))
    pts = _dedupe_traj(points, id_col, t_col,
                       [(x_col, "_x0"), (y_col, "_y0")]) \
        .withColumnRenamed(t_col, "_t0")
    w = Window.partitionBy(id_col).orderBy("_t0")
    seg = pts.select(
        id_col, "_t0", "_x0", "_y0",
        F.lead("_t0").over(w).alias("_t1"),
        F.lead("_x0").over(w).alias("_x1"),
        F.lead("_y0").over(w).alias("_y1"),
        F.row_number().over(w).alias("_rn"))
    base = F.floor(F.col("_t0") / stepL).cast("long")
    on_grid_first = (F.col("_rn") == 1) & (F.col("_t0") % stepL == 0)
    lo = base + F.when(on_grid_first, F.lit(0)).otherwise(F.lit(1))
    hi = F.when(F.col("_t1").isNotNull(),
                F.floor(F.col("_t1") / stepL).cast("long")).otherwise(base)
    ticks = F.when(lo <= hi, F.sequence(lo, hi)) \
        .otherwise(F.array().cast("array<bigint>"))
    tk = seg.withColumn("_k", F.explode(ticks))
    t = (F.col("_k") * stepL).cast("long")
    frac = (t - F.col("_t0")) / (F.col("_t1") - F.col("_t0"))

    def _interp(c0: str, c1: str):
        v = F.when(F.col("_t1").isNull(), F.col(c0)) \
            .otherwise(F.col(c0) + (F.col(c1) - F.col(c0)) * frac)
        return F.round(v * F.lit(1e9)).cast("long")

    return tk.select(id_col, t.alias("t"),
                     _interp("_x0", "_x1").alias("x_nano"),
                     _interp("_y0", "_y1").alias("y_nano"))


def geofence_dwell(fixes: DataFrame, polygons: DataFrame, res: int, *,
                   id_col: str = "id", t_col: str = "t",
                   fix_id_col: str = "fix_id", x_col: str = "x",
                   y_col: str = "y", poly_id: str = "poly_id",
                   rings: str = "rings", **pip_kwargs) -> DataFrame:
    """Per (trajectory, polygon) dwell report: how many fixes landed
    inside each geofence and how long the trajectory stayed — the
    telematics/geofencing rollup composing :func:`pip_join` with the
    trajectory windows of :func:`trajectory_stats`.

    Semantics: rows with a NULL id/t/fix-id/x/y are dropped; duplicate
    ``(id, t)`` fixes collapse to ``min(struct(x, y, fix_id))``. A
    segment's duration ``t_next - t`` is credited to polygon P iff
    BOTH endpoints are inside P (the standard fix-level approximation:
    an unsampled exit-and-return between two inside fixes is credited,
    an inside-outside straddle is not). ``fix_id_col`` must be a
    UNIQUE BIGINT per fix (every real feed has one) — it rides through
    the point-in-polygon kernel as the point key. ``t_col`` is integer
    time (epoch seconds / sequence), so dwell is an exact BIGINT.

    Scale shape: dedupe hash-agg + lead window partitioned by id (no
    global funnel), then :func:`pip_join` (cell-bucketed candidates,
    broadcast or cogroup rings — never all-pairs), ONE equi-join back
    on the unique fix id, and a (id, poly) window + hash-agg. The
    successor test needs no self-join: inside fixes of (id, P) sorted
    by t — the next one equals the trajectory successor iff the
    successor is inside P, because no trajectory fix exists strictly
    between t and t_next at all.

    Output: (id_col, poly_id, n_inside, dwell).
    """
    reserved = {"point_id", "poly_id", "_t_next"}
    if {id_col, t_col, fix_id_col} & reserved:
        raise ValueError(
            f"geofence_dwell: {sorted(reserved)} are reserved column "
            f"names; rename the id/t/fix-id columns before calling")
    f = _dedupe_traj(fixes, id_col, t_col,
                     [(x_col, "x"), (y_col, "y"),
                      (fix_id_col, "point_id")])
    w = Window.partitionBy(id_col).orderBy(t_col)
    seg = f.withColumn("_t_next", F.lead(t_col).over(w))
    inside = pip_join(seg.select("point_id", "x", "y"), polygons, res,
                      poly_id=poly_id, rings=rings, **pip_kwargs)
    j = inside.join(seg.select("point_id", id_col, t_col, "_t_next"),
                    "point_id")
    w2 = Window.partitionBy(id_col, "poly_id").orderBy(t_col)
    nt = F.lead(t_col).over(w2)
    credit = F.when(nt == F.col("_t_next"),
                    F.col("_t_next") - F.col(t_col))
    return (j.withColumn("_credit", credit)
            .groupBy(id_col, "poly_id")
            .agg(F.count(F.lit(1)).alias("n_inside"),
                 F.coalesce(F.sum("_credit"), F.lit(0)).cast("long")
                 .alias("dwell")))


def cell_stays(fixes: DataFrame, res: int, *, id_col: str = "id",
               t_col: str = "t", x_col: str = "x", y_col: str = "y",
               min_duration: int = 0, min_fixes: int = 1) -> DataFrame:
    """Grid stay-point detection: a stay is a MAXIMAL run of
    consecutive fixes (per trajectory, time order) whose positions
    share one res-``res`` cell, kept when it spans at least
    ``min_duration`` time units and ``min_fixes`` fixes — the
    where-did-the-vehicle-stop primitive downstream of
    :func:`trajectory_resample` and upstream of :func:`geofence_dwell`
    style reporting.

    Cell-anchored rather than radius-anchored deliberately: the
    classic radius stay-point scan is sequential per trajectory; the
    cell formulation is a pure windowed computation with IDENTICAL
    output across engines and parallelism (q10's cell codes), at the
    cost of splitting a stay that straddles a cell edge — pick ``res``
    one level coarser than the stop radius of interest.

    Semantics: NULL id/t/x/y rows are dropped; duplicate ``(id, t)``
    fixes collapse to ``min(struct(x, y))``; ``duration = t_last -
    t_first`` of the run (a single-fix run has duration 0).

    Scale shape: dedupe hash-agg + lag marker + running-sum run id —
    both windows share ONE id-partitioned sort — then a map-side
    combinable hash-agg on (id, run). No join, no global funnel.

    Output: (id_col, cell_id, t_start, t_end, n_fixes, duration).
    """
    f = _dedupe_traj(fixes, id_col, t_col, [(x_col, "x"), (y_col, "y")]) \
        .select(id_col, t_col,
                cell_encode_col(F.col("x"), F.col("y"), res)
                .alias("cell_id"))
    w = Window.partitionBy(id_col).orderBy(t_col)
    prev = F.lag("cell_id").over(w)
    marked = f.withColumn(
        "_new", F.when(prev.isNull() | (prev != F.col("cell_id")),
                       F.lit(1)).otherwise(F.lit(0)))
    runs = marked.withColumn("_run", F.sum("_new").over(w))
    out = (runs.groupBy(id_col, "_run")
           .agg(F.min("cell_id").alias("cell_id"),
                F.min(t_col).alias("t_start"),
                F.max(t_col).alias("t_end"),
                F.count(F.lit(1)).alias("n_fixes"))
           .withColumn("duration",
                       (F.col("t_end") - F.col("t_start")).cast("long")))
    return (out.where((F.col("duration") >= int(min_duration))
                      & (F.col("n_fixes") >= int(min_fixes)))
            .select(id_col, "cell_id", "t_start", "t_end", "n_fixes",
                    "duration"))


def speed_outliers(fixes: DataFrame, *, max_speed_nano: int,
                   id_col: str = "id", t_col: str = "t",
                   x_col: str = "x", y_col: str = "y") -> DataFrame:
    """GPS speed filter: flag every fix whose implied speed from its
    trajectory predecessor exceeds ``max_speed_nano`` nano-degrees per
    time unit — the teleporting-fix cleaner that runs before
    :func:`trajectory_stats` / :func:`nearest_segment_join`.

    The test is the EXACT integer comparison ``dist_nano >
    max_speed_nano · dt`` (step length nano-integerized like
    :func:`trajectory_stats`, dt integer) — no float division, so the
    verdict is bit-stable across engines and partitionings. The first
    fix of a trajectory has no predecessor and is never flagged.
    NULL id/t/x/y rows are dropped; duplicate ``(id, t)`` fixes
    collapse to ``min(struct(x, y))``.

    Scale shape: dedupe hash-agg + ONE id-partitioned lag window;
    codegen comparison, no join.

    Output: (id_col, t, dist_nano, dt) — flagged fixes only.
    """
    if max_speed_nano <= 0:
        raise ValueError("max_speed_nano must be positive")
    f = _dedupe_traj(fixes, id_col, t_col, [(x_col, "x"), (y_col, "y")])
    w = Window.partitionBy(id_col).orderBy(t_col)
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    dist = F.round(F.sqrt(dx * dx + dy * dy) * F.lit(1e9)).cast("long")
    dt = (F.col(t_col) - F.lag(t_col).over(w)).cast("long")
    return (f.select(id_col, t_col, dist.alias("dist_nano"),
                     dt.alias("dt"))
            .where(F.col("dist_nano")
                   > F.lit(int(max_speed_nano)) * F.col("dt")))


def heading_octants(fixes: DataFrame, *, id_col: str = "id",
                    t_col: str = "t", x_col: str = "x",
                    y_col: str = "y") -> DataFrame:
    """Per-trajectory heading histogram: count movement steps in each
    of 8 equal compass octants — the direction-mix fingerprint used to
    separate corridor traffic from milling, and to orient tracks
    before map matching.

    Octants are indexed 0..7 counterclockwise from east, each covering
    45° with its LOWER boundary inclusive (0 = [0°,45°), 1 = [45°,90°),
    …). Classification is a fixed CASE chain of sign/slope COMPARISONS
    on (dx, dy) — deliberately no atan2, whose last-ulp behaviour is
    not contractual across engines; comparisons on identical IEEE
    doubles are. Zero-length steps (repeated position) count as octant
    -1. NULL id/t/x/y rows are dropped; duplicate ``(id, t)`` fixes
    collapse to ``min(struct(x, y))``; the first fix of a trajectory
    contributes no step.

    Scale shape: dedupe hash-agg + ONE id-partitioned lag window +
    map-side-combinable (id, octant) hash-agg — no join.

    Output: (id_col, octant, n_steps).
    """
    f = _dedupe_traj(fixes, id_col, t_col, [(x_col, "x"), (y_col, "y")])
    w = Window.partitionBy(id_col).orderBy(t_col)
    stepped = f.select(
        id_col,
        (F.col("x") - F.lag("x").over(w)).alias("dx"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"))
    dx, dy = F.col("dx"), F.col("dy")
    octant = (
        F.when(dx.isNull(), None)
        .when((dx == 0) & (dy == 0), F.lit(-1))
        .when((dy >= 0) & (dx > 0) & (dy < dx), F.lit(0))
        .when((dx > 0) & (dy >= dx), F.lit(1))
        .when((dx <= 0) & (dy > 0) & (dy > -dx), F.lit(2))
        .when((dy > 0) & (dy <= -dx), F.lit(3))
        .when((dy <= 0) & (dx < 0) & (dy > dx), F.lit(4))
        .when((dy < 0) & (dy <= dx) & (dx < 0), F.lit(5))
        .when((dy < 0) & (dx >= 0) & (dx < -dy), F.lit(6))
        .otherwise(F.lit(7)))
    return (stepped.where(dx.isNotNull())
            .select(id_col, octant.cast("int").alias("octant"))
            .groupBy(id_col, "octant")
            .agg(F.count(F.lit(1)).alias("n_steps")))


# ---------------------------------------------------------------------------
# Rectangle intersection join (overlap pairs + exact intersection area)
# ---------------------------------------------------------------------------

def rect_intersection_join(rects: DataFrame, res: int, *,
                           id_col: str = "rect_id") -> DataFrame:
    """:func:`rect_overlap_join` extended with the EXACT intersection
    geometry: for every overlapping pair, the intersection rectangle's
    width, height, and area — the building block for IoU dedup of
    bounding boxes and map-matching conflation.

    Same candidate plan as :func:`rect_overlap_join` (cell-bucketed
    equi-join, provably complete, codegen'd exact filter before the
    dedup). Antimeridian-crossing rectangles (west > east) are
    supported: the x-overlap width is the summed overlap of the
    [west, 180] ∪ [-180, east] pieces, computed branch-free from the
    piece intervals.

    Determinism: width/height are single subtractions of input doubles
    and the area one product — IEEE-exact, so the pico-integerized
    area (round(area·1e9)) hash-matches the DuckDB replay.

    Output: (rect_a, rect_b, inter_w, inter_h, inter_area_nano).
    """
    cov = cover_cells_rect(rects, res, with_fraction=False)
    a = cov.select(F.col(id_col).alias("rect_a"),
                   F.col("west").alias("_wa"), F.col("south").alias("_sa"),
                   F.col("east").alias("_ea"), F.col("north").alias("_na"),
                   "cell_id")
    b = cov.select(F.col(id_col).alias("rect_b"),
                   F.col("west").alias("_wb"), F.col("south").alias("_sb"),
                   F.col("east").alias("_eb"), F.col("north").alias("_nb"),
                   "cell_id")

    def _pieces(w, e, cross):
        # x pieces as (east, west) bounds: [w,e] (or [w,180]∪[-180,e]
        # when crossing); the second piece of a non-crossing rect is
        # the EMPTY interval [e, w] (width ≤ 0, clamped below)
        return (
            (F.when(cross, F.lit(180.0)).otherwise(e), w),
            (F.when(cross, e).otherwise(w),
             F.when(cross, F.lit(-180.0)).otherwise(e)),
        )

    ca = F.col("_wa") > F.col("_ea")
    cb = F.col("_wb") > F.col("_eb")
    pa = _pieces(F.col("_wa"), F.col("_ea"), ca)
    pb = _pieces(F.col("_wb"), F.col("_eb"), cb)
    # summed x-overlap of the (≤2)×(≤2) piece grid; empty pieces
    # contribute 0 via the greatest(0, ·) clamp
    zero = F.lit(0.0)
    inter_w = zero
    for ea_, wa_ in pa:
        for eb_, wb_ in pb:
            inter_w = inter_w + F.greatest(
                zero, F.least(ea_, eb_) - F.greatest(wa_, wb_))
    inter_h = F.greatest(
        zero, F.least(F.col("_na"), F.col("_nb"))
        - F.greatest(F.col("_sa"), F.col("_sb")))
    pairs = (a.join(b, "cell_id")
             .where((F.col("rect_a") < F.col("rect_b")))
             .withColumn("inter_w", inter_w)
             .withColumn("inter_h", inter_h)
             .where((F.col("inter_w") > 0) & (F.col("inter_h") > 0))
             .select("rect_a", "rect_b", "inter_w", "inter_h")
             .distinct())
    return pairs.withColumn(
        "inter_area_nano",
        F.round(F.col("inter_w") * F.col("inter_h") * F.lit(1e9))
        .cast("long"))


def merge_tile_counts(tables: list[DataFrame], *,
                      cell_col: str = "cell_id") -> DataFrame:
    """Incremental tile maintenance: merge per-cell count tables (a
    base table plus delta batches) into the table a full recompute
    would produce. Counts are sum-mergeable by construction, so the
    merge is a union + one hash-aggregate on the cell key (map-side
    combined) — the lakehouse pattern where each ingest batch appends
    its partial tile counts and a compaction job folds them, instead
    of rescanning the corpus.

    All non-key columns must be additive counts; they are summed under
    their original names.
    """
    if not tables:
        raise ValueError("tables must be non-empty")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    sums = [F.sum(c).alias(c) for c in out.columns if c != cell_col]
    if not sums:
        raise ValueError("no count columns to merge")
    return out.groupBy(cell_col).agg(*sums)


def _bbox_cover_mixed(west: float, south: float, east: float,
                      north: float, res: int) -> list:
    """Mixed-resolution cell cover of a bbox by quadtree descent (the
    classic S2 covering): cells fully inside the bbox are emitted at
    their (coarse) level, boundary cells split until ``res``. Pure
    driver-side integer arithmetic — the output size is bounded by the
    bbox PERIMETER at ``res`` (≈ 4·(perimeter cells + descent levels)),
    never its area, so this is query planning, not data work. The
    union of emitted cells contains every res-``res`` cell that
    intersects the bbox (the correctness contract of
    :func:`bbox_prune_filter`)."""
    from .cells import cell_encode_grid_np

    import numpy as np

    # bbox in res-`res` grid coordinates, inclusive cell ranges
    n = float(1 << res)
    hi = (1 << res) - 1

    def gx(lon):
        return min(hi, max(0, int(np.floor((lon + 180.0) / 360.0 * n))))

    def gy(lat):
        return min(hi, max(0, int(np.floor((lat + 90.0) / 180.0 * n))))

    if east <= west or north <= south:
        return []
    x0, y0 = gx(west), gy(south)
    # half-open upper edge: a bbox ending exactly on a cell boundary
    # does not touch the next cell
    x1 = gx(east) if (east + 180.0) / 360.0 * n % 1.0 != 0.0 else \
        max(x0, gx(east) - 1)
    y1 = gy(north) if (north + 90.0) / 180.0 * n % 1.0 != 0.0 else \
        max(y0, gy(north) - 1)
    out: list = []
    stack = [(0, 0, 0)]  # (level, cx, cy): cell cx,cy at resolution level
    while stack:
        lvl, cx, cy = stack.pop()
        shift = res - lvl
        # this cell spans res-grid [cx<<shift, ((cx+1)<<shift)-1] × same for y
        lo_x, hi_x = cx << shift, ((cx + 1) << shift) - 1
        lo_y, hi_y = cy << shift, ((cy + 1) << shift) - 1
        if hi_x < x0 or lo_x > x1 or hi_y < y0 or lo_y > y1:
            continue  # disjoint
        if lo_x >= x0 and hi_x <= x1 and lo_y >= y0 and hi_y <= y1:
            out.append(int(cell_encode_grid_np([cx], [cy], lvl)[0]))
            continue  # fully inside: emit at this level
        if lvl == res:
            out.append(int(cell_encode_grid_np([cx], [cy], lvl)[0]))
            continue  # boundary leaf
        for dx in (0, 1):
            for dy in (0, 1):
                stack.append((lvl + 1, cx * 2 + dx, cy * 2 + dy))
    return out


def bbox_prune_filter(points: DataFrame, *, west: float, south: float,
                      east: float, north: float, res: int = 10,
                      x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Bbox filter through the CELL INDEX — the partition-pruning
    pattern: the query bbox is covered by a driver-side quadtree
    descent into mixed-resolution cells (a few coarse interior cells +
    fine boundary cells, perimeter-bounded — see
    :func:`_bbox_cover_mixed`), and each point's cell ancestry is tested
    against those per-level sets with codegen ``IN`` predicates, then
    the exact half-open bbox test (``west <= x < east``,
    ``south <= y < north``) removes boundary-cell false positives —
    row-identical to the brute filter (driver q99).

    Why bother when the exact test alone is correct: the cell
    predicate is a PRUNING key. A planetary point table sorted or
    bucketed by ``cell_id`` serves this query from the few row groups
    whose min/max cell ranges intersect the cover — the brute filter
    reads everything. The cover/compact step is query PLANNING (the
    collected cell set is bounded by the bbox perimeter at ``res``,
    independent of the data size).
    """
    from .cells import RES_MASK, cell_encode_col, cell_parent_col
    cells = _bbox_cover_mixed(float(west), float(south), float(east),
                              float(north), res)
    exact = ((F.col(x_col) >= west) & (F.col(x_col) < east)
             & (F.col(y_col) >= south) & (F.col(y_col) < north))
    if not cells:
        return points.where(F.lit(False) & exact)
    levels = sorted({int(c) & RES_MASK for c in cells})
    pcell = cell_encode_col(F.col(x_col), F.col(y_col), res)
    # one ancestry ARRAY via a transform lambda + one set-overlap
    # test: the encoded cell appears exactly ONCE in the expression
    # tree, so when predicate pushdown inlines the filter below the
    # projection it carries a single copy of the Morton-spread tree —
    # per-level isin (or a per-level array) would be inlined L times
    # and blow the 64KB codegen method limit (observed fallback)
    shifts = ",".join(str(res - lvl) for lvl in levels)
    anc_expr = (f"transform(array({shifts}), s -> "
                f"(shiftleft(shiftright(_pc, 5 + 2 * s), 5)"
                f" | ({res} - s)))")
    enc = (points.withColumn("_pc", pcell)
           .withColumn("_anc", F.expr(anc_expr)))
    cover_lit = F.array(*[F.lit(int(c)) for c in cells])
    return (enc.where(F.arrays_overlap(F.col("_anc"), cover_lit) & exact)
            .drop("_pc", "_anc"))


def cell_smooth(cells: DataFrame, res: int, radius: int = 1, *,
                cell_col: str = "cell_id",
                n_col: str = "n") -> DataFrame:
    """Box-kernel k-ring smoothing of a cell-count raster — heatmap
    smoothing / kernel density on the quadtree grid: every input cell
    scatters its count to each cell within Chebyshev distance
    ``radius`` (itself included), and the output carries the summed
    value for every cell in the dilated support (occupied cells plus
    their halo). Ring semantics match :func:`..cells.cell_kring_np`:
    x wraps at the antimeridian (``pmod``), y clamps at the poles
    (off-grid contributions vanish); a grid narrower than the ring
    shrinks the x-offset list to one full row so no cell double-counts.

    Scale shape: the scatter is a literal (dx, dy) offset explode plus
    one tiny Morton encode — all whole-stage codegen, zero Python, the
    same shape as :func:`explode_kring` — and the only shuffle is the
    final ``groupBy(cell)`` hash aggregate with map-side combine
    ((2r+1)²·rows partial rows, pre-combined per task). No join.

    Precondition: every row's cell is at resolution ``res`` (raises
    inside the task otherwise — a mixed-resolution raster should be
    :func:`uncompact_cells`-ed first).

    Output: (cell_id, smoothed) — ``smoothed`` = Σ counts of the input
    cells within ``radius`` of the output cell.
    """
    from .cells import RES_BITS, _spread_col, cell_decode_cols

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    if radius < 0:
        raise ValueError("radius must be >= 0")
    n = 1 << res
    span = 2 * radius + 1
    dxs = list(range(-radius, radius + 1)) if n >= span else list(range(n))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys])
    ix, iy, cres = cell_decode_cols(F.col(cell_col))
    guard = F.when(cres == res, ix).otherwise(F.raise_error(F.concat(
        F.lit(f"cell_smooth: expected resolution {res}, got cell "),
        F.col(cell_col).cast("string"))))
    d = (cells.select(guard.alias("_sx"), iy.alias("_sy"),
                      F.col(n_col).alias("_sn"))
         .withColumn("_soff", F.explode(offs)))
    xs = F.pmod(F.col("_sx") + F.col("_soff.dx"), F.lit(n))
    ys = F.col("_sy") + F.col("_soff.dy")
    code = F.shiftleft(_spread_col(xs), 1).bitwiseOR(_spread_col(ys))
    cell = F.shiftleft(code, RES_BITS).bitwiseOR(F.lit(res))
    return (d.where((ys >= 0) & (ys < F.lit(n)))
            .groupBy(cell.alias("cell_id"))
            .agg(F.sum("_sn").alias("smoothed")))


def buffer_cells(cells: DataFrame, res: int, radius: int = 1, *,
                 id_col: str = "line_id",
                 cell_col: str = "cell_id") -> DataFrame:
    """Morphological DILATION of a per-id cell set: every cell within
    Chebyshev distance ``radius`` of any of the id's input cells —
    the grid buffer. Composed with :func:`line_cover` it is the
    rasterized line buffer (corridor geofence around a route); with
    :func:`polygon_cover` it is the polygon buffer (expanded
    containment mask for conservative pre-filters). Ring semantics
    match :func:`cell_smooth` / :func:`..cells.cell_kring_np`: x wraps
    at the antimeridian, y clamps at the poles, and a grid narrower
    than the ring shrinks the x-offset list to one full row so no cell
    appears twice.

    Scale shape: a literal (dx, dy) offset explode + Morton re-encode
    (whole-stage codegen, zero Python) and ONE (id, cell) hash
    aggregate with map-side combine for the distinct — no join, no
    window. (2r+1)²·rows partial rows, pre-combined per task.

    Precondition: every row's cell is at resolution ``res`` (raises
    inside the task otherwise — :func:`uncompact_cells` first for
    mixed-resolution sets).

    Output: (id_col, cell_id) — distinct dilated cells per id.
    """
    from .cells import RES_BITS, _spread_col, cell_decode_cols

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    if radius < 0:
        raise ValueError("radius must be >= 0")
    n = 1 << res
    span = 2 * radius + 1
    dxs = list(range(-radius, radius + 1)) if n >= span else list(range(n))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys])
    ix, iy, cres = cell_decode_cols(F.col(cell_col))
    guard = F.when(cres == res, ix).otherwise(F.raise_error(F.concat(
        F.lit(f"buffer_cells: expected resolution {res}, got cell "),
        F.col(cell_col).cast("string"))))
    d = (cells.select(F.col(id_col), guard.alias("_sx"), iy.alias("_sy"))
         .withColumn("_soff", F.explode(offs)))
    xs = F.pmod(F.col("_sx") + F.col("_soff.dx"), F.lit(n))
    ys = F.col("_sy") + F.col("_soff.dy")
    code = F.shiftleft(_spread_col(xs), 1).bitwiseOR(_spread_col(ys))
    cell = F.shiftleft(code, RES_BITS).bitwiseOR(F.lit(res))
    return (d.where((ys >= 0) & (ys < F.lit(n)))
            .select(F.col(id_col), cell.alias("cell_id"))
            .distinct())


def pip_anti_join(points: DataFrame, polygons: DataFrame, res: int, *,
                  point_id: str = "point_id", x: str = "x", y: str = "y",
                  poly_id: str = "poly_id", rings: str = "rings",
                  **pip_kwargs) -> DataFrame:
    """Points contained in NO polygon — the spatial anti-join
    (geofence exclusion, offshore/out-of-coverage filtering, negative
    training-set mining). Complement of :func:`pip_join` under the
    identical ray-cast crossing rule, so
    ``pip_join ∪ pip_anti_join ≡ points`` exactly (asserted in tests).

    Scale shape: :func:`pip_join` for the matches (same two plan
    shapes — every kwarg forwards), then one LEFT ANTI hash join of
    the points against the matched point ids. The anti side is ≤ the
    match count (often far smaller than the point table); Catalyst
    broadcasts it when small. No extra Python.

    Output: the ``points`` rows (original columns) outside every
    polygon.
    """
    matched = pip_join(points, polygons, res, point_id=point_id,
                       x=x, y=y, poly_id=poly_id, rings=rings,
                       **pip_kwargs).select(point_id).distinct()
    return points.join(matched, on=point_id, how="left_anti")


def polygon_centroid(polys: DataFrame, *, rings_col: str = "rings",
                     id_col: str = "poly_id") -> DataFrame:
    """Area-weighted centroid of the outer ring (the polygon label
    point / tile-placement anchor), completing the
    :func:`polygon_stats` vector-analytics family. Standard shoelace
    centroid: with ``cross_i = x_i·y_{i+1} − x_{i+1}·y_i``,

        area2 = Σ cross_i                     (2× signed area)
        cx    = Σ (x_i + x_{i+1})·cross_i / (3·area2)
        cy    = Σ (y_i + y_{i+1})·cross_i / (3·area2)

    All three sums are in-order ``aggregate`` folds over the vertex
    array — the same double arithmetic an SQL oracle replays
    edge-by-edge — and the centroid is NULL for degenerate rings
    (< 2 vertices, or |area2| = 0 where the centroid is undefined).
    Rings are closed (first == last vertex), as everywhere else in the
    package.

    Scale shape: a narrow per-row Column expression — no shuffle, no
    join, no Python; whole-stage codegen over the rings column.

    Output: (poly_id, cx DOUBLE, cy DOUBLE, area2 DOUBLE).
    """
    ring = F.col(rings_col)[0]
    idx = F.sequence(F.lit(1), F.size(ring) - 1)

    def vx(i):
        return F.element_at(ring, i)

    def fold(term):
        return F.aggregate(F.transform(idx, term), F.lit(0.0),
                           lambda acc, v: acc + v)

    def cross(i):
        return vx(i)[0] * vx(i + 1)[1] - vx(i + 1)[0] * vx(i)[1]

    area2 = fold(cross)
    cx6 = fold(lambda i: (vx(i)[0] + vx(i + 1)[0]) * cross(i))
    cy6 = fold(lambda i: (vx(i)[1] + vx(i + 1)[1]) * cross(i))
    ok = (F.size(ring) >= 2) & (area2 != 0.0)
    return polys.select(
        F.col(id_col),
        F.when(ok, cx6 / (area2 * 3.0)).alias("cx"),
        F.when(ok, cy6 / (area2 * 3.0)).alias("cy"),
        F.when(F.size(ring) >= 2, area2).otherwise(F.lit(0.0))
        .alias("area2"))


def union_cover_stats(polygons: DataFrame, res: int, *,
                      id_col: str = "poly_id",
                      rings_col: str = "rings") -> DataFrame:
    """Raster union statistics over a polygon set: how much of the
    grid the polygons cover TOGETHER, overlap removed — the
    footprint/served-area measure you cannot get by summing per-polygon
    areas when coverage zones overlap. Composes :func:`polygon_cover`
    (flat, oracle-matched) with a per-cell max-fraction collapse: the
    union's coverage of a cell is at least the largest single-polygon
    fraction and at most 1, so summing per-cell max fractions is the
    standard raster lower-bound union area (exact when overlaps nest
    within cells; the distinct cell count bounds it above).

    Scale shape: the cover rows collapse through ONE cell-keyed
    hash-aggregate (map-side combined), then a single-row global
    aggregate — work scales with covered-cell count, never polygon
    pairs (an O(n²) polygon-intersection union is exactly what this
    avoids at scale). Fractions integerize to nano-cells BEFORE the
    global sum so the DuckDB oracle hashes bit-exact.

    Output: one row — (n_cells distinct covered cells, n_cover_rows
    total (polygon, cell) incidences, union_cells_nano = sum over
    cells of max fraction ·1e9 as BIGINT).
    """
    cov = polygon_cover(polygons, res, id_col=id_col, rings_col=rings_col)
    per_cell = (cov.groupBy("cell_id")
                .agg(F.max("fraction").alias("_maxf"),
                     F.count(F.lit(1)).alias("_n")))
    return per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("_n").cast("long").alias("n_cover_rows"),
        F.sum(F.round(F.col("_maxf") * 1e9).cast("long"))
        .alias("union_cells_nano"))


# ---------------------------------------------------------------------------
# Nearest-segment join (map-matching / snap-to-road primitive)
# ---------------------------------------------------------------------------

def nearest_segment_join(points: DataFrame, segments: DataFrame,
                         res: int, radius: int = 2, *,
                         point_id: str = "point_id", x: str = "x",
                         y: str = "y", seg_id: str = "seg_id",
                         x0: str = "x0", y0: str = "y0",
                         x1: str = "x1", y1: str = "y1") -> DataFrame:
    """Snap each point to its nearest line segment — the map-matching
    primitive (GPS trace → road edge) the reference's LineString
    features (reference main.py:248-255 builds them) invite at scale.

    Candidates: segments rasterize to their exact supercover cells via
    :func:`line_cover` (fan-out bounded by cells actually touched,
    never a bbox blowup); points explode to a ``radius``-ring of cells
    (:func:`explode_kring`); ONE equi-join on ``cell_id`` buckets the
    pairs — never all-pairs. Exact re-rank: squared distance to the
    clamped projection onto the segment (pure-Column IEEE doubles, the
    identical expression the DuckDB oracle replays), then a
    ``min(struct(dist2, seg_id, t))`` hash-aggregate per point —
    map-side combined, ONE shuffle, no window sort, and duplicate
    candidates from a segment covering several ring cells collapse for
    free (so no dedup pass is needed).

    Completeness contract (same Chebyshev bound as
    :func:`within_distance_join`): a segment whose true distance to
    the point is ≤ ``radius · min(cell_w, cell_h)`` is guaranteed to
    share a candidate cell, because the segment's closest point lies
    in a supercover cell at most ``ceil(d/cell_dim) ≤ radius``
    Chebyshev rings away. Points whose ring holds no segment are
    DROPPED (document or widen ``radius`` / lower ``res``); when every
    point's true nearest is inside the guarantee the result equals the
    brute-force nearest (the q129 oracle checks exactly that).

    Output: (point_id, seg_id, dist2, t) — ``t`` ∈ [0, 1] is the snap
    parameter along the segment (0 = first endpoint); ties on dist2
    break to the smallest seg_id. Zero-length segments degenerate to
    point distance with t = 0.
    """
    if radius < 0:
        raise ValueError(f"radius must be non-negative, got {radius}")
    segs = segments.select(
        F.col(seg_id).alias("_sid"),
        F.col(x0).cast("double").alias("_x0"),
        F.col(y0).cast("double").alias("_y0"),
        F.col(x1).cast("double").alias("_x1"),
        F.col(y1).cast("double").alias("_y1"))
    cover = line_cover(
        segs.select("_sid", F.array(
            F.array("_x0", "_y0"), F.array("_x1", "_y1")).alias("coords")),
        res, id_col="_sid", coords_col="coords")
    pts = explode_kring(
        points.select(F.col(point_id).alias("_pid"),
                      F.col(x).cast("double").alias("_px"),
                      F.col(y).cast("double").alias("_py")),
        F.col("_px"), F.col("_py"), res, radius)
    cand = (pts.join(cover, "cell_id")
            .join(segs, "_sid"))
    dxc = F.col("_x1") - F.col("_x0")
    dyc = F.col("_y1") - F.col("_y0")
    len2 = dxc * dxc + dyc * dyc
    t_raw = ((F.col("_px") - F.col("_x0")) * dxc
             + (F.col("_py") - F.col("_y0")) * dyc) / len2
    t = F.when(len2 == F.lit(0.0), F.lit(0.0)) \
         .otherwise(F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw)))
    cx = F.col("_x0") + t * dxc
    cy = F.col("_y0") + t * dyc
    d2 = ((F.col("_px") - cx) * (F.col("_px") - cx)
          + (F.col("_py") - cy) * (F.col("_py") - cy))
    best = (cand
            .withColumn("_t", t).withColumn("_d2", d2)
            .groupBy("_pid")
            .agg(F.min(F.struct(F.col("_d2").alias("dist2"),
                                F.col("_sid").alias("seg_id"),
                                F.col("_t").alias("t"))).alias("_b")))
    return best.select(F.col("_pid").alias(point_id),
                       F.col("_b.seg_id").alias("seg_id"),
                       F.col("_b.dist2").alias("dist2"),
                       F.col("_b.t").alias("t"))


def segment_intersection_join(segs_a: DataFrame, segs_b: DataFrame,
                              res: int, *,
                              seg_id: str = "seg_id",
                              x0: str = "x0", y0: str = "y0",
                              x1: str = "x1", y1: str = "y1") -> DataFrame:
    """All properly-crossing segment pairs between two segment sets,
    with the exact intersection point — the road-network conflation /
    trajectory-crossing primitive over the reference's LineString
    features (reference main.py:248-255 builds them; this is the
    pairwise-geometry join the tiling engine makes scalable).

    Candidates: BOTH sides rasterize to their exact supercover cells
    (:func:`line_cover`, fan-out bounded by cells actually touched);
    ONE equi-join on ``cell_id`` buckets the pairs — never all-pairs.
    A pair sharing k cells would naively emit k duplicates; instead of
    a ``distinct`` shuffle the join is EXACTLY-ONCE by ownership (the
    :func:`interval_overlap_join` trick lifted to 2-D): the pair
    survives only in the cell that contains its intersection point,
    which both supercovers provably cover (the point lies ON both
    segments, and the supercover is exact). So the plan is two narrow
    covers + one equi-join + a codegen filter — no dedup pass.

    Semantics (documented, oracle-replayable): a pair is emitted iff
    the open segments PROPERLY cross — the strict orientation test
    ``(d1, d2) opposite signs AND (d3, d4) opposite signs`` on IEEE
    doubles (the identical expression tree the DuckDB oracle runs, so
    results match bit-for-bit; comparisons on identical doubles are
    contractual, unlike transcendentals — same rule as
    :func:`heading_octants`). Collinear overlaps and endpoint touches
    (any ``d == 0``) are NOT crossings. Proper crossing implies the
    segments are not parallel, so the intersection parameter
    ``t = cross(b0 - a0, s) / cross(r, s)`` is finite; the point
    integerizes to nano-degrees (``round(p * 1e9)`` BIGINT, the
    :func:`trajectory_resample` determinism trick).

    Corner caveat: if the intersection point lands EXACTLY on a cell
    corner that both segments only touch (a measure-zero double
    coincidence), the owning cell may be absent from a supercover and
    the pair dropped; real float data never hits this, and the brute-
    force oracle comparison would surface it if a synthetic corpus did.

    Output: (seg_a, seg_b, ix_nano, iy_nano). Scale shape: two
    ``line_cover`` distincts + one cell equi-join + two id equi-joins
    to fetch endpoints (build sides are segment tables — broadcast
    when small); hot cells (many segments in one cell) are k_a·k_b
    candidate blowups — raise ``res`` so cells are finer than segment
    density, exactly like the hot-cell guidance on :func:`pip_join`.
    """
    def _prep(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        e = df.select(F.col(seg_id).alias(f"_{tag}id"),
                      F.col(x0).cast("double").alias(f"_{tag}x0"),
                      F.col(y0).cast("double").alias(f"_{tag}y0"),
                      F.col(x1).cast("double").alias(f"_{tag}x1"),
                      F.col(y1).cast("double").alias(f"_{tag}y1"))
        cov = line_cover(
            e.select(f"_{tag}id", F.array(
                F.array(f"_{tag}x0", f"_{tag}y0"),
                F.array(f"_{tag}x1", f"_{tag}y1")).alias("coords")),
            res, id_col=f"_{tag}id", coords_col="coords")
        return e, cov

    ea, cov_a = _prep(segs_a, "a")
    eb, cov_b = _prep(segs_b, "b")
    cand = (cov_a.join(cov_b, "cell_id")
            .join(ea, "_aid").join(eb, "_bid"))

    rx = F.col("_ax1") - F.col("_ax0")
    ry = F.col("_ay1") - F.col("_ay0")
    sx = F.col("_bx1") - F.col("_bx0")
    sy = F.col("_by1") - F.col("_by0")
    d1 = rx * (F.col("_by0") - F.col("_ay0")) \
        - ry * (F.col("_bx0") - F.col("_ax0"))
    d2 = rx * (F.col("_by1") - F.col("_ay0")) \
        - ry * (F.col("_bx1") - F.col("_ax0"))
    d3 = sx * (F.col("_ay0") - F.col("_by0")) \
        - sy * (F.col("_ax0") - F.col("_bx0"))
    d4 = sx * (F.col("_ay1") - F.col("_by0")) \
        - sy * (F.col("_ax1") - F.col("_bx0"))
    zero = F.lit(0.0)
    proper = (((d1 > zero) & (d2 < zero)) | ((d1 < zero) & (d2 > zero))) \
        & (((d3 > zero) & (d4 < zero)) | ((d3 < zero) & (d4 > zero)))
    # NULL divisor when parallel (ANSI-safe: Catalyst may fuse this
    # division into the same predicate as `proper`, which would raise
    # DIVIDE_BY_ZERO before the crossing filter can screen the pair)
    denom = F.when(rx * sy - ry * sx != zero, rx * sy - ry * sx)
    tpar = ((F.col("_bx0") - F.col("_ax0")) * sy
            - (F.col("_by0") - F.col("_ay0")) * sx) / denom
    px = F.col("_ax0") + tpar * rx
    py = F.col("_ay0") + tpar * ry
    owner = cell_encode_col(px, py, res)
    return (cand.where(proper)
            .withColumn("_px", px).withColumn("_py", py)
            .where(owner == F.col("cell_id"))
            .select(F.col("_aid").alias("seg_a"),
                    F.col("_bid").alias("seg_b"),
                    F.round(F.col("_px") * F.lit(1e9)).cast("long")
                    .alias("ix_nano"),
                    F.round(F.col("_py") * F.lit(1e9)).cast("long")
                    .alias("iy_nano")))


def grid_moran(points: DataFrame, res: int, *,
               x: str = "x", y: str = "y") -> DataFrame:
    """Global Moran's I spatial autocorrelation of point DENSITY on the
    res-grid — the one-number "is this corpus spatially clustered or
    dispersed?" diagnostic that decides partitioning strategy (hot-cell
    salting thresholds, tile pyramid depth) before the heavy joins run.

    Sample = the NON-EMPTY cells (binary queen contiguity, weight 1 to
    each of the up-to-8 neighbors that are themselves non-empty; empty
    cells are not observations — document-derived grids are sparse and
    a dense-lattice variant would be dominated by structural zeros).

        I = (N / W) · Σ_ij (x_i − x̄)(x_j − x̄) / Σ_i (x_i − x̄)²

    over directed neighbor pairs (each unordered pair counts twice in
    both N·W numerator terms — the standard symmetric-W formulation).

    Determinism at scale: the pair/cell sums are computed as BIGINT
    aggregates of the integer counts (S1 = Σ x_i·x_j, S2 = Σ x_i+x_j,
    W, N, Σx, Σx²) — exact and partial-aggregation-order-independent —
    then I is assembled from them in ONE fixed double expression tree
    (the centered form Σ(x_i−x̄)(x_j−x̄) = S1 − x̄·S2 + W·x̄²), so the
    result is bit-identical across partitionings and replayed verbatim
    by the DuckDB oracle. A float-valued variant would need nano
    pre-integerization; counts avoid the issue entirely.

    Shape: one hash-agg to cell counts, an 8-offset explode + ONE
    equi-join on the neighbor coordinate (never a range join), two
    single-row aggregates. Output (one row): n_cells, n_pairs (directed
    neighbor pairs, 0 when no cells touch), moran_nano (round(I·1e9)
    BIGINT; NULL when undefined — no neighbor pairs or zero variance).
    """
    from .cells import _grid_col

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    pts = points.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    cells = (pts.select(
        _grid_col(F.col(x).cast("double"), 180.0, 360.0, res).alias("_gx"),
        _grid_col(F.col(y).cast("double"), 90.0, 180.0, res).alias("_gy"))
        .groupBy("_gx", "_gy")
        .agg(F.count(F.lit(1)).alias("_c")))
    offs = F.expr("array(" + ", ".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L)"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)) + ")")
    left = (cells.select("_gx", "_gy", "_c", F.explode(offs).alias("_o"))
            .select((F.col("_gx") + F.col("_o.dx")).alias("_jx"),
                    (F.col("_gy") + F.col("_o.dy")).alias("_jy"), "_c"))
    right = cells.select(F.col("_gx").alias("_jx"),
                         F.col("_gy").alias("_jy"),
                         F.col("_c").alias("_c2"))
    pagg = (left.join(right, ["_jx", "_jy"])
            .agg(F.count(F.lit(1)).alias("_w"),
                 F.coalesce(F.sum(F.col("_c") * F.col("_c2")),
                            F.lit(0).cast("long")).alias("_s1"),
                 F.coalesce(F.sum(F.col("_c") + F.col("_c2")),
                            F.lit(0).cast("long")).alias("_s2")))
    cagg = cells.agg(F.count(F.lit(1)).alias("_n"),
                     F.coalesce(F.sum("_c"), F.lit(0).cast("long"))
                     .alias("_sx"),
                     F.coalesce(F.sum(F.col("_c") * F.col("_c")),
                                F.lit(0).cast("long")).alias("_sxx"))
    one = cagg.crossJoin(pagg)  # 1 row × 1 row
    nD = F.col("_n").cast("double")
    wD = F.col("_w").cast("double")
    mean = F.col("_sx").cast("double") / nD
    num = F.col("_s1").cast("double") - mean * F.col("_s2").cast("double") \
        + wD * mean * mean
    den = F.col("_sxx").cast("double") - nD * mean * mean
    moran = F.when((F.col("_w") > 0) & (den != F.lit(0.0)),
                   (nD / wD) * (num / F.when(den != F.lit(0.0), den)))
    return one.select(F.col("_n").alias("n_cells"),
                      F.col("_w").alias("n_pairs"),
                      F.round(moran * F.lit(1e9)).cast("long")
                      .alias("moran_nano"))


def _hull_chain(pts: list) -> list:
    """Andrew's monotone chain over EXACT Python-int coordinates —
    STRICT hull vertices only (collinear edge-interior points are
    popped by the <= 0 turn test). Input may contain duplicates."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def _half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = _half(pts)
    upper = _half(reversed(pts))
    return lower[:-1] + upper[:-1]


def convex_hull(points: DataFrame, *, group_col: str = "group_id",
                x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-group 2-D convex hull VERTICES — the footprint/extent
    summary (dataset bounding polygon, per-region coverage outline)
    the axis-aligned :func:`spatial_extent` cannot express. Vertices
    are STRICT: points interior to a hull edge (collinear) are not
    vertices; duplicates collapse. Output rows are the vertex SET
    (unordered — deterministic as a set, which is what the
    cross-engine hash compares).

    Coordinates must be INTEGER columns (nano-integerize floats first,
    the package's standard trick): every orientation test is then
    exact Python-int arithmetic — no epsilon, no engine-dependent
    float turns. Floating-point x/y raise up front rather than
    silently truncate.

    Scale shape — the hull is a LATTICE-HOMOMORPHIC summary
    (hull(A ∪ B) = hull(hull(A) ∪ hull(B))), so it parallelizes like
    an aggregate: (1) NULL-key/coord rows drop; (2) every Arrow batch
    of every partition reduces to its per-group PARTIAL hull in
    ``mapInPandas`` (no shuffle — a random point batch's hull is
    O(log n) points, so the shuffle that follows moves hull-sized,
    not data-sized, rows); (3) one ``groupBy(group)`` +
    ``applyInPandas`` computes the final hull of the surviving
    candidates. Monotone chain is O(n log n) per batch, pure Python
    ints for exactness — n is batch-bounded, and stage 3's n is the
    sum of tiny partial hulls.

    Output: (group_col, x, y) — one row per hull vertex.
    """
    from pyspark.sql.types import (DoubleType, FloatType, LongType,
                                   StructField, StructType)

    fields = {f.name: f for f in points.schema.fields}
    for c in (group_col, x_col, y_col):
        if c not in fields:
            raise ValueError(f"convex_hull: missing column {c!r}")
    for c in (x_col, y_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"convex_hull: {c!r} is floating-point — nano-integerize "
                "coordinates first (exact integer orientation tests are "
                "the determinism contract)")
    schema = StructType([
        StructField(group_col, fields[group_col].dataType, False),
        StructField("x", LongType(), False),
        StructField("y", LongType(), False)])

    base = (points
            .where(F.col(group_col).isNotNull()
                   & F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(F.col(group_col),
                    F.col(x_col).cast("long").alias("x"),
                    F.col(y_col).cast("long").alias("y")))

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gs, xs, ys = [], [], []
            for g, sub in pdf.groupby(group_col, sort=False):
                hull = _hull_chain(
                    list(zip(sub["x"].tolist(), sub["y"].tolist())))
                gs.extend([g] * len(hull))
                xs.extend(p[0] for p in hull)
                ys.extend(p[1] for p in hull)
            yield pd.DataFrame({group_col: gs, "x": xs, "y": ys})

    def _final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hull = _hull_chain(list(zip(pdf["x"].tolist(), pdf["y"].tolist())))
        return pd.DataFrame({group_col: [key[0]] * len(hull),
                             "x": [p[0] for p in hull],
                             "y": [p[1] for p in hull]})

    candidates = base.mapInPandas(_partial, schema)
    return candidates.groupBy(group_col).applyInPandas(_final, schema)


def getis_ord_gstar(cells: DataFrame, res: int, radius: int = 1, *,
                    cell_col: str = "cell_id",
                    value_col: str = "n") -> DataFrame:
    """Getis–Ord Gi* hot-spot z-scores over a cell raster — the LOCAL
    spatial-association statistic (where are the statistically hot /
    cold cells) complementing :func:`grid_moran`'s single global
    autocorrelation number. Population = the OCCUPIED cells (sparse-
    raster variant, documented); neighborhood = Chebyshev k-ring of
    ``radius`` including self, with :func:`cell_smooth`'s ring
    semantics (x wraps, y clamps, narrow grids shrink the offset row).

    With exact BIGINTs n (occupied cells), T = Σx, U = Σx², and per
    cell Sᵢ = Σ neighbor values, Wᵢ = occupied-neighbor count:
    ``Gi* = (n·Sᵢ − T·Wᵢ) / √((n·U − T²)·(n·Wᵢ − Wᵢ²)/(n−1))`` —
    every inner term an exact integer, ONE fixed IEEE expression per
    cell (sqrt is correctly rounded) — bit-identical across engines.
    Values must be INTEGER (floats raise); caller guarantees n·U and
    T² under 2⁶³.

    Scale shape: the :func:`cell_smooth` scatter (literal offset
    explode + Morton re-encode + ONE hash-aggregate with map-side
    combine), one equi-join back onto the occupied cells, and a
    1-row global aggregate joined by literal key (broadcast). No
    window, no Python, no crossJoin of data-sized frames.

    Output: (cell_id, value, nbr_sum, nbr_cnt, gi_star) — gi_star
    NULL when n < 2, the raster is constant (n·U = T²), or the
    neighborhood covers every occupied cell (n·Wᵢ = Wᵢ²).
    """
    from pyspark.sql.types import DoubleType, FloatType

    from .cells import RES_BITS, _spread_col, cell_decode_cols

    fields = {f.name: f for f in cells.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"getis_ord_gstar: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    if radius < 0:
        raise ValueError("radius must be >= 0")
    n_grid = 1 << res
    span = 2 * radius + 1
    dxs = (list(range(-radius, radius + 1)) if n_grid >= span
           else list(range(n_grid)))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                              F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys])
    occ = cells.select(F.col(cell_col).alias("cell_id"),
                       F.col(value_col).cast("long").alias("value"))
    ix, iy, cres = cell_decode_cols(F.col("cell_id"))
    guard = F.when(cres == res, ix).otherwise(F.raise_error(F.concat(
        F.lit(f"getis_ord_gstar: expected resolution {res}, got "),
        F.col("cell_id").cast("string"))))
    d = (occ.select(guard.alias("_sx"), iy.alias("_sy"),
                    F.col("value").alias("_sv"))
         .withColumn("_soff", F.explode(offs)))
    xs = F.pmod(F.col("_sx") + F.col("_soff.dx"), F.lit(n_grid))
    ys = F.col("_sy") + F.col("_soff.dy")
    code = F.shiftleft(_spread_col(xs), 1).bitwiseOR(_spread_col(ys))
    cell = F.shiftleft(code, RES_BITS).bitwiseOR(F.lit(res))
    ring = (d.where((ys >= 0) & (ys < F.lit(n_grid)))
            .groupBy(cell.alias("cell_id"))
            .agg(F.sum("_sv").alias("nbr_sum"),
                 F.count(F.lit(1)).alias("nbr_cnt")))
    glob = occ.agg(F.count(F.lit(1)).alias("_n"),
                   F.sum("value").alias("_t"),
                   F.sum(F.col("value") * F.col("value")).alias("_u")) \
        .withColumn("_k", F.lit(1))
    j = (occ.join(ring, "cell_id")
         .withColumn("_k", F.lit(1))
         .join(F.broadcast(glob), "_k"))
    a = F.col("_n") * F.col("nbr_sum") - F.col("_t") * F.col("nbr_cnt")
    b = F.col("_n") * F.col("_u") - F.col("_t") * F.col("_t")
    c = (F.col("_n") * F.col("nbr_cnt")
         - F.col("nbr_cnt") * F.col("nbr_cnt"))
    ok = (F.col("_n") >= 2) & (b > 0) & (c > 0)
    gi = F.when(ok, a.cast("double")
                / F.sqrt(b.cast("double") * c.cast("double")
                         / (F.col("_n") - F.lit(1)).cast("double")))
    return j.select("cell_id", "value", "nbr_sum", "nbr_cnt",
                    gi.alias("gi_star"))


def _clip_edge_many(pts: np.ndarray, cnt: np.ndarray, ex: np.ndarray,
                    ey: np.ndarray, fx: np.ndarray, fy: np.ndarray):
    """Vectorized Sutherland–Hodgman against ONE GENERAL half-plane
    per polygon: the clip edge runs (ex,ey)→(fx,fy) and the kept side
    is its LEFT (``side >= 0`` with ``side = (fx-ex)*(y-ey) -
    (fy-ey)*(x-ex)``) — the CCW-interior convention. Emission order
    per subject edge (kept vertex, then intersection) and the
    intersection formula ``p + t*(q-p)`` with ``t = sp/(sp-sq)``
    are the bit-contract the SQL oracle replays symbol-for-symbol
    (the general-edge sibling of :func:`_clip_half_many`)."""
    C, M, _ = pts.shape
    if M == 0 or not cnt.any():
        return pts[:, :0], np.zeros(C, dtype=np.int64)
    idx = np.arange(M)
    valid = idx[None, :] < cnt[:, None]
    safe = np.maximum(cnt, 1)
    nxt = np.where(idx[None, :] + 1 < safe[:, None], idx[None, :] + 1, 0)
    dx = (fx - ex)[:, None]
    dy = (fy - ey)[:, None]
    side = dx * (pts[:, :, 1] - ey[:, None]) \
        - dy * (pts[:, :, 0] - ex[:, None])
    side_q = np.take_along_axis(side, nxt, axis=1)
    inside_p = side >= 0.0
    inside_q = side_q >= 0.0
    keep_v = inside_p & valid
    cross = (inside_p != inside_q) & valid
    mask = np.empty((C, 2 * M), dtype=bool)
    mask[:, 0::2] = keep_v
    mask[:, 1::2] = cross
    new_cnt = mask.sum(axis=1).astype(np.int64)
    new_m = int(new_cnt.max()) if C else 0
    out = np.zeros((C, new_m, 2))
    if new_m == 0:
        return out, new_cnt
    pos = mask.cumsum(axis=1)
    pos -= 1
    r0, k0 = np.nonzero(keep_v)
    out[r0, pos[r0, 2 * k0]] = pts[r0, k0]
    r1, k1 = np.nonzero(cross)
    if len(r1):
        p = pts[r1, k1]
        q = pts[r1, nxt[r1, k1]]
        sp = side[r1, k1]
        sq = side_q[r1, k1]
        t = sp / (sp - sq)
        out[r1, pos[r1, 2 * k1 + 1]] = p + t[:, None] * (q - p)
    return out, new_cnt


def _pad_rings(rings_list) -> tuple[np.ndarray, np.ndarray]:
    """Outer rings (first ring of each) → (C, M, 2) padded float64
    storage + counts; malformed rows get count 0 (dropped later)."""
    rs = []
    for rings in rings_list:
        parsed = _rings_to_np(rings)
        rs.append(parsed[0] if parsed else np.empty((0, 2)))
    C = len(rs)
    M = max((len(r) for r in rs), default=0)
    pts = np.zeros((C, M, 2))
    cnt = np.zeros(C, dtype=np.int64)
    for i, r in enumerate(rs):
        pts[i, :len(r)] = r
        cnt[i] = len(r)
    return pts, cnt


def polygon_overlap_pairs(polys: DataFrame, res: int, *,
                          id_col: str = "poly_id",
                          rings_col: str = "rings") -> DataFrame:
    """Polygon↔polygon overlap self-join: every pair of polygons whose
    OUTER rings intersect with positive area, with the exact
    intersection area (Sutherland–Hodgman clip of the lower-id
    polygon by each edge of the higher-id one + in-order shoelace).
    The polygon-valued sibling of :func:`rect_intersection_join` —
    geofence dedup, overlapping-AOI audits, coverage double-count
    detection.

    Semantics: outer rings only (holes ignored — document per call
    site); rings must be CLOSED (first vertex repeated last) and the
    CLIP polygon (higher id) must be CONVEX and CCW — Sutherland–
    Hodgman intersects the subject with the clip's half-planes, which
    is exact only for convex clips. Subject convexity is NOT required.

    Determinism: subject/clip roles are fixed by id order (subject =
    smaller id); the clip kernel and the SQL oracle execute the same
    float ops in the same order (side test ``(fx-ex)*(y-ey) -
    (fy-ey)*(x-ex)``, ``t = sp/(sp-sq)``, in-order shoelace fold), so
    every double matches bit-for-bit cross-engine.

    Scale shape (the 100-TB contract): candidates come from a
    bbox-cell equi-join at ``res`` (each polygon → its bbox cells via
    :func:`cover_cells_rect`, pure Column) — NEVER all-pairs; the
    pair set is deduped by key before rings are joined back, and the
    exact clip runs only on bbox-overlapping candidates in Arrow
    batches. Pick ``res`` so a typical bbox spans O(1..100) cells.

    Output: (id_a, id_b, area_a, area_b, inter_area, overlap_frac)
    with id_a < id_b, inter_area > 0; overlap_frac =
    inter_area / min(area_a, area_b).
    """
    base = polys.where(F.col(id_col).isNotNull()
                       & F.col(rings_col).isNotNull()) \
        .select(F.col(id_col).alias("_pid"), F.col(rings_col).alias("_rings"))
    outer = F.col("_rings")[0]
    xs = F.transform(outer, lambda p: p[0])
    ys = F.transform(outer, lambda p: p[1])
    rect = base.select(
        "_pid",
        F.array_min(xs).alias("west"), F.array_min(ys).alias("south"),
        F.array_max(xs).alias("east"), F.array_max(ys).alias("north"))
    cells = cover_cells_rect(rect, res, with_fraction=False) \
        .select("_pid", "cell_id", "west", "south", "east", "north")
    a = cells.select(F.col("_pid").alias("id_a"), "cell_id",
                     F.col("west").alias("_aw"), F.col("south").alias("_as"),
                     F.col("east").alias("_ae"), F.col("north").alias("_an"))
    b = cells.select(F.col("_pid").alias("id_b"), "cell_id",
                     F.col("west").alias("_bw"), F.col("south").alias("_bs"),
                     F.col("east").alias("_be"), F.col("north").alias("_bn"))
    # STRICT bbox overlap: a positive-area polygon intersection implies
    # open bbox overlap in both axes, and open bbox overlap implies a
    # shared bbox-cover cell at any res — so (shared cell) ∧ (strict
    # bbox) equals plain strict-bbox candidates exactly, which is what
    # the SQL oracle enumerates. Boundary-touching pairs (zero area by
    # construction, float-degenerate to clip) are excluded from BOTH
    # candidate sets by the strict test.
    pairs = (a.join(b, "cell_id")
             .where(F.col("id_a") < F.col("id_b"))
             .where((F.col("_aw") < F.col("_be"))
                    & (F.col("_bw") < F.col("_ae"))
                    & (F.col("_as") < F.col("_bn"))
                    & (F.col("_bs") < F.col("_an")))
             .select("id_a", "id_b").distinct())
    with_rings = (pairs
                  .join(base.select(F.col("_pid").alias("id_a"),
                                    F.col("_rings").alias("_ra")), "id_a")
                  .join(base.select(F.col("_pid").alias("id_b"),
                                    F.col("_rings").alias("_rb")), "id_b")
                  .select("id_a", "id_b", "_ra", "_rb"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "area_a": pd.Series([], dtype="float64"),
            "area_b": pd.Series([], dtype="float64"),
            "inter_area": pd.Series([], dtype="float64"),
            "overlap_frac": pd.Series([], dtype="float64")})
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            pts_a, cnt_a = _pad_rings(pdf["_ra"])
            pts_b, cnt_b = _pad_rings(pdf["_rb"])
            area_a = _shoelace_many(pts_a, cnt_a)
            area_b = _shoelace_many(pts_b, cnt_b)
            cur, cur_cnt = pts_a, cnt_a.copy()
            max_e = int((cnt_b - 1).max()) if len(cnt_b) else 0
            for k in range(max(0, max_e)):
                act = (k + 1) < cnt_b
                if not act.any():
                    break
                new, new_cnt = _clip_edge_many(
                    cur, np.where(act, cur_cnt, 0),
                    pts_b[:, min(k, pts_b.shape[1] - 1), 0],
                    pts_b[:, min(k, pts_b.shape[1] - 1), 1],
                    pts_b[:, min(k + 1, pts_b.shape[1] - 1), 0],
                    pts_b[:, min(k + 1, pts_b.shape[1] - 1), 1])
                m = max(new.shape[1], cur.shape[1])
                merged = np.zeros((len(cnt_b), m, 2))
                merged[act, :new.shape[1]] = new[act]
                merged[~act, :cur.shape[1]] = cur[~act]
                cur = merged
                cur_cnt = np.where(act, new_cnt, cur_cnt)
            inter = _shoelace_many(cur, cur_cnt)
            ok = inter > 0.0
            denom = np.minimum(area_a, area_b)
            with np.errstate(divide="ignore", invalid="ignore"):
                frac = np.where(denom > 0.0, inter / denom, 0.0)
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[ok],
                "id_b": pdf["id_b"].to_numpy()[ok],
                "area_a": area_a[ok], "area_b": area_b[ok],
                "inter_area": inter[ok], "overlap_frac": frac[ok]})
        if not seen:
            yield empty

    return with_rings.mapInPandas(
        kernel,
        "id_a long, id_b long, area_a double, area_b double, "
        "inter_area double, overlap_frac double")


#: mean Earth radius in meters (IUGG R1) used by :func:`haversine_m`.
EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1, lon1, lat2, lon2,
                radius_m: float = EARTH_RADIUS_M):
    """Great-circle distance in METERS as a pure Column expression —
    the true-distance complement to the package's planar-degree
    spatial ops (knn/within_distance document their Chebyshev/planar
    semantics; use this where meters matter: trajectory lengths,
    radius filters near the poles, OD distance matrices).

    Standard haversine: ``a = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2)``,
    ``d = 2R·asin(√min(a,1))`` (the clamp guards the antipodal
    rounding case). Whole-stage codegen, no Python.

    Determinism note: trig routes through libm — engines may differ
    in the last ulp (~1e-9 m at Earth scale), so cross-engine
    comparisons should quantize to integer meters/millimeters (the
    oracle discipline); within one engine the expression is a pure
    function of its inputs.
    """
    import math as _math
    k = _math.pi / 180.0
    f1 = F.lit(float(radius_m)) * F.lit(2.0)
    s1 = F.sin((lat2 - lat1) * F.lit(k) / F.lit(2.0))
    s2 = F.sin((lon2 - lon1) * F.lit(k) / F.lit(2.0))
    a = (s1 * s1
         + F.cos(lat1 * F.lit(k)) * F.cos(lat2 * F.lit(k)) * s2 * s2)
    return f1 * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def bearing_deg(lat1, lon1, lat2, lon2):
    """Initial great-circle bearing (azimuth) in degrees [0, 360) as
    a pure Column — :func:`haversine_m`'s directional partner
    (``θ = atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ)``).

    Same determinism note as :func:`haversine_m`: trig routes
    through libm, so cross-engine comparisons should quantize
    (milli-degrees is ample — the ulp mismatch is ~1e-13 deg);
    within one engine it is a pure function of its inputs.
    """
    import math as _math
    k = _math.pi / 180.0
    kk = 180.0 / _math.pi
    dl = (lon2 - lon1) * F.lit(k)
    p1 = lat1 * F.lit(k)
    p2 = lat2 * F.lit(k)
    y = F.sin(dl) * F.cos(p2)
    x = (F.cos(p1) * F.sin(p2)
         - F.sin(p1) * F.cos(p2) * F.cos(dl))
    deg = F.atan2(y, x) * F.lit(kk)
    return (deg + F.lit(360.0)) % F.lit(360.0)


def zonal_stats(points: DataFrame, polygons: DataFrame, res: int, *,
                value_col: str = "value",
                point_id: str = "point_id", x: str = "x", y: str = "y",
                poly_id: str = "poly_id", rings: str = "rings",
                **pip_kwargs) -> DataFrame:
    """Zonal statistics — the classic GIS aggregation: for each
    polygon, count and sum an INTEGER point value over the points it
    contains (population per district, revenue per territory). One
    call over :func:`pip_join` + a value join + a hash-aggregate.

    Determinism: the value must be INTEGER (floats raise —
    integerize to cents/micros first, the package-wide rule); count
    and sum are exact BIGINTs, the mean is ONE division.

    Scale shape: inherits :func:`pip_join`'s cell-bucketed candidate
    discipline (broadcast dimension polygons or any-scale cogroup via
    ``pip_kwargs``); the value join is a key equi-join on point_id;
    the final aggregate is keyed by polygon. Points outside every
    polygon contribute nothing (inner semantics — use
    :func:`pip_anti_join` for the complement).

    Output: (poly_id, n_points, value_sum, value_mean).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in points.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"zonal_stats: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    hits = pip_join(points.select(point_id, x, y), polygons, res,
                    point_id=point_id, x=x, y=y, poly_id=poly_id,
                    rings=rings, **pip_kwargs)
    vals = points.where(F.col(value_col).isNotNull()).select(
        point_id, F.col(value_col).cast("long").alias("_v"))
    g = (hits.join(vals, point_id)
         .groupBy(poly_id)
         .agg(F.count(F.lit(1)).alias("n_points"),
              F.sum("_v").alias("value_sum")))
    return g.select(
        poly_id, "n_points", "value_sum",
        (F.col("value_sum").cast("double")
         / F.col("n_points").cast("double")).alias("value_mean"))


def spatial_thin(points: DataFrame, res: int, *,
                 point_id: str = "point_id",
                 x: str = "x", y: str = "y") -> DataFrame:
    """Spatial thinning: keep ONE deterministic representative point
    per Morton cell at resolution ``res`` — the density-equalization
    primitive that precedes visualization, balanced kNN training-set
    construction, or species-distribution-style sampling (dense urban
    clusters collapse to one point per cell, sparse areas survive
    untouched). The reference (a KML converter,
    /root/reference/kml2geojson/main.py) has no sampling surface;
    this extends the §2.3 tiling family.

    The representative is the row with the MINIMUM ``point_id`` in
    the cell (ids are unique, so the winner is total-order
    deterministic regardless of partitioning); ``n_points`` reports
    how many inputs the cell collapsed.

    Scale shape: cell encode is pure-Column bit math inside
    whole-stage codegen, then ONE map-side-combinable hash-aggregate
    ``min(struct(point_id, x, y)) + count`` keyed by cell_id — no
    window, no join, no second scan. Output rows are bounded by the
    cell count at ``res`` (4^res), not the input size. NULL
    ids/coords drop.

    Output: (cell_id, point_id, x, y, n_points).
    """
    from .cells import cell_encode_col

    pts = (points
           .where(F.col(point_id).isNotNull()
                  & F.col(x).isNotNull() & F.col(y).isNotNull())
           .select(cell_encode_col(F.col(x), F.col(y), res)
                   .alias("cell_id"),
                   F.col(point_id).alias("_id"),
                   F.col(x).alias("_x"), F.col(y).alias("_y")))
    g = (pts.groupBy("cell_id")
         .agg(F.min(F.struct(F.col("_id"), F.col("_x"), F.col("_y")))
              .alias("_rep"),
              F.count(F.lit(1)).alias("n_points")))
    return g.select("cell_id",
                    F.col("_rep._id").alias(point_id),
                    F.col("_rep._x").alias(x),
                    F.col("_rep._y").alias(y),
                    "n_points")


def idw_interpolate(points: DataFrame, res: int, radius: int = 2, *,
                    value_col: str = "value",
                    x: str = "x", y: str = "y") -> DataFrame:
    """Inverse-distance-weighted interpolation of an INTEGER sample
    value onto the EMPTY cells of the quadtree grid — the classic GIS
    gap-filling surface (sensor readings → a continuous raster): every
    cell within Chebyshev distance ``radius`` of a sampled cell, but
    holding no sample itself, receives the 1/d²-weighted average of
    the nearby cell-aggregated samples. The reference (a KML
    converter, /root/reference/kml2geojson/main.py) has no raster
    surface; this extends the §2.3 tiling family beside
    :func:`cell_smooth` (which smooths COUNTS; this interpolates a
    VALUE field into the gaps).

    Determinism: values must be INTEGER (floats raise — integerize
    first, the package-wide rule). Samples aggregate per cell to
    exact BIGINT (n, sum); the squared grid distance d² = dx² + dy²
    is an exact integer of the scatter OFFSETS (so torus-wrapped x
    neighbors measure their true ring distance), the weight is the
    exact integer ``w = 10⁹ div d²`` (d² ≥ 1 by construction — the
    d² = 0 self-contribution is excluded because sampled cells are
    not gaps), and num = Σ w·sum_c, den = Σ w·n_c are exact BIGINT
    sums — addition-order independent. The estimate is ONE double
    division. Caller guarantees |value|·10⁹·(2r+1)² < 2⁶³ per ring
    (values under ~10⁷ are always safe).

    Scale shape: one (cell) hash-aggregate collapses samples, a
    literal (dx, dy) offset explode + Morton re-encode scatters each
    SAMPLED CELL (not each sample row) to its ring — whole-stage
    codegen, zero Python, the :func:`cell_smooth` shape — then one
    hash-aggregate keyed by target cell and one LEFT ANTI hash join
    removes targets that hold samples. Ring semantics match
    :func:`..cells.cell_kring_np`: x wraps (pmod), y clamps at the
    poles; a grid narrower than the ring shrinks the x-offset list to
    one full row. NULL coords/values drop.

    Output: (cell_id, n_cells, n_samples, num BIGINT, den BIGINT,
    idw_est DOUBLE) — one row per gap cell; ``n_cells`` = sampled
    cells contributing, ``n_samples`` = raw sample rows behind them.
    """
    from pyspark.sql.types import DoubleType, FloatType
    from .cells import RES_BITS, _grid_col, _spread_col

    fields = {f.name: f for f in points.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"idw_interpolate: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    if radius < 1:
        raise ValueError("radius must be >= 1")
    n = 1 << res
    cells = (points
             .where(F.col(x).isNotNull() & F.col(y).isNotNull()
                    & F.col(value_col).isNotNull())
             .select(_grid_col(F.col(x), 180.0, 360.0, res).alias("_sx"),
                     _grid_col(F.col(y), 90.0, 180.0, res).alias("_sy"),
                     F.col(value_col).cast("long").alias("_v"))
             .groupBy("_sx", "_sy")
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.sum("_v").alias("_s")))
    span = 2 * radius + 1
    dxs = list(range(-radius, radius + 1)) if n >= span else list(range(n))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys
                     if dx * dx + dy * dy > 0])
    d = cells.withColumn("_ioff", F.explode(offs))
    xs = F.pmod(F.col("_sx") + F.col("_ioff.dx"), F.lit(n))
    ys = F.col("_sy") + F.col("_ioff.dy")
    d2 = (F.col("_ioff.dx") * F.col("_ioff.dx")
          + F.col("_ioff.dy") * F.col("_ioff.dy")).cast("long")
    scat = (d.where((ys >= 0) & (ys < F.lit(n)))
            .select(xs.alias("_tx"), ys.alias("_ty"),
                    (F.lit(1_000_000_000).cast("long") / d2)
                    .cast("long").alias("_w"),
                    F.col("_n"), F.col("_s")))
    agg = (scat.groupBy("_tx", "_ty")
           .agg(F.count(F.lit(1)).alias("n_cells"),
                F.sum("_n").alias("n_samples"),
                F.sum(F.col("_w") * F.col("_s")).alias("num"),
                F.sum(F.col("_w") * F.col("_n")).alias("den")))
    gaps = agg.join(cells.select(F.col("_sx").alias("_tx"),
                                 F.col("_sy").alias("_ty")),
                    ["_tx", "_ty"], "left_anti")
    code = F.shiftleft(_spread_col(F.col("_tx")), 1).bitwiseOR(
        _spread_col(F.col("_ty")))
    cell = F.shiftleft(code, RES_BITS).bitwiseOR(F.lit(res))
    return gaps.select(cell.alias("cell_id"), "n_cells", "n_samples",
                       "num", "den",
                       (F.col("num").cast("double")
                        / F.col("den").cast("double")).alias("idw_est"))


def parse_wkt_vertices(df: DataFrame, *, wkt_col: str = "wkt",
                       id_col: str = "geom_id") -> DataFrame:
    """Parse single-ring WKT geometry strings (``POINT (x y)``,
    ``LINESTRING (x y, x y, ...)``, ``MULTIPOINT (x y, x y)``) into
    one row per vertex — the interop front door for the GIS
    ecosystem's lingua-franca text format, feeding every coordinate
    operator in this package (:func:`encode_points`,
    :func:`simplify_lines`, :func:`line_cover`, ...). The KML
    coordinate parser (reference main.py:129-142, our
    convert_core.parse_coord_seq) covers KML's comma-separated
    variant; this covers the space-separated SQL/WKT variant.

    Pure-Column: geometry kind via one anchored regexp_extract,
    body between the parens via another, vertices split on commas and
    posexploded, x/y split on whitespace and cast — all inside
    whole-stage codegen, zero Python, zero shuffle (scan-shaped).
    Casting is the engine's decimal-string→double conversion
    (correctly rounded in both Spark and DuckDB, so shared inputs
    parse bit-identically). Rows whose prefix is not one of the three
    supported kinds, or with a NULL id/wkt, are dropped (nested-paren
    kinds — POLYGON, MULTILINESTRING — need ring structure; use the
    GeoJSON reader for those). Malformed vertex tokens cast to NULL
    x/y rather than raising, and are dropped.

    Output: (id, kind, vertex_idx INT 0-based, x DOUBLE, y DOUBLE).
    """
    kind = F.regexp_extract(
        F.upper(F.trim(F.col(wkt_col))),
        r"^(POINT|LINESTRING|MULTIPOINT)\s*\(", 1)
    body = F.regexp_extract(F.col(wkt_col), r"\(([^()]*)\)", 1)
    base = (df.where(F.col(id_col).isNotNull()
                     & F.col(wkt_col).isNotNull())
            .select(F.col(id_col).alias("id"), kind.alias("kind"),
                    body.alias("_body"))
            .where(F.col("kind") != ""))
    verts = base.select(
        "id", "kind",
        F.posexplode(F.split(F.col("_body"), ","))
        .alias("vertex_idx", "_pair"))
    xy = F.split(F.trim(F.col("_pair")), r"\s+")
    return (verts.select("id", "kind", "vertex_idx",
                         F.element_at(xy, 1).cast("double").alias("x"),
                         F.element_at(xy, 2).cast("double").alias("y"))
            .where(F.col("x").isNotNull() & F.col("y").isNotNull()))


def destination_point(lat, lon, bearing, distance_m):
    """Forward geodesic ("dead reckoning") on the sphere as a pure
    Column pair: the point reached from (lat, lon) travelling
    ``distance_m`` meters along initial ``bearing`` degrees —
    completing the navigation trio with :func:`haversine_m`
    (distance) and :func:`bearing_deg` (direction). Standard
    spherical formulas on the package's EARTH_RADIUS_M sphere (so a
    haversine_m round trip returns ``distance_m`` exactly up to
    float rounding):

        φ₂ = asin(sin φ₁ cos δ + cos φ₁ sin δ cos θ)
        λ₂ = λ₁ + atan2(sin θ sin δ cos φ₁, cos δ − sin φ₁ sin φ₂)

    with δ = d/R; longitude normalized to [−180, 180).

    Same determinism note as :func:`haversine_m`: trig routes through
    libm, so cross-engine comparisons quantize (micro-degrees is
    ample — the ulp mismatch is ~1e-12 deg); within one engine it is
    a pure function of its inputs. Whole-stage codegen, no Python.

    Returns (lat2, lon2) Columns in degrees.
    """
    import math as _math
    k = _math.pi / 180.0
    kk = 180.0 / _math.pi
    r = EARTH_RADIUS_M
    p1 = lat * F.lit(k)
    th = bearing * F.lit(k)
    dl = distance_m / F.lit(r)
    sp2 = (F.sin(p1) * F.cos(dl)
           + F.cos(p1) * F.sin(dl) * F.cos(th))
    p2 = F.asin(sp2)
    lam = (lon * F.lit(k)
           + F.atan2(F.sin(th) * F.sin(dl) * F.cos(p1),
                     F.cos(dl) - F.sin(p1) * sp2))
    lon2 = F.pmod(lam * F.lit(kk) + F.lit(180.0),
                  F.lit(360.0)) - F.lit(180.0)
    return p2 * F.lit(kk), lon2


def great_circle_interpolate(lat1, lon1, lat2, lon2, frac):
    """Point a fraction ``frac`` ∈ [0, 1] along the great circle from
    (lat1, lon1) to (lat2, lon2) — the route-interpolation primitive
    (trajectory resampling in TRUE geometry, flight-path rendering)
    closing the spherical family with :func:`haversine_m`,
    :func:`bearing_deg` and :func:`destination_point`. Standard
    slerp:

        δ  = central angle (haversine),  a = sin((1−f)δ)/sin δ,
        b  = sin(fδ)/sin δ,
        (x, y, z) = a·(x₁,y₁,z₁) + b·(x₂,y₂,z₂)  →  (lat, lon)

    Degenerate δ = 0 (coincident endpoints) returns the start point.
    Antipodal endpoints (sin δ ≈ 0, δ ≈ π) have no unique great
    circle — the formula's limit behavior applies; callers that care
    should gate on ``haversine_m``. Same libm caveat as the rest of
    the family: quantize to micro-degrees for cross-engine
    comparison. Pure Column, whole-stage codegen.

    Returns (lat, lon) Columns in degrees.
    """
    import math as _math
    k = _math.pi / 180.0
    kk = 180.0 / _math.pi
    p1, l1 = lat1 * F.lit(k), lon1 * F.lit(k)
    p2, l2 = lat2 * F.lit(k), lon2 * F.lit(k)
    sd2 = (F.pow(F.sin((p2 - p1) / 2), 2)
           + F.cos(p1) * F.cos(p2) * F.pow(F.sin((l2 - l1) / 2), 2))
    delta = F.lit(2.0) * F.asin(F.sqrt(sd2))
    sd = F.sin(delta)
    a = F.sin((F.lit(1.0) - frac) * delta) / sd
    b = F.sin(frac * delta) / sd
    x = (a * F.cos(p1) * F.cos(l1) + b * F.cos(p2) * F.cos(l2))
    y = (a * F.cos(p1) * F.sin(l1) + b * F.cos(p2) * F.sin(l2))
    z = a * F.sin(p1) + b * F.sin(p2)
    lat = F.atan2(z, F.sqrt(x * x + y * y)) * F.lit(kk)
    lon = F.atan2(y, x) * F.lit(kk)
    ok = sd > F.lit(1e-12)
    return (F.when(ok, lat).otherwise(lat1),
            F.when(ok, lon).otherwise(lon1))


def ripley_k(points: DataFrame, radii: list[float], area: float,
             res: int, *, point_id: str = "point_id", x: str = "x",
             y: str = "y") -> DataFrame:
    """Ripley's K function — the classic second-order point-pattern
    statistic (clustered vs dispersed vs CSR) the reference's tiling
    stack has no equivalent for: K(r) = area · P(r) / (n·(n−1)) with
    P(r) = #{ordered pairs i≠j, dist(i,j) ≤ r}, evaluated at every
    radius in ``radii``.  Under complete spatial randomness
    K(r) ≈ πr², so L(r) = sqrt(K/π) − r > 0 flags clustering at
    scale r.  (No edge correction — the uncorrected estimator;
    callers comparing windows should pass the same frame.)

    Scale shape: ONE candidate join at max(radii) — the k-ring
    DWithin machinery of :func:`within_distance_join` (ring count
    derived from the radius, exact d² ≤ r² filter, never all-pairs)
    — then every radius is answered from the SAME pair set by a
    conditional-sum hash aggregate (one shuffle of pre-combined
    partials, rows = |radii|).  Choose ``res`` so the cell dimension
    is on the order of max(radii): too fine → many rings; too coarse
    → fat candidate buckets.

    Determinism: pair counts are exact BIGINTs (the d² filter is the
    same IEEE expression the SQL oracle runs); K is ONE fixed
    double expression area·P/(n·(n−1)) and L one sqrt — correctly
    rounded, bit-identical cross-engine.

    Output: one row per radius, (r DOUBLE, n BIGINT, pairs BIGINT,
    k_est DOUBLE, l_est DOUBLE), k/l NULL when n < 2.
    """
    if not radii:
        raise ValueError("ripley_k: radii must be non-empty")
    rs = sorted(float(r) for r in radii)
    if rs[0] < 0:
        raise ValueError(f"ripley_k: negative radius {rs[0]}")
    if area <= 0:
        raise ValueError(f"ripley_k: area must be positive, got {area}")
    pts = points.select(F.col(point_id).alias("point_id"),
                        F.col(x).cast("double").alias("x"),
                        F.col(y).cast("double").alias("y"))
    qs = pts.select(F.col("point_id").alias("query_id"),
                    "x", "y")
    pairs = (within_distance_join(pts, qs, rs[-1], res)
             .where(F.col("query_id") != F.col("point_id")))
    per_r = pairs.groupBy().agg(*[
        F.sum(F.when(F.col("dist2") <= F.lit(r * r), 1)
              .otherwise(0)).cast("long").alias(f"_p{i}")
        for i, r in enumerate(rs)])
    n_row = pts.groupBy().agg(F.count(F.lit(1)).alias("n"))
    wide = n_row.crossJoin(per_r)  # 1×1 rows — trivially broadcast
    tall = wide.select(
        "n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("r"),
                     F.coalesce(F.col(f"_p{i}"), F.lit(0).cast("long"))
                     .alias("pairs"))
            for i, r in enumerate(rs)])).alias("_e"))
    nn = F.col("n").cast("double")
    k_est = (F.lit(area) * F.col("pairs").cast("double")
             / (nn * (nn - F.lit(1.0))))
    return (tall.select("n", F.col("_e.r").alias("r"),
                        F.col("_e.pairs").alias("pairs"))
            .withColumn("k_est", F.when(F.col("n") >= 2, k_est))
            .withColumn("l_est", F.sqrt(F.col("k_est")
                                        / F.lit(3.141592653589793)))
            .select("r", "n", "pairs", "k_est", "l_est"))


def clark_evans(points: DataFrame, area: float, res: int, *,
                point_id: str = "point_id", x: str = "x",
                y: str = "y") -> DataFrame:
    """Clark–Evans nearest-neighbour index — the one-number
    companion to :func:`ripley_k`'s full curve: R = observed mean
    nearest-neighbour distance / expected mean under CSR
    (0.5/sqrt(n/area)).  R < 1 clustered, R ≈ 1 random, R > 1
    dispersed.  (Uncorrected estimator, no edge correction.)

    Scale shape: the NN search is :func:`knn_join_adaptive` with
    k = 2 against the point set itself (rank 1 is the self-match at
    distance 0; a coincident twin may claim rank 1 instead, so self
    is dropped BY ID and the nearest survivor re-selected per query
    with one window) — multi-resolution k-ring, no magic radius,
    never all-pairs.  The final reduce is one exact BIGINT sum.

    Determinism: each NN distance is one sqrt (correctly rounded)
    half-up-quantized to integer MICRO-units via floor(d·1e6 + 0.5)
    — the engine-portable rounding spelling — so the sum is exact;
    mean/expected/R are then fixed double expressions.

    Output: ONE row (n BIGINT, sum_nn_micro BIGINT, mean_nn DOUBLE,
    expected_nn DOUBLE, r_index DOUBLE) — NULLs when n < 2.
    """
    if area <= 0:
        raise ValueError(f"clark_evans: area must be positive, got {area}")
    pts = points.select(F.col(point_id).alias("point_id"),
                        F.col(x).cast("double").alias("x"),
                        F.col(y).cast("double").alias("y"))
    qs = pts.select(F.col("point_id").alias("query_id"), "x", "y")
    nn2 = knn_join_adaptive(pts, qs, 2, res)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id").asc())
    nn = (nn2.where(F.col("neighbor_id") != F.col("query_id"))
          .withColumn("_rk", F.row_number().over(w))
          .where(F.col("_rk") == 1)
          .select("query_id",
                  F.floor(F.sqrt(F.col("dist2")) * F.lit(1e6)
                          + F.lit(0.5)).alias("_nn_micro")))
    agg = nn.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_nn_micro").alias("sum_nn_micro"))
    nn_d = F.col("n").cast("double")
    mean_nn = (F.col("sum_nn_micro").cast("double")
               / F.lit(1e6) / nn_d)
    expected = F.lit(0.5) / F.sqrt(nn_d / F.lit(area))
    ok = F.col("n") >= 2
    return agg.select(
        "n", "sum_nn_micro",
        F.when(ok, mean_nn).alias("mean_nn"),
        F.when(ok, expected).alias("expected_nn"),
        F.when(ok, mean_nn / expected).alias("r_index"))


def ring_audit(polys: DataFrame, *, ring_col: str = "ring",
               id_cols: list[str] | None = None,
               scale: float = 1e6) -> DataFrame:
    """Polygon-ring validity audit — closure, vertex count, exact
    shoelace signed area, and winding orientation per ring: the
    pre-flight check before :func:`polygon_cover` /
    :func:`pip_join` trust a ring's geometry (GeoJSON RFC 7946
    wants CCW exteriors; KML sources routinely violate it).

    ``ring_col`` is ARRAY<STRUCT<x: double, y: double>> — one ring
    per row (explode multi-ring polygons first).

    Determinism: vertices are half-up-quantized to integer units of
    ``1/scale`` degrees (floor(v·scale + 0.5), the engine-portable
    spelling), so twice-the-signed-area Σ (x_i·y_{i+1} − x_{i+1}·y_i)
    is an EXACT BIGINT in scale² units — no float summation order
    anywhere.  At the default micro-degree scale the per-term
    magnitude is < 6.5·10¹⁶, so rings up to ~140 vertices are
    overflow-proof worst-case (real-world coordinates are far
    smaller); pass a coarser scale for pathological rings.

    Pure-Column: one ``zip_with`` over the ring and its rotation +
    one ``aggregate`` — whole-stage codegen, zero Python, no
    shuffle (per-row map).

    Output: (id..., n_vertices INT, is_closed BOOLEAN — first
    vertex equals last at quantized precision, area2_scaled BIGINT
    — CCW-positive twice-area in scale² units over the CLOSED ring
    (the closing edge is implied when absent), orientation STRING
    'ccw'/'cw'/'degenerate', is_degenerate BOOLEAN — fewer than 3
    distinct-position vertices or zero area).
    """
    ids = list(id_cols) if id_cols else []
    q = F.lit(float(scale))
    ring = F.col(ring_col)
    # quantize once; drop an explicit closing vertex so the rotation
    # supplies the closing edge exactly once
    qx = F.transform(ring, lambda v: F.floor(v["x"] * q + F.lit(0.5)))
    qy = F.transform(ring, lambda v: F.floor(v["y"] * q + F.lit(0.5)))
    n = F.size(ring)
    closed = ((n >= 2)
              & (F.element_at(qx, 1) == F.element_at(qx, -1))
              & (F.element_at(qy, 1) == F.element_at(qy, -1)))
    body_x = F.when(closed, F.slice(qx, 1, n - 1)).otherwise(qx)
    body_y = F.when(closed, F.slice(qy, 1, n - 1)).otherwise(qy)
    m = F.size(body_x)
    rot_x = F.when(m > 1, F.concat(F.slice(body_x, 2, m - 1),
                                   F.slice(body_x, 1, 1))) \
        .otherwise(body_x)
    rot_y = F.when(m > 1, F.concat(F.slice(body_y, 2, m - 1),
                                   F.slice(body_y, 1, 1))) \
        .otherwise(body_y)
    t1 = F.zip_with(body_x, rot_y, lambda a, b: a * b)
    t2 = F.zip_with(rot_x, body_y, lambda a, b: a * b)
    zero = F.lit(0).cast("long")
    area2 = (F.aggregate(t1, zero, lambda acc, v: acc + v)
             - F.aggregate(t2, zero, lambda acc, v: acc + v))
    distinct_pos = F.size(F.array_distinct(F.zip_with(
        body_x, body_y,
        lambda a, b: F.struct(a.alias("x"), b.alias("y")))))
    degenerate = (distinct_pos < 3) | (area2 == 0)
    orient = (F.when(degenerate, F.lit("degenerate"))
              .when(area2 > 0, F.lit("ccw"))
              .otherwise(F.lit("cw")))
    return polys.select(
        *ids,
        n.cast("int").alias("n_vertices"),
        closed.alias("is_closed"),
        area2.alias("area2_scaled"),
        orient.alias("orientation"),
        degenerate.alias("is_degenerate"))


def line_interpolate(lines: DataFrame, *, line_col: str = "line",
                     frac_col: str = "frac",
                     id_cols: list[str] | None = None) -> DataFrame:
    """Linear referencing: the point at fraction ``frac`` ∈ [0,1] of
    a polyline's arc length (clamped outside) — the inverse of
    :func:`nearest_segment_join`'s snap, and the primitive behind
    "place a label/stop at 37% of the route".

    ``line_col`` is ARRAY<STRUCT<x: double, y: double>>.

    Determinism: each segment length is ONE sqrt half-up-quantized to
    integer MICRO-units (floor(len·1e6 + 0.5) — the engine-portable
    spelling), so the cumulative arc length is an EXACT BIGINT prefix
    sum with no float-association anywhere (a windowed DOUBLE cumsum
    would be segment-tree-reordered on some engines); the target is
    floor(frac·total_micro) (exact — totals < 2⁵³), and only the
    final within-segment interpolation t = (target − cum)/len and
    the two affine combines are IEEE ops, each a single fixed
    expression.  The selected segment is the FIRST (in vertex order)
    non-degenerate segment whose cumulative end reaches the target —
    zero-length segments never divide.  frac = 1 lands exactly on
    the last vertex (the subtraction total − cum_prev is exact).

    Degenerate lines (< 2 vertices, or every segment zero-length)
    fall back to the first vertex; empty lines yield NULLs.

    Pure-Column single fold (``aggregate`` over the segment array) —
    whole-stage codegen, zero Python, zero shuffle.

    Output: (id..., n_vertices INT, total_len_micro BIGINT, px_micro
    BIGINT, py_micro BIGINT).
    """
    ids = list(id_cols) if id_cols else []
    line = F.col(line_col)
    n = F.size(line)
    frac = F.greatest(F.lit(0.0),
                      F.least(F.lit(1.0),
                              F.col(frac_col).cast("double")))
    m = F.greatest(n - 1, F.lit(0))
    starts = F.slice(line, 1, m)
    ends = F.slice(line, 2, m)
    segs = F.zip_with(
        starts, ends,
        lambda p, q: F.struct(
            p["x"].alias("x0"), p["y"].alias("y0"),
            q["x"].alias("x1"), q["y"].alias("y1"),
            F.floor(F.sqrt((q["x"] - p["x"]) * (q["x"] - p["x"])
                           + (q["y"] - p["y"]) * (q["y"] - p["y"]))
                    * F.lit(1e6) + F.lit(0.5)).alias("lm")))
    total = F.aggregate(
        segs, F.lit(0).cast("long"), lambda acc, s: acc + s["lm"])
    target = F.floor(frac * total.cast("double")).cast("long")
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("px"),
        F.lit(None).cast("double").alias("py"),
        F.lit(False).alias("done"))
    t_expr = lambda acc, s: ((target - acc["cum"]).cast("double")
                             / s["lm"].cast("double"))

    def step(acc, s):
        hit = (~acc["done"] & (s["lm"] > 0)
               & (acc["cum"] + s["lm"] >= target))
        t = t_expr(acc, s)
        return F.struct(
            (acc["cum"] + s["lm"]).alias("cum"),
            F.when(hit, s["x0"] + t * (s["x1"] - s["x0"]))
            .otherwise(acc["px"]).alias("px"),
            F.when(hit, s["y0"] + t * (s["y1"] - s["y0"]))
            .otherwise(acc["py"]).alias("py"),
            (acc["done"] | hit).alias("done"))

    fold = F.aggregate(segs, init, step)
    first = F.get(line, 0)  # NULL-safe on empty lines (ANSI mode)
    px = F.when(fold["done"], fold["px"]).otherwise(first["x"])
    py = F.when(fold["done"], fold["py"]).otherwise(first["y"])
    return lines.select(
        *ids,
        n.cast("int").alias("n_vertices"),
        total.alias("total_len_micro"),
        F.floor(px * F.lit(1e6) + F.lit(0.5)).alias("px_micro"),
        F.floor(py * F.lit(1e6) + F.lit(0.5)).alias("py_micro"))


def discrete_hausdorff(pairs: DataFrame, *, line_a: str = "line_a",
                       line_b: str = "line_b",
                       id_cols: list[str] | None = None) -> DataFrame:
    """Discrete (vertex-sampled) Hausdorff distance for CANDIDATE
    line pairs — the trajectory/shape similarity refine step:
    H = max(h(A,B), h(B,A)), h(A,B) = max over a∈A of min over b∈B
    of dist(a,b), over the vertex sets.

    This operator deliberately takes PRE-PAIRED lines (one row per
    candidate pair, both vertex arrays inline): candidate generation
    is the existing pruning family's job (:func:`bbox_prune_filter` /
    :func:`rect_overlap_join` equi-joins — never all-pairs), and the
    refine is then a pure-Column nested ``transform``/``array_min``/
    ``array_max`` over the pair row — whole-stage codegen, zero
    Python, ZERO shuffle, O(|A|·|B|) per pair (vertex counts are
    small by construction; resample long lines first, e.g.
    :func:`simplify_lines`).

    Determinism: all comparisons happen on EXACT squared-distance
    doubles (products/sums of coordinates — single fixed expression
    per vertex pair; min/max are selections, not accumulations), and
    only the FINAL result takes one sqrt, half-up micro-quantized.
    Empty vertex arrays yield NULL.

    Output: (id..., hausdorff_micro BIGINT).
    """
    ids = list(id_cols) if id_cols else []
    A, B = F.col(line_a), F.col(line_b)

    def h(src, dst):
        return F.array_max(F.transform(
            src, lambda a: F.array_min(F.transform(
                dst, lambda b: (a["x"] - b["x"]) * (a["x"] - b["x"])
                + (a["y"] - b["y"]) * (a["y"] - b["y"])))))

    h2 = F.greatest(h(A, B), h(B, A))
    ok = (F.size(A) > 0) & (F.size(B) > 0)
    return pairs.select(
        *ids,
        F.when(ok, F.floor(F.sqrt(h2) * F.lit(1e6) + F.lit(0.5)))
        .alias("hausdorff_micro"))


def spherical_polygon_area(polys: DataFrame, *, ring_col: str = "ring",
                           id_cols: list[str] | None = None,
                           radius_m: float = EARTH_RADIUS_M) -> DataFrame:
    """Spherical polygon area in m² — the geodesic correction to
    :func:`ring_audit`'s planar shoelace (degrees² lie badly off the
    equator; a 1°×1° cell at 60°N is half its equatorial area): the
    standard spherical-trapezoid accumulation

        area = R² · |Σᵢ (λ_{i+1} − λᵢ) · (2 + sin φᵢ + sin φ_{i+1})| / 2

    with λ, φ in radians and the closing edge implied when the ring
    is open (same closure rule as :func:`ring_audit`).  Longitude
    differences are wrapped to (−π, π] so rings crossing the
    antimeridian accumulate correctly; polar-cap rings (enclosing a
    pole) are NOT handled — split them first.

    ``ring_col`` is ARRAY<STRUCT<x: double, y: double>> (lon, lat
    degrees).  The family libm caveat applies (sin is
    correctly-rounded-ish, not bitwise-pinned across libms), so the
    result is half-up-quantized to WHOLE m² — the
    :func:`haversine_m` rule — and the accumulation is kept
    association-safe by quantizing each trapezoid term to 1e-12
    steradian MICRO-units first (exact BIGINT sum, same spelling as
    :func:`line_interpolate`'s micro-lengths).

    Pure-Column zip_with/aggregate, zero shuffle. Rings with < 3
    distinct vertices yield area 0.

    Output: (id..., n_vertices INT, area_m2 BIGINT).
    """
    import math as _math
    ids = list(id_cols) if id_cols else []
    k = _math.pi / 180.0
    ring = F.col(ring_col)
    n = F.size(ring)
    lam = F.transform(ring, lambda v: v["x"] * F.lit(k))
    phi = F.transform(ring, lambda v: v["y"] * F.lit(k))
    closed = ((n >= 2)
              & (F.get(lam, 0) == F.get(lam, n - 1))
              & (F.get(phi, 0) == F.get(phi, n - 1)))
    m_body = F.when(closed, n - 1).otherwise(n)
    body_l = F.slice(lam, 1, F.greatest(m_body, F.lit(0)))
    body_p = F.slice(phi, 1, F.greatest(m_body, F.lit(0)))
    m = F.size(body_l)
    rot_l = F.when(m > 1, F.concat(F.slice(body_l, 2, m - 1),
                                   F.slice(body_l, 1, 1))) \
        .otherwise(body_l)
    rot_p = F.when(m > 1, F.concat(F.slice(body_p, 2, m - 1),
                                   F.slice(body_p, 1, 1))) \
        .otherwise(body_p)
    two_pi = F.lit(2.0 * _math.pi)
    pi = F.lit(_math.pi)

    def dlon(l2, l1):
        d = l2 - l1
        # wrap to (-pi, pi]: d - 2pi*floor((d + pi) / (2pi))
        return d - two_pi * F.floor((d + pi) / two_pi)

    dl = F.zip_with(body_l, rot_l, lambda a, b: dlon(b, a))
    sp = F.zip_with(body_p, rot_p,
                    lambda a, b: F.lit(2.0) + F.sin(a) + F.sin(b))
    # quantize each trapezoid term to 1e-12 sr -> exact BIGINT sum
    terms = F.zip_with(dl, sp, lambda a, b: F.floor(
        a * b * F.lit(1e12) + F.lit(0.5)))
    acc = F.aggregate(terms, F.lit(0).cast("long"),
                      lambda acc, v: acc + v)
    area = (F.abs(acc).cast("double") / F.lit(1e12) / F.lit(2.0)
            * F.lit(float(radius_m)) * F.lit(float(radius_m)))
    return polys.select(
        *ids,
        n.cast("int").alias("n_vertices"),
        F.floor(area + F.lit(0.5)).alias("area_m2"))


def hex_encode(x, y, *, size: float):
    """Axial hex-cell coordinates (pointy-top) for a planar point as
    a pair of pure Columns — the hexagonal alternative to the square
    :func:`~kml2geojson_spark.spatial.cells.cell_encode` grid (hexes
    have uniform neighbor distance, the standard choice for density
    maps and movement models). ``size`` is the hex circumradius in
    input units.

    Fractional axial coords ``q = (√3/3·x − y/3)/size``,
    ``r = (2y/3)/size`` are cube-rounded: round q, r, s = −q−r
    independently, then recompute the component with the LARGEST
    rounding error from the other two (the constraint q+r+s = 0
    picks the nearest hex center).

    Determinism: a fixed tree of IEEE arithmetic plus half-away-
    from-zero ROUND — both engines round doubles identically, and
    the error comparison uses the same subtraction order, so the
    cell assignment is bit-exact cross-engine except for points
    EXACTLY on a hex boundary whose fractional coords differ in the
    last ulp — the same caveat as every float grid encoder, avoided
    in oracles by the shared-formula discipline.

    Returns (hq Column<long>, hr Column<long>).
    """
    import math as _math
    if size <= 0:
        raise ValueError("size must be > 0")
    fq = (F.lit(_math.sqrt(3.0) / 3.0) * x - y / F.lit(3.0)) \
        / F.lit(float(size))
    fr = (F.lit(2.0 / 3.0) * y) / F.lit(float(size))
    fs = -fq - fr
    rq = F.round(fq, 0)
    rr = F.round(fr, 0)
    rs = F.round(fs, 0)
    dq = F.abs(rq - fq)
    dr = F.abs(rr - fr)
    ds = F.abs(rs - fs)
    hq = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    hr = F.when((dq > dr) & (dq > ds), rr) \
        .when(dr > ds, -rq - rs).otherwise(rr)
    return hq.cast("long"), hr.cast("long")


def hex_bin(points: DataFrame, *, x_col: str = "x", y_col: str = "y",
            size: float) -> DataFrame:
    """Hexagonal density binning: assign every point to its
    pointy-top hex cell (:func:`hex_encode`) and count per cell —
    the hex twin of the square-cell ``cell_counts`` rollup.

    Scale shape: pure whole-stage-codegen arithmetic then ONE
    hash-aggregate with map-side combine — no window, no join;
    identical to the square grid path, so everything built on cell
    counts (smoothing, top-k, merge) composes.

    Output: (hq BIGINT, hr BIGINT, n BIGINT).
    """
    hq, hr = hex_encode(F.col(x_col), F.col(y_col), size=size)
    return (points.where(F.col(x_col).isNotNull()
                         & F.col(y_col).isNotNull())
            .select(hq.alias("hq"), hr.alias("hr"))
            .groupBy("hq", "hr")
            .agg(F.count(F.lit(1)).alias("n")))


def hex_smooth(cells: DataFrame, *, radius: int = 1,
               hq_col: str = "hq", hr_col: str = "hr",
               n_col: str = "n") -> DataFrame:
    """Box-kernel k-ring smoothing of a :func:`hex_bin` raster — the
    hexagonal twin of :func:`cell_smooth`: every hex scatters its
    count to each hex within axial-ring distance ``radius`` (itself
    included; the radius-r hex ring is the (dq, dr) set with
    |dq| ≤ r, |dr| ≤ r, |dq + dr| ≤ r — 1 + 3r(r+1) cells), and the
    output carries the summed value over the dilated support. Unlike
    the quadtree grid there is no wrap/clamp: axial coords are
    unbounded.

    Scale shape: literal offset explode (all whole-stage codegen,
    zero Python) then ONE ``groupBy(hq, hr)`` hash aggregate with
    map-side combine — no join, the :func:`cell_smooth` shape
    exactly.

    Output: (hq BIGINT, hr BIGINT, smoothed BIGINT).
    """
    if radius < 0:
        raise ValueError("radius must be >= 0")
    offs = F.array(*[F.struct(F.lit(dq).alias("dq"),
                              F.lit(dr).alias("dr"))
                     for dq in range(-radius, radius + 1)
                     for dr in range(-radius, radius + 1)
                     if abs(dq + dr) <= radius])
    d = (cells.select(F.col(hq_col).alias("_q"),
                      F.col(hr_col).alias("_r"),
                      F.col(n_col).alias("_n"))
         .withColumn("_o", F.explode(offs)))
    return (d.groupBy((F.col("_q") + F.col("_o.dq")).alias("hq"),
                      (F.col("_r") + F.col("_o.dr")).alias("hr"))
            .agg(F.sum("_n").alias("smoothed")))


def track_distances(lat1, lon1, lat2, lon2, plat, plon,
                    radius_m: float = EARTH_RADIUS_M):
    """Cross-track and along-track great-circle distances from a
    point to the path lat1/lon1 → lat2/lon2, as a pair of pure
    Columns — the "how far off-route, and how far along it" pair
    that completes :func:`haversine_m` (how far) and
    :func:`bearing_deg` (which way): map-matching residuals,
    corridor filters, progress-along-route.

    Standard spherical formulas: with the angular distance
    δ₁₃ (haversine tree) and initial bearings θ₁₃, θ₁₂ (atan2
    trees), ``xt = asin(sin δ₁₃ · sin(θ₁₃ − θ₁₂))·R`` (signed:
    NEGATIVE left of the path, positive right — the aviation
    formulary convention) and
    ``at = acos(clamp(cos δ₁₃ / cos(xt/R)))·R`` (unsigned distance
    from the start to the point's projection).

    Same determinism note as the rest of the family: trig routes
    through libm, so cross-engine comparisons quantize to integer
    meters (the :func:`haversine_m` oracle discipline); within one
    engine the pair is a pure function of its inputs.

    Returns (xt_m Column<double>, at_m Column<double>).
    """
    import math as _math
    k = _math.pi / 180.0
    s1 = F.sin((plat - lat1) * F.lit(k) / F.lit(2.0))
    s2 = F.sin((plon - lon1) * F.lit(k) / F.lit(2.0))
    a = (s1 * s1
         + F.cos(lat1 * F.lit(k)) * F.cos(plat * F.lit(k)) * s2 * s2)
    d13 = F.lit(2.0) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
    t13 = F.atan2(
        F.sin((plon - lon1) * F.lit(k)) * F.cos(plat * F.lit(k)),
        F.cos(lat1 * F.lit(k)) * F.sin(plat * F.lit(k))
        - F.sin(lat1 * F.lit(k)) * F.cos(plat * F.lit(k))
        * F.cos((plon - lon1) * F.lit(k)))
    t12 = F.atan2(
        F.sin((lon2 - lon1) * F.lit(k)) * F.cos(lat2 * F.lit(k)),
        F.cos(lat1 * F.lit(k)) * F.sin(lat2 * F.lit(k))
        - F.sin(lat1 * F.lit(k)) * F.cos(lat2 * F.lit(k))
        * F.cos((lon2 - lon1) * F.lit(k)))
    xt_rad = F.asin(F.sin(d13) * F.sin(t13 - t12))
    cosxt = F.cos(xt_rad)
    ratio = F.greatest(F.least(F.cos(d13) / cosxt, F.lit(1.0)),
                       F.lit(-1.0))
    at_rad = F.acos(ratio)
    r = F.lit(float(radius_m))
    return xt_rad * r, at_rad * r


def track_distances_sql(lat1: str, lon1: str, lat2: str, lon2: str,
                        plat: str, plon: str,
                        radius_m: float = EARTH_RADIUS_M) \
        -> tuple[str, str]:
    """The ANSI-SQL replay of :func:`track_distances` — the same
    literals in the same evaluation order, for DuckDB oracles.
    Returns (xt_expr, at_expr)."""
    import math as _math
    k = repr(_math.pi / 180.0)
    s1 = f"SIN((({plat}) - ({lat1})) * {k} / 2.0)"
    s2 = f"SIN((({plon}) - ({lon1})) * {k} / 2.0)"
    a = (f"({s1} * {s1} + COS(({lat1}) * {k}) * COS(({plat}) * {k})"
         f" * {s2} * {s2})")
    d13 = f"(2.0 * ASIN(SQRT(LEAST({a}, 1.0))))"
    t13 = (f"ATAN2(SIN((({plon}) - ({lon1})) * {k})"
           f" * COS(({plat}) * {k}),"
           f" COS(({lat1}) * {k}) * SIN(({plat}) * {k})"
           f" - SIN(({lat1}) * {k}) * COS(({plat}) * {k})"
           f" * COS((({plon}) - ({lon1})) * {k}))")
    t12 = (f"ATAN2(SIN((({lon2}) - ({lon1})) * {k})"
           f" * COS(({lat2}) * {k}),"
           f" COS(({lat1}) * {k}) * SIN(({lat2}) * {k})"
           f" - SIN(({lat1}) * {k}) * COS(({lat2}) * {k})"
           f" * COS((({lon2}) - ({lon1})) * {k}))")
    xt_rad = f"ASIN(SIN({d13}) * SIN({t13} - {t12}))"
    ratio = (f"GREATEST(LEAST(COS({d13}) / COS({xt_rad}), 1.0),"
             f" -1.0)")
    r = repr(float(radius_m))
    return f"({xt_rad} * {r})", f"(ACOS({ratio}) * {r})"


def raster_peaks(cells: DataFrame, *, x_col: str = "cx",
                 y_col: str = "cy", n_col: str = "n") -> DataFrame:
    """Local maxima of an integer cell raster — the peaks of a
    density surface (hotspot CENTERS, where :func:`grid_cluster`
    gives hotspot EXTENTS): a cell is a peak iff its count strictly
    exceeds all eight neighbors' counts (absent neighbor = 0, so an
    isolated occupied cell is a peak; plateau cells are NOT peaks —
    the strict inequality is the documented tie rule).

    Determinism: exact integer counts and comparisons — bit-exact
    cross-engine.

    Scale shape: the non-max-suppression classic re-shaped for
    shuffle economy — every cell SCATTERS its count to its eight
    neighbors (literal offset explode, whole-stage codegen), one
    hash-aggregate takes the neighbor max per cell, one equi-join
    back on the cell key. No window over the raster, no self-join
    on inequality ranges.

    Output: (cx, cy, n, nbr_max BIGINT) — peak cells only.
    """
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                              F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                     if not (dx == 0 and dy == 0)])
    base = cells.select(F.col(x_col).cast("long").alias("cx"),
                        F.col(y_col).cast("long").alias("cy"),
                        F.col(n_col).cast("long").alias("n"))
    nbr = (base.withColumn("_o", F.explode(offs))
           .groupBy((F.col("cx") + F.col("_o.dx")).alias("cx"),
                    (F.col("cy") + F.col("_o.dy")).alias("cy"))
           .agg(F.max("n").alias("nbr_max")))
    j = base.join(nbr, ["cx", "cy"], "left")
    return (j.withColumn("nbr_max",
                         F.coalesce(F.col("nbr_max"),
                                    F.lit(0).cast("long")))
            .where((F.col("n") > 0) & (F.col("n") > F.col("nbr_max"))))
