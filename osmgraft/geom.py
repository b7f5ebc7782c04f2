"""Geometry kernels: vectorized ray-casting point-in-polygon, the polygon
cover that turns it into a join condition, and haversine. (The exact
wrap-aware planar metric of kNN and its cell grid live in functions/cells.py.)

All coordinates are fixed-point int (lat7/lon7 = degrees × 1e7 — osmio
lib.rs:66-71). PIP arithmetic runs in float64 on the raw fixed-point values
(ints < 2^31 are exact in float64); every operation is an IEEE-754 primitive,
so the numpy kernel, the Spark expression form, and the DuckDB oracle SQL
produce bit-identical booleans (same expression shape everywhere):

    crosses = ((y1 > y) != (y2 > y)) AND (x < (x2-x1)*(y-y1)/(y2-y1) + x1)
    inside  = parity(sum crosses) == odd        # even-odd rule; holes free

(the classic PNPOLY formulation, W. R. Franklin, public algorithm.)
"""

from __future__ import annotations

import numpy as np

from osmgraft.functions.coords import LON_MAX7, LON_SPAN


# --- point-in-polygon ----------------------------------------------------------
def ring_edges(ring: list[tuple[int, int]]) -> np.ndarray:
    """ring: closed list of (lat7, lon7). Returns (E, 4) float64 [y1,x1,y2,x2]."""
    r = np.asarray(ring, dtype=np.float64)
    return np.stack([r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]], axis=1)


def polygon_edges(poly: dict) -> np.ndarray:
    """Outer ring + holes concatenated — even-odd parity handles holes."""
    parts = [ring_edges(poly["ring"])] + [ring_edges(h) for h in poly.get("holes", [])]
    return np.concatenate(parts, axis=0)


def pnpoly(lat7: np.ndarray, lon7: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Vectorized even-odd test: points (N,), edges (E,4) → bool (N,)."""
    y = lat7.astype(np.float64)[:, None]  # (N,1)
    x = lon7.astype(np.float64)[:, None]
    y1, x1, y2, x2 = edges[:, 0][None, :], edges[:, 1][None, :], edges[:, 2][None, :], edges[:, 3][None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        straddles = (y1 > y) != (y2 > y)
        xcross = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        crosses = straddles & (x < xcross)
    return (crosses.sum(axis=1) % 2).astype(bool)


def sql_pip_predicate(polys: list[dict]) -> str:
    """DuckDB SQL computing (point_id, boundary_id) pairs for points CTE ``pts``
    (point_id, lat7, lon7) — same arithmetic as :func:`pnpoly`."""
    rows = []
    for p in polys:
        for edges in [p["ring"], *p.get("holes", [])]:
            for (y1, x1), (y2, x2) in zip(edges[:-1], edges[1:]):
                rows.append(f"({p['boundary_id']},{float(y1)!r},{float(x1)!r},{float(y2)!r},{float(x2)!r})")
    values = ",\n    ".join(rows)
    return f"""
edges(boundary_id, y1, x1, y2, x2) AS (VALUES
    {values}),
crossings AS (
  SELECT p.point_id, e.boundary_id,
    CASE WHEN ((e.y1 > CAST(p.lat7 AS DOUBLE)) <> (e.y2 > CAST(p.lat7 AS DOUBLE)))
      AND (CAST(p.lon7 AS DOUBLE) <
           (e.x2 - e.x1) * (CAST(p.lat7 AS DOUBLE) - e.y1) / (e.y2 - e.y1) + e.x1)
    THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e),
pip AS (
  SELECT point_id, boundary_id FROM crossings
  GROUP BY point_id, boundary_id HAVING sum(c) % 2 = 1)
""".strip()


def polygon_bbox(poly: dict) -> tuple[float, float, float, float]:
    r = np.asarray(poly["ring"], dtype=np.float64)
    return (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())


def polygon_bbox_wrapped(poly: dict) -> tuple[int, int, int, int, bool]:
    """(lat_min, lon_west, lat_max, lon_east, wrapped) with antimeridian
    awareness: a ring hop of |Δlon| > 180° between consecutive vertices means
    the polygon crosses ±180° (Fiji/Chukotka case). For wrapped rings the
    west/east edges are computed in shifted [0,360) space then mapped back,
    so lon_west > lon_east signals the wrap to callers."""
    r = np.asarray(poly["ring"], dtype=np.int64)
    lat_min, lat_max = int(r[:, 0].min()), int(r[:, 0].max())
    lon = r[:, 1]
    wrapped = bool((np.abs(np.diff(lon)) > LON_MAX7).any())
    if not wrapped:
        return lat_min, int(lon.min()), lat_max, int(lon.max()), False
    shifted = np.where(lon < 0, lon + LON_SPAN, lon)
    west_s, east_s = int(shifted.min()), int(shifted.max())
    to_signed = lambda v: v - LON_SPAN if v >= LON_MAX7 else v
    return lat_min, to_signed(west_s), lat_max, to_signed(east_s), True


# --- distances -------------------------------------------------------------------
EARTH_RADIUS_M = 6_371_008.8


def np_haversine_m(lat7a, lon7a, lat7b, lon7b) -> np.ndarray:
    la, lb = np.radians(lat7a / 1e7), np.radians(lat7b / 1e7)
    dla = lb - la
    dlo = np.radians((lon7b - lon7a) / 1e7)
    h = np.sin(dla / 2) ** 2 + np.cos(la) * np.cos(lb) * np.sin(dlo / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))


def haversine_m_col(a_lat, a_lon, b_lat, b_lon):
    """Great-circle distance in INTEGER METERS as a JVM Column expression —
    identical expression shape to :func:`sql_haversine_m_int`, so
    per-segment values are cross-engine stable (meter rounding sits ~6
    orders above last-ulp trig divergence between JVM Math and libm at
    1000-km scales — micrometer rounding measurably flaked), and integer
    per-segment rounding makes downstream SUMS associative (order-free: the
    bitwise parallelism-invariance property float sums can't give)."""
    from pyspark.sql import functions as F

    la = F.radians(a_lat.cast("double") / 1e7)
    lb = F.radians(b_lat.cast("double") / 1e7)
    dla = lb - la
    dlo = F.radians((b_lon.cast("double") - a_lon.cast("double")) / 1e7)
    h = F.pow(F.sin(dla / 2), 2) + F.cos(la) * F.cos(lb) * F.pow(F.sin(dlo / 2), 2)
    m = 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(h))
    return F.floor(m + 0.5).cast("long")


def sql_haversine_m_int(a_lat: str, a_lon: str, b_lat: str, b_lon: str) -> str:
    """DuckDB twin of :func:`haversine_m_col` (same op order)."""
    la = f"radians(CAST(({a_lat}) AS DOUBLE) / 1e7)"
    lb = f"radians(CAST(({b_lat}) AS DOUBLE) / 1e7)"
    dlo = f"radians((CAST(({b_lon}) AS DOUBLE) - CAST(({a_lon}) AS DOUBLE)) / 1e7)"
    h = (
        f"pow(sin(({lb} - {la}) / 2), 2) + "
        f"cos({la}) * cos({lb}) * pow(sin({dlo} / 2), 2)"
    )
    return f"CAST(floor(2.0 * {EARTH_RADIUS_M} * asin(sqrt({h})) + 0.5) AS BIGINT)"


def pnpoly_int(lat7: np.ndarray, lon7: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """DIVISION-FREE exact-integer even-odd test — same crossing semantics
    as :func:`pnpoly` but the "ray crosses left of intersection" comparison
    is an integer cross-product sign instead of a float divide:

      x < x1 + (x2-x1)(y-y1)/(y2-y1)
        ⟺  isLeft = (x2-x1)(y-y1) − (x-x1)(y2-y1)  has the sign of (y2-y1)

    Every product fits int64 (|Δx| ≤ 3.6e9 × |Δy| ≤ 1.8e9 < 2^63), so the
    test is EXACT at any coordinate — no ULP behavior on knife-edge points,
    the arithmetic-model hardening twin of the float kernel (both gated
    against one oracle)."""
    y = lat7.astype(np.int64)[:, None]
    x = lon7.astype(np.int64)[:, None]
    ie = edges.astype(np.int64)
    y1, x1, y2, x2 = ie[:, 0][None, :], ie[:, 1][None, :], ie[:, 2][None, :], ie[:, 3][None, :]
    straddles = (y1 > y) != (y2 > y)
    is_left = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
    crosses = straddles & np.where(y2 > y1, is_left > 0, is_left < 0)
    return (crosses.sum(axis=1) % 2).astype(bool)


# --- polygon cover: the even-odd test as cover rows ---------------------------
COVER_MARGIN = 2.0  # fixed-point units an edge's longitude extent is widened by
COVER_CAP = 4  # most edges a boundary row carries before its strip is halved


def polygon_cover(polys: list[dict], cell_size: int, integer: bool = False):
    """Cover rows that decide :func:`pnpoly` (``integer``: :func:`pnpoly_int`,
    whose truncated edges the cover then uses) for every point and polygon.

    Each polygon is cut into latitude strips of ``cell_size``. In a strip, the
    longitude extents of the edges meeting it, clipped to it and widened by
    COVER_MARGIN, merge into *boundary* ranges; the *gaps* between them hold no
    edge, so a gap is inside or outside as a whole, and the kernel at its
    centre says which. A strip whose range holds more than COVER_CAP edges is
    halved inside that range, down to one unit of latitude, for as long as
    halving sheds edges (vertical teeth spanning a strip would otherwise
    double its rows at every halving). Rows:

    * *interior*: an inside gap (``inside`` true, no edges);
    * *boundary*: a range, with the status east of it in ``inside`` and its
      edges; a point in it is inside iff that status flips an odd number of
      times, once per edge its ray crosses.

    Outside gaps have no rows. Returns ``(rows, edges)``: ``rows`` maps
    ``poly`` (index into ``polys``), ``cell`` (the ``cells.grid_cell`` key of
    ``cell_size``), ``ylo``, ``yhi``, ``xlo``, ``xhi`` (the half-open ranges),
    ``inside`` and ``interior`` to arrays with one entry per row and grid cell
    it spans; ``edges`` is (entries, width, 4) [y1, x1, y2, x2], padded with
    horizontal edges, which cross nothing."""
    test = pnpoly_int if integer else pnpoly
    g = float(cell_size)
    ncl = LON_SPAN // cell_size
    poly_edges = [polygon_edges(p) for p in polys]
    e = np.concatenate([np.trunc(pe) if integer else pe for pe in poly_edges] or [np.zeros((0, 4))])
    e_poly = np.repeat(np.arange(len(polys)), [len(pe) for pe in poly_edges])
    ymin, ymax = np.minimum(e[:, 0], e[:, 2]), np.maximum(e[:, 0], e[:, 2])
    # A horizontal edge crosses no ray, so no row carries it, but it bounds
    # the ranges like any other edge: a gap must hold no boundary point.
    slanted = ymin != ymax

    def meets(pe, ylo, yhi):
        """Edge pe has a point in the strip [ylo, yhi)."""
        return (ymin[pe] < yhi) & ((ymax[pe] > ylo) | (ymin[pe] >= ylo))

    # (edge, strip) pairs of the first level: every cell_size band an edge meets
    b_lo = ymin // g
    b_hi = np.maximum(b_lo, -(-ymax // g) - 1)
    pe = np.repeat(np.arange(len(e)), (b_hi - b_lo + 1).astype(np.int64))
    band = b_lo[pe] + _ranks(pe)
    reg, pr = np.unique(np.stack([e_poly[pe], band], axis=1), axis=0, return_inverse=True)
    pr = pr.reshape(-1)
    r_poly, r_ylo = reg[:, 0].astype(np.int64), reg[:, 1] * g
    r_yhi = r_ylo + g
    r_xlo, r_xhi = np.full(len(reg), -np.inf), np.full(len(reg), np.inf)
    r_east = np.zeros(len(reg), dtype=bool)
    r_n = np.full(len(reg), np.inf)  # edges of the range a strip was halved in

    def status(reg_i: np.ndarray, x: np.ndarray) -> np.ndarray:
        """The kernel at (strip centre, x) of regions ``reg_i``."""
        y, poly = np.floor((r_ylo + r_yhi) / 2)[reg_i], r_poly[reg_i]
        out = np.zeros(len(x), dtype=bool)
        for p in np.unique(poly):
            sel = poly == p
            out[sel] = test(y[sel], np.floor(x[sel]), poly_edges[p])
        return out

    rows: list[tuple] = []  # (poly, ylo, yhi, xlo, xhi, inside, interior) per batch
    slots: list[tuple] = []  # (row, slot, edge) arrays per batch of boundary rows
    nrows = 0

    def emit(reg_i, xlo, xhi, inside, row_pairs=None):
        nonlocal nrows
        interior = np.full(len(reg_i), row_pairs is None)
        rows.append((r_poly[reg_i], r_ylo[reg_i], r_yhi[reg_i], xlo, xhi, inside, interior))
        if row_pairs is not None:
            slots.append((row_pairs[0] + nrows, row_pairs[1], row_pairs[2]))
        nrows += len(reg_i)

    while len(r_poly):
        # clipped, widened extents; pairs sorted by region, then west end
        y1, x1, y2, x2 = e[pe].T
        with np.errstate(divide="ignore", invalid="ignore"):
            xa = x1 + (x2 - x1) * (np.maximum(ymin[pe], r_ylo[pr]) - y1) / (y2 - y1)
            xb = x1 + (x2 - x1) * (np.minimum(ymax[pe], r_yhi[pr]) - y1) / (y2 - y1)
        xa, xb = np.where(slanted[pe], xa, x1), np.where(slanted[pe], xb, x2)
        lo, hi = np.minimum(xa, xb) - COVER_MARGIN, np.maximum(xa, xb) + COVER_MARGIN
        order = np.lexsort((lo, pr))
        pr, pe, lo, hi = pr[order], pe[order], lo[order], hi[order]
        # a range starts where a pair's west end passes every east end before it
        # in its region (running max over region-major ranks of hi)
        by_hi = np.argsort(hi, kind="stable")
        rank = np.empty(len(hi), dtype=np.int64)
        rank[by_hi] = np.arange(len(hi))
        run_hi = hi[by_hi][np.maximum.accumulate(pr * len(hi) + rank) - pr * len(hi)]
        new = np.ones(len(pr), dtype=bool)
        new[1:] = (pr[1:] != pr[:-1]) | (lo[1:] > run_hi[:-1])
        first = np.flatnonzero(new)
        iv = np.cumsum(new) - 1
        i_reg, i_lo = pr[first], lo[first]
        i_hi = np.maximum.reduceat(hi, first) if len(first) else hi
        i_n = np.add.reduceat(slanted[pe].astype(np.int64), first) if len(first) else first
        # the status east of each range: the next gap's, or the region's own
        last = np.ones(len(i_reg), dtype=bool)
        last[:-1] = i_reg[1:] != i_reg[:-1]
        gap_hi = np.where(last, r_xhi[i_reg], np.roll(i_lo, -1))
        east = r_east[i_reg].copy()
        east[~last] = status(i_reg[~last], (i_hi[~last] + gap_hi[~last]) / 2)
        # a gap west of a halved strip's first range (a first level's is outside)
        lead = np.ones(len(i_reg), dtype=bool)
        lead[1:] = last[:-1]
        lead &= np.isfinite(r_xlo[i_reg]) & (i_lo > r_xlo[i_reg])
        lead_reg = i_reg[lead]
        lead_in = status(lead_reg, (r_xlo[lead_reg] + i_lo[lead]) / 2)
        bare = np.setdiff1d(np.arange(len(r_poly)), i_reg)  # regions with no edge
        bare = bare[r_east[bare]]

        gaps = east & (i_hi < gap_hi)
        emit(i_reg[gaps], i_hi[gaps], gap_hi[gaps], np.ones(gaps.sum(), dtype=bool))
        emit(lead_reg[lead_in], r_xlo[lead_reg[lead_in]], i_lo[lead][lead_in],
             np.ones(lead_in.sum(), dtype=bool))
        emit(bare, r_xlo[bare], r_xhi[bare], np.ones(len(bare), dtype=bool))
        fit = (i_n <= COVER_CAP) | ((r_yhi - r_ylo)[i_reg] <= 1) | (i_n >= r_n[i_reg])
        row_of = np.cumsum(fit) - 1
        on = fit[iv] & slanted[pe]
        emit(i_reg[fit], i_lo[fit], i_hi[fit], east[fit], (row_of[iv[on]], _ranks(iv[on]), pe[on]))

        # halve the strip of every range holding too many edges, inside it
        big = np.flatnonzero(~fit)
        child = np.full(len(i_reg), -1)
        child[big] = np.arange(len(big))
        ylo, yhi = r_ylo[i_reg[big]], r_yhi[i_reg[big]]
        mid = np.floor((ylo + yhi) / 2)
        r_ylo = np.stack([ylo, mid], axis=1).reshape(-1)
        r_yhi = np.stack([mid, yhi], axis=1).reshape(-1)
        r_poly = np.repeat(r_poly[i_reg[big]], 2)
        r_xlo, r_xhi = np.repeat(i_lo[big], 2), np.repeat(i_hi[big], 2)
        r_east, r_n = np.repeat(east[big], 2), np.repeat(i_n[big], 2)
        sel = child[iv] >= 0
        pr = np.concatenate([2 * child[iv[sel]], 2 * child[iv[sel]] + 1])
        pe = np.concatenate([pe[sel], pe[sel]])
        keep = meets(pe, r_ylo[pr], r_yhi[pr])
        pr, pe = pr[keep], pe[keep]

    poly, ylo, yhi, xlo, xhi, inside, interior = (
        (np.concatenate(c) for c in zip(*rows)) if rows else [np.zeros(0)] * 7)
    row, slot, edge = (np.concatenate(c) for c in zip(*slots)) if slots else ([np.zeros(0, int)] * 3)
    edges = np.zeros((nrows, int(slot.max()) + 1 if len(slot) else 0, 4))
    edges[row, slot] = e[edge]
    # one entry per grid cell a row spans (never two of one wrapped cell)
    c_lo = xlo // g
    span = np.minimum(-(-xhi // g) - c_lo, ncl).astype(np.int64)
    at = np.repeat(np.arange(nrows), span)
    cell = (ylo[at] // g) * ncl + (c_lo[at] + _ranks(at)) % ncl
    cols = {"poly": poly.astype(np.int64), "cell": cell.astype(np.int64), "ylo": ylo, "yhi": yhi,
            "xlo": xlo, "xhi": xhi, "inside": inside.astype(bool), "interior": interior.astype(bool)}
    return {k: (v if k == "cell" else v[at]) for k, v in cols.items()}, edges[at]


def _ranks(group: np.ndarray) -> np.ndarray:
    """0, 1, 2, ... within each run of equal values of ``group``."""
    if not len(group):
        return np.zeros(0, dtype=np.int64)
    starts = np.flatnonzero(np.append(True, group[1:] != group[:-1]))
    return np.arange(len(group)) - np.repeat(starts, np.diff(np.append(starts, len(group))))


def sql_spherical_tri_excess(
    p0: tuple[str, str], p1: tuple[str, str], p2: tuple[str, str]
) -> str:
    """Engine-neutral expression text for the SIGNED spherical excess of
    the triangle (p0, p1, p2) — Van Oosterom & Strackee 1983's
    tangent-of-half formula E = 2·atan2(v0·(v1×v2), 1 + v0·v1 + v1·v2 +
    v0·v2) over unit vectors, numerically stable where l'Huilier's
    tan-product blows up near degenerate/antipodal triangles.  Inputs are
    (lat_rad, lon_rad) expression strings; the SAME text runs as a Spark
    `F.expr` and inside the DuckDB twin, so both engines evaluate one IEEE
    expression shape and a km²-granularity round sits ~7 orders above
    cross-library trig ulp noise (the haversine_m_int discipline)."""

    def vec(lat: str, lon: str) -> tuple[str, str, str]:
        return (
            f"cos({lat}) * cos({lon})",
            f"cos({lat}) * sin({lon})",
            f"sin({lat})",
        )

    x0, y0, z0 = vec(*p0)
    x1, y1, z1 = vec(*p1)
    x2, y2, z2 = vec(*p2)

    def dot(a, b):
        return f"(({a[0]})*({b[0]}) + ({a[1]})*({b[1]}) + ({a[2]})*({b[2]}))"

    v0, v1, v2 = (x0, y0, z0), (x1, y1, z1), (x2, y2, z2)
    triple = (
        f"(({x0})*(({y1})*({z2}) - ({z1})*({y2}))"
        f" - ({y0})*(({x1})*({z2}) - ({z1})*({x2}))"
        f" + ({z0})*(({x1})*({y2}) - ({y1})*({x2})))"
    )
    return f"2 * atan2({triple}, 1 + {dot(v0, v1)} + {dot(v1, v2)} + {dot(v0, v2)})"
