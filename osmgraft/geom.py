"""Geometry kernels: vectorized ray-casting point-in-polygon, STR-tree bbox
index and haversine. (The exact wrap-aware planar metric of kNN and its cell
grid live in functions/cells.py.)

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


def pnpoly_pairs(lat7: np.ndarray, lon7: np.ndarray, poly: np.ndarray, edges, test) -> np.ndarray:
    """Even-odd test of candidate (point, polygon) pairs → bool mask (P,).

    lat7/lon7/poly are per-pair arrays; ``edges[g]`` is polygon g's edge
    array and ``test`` the kernel (:func:`pnpoly` or :func:`pnpoly_int`),
    called once per distinct polygon over that polygon's pairs."""
    inside = np.zeros(len(poly), dtype=bool)
    for g in np.unique(poly):
        sel = np.flatnonzero(poly == g)
        inside[sel] = test(lat7[sel], lon7[sel], edges[g])
    return inside


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


# --- STR-tree (sorted-tile-recursive bbox packing; Leutenegger et al. 1997) ----
class STRTree:
    """Static bbox index over polygons, built once on the driver and shipped to
    executors inside the broadcast PIP kernel (SURVEY.md §4 item 2).

    Packing: sort by x-center into vertical slices of ~sqrt(n/cap) tiles, sort
    each slice by y-center, chunk into leaves of ``cap``; build upper levels the
    same way until one root. Query is an iterative stack walk over numpy arrays
    (no Python objects per node beyond level slices).
    """

    def __init__(self, bboxes: np.ndarray, cap: int = 16):
        # bboxes: (n, 4) [ymin, xmin, ymax, xmax] float64
        self.bboxes = np.asarray(bboxes, dtype=np.float64)
        n = len(self.bboxes)
        self.levels: list[tuple[np.ndarray, np.ndarray]] = []  # (boxes, child_index_lists)
        idx = np.arange(n)
        boxes = self.bboxes
        while len(idx) > cap:
            order = self._str_order(boxes)
            idx, boxes = idx[order], boxes[order]
            groups = [np.arange(i, min(i + cap, len(idx))) for i in range(0, len(idx), cap)]
            gboxes = np.array(
                [
                    [boxes[g, 0].min(), boxes[g, 1].min(), boxes[g, 2].max(), boxes[g, 3].max()]
                    for g in groups
                ]
            )
            self.levels.append((boxes.copy(), [idx[g] for g in groups]))
            idx = np.arange(len(groups))
            boxes = gboxes
            # children of level k node i = self.levels[k][1][i] (original ids at k=0)
        self.root_boxes = boxes
        self.root_ids = idx

    @staticmethod
    def _str_order(boxes: np.ndarray) -> np.ndarray:
        cx = (boxes[:, 1] + boxes[:, 3]) / 2
        cy = (boxes[:, 0] + boxes[:, 2]) / 2
        s = max(1, int(np.ceil(np.sqrt(len(boxes) / 16))))
        xr = np.argsort(cx, kind="stable")
        slice_of = np.empty(len(boxes), dtype=np.int64)
        slice_of[xr] = np.arange(len(boxes)) // max(1, len(boxes) // s + 1)
        return np.lexsort((cy, slice_of))

    def query_point_batch(self, lat7: np.ndarray, lon7: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Return (point_row_idx, polygon_idx) candidate pairs by bbox contain."""
        y = lat7.astype(np.float64)
        x = lon7.astype(np.float64)
        if not self.levels:
            # brute bbox test against all polys (root-only tree)
            hit = (
                (y[:, None] >= self.bboxes[None, :, 0])
                & (x[:, None] >= self.bboxes[None, :, 1])
                & (y[:, None] <= self.bboxes[None, :, 2])
                & (x[:, None] <= self.bboxes[None, :, 3])
            )
            pi, gi = np.nonzero(hit)
            return pi, gi
        # walk levels top-down keeping (point, node) frontier
        pi = np.repeat(np.arange(len(y)), len(self.root_ids))
        ni = np.tile(self.root_ids, len(y))
        boxes = self.root_boxes
        for level in range(len(self.levels) - 1, -1, -1):
            keep = (
                (y[pi] >= boxes[ni, 0]) & (x[pi] >= boxes[ni, 1])
                & (y[pi] <= boxes[ni, 2]) & (x[pi] <= boxes[ni, 3])
            )
            pi, ni = pi[keep], ni[keep]
            lboxes, children = self.levels[level]
            new_pi, new_ni = [], []
            for p, nid in zip(pi, ni):
                ch = children[nid]
                new_pi.append(np.full(len(ch), p))
                new_ni.append(ch)
            if not new_pi:
                return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
            pi = np.concatenate(new_pi)
            ni = np.concatenate(new_ni)
            boxes = lboxes if level > 0 else self.bboxes
        keep = (
            (y[pi] >= self.bboxes[ni, 0]) & (x[pi] >= self.bboxes[ni, 1])
            & (y[pi] <= self.bboxes[ni, 2]) & (x[pi] <= self.bboxes[ni, 3])
        )
        return pi[keep], ni[keep]


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
